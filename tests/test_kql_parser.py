"""Parser tests — mirrors the strategy of miso-kql/src/parser_tests.rs:
KQL text → expected plan dataclasses."""

from miso_spark import plan as P
from miso_spark.exprs import Between, Bin, BinOp, Case, Cast, Duration, Exists, Field, In, Lit, Not
from miso_spark.kql import parse_kql


def steps(text):
    return list(parse_kql(text).steps)


def test_scan_and_where():
    s = steps("t.lineitem | where l_quantity > 30")
    assert s[0] == P.Scan("t", "lineitem")
    assert s[1] == P.Filter(BinOp("gt", Field.of("l_quantity"), Lit(30)))


def test_scan_var_and_let():
    s = steps("let big = t.orders | where o_totalprice > 1000; big | count")
    assert isinstance(s[0], P.Let)
    assert s[0].name == "big"
    assert s[1] == P.ScanVar("big")
    assert s[2] == P.CountStep()


def test_project_extend_rename():
    s = steps(
        "t.part | project p_name, double_size = p_size * 2"
        " | extend flag = iff(p_size > 10, 'big', 'small')"
        " | project-rename part_name = p_name"
    )
    proj = s[1]
    assert proj == P.Project(
        (
            P.ProjectField(Field.of("p_name"), "p_name"),
            P.ProjectField(BinOp("mul", Field.of("p_size"), Lit(2)), "double_size"),
        )
    )
    ext = s[2]
    assert ext.fields[0].name == "flag"
    assert isinstance(ext.fields[0].expr, Case)
    assert s[3] == P.Rename((("p_name", "part_name"),))


def test_summarize_default_names():
    s = steps("t.lineitem | summarize count(), sum(l_quantity), avg(l_discount) by l_returnflag")
    summ = s[1]
    names = [n for n, _ in summ.aggs]
    assert names == ["count_", "sum_l_quantity", "avg_l_discount"]
    assert summ.by[0].name == "l_returnflag"


def test_summarize_bin_and_named():
    s = steps("t.events | summarize n = count() by hour = bin(ts, 1h)")
    summ = s[1]
    assert summ.aggs[0][0] == "n"
    assert summ.by[0].name == "hour"
    assert summ.by[0].expr == Bin(Field.of("ts"), Duration(3600.0))


def test_sort_top_take():
    s = steps("t.orders | sort by o_totalprice desc nulls first, o_orderkey | top 5 by o_totalprice desc | take 3")
    assert s[1] == P.SortStep(
        (P.Sort("o_totalprice", "desc", "first"), P.Sort("o_orderkey", "asc", "last"))
    )
    assert s[2] == P.Top((P.Sort("o_totalprice", "desc", "last"),), 5)
    assert s[3] == P.Limit(3)


def test_join_union_distinct():
    s = steps(
        "t.orders"
        " | join kind=left hint.partitions=4 (t.customer | where c_acctbal > 0)"
        " on $left.o_custkey == $right.c_custkey"
        " | union (t.orders | take 1)"
        " | distinct o_orderstatus"
    )
    j = s[1]
    assert j.how == "left" and j.partitions == 4
    assert (j.left_on, j.right_on) == ("o_custkey", "c_custkey")
    assert isinstance(s[2], P.Union)
    # distinct lowers to summarize-by at the frontend
    # (query_to_workflow.rs:146)
    assert s[3].aggs == () and [b.name for b in s[3].by] == ["o_orderstatus"]


def test_join_condition_sides_normalized():
    s = steps("t.orders | join (t.customer) on $right.c_custkey == $left.o_custkey")
    j = s[1]
    assert (j.left_on, j.right_on) == ("o_custkey", "c_custkey")


def test_string_ops_and_in_between():
    s = steps(
        "t.part | where p_name contains 'red' and p_type startswith 'SMALL'"
        " | where p_size between (5 .. 10) or p_size in (1, 2, 3)"
        " | where not(p_brand has 'brand')"
    )
    w1 = s[1].expr
    assert w1 == BinOp(
        "and",
        BinOp("contains", Field.of("p_name"), Lit("red")),
        BinOp("startswith", Field.of("p_type"), Lit("SMALL")),
    )
    w2 = s[2].expr
    assert w2.op == "or"
    assert w2.left == Between(Field.of("p_size"), Lit(5), Lit(10))
    assert w2.right == In(Field.of("p_size"), (Lit(1), Lit(2), Lit(3)))
    assert s[3].expr == Not(BinOp("has", Field.of("p_brand"), Lit("brand")))


def test_casts_and_datetime():
    s = steps("t.events | where ts >= datetime(2024-01-02) | extend v = tolong(value)")
    lit = s[1].expr.right
    assert lit.value.year == 2024 and lit.value.day == 2
    assert s[2].fields[0].expr == Cast("long", Field.of("value"))


def test_parse_error_includes_line_and_column():
    # parser_tests.rs:1157 expects (line 2, column 3) for this shape
    import pytest

    from miso_spark.kql.parser import ParseError

    with pytest.raises(ParseError, match=r"line 2, column 3"):
        steps('t.x | where field1 == "value"\n| invalid_operator field2')


def test_error_recovery_collects_multiple_errors():
    # parser_tests.rs:1237: a broken pipeline reports every bad step,
    # not just the first (our recovery granularity is per step)
    import pytest

    from miso_spark.kql.parser import ParseErrors

    with pytest.raises(ParseErrors) as ei:
        parse_kql(
            "t.x | where | project | limit abc | sort by field1",
        )
    assert len(ei.value.errors) >= 3
    # a valid query parses identically in recovery mode
    a = parse_kql("t.x | where a > 1 | count")
    b = parse_kql("t.x | where a > 1 | count")
    assert a == b


def test_keywords_as_identifiers():
    # parser.rs ident_parser (parser.rs:152-224): keywords double as
    # field names everywhere except and/or/not and bool literals
    s = steps("t.x | where in == 'test'")
    assert s[1] == P.Filter(BinOp("eq", Field.of("in"), Lit("test")))
    s = steps("t.x | where count > 5 and toint(count) >= 2")
    assert s[1].expr.left == BinOp("gt", Field.of("count"), Lit(5))
    assert s[1].expr.right == BinOp("gte", Cast("long", Field.of("count")), Lit(2))
    s = steps("t.x | project sum = a + b | summarize n = count() by count")
    assert s[1].fields[0].name == "sum"
    assert s[2].by[0].expr == Field.of("count")
    # function keyword without call syntax is a field
    s = steps("t.x | where bin > 1")
    assert s[1] == P.Filter(BinOp("gt", Field.of("bin"), Lit(1)))


def test_timespan_long_form_units():
    # lexer.rs:247 long-form unit surface; values mirror the short forms
    cases = {
        "30seconds": 30.0,
        "5minutes": 300.0,
        "2hours": 7200.0,
        "1day": 86400.0,
        "3days": 3 * 86400.0,
        "90sec": 90.0,
        "10mins": 600.0,
        "4hrs": 4 * 3600.0,
        "250millis": 0.25,
        "7microseconds": 7e-6,
        "9nanos": 9e-9,
        "100ticks": 1e-5,
        "1.5h": 5400.0,
    }
    for text, secs in cases.items():
        s = steps(f"t.events | where ts > now() - {text}")
        dur = s[1].expr.right.right
        assert isinstance(dur, Duration) and abs(dur.seconds - secs) < 1e-12, (text, dur)


def test_bare_datetime_literals():
    # lexer.rs:208-227 priority-3 regexes: datetimes without the
    # datetime() wrapper
    from datetime import datetime

    s = steps("t.events | where ts >= 2015-12-31")
    assert s[1].expr.right == Lit(datetime(2015, 12, 31))
    s = steps("t.events | where ts >= 2015-12-31 23:59:59")
    assert s[1].expr.right == Lit(datetime(2015, 12, 31, 23, 59, 59))
    s = steps("t.events | where ts >= 2015-12-31T23:59:59.500Z")
    assert s[1].expr.right == Lit(datetime(2015, 12, 31, 23, 59, 59, 500000))
    s = steps("t.events | where ts >= Thu, 31 Dec 2015 23:59:59 GMT")
    assert s[1].expr.right == Lit(datetime(2015, 12, 31, 23, 59, 59))


def test_bool_case_variants_and_hex():
    # lexer.rs:199-204 True/TRUE/False/FALSE; hex integer literals
    s = steps("t.events | where True or FALSE")
    assert s[1].expr == BinOp("or", Lit(True), Lit(False))
    s = steps("t.events | where value == 0x1F")
    assert s[1].expr.right == Lit(31)


def test_multiline_and_raw_strings():
    # lexer.rs:234-236: triple-backtick/tilde multiline strings (no
    # escape processing), @-raw strings with doubled-quote escapes
    s = steps("t.events | where msg == ```line1\nline2```")
    assert s[1].expr.right == Lit("line1\nline2")
    s = steps("t.events | where msg == ~~~a\\no~~~")
    assert s[1].expr.right == Lit("a\\no")  # raw: backslash kept
    s = steps("""t.events | where msg == @"say ""hi" """)
    assert s[1].expr.right == Lit('say "hi')
    s = steps("t.events | where msg == @'it''s'")
    assert s[1].expr.right == Lit("it's")


def test_cast_parity_with_reference():
    # parser.rs:663-664: ToInt|ToLong → CastType::Int (i64),
    # ToReal|ToDecimal → CastType::Float (f64)
    s = steps(
        "t.events | extend a = toint(value), b = tolong(value),"
        " c = toreal(value), d = todecimal(value)"
    )
    types = [f.expr.type for f in s[1].fields]
    assert types == ["long", "long", "float", "float"]


def test_mv_expand_and_raw():
    s = steps("t.events.raw('SELECT 1 AS one') | mv-expand kind=array tags")
    assert s[0] == P.ScanRaw("t", "events", "SELECT 1 AS one")
    assert s[1] == P.Expand(("tags",), "array")


def test_exists_and_count_step():
    s = steps("t.events | where exists(props) | count")
    assert s[1].expr == Exists(Field.of("props"))
    assert s[2] == P.CountStep()


def test_summarize_naming_reference_edge_cases():
    # unnamed dups: count_, count_1 (parser.rs generate_unique_name)
    s = steps("t.x | summarize count(), count(), sum(f)")
    assert [n for n, _ in s[1].aggs] == ["count_", "count_1", "sum_f"]
    # explicit name claims count_ even when an unnamed count precedes it
    s = steps("t.x | summarize count(), count_ = sum(f)")
    assert [n for n, _ in s[1].aggs] == ["count_1", "count_"]


def test_datetime_literal_formats():
    from miso_spark.exprs import Now

    for text, check in [
        ("datetime(2015-12-31)", lambda v: v.year == 2015 and v.day == 31),
        ("datetime(2015-12-31 23:59:59)", lambda v: v.hour == 23),
        ("datetime(2015-12-31 23:59:59.999)", lambda v: v.microsecond == 999000),
        ("datetime(2015-12-31T23:59:59Z)", lambda v: v.hour == 23),
        ("datetime(2015-12-31T23:59:59+02:00)", lambda v: v.hour == 21),  # UTC-normalized
        ("datetime(Thu, 31 Dec 2015 23:59:59 GMT)", lambda v: v.year == 2015),
    ]:
        lit = steps(f"t.x | where f == {text}")[1].expr.right
        assert check(lit.value), (text, lit)
    # datetime() == now(); datetime(null) == null literal
    assert isinstance(steps("t.x | where f == datetime()")[1].expr.right, Now)
    assert steps("t.x | where f == datetime(null)")[1].expr.right.value is None


def test_invalid_datetime_rejected():
    import pytest
    from miso_spark.kql.parser import ParseError

    for bad in ["datetime(2020-13-01)", "datetime(2020-01-32)", "datetime(invalid)"]:
        with pytest.raises(ParseError):
            steps(f"t.x | where f == {bad}")


def test_precedence_and_negation():
    from miso_spark.exprs import BinOp, Field, Lit

    e = steps("t.x | extend r = f1 + f2 * f3 - f4 / 2")[1].fields[0].expr
    # ((f1 + (f2*f3)) - (f4/2))
    assert e.op == "sub" and e.left.op == "add" and e.left.right.op == "mul" and e.right.op == "div"
    e = steps("t.x | where r == -5 * 2")[1].expr
    assert e.right == BinOp("mul", Lit(-5), Lit(2))
    e = steps("t.x | where (f1 + f2) * f3 == 100")[1].expr
    assert e.left.op == "mul" and e.left.left.op == "add"


def test_project_default_column_names():
    # single-pass naming exactly as parser.rs name_project_fields: the
    # later explicit Column2 collides with the second anon default and
    # is uniqued to Column21
    s = steps("t.x | project f3 + 1, f3 + 1, f3, Column2 = 5, f5")
    names = [f.name for f in s[1].fields]
    assert names == ["Column1", "Column2", "f3", "Column21", "f5"]


def test_string_plus_concat(spark):
    from miso_spark.exprs import BinOp, Field, Lit, compile_expr

    e = steps("t.x | extend label = 'id-' + f1")[1].fields[0].expr
    assert e == BinOp("add", Lit("id-"), Field.of("f1"))
    assert "concat" in str(compile_expr(e)).lower()


def test_summarize_agg_by_name_collision_is_parse_error():
    # r11 (DuckDB-fuzzer find): an aggregation sharing a by key's
    # output name clobbers silently in the reference (BTreeMap output
    # insert) and crashed Spark-side with COLUMN_ALREADY_EXISTS here —
    # a positioned query error beats both
    import pytest

    from miso_spark.kql import parse_kql
    from miso_spark.kql.parser import ParseError

    with pytest.raises(ParseError, match="av"):
        parse_kql("t.c | summarize av = avg(x), n = count() by av")
    # same-named agg and by EXPRESSION alias collide too
    with pytest.raises(ParseError, match="k"):
        parse_kql("t.c | summarize k = count() by k = bin(x, 10)")
    # distinct names stay fine
    parse_kql("t.c | summarize av = avg(x) by g")
