"""Exhaustive port of the reference parser corpus
(miso-kql/src/parser_tests.rs, 1341 lines): every parseable case is
asserted against OUR plan AST, every rejected case must raise here too.

The AST shapes differ where our design differs (we keep a Between node
instead of desugaring to And(Gte, Lte); negative literals fold into the
literal instead of 0-x) — each such divergence is asserted explicitly
with the semantic equivalence it preserves.
"""

from __future__ import annotations

from datetime import datetime as DT

import pytest

from miso_spark import plan as P
from miso_spark.exprs import (
    Between,
    Bin,
    BinOp,
    Case,
    Cast,
    Duration,
    Exists,
    Extract,
    Field,
    In,
    Lit,
    Not,
    Now,
)
from miso_spark.kql import parse_kql
from miso_spark.kql.parser import ParseErrors


def steps(kql: str):
    return parse_kql(kql).steps


def filt(cond: str):
    return steps(f"connector.table | where {cond}")[1].expr


# -- scans (parser_tests.rs:31,49,1295,1315) --------------------------------


def test_simple_scan():
    (s,) = steps("connector.table")
    assert isinstance(s, P.Scan)
    assert (s.connector, s.collection) == ("connector", "table")


def test_scan_with_filter():
    s = steps('connector.table | where field1 == "value"')
    assert isinstance(s[0], P.Scan) and isinstance(s[1], P.Filter)
    e = s[1].expr
    assert isinstance(e, BinOp) and e.op == "eq"
    assert isinstance(e.left, Field) and e.right == Lit("value")


def test_raw_scan():
    (s,) = steps('connector.table.raw("{\\"query\\": {\\"match_all\\": {}}}")')
    assert isinstance(s, P.ScanRaw)
    assert (s.connector, s.collection) == ("connector", "table")
    assert s.query == '{"query": {"match_all": {}}}'


def test_raw_as_field_name():
    s = steps('connector.table | where raw == "foo"')
    assert isinstance(s[0], P.Scan) and not isinstance(s[0], P.ScanRaw)
    assert filt('raw == "foo"').left == Field.of("raw")


# -- filters (parser_tests.rs:83-335) ---------------------------------------


@pytest.mark.parametrize(
    "op_txt,op", [(">", "gt"), ("<", "lt"), (">=", "gte"), ("<=", "lte"), ("!=", "ne")]
)
def test_filter_with_different_operators(op_txt, op):
    e = filt(f"field1 {op_txt} 10")
    assert isinstance(e, BinOp) and e.op == op


def test_filter_with_between_operator():
    # reference desugars to And(Gte, Lte) (parser_tests.rs:101); we keep
    # a Between node with the same inclusive bounds
    e = filt("field1 between (50 .. 55)")
    assert e == Between(Field.of("field1"), Lit(50), Lit(55), negated=False)


def test_filter_with_between_float_range():
    e = filt("temperature between (98.6 .. 102.5)")
    assert e == Between(Field.of("temperature"), Lit(98.6), Lit(102.5), negated=False)


def test_filter_with_between_and_other_conditions():
    e = filt("field1 between (10 .. 20) and field2 == 5")
    assert isinstance(e, BinOp) and e.op == "and"
    assert isinstance(e.left, Between) and isinstance(e.right, BinOp)


def test_filter_with_not_between_operator():
    # reference desugars to Or(Lt, Gt) (parser_tests.rs:164): same
    # exclusive complement as our negated Between
    e = filt("field1 !between (50 .. 55)")
    assert e == Between(Field.of("field1"), Lit(50), Lit(55), negated=True)


@pytest.mark.parametrize("op", ["contains", "startswith", "endswith", "has", "has_cs"])
def test_filter_with_text_operations(op):
    e = filt(f'field1 {op} "test"')
    assert isinstance(e, BinOp) and e.op == op


def test_filter_with_logical_operations():
    e = filt('field1 == "value" and field2 > 10')
    assert e.op == "and" and e.left.op == "eq" and e.right.op == "gt"
    e = filt('field1 == "value" or field2 > 10')
    assert e.op == "or" and e.left.op == "eq" and e.right.op == "gt"


def test_filter_with_in_expression():
    e = filt('field1 in ("a", "b", "c")')
    assert isinstance(e, In) and isinstance(e.expr, Field)
    assert e.items == (Lit("a"), Lit("b"), Lit("c"))


@pytest.mark.parametrize("field", ["field1", "@time"])
def test_filter_with_exists(field):
    e = filt(f"exists({field})")
    assert isinstance(e, Exists) and e.expr == Field.of(field)


def test_filter_with_not():
    e = filt('not(field1 == "value")')
    assert isinstance(e, Not) and isinstance(e.expr, BinOp) and e.expr.op == "eq"


@pytest.mark.parametrize(
    "fn,cast_type",
    [
        # reference CastType::Int covers toint AND tolong (both i64,
        # parser_tests.rs:304) and CastType::Float covers
        # toreal AND todecimal (both f64) — our types mirror that
        ("tostring", "string"),
        ("toint", "long"),
        ("tolong", "long"),
        ("toreal", "float"),
        ("todecimal", "float"),
        ("tobool", "bool"),
    ],
)
def test_filter_with_cast_operations(fn, cast_type):
    rhs = "true" if fn == "tobool" else ('"test"' if fn == "tostring" else "42")
    e = filt(f"{fn}(field1) == {rhs}")
    assert isinstance(e.left, Cast) and e.left.type == cast_type


def test_filter_with_bin_operation():
    e = filt("bin(field1, 10) == 5")
    assert isinstance(e.left, Bin) and e.left.size == Lit(10)


# -- projections (parser_tests.rs:339-390) ----------------------------------


def test_project():
    s = steps("connector.table | project field1, field2 = field3 + 1")[1]
    assert isinstance(s, P.Project) and len(s.fields) == 2
    assert s.fields[0].name == "field1" and isinstance(s.fields[0].expr, Field)
    assert s.fields[1].name == "field2"
    assert isinstance(s.fields[1].expr, BinOp) and s.fields[1].expr.op == "add"


def test_project_unnamed():
    # parser_tests.rs:358: ColumnN autonames; an explicit name that
    # collides with an autoname bumps (Column2 -> Column21)
    s = steps(
        "connector.table | project field3 + 1, field3 + 1, field3, Column2 = 5, field5"
    )[1]
    assert [f.name for f in s.fields] == [
        "Column1",
        "Column2",
        "field3",
        "Column21",
        "field5",
    ]


def test_extend():
    s = steps("connector.table | extend newfield = field1 + field2")[1]
    assert isinstance(s, P.Extend)
    assert s.fields[0].name == "newfield" and s.fields[0].expr.op == "add"


# -- limit / sort / top (parser_tests.rs:393-455) ---------------------------


@pytest.mark.parametrize("kw,n", [("limit 100", 100), ("take 50", 50)])
def test_limit(kw, n):
    s = steps(f"connector.table | {kw}")[1]
    assert isinstance(s, P.Limit) and s.n == n


def test_sort():
    s = steps("connector.table | sort by field1 asc, field2 desc")[1]
    assert isinstance(s, P.SortStep)
    assert [(x.by, x.order) for x in s.sorts] == [("field1", "asc"), ("field2", "desc")]


def test_sort_with_nulls():
    s = steps(
        "connector.table | sort by field1 asc nulls first, field2 desc nulls last"
    )[1]
    assert [x.nulls for x in s.sorts] == ["first", "last"]


def test_top():
    s = steps("connector.table | top 10 by field1 desc")[1]
    assert isinstance(s, P.Top) and s.n == 10
    assert s.sorts[0].by == "field1" and s.sorts[0].order == "desc"


# -- summarize (parser_tests.rs:456-578) ------------------------------------


def test_summarize():
    s = steps(
        "connector.table | summarize cnt = count(), total = sum(field1) by field2"
    )[1]
    assert isinstance(s, P.SummarizeStep)
    aggs = dict(s.aggs)
    assert aggs["cnt"].kind == "count" and aggs["total"].kind == "sum"
    assert len(s.by) == 1 and isinstance(s.by[0].expr, Field)


def test_summarize_with_aliased_by_field():
    s = steps("connector.table | summarize cnt=count() by u=user, src_ip")[1]
    assert [(b.name, b.expr) for b in s.by] == [
        ("u", Field.of("user")),
        ("src_ip", Field.of("src_ip")),
    ]


def test_summarize_unnamed_aggregations():
    s = steps("connector.table | summarize count(), sum(field1), avg(field2)")[1]
    assert [n for n, _ in s.aggs] == ["count_", "sum_field1", "avg_field2"]


def test_summarize_unnamed_aggregations_with_duplicates():
    s = steps("connector.table | summarize count(), count(), sum(field1)")[1]
    assert [n for n, _ in s.aggs] == ["count_", "count_1", "sum_field1"]


def test_summarize_unnamed_with_named_conflicts():
    s = steps("connector.table | summarize count_ = sum(field1), count(), count()")[1]
    assert [n for n, _ in s.aggs] == ["count_", "count_1", "count_2"]


@pytest.mark.parametrize(
    "agg,kind",
    [
        ("count()", "count"),
        ("dcount(field1)", "dcount"),
        ("sum(field1)", "sum"),
        ("min(field1)", "min"),
        ("max(field1)", "max"),
    ],
)
def test_summarize_aggregations(agg, kind):
    s = steps(f"connector.table | summarize result = {agg}")[1]
    assert dict(s.aggs)["result"].kind == kind


# -- distinct / count / union / join (parser_tests.rs:579-673) --------------


def test_distinct():
    # `distinct f1, f2` IS `summarize by f1, f2` — lowered at the
    # frontend like the reference (query_to_workflow.rs:146)
    s = steps("connector.table | distinct field1, field2")[1]
    assert isinstance(s, P.SummarizeStep) and s.aggs == ()
    assert [b.name for b in s.by] == ["field1", "field2"]
    star = steps("connector.table | distinct *")[1]
    assert isinstance(star, P.Distinct) and star.fields == ()


def test_count():
    s = steps("connector.table | count")[1]
    assert isinstance(s, P.CountStep)


def test_union():
    s = steps("connector.table | union (other.table | where field1 > 10)")[1]
    assert isinstance(s, P.Union)
    assert isinstance(s.sub.steps[0], P.Scan) and isinstance(s.sub.steps[1], P.Filter)


@pytest.mark.parametrize(
    "cond,left,right",
    [
        ("$left.field1 == $right.field2", "field1", "field2"),
        ("$right.field1 == $left.field2", "field2", "field1"),
        ("some.field", "some.field", "some.field"),
    ],
)
def test_join(cond, left, right):
    s = steps(f"connector.table | join kind=inner (other.table) on {cond}")[1]
    assert isinstance(s, P.JoinStep)
    assert (s.how, s.partitions) == ("inner", 1)
    assert (s.left_on, s.right_on) == (left, right)
    assert isinstance(s.sub.steps[0], P.Scan) and len(s.sub.steps) == 1


@pytest.mark.parametrize("how", ["inner", "outer", "left", "right"])
def test_join_types(how):
    s = steps(
        f"connector.table | join kind={how} (other.table) on $left.f1 == $right.f2"
    )[1]
    assert s.how == how


def test_join_with_partitions():
    s = steps(
        "connector.table | join kind=inner hint.partitions=4 (other.table)"
        " on $left.field1 == $right.field2"
    )[1]
    assert s.partitions == 4


# -- field paths (parser_tests.rs:675-712) ----------------------------------


def test_field_with_array_access():
    e = filt('field1[0] == "value"')
    assert e.left == Field.of("field1[0]")


def test_nested_field_access():
    e = filt('field1.subfield == "value"')
    assert e.left == Field.of("field1.subfield")


# -- pipelines & literals (parser_tests.rs:713-841) -------------------------


def test_complex_pipeline():
    s = steps(
        """
        connector.table
        | where field1 > 10 and field2 contains "test"
        | extend newfield = field1 + field2
        | project field1, newfield, calculated = field3 * 2
        | sort by field1 asc
        | limit 100
        """
    )
    kinds = [type(x) for x in s]
    assert kinds == [P.Scan, P.Filter, P.Extend, P.Project, P.SortStep, P.Limit]


@pytest.mark.parametrize(
    "cond,want",
    [
        ("field1 == 42", Lit(42)),
        ("field1 == 3.14", Lit(3.14)),
        ("field1 == true", Lit(True)),
        ("field1 == false", Lit(False)),
        ("field1 == null", Lit(None)),
        ('field1 == "string"', Lit("string")),
        ("field1 == datetime(2020-01-01)", Lit(DT(2020, 1, 1))),
        ("field1 == 1h", Duration(3600.0)),
    ],
)
def test_literal_values(cond, want):
    assert filt(cond).right == want


def test_arithmetic_expressions():
    # precedence: field1 + (field2 * field3) - (field4 / 2)
    s = steps("connector.table | extend result = field1 + field2 * field3 - field4 / 2")[1]
    e = s.fields[0].expr
    assert e.op == "sub" and e.left.op == "add" and e.right.op == "div"
    assert e.left.right.op == "mul"


@pytest.mark.parametrize("cond,value", [("x == -5", -5), ("y == -3.15", -3.15)])
def test_negative_literal(cond, value):
    # reference parses -5 as Minus(0, 5) (parser_tests.rs:784); we fold
    # the sign into the literal — same value
    assert filt(cond).right == Lit(value)


def test_negative_literal_in_arithmetic():
    e = filt("result == -5 * 2")
    assert e.right.op == "mul" and e.right.left == Lit(-5) and e.right.right == Lit(2)


# -- errors (parser_tests.rs:843-852, 1157, 1174, 1237) ---------------------


@pytest.mark.parametrize(
    "q",
    [
        "invalid syntax",
        "connector.table | where",
        "connector.table | limit -1",
        "connector.table | project",
        "connector.table | sort by",
    ],
)
def test_error_cases(q):
    with pytest.raises(Exception):
        parse_kql(q)


def test_join_condition_validation():
    with pytest.raises(Exception, match=r"\$left.*\$right|\$right.*\$left"):
        parse_kql(
            "connector.table | join kind=inner (other.table) on $left.f1 == $left.f2"
        )


@pytest.mark.parametrize(
    "q",
    [
        "connector.table1 | join (connector.table2 | where) on $left. == $right.field2 | project field1",
        "connector.table | summarize invalid_agg =, sum_field = sum(field1) by field2",
        "connector.table | where field1 ++ field2 ** field3 -- field4 == 1",
        "connector.table | where | project | limit invalid | sort by field1",
        "connector.table | where field1 == && field2 == 42",
        "connector.table | where exists( | project field1, field2 | where tostring(field3 == 5",
        "connector.table | project field1 = field2 +, invalid_field =, field3 = field4 * 2",
        "connector.table | where ((field1 + field2) * (field3 +)) && field4 == 1",
        "connector.table | invalid_step syntax | where | project = | limit abc | sort by | count",
        "connector.table | where field1 in (1, 2, invalid +, 4, broken syntax, 6)",
    ],
)
def test_error_recovery_rejects_malformed(q):
    """Every malformed pipeline from parser_tests.rs:1237 must fail (our
    recovery granularity differs from chumsky's, so error COUNTS aren't
    asserted — multi-error collection itself is covered in
    test_kql_parser.py::test_error_recovery_collects_multiple_errors)."""
    with pytest.raises(Exception):
        parse_kql(q)


def test_multiple_malformed_steps_collect_multiple_errors():
    with pytest.raises(ParseErrors) as ei:
        parse_kql(
            "connector.table | where | project | limit invalid | sort by field1",
        )
    assert len(ei.value.errors) >= 2


# -- keywords & parentheses (parser_tests.rs:854-899) -----------------------


def test_keywords_as_identifiers():
    assert filt('in == "test"').left == Field.of("in")


def test_parentheses_in_expressions():
    e = filt("(field1 + field2) * field3 == 100")
    assert e.left.op == "mul" and e.left.left.op == "add"


# -- datetime forms (parser_tests.rs:901-1088) ------------------------------


@pytest.mark.parametrize(
    "expr",
    [
        "datetime(2015-12-31)",
        "datetime(2015-12-31 23:59:59)",
        "datetime(2015-12-31 23:59:59.999)",
        "datetime(2015-12-31T23:59:59Z)",
        "datetime(2015-12-31T23:59:59+02:00)",
        "datetime(2015-12-31T23:59:59.999Z)",
        "datetime(Thu, 31 Dec 2015 23:59:59 GMT)",
        "datetime(2015-12-31T23:59:59.999+00:00)",
    ],
)
def test_datetime_parsing(expr):
    assert isinstance(filt(f"field1 == {expr}").right, Lit)
    assert isinstance(filt(f"field1 == {expr}").right.value, DT)


@pytest.mark.parametrize("expr", ["datetime()", "now()"])
def test_datetime_current_time(expr):
    e = filt(f"field1 == {expr}").right
    assert isinstance(e, Now)  # evaluated at execution, like the reference's parse-time now


def test_datetime_null():
    assert filt("field1 == datetime(null)").right == Lit(None)


@pytest.mark.parametrize(
    "date_str,epoch_s",
    [("2015-12-31", 1451520000), ("2020-01-01", 1577836800), ("1970-01-01", 0)],
)
def test_datetime_specific_dates(date_str, epoch_s):
    got = filt(f"field1 == datetime({date_str})").right.value
    assert got == DT.utcfromtimestamp(epoch_s)


def test_datetime_with_time():
    got = filt("field1 == datetime(2020-01-01 12:30:45)").right.value
    assert got == DT.utcfromtimestamp(1577836800 + 43200 + 1800 + 45)


def test_datetime_with_milliseconds():
    got = filt("field1 == datetime(2020-01-01 00:00:00.500)").right.value
    assert got == DT.utcfromtimestamp(1577836800.5)


@pytest.mark.parametrize(
    "expr",
    [
        "datetime(invalid)",
        "datetime(2020-13-01)",
        "datetime(2020-01-32)",
        "datetime(2020-01-01 25:00:00)",
        "datetime(2020-01-01 12:60:00)",
        "datetime(2020-01-01 12:30:61)",
    ],
)
def test_datetime_invalid_formats(expr):
    with pytest.raises(Exception):
        parse_kql(f"connector.table | where field1 == {expr}")


def test_datetime_in_complex_expression():
    s = steps(
        """
        connector.table
        | where timestamp > datetime(2020-01-01) and timestamp < datetime()
        | project timestamp, age = datetime() - timestamp
        """
    )
    assert [type(x) for x in s] == [P.Scan, P.Filter, P.Project]
    e = s[1].expr
    assert e.op == "and"
    assert isinstance(e.left.right, Lit) and isinstance(e.left.right.value, DT)
    assert isinstance(e.right.right, Now)


# -- case / iff (parser_tests.rs:1090-1155) ---------------------------------


@pytest.mark.parametrize(
    "expr,n_arms",
    [
        ('case(x > 10, "high", x > 5, "medium", "low")', 2),
        ('case(a == 1, "one", a == 2, "two", "other")', 2),
        ('case(field1 == true, "yes", field1 == false, "no", "unknown")', 2),
        (
            'case(field1 > datetime(2020-01-01), "recent",'
            ' field1 > datetime(2010-01-01), "old", "ancient")',
            2,
        ),
    ],
)
def test_case_expression(expr, n_arms):
    s = steps(f"connector.table | extend result = {expr}")[1]
    c = s.fields[0].expr
    assert isinstance(c, Case) and len(c.branches) == n_arms
    for pred, then in c.branches:
        assert isinstance(pred, BinOp)
        assert isinstance(then, Lit)
    assert isinstance(c.default, Lit)


def test_iff_basic():
    s = steps('connector.table | extend result = iff(x > 10, "yes", "no")')[1]
    c = s.fields[0].expr
    assert isinstance(c, Case) and len(c.branches) == 1
    assert c.branches[0][0].op == "gt"
    assert c.branches[0][1] == Lit("yes") and c.default == Lit("no")


def test_parse_error_includes_line_and_column():
    # parser_tests.rs:1157 expects (line 2, column 3) for this shape
    with pytest.raises(Exception, match=r"line 2, column 3"):
        parse_kql('connector.table | where field1 == "value"\n| invalid_operator field2')


# -- extract (parser_tests.rs:1253-1341) ------------------------------------


def test_parse_extract_basic():
    s = steps('connector.table | extend code = extract("error: (\\d+)", 1, message)')[1]
    f = s.fields[0]
    assert f.name == "code"
    e = f.expr
    assert isinstance(e, Extract)
    assert e.pattern == Lit("error: (\\d+)") and e.group == Lit(1)
    assert e.source == Field.of("message")


def test_parse_extract_with_field_arguments():
    s = steps(
        "connector.table | extend result = extract(pattern_field, group_field, source_field)"
    )[1]
    e = s.fields[0].expr
    assert isinstance(e, Extract)
    assert all(isinstance(x, Field) for x in (e.pattern, e.group, e.source))


def test_parse_extract_in_filter():
    e = filt('extract("(\\d+)", 1, message) == "123"')
    assert isinstance(e.left, Extract)


def test_project_nested_assignment_target():
    """ProjectField.to is a full Field in the reference (query.rs):
    a dotted assignment target parses as the nested path."""
    s = steps("connector.table | extend outer.inner = 5")[1]
    assert s.fields[0].name == "outer.inner" and s.fields[0].expr == Lit(5)
    s = steps("connector.table | project a.b.c = 1, plain = 2")[1]
    assert [f.name for f in s.fields] == ["a.b.c", "plain"]
