"""Expr → SPL translation, mirroring splunk/mod.rs
compile_filter_to_spl (:647-856): search vs where clause selection,
CASE() case-sensitive string search, batched AND splits."""

from __future__ import annotations

from miso_spark.kql import parse_kql
from miso_spark.sources.spl import SplFilter, compile_filter_spl


def filt(cond: str):
    return compile_filter_spl(parse_kql(f"c.t | where {cond}").steps[1].expr)


def test_search_terms():
    assert filt("status == 'active'") == SplFilter(search='status=CASE("active")')
    assert filt("count == 42") == SplFilter(search="count=42")
    # ne/lt/lte keep events missing the field engine-side (total
    # order: null smallest) — the SPL form ORs in NOT f=* (r11)
    assert filt("status != 'err'") == SplFilter(
        search='(status!=CASE("err") OR NOT status=*)'
    )
    assert filt("val > 100") == SplFilter(search="val>100")
    assert filt("val <= 1.5") == SplFilter(search="(val<=1.5 OR NOT val=*)")
    assert filt("path startswith '/api/'") == SplFilter(search="path=/api/*")
    assert filt("code in (1, 2)") == SplFilter(search="(code=1 OR code=2)")


def test_where_clauses():
    assert filt("exists(user.name)") == SplFilter(where="isnotnull(user.name)")
    assert filt("msg has 'Error'") == SplFilter(where='like(lower(msg), "%error%")')
    assert filt("msg has_cs 'Error'") == SplFilter(where='like(msg, "%Error%")')


def test_and_batches_search_and_where():
    r = filt("a == 1 and msg has 'x'")
    assert r == SplFilter(search="a=1", where='like(lower(msg), "%x%")')
    # all-search AND combines into one term
    assert filt("a == 1 and b == 2") == SplFilter(search="(a=1 AND b=2)")


def test_or_requires_single_kind():
    assert filt("a == 1 or b == 2") == SplFilter(search="(a=1 OR b=2)")
    # search-OR-where mixes into a where combination (mod.rs: any_where)
    r = filt("a == 1 or msg has 'x'")
    assert r.where is not None and "OR" in r.where
    assert filt("not(a == 1)") == SplFilter(search="NOT a=1")


def test_unpushable():
    assert filt("a contains 'x'") is None  # splunk translation has no contains
    assert filt("a + 1 == 2") is None
    assert filt("tags[0] == 'x'") is None


def test_splunk_source_apply_filter():
    expr = parse_kql("c.t | where level == 'error'").steps[1].expr
    assert compile_filter_spl(expr) == SplFilter(
        search='level=CASE("error")'
    )


# ---------------------------------------------------------------------------
# SplunkHandle: SPL pipeline rendering (splunk/mod.rs:213-310 build_spl,
# apply hooks :1182-1380) — expectations pinned to the reference's own
# build_spl test strings (mod.rs:1425+)


def _steps(kql):
    from miso_spark import parse_kql

    return parse_kql(kql).steps


def _handle():
    from miso_spark.sources.spl import SplunkHandle

    return SplunkHandle()


def test_build_spl_basic_index():
    assert _handle().build_spl("myindex") == 'search (index="myindex")'


def test_build_spl_with_search_filter():
    h = _handle().apply_filter(_steps("c.t | where foo == 'bar'")[1].expr)
    assert h.build_spl("myindex") == 'search (index="myindex") | search foo=CASE("bar")'


def test_build_spl_topn_and_head():
    top = _steps("c.t | top 100 by foo desc, bar asc")[1]
    h = _handle().apply_topn(top.sorts, top.n)
    assert h.build_spl("myindex") == 'search (index="myindex") | sort -foo, +bar | head 100'


def test_build_spl_time_desc_topn_skips_sort():
    # sort -_time is Splunk's default order; forcing it would process
    # the entire dataset (mod.rs:1223)
    top = _steps("c.t | top 10 by @time desc")[1]
    h = _handle().apply_topn(top.sorts, top.n)
    assert h.build_spl("idx") == 'search (index="idx") | head 10'


def test_build_spl_bare_count_uses_tstats():
    h = _handle().apply_count()
    assert h.build_spl("myindex") == '| tstats count as Count where (index="myindex")'


def test_build_spl_count_after_filter_uses_stats():
    h = _handle().apply_filter(_steps("c.t | where foo == 'bar'")[1].expr).apply_count()
    assert h.build_spl("myindex") == (
        'search (index="myindex") | search foo=CASE("bar") | stats count as Count'
    )


def test_build_spl_stats_with_by_and_rename():
    step = _steps("c.t | summarize cnt = count(), total = sum(value) by cat = category")[1]
    h = _handle().apply_summarize(step)
    assert h.build_spl("myindex") == (
        'search (index="myindex") | stats count as cnt, sum(value) as total'
        " by category | rename category as cat"
    )
    assert h.stats_numeric_fields() == frozenset({"cnt", "total"})


def test_build_spl_dcount_and_countif_exists():
    step = _steps("c.t | summarize users = dcount(uid), seen = countif(exists(props)) by k")[1]
    h = _handle().apply_summarize(step)
    # dc() ships bare, matching the reference's emission
    # (splunk/mod.rs): it skips events whose field is missing, and so
    # does the engine-side wire-aware dcount
    # (compiler._wire_field_null_missing). The r11 "__dcall/__dcvc"
    # null-bucket companions are retired (r14) — they emulated the old
    # typed conflation and would now diverge from the engine arm.
    assert (
        " | stats dc(uid) as users,"
        " count(eval(isnotnull(props))) as seen by k"
    ) in h.build_spl("i")


def test_summarize_guards():
    # agg-less summarize: stats by returns default columns — refuse
    assert _handle().apply_summarize(_steps("c.t | summarize by k")[1]) is None
    # bin group keys: Splunk bin syntax differs — refuse (mod.rs:1322)
    assert _handle().apply_summarize(
        _steps("c.t | summarize n = count() by b = bin(v, 10)")[1]
    ) is None
    # arbitrary countif predicate — refuse
    assert _handle().apply_summarize(
        _steps("c.t | summarize n = countif(v > 5) by k")[1]
    ) is None
    # min(_time) types as timestamp, not numeric
    h = _handle().apply_summarize(_steps("c.t | summarize first = min(@time) by k")[1])
    assert h.stats_timestamp_fields() == frozenset({"first"})


def test_time_range_lands_in_search_clause():
    expr = _steps(
        "c.t | where @time >= datetime(2024-01-01) and @time < datetime(2024-01-02)"
        " and level == 'error'"
    )[1].expr
    h = _handle().apply_filter(expr)
    spl = h.build_spl("idx")
    # 2024-01-01/02 UTC epochs in the base clause, filter still pushed
    assert spl.startswith('search (index="idx") earliest=1704067200 latest=1704153600')
    assert '| search level=CASE("error")' in spl


def test_projections_stay_engine_side():
    # `| fields` doesn't restrict _raw (mod.rs:1200)
    assert _handle().apply_project(_steps("c.t | project a, b")[1].fields) is None


def test_extend_renders_rex():
    step = _steps("c.t | extend code = extract('err-(\\\\d+)', 1, msg)")[1]
    h = _handle().apply_extend(step.fields)
    # the KQL literal 'err-(\\d+)' unescapes to err-(\d+) in the Expr
    assert h.build_spl("idx") == 'search (index="idx") | rex field=msg "err-(?<code>\\d+)"'


def test_stats_numeric_by_key_typing_erasure():
    """DOCUMENTED divergence (SURVEY §3, r11): Splunk's stats wire has
    no type channel for group keys, so a numeric-field by-key stays a
    digit string after decode — the reference has the same erasure
    (numeric_agg_fields covers agg outputs only, mod.rs:1265), and
    value-scanning can't recover the type without mis-typing genuine
    digit-string fields. Pinned: the by-key is in NEITHER typing set,
    while agg outputs and the _time-derived key are typed."""
    h = _handle().apply_summarize(
        _steps("c.t | summarize n = count(), mn = min(_time) by k = qid")[1]
    )
    assert "k" not in h.stats_numeric_fields()
    assert "k" not in h.stats_timestamp_fields()
    assert "n" in h.stats_numeric_fields()
    assert "mn" in h.stats_timestamp_fields()


def test_stats_types_thread_through_composed_stats():
    """_stats_types (r11): a `by _time` key stays a timestamp across
    the stats+rename chain, and a SECOND stats' outputs replace the
    first's typing (only surviving by-keys inherit)."""
    h = _handle().apply_summarize(
        _steps("c.t | summarize n = count() by t = _time")[1]
    )
    assert h.stats_timestamp_fields() == frozenset({"t"})
    assert h.stats_numeric_fields() == frozenset({"n"})
    h2 = h.apply_summarize(_steps("c.t | summarize m = max(n) by t")[1])
    assert h2.stats_timestamp_fields() == frozenset({"t"})
    assert h2.stats_numeric_fields() == frozenset({"m"})


def test_union_same_pipeline_only():
    flt = _steps("c.t | where a == 1")[1].expr
    h1 = _handle().apply_filter(flt)
    h2 = _handle().apply_filter(flt)
    merged = h1.apply_union(h2, "myindex", "other")
    spl = merged.build_spl("myindex")
    assert 'index="myindex"' in spl and 'index="other"' in spl and " OR " in spl
    assert h1.apply_union(_handle(), "myindex", "other") is None
    # duplicate index → engine-side: the OR index clause returns each
    # event once, but the engine union-all doubles them (fuzz-found r11)
    assert h1.apply_union(h2, "myindex", "myindex") is None
    assert merged.apply_union(h2, "myindex", "other") is None


def test_named_capture_conversion_edges():
    from miso_spark.sources.spl import convert_to_splunk_named_capture as conv

    assert conv("err-(\\d+)", 1, "code") == "err-(?<code>\\d+)"
    # second group targeted; first (non-capturing) doesn't count
    assert conv("(?:ab)(x(y))", 2, "out") == "(?:ab)(x(?<out>y))"
    # existing name replaced
    assert conv("(?P<old>\\w+)", 1, "new") == "(?<new>\\w+)"
    assert conv("no groups", 1, "x") is None
    assert conv("(a)", 0, "x") is None


def test_negotiate_drives_splunk_handle():
    from miso_spark import parse_kql
    from miso_spark.sources.pushdown import negotiate

    plan = parse_kql(
        "sp.logs | where level == 'error' | summarize n = count() by level | take 5"
    )
    h, residual = negotiate(plan, _handle())
    assert len(residual.steps) == 1  # fully absorbed (SPL is pipelined)
    assert h.build_spl("logs") == (
        'search (index="logs") | search level=CASE("error")'
        " | stats count as n by level | head 5"
    )


def test_time_hoist_refused_after_head_or_stats():
    """earliest/latest ride in the BASE search clause, so hoisting a
    _time comparison after an absorbed head/stats would reorder the
    filter before those ops ('take 10 | where @time > X' must filter
    the 10). The handle refuses — same strictness as
    PushHandle.apply_filter's refuse-over-limit guard."""
    expr = _steps("c.t | where @time >= datetime(2024-01-01)")[1].expr
    assert _handle().apply_limit(10).apply_filter(expr) is None
    stats = _handle().apply_summarize(_steps("c.t | summarize n = count() by k")[1])
    assert stats.apply_filter(expr) is None
    cnt = _handle().apply_count()
    assert cnt.apply_filter(expr) is None
    # a non-time filter after head still pushes as an ordered `| search`
    plain = _steps("c.t | where level == 'error'")[1].expr
    h = _handle().apply_limit(10).apply_filter(plain)
    assert h is not None
    spl = h.build_spl("idx")
    assert spl.index("| head 10") < spl.index('| search level=CASE("error")')


def test_extract_filter_literal_with_braces():
    """The rex-then-where clause is built by a callable, not
    str.format — a literal containing `{`/`}` must compile instead of
    raising KeyError/ValueError."""
    f = filt("extract('(\\\\w+)', 1, msg) == 'a{b}'")
    assert f is not None
    kinds = [op[0] for op in f.ops]
    assert kinds == ["rex", "where", "fields_minus"]
    assert f.ops[1][1] == '_extract_msg="a{b}"'
