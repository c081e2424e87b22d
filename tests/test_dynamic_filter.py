"""Dynamic filtering + connector field stats.

Parity targets: miso-optimizations/src/dynamic_filter.rs (the
calculate_max_distinct_count walk :158-219, the producer decision
table :93-127, the DynamicFilterTx In/Not emission — join.rs:310-319)
and miso-connectors/src/stats.rs (FieldStats / interval refetch,
served here as a lazy-TTL cache)."""

from __future__ import annotations

import json
import threading
import http.server

import pytest

from miso_spark import parse_kql
from miso_spark import plan as P
from miso_spark.compiler import Compiler
from miso_spark.exprs import Field, In, Lit, Not
from miso_spark.sources import MemorySource, SourceRegistry
from miso_spark.sources.dynamic_filter import (
    build_in_filter,
    consumer_steps_commute,
    decide,
    max_distinct_count,
    max_rows_bound,
    resolve_field_to_scan,
)
from miso_spark.sources.external import QuickwitSource


def _steps(kql: str):
    return parse_kql(kql).steps


# ---------------------------------------------------------------------------
# the bound walk (calculate_max_distinct_count parity)


def test_walk_limits_and_count():
    no_stats = lambda f: None
    assert max_distinct_count("k", _steps("c.t | take 10")[1:], no_stats) == 10
    assert max_distinct_count("k", _steps("c.t | take 10 | take 3")[1:], no_stats) == 3
    assert max_distinct_count("k", _steps("c.t | count")[1:], no_stats) == 1
    assert max_distinct_count("k", _steps("c.t | sort by k | take 5")[1:], no_stats) == 5
    # no limit, no stats → unprovable
    assert max_distinct_count("k", _steps("c.t | where k == 1")[1:], no_stats) is None


def test_walk_summarize_switches_to_group_keys():
    stats = {"a": 4, "b": 5}.get
    # dcount bounded by the product of the group keys' stats (":205")
    steps = _steps("c.t | summarize n = count() by a, b")[1:]
    assert max_distinct_count("n", steps, stats) == 20
    # a limit after the summarize takes the min (prev_dcount path)
    steps = _steps("c.t | summarize n = count() by a, b | take 7")[1:]
    assert max_distinct_count("n", steps, stats) == 7
    # agg-less global summarize → one row
    steps = _steps("c.t | summarize n = count()")[1:]
    assert max_distinct_count("n", steps, lambda f: None) == 1
    # two summarizes with a captured bound between — the reference
    # punts (":178" prev_dcount.is_some()); without one it keeps
    # walking and resolves the inner group keys against stats
    steps = _steps(
        "c.t | summarize n = count() by a | summarize m = count() by n | take 5"
    )[1:]
    assert max_distinct_count("m", steps, stats) is None
    steps = _steps("c.t | summarize n = count() by a | summarize m = count() by n")[1:]
    assert max_distinct_count("m", steps, stats) == 4


def test_walk_resolves_project_and_rename():
    stats = {"key": 3}.get
    steps = _steps("c.t | project renamed = key")[1:]
    assert max_distinct_count("renamed", steps, stats) == 3
    steps = _steps("c.t | extend other = 1")[1:]
    assert max_distinct_count("key", steps, stats) == 3
    # computed projection kills the walk (resolve_fields → None)
    steps = _steps("c.t | project renamed = key * 2")[1:]
    assert max_distinct_count("renamed", steps, stats) is None
    # unknown step kind (mv-expand) kills the walk
    steps = _steps("c.t | take 5 | mv-expand key")[1:]
    assert max_distinct_count("key", steps, lambda f: None) is None
    assert resolve_field_to_scan("renamed", _steps("c.t | project renamed = key")[1:]) == "key"
    assert resolve_field_to_scan("x", _steps("c.t | take 5")[1:]) is None


def test_rows_bound():
    stats = {"k": 6}.get
    assert max_rows_bound(_steps("c.t | take 100")[1:], stats) == 100
    assert max_rows_bound(_steps("c.t | count")[1:], stats) == 1
    assert max_rows_bound(_steps("c.t | summarize n = count() by k")[1:], stats) == 6
    assert max_rows_bound(
        _steps("c.t | summarize n = count() by k | take 2")[1:], stats) == 2
    assert max_rows_bound(_steps("c.t | where k == 1")[1:], stats) is None
    assert max_rows_bound(_steps("c.t | mv-expand k | take 3")[1:], stats) is None


# ---------------------------------------------------------------------------
# producer decision table (dynamic_filter.rs:93-127)


def test_decide_table():
    M = 10_000
    # inner: both small → smaller side produces
    assert decide("inner", 5, 9, M) == (True, False)
    assert decide("inner", 9, 5, M) == (False, False)
    # inner: only one side small
    assert decide("inner", 5, None, M) == (True, False)
    assert decide("inner", None, 5, M) == (False, False)
    # neither side provable → no filter
    assert decide("inner", None, None, M) is None
    # left join: only the preserved side may produce
    assert decide("left", 5, 3, M) == (True, False)
    assert decide("right", 3, 5, M) == (False, False)
    # the reference's negation catch-all is opt-in (and never chosen
    # by the compiler — it drops matched rows; dynamic_filter.py)
    assert decide("left", None, 5, M) is None
    assert decide("right", 5, None, M) is None
    assert decide("outer", 5, None, M) is None
    assert decide("left", None, 5, M, allow_negation=True) == (False, True)
    assert decide("outer", 5, 9, M, allow_negation=True) == (True, True)


def test_build_in_filter_negation():
    # DynamicFilterTx::send (join.rs:310-319): In(field, values),
    # Not-wrapped for add_not_to_dynamic_filter
    e = build_in_filter("k", [1, 2])
    assert e == In(Field.of("k"), (Lit(1), Lit(2)))
    assert build_in_filter("k", [1], negated=True) == Not(In(Field.of("k"), (Lit(1),)))


def test_consumer_commute_guard():
    assert consumer_steps_commute(_steps("c.t | where a == 1 | sort by a")[1:])
    assert consumer_steps_commute(_steps("c.t | project a, b")[1:])
    # reordering a filter before take/summarize changes results
    assert not consumer_steps_commute(_steps("c.t | take 10")[1:])
    assert not consumer_steps_commute(_steps("c.t | summarize n = count() by a")[1:])


# ---------------------------------------------------------------------------
# end-to-end over the wire (an in-process Quickwit stub)


class _Stub:
    """Quickwit ES-surface stub that records every request and serves
    per-index documents, filtering terms queries like the service
    would (so on/off row equality is a real check)."""

    def __init__(self, tables: dict[str, list[dict]]):
        stub = self
        stub.tables = tables
        stub.requests = []

        class Handler(http.server.BaseHTTPRequestHandler):
            def _send(self, obj):
                body = json.dumps(obj).encode()
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _read_body(self):
                n = int(self.headers.get("Content-Length") or 0)
                return json.loads(self.rfile.read(n)) if n else None

            def _docs(self, index, body):
                docs = list(stub.tables.get(index, []))
                for clause in (body or {}).get("query", {}).get("bool", {}).get("must", []):
                    if "terms" in clause:
                        ((f, vals),) = clause["terms"].items()
                        docs = [d for d in docs if d.get(f) in vals]
                return docs

            def do_GET(self):
                body = self._read_body()
                stub.requests.append((self.path, body))
                if self.path == "/api/v1/_elastic/_search/scroll":
                    self._send({"hits": {"hits": []}})
                elif "/_search" in self.path:
                    index = self.path.split("/_elastic/")[1].split("/")[0]
                    if body and "aggs" in body and any(
                        "cardinality" in a for a in body["aggs"].values()
                    ):
                        docs = stub.tables.get(index, [])
                        aggs = {
                            f: {"value": len({d.get(f) for d in docs if f in d})}
                            for f in body["aggs"]
                        }
                        self._send({"hits": {"total": {"value": len(docs)}},
                                    "aggregations": aggs})
                        return
                    docs = self._docs(index, body)
                    if body and "size" in body and body.get("aggs") is None:
                        docs = docs[: body["size"]]
                    self._send({"hits": {"hits": [{"_source": d} for d in docs]}})
                else:
                    self.send_response(404)
                    self.end_headers()

            def log_message(self, *a):
                pass

        self.server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        threading.Thread(target=self.server.serve_forever, daemon=True).start()
        self.url = f"http://127.0.0.1:{self.server.server_port}"

    def search_bodies(self, index: str):
        return [b for p, b in self.requests
                if f"/_elastic/{index}/_search" in p and b is not None]

    def shutdown(self):
        self.server.shutdown()


LOGS = [
    {"key": "a", "v": 1}, {"key": "a", "v": 2}, {"key": "b", "v": 3},
    {"key": "c", "v": 4}, {"key": "d", "v": 5},
]


def _mem_registry(spark, stub, lookup_rows):
    mem = MemorySource()
    mem.put("lookup", spark.createDataFrame(lookup_rows, "key string, tag string"))
    return (
        SourceRegistry(spark)
        .register("mem", mem)
        .register("qw", QuickwitSource(stub.url))
    )


def test_join_side_dynamic_filter_hits_the_wire(spark):
    """Engine-side small left (provable via take) joined to a connector
    scan: the left's observed keys go out as a terms filter in the
    connector request, and rows equal the dynamic-filter-off run."""
    kql = "mem.lookup | take 3 | join (qw.logs) on key"
    rows = {}
    for dyn in (True, False):
        stub = _Stub({"logs": LOGS})
        try:
            reg = _mem_registry(
                spark, stub,
                [("a", "t1"), ("b", "t2"), ("c", "t3")],
            )
            comp = Compiler(reg, dynamic_filter=dyn)
            df = comp.run(parse_kql(kql))
            rows[dyn] = sorted(tuple(str(x) for x in r) for r in df.collect())
            bodies = stub.search_bodies("logs")
            terms = [c for b in bodies if b
                     for c in b.get("query", {}).get("bool", {}).get("must", [])
                     if "terms" in c]
            if dyn:
                assert len(comp.dynamic_filter_events) == 1
                assert comp.dynamic_filter_events[0]["producer"] == "left"
                assert terms and sorted(terms[0]["terms"]["key"]) == ["a", "b", "c"]
            else:
                assert not terms
        finally:
            stub.shutdown()
    assert rows[True] == rows[False]
    assert len(rows[True]) == 4  # key a matches two logs, b and c one each


def test_scan_side_dynamic_filter_hits_the_wire(spark):
    """Connector scan on the LEFT, small engine-side right: the right
    runs first, its keys splice into the scan as a Filter that
    negotiate() ships as the terms filter (scan.rs apply_dynamic_filter
    direction), and the precomputed right side is reused by the join."""
    kql = "qw.logs | join (mem.lookup | take 2) on key"
    rows = {}
    for dyn in (True, False):
        stub = _Stub({"logs": LOGS})
        try:
            reg = _mem_registry(spark, stub, [("a", "t1"), ("d", "t4")])
            comp = Compiler(reg, dynamic_filter=dyn)
            df = comp.run(parse_kql(kql))
            rows[dyn] = sorted(tuple(str(x) for x in r) for r in df.collect())
            bodies = stub.search_bodies("logs")
            terms = [c for b in bodies if b
                     for c in b.get("query", {}).get("bool", {}).get("must", [])
                     if "terms" in c]
            if dyn:
                assert len(comp.dynamic_filter_events) == 1
                assert comp.dynamic_filter_events[0]["producer"] == "right"
                assert terms and sorted(terms[0]["terms"]["key"]) == ["a", "d"]
                assert not comp._tls.pending.prejoined  # consumed by the join
            else:
                assert not terms
        finally:
            stub.shutdown()
    assert rows[True] == rows[False]
    assert len(rows[True]) == 3  # keys a (two logs) + d (one)


def test_dynamic_filter_respects_left_join_semantics(spark):
    """A left join with only a small RIGHT side is the reference's
    negation case — never executed here; rows must equal the off run
    (every left row preserved, no terms filter on the wire)."""
    kql = "qw.logs | join kind=left (mem.lookup | take 2) on key"
    rows = {}
    for dyn in (True, False):
        stub = _Stub({"logs": LOGS})
        try:
            reg = _mem_registry(spark, stub, [("a", "t1"), ("d", "t4")])
            comp = Compiler(reg, dynamic_filter=dyn)
            df = comp.run(parse_kql(kql))
            rows[dyn] = sorted(tuple(str(x) for x in r) for r in df.collect())
            terms = [c for b in stub.search_bodies("logs") if b
                     for c in b.get("query", {}).get("bool", {}).get("must", [])
                     if "terms" in c]
            assert not terms
            assert not comp.dynamic_filter_events
        finally:
            stub.shutdown()
    assert rows[True] == rows[False]
    assert len(rows[True]) == 5  # all logs preserved


def test_stats_driven_dynamic_filter(spark):
    """No limit anywhere: the right side's bound comes from connector
    field stats (cardinality agg fetch), proving it small enough to
    produce — stats.rs's stated purpose (lib.rs:295-301)."""
    stub = _Stub({
        "logs": LOGS,
        "lookup": [{"key": "a"}, {"key": "b"}],
    })
    try:
        src = QuickwitSource(stub.url, stats_fields={"lookup": ["key"]})
        reg = SourceRegistry(spark).register("qw", src)
        comp = Compiler(reg)
        df = comp.run(parse_kql("qw.logs | join (qw.lookup) on key"))
        got = sorted(tuple(str(x) for x in r) for r in df.collect())
        assert len(got) == 3  # keys a (×2), b
        assert list(comp.dynamic_filter_events) == [
            {"producer": "right", "consumer": "qw.logs", "field": "key", "keys": 2}
        ]
        # the stats fetch went out as a cardinality agg search
        card = [b for b in stub.search_bodies("lookup") if b and "aggs" in b
                and "cardinality" in next(iter(b["aggs"].values()))]
        assert card and card[0]["aggs"]["key"] == {"cardinality": {"field": "key"}}
        # and the filtered logs request carried the runtime terms
        terms = [c for b in stub.search_bodies("logs") if b
                 for c in b.get("query", {}).get("bool", {}).get("must", [])
                 if "terms" in c]
        assert terms and sorted(terms[0]["terms"]["key"]) == ["a", "b"]
    finally:
        stub.shutdown()


def test_stats_cache_ttl_and_fetch(spark):
    """StatsCache serves from cache inside the TTL (one wire fetch) and
    refreshes after it lapses — the reference's interval refetch
    (stats.rs:17) as a lazy read."""
    stub = _Stub({"lookup": [{"key": "a"}, {"key": "b"}, {"key": "c"}]})
    try:
        src = QuickwitSource(stub.url, stats_fields={"lookup": ["key"]})
        fs = src.field_stats("lookup", "key")
        assert fs is not None and fs.distinct_count == 3
        n_after_first = len(stub.requests)
        assert src.field_stats("lookup", "key").distinct_count == 3
        assert len(stub.requests) == n_after_first  # cached
        src._stats_cache._ttl_s = -1.0
        assert src.field_stats("lookup", "key").distinct_count == 3
        assert len(stub.requests) > n_after_first  # refetched
        # unknown field → advisory None
        assert src.field_stats("lookup", "nope") is None
    finally:
        stub.shutdown()


def test_memory_source_has_no_stats(spark):
    assert MemorySource().field_stats("t", "k") is None


def test_connector_side_broadcasts_when_rows_bounded(spark):
    """A connector-backed join side with a provable row bound (absorbed
    limit) broadcasts even with auto-broadcast disabled — the
    stats/bounds-driven side choice the reference derives from
    connector stats."""
    stub = _Stub({"logs": LOGS})
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        mem = MemorySource()
        mem.put("big", spark.createDataFrame(
            [(k, i) for i, k in enumerate("abcde" * 10)], "key string, i long"))
        reg = (SourceRegistry(spark).register("mem", mem)
               .register("qw", QuickwitSource(stub.url)))
        df = Compiler(reg).run(
            parse_kql("mem.big | join (qw.logs | take 4) on key"))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        stub.shutdown()


def test_null_keys_survive_dynamic_filter(spark):
    """Null join keys match each other engine-wide (join.rs hashes
    Value::Null like any value); a producer null key must not be
    silently dropped by the SQL IN."""
    stub = _Stub({"logs": [{"key": "a", "v": 1}, {"v": 9}]})  # second: no key
    try:
        mem = MemorySource()
        mem.put("lookup", spark.createDataFrame(
            [("a", "t1"), (None, "tn")], "key string, tag string"))
        reg = (SourceRegistry(spark).register("mem", mem)
               .register("qw", QuickwitSource(stub.url)))
        for dyn in (True, False):
            comp = Compiler(reg, dynamic_filter=dyn)
            df = comp.run(parse_kql("mem.lookup | take 2 | join (qw.logs) on key"))
            got = sorted(str(r["tag"]) for r in df.collect())
            assert got == ["t1", "tn"], (dyn, got)
    finally:
        stub.shutdown()


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_keys = st.lists(
    st.one_of(st.none(), st.sampled_from(["a", "b", "c", "d", "e"])),
    min_size=0, max_size=6,
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(left_keys=_keys, right_keys=_keys, how=st.sampled_from(["inner", "left"]))
def test_dynamic_filter_expr_preserves_join_semantics(
    spark, left_keys, right_keys, how
):
    """Property: for the producer-left directions the compiler executes
    (inner with small left, left-join with small left), filtering the
    RIGHT side by `_dynamic_filter_expr(left_keys)` never changes the
    join result — including null keys, which match each other under
    the engine's null-safe join semantics and must survive the IN via
    the missing-field disjunct."""
    from miso_spark.compiler import Compiler
    from miso_spark.exprs import compile_expr
    from miso_spark.sources import SourceRegistry

    def table(keys):
        rows = [(k, i) for i, k in enumerate(keys)]
        schema = "key string, li long"
        return (spark.createDataFrame(rows, schema) if rows
                else spark.createDataFrame([], schema))

    comp = Compiler(SourceRegistry(spark))
    left = table(left_keys)
    right = table(right_keys).withColumnRenamed("li", "ri")

    def join_rows(r):
        return sorted(
            (str(x["li"]), str(x["ri"]))
            for x in left.join(r, left["key"].eqNullSafe(r["key"]), how)
            .select(left["li"], r["ri"]).collect()
        )

    expected = join_rows(right)
    keys = [r[0] for r in left.select("key").distinct().collect()]
    # an empty key set compiles to a constant-false filter (In with no
    # items), which is exactly right: an empty producer joins nothing
    flt = compile_expr(comp._dynamic_filter_expr("key", keys), right.schema)
    assert join_rows(right.filter(flt)) == expected


def test_negation_filter_emits_must_not_terms(spark):
    """The add_not_to_dynamic_filter wire shape (join.rs:315): a
    negated observed-key filter compiles to bool/must_not over the
    terms clause and round-trips to the service. The compiler never
    *selects* this plan (it drops matched rows — dynamic_filter.py
    divergence 1), but the emission is reference-exact for any caller
    that opts in."""
    from miso_spark.sources.es_dsl import compile_filter

    expr = build_in_filter("key", ["a", "b"], negated=True)
    dsl = compile_filter(expr, minimum_should_match=False)
    assert dsl == {"bool": {"must_not": {"terms": {"key": ["a", "b"]}}}}

    stub = _Stub({"logs": LOGS})
    try:
        src = QuickwitSource(stub.url)
        h = src.handle("logs").apply_filter(expr)
        assert h is not None
        src.search(spark, "logs", h)
        body = next(b for b in stub.search_bodies("logs") if b)
        assert body["query"]["bool"]["must"][0] == dsl
    finally:
        stub.shutdown()


def test_run_caches_released_after_consumption(spark):
    """ADVICE r6: persisted producer DataFrames must not outlive their
    query. run_with_caches hands back the run's cache ledger;
    release() unpersists every entry (the server calls it after the
    last SSE frame), and the library-facing run() releases the
    previous run's caches when the next run starts on that thread."""
    kql = "qw.logs | join (mem.lookup | take 2) on key"
    stub = _Stub({"logs": LOGS})
    try:
        reg = _mem_registry(spark, stub, [("a", "t1"), ("d", "t4")])
        comp = Compiler(reg)
        df, ctx = comp.run_with_caches(parse_kql(kql))
        assert len(ctx.persisted) == 1  # the prejoined producer
        cached = ctx.persisted[0]
        assert cached.storageLevel.useMemory or cached.storageLevel.useDisk
        assert df.count() == 3
        ctx.release()
        assert not ctx.persisted and not ctx.prejoined
        assert not (cached.storageLevel.useMemory or cached.storageLevel.useDisk)

        # run(): deferred release — next run on this thread frees it
        df2 = comp.run(parse_kql(kql))
        held = comp._tls.pending.persisted[0]
        assert held.storageLevel.useMemory or held.storageLevel.useDisk
        assert df2.count() == 3
        comp.run(parse_kql("mem.lookup | take 1")).collect()
        assert not (held.storageLevel.useMemory or held.storageLevel.useDisk)
    finally:
        stub.shutdown()


def test_dynamic_filter_events_bounded(spark):
    """The observability buffer is a deque(maxlen) — append-safe under
    concurrent server request threads and self-trimming, so a
    long-lived server can't grow it without bound (ADVICE r7: the old
    list + del-slice trim could race an append)."""
    stub = _Stub({"logs": LOGS})
    try:
        reg = _mem_registry(spark, stub, [("a", "t1")])
        comp = Compiler(reg)
        for i in range(comp.DYNAMIC_FILTER_EVENTS_CAP + 500):
            comp.dynamic_filter_events.append({"producer": "left", "i": i})
        assert len(comp.dynamic_filter_events) == comp.DYNAMIC_FILTER_EVENTS_CAP
        # newest survive, oldest evicted
        assert comp.dynamic_filter_events[-1]["i"] == comp.DYNAMIC_FILTER_EVENTS_CAP + 499
        comp.run(parse_kql("mem.lookup | take 1")).collect()
        assert len(comp.dynamic_filter_events) <= comp.DYNAMIC_FILTER_EVENTS_CAP
    finally:
        stub.shutdown()


def test_prejoined_cache_survives_negotiation_rewrite(spark):
    """The scan-side dynamic filter pre-runs the join's right side and
    caches it keyed by the JoinStep's identity. A sub-plan the
    negotiation rewrites (`sort by | take` → Top) used to REBUILD the
    JoinStep, orphaning the cache entry — the right side ran twice and
    the entry leaked. The compiler now pre-optimizes the tail before
    the pre-run so the cached step object is the one in the residual."""
    kql = "qw.logs | join (mem.lookup | sort by tag | take 2) on key"
    rows = {}
    for dyn in (True, False):
        stub = _Stub({"logs": LOGS})
        try:
            reg = _mem_registry(spark, stub, [("a", "t1"), ("d", "t4")])
            comp = Compiler(reg, dynamic_filter=dyn)
            df = comp.run(parse_kql(kql))
            rows[dyn] = sorted(tuple(str(x) for x in r) for r in df.collect())
            if dyn:
                assert len(comp.dynamic_filter_events) == 1
                # consumed by the join — an orphaned entry means the
                # rebuilt JoinStep missed the cache and re-ran the side
                assert not comp._tls.pending.prejoined
        finally:
            stub.shutdown()
    assert rows[True] == rows[False]
