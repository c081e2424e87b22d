"""External-connector pushdown emission + wire tests.

The emitted request JSON is asserted against the reference's output
shapes: quickwit.rs apply_topn/apply_count/apply_summarize
(:1313,:1354,:1365) and query() body assembly (:1174-1210);
elasticsearch.rs apply_topn (:1305) for the ES-flavor deltas. The
Quickwit wire bridge is round-tripped against an in-process HTTP stub
speaking the same ES-compatible routes the reference calls
(begin_search :655, continue_scroll :694, count :720).
"""

from __future__ import annotations

import json

import pytest
from dataclasses import replace

from miso_spark import parse_kql
from miso_spark import plan as P
from miso_spark.sources.pushdown import (
    AGGREGATION_RESULTS_NAME,
    MAX_NUM_GROUPS,
    ONLY_COUNT_AGG_FIELD_NAME,
    PushHandle,
    decode_aggregations,
)


def _summarize_step(kql: str) -> P.SummarizeStep:
    step = parse_kql(kql).steps[-1]
    assert isinstance(step, P.SummarizeStep)
    return step


def _filter_expr(kql: str):
    step = parse_kql(kql).steps[-1]
    assert isinstance(step, P.Filter)
    return step.expr


# ---------------------------------------------------------------------------
# emission shapes


def test_topn_emission_quickwit_vs_es():
    top = parse_kql("c.t | top 3 by ts desc").steps[-1]
    assert isinstance(top, P.Top)

    qw = PushHandle(flavor="quickwit").apply_topn(top.sorts, top.n)
    assert qw.build_search_body() == {
        "sort": [{"ts": {"order": "desc", "nulls": "last"}}],
        "size": 3,
    }

    es = PushHandle(flavor="elasticsearch").apply_topn(top.sorts, top.n)
    # elasticsearch.rs:1322: nulls spelled as "missing": _first/_last
    assert es.build_search_body() == {
        "sort": [{"ts": {"order": "desc", "missing": "_last"}}],
        "size": 3,
    }


def test_count_uses_count_route_and_clears_includes():
    h = PushHandle().apply_project(
        parse_kql("c.t | project a, b").steps[-1].fields
    )
    assert h.source_includes == ("a", "b")
    h = h.apply_count()
    assert h.count and h.source_includes == ()
    # count over group-by must stay engine-side (quickwit.rs:1354:
    # the service would count rows, not groups)
    s = PushHandle().apply_summarize(_summarize_step("c.t | summarize n = count() by k"))
    assert s.apply_count() is None


def test_summarize_emission_matches_reference_shape():
    step = _summarize_step(
        "c.events | summarize n = count(), peak = max(value),"
        " users = dcount(user_id), seen = countif(exists(props))"
        " by event_type, day = bin(ts, 1d)"
    )
    h = PushHandle(flavor="quickwit", timestamp_field="ts").apply_summarize(step)
    assert h.group_by == ("event_type", "day")
    assert h.count_fields == ("n",)
    body = h.build_search_body()
    assert body["size"] == 0
    # nested summarize_0 → summarize_1 → metric aggs, quickwit.rs:1438.
    # dcount ships as BARE cardinality, matching the reference's
    # emission (quickwit.rs:1396): it skips docs whose field is
    # missing, and so does the engine-side wire-aware dcount
    # (compiler._wire_field_null_missing). The r14-retired r11
    # companion value_count ("+1 null-bucket correction") emulated the
    # old typed conflation and would now diverge from the engine arm.
    assert body["aggs"] == {
        "summarize_0": {
            "terms": {"field": "event_type", "size": MAX_NUM_GROUPS},
            "aggs": {
                "summarize_1": {
                    "date_histogram": {"field": "ts", "fixed_interval": "86400000ms"},
                    "aggs": {
                        "peak": {"max": {"field": "value"}},
                        "users": {"cardinality": {"field": "user_id"}},
                        "seen": {"value_count": {"field": "props"}},
                    },
                }
            },
        }
    }


def test_summarize_numeric_bin_is_histogram():
    step = _summarize_step("c.t | summarize s = sum(v) by b = bin(price, 100)")
    h = PushHandle().apply_summarize(step)
    assert h.build_search_body()["aggs"]["summarize_0"]["histogram"] == {
        "field": "price",
        "interval": 100,
    }


def test_summarize_count_only_inserts_placeholder_agg():
    # quickwit.rs:1427: a count-only summarize still needs one metric
    # agg for buckets to come back; it is stripped on decode
    step = _summarize_step("c.t | summarize n = count() by k")
    h = PushHandle().apply_summarize(step)
    inner = h.build_search_body()["aggs"]["summarize_0"]["aggs"]
    assert inner == {ONLY_COUNT_AGG_FIELD_NAME: {"max": {"field": "a"}}}


def test_summarize_timestamp_agg_fields_tracked():
    step = _summarize_step("c.t | summarize first = min(ts), peak = max(v) by k")
    h = PushHandle(timestamp_field="ts").apply_summarize(step)
    assert h.agg_timestamp_fields == frozenset({"first"})


def test_pushdown_guards_match_reference():
    top = parse_kql("c.t | top 3 by ts desc").steps[-1]
    summarize = _summarize_step("c.t | summarize n = count() by k")
    flt = _filter_expr("c.t | where a == 1")

    topn_h = PushHandle().apply_topn(top.sorts, top.n)
    # no filter / DIFFERENT topn over topn (quickwit.rs:1268,:1313);
    # the IDENTICAL topn re-absorbs as min(n) — push_steps_into_union
    # leaves a post-union merge copy that the merged search already
    # satisfies
    assert topn_h.apply_filter(flt) is None
    same = topn_h.apply_topn(top.sorts, top.n)
    assert same is not None and same.limit == top.n
    other_sorts = (replace(top.sorts[0], by="other"),)
    assert topn_h.apply_topn(other_sorts, top.n) is None
    # no summarize after limit/sort — the service aggregates first
    # regardless of pipeline order (quickwit.rs:1376)
    assert topn_h.apply_summarize(summarize) is None
    assert PushHandle().apply_limit(5).apply_summarize(summarize) is None
    # nothing composes over group-by engine-side
    sum_h = PushHandle().apply_summarize(summarize)
    assert sum_h.apply_filter(flt) is None
    assert sum_h.apply_project(parse_kql("c.t | project k").steps[-1].fields) is None
    # non-identity projections can't narrow _source (quickwit.rs:1286)
    renamed = parse_kql("c.t | project x = a").steps[-1].fields
    assert PushHandle().apply_project(renamed) is None
    # arbitrary countif predicates stay engine-side (quickwit.rs:1419)
    hard = _summarize_step("c.t | summarize n = countif(v > 5) by k")
    assert PushHandle().apply_summarize(hard) is None
    # raw query absorbs nothing further (quickwit.rs:1270)
    raw = PushHandle().with_raw_query({"query": {"match_all": {}}})
    assert raw.apply_filter(flt) is None
    assert raw.apply_limit(3) is None
    assert raw.apply_count() is None


def test_limit_takes_min_and_filters_stack():
    flt1 = _filter_expr("c.t | where a == 1")
    flt2 = _filter_expr("c.t | where b == 2")
    h = PushHandle().apply_filter(flt1).apply_filter(flt2).apply_limit(10).apply_limit(50)
    body = h.build_search_body()
    assert body["size"] == 10  # min(10, 50), quickwit.rs:1300
    assert body["query"]["bool"]["must"] == [
        {"term": {"a": {"value": "1"}}},
        {"term": {"b": {"value": "2"}}},
    ]


def test_union_requires_identical_query_and_timestamp_field():
    flt = _filter_expr("c.t | where a == 1")
    h1 = PushHandle(timestamp_field="ts").apply_filter(flt)
    h2 = PushHandle(timestamp_field="ts").apply_filter(flt)
    merged = h1.apply_union(h2, "t", "other")
    assert merged.collections == ("other",)
    assert merged.indexes("t") == "other,t"  # sorted + deduped
    # different query → engine-side (quickwit.rs:1520)
    assert h1.apply_union(
        PushHandle(timestamp_field="ts"), "t", "other"
    ) is None
    # different timestamp field → engine-side (quickwit.rs:1536)
    assert h1.apply_union(
        PushHandle(timestamp_field="when").apply_filter(flt), "t", "other"
    ) is None
    # duplicate index → engine-side (the union-all doubles its rows;
    # a multi-index search returns each document once — fuzz-found r11)
    assert h1.apply_union(h2, "t", "t") is None
    assert merged.apply_union(h2, "t", "other") is None


def test_decode_aggregations_nested_buckets():
    step = _summarize_step(
        "c.t | summarize n = count(), peak = max(v) by k, day = bin(ts, 1d)"
    )
    h = PushHandle().apply_summarize(step)
    payload = {
        "aggregations": {
            f"{AGGREGATION_RESULTS_NAME}_0": {
                "buckets": [
                    {
                        "key": "click",
                        "doc_count": 7,
                        f"{AGGREGATION_RESULTS_NAME}_1": {
                            "buckets": [
                                {"key": 1700000000000, "doc_count": 4, "peak": {"value": 9.5}},
                                # date_histogram gap bucket — dropped
                                {"key": 1700086400000, "doc_count": 0, "peak": {"value": None}},
                                {"key": 1700172800000, "doc_count": 3, "peak": {"value": 2.0}},
                            ]
                        },
                    }
                ]
            }
        }
    }
    rows = decode_aggregations(payload, h)
    assert rows == [
        {"k": "click", "day": 1700000000000, "n": 4, "peak": 9.5},
        {"k": "click", "day": 1700172800000, "n": 3, "peak": 2.0},
    ]


def test_decode_aggregations_no_group_by_strips_placeholder():
    step = _summarize_step("c.t | summarize n = count()")
    h = PushHandle().apply_summarize(step)
    payload = {
        "hits": {"total": {"value": 42}},
        "aggregations": {ONLY_COUNT_AGG_FIELD_NAME: {"value": 1.0}},
    }
    assert decode_aggregations(payload, h) == [{"n": 42}]


# ---------------------------------------------------------------------------
# wire round-trip against an in-process stub


class _QuickwitStub:
    """Just enough of Quickwit's ES-compatible API for the bridge:
    scrolled _search, scroll continuation, _count."""

    def __init__(self, pages, count=0, aggregations=None):
        import http.server
        import threading

        stub = self
        stub.pages = pages
        stub.count = count
        stub.aggregations = aggregations
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

            def do_GET(self):
                body = self._read_body()
                stub.requests.append((self.path, body))
                if self.path.endswith("/_count"):
                    self._send({"count": stub.count})
                elif self.path == "/api/v1/_elastic/_search/scroll":
                    page = stub.pages.pop(0) if stub.pages else []
                    self._send(
                        {"_scroll_id": "s1", "hits": {"hits": [{"_source": d} for d in page]}}
                    )
                elif "/_search" in self.path:
                    if stub.aggregations is not None:
                        self._send(stub.aggregations)
                    else:
                        page = stub.pages.pop(0) if stub.pages else []
                        self._send(
                            {"_scroll_id": "s1", "hits": {"hits": [{"_source": d} for d in page]}}
                        )
                else:
                    self.send_response(404)
                    self.end_headers()

            def log_message(self, *a):
                pass

        self.server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        threading.Thread(target=self.server.serve_forever, daemon=True).start()
        self.url = f"http://127.0.0.1:{self.server.server_port}"

    def shutdown(self):
        self.server.shutdown()


def test_quickwit_search_round_trip_live_wire(spark):
    """The compiled DSL lands on the wire exactly as built (reference
    route quickwit.rs:655) and scroll pages concatenate into the
    DataFrame until an empty page."""
    from miso_spark.sources.external import QuickwitSource

    stub = _QuickwitStub(
        pages=[
            [{"level": "error", "msg": "boom"}, {"level": "error", "msg": "bad"}],
            [{"level": "error", "msg": "worse"}],
            [],
        ]
    )
    try:
        src = QuickwitSource(stub.url)
        h = src.handle("logs").apply_filter(
            _filter_expr("c.logs | where level == 'error'")
        )
        df = src.search(spark, "logs", h)
        assert {r["msg"] for r in df.collect()} == {"boom", "bad", "worse"}

        search_reqs = [(p, b) for p, b in stub.requests if "/_search" in p]
        path, body = search_reqs[0]
        assert path.startswith("/api/v1/_elastic/logs/_search?scroll=30000ms&size=")
        # quickwit flavor: no minimum_should_match, filters under bool/must
        assert body == {
            "query": {"bool": {"must": [{"term": {"level": {"value": "error"}}}]}}
        }
        # scroll continuation on the reference's route with its body shape
        assert search_reqs[1][0] == "/api/v1/_elastic/_search/scroll"
        assert search_reqs[1][1] == {"scroll_id": "s1", "scroll": "30000ms"}
    finally:
        stub.shutdown()


def test_quickwit_count_round_trip_live_wire(spark):
    from miso_spark.sources.external import QuickwitSource

    stub = _QuickwitStub(pages=[], count=1234)
    try:
        src = QuickwitSource(stub.url)
        h = src.handle("logs").apply_count()
        df = src.search(spark, "logs", h)
        assert [tuple(r) for r in df.collect()] == [(1234,)]
        assert df.columns == ["Count"]  # miso COUNT_FIELD_NAME
        assert any(p == "/api/v1/_elastic/logs/_count" for p, _ in stub.requests)
    finally:
        stub.shutdown()


def test_quickwit_aggregation_round_trip_live_wire(spark):
    from miso_spark.sources.external import QuickwitSource

    agg_payload = {
        "hits": {"total": {"value": 10}},
        "aggregations": {
            f"{AGGREGATION_RESULTS_NAME}_0": {
                "buckets": [
                    {"key": "a", "doc_count": 6, "peak": {"value": 3.5}},
                    {"key": "b", "doc_count": 4, "peak": {"value": 1.0}},
                ]
            }
        },
    }
    stub = _QuickwitStub(pages=[], aggregations=agg_payload)
    try:
        src = QuickwitSource(stub.url)
        step = _summarize_step("c.logs | summarize n = count(), peak = max(v) by k")
        h = src.handle("logs").apply_summarize(step)
        df = src.search(spark, "logs", h)
        got = {(r["k"], r["n"], r["peak"]) for r in df.collect()}
        assert got == {("a", 6, 3.5), ("b", 4, 1.0)}
        # the aggregation body went out with size=0 + nested aggs
        body = next(b for p, b in stub.requests if "/_search" in p)
        assert body["size"] == 0 and "summarize_0" in body["aggs"]
    finally:
        stub.shutdown()


# ---------------------------------------------------------------------------
# Splunk job protocol (splunk/query_runner.rs) against an in-process stub


def test_splunk_job_protocol_round_trip_live_wire(spark):
    """Submit → poll (RUNNING then DONE) → paged fetch, with the
    compiled SPL in the creation form exactly as spl.py built it
    (query_runner.rs:152 create_job, :201 poll_until_done, :375
    offset/count result paging)."""
    import http.server
    import threading
    import urllib.parse

    from miso_spark.sources.external import SplunkSource
    from miso_spark.sources.spl import compile_filter_spl

    state = {"polls": 0, "creates": [], "result_offsets": []}
    pages = {0: [{"level": "error", "n": 1}, {"level": "error", "n": 2}],
             2: [{"level": "error", "n": 3}]}

    class Handler(http.server.BaseHTTPRequestHandler):
        def _send(self, obj):
            body = json.dumps(obj).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self):
            n = int(self.headers["Content-Length"])
            form = urllib.parse.parse_qs(self.rfile.read(n).decode())
            state["creates"].append(form)
            self._send({"sid": "job42"})

        def do_GET(self):
            if "/results" in self.path:
                q = urllib.parse.parse_qs(urllib.parse.urlparse(self.path).query)
                off = int(q["offset"][0])
                state["result_offsets"].append(off)
                self._send({"results": pages.get(off, [])})
            elif "/services/search/jobs/job42" in self.path:
                state["polls"] += 1
                done = state["polls"] >= 2
                self._send(
                    {"entry": [{"content": {
                        "dispatchState": "DONE" if done else "RUNNING",
                        "isDone": done, "resultCount": 3}}]}
                )

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        src = SplunkSource(f"http://127.0.0.1:{srv.server_port}", token="tok")
        flt = compile_filter_spl(_filter_expr("c.logs | where level == 'error'"))
        spl = f"search index=logs {flt.search}"
        df = src.run_job(spark, spl)
        assert {r["n"] for r in df.collect()} == {1, 2, 3}
        # the SPL and reference form fields landed in the creation body
        form = state["creates"][0]
        assert form["search"] == [spl]
        assert form["output_mode"] == ["json"] and form["exec_mode"] == ["normal"]
        assert state["polls"] >= 2  # saw RUNNING before DONE
        assert state["result_offsets"] == [0, 2, 3]  # paged until empty
    finally:
        srv.shutdown()


def test_splunk_failed_job_raises(spark):
    import http.server
    import threading

    from miso_spark.sources.external import SplunkSource

    state = {"done": False}

    class Handler(http.server.BaseHTTPRequestHandler):
        def _send(self, obj):
            body = json.dumps(obj).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self):
            self.rfile.read(int(self.headers["Content-Length"]))
            self._send({"sid": "dead"})

        def do_GET(self):
            if "/services/search/jobs/dead" in self.path:
                self._send({"entry": [{"content": {
                    "dispatchState": "FAILED", "isDone": state["done"]}}]})
            else:
                self._send({"status": "ok"})

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        src = SplunkSource(f"http://127.0.0.1:{srv.server_port}")
        # Splunk also reports a failed job as done: FAILED wins over
        # isDone, or the job would read as an empty result
        for state["done"] in (False, True):
            with pytest.raises(RuntimeError, match="failed"):
                src.run_job(spark, "search index=x")
    finally:
        srv.shutdown()


# ---------------------------------------------------------------------------
# plan negotiation (miso-optimizations push_into_scan)


def test_negotiate_absorbs_prefix_until_refusal():
    from miso_spark.sources.pushdown import negotiate

    plan = parse_kql(
        "c.logs | where level == 'error' | project level, msg | take 10"
        " | where msg == 'x'"
    )
    h, residual = negotiate(plan, PushHandle())
    assert h.limit == 10
    assert h.source_includes == ("level", "msg")
    assert len(h.queries) == 1
    # the post-take filter must stay engine-side: the service would
    # evaluate it BEFORE the take (query precedes size)
    kinds = [type(s).__name__ for s in residual.steps]
    assert kinds == ["Scan", "Filter"]


def test_negotiate_stops_at_engine_side_step():
    from miso_spark.sources.pushdown import negotiate

    plan = parse_kql("c.logs | top 5 by ts desc | where level == 'error'")
    h, residual = negotiate(plan, PushHandle())
    assert h.sorts is not None and h.limit == 5
    # filter over top-n refused (quickwit.rs:1268) → stays engine-side
    kinds = [type(s).__name__ for s in residual.steps]
    assert kinds == ["Scan", "Filter"]


def test_negotiate_summarize_then_sort_keeps_sort_engine_side():
    from miso_spark.sources.pushdown import negotiate

    plan = parse_kql(
        "c.logs | summarize n = count() by level | sort by n desc"
    )
    h, residual = negotiate(plan, PushHandle())
    assert h.group_by == ("level",)
    kinds = [type(s).__name__ for s in residual.steps]
    assert kinds == ["Scan", "SortStep"]


def test_negotiate_raw_scan_absorbs_json_only():
    from miso_spark.sources.pushdown import negotiate

    raw = parse_kql("c.logs.raw('{\"query\": {\"match_all\": {}}}') | take 5")
    h, residual = negotiate(raw, PushHandle())
    assert h.raw_query == {"query": {"match_all": {}}}
    # nothing composes over raw (quickwit.rs:1270)
    kinds = [type(s).__name__ for s in residual.steps]
    assert kinds == ["ScanRaw", "Limit"]


def test_negotiate_end_to_end_over_the_wire(spark):
    """KQL → negotiate → Quickwit wire: the absorbed prefix becomes the
    request body, the residual plan is empty, rows come back."""
    from miso_spark.sources.external import QuickwitSource
    from miso_spark.sources.pushdown import negotiate

    stub = _QuickwitStub(pages=[[{"level": "error", "msg": "a"}], []])
    try:
        src = QuickwitSource(stub.url)
        plan = parse_kql("c.logs | where level == 'error' | take 2")
        h, residual = negotiate(plan, src.handle("logs"))
        assert len(residual.steps) == 1
        df = src.search(spark, "logs", h)
        assert [r["msg"] for r in df.collect()] == ["a"]
        path, body = next((p, b) for p, b in stub.requests if "/_search?" in p)
        assert "size=2" in path  # scroll page size capped by the limit
        assert body["size"] == 2
        assert body["query"]["bool"]["must"] == [
            {"term": {"level": {"value": "error"}}}
        ]
    finally:
        stub.shutdown()


def test_negotiate_count_end_to_end(spark):
    from miso_spark.sources.external import QuickwitSource
    from miso_spark.sources.pushdown import negotiate

    stub = _QuickwitStub(pages=[], count=77)
    try:
        src = QuickwitSource(stub.url)
        plan = parse_kql("c.logs | where level == 'error' | count")
        h, residual = negotiate(plan, src.handle("logs"))
        assert len(residual.steps) == 1 and h.count
        df = src.search(spark, "logs", h)
        assert [tuple(r) for r in df.collect()] == [(77,)]
        # the filter rode along to the _count route
        path, body = next((p, b) for p, b in stub.requests if "/_count" in p)
        assert body["query"]["bool"]["must"] == [
            {"term": {"level": {"value": "error"}}}
        ]
    finally:
        stub.shutdown()


def test_quickwit_fetch_indexes_populates_time_field():
    """GET /api/v1/indexes → timestamp fields bound into handles and
    exposed as @time static_fields (quickwit.rs:769,1113)."""
    from miso_spark.sources.external import QuickwitSource

    stub = _QuickwitStub(pages=[])
    stub_indexes = [
        {"index_config": {"index_id": "logs",
                          "doc_mapping": {"timestamp_field": "ts"}}},
        {"index_config": {"index_id": "audit", "doc_mapping": {}}},
    ]

    # extend the stub with the /api/v1/indexes route
    handler_cls = stub.server.RequestHandlerClass
    orig = handler_cls.do_GET

    def do_GET(self):
        if self.path == "/api/v1/indexes":
            self._send(stub_indexes)
        else:
            orig(self)

    handler_cls.do_GET = do_GET
    try:
        src = QuickwitSource(stub.url)
        got = src.fetch_indexes()
        assert got == {"logs": "ts", "audit": None}
        assert src.static_fields == {"logs": {"@time": "ts"}}
        assert src.handle("logs").timestamp_field == "ts"
        assert src.handle("audit").timestamp_field is None
    finally:
        handler_cls.do_GET = orig
        stub.shutdown()


# ---------------------------------------------------------------------------
# compiler integration: KQL against an external connector executes
# through negotiate() + the wire bridge, residual steps engine-side


def test_compiler_pushes_kql_into_quickwit(spark):
    from miso_spark.compiler import Compiler
    from miso_spark.sources import SourceRegistry
    from miso_spark.sources.external import QuickwitSource

    stub = _QuickwitStub(
        pages=[[{"level": "error", "msg": "boom", "n": 3},
                {"level": "error", "msg": "bad", "n": 1}], []]
    )
    try:
        reg = SourceRegistry(spark).register("qw", QuickwitSource(stub.url))
        df = Compiler(reg).run(
            parse_kql("qw.logs | where level == 'error' | take 10 | sort by n desc")
        )
        # where+take pushed to the service; sort stayed engine-side
        assert [r["msg"] for r in df.collect()] == ["boom", "bad"]
        path, body = next((p, b) for p, b in stub.requests if "/_search?" in p)
        assert body["query"]["bool"]["must"] == [
            {"term": {"level": {"value": "error"}}}
        ]
        assert body["size"] == 10
    finally:
        stub.shutdown()


def test_post_join_filter_reaches_right_side_wire_request(spark):
    """push_filter_into_join end-to-end (reference lib.rs:185): in
    `scan | join (scan b | project ..) on id | where b_field > 5` the
    b_field condition must ship in the RIGHT side's search request —
    not fetch the right side unfiltered and filter in the engine."""
    from miso_spark.compiler import Compiler
    from miso_spark.sources import SourceRegistry
    from miso_spark.sources.external import QuickwitSource

    stub = _QuickwitStub(
        pages=[[{"id": 1, "lf": "x"}], [],
               [{"id": 1, "b_field": 9}], []]
    )
    try:
        reg = SourceRegistry(spark).register("qw", QuickwitSource(stub.url))
        df = Compiler(reg).run(
            parse_kql(
                "qw.logs | join (qw.other | project b_field, id) on id"
                " | where b_field > 5"
            )
        )
        rows = [r.asDict() for r in df.collect()]
        assert rows == [{"id": 1, "lf": "x", "b_field": 9}]
        right_reqs = [
            b for p, b in stub.requests
            if "/other/_search" in p and b is not None
        ]
        assert right_reqs, [p for p, _ in stub.requests]
        assert {"range": {"b_field": {"gt": "5"}}} in right_reqs[0]["query"][
            "bool"
        ]["must"], right_reqs[0]
        # and the left side went out WITHOUT the right-side condition
        left_reqs = [
            b for p, b in stub.requests if "/logs/_search" in p
        ]
        assert all(
            not b or "b_field" not in json.dumps(b) for b in left_reqs
        ), left_reqs
    finally:
        stub.shutdown()


def test_compiler_pushes_count_into_quickwit(spark):
    from miso_spark.compiler import Compiler
    from miso_spark.sources import SourceRegistry
    from miso_spark.sources.external import QuickwitSource

    stub = _QuickwitStub(pages=[], count=321)
    try:
        reg = SourceRegistry(spark).register("qw", QuickwitSource(stub.url))
        df = Compiler(reg).run(parse_kql("qw.logs | count"))
        assert [tuple(r) for r in df.collect()] == [(321,)]
        assert df.columns == ["Count"]
        assert any("/_count" in p for p, _ in stub.requests)
    finally:
        stub.shutdown()


def test_es_handle_search_count_and_aggs(spark):
    """The ES flavor of the handle executes over ES routes: POST
    /{index}/_count for counts, nested-bucket decode for summarize."""
    import http.server
    import threading

    from miso_spark.sources.external import ElasticsearchSource

    seen = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def _send(self, obj):
            payload = json.dumps(obj).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def do_POST(self):
            n = int(self.headers["Content-Length"])
            body = json.loads(self.rfile.read(n))
            seen.append((self.path, body))
            if self.path.endswith("/_count"):
                self._send({"count": 9})
            else:
                self._send({
                    "hits": {"total": {"value": 9}},
                    "aggregations": {
                        "summarize_0": {"buckets": [
                            {"key": "x", "doc_count": 9, "s": {"value": 12.5}},
                        ]}
                    },
                })

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        src = ElasticsearchSource(f"http://127.0.0.1:{srv.server_port}")
        flt = _filter_expr("c.logs | where level == 'error'")
        cnt = src.handle("logs").apply_filter(flt).apply_count()
        df = src.search(spark, "logs", cnt)
        assert [tuple(r) for r in df.collect()] == [(9,)]
        path, body = seen[0]
        assert path == "/logs/_count"
        # ES flavor: minimum_should_match present in OR shapes; simple
        # term here but the bool/must stack is the ES body
        assert body["query"]["bool"]["must"][0] == {"term": {"level": {"value": "error"}}}

        step = _summarize_step("c.logs | summarize s = sum(v) by k")
        agg = src.handle("logs").apply_summarize(step)
        df = src.search(spark, "logs", agg)
        assert [(r["k"], r["s"]) for r in df.collect()] == [("x", 12.5)]
    finally:
        srv.shutdown()


def test_quickwit_agg_timestamp_conversion(spark):
    """quickwit.rs:905-931 parity: timestamp-field group keys arrive as
    epoch millis, min/max aggs over the timestamp field as epoch nanos
    — both surface as typed timestamps."""
    from miso_spark.sources.external import _quickwit_agg_timestamps

    step = _summarize_step("c.t | summarize first = min(ts), n = count() by ts")
    h = PushHandle(timestamp_field="ts").apply_summarize(step)
    assert h.agg_timestamp_fields == frozenset({"first"})
    assert h.group_ts_keys == frozenset({"ts"})
    # a RENAMED timestamp key converts by the by-expression's field,
    # not the output name (r11 fuzz find: `k = bin(@time, 1d)` came
    # back as raw epoch millis)
    renamed = PushHandle(timestamp_field="ts").apply_summarize(
        _summarize_step("c.t | summarize n = count() by k = bin(ts, 1h)")
    )
    assert renamed.group_ts_keys == frozenset({"k"})
    df = spark.createDataFrame(
        [(1700000000000, 1700000000123456789, 4)], "ts long, first long, n long"
    )
    out = _quickwit_agg_timestamps(df, h)
    row = out.collect()[0]
    assert str(row["ts"]).startswith("2023-11-14")
    assert str(row["first"]).startswith("2023-11-14")
    assert out.schema["ts"].dataType.typeName() == "timestamp"
    assert out.schema["first"].dataType.typeName() == "timestamp"


def test_timestamp_typed_nanos_exact(spark):
    """time_utils.rs parse_timestamp magnitude dispatch over hit rows:
    a NANOSECOND epoch must convert with integer arithmetic — routing
    through a double cast loses up to hundreds of nanoseconds above
    2^53 (ADVICE r9). 1700000000123456789 ns must land on exactly
    ...123456 micros, and each unit magnitude picks its branch."""
    from miso_spark.sources.external import _timestamp_typed

    df = spark.createDataFrame(
        [
            (1, 1700000000),  # seconds
            (2, 1700000000123),  # millis
            (3, 1700000000123456),  # micros
            (4, 1700000000123456789),  # nanos
        ],
        "id long, ts long",
    )
    out = {r["id"]: r["ts"] for r in _timestamp_typed(df, "ts").collect()}
    assert out[1].microsecond == 0
    assert out[2].microsecond == 123000
    assert out[3].microsecond == 123456
    assert out[4].microsecond == 123456  # exact: no double rounding
    assert all(str(v).startswith("2023-11-1") for v in out.values())


def test_splunk_previews_round_trip_live_wire():
    """Preview streaming (query_runner.rs:232): status_buckets in the
    creation form, results_preview rounds while RUNNING, final results
    on DONE."""
    import http.server
    import threading
    import urllib.parse

    from miso_spark.sources.external import SplunkSource

    state = {"polls": 0, "creates": []}
    previews = {1: [{"n": "1"}], 2: [{"n": "1"}, {"n": "2"}]}

    class Handler(http.server.BaseHTTPRequestHandler):
        def _send(self, obj):
            body = json.dumps(obj).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self):
            n = int(self.headers["Content-Length"])
            state["creates"].append(urllib.parse.parse_qs(self.rfile.read(n).decode()))
            self._send({"sid": "pv1"})

        def do_GET(self):
            if "/results_preview" in self.path:
                q = urllib.parse.parse_qs(urllib.parse.urlparse(self.path).query)
                page = previews.get(state["polls"], []) if int(q["offset"][0]) == 0 else []
                self._send({"results": page})
            elif "/results" in self.path:
                q = urllib.parse.parse_qs(urllib.parse.urlparse(self.path).query)
                page = [{"n": "1"}, {"n": "2"}, {"n": "3"}] if int(q["offset"][0]) == 0 else []
                self._send({"results": page})
            elif "/services/search/jobs/pv1" in self.path:
                state["polls"] += 1
                if state["polls"] <= 2:
                    self._send({"entry": [{"content": {
                        "dispatchState": "RUNNING", "isDone": False}}]})
                else:
                    self._send({"entry": [{"content": {
                        "dispatchState": "DONE", "isDone": True,
                        "resultCount": 3}}]})
            else:
                self._send({"status": "ok"})

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        src = SplunkSource(f"http://127.0.0.1:{srv.server_port}")
        rounds = list(src.run_job_with_previews("search index=x", preview_interval_s=0.05))
        assert state["creates"][0]["status_buckets"] == ["300"]
        kinds = [(k, rid, len(rows)) for k, rid, rows in rounds]
        assert kinds == [("partial", 0, 1), ("partial", 1, 2), ("final", 2, 3)]
    finally:
        srv.shutdown()


def test_compiler_pushes_kql_into_splunk(spark):
    """KQL against a Splunk connector compiles to SPL, runs the job
    protocol, and types the stats outputs (Splunk returns strings)."""
    import http.server
    import threading
    import urllib.parse

    from miso_spark.compiler import Compiler
    from miso_spark.sources import SourceRegistry
    from miso_spark.sources.external import SplunkSource

    state = {"spl": None, "polls": 0}

    class Handler(http.server.BaseHTTPRequestHandler):
        def _send(self, obj):
            body = json.dumps(obj).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self):
            n = int(self.headers["Content-Length"])
            form = urllib.parse.parse_qs(self.rfile.read(n).decode())
            state["spl"] = form["search"][0]
            self._send({"sid": "c1"})

        def do_GET(self):
            if "/results" in self.path:
                q = urllib.parse.parse_qs(urllib.parse.urlparse(self.path).query)
                page = (
                    [{"level": "error", "n": "7"}] if int(q["offset"][0]) == 0 else []
                )
                self._send({"results": page})
            elif "/services/search/jobs/c1" in self.path:
                self._send({"entry": [{"content": {
                    "dispatchState": "DONE", "isDone": True, "resultCount": 1}}]})
            else:
                self._send({"status": "ok"})

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        reg = SourceRegistry(spark).register(
            "sp", SplunkSource(f"http://127.0.0.1:{srv.server_port}")
        )
        df = Compiler(reg).run(
            parse_kql("sp.logs | where level == 'error' | summarize n = count() by level")
        )
        assert state["spl"] == (
            'search (index="logs") | search level=CASE("error")'
            " | stats count as n by level"
        )
        rows = df.collect()
        assert len(rows) == 1 and rows[0]["level"] == "error"
        assert rows[0]["n"] == 7.0  # numeric stats field typed from string
    finally:
        srv.shutdown()


def test_negotiate_pushes_same_connector_union():
    """push_union_into_scan.rs: identical sub-query on the same
    connector merges into one multi-index search; a differing sub-query
    stays engine-side."""
    from miso_spark.sources.external import QuickwitSource
    from miso_spark.sources.pushdown import negotiate

    src = QuickwitSource("http://x:1", timestamp_fields={"a": "ts", "b": "ts"})
    plan = parse_kql("qw.a | where level == 'err' | union (qw.b | where level == 'err') | take 9")
    h, residual = negotiate(plan, src.handle("a"), src)
    assert len(residual.steps) == 1
    assert h.collections == ("b",)
    assert h.indexes("a") == "a,b"
    assert h.limit == 9

    # different filter in the union arm → union (and the takes after
    # it) stay engine-side
    plan2 = parse_kql("qw.a | where level == 'err' | union (qw.b | where level == 'warn')")
    h2, residual2 = negotiate(plan2, src.handle("a"), src)
    kinds = [type(s).__name__ for s in residual2.steps]
    assert kinds == ["Scan", "Union"]
    assert h2.collections == ()


def test_compiler_raw_scan_ships_native_query_to_quickwit(spark):
    """`qw.logs.raw('{json}')` sends the native query verbatim
    (quickwit.rs:1552 raw_query) and the post-raw steps stay
    engine-side — nothing composes over a raw query."""
    from miso_spark.compiler import Compiler
    from miso_spark.sources import SourceRegistry
    from miso_spark.sources.external import QuickwitSource

    stub = _QuickwitStub(
        pages=[[{"msg": "a", "n": 2}, {"msg": "b", "n": 1}], []]
    )
    try:
        reg = SourceRegistry(spark).register("qw", QuickwitSource(stub.url))
        df = Compiler(reg).run(
            parse_kql('qw.logs.raw(\'{"query": {"match_all": {}}}\') | take 1')
        )
        assert df.count() == 1  # engine-side take over the raw results
        _, body = next((p, b) for p, b in stub.requests if "/_search" in p)
        assert body == {"query": {"match_all": {}}}
    finally:
        stub.shutdown()


def test_compiler_raw_scan_rejects_non_json_for_search_connectors(spark):
    import pytest as _pytest

    from miso_spark.compiler import Compiler
    from miso_spark.sources import SourceRegistry
    from miso_spark.sources.external import QuickwitSource

    reg = SourceRegistry(spark).register("qw", QuickwitSource("http://x:1"))
    with _pytest.raises(ValueError, match="raw query"):
        Compiler(reg).run(parse_kql("qw.logs.raw('SELECT 1') | take 1"))


def test_es_handle_search_scrolls_pages(spark):
    """ES handle hits path scrolls like the reference: begin on
    /{index}/_search?scroll=..&size=.., continue on /_search/scroll
    until an empty page (elasticsearch.rs:753,:784)."""
    import http.server
    import threading

    from miso_spark.sources.external import ElasticsearchSource

    seen = []
    pages = [[{"m": 1}, {"m": 2}], [{"m": 3}], []]

    class Handler(http.server.BaseHTTPRequestHandler):
        def _send(self, obj):
            payload = json.dumps(obj).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def do_GET(self):
            self._send({"status": "green"})

        def do_POST(self):
            n = int(self.headers["Content-Length"])
            seen.append((self.path, json.loads(self.rfile.read(n))))
            page = pages.pop(0) if pages else []
            self._send({"_scroll_id": "sc1",
                        "hits": {"hits": [{"_source": d} for d in page]}})

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        src = ElasticsearchSource(f"http://127.0.0.1:{srv.server_port}")
        h = src.handle("logs").apply_filter(_filter_expr("c.logs | where a == 1"))
        df = src.search(spark, "logs", h)
        assert sorted(r["m"] for r in df.collect()) == [1, 2, 3]
        assert seen[0][0].startswith("/logs/_search?scroll=30s&size=")
        assert seen[1][0] == "/_search/scroll"
        assert seen[1][1] == {"scroll": "30s", "scroll_id": "sc1"}
    finally:
        srv.shutdown()


def test_agg_limit_truncates_decoded_groups(spark):
    """'summarize ... by k | take N' where negotiate absorbed BOTH
    steps: the decoded groups truncate at the limit, as the reference's
    query_aggregation stops at limit (quickwit.rs:1101-1106)."""
    from miso_spark.sources.external import QuickwitSource

    agg_payload = {
        "hits": {"total": {"value": 10}},
        "aggregations": {
            f"{AGGREGATION_RESULTS_NAME}_0": {
                "buckets": [
                    {"key": "a", "doc_count": 6, "peak": {"value": 3.5}},
                    {"key": "b", "doc_count": 4, "peak": {"value": 1.0}},
                    {"key": "c", "doc_count": 1, "peak": {"value": 0.5}},
                ]
            }
        },
    }
    stub = _QuickwitStub(pages=[], aggregations=agg_payload)
    try:
        src = QuickwitSource(stub.url)
        step = _summarize_step("c.logs | summarize peak = max(v) by k")
        h = src.handle("logs").apply_summarize(step).apply_limit(2)
        assert h is not None and h.limit == 2
        df = src.search(spark, "logs", h)
        assert df.count() == 2
    finally:
        stub.shutdown()


def test_es_agg_limit_and_timestamp_typing(spark):
    """ES arm of the same truncation + the timestamp transforms the
    reference ES connector applies (elasticsearch.rs:882,:893 via
    value_to_datetime's magnitude detection): timestamp group keys AND
    min/max-over-time aggs come back as epoch MILLIS from ES — unlike
    Quickwit's nano-valued metric aggs — and surface typed."""
    import http.server
    import threading

    from miso_spark.sources.external import ElasticsearchSource

    class Handler(http.server.BaseHTTPRequestHandler):
        def _send(self, obj):
            payload = json.dumps(obj).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def do_GET(self):
            self._send({"status": "green"})

        def do_POST(self):
            self.rfile.read(int(self.headers["Content-Length"]))
            self._send({
                "hits": {"total": {"value": 7}},
                "aggregations": {
                    "summarize_0": {"buckets": [
                        {"key": 1700000000000, "doc_count": 4,
                         "first": {"value": 1700000000123.0}},
                        {"key": 1700086400000, "doc_count": 3,
                         "first": {"value": 1700086400123.0}},
                    ]}
                },
            })

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        src = ElasticsearchSource(
            f"http://127.0.0.1:{srv.server_port}",
            timestamp_fields={"logs": "ts"},
        )
        step = _summarize_step("c.logs | summarize first = min(ts) by ts")
        h = src.handle("logs").apply_summarize(step)
        df = src.search(spark, "logs", h)
        assert df.schema["ts"].dataType.typeName() == "timestamp"
        assert df.schema["first"].dataType.typeName() == "timestamp"
        assert all(str(r["ts"]).startswith("2023-11-1") for r in df.collect())
        # limit absorbed after the summarize truncates the groups
        df = src.search(spark, "logs", h.apply_limit(1))
        assert df.count() == 1
    finally:
        srv.shutdown()


def test_es_scroll_timestamp_field_typed(spark):
    """transform_log parity on the ES hits path (elasticsearch.rs:848):
    the index's timestamp field comes back as a string and surfaces as
    a typed timestamp column, like the Quickwit bridge."""
    import http.server
    import threading

    from miso_spark.sources.external import ElasticsearchSource

    pages = [[{"ts": "2023-11-14T22:13:20Z", "m": 1}], []]

    class Handler(http.server.BaseHTTPRequestHandler):
        def _send(self, obj):
            payload = json.dumps(obj).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def do_GET(self):
            self._send({"status": "green"})

        def do_POST(self):
            self.rfile.read(int(self.headers["Content-Length"]))
            page = pages.pop(0) if pages else []
            self._send({"_scroll_id": "sc1",
                        "hits": {"hits": [{"_source": d} for d in page]}})

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        src = ElasticsearchSource(
            f"http://127.0.0.1:{srv.server_port}",
            timestamp_fields={"logs": "ts"},
        )
        df = src.search(spark, "logs", src.handle("logs"))
        assert df.schema["ts"].dataType.typeName() == "timestamp"
        assert str(df.collect()[0]["ts"]).startswith("2023-11-14")
    finally:
        srv.shutdown()


def test_union_merges_nested_collections():
    """A nested union (scan a | union(scan b | union(scan c))) keeps
    every absorbed index: the inner handle's collections merge into the
    outer multi-index search instead of silently dropping."""
    flt = _filter_expr("c.t | where a == 1")
    inner = PushHandle(timestamp_field="ts").apply_filter(flt)
    inner = inner.apply_union(
        PushHandle(timestamp_field="ts").apply_filter(flt), "b", "c"
    )
    assert inner.collections == ("c",)
    outer = PushHandle(timestamp_field="ts").apply_filter(flt)
    merged = outer.apply_union(inner, "a", "b")
    assert merged is not None
    assert set(merged.collections) == {"b", "c"}
    assert merged.indexes("a") == "a,b,c"


def test_scroll_context_deleted_on_early_termination(spark):
    """When a limit truncates mid-scroll, both bridges DELETE the
    server-side scroll context instead of abandoning it until its
    timeout (it pins index segments)."""
    import http.server
    import threading

    from miso_spark.sources.external import ElasticsearchSource, QuickwitSource

    deletes = []

    class _Common(http.server.BaseHTTPRequestHandler):
        def _send(self, obj):
            payload = json.dumps(obj).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def _read(self):
            n = int(self.headers.get("Content-Length") or 0)
            return json.loads(self.rfile.read(n)) if n else None

        def do_DELETE(self):
            deletes.append((self.path, self._read()))
            self._send({"succeeded": True})

        def log_message(self, *a):
            pass

    class QwHandler(_Common):
        def do_GET(self):
            self._read()  # _search: one big page, scroll id present
            self._send({"_scroll_id": "qs1", "hits": {"hits": [
                {"_source": {"m": i}} for i in range(2)]}})

    class EsHandler(_Common):
        def do_POST(self):
            self._read()
            self._send({"_scroll_id": "es1", "hits": {"hits": [
                {"_source": {"m": i}} for i in range(2)]}})

    qw_srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), QwHandler)
    es_srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), EsHandler)
    threading.Thread(target=qw_srv.serve_forever, daemon=True).start()
    threading.Thread(target=es_srv.serve_forever, daemon=True).start()
    try:
        qw = QuickwitSource(f"http://127.0.0.1:{qw_srv.server_port}")
        df = qw.search(spark, "logs", qw.handle("logs").apply_limit(2))
        assert df.count() == 2
        assert deletes and deletes[-1] == (
            "/api/v1/_elastic/_search/scroll", {"scroll_id": "qs1"})

        deletes.clear()
        es = ElasticsearchSource(f"http://127.0.0.1:{es_srv.server_port}")
        df = es.search(spark, "logs", es.handle("logs").apply_limit(2))
        assert df.count() == 2
        assert deletes and deletes[-1] == (
            "/_search/scroll", {"scroll_id": ["es1"]})
    finally:
        qw_srv.shutdown()
        es_srv.shutdown()


def test_es_sliced_scroll_distributed_fetch(spark):
    """slices > 1 moves the ES hits fetch onto Spark tasks via sliced
    scrolls (the engine-side split_scan_to_union.rs: each slice is a
    Spark partition, the union is the RDD): every slice opens its own
    scroll with the right {id, max}, pages it dry, frees the context —
    and the union equals the single-scroll result."""
    import http.server
    import threading

    from miso_spark.sources.external import ElasticsearchSource

    docs = [{"m": i, "k": f"d{i}"} for i in range(10)]
    state = {"scrolls": {}, "searches": [], "deletes": []}
    lock = threading.Lock()

    class Handler(http.server.BaseHTTPRequestHandler):
        def _send(self, obj):
            payload = json.dumps(obj).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def _read(self):
            n = int(self.headers.get("Content-Length") or 0)
            return json.loads(self.rfile.read(n)) if n else None

        def do_GET(self):
            self._send({"status": "green"})

        def do_DELETE(self):
            with lock:
                state["deletes"].append(self._read())
            self._send({"succeeded": True})

        def do_POST(self):
            body = self._read()
            with lock:
                if "/_search/scroll" not in self.path:
                    # new scroll: serve this slice's share in 2-doc pages
                    sl = body.get("slice", {"id": 0, "max": 1})
                    state["searches"].append(sl)
                    share = [d for d in docs if d["m"] % sl["max"] == sl["id"]]
                    sid = f"s{sl['id']}"
                    state["scrolls"][sid] = share[2:]
                    self._send({"_scroll_id": sid, "hits": {"hits": [
                        {"_source": d} for d in share[:2]]}})
                else:
                    sid = body["scroll_id"]
                    rest = state["scrolls"].get(sid, [])
                    state["scrolls"][sid] = rest[2:]
                    self._send({"_scroll_id": sid, "hits": {"hits": [
                        {"_source": d} for d in rest[:2]]}})

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        flt = _filter_expr("c.logs | where m >= 0")
        sliced = ElasticsearchSource(f"http://127.0.0.1:{srv.server_port}", slices=3)
        df = sliced.search(spark, "logs", sliced.handle("logs").apply_filter(flt))
        got = sorted(r["m"] for r in df.collect())
        assert got == list(range(10))
        assert sorted((s["id"], s["max"]) for s in state["searches"]) == [
            (0, 3), (1, 3), (2, 3)]
        # every slice freed its scroll context
        assert sorted(d["scroll_id"][0] for d in state["deletes"]) == ["s0", "s1", "s2"]

        # single-scroll result is identical
        state["searches"].clear()
        plain = ElasticsearchSource(f"http://127.0.0.1:{srv.server_port}")
        df2 = plain.search(spark, "logs", plain.handle("logs").apply_filter(flt))
        assert sorted(r["m"] for r in df2.collect()) == got

        # an absorbed limit bounds each slice and the final result
        df3 = sliced.search(
            spark, "logs", sliced.handle("logs").apply_filter(flt).apply_limit(4))
        assert df3.count() == 4
    finally:
        srv.shutdown()


def test_static_fields_replaced_in_pushdown_and_restored_on_rows(spark):
    """FieldReplacer parity (push_into_scan/mod.rs:27): a filter on the
    visible ``@time`` ships against the connector's real timestamp
    column, and the returned rows surface the visible name again for
    residual engine-side steps — exactly like the batch scan path."""
    import http.server
    import threading

    from miso_spark.compiler import Compiler
    from miso_spark.sources import SourceRegistry
    from miso_spark.sources.external import QuickwitSource

    reqs = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def _send(self, obj):
            payload = json.dumps(obj).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def do_GET(self):
            n = int(self.headers.get("Content-Length") or 0)
            body = json.loads(self.rfile.read(n)) if n else None
            reqs.append((self.path, body))
            if "/_search" in self.path:
                self._send({"hits": {"hits": [
                    {"_source": {"ts": "2024-01-02T00:00:00Z", "m": 1}}]}})
            else:
                self._send({})

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        src = QuickwitSource(f"http://127.0.0.1:{srv.server_port}",
                             timestamp_fields={"logs": "ts"})
        src.static_fields = {"logs": {"@time": "ts"}}
        reg = SourceRegistry(spark).register("qw", src)
        df = Compiler(reg).run(parse_kql(
            "qw.logs | where @time > datetime(2024-01-01) | project @time, m"
        ))
        assert set(df.columns) == {"@time", "m"}
        assert df.count() == 1
        body = next(b for p, b in reqs if b and "query" in b)
        # the wire filter references the service's real column
        assert body["query"]["bool"]["must"][0] == {
            "range": {"ts": {"gt": "2024-01-01T00:00:00"}}}
    finally:
        srv.shutdown()


def test_case_filter_pushes_after_transform(spark):
    """Case-transform fallback (push_into_scan/mod.rs:54-59 +
    case_transformer.rs): a filter containing iff()/case() — which the
    query DSL can't express — rewrites to guarded ORs with constants
    folded, and THEN pushes down."""
    from miso_spark.sources.case_transform import case_transform
    from miso_spark.sources.es_dsl import compile_filter

    # the reference's own example: case(id>20,100, id>10,50, 0)*5 < 10
    expr = _filter_expr(
        "c.t | where case(id > 20, 100, id > 10, 50, 0) * 5 < 10"
    )
    assert compile_filter(expr) is None  # raw case → refused
    rewritten = case_transform(expr)
    dsl = compile_filter(rewritten)
    assert dsl is not None
    # the raw handle still refuses — the retry lives in negotiate(),
    # like the reference's optimizer-level fallback
    assert PushHandle().apply_filter(expr) is None
    # wire round-trip: the pushed query matches only rows where the
    # case would have evaluated to 0 (id <= 10)
    stub = _QuickwitStub(pages=[[{"id": 5}], []])
    try:
        from miso_spark.compiler import Compiler
        from miso_spark.sources import SourceRegistry
        from miso_spark.sources.external import QuickwitSource

        reg = SourceRegistry(spark).register(
            "qw", QuickwitSource(stub.url))
        df = Compiler(reg).run(parse_kql(
            "qw.t | where case(id > 20, 100, id > 10, 50, 0) * 5 < 10"))
        assert [r["id"] for r in df.collect()] == [5]
        body = next(b for p, b in stub.requests if b and "query" in b)
        must = body["query"]["bool"]["must"]
        assert must, must  # a real filter went out, not a full scan
    finally:
        stub.shutdown()


def test_quickwit_index_discovery_refreshes_lazily():
    """refresh_indexes_at_interval parity (quickwit.rs:793, 1m default):
    once discovery has run, a stale mapping refetches on next handle();
    within the window the cached mapping serves; a refresh failure
    keeps the last-known mapping."""
    from miso_spark.sources.external import QuickwitSource

    stub = _QuickwitStub(pages=[])
    payloads = [
        [{"index_config": {"index_id": "logs",
                           "doc_mapping": {"timestamp_field": "ts"}}}],
        [{"index_config": {"index_id": "logs",
                           "doc_mapping": {"timestamp_field": "ts2"}}}],
    ]
    handler_cls = stub.server.RequestHandlerClass
    orig = handler_cls.do_GET

    def do_GET(self):
        if self.path == "/api/v1/indexes":
            self._send(payloads.pop(0) if payloads else [])
        else:
            orig(self)

    handler_cls.do_GET = do_GET
    try:
        src = QuickwitSource(stub.url)
        src.fetch_indexes()
        assert src.handle("logs").timestamp_field == "ts"  # cached, fresh
        src._indexes_fetched_at -= src.indexes_refresh_s + 1  # age it
        assert src.handle("logs").timestamp_field == "ts2"  # refetched
        # failure after staleness: last-known mapping survives
        src._indexes_fetched_at -= src.indexes_refresh_s + 1
        handler_cls.do_GET = lambda self: (_ for _ in ()).throw(OSError("down"))
        assert src.handle("logs").timestamp_field == "ts2"
    finally:
        handler_cls.do_GET = orig
        stub.shutdown()


def test_quickwit_sliced_scroll_distributed_fetch(spark):
    """slices > 1 moves the Quickwit hits fetch onto Spark tasks —
    the ES sliced-scroll path ported to Quickwit's ES-compatible
    surface (quickwit.rs:655 search / :694 scroll routes): every slice
    opens its own scroll with the right {id, max} on the
    /api/v1/_elastic paths, pages it dry, frees the context with the
    bare-id DELETE body, and the union equals the driver-side result."""
    import http.server
    import threading

    from miso_spark.sources.external import QuickwitSource

    docs = [{"m": i, "k": f"d{i}"} for i in range(10)]
    state = {"scrolls": {}, "searches": [], "deletes": [], "paths": []}
    lock = threading.Lock()

    class Handler(http.server.BaseHTTPRequestHandler):
        def _send(self, obj):
            payload = json.dumps(obj).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def _read(self):
            n = int(self.headers.get("Content-Length") or 0)
            return json.loads(self.rfile.read(n)) if n else None

        def do_DELETE(self):
            with lock:
                state["deletes"].append(self._read())
            self._send({"succeeded": True})

        def do_GET(self):
            body = self._read()
            with lock:
                state["paths"].append(self.path.split("?")[0])
                if "/_search/scroll" not in self.path:
                    sl = (body or {}).get("slice", {"id": 0, "max": 1})
                    state["searches"].append(sl)
                    share = [d for d in docs if d["m"] % sl["max"] == sl["id"]]
                    sid = f"qs{sl['id']}"
                    state["scrolls"][sid] = share[2:]
                    self._send({"_scroll_id": sid, "hits": {"hits": [
                        {"_source": d} for d in share[:2]]}})
                else:
                    sid = body["scroll_id"]
                    rest = state["scrolls"].get(sid, [])
                    state["scrolls"][sid] = rest[2:]
                    self._send({"_scroll_id": sid, "hits": {"hits": [
                        {"_source": d} for d in rest[:2]]}})

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        flt = _filter_expr("c.logs | where m >= 0")
        sliced = QuickwitSource(f"http://127.0.0.1:{srv.server_port}", slices=3)
        df = sliced.search(spark, "logs", sliced.handle("logs").apply_filter(flt))
        got = sorted(r["m"] for r in df.collect())
        assert got == list(range(10))
        assert sorted((s["id"], s["max"]) for s in state["searches"]) == [
            (0, 3), (1, 3), (2, 3)]
        # all traffic stayed on the ES-compatible Quickwit routes
        assert set(state["paths"]) == {
            "/api/v1/_elastic/logs/_search", "/api/v1/_elastic/_search/scroll"}
        # every slice freed its context, bare-id DELETE body (Quickwit
        # shape — not the ES list form)
        assert sorted(d["scroll_id"] for d in state["deletes"]) == [
            "qs0", "qs1", "qs2"]
        # the fetch RDD is tracked for adoption/unpersist by the run
        assert len(sliced._pending_persisted) == 1
        sliced.release_cached()
        assert sliced._pending_persisted == []

        # single-scroll driver path returns the identical row set
        state["searches"].clear()
        plain = QuickwitSource(f"http://127.0.0.1:{srv.server_port}")
        df2 = plain.search(spark, "logs", plain.handle("logs").apply_filter(flt))
        assert sorted(r["m"] for r in df2.collect()) == got

        # an absorbed limit bounds each slice and the final result
        df3 = sliced.search(
            spark, "logs", sliced.handle("logs").apply_filter(flt).apply_limit(4))
        assert df3.count() == 4
        sliced.release_cached()

        # absorbed top-n (order-sensitive) keeps the driver path: no
        # slice parameter goes out
        state["searches"].clear()
        from miso_spark.plan import Sort
        h = sliced.handle("logs").apply_topn((Sort("m"),), 3)
        df4 = sliced.search(spark, "logs", h)
        assert df4.count() == 3
        assert all(s == {"id": 0, "max": 1} for s in state["searches"])
    finally:
        srv.shutdown()


def test_splunk_distributed_offset_fetch(spark):
    """slices > 1 distributes a finished Splunk job's results fetch
    across Spark tasks as contiguous offset/count ranges — the
    parallelized form of query_runner.rs:375's driver paging loop.
    Each task sends the same offset/count GETs the driver would, the
    union equals the driver-side result, and a result set within one
    page keeps the driver path."""
    import http.server
    import threading
    import urllib.parse

    from miso_spark.sources.external import SplunkSource

    docs = [{"n": i, "k": f"r{i}"} for i in range(10)]
    state = {"fetches": [], "creates": 0}
    lock = threading.Lock()

    class Handler(http.server.BaseHTTPRequestHandler):
        def _send(self, obj):
            payload = json.dumps(obj).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def do_POST(self):
            self.rfile.read(int(self.headers.get("Content-Length") or 0))
            with lock:
                state["creates"] += 1
            self._send({"sid": "job7"})

        def do_GET(self):
            if "/results" in self.path:
                q = urllib.parse.parse_qs(urllib.parse.urlparse(self.path).query)
                off, cnt = int(q["offset"][0]), int(q["count"][0])
                with lock:
                    state["fetches"].append((off, cnt))
                self._send({"results": docs[off:off + cnt]})
            elif "/services/search/jobs/job7" in self.path:
                self._send({"entry": [{"content": {
                    "dispatchState": "DONE", "isDone": True,
                    "resultCount": len(docs)}}]})

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        sliced = SplunkSource(f"http://127.0.0.1:{srv.server_port}",
                              token="tok", slices=3)
        sliced.batch_size = 2  # page size below resultCount → distribute
        df = sliced.run_job(spark, 'search (index="logs")')
        got = sorted(r["n"] for r in df.collect())
        assert got == list(range(10))
        # ceil(10/3)=4 per range → (0,4) (4,8) (8,10), paged in 2s:
        # every offset/count pair a driver loop over each range would send
        assert sorted(state["fetches"]) == [
            (0, 2), (2, 2), (4, 2), (6, 2), (8, 2)]
        assert len(sliced._pending_persisted) == 1
        sliced.release_cached()

        # driver path (slices=1) returns the identical row set
        state["fetches"].clear()
        plain = SplunkSource(f"http://127.0.0.1:{srv.server_port}", token="tok")
        plain.batch_size = 2
        df2 = plain.run_job(spark, 'search (index="logs")')
        assert sorted(r["n"] for r in df2.collect()) == got
        assert plain._pending_persisted == []

        # a result set that fits one page keeps the driver path
        state["fetches"].clear()
        small = SplunkSource(f"http://127.0.0.1:{srv.server_port}",
                             token="tok", slices=3)
        small.batch_size = 1000
        df3 = small.run_job(spark, 'search (index="logs")')
        assert df3.count() == 10
        assert small._pending_persisted == []
    finally:
        srv.shutdown()


def test_compiler_adopts_sliced_fetch_rdd_into_run_ledger(spark):
    """A KQL query over a sliced connector runs the distributed fetch
    through the compiler, which adopts the persisted fetch RDD into the
    run's cache ledger — release() unpersists it (no CacheManager leak
    per query)."""
    import http.server
    import threading

    from miso_spark.compiler import Compiler
    from miso_spark.kql import parse_kql
    from miso_spark.sources import SourceRegistry
    from miso_spark.sources.external import QuickwitSource

    docs = [{"m": i} for i in range(6)]

    class Handler(http.server.BaseHTTPRequestHandler):
        def _send(self, obj):
            payload = json.dumps(obj).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def _read(self):
            n = int(self.headers.get("Content-Length") or 0)
            return json.loads(self.rfile.read(n)) if n else None

        def do_DELETE(self):
            self._read()
            self._send({"succeeded": True})

        def do_GET(self):
            body = self._read()
            if "/_search/scroll" in self.path:
                self._send({"hits": {"hits": []}})
            else:
                sl = (body or {}).get("slice", {"id": 0, "max": 1})
                share = [d for d in docs if d["m"] % sl["max"] == sl["id"]]
                self._send({"_scroll_id": f"s{sl['id']}", "hits": {"hits": [
                    {"_source": d} for d in share]}})

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        reg = SourceRegistry(spark).register(
            "qw", QuickwitSource(f"http://127.0.0.1:{srv.server_port}", slices=2)
        )
        comp = Compiler(reg)
        df, ctx = comp.run_with_caches(parse_kql("qw.logs"))
        # the fetch RDD moved source → ledger (ownership transfer)
        assert reg.source("qw")._pending_persisted == []
        assert len(ctx.persisted) == 1
        assert sorted(r["m"] for r in df.collect()) == [0, 1, 2, 3, 4, 5]
        ctx.release()
        assert ctx.persisted == []
    finally:
        srv.shutdown()


def test_union_branches_get_pushed_filter_over_the_wire(spark):
    """push_steps_into_union parity end-to-end: a filter after a union
    the connector CANNOT merge (different timestamp fields, so
    apply_union refuses) copies into each branch, and BOTH branch
    search requests ship it — the heterogeneous-union scale path."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(__file__))
    from search_stubs import QuickwitStub

    from miso_spark.compiler import Compiler
    from miso_spark.kql import parse_kql
    from miso_spark.sources import SourceRegistry
    from miso_spark.sources.external import QuickwitSource

    docs = {
        "stack": [{"user": "a", "creationDate": "2024-01-01T00:00:00Z"},
                  {"user": "b", "creationDate": "2024-01-02T00:00:00Z"}],
        "hdfs": [{"user": "a", "timestamp": 1700000000},
                 {"user": "c", "timestamp": 1700000001}],
    }
    ts = {"stack": "creationDate", "hdfs": "timestamp"}
    stub = QuickwitStub(docs, ts)
    try:
        src = QuickwitSource(stub.url, timestamp_fields=dict(ts))
        reg = SourceRegistry(spark).register("test", src)
        df = Compiler(reg).run(
            parse_kql('test.stack | union (test.hdfs) | where user == "a"')
        )
        rows = df.collect()
        assert len(rows) == 2  # one "a" from each branch
        # every branch's wire request carried the term filter
        searched = {idx: body for idx, body in stub.core.search_requests}
        assert set(searched) == {"stack", "hdfs"}
        for body in searched.values():
            assert {"term": {"user": {"value": "a"}}} in body["query"]["bool"]["must"]
    finally:
        stub.shutdown()


@pytest.mark.parametrize("branch", ["m.b", "n.b"])
def test_union_summarize_split_once_through_compiler(spark, monkeypatch, branch):
    """A summarize after a union splits into per-branch partials and one
    merge copy exactly once through Compiler.run, whether the union
    merges into one multi-index search (same connector, m.b) or stays
    engine-side with its own per-branch request (n.b): every residual
    the compiler executes holds at most one partial summarize in the
    main stream and in each branch, and the rows equal a memory-source
    run."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(__file__))
    from search_stubs import QuickwitStub

    import miso_spark.sources.pushdown as pd
    from miso_spark.compiler import Compiler
    from miso_spark.sources import MemorySource, SourceRegistry
    from miso_spark.sources.external import QuickwitSource

    a = [{"id": i, "x": i % 5, "g": f"g{i % 3}"} for i in range(12)]
    b = [{"id": 100 + i, "x": i % 4} for i in range(7)]
    q = (
        f"m.a | union ({branch}) | extend e1 = 7 | project e1, g, id"
        " | summarize mx = max(e1), n = count() by b = bin(id, 2)"
    )
    residuals = []
    negotiate = pd.negotiate_to_fixpoint

    def spy(plan, handle, source=None):
        handle, residual = negotiate(plan, handle, source)
        residuals.append(residual)
        return handle, residual

    monkeypatch.setattr(pd, "negotiate_to_fixpoint", spy)

    def rows(reg):
        return sorted(
            (float(r["b"]), r["mx"], r["n"])
            for r in Compiler(reg).run(parse_kql(q)).collect()
        )

    def partials(steps):
        return sum(isinstance(s, P.SummarizeStep) and s.partial for s in steps)

    stub = QuickwitStub({"a": a, "b": b})
    try:
        got = rows(
            SourceRegistry(spark)
            .register("m", QuickwitSource(stub.url))
            .register("n", QuickwitSource(stub.url))
        )
    finally:
        stub.shutdown()
    mem = MemorySource()
    for name, docs in (("a", a), ("b", b)):
        mem.put(name, spark.read.json(
            spark.sparkContext.parallelize([json.dumps(d) for d in docs])))
    assert got == rows(SourceRegistry(spark).register("m", mem).register("n", mem))
    assert residuals
    for res in residuals:
        assert partials(res.steps) <= 1, res
        for s in res.steps:
            if isinstance(s, P.Union):
                assert partials(s.sub.steps) <= 1, res


def test_identical_topn_reabsorb_keeps_zero_limit():
    """take 0 absorbed between two identical top-ns must stay 0 — the
    falsy-zero `or` bug reset it to n."""
    top = parse_kql("c.t | top 5 by ts").steps[1]
    h = PushHandle().apply_topn(top.sorts, top.n).apply_limit(0)
    again = h.apply_topn(top.sorts, top.n)
    assert again is not None and again.limit == 0


def test_partial_minmax_summarize_stays_engine_side():
    """r13→14 ADVICE (medium): a union-split min/max PARTIAL must not
    be wire-absorbed. The engine compiles a partial's min/max outputs
    with MISSING_AS_NULL_MD so an empty-state NULL stays missing
    through a variant lift and the merge skips it (summarize.rs:493
    Option::None); a wire-decoded frame carries only
    WIRE_NULL_IS_MISSING_MD, which the lift does not read — in a
    mixed wire+dynamic union the empty partial would become a present
    VOID null and win the merged min. negotiate refuses, like the
    keep_null_keys dcount-partial gate."""
    from miso_spark.sources.pushdown import negotiate

    plan = parse_kql("c.t | summarize mn = min(v), mx = max(v) by k")
    summ = plan.steps[-1]
    partial = replace(summ, partial=True)

    # sanity: the NON-partial form absorbs fully
    h, residual = negotiate(plan, PushHandle())
    assert [type(s).__name__ for s in residual.steps] == ["Scan"]

    h2, residual2 = negotiate(
        P.Plan((plan.steps[0], partial)), PushHandle()
    )
    assert any(
        isinstance(s, P.SummarizeStep) and s.partial for s in residual2.steps
    ), residual2.steps

    # a partial WITHOUT min/max (sum/count split) still absorbs — the
    # empty identities (0 / 0.0) need no missing-state channel
    plan3 = parse_kql("c.t | summarize s = sum(v), n = count() by k")
    partial3 = replace(plan3.steps[-1], partial=True)
    h3, residual3 = negotiate(P.Plan((plan3.steps[0], partial3)), PushHandle())
    assert [type(s).__name__ for s in residual3.steps] == ["Scan"]
