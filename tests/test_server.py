"""HTTP/SSE server tests — the reference's curl workflow against our
server: POST /query streams SSE data frames, /explain, connector and
view management."""

from __future__ import annotations

import json
import time
import urllib.request

import pytest

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def server(spark):
    from miso_spark.server import MisoServer

    srv = MisoServer(spark, port=0)
    srv.add_connector("t", {"type": "parquet_dir", "path": SF_DIR})
    srv.start_background()
    yield srv
    srv.shutdown()


def _post(server, path, body):
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}{path}",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
    )
    return urllib.request.urlopen(req)


def _get(server, path):
    return urllib.request.urlopen(f"http://127.0.0.1:{server.port}{path}")


def test_health_and_metrics(server):
    assert json.load(_get(server, "/health")) == {"status": "ok"}
    assert "queries_total" in json.load(_get(server, "/metrics"))


def test_query_streams_sse(server):
    resp = _post(server, "/query", {"query": "t.region | sort by r_regionkey"})
    assert resp.headers["Content-Type"] == "text/event-stream"
    assert resp.headers["X-Query-Id"]
    rows, done = [], False
    for raw in resp:
        line = raw.decode().strip()
        if line.startswith("data: ") and not done:
            rows.append(json.loads(line[6:]))
        elif line.startswith("event: done"):
            done = True
    assert done
    assert [r["r_regionkey"] for r in rows[:5]] == [0, 1, 2, 3, 4]


def test_readme_style_pipeline_query(server):
    """The reference README's query shape: union + summarize + bin +
    join + top, over our connectors."""
    q = """
    t.events
    | union (t.events | where event_type == 'error')
    | where ts > datetime(2024-01-02) - 1d
    | summarize minUser = min(user_id), maxUser = max(user_id),
                cnt = countif(value between (50 .. 100))
      by bin(ts, 1h)
    | join (t.events | where user_id > 3) on $left.minUser == $right.user_id
    | top 10 by cnt desc
    """
    resp = _post(server, "/query", {"query": q})
    rows = [json.loads(l.decode()[6:]) for l in resp if l.decode().startswith("data: ")]
    assert 0 < len(rows) <= 10 * 1000  # join can fan out; top caps pre-join rows
    assert {"minUser", "maxUser", "cnt", "ts"} <= set(rows[0])


def test_explain_endpoint(server):
    resp = _post(server, "/explain", {"query": "t.orders | top 3 by o_totalprice desc"})
    plan = json.load(resp)["plan"]
    assert "TakeOrderedAndProject" in plan


def test_views_lifecycle(server):
    _post(server, "/views/big_orders", {"query": "t.orders | where o_totalprice > 300000"})
    assert json.load(_get(server, "/views/big_orders"))["query"]
    resp = _post(server, "/query", {"query": "big_orders | count"})
    rows = [json.loads(l.decode()[6:]) for l in resp if l.decode().startswith("data: ")]
    assert rows[0]["Count"] > 0
    urllib.request.urlopen(
        urllib.request.Request(
            f"http://127.0.0.1:{server.port}/views/big_orders", method="DELETE"
        )
    )
    assert json.load(_get(server, "/views")) == {}


def test_cli_remote_mode_and_table_format(server):
    """The CLI client (miso-tui analog) against the live server."""
    from miso_spark.cli import format_table, run_remote, stream_remote

    url = f"http://127.0.0.1:{server.port}"
    rows = run_remote(url, "t.region | sort by r_regionkey | project r_regionkey, r_name")
    assert [r["r_regionkey"] for r in rows[:3]] == [0, 1, 2]
    table = format_table(rows)
    assert "r_regionkey" in table and f"({len(rows)} rows)" in table

    with pytest.raises(RuntimeError, match="error|CALC|divide|Division"):
        # runtime error after headers → in-band SSE error frame → raised
        list(stream_remote(url, "t.region | project x = 1 / (r_regionkey - r_regionkey)"))


def test_partial_stream_progressive_aggregates(server, spark, tmp_path):
    """partial_stream (http_server.rs:111, partial_stream.rs): ≥2
    partial rounds (tagged + done-marked), then a final frame equal to
    the batch result."""
    # multi-file collection → one streaming trigger per file
    src = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    src.repartition(3).write.parquet(str(tmp_path / "orders3.parquet"))
    _post(server, "/connectors/pstream", {"type": "parquet_dir", "path": str(tmp_path)})

    resp = _post(
        server,
        "/query",
        {
            "query": "pstream.orders3 | summarize n = count() by o_orderstatus",
            "partial_stream": {"debounce": 0},
        },
    )
    partial_rounds, markers, final_rows, done = {}, [], [], False
    for raw in resp:
        line = raw.decode().strip()
        if line.startswith("event: done"):
            done = True
        elif line.startswith("data: ") and not done:
            obj = json.loads(line[6:])
            meta = obj.get("_miso_metadata")
            if meta is None:
                final_rows.append(obj)
            elif meta.get("done"):
                markers.append(meta["id"])
            else:
                partial_rounds.setdefault(meta["id"], []).append(obj)

    assert done
    assert len(partial_rounds) >= 2, partial_rounds  # 3 files → 3 rounds
    assert sorted(markers) == sorted(partial_rounds)
    # final frame equals the batch answer
    expected = {
        (r["o_orderstatus"], r["count"])
        for r in src.groupBy("o_orderstatus").count().collect()
    }
    got = {(r["o_orderstatus"], r["n"]) for r in final_rows}
    assert got == expected
    # each partial round's counts are <= final (monotone accumulation)
    final_by_status = dict(expected)
    for rows in partial_rounds.values():
        for r in rows:
            assert r["n"] <= final_by_status[r["o_orderstatus"]]


def test_partial_stream_dcount_over_sse(server, spark, tmp_path):
    """r11: exact dcount partial-streams via the split model (Spark
    refuses distinct aggs on streams — the SSE path crashed before).
    Final frame must equal the batch dcount."""
    src = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    src.repartition(3).write.parquet(str(tmp_path / "orders3.parquet"))
    _post(server, "/connectors/pdc", {"type": "parquet_dir", "path": str(tmp_path)})

    resp = _post(
        server,
        "/query",
        {
            "query": (
                "pdc.orders3 | summarize dc = dcount(o_custkey),"
                " n = count() by o_orderstatus"
            ),
            "partial_stream": {"debounce": 0},
        },
    )
    final_rows, done = [], False
    for raw in resp:
        line = raw.decode().strip()
        if line.startswith("event: done"):
            done = True
        elif line.startswith("data: ") and not done:
            obj = json.loads(line[6:])
            if obj.get("_miso_metadata") is None:
                final_rows.append(obj)
    assert done
    from pyspark.sql import functions as F

    expected = {
        (r["o_orderstatus"], r["dc"], r["n"])
        for r in src.groupBy("o_orderstatus")
        .agg(
            F.count_distinct("o_custkey").alias("dc"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    got = {(r["o_orderstatus"], r["dc"], r["n"]) for r in final_rows}
    assert got == expected


def test_connector_management_and_errors(server):
    _post(server, "/connectors/extra", {"type": "parquet_dir", "path": SF_DIR})
    assert "extra" in json.load(_get(server, "/connectors"))
    # external connector types register (reference config.json parity)
    # but fail at connect time when a query touches them
    _post(server, "/connectors/qw", {"type": "quickwit", "url": "http://localhost:7280"})
    assert "qw" in json.load(_get(server, "/connectors"))
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(server, "/query", {"query": "qw.logs | count"})
    assert ei.value.code == 400
    assert "not reachable" in json.load(ei.value)["error"]
    # bad KQL → 400 with message
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(server, "/query", {"query": "t.orders | frobnicate"})
    assert ei.value.code == 400
    assert "error" in json.load(ei.value)


def test_query_status_collection(spark):
    """query_status.rs parity: a configured query_status_collection
    records planning→running→success / internal_error rows, upserted by
    query id with the reference's field names — and the history is
    itself queryable through the engine."""
    from miso_spark.server import MisoServer

    srv = MisoServer(spark, port=0, query_status_collection="mem.query_status")
    srv.add_connector("t", {"type": "parquet_dir", "path": SF_DIR})
    srv.start_background()
    try:
        ok = _post(srv, "/query", {"query": "t.region | count", "query_id": "q-ok"})
        assert any(l.startswith(b"event: done") for l in ok)

        import urllib.error

        with pytest.raises(urllib.error.HTTPError):
            _post(srv, "/query", {"query": "t.region | bogus_step", "query_id": "q-bad"})

        rows = {
            r["id"]: r
            for r in srv.miso.query(
                "mem.query_status | project id, status, error, run_time_secs"
            ).collect()
        }
        assert rows["q-ok"]["status"] == "success"
        assert rows["q-ok"]["error"] is None
        assert rows["q-ok"]["run_time_secs"] >= 0
        assert rows["q-bad"]["status"] == "internal_error"
        assert rows["q-bad"]["error"]  # the parse failure is recorded
    finally:
        srv.shutdown()


def test_query_jobs_all_run_in_query_job_group(server, spark):
    """Source resolution of a collection not yet scanned (or changed
    on disk) runs a Spark job (the parquet schema read); it must run
    inside the query's ``miso-query-<id>`` group like the rest of the
    query, so a client disconnect cancels it and per-query counts
    include it. A fresh connector has an empty scan memo, so the first
    query's scan is cold and its group holds more jobs than the same
    query's warm repeat; neither adds a job without a group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    server.add_connector("cold", {"type": "parquet_dir", "path": SF_DIR})

    def query_jobs(fence: str) -> list[int]:
        before = set(tracker.getJobIdsForGroup(None))
        resp = _post(server, "/query", {"query": "cold.region | count"})
        qid = resp.headers["X-Query-Id"]
        assert b"event: done" in resp.read()
        # fence: the status store applies job events in submission
        # order, so once this later job is visible every query job is
        sc.setJobGroup(fence, "fence")
        try:
            spark.range(1).count()
            deadline = time.monotonic() + 30
            while not tracker.getJobIdsForGroup(fence):
                assert time.monotonic() < deadline, "fence job never registered"
                time.sleep(0.05)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert set(tracker.getJobIdsForGroup(None)) - before == set()
        return list(tracker.getJobIdsForGroup(f"miso-query-{qid}"))

    cold = query_jobs("test-job-group-fence-cold")
    warm = query_jobs("test-job-group-fence-warm")
    assert len(cold) > len(warm)


def test_client_disconnect_cancels_job_group(server, spark):
    """cancel_iter.rs parity: dropping the SSE stream mid-query aborts
    the in-flight Spark jobs — the server's write loop turns the broken
    pipe into a cancelJobGroup on the query's own group."""
    import socket
    import threading

    cancelled = threading.Event()
    orig = spark.sparkContext.cancelJobGroup

    def spy(group):
        if group.startswith("miso-query-"):
            cancelled.set()
        return orig(group)

    spark.sparkContext.cancelJobGroup = spy
    try:
        # a result big enough to outlive the socket buffers
        body = json.dumps({"query": "t.lineitem | union (t.lineitem)"}).encode()
        s = socket.create_connection(("127.0.0.1", server.port))
        s.sendall(
            b"POST /query HTTP/1.1\r\nHost: x\r\nContent-Type: application/json\r\n"
            + f"Content-Length: {len(body)}\r\n\r\n".encode()
            + body
        )
        assert s.recv(200)  # the stream started (headers + first bytes)
        s.close()  # drop the client mid-stream
        assert cancelled.wait(timeout=60), "disconnect did not cancel the job group"
    finally:
        spark.sparkContext.cancelJobGroup = orig


def test_disconnect_cancel_records_cancelled_status(spark):
    """With a query-status sink configured, a dropped client leaves the
    query's history row in status 'cancelled' (query_status.rs
    lifecycle)."""
    import socket
    import time

    from miso_spark.server import MisoServer
    from tests.conftest import SF_DIR

    srv = MisoServer(spark, port=0, query_status_collection="mem.qstatus")
    srv.add_connector("t", {"type": "parquet_dir", "path": SF_DIR})
    srv.start_background()
    try:
        body = json.dumps(
            {"query": "t.lineitem | union (t.lineitem)", "query_id": "drop-me"}
        ).encode()
        s = socket.create_connection(("127.0.0.1", srv.port))
        s.sendall(
            b"POST /query HTTP/1.1\r\nHost: x\r\nContent-Type: application/json\r\n"
            + f"Content-Length: {len(body)}\r\n\r\n".encode()
            + body
        )
        assert s.recv(200)
        s.close()
        deadline = time.monotonic() + 60
        status = None
        while time.monotonic() < deadline:
            rows = srv.status_writer._rows
            if rows.get("drop-me", {}).get("status") in ("cancelled", "success"):
                status = rows["drop-me"]["status"]
                break
            time.sleep(0.2)
        assert status == "cancelled"
    finally:
        srv.shutdown()


def test_splunk_preview_partial_stream_over_sse(spark):
    """enable_partial_stream parity: a fully-pushable Splunk query with
    partial_stream streams the service's preview rounds as tagged
    partial frames before the final rows."""
    import http.server
    import threading
    import urllib.parse

    from miso_spark.server import MisoServer

    state = {"polls": 0}
    previews = {1: [{"n": "1"}], 2: [{"n": "2"}]}

    class Handler(http.server.BaseHTTPRequestHandler):
        def _send(self, obj):
            body = json.dumps(obj).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self):
            self.rfile.read(int(self.headers["Content-Length"]))
            self._send({"sid": "sse1"})

        def do_GET(self):
            if "/results_preview" in self.path:
                q = urllib.parse.parse_qs(urllib.parse.urlparse(self.path).query)
                page = previews.get(state["polls"], []) if int(q["offset"][0]) == 0 else []
                self._send({"results": page})
            elif "/results" in self.path:
                q = urllib.parse.parse_qs(urllib.parse.urlparse(self.path).query)
                page = [{"n": "2"}] if int(q["offset"][0]) == 0 else []
                self._send({"results": page})
            elif "/services/search/jobs/sse1" in self.path:
                state["polls"] += 1
                done = state["polls"] > 2
                self._send({"entry": [{"content": {
                    "dispatchState": "DONE" if done else "RUNNING",
                    "isDone": done, "resultCount": 1}}]})
            else:
                self._send({"status": "ok"})

        def log_message(self, *a):
            pass

    stub = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=stub.serve_forever, daemon=True).start()
    srv = MisoServer(spark, port=0)
    srv.add_connector(
        "sp", {
            "type": "splunk", "url": f"http://127.0.0.1:{stub.server_port}",
            # previews are opt-in per connector config, like the
            # reference's SplunkConfig.enable_partial_stream
            "enable_partial_stream": True, "preview_interval": "50ms",
        }
    )
    srv.start_background()
    try:
        resp = _post(
            srv,
            "/query",
            {"query": "sp.logs | where level == 'error'", "partial_stream": True},
        )
        frames = []
        for raw in resp:
            line = raw.decode().strip()
            if line.startswith("event: done"):
                break
            if line.startswith("data: "):
                frames.append(json.loads(line[6:]))
        partial = [f for f in frames if "_miso_metadata" in f]
        finals = [f for f in frames if "_miso_metadata" not in f]
        # two preview rounds (row + done marker each), then the final row
        ids = {f["_miso_metadata"]["id"] for f in partial}
        assert ids == {0, 1}
        assert any(f["_miso_metadata"].get("done") for f in partial)
        assert finals == [{"n": "2"}]
    finally:
        srv.shutdown()
        stub.shutdown()


def test_splunk_preview_rows_replay_stats_typing(spark):
    """The preview SSE branch threads the negotiated handle's stats
    typing (query_runner.rs fetch_results_with_stats_transform): Splunk
    returns every field as a string, so numeric stats fields and Count
    coerce numeric and _time-derived min/max coerce to timestamps in
    BOTH the partial frames and the final rows — the same types the
    non-streamed path produces."""
    import http.server
    import threading
    import urllib.parse

    from miso_spark.server import MisoServer

    state = {"polls": 0}
    preview_rows = [{"k": "a", "n": "3", "last": "2024-01-02 03:04:05"}]
    final_rows = [{"k": "a", "n": "4", "last": "2024-01-02 03:04:06"}]

    class Handler(http.server.BaseHTTPRequestHandler):
        def _send(self, obj):
            body = json.dumps(obj).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self):
            self.rfile.read(int(self.headers["Content-Length"]))
            self._send({"sid": "sse2"})

        def do_GET(self):
            if "/results_preview" in self.path:
                q = urllib.parse.parse_qs(urllib.parse.urlparse(self.path).query)
                page = preview_rows if (state["polls"] == 1 and int(q["offset"][0]) == 0) else []
                self._send({"results": page})
            elif "/results" in self.path:
                q = urllib.parse.parse_qs(urllib.parse.urlparse(self.path).query)
                page = final_rows if int(q["offset"][0]) == 0 else []
                self._send({"results": page})
            elif "/services/search/jobs/sse2" in self.path:
                state["polls"] += 1
                done = state["polls"] > 1
                self._send({"entry": [{"content": {
                    "dispatchState": "DONE" if done else "RUNNING",
                    "isDone": done, "resultCount": 1}}]})
            else:
                self._send({"status": "ok"})

        def log_message(self, *a):
            pass

    stub = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=stub.serve_forever, daemon=True).start()
    srv = MisoServer(spark, port=0)
    srv.add_connector(
        "sp", {
            "type": "splunk", "url": f"http://127.0.0.1:{stub.server_port}",
            "enable_partial_stream": True, "preview_interval": "50ms",
        }
    )
    srv.start_background()
    try:
        resp = _post(
            srv,
            "/query",
            {"query": "sp.logs | summarize n = count(), last = max(@time) by k",
             "partial_stream": True},
        )
        frames = []
        for raw in resp:
            line = raw.decode().strip()
            if line.startswith("event: done"):
                break
            if line.startswith("data: "):
                frames.append(json.loads(line[6:]))
        partial = [f for f in frames
                   if "_miso_metadata" in f and "k" in f]
        finals = [f for f in frames if "_miso_metadata" not in f]
        assert partial and finals
        assert partial[0]["n"] == 3.0 and isinstance(partial[0]["n"], float)
        assert partial[0]["last"] == "2024-01-02T03:04:05"
        assert finals[0]["n"] == 4.0 and isinstance(finals[0]["n"], float)
        assert finals[0]["last"] == "2024-01-02T03:04:06"
    finally:
        srv.shutdown()
        stub.shutdown()


def test_splunk_preview_eligibility_follows_executed_negotiation(spark):
    """`sort by | take` absorbs into Splunk only once the plan rewrites
    run (sort+take → top), as they do when the compiler executes the
    query: preview eligibility uses the same fixpoint negotiation, so
    the query streams the service's preview rounds."""
    from search_stubs import SplunkStub

    from miso_spark.server import MisoServer

    stub = SplunkStub({"idx": [{"a": i, "b": i % 2} for i in range(8)]}, preview_polls=2)
    srv = MisoServer(spark, port=0)
    srv.add_connector("sp", {
        "type": "splunk", "url": stub.url,
        "enable_partial_stream": True, "preview_interval": "10ms",
    })
    srv.start_background()
    try:
        resp = _post(srv, "/query", {"query": "sp.idx | sort by a | take 5",
                                     "partial_stream": True})
        frames = []
        for raw in resp:
            line = raw.decode().strip()
            if line.startswith("event: done"):
                break
            if line.startswith("data: "):
                frames.append(json.loads(line[6:]))
        rounds = {f["_miso_metadata"]["id"] for f in frames if "_miso_metadata" in f}
        finals = [f for f in frames if "_miso_metadata" not in f]
        assert rounds == {0, 1}
        assert len(stub.spls) == 1 and "head 5" in stub.spls[0]
        assert len(finals) == 5
    finally:
        srv.shutdown()
        stub.shutdown()


def test_metrics_families_and_prometheus_exposition(server):
    """metrics.rs parity: latency aggregates + running gauge +
    dynamic-filter counter, served as JSON and as Prometheus text."""
    list(_post(server, "/query", {"query": "t.region | count"}))
    m = json.load(_get(server, "/metrics"))
    assert m["queries_total"] >= 1
    assert m["query_latency_seconds_count"] >= 1
    assert m["query_latency_seconds_sum"] > 0
    assert m["query_latency_seconds_max"] > 0
    assert m["running_queries"] == 0
    assert "dynamic_filters_applied_total" in m

    # fixed-boundary latency histogram (metrics.rs query_latency is a
    # prometheus histogram): cumulative bucket counts in JSON...
    buckets = m["query_latency_seconds_bucket"]
    assert buckets["+Inf"] == m["query_latency_seconds_count"]
    counts = [buckets[k] for k in ("0.1", "1.0", "60.0", "+Inf")]
    assert counts == sorted(counts)  # cumulative

    text = _get(server, "/metrics?format=prometheus").read().decode()
    assert "# TYPE miso_queries_total counter" in text
    assert "# TYPE miso_running_queries gauge" in text
    # ...and as ONE histogram family in the text exposition: a single
    # TYPE line covering le-labeled _bucket + _sum + _count samples
    assert "# TYPE miso_query_latency_seconds histogram" in text
    assert 'miso_query_latency_seconds_bucket{le="0.1"}' in text
    assert f'miso_query_latency_seconds_bucket{{le="+Inf"}} {buckets["+Inf"]}' in text
    assert "miso_query_latency_seconds_sum " in text
    assert "miso_query_latency_seconds_count " in text
    assert "# TYPE miso_query_latency_seconds_bucket" not in text


def test_downloaded_bytes_metric_labeled_by_connector(spark):
    """metrics.rs downloaded_bytes parity: driver-side connector
    response bytes accumulate per connector and expose as a labeled
    Prometheus counter."""
    import http.server
    import threading

    from miso_spark.server import MisoServer

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            body = json.dumps({"version": "stub", "hits": {"hits": [
                {"_source": {"m": 1}}]}}).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    stub = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=stub.serve_forever, daemon=True).start()
    srv = MisoServer(spark, port=0)
    srv.add_connector(
        "qw", {"type": "quickwit", "url": f"http://127.0.0.1:{stub.server_port}"}
    )
    srv.start_background()
    try:
        list(_post(srv, "/query", {"query": "qw.logs | take 1"}))
        m = json.load(_get(srv, "/metrics"))
        assert m["downloaded_bytes_total"].get("qw", 0) > 0
        # r11 wire-savings gauge: hit docs fetched, same labeling
        assert m["fetched_docs_total"].get("qw", 0) > 0
        text = _get(srv, "/metrics?format=prometheus").read().decode()
        assert 'miso_downloaded_bytes_total{connector="qw"}' in text
        assert 'miso_fetched_docs_total{connector="qw"}' in text
    finally:
        srv.shutdown()
        stub.shutdown()


def test_concurrent_queries_isolated_and_metrics_consistent(server):
    """ADVICE r6: ThreadingHTTPServer runs queries concurrently — the
    per-thread run context keeps one query's caches/prejoined state
    away from another's, and the metrics lock keeps counters exact
    under parallel read-modify-write. Fire a batch of concurrent
    queries; every one must stream its full result, and the counters
    must add up exactly."""
    import threading

    before = json.load(_get(server, "/metrics"))
    queries = [
        "t.region | count",
        "t.nation | where n_regionkey == 1",
        "t.orders | summarize n = count() by o_orderpriority",
        "t.customer | top 3 by c_acctbal desc | project c_custkey",
    ] * 2
    results: dict[int, list] = {}
    errors: list = []

    def run(i: int, q: str) -> None:
        try:
            rows = []
            done = False
            for raw in _post(server, "/query", {"query": q}):
                line = raw.decode().strip()
                if line.startswith("event: done"):
                    done = True
                elif line.startswith("data: ") and not done:
                    rows.append(json.loads(line[6:]))
            assert done
            results[i] = rows
        except Exception as e:  # noqa: BLE001
            errors.append((i, e))

    threads = [
        threading.Thread(target=run, args=(i, q))
        for i, q in enumerate(queries)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors
    assert len(results) == len(queries)
    # identical queries produced identical rows regardless of interleaving
    for i, q in enumerate(queries):
        j = (i + len(queries) // 2) % len(queries)
        if queries[j] == q:
            assert sorted(map(json.dumps, results[i])) == sorted(
                map(json.dumps, results[j])
            )
    assert results[0] == [{"Count": 5}]
    after = json.load(_get(server, "/metrics"))
    assert after["queries_total"] - before["queries_total"] == len(queries)
    assert (
        after["query_latency_seconds_count"]
        - before["query_latency_seconds_count"]
        == len(queries)
    )
    assert (
        after["query_latency_seconds_bucket"]["+Inf"]
        - before["query_latency_seconds_bucket"]["+Inf"]
        == len(queries)
    )
    assert after["running_queries"] == 0


def test_openapi_spec_and_index(server):
    """Route parity with the reference's SwaggerUI-at-root
    (http_server.rs:641): "/" serves an HTML index and /openapi.json an
    OpenAPI 3.1 spec covering the full route table."""
    spec = json.load(_get(server, "/openapi.json"))
    assert spec["openapi"].startswith("3.")
    assert set(spec["paths"]) == {
        "/health", "/metrics", "/query", "/explain",
        "/connectors", "/connectors/{id}", "/views", "/views/{id}",
    }
    assert "post" in spec["paths"]["/query"]
    assert "delete" in spec["paths"]["/connectors/{id}"]
    resp = _get(server, "/")
    assert resp.headers["Content-Type"].startswith("text/html")
    html = resp.read().decode()
    assert "/openapi.json" in html and "POST /query" in html


def test_workflow_limits_config_parsed_and_reported(spark, tmp_path):
    """config.json workflow_limits parity (limits.rs WorkflowLimits):
    bytesize strings parse, unknown keys error, values surface on
    /metrics; Spark-side enforcement is Tungsten's own spill (see
    load_config docstring), so parity here is config-compat +
    observability."""
    import pytest as _pytest

    from miso_spark.server import MisoServer

    srv = MisoServer(spark, port=0)
    cfg = tmp_path / "config.json"
    cfg.write_text(json.dumps({
        "connectors": {},
        "workflow_limits": {
            "sort_memory_limit": "1 GB",
            "join_memory_limit": "256 MiB",
        },
    }))
    srv.load_config(str(cfg))
    assert srv.workflow_limits == {
        "sort_memory_limit": 10**9,
        "join_memory_limit": 256 * 1024**2,
        "summarize_memory_limit": 500 * 1024 * 1024,  # limits.rs default
    }
    srv.start_background()
    try:
        m = json.load(_get(srv, "/metrics"))
        assert m["workflow_limits_bytes"]["sort_memory_limit"] == 10**9
    finally:
        srv.shutdown()

    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps({"workflow_limits": {"nope": "1 MB"}}))
    srv2 = MisoServer(spark, port=0)
    with _pytest.raises(ValueError, match="unknown workflow limit"):
        srv2.load_config(str(bad))
    srv2.httpd.server_close()  # never served: shutdown() would block


def test_views_connector_scan_and_reserved_name(server):
    """VIEWS_CONNECTOR_NAME parity (lib.rs:10, query_to_workflow.rs:70):
    `views.<name>` splices the saved view's steps inline — recursively
    through nested views — unknown views error with the reference's
    message, cycles are rejected, and the connector name 'views' is
    reserved."""
    assert _post(server, "/views/small_nations",
                 {"query": "t.nation | where n_regionkey == 1"}).status == 200
    assert _post(server, "/views/small_nations_count",
                 {"query": "views.small_nations | count"}).status == 200

    def rows(q):
        out = []
        done = False
        for raw in _post(server, "/query", {"query": q}):
            line = raw.decode().strip()
            if line.startswith("event: done"):
                done = True
            elif line.startswith("data: ") and not done:
                out.append(json.loads(line[6:]))
        return out

    direct = rows("t.nation | where n_regionkey == 1 | count")
    assert rows("views.small_nations | count") == direct
    # nested view-through-view resolves recursively
    assert rows("views.small_nations_count") == direct
    # residual steps compose after the splice
    n = direct[0]["Count"]
    assert rows(f"views.small_nations | take {n + 5} | count") == direct

    import urllib.error

    with pytest.raises(urllib.error.HTTPError) as e:
        _post(server, "/query", {"query": "views.nope | count"})
    assert "view 'nope' not found" in e.value.read().decode()

    with pytest.raises(urllib.error.HTTPError) as e:
        _post(server, "/connectors/views", {"type": "memory"})
    assert "reserved" in e.value.read().decode()

    # a view cycle errors instead of recursing forever
    assert _post(server, "/views/loop_b", {"query": "views.loop_a | count"}).status == 200
    assert _post(server, "/views/loop_a", {"query": "views.loop_b | count"}).status == 200
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(server, "/query", {"query": "views.loop_a"})
    assert "cycle" in e.value.read().decode()
    # broken views only break queries that reference them
    assert rows("t.nation | count")
    for v in ("loop_a", "loop_b", "small_nations", "small_nations_count"):
        urllib.request.urlopen(urllib.request.Request(
            f"http://127.0.0.1:{server.port}/views/{v}", method="DELETE"))


def test_dynamic_parquet_dir_connector_route(server, spark, tmp_path):
    """dynamic_parquet_dir registers over HTTP like every connector
    type and serves VARIANT-at-rest queries (r9)."""
    from miso_spark import dynamic as dyn
    from miso_spark.sources import DynamicParquetDirSource

    DynamicParquetDirSource(str(tmp_path)).write(
        dyn.ingest_json_dynamic(spark, [{"x": 5}, {"x": "5"}, {"y": 1}]),
        "logs",
    )
    _post(server, "/connectors/dynpq",
          {"type": "dynamic_parquet_dir", "path": str(tmp_path)})
    resp = _post(
        server, "/query", {"query": 'dynpq.logs | where x == "5" | project x'}
    )
    rows, done = [], False
    for raw in resp:
        line = raw.decode().strip()
        if line.startswith("event: done"):
            done = True
        elif line.startswith("data: ") and not done:
            rows.append(json.loads(line[6:]))
    assert done and rows == [{"x": "5"}]


def test_workflow_limits_enforced(spark, tmp_path):
    """workflow_limits ENFORCEMENT (r9, limits.rs parity):

    - join_memory_limit maps to a real per-operator knob: it caps
      spark.sql.autoBroadcastJoinThreshold, so a build side over the
      limit may not materialize per-task — /explain flips from
      BroadcastHashJoin to a shuffle join under a tiny limit.
    - sort/summarize limits delegate to Tungsten's bounded-buffer-then-
      spill: with the spill thresholds constrained to a few rows, a
      far-over-limit windowed sort+aggregation still COMPLETES through
      the live /query route with results equal to the unconstrained
      run, and /metrics reports the configured limits throughout.
    """
    from miso_spark.server import MisoServer

    def explain(srv, q):
        resp = _post(srv, "/explain", {"query": q})
        return json.load(resp)["plan"]

    join_q = "t.orders | join (t.customer) on $left.o_custkey == $right.c_custkey | count"
    agg_q = ("t.lineitem | summarize n = count(), s = sum(l_quantity)"
             " by l_orderkey | sort by s desc | take 5")

    def query_rows(srv, q):
        rows, done = [], False
        for raw in _post(srv, "/query", {"query": q}):
            line = raw.decode().strip()
            if line.startswith("event: done"):
                done = True
            elif line.startswith("data: ") and not done:
                rows.append(json.loads(line[6:]))
        assert done
        return rows

    saved = {
        k: spark.conf.get(k, None)
        for k in ("spark.sql.autoBroadcastJoinThreshold",
                  "spark.sql.windowExec.buffer.in.memory.threshold",
                  "spark.sql.windowExec.buffer.spill.threshold")
    }
    srv = MisoServer(spark, port=0)
    srv.add_connector("t", {"type": "parquet_dir", "path": SF_DIR})
    srv.start_background()
    try:
        baseline_plan = explain(srv, join_q)
        assert "BroadcastHashJoin" in baseline_plan, baseline_plan
        baseline_rows = query_rows(srv, agg_q)

        cfg = tmp_path / "limits.json"
        cfg.write_text(json.dumps({
            "workflow_limits": {"join_memory_limit": "1 KiB",
                                "sort_memory_limit": "1 KiB",
                                "summarize_memory_limit": "1 KiB"},
        }))
        srv.load_config(str(cfg))
        # join limit enforced: the dim no longer fits the join buffer
        limited_plan = explain(srv, join_q)
        assert "BroadcastHashJoin" not in limited_plan, limited_plan

        # sort/summarize delegate to Tungsten spill: constrain the
        # spill thresholds to force the bounded-buffer path and prove
        # the over-limit aggregation still completes, same results
        spark.conf.set("spark.sql.windowExec.buffer.in.memory.threshold", "4")
        spark.conf.set("spark.sql.windowExec.buffer.spill.threshold", "16")
        assert query_rows(srv, agg_q) == baseline_rows

        m = json.load(_get(srv, "/metrics"))
        assert m["workflow_limits_bytes"] == {
            "join_memory_limit": 1024,
            "sort_memory_limit": 1024,
            "summarize_memory_limit": 1024,
        }
    finally:
        srv.shutdown()
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_join_memory_limit_keeps_broadcast_disabled(spark, tmp_path):
    """autoBroadcastJoinThreshold=-1 means broadcast is explicitly
    DISABLED — the strictest setting, trivially within any cap. A
    join_memory_limit must not re-enable broadcasts by raising it."""
    from miso_spark.server import MisoServer

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    srv = MisoServer(spark, port=0)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        cfg = tmp_path / "limits.json"
        cfg.write_text(json.dumps(
            {"workflow_limits": {"join_memory_limit": "100 MiB"}}
        ))
        srv.load_config(str(cfg))
        assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1"

        # over-cap threshold still clamps down
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(512 * 1024**2))
        srv.load_config(str(cfg))
        assert (spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
                == str(100 * 1024**2))
    finally:
        # serve loop never started — httpd.shutdown() would block
        srv.httpd.server_close()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def _frames(server, body) -> list[dict]:
    """The SSE data frames of one /query call, up to `event: done`."""
    out = []
    for raw in _post(server, "/query", body):
        line = raw.decode().strip()
        if line.startswith("event: done"):
            break
        if line.startswith("data: "):
            out.append(json.loads(line[6:]))
    return out


@pytest.fixture
def saved_views(server):
    """Saves views through the HTTP route; deletes them afterwards."""
    names = []

    def save(name, query):
        assert _post(server, f"/views/{name}", {"query": query}).status == 200
        names.append(name)

    yield save
    for name in names:
        urllib.request.urlopen(urllib.request.Request(
            f"http://127.0.0.1:{server.port}/views/{name}", method="DELETE"))


def test_view_on_deleted_connector_fails_only_its_users(server, saved_views):
    _post(server, "/connectors/gone", {"type": "parquet_dir", "path": SF_DIR})
    saved_views("gone_regions", "gone.region | count")
    urllib.request.urlopen(urllib.request.Request(
        f"http://127.0.0.1:{server.port}/connectors/gone", method="DELETE"))
    assert _frames(server, {"query": "t.nation | count"}) == [{"Count": 25}]
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(server, "/query", {"query": "gone_regions"})
    assert "gone" in e.value.read().decode()


def test_bare_view_self_join_equals_views_form(server, saved_views):
    saved_views("w", "t.nation | where n_regionkey == 1")
    bare = _frames(server, {"query": "w | join (w) on n_nationkey | count"})
    spliced = _frames(
        server, {"query": "views.w | join (views.w) on n_nationkey | count"}
    )
    assert bare == spliced == [{"Count": 5}]


def test_partial_stream_unaffected_by_saved_views(server, saved_views):
    """A saved view is spliced only where a query uses it, so a query
    that uses none still starts with its own scan and streams partial
    rounds."""
    saved_views("w", "t.nation | where n_regionkey == 1")
    frames = _frames(server, {
        "query": "t.nation | summarize c = count() by n_regionkey",
        "partial_stream": {"debounce": 0},
    })
    assert any("_miso_metadata" in f for f in frames), frames
    final = {f["n_regionkey"]: f["c"] for f in frames if "_miso_metadata" not in f}
    assert final == {k: 5 for k in range(5)}


def test_user_let_shadows_saved_view(server, saved_views):
    saved_views("w", "t.nation")
    assert _frames(server, {"query": "w | count"}) == [{"Count": 25}]
    assert _frames(server, {"query": "let w = t.region; w | count"}) == [{"Count": 5}]
    # a let's own body is resolved before its name binds: the inner
    # `w` is still the saved view
    assert _frames(server, {
        "query": "let w = w | where n_regionkey == 1; w | count"
    }) == [{"Count": 5}]
