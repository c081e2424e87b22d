"""The one query lifecycle (``MisoSpark.run``): job group, eager
compile, drain, cancel and cache release, shared by ``query_json``,
``query_rows``, ``explain`` and the HTTP server."""

from __future__ import annotations

import http.server
import json
import threading
import time
import urllib.request

import pytest

from miso_spark.api import MisoSpark
from miso_spark.sources.external import QuickwitSource
from tests.test_dynamic_filter import LOGS, _Stub


class _SlicedStub:
    """Quickwit's sliced scroll: each slice's first ``_search`` serves
    its share of ``docs``; scroll continuations are empty. ``searches``
    counts first-page requests, one per slice per fetch."""

    def __init__(self, docs):
        stub = self
        stub.searches = 0

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
                    return
                stub.searches += 1
                sl = (body or {}).get("slice", {"id": 0, "max": 1})
                share = [d for d in docs if d["m"] % sl["max"] == sl["id"]]
                self._send({"_scroll_id": f"s{sl['id']}", "hits": {"hits": [
                    {"_source": d} for d in share]}})

            def log_message(self, *a):
                pass

        self.server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        threading.Thread(target=self.server.serve_forever, daemon=True).start()
        self.url = f"http://127.0.0.1:{self.server.server_port}"


@pytest.fixture
def stub():
    stub = _SlicedStub([{"m": i} for i in range(6)])
    yield stub
    stub.server.shutdown()


def _sliced_miso(spark, stub, slices: int) -> MisoSpark:
    m = MisoSpark(spark)
    m.registry.register("qw", QuickwitSource(stub.url, slices=slices))
    return m


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture
def cancel_spy(spark):
    """Groups passed to ``cancelJobGroup`` while the test runs."""
    sc = spark.sparkContext
    orig = sc.cancelJobGroup
    seen: list[str] = []

    def spy(group):
        seen.append(group)
        return orig(group)

    sc.cancelJobGroup = spy
    yield seen
    sc.cancelJobGroup = orig


def test_closed_query_json_cancels_group_and_releases_ledger(spark, stub, cancel_spy):
    m = _sliced_miso(spark, stub, slices=2)
    before = _persistent_rdds(spark)
    it = m.query_json("qw.logs")
    assert json.loads(next(it))["m"] in range(6)
    # the sliced fetch RDD is cached while the rows drain
    assert len(_persistent_rdds(spark) - before) == 1
    it.close()
    assert len(cancel_spy) == 1 and cancel_spy[0].startswith("miso-query-")
    assert _persistent_rdds(spark) - before == set()


def test_interleaved_query_json_iterators_keep_their_caches(spark, stub, cancel_spy):
    """Starting a second query mid-drain leaves the first one's cached
    fetch alone: both return every row, and the service sees one
    sliced fetch (a search per slice) per query. Four slices, so the
    first query still has partitions to drain when the second starts."""
    m = _sliced_miso(spark, stub, slices=4)
    before = _persistent_rdds(spark)
    first = m.query_json("qw.logs")
    head = next(first)
    second = sorted(json.loads(r)["m"] for r in m.query_json("qw.logs"))
    rest = [json.loads(r)["m"] for r in [head, *first]]
    assert second == sorted(rest) == list(range(6))
    assert stub.searches == 2 * 4
    assert cancel_spy == []  # both drained to the end
    assert _persistent_rdds(spark) - before == set()


def test_explain_leaves_no_cached_producer(spark):
    """A dynamic-filtered connector query persists its producer at
    compile time; explain never runs the frame, so both the facade and
    POST /explain release it before returning."""
    from miso_spark.server import MisoServer

    kql = "qw.logs | join (mem.lookup | take 2) on key"
    lookup = spark.createDataFrame([("a", "t1"), ("d", "t4")], "key string, tag string")
    stub = _Stub({"logs": LOGS})
    srv = MisoServer(spark, port=0)
    srv.add_connector("qw", {"type": "quickwit", "url": stub.url})
    srv.miso.registry.source("mem").put("lookup", lookup)
    srv.start_background()
    try:
        spark.catalog.clearCache()
        assert "Join" in srv.miso.explain(kql)
        assert srv.miso.compiler.dynamic_filter_events
        assert _cache_manager_empty(spark)
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/explain",
            data=json.dumps({"query": kql}).encode(),
            headers={"Content-Type": "application/json"},
        )
        assert "Join" in json.load(urllib.request.urlopen(req))["plan"]
        assert _cache_manager_empty(spark)
    finally:
        srv.shutdown()
        stub.shutdown()


def test_cancel_aborts_in_flight_query(spark):
    from pyspark.sql import functions as F

    @F.udf("long")
    def slow(x):
        time.sleep(0.25)
        return x

    m = MisoSpark(spark)
    # ~25 s per partition if nothing stops it
    m.registry.source("mem").put(
        "slow", spark.range(0, 200, numPartitions=2).select(slow("id").alias("id"))
    )
    out: dict = {}

    def consume():
        try:
            out["rows"] = list(m.query_rows("mem.slow | where id >= 0"))
        except Exception as e:  # noqa: BLE001
            out["error"] = e

    t = threading.Thread(target=consume)
    t.start()
    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getActiveJobsIds():
        assert time.monotonic() < deadline, "the query never started a job"
        time.sleep(0.05)
    t0 = time.monotonic()
    m.cancel()
    t.join(timeout=20)
    assert not t.is_alive(), "cancel() did not abort the query"
    assert "error" in out and "rows" not in out
    assert time.monotonic() - t0 < 20


def test_query_rows_equal_sse_rows(spark):
    """Local rows are the wire's rows: a timestamp and a dynamic
    (VARIANT) column decode the same from query_rows as from the
    server's SSE frames."""
    from pyspark.sql import functions as F

    from miso_spark import dynamic as dyn
    from miso_spark.server import MisoServer

    df = dyn.ingest_json_dynamic(
        spark, [{"k": 1, "x": 5}, {"k": 2, "x": "5"}, {"k": 3, "x": [1, {"y": None}]}]
    ).withColumn("ts", F.timestamp_seconds(F.lit(1_700_000_000)))
    q = "mem.ev | extend n = tolong(k) | sort by n asc"
    srv = MisoServer(spark, port=0)
    srv.miso.registry.source("mem").put("ev", df)
    srv.start_background()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/query",
            data=json.dumps({"query": q}).encode(),
            headers={"Content-Type": "application/json"},
        )
        wire = []
        for raw in urllib.request.urlopen(req):
            line = raw.decode().strip()
            if line.startswith("event: done"):
                break
            if line.startswith("data: "):
                wire.append(json.loads(line[6:]))
        local = list(srv.miso.query_rows(q))
    finally:
        srv.shutdown()
    assert len(local) == 3 and local == wire
    assert isinstance(local[0]["ts"], str) and local[1]["x"] == "5"
