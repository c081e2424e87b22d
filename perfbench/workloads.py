"""Untraced workload runs: the end-to-end numbers.

Each workload is one single-threaded closed-loop client: it sends the
next op only after the previous one has returned.

- ``interactive`` drives a ``python -m miso_spark.server`` process over
  its HTTP ``/query`` SSE route.
- ``corpus`` calls the ``miso_spark.functions`` operators in-process.

Both run a fixed warm-up (part of ``setup_s``), then a measured phase
of ``seconds`` seconds whose op kinds alternate round-robin, so a slow
stretch of the host hits every kind alike. Every result is checked;
a wrong one counts as a failed op.
"""

from __future__ import annotations

import http.client
import json
import os
import signal
import statistics
import subprocess
import sys
import time
import uuid

import gen


class RunResult:
    """What one run measured, before it becomes metrics."""

    def __init__(self, per_round: int):
        self.per_round = per_round         # ops in one round, one per kind
        self.setup_s = 0.0
        self.latencies: list[float] = []   # one per measured op
        self.kinds: list[str] = []         # op kind per measured op
        self.ok: list[bool] = []
        self.elapsed = 0.0                 # measured phase wall time
        self.warmup: list[float] = []      # warm-up op latencies
        self.warmup_failed = 0

    def rounds(self) -> list[float]:
        """Time of each full round: the sum of its op latencies, so the
        client's result checks between ops are not counted."""
        n = self.per_round
        return [sum(self.latencies[k:k + n]) for k in range(0, len(self.latencies) - n + 1, n)]


def sentinel_s() -> float:
    """A fixed single-thread CPU loop (median of 5): reads higher on a
    slowed or contended host, so a slow run can be told from a slow
    program."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(500_000):
            acc = (acc * 31 + i) & 0xFFFF
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    s = sorted(values)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def spark_env(root: str, slots: int) -> dict:
    """Environment for a Spark driver: fixed slot count, small heap,
    and every scratch file (Spark's, the JVM's, Python's) inside the
    checkout."""
    local = os.path.join(root, ".perfbench_data", "spark-local")
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(slots),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=local,
        SPARK_SUBMIT_OPTS=f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        TMPDIR=local,
        PYTHONUNBUFFERED="1",
        PYTHONPATH=root + os.pathsep + env.get("PYTHONPATH", ""),
    )
    return env


# ---------------------------------------------------------------------------
# HTTP side

class ServerProcess:
    """``python -m miso_spark.server`` on a free port, in its own
    process group so the JVM it starts is stopped with it."""

    def __init__(self, root: str, slots: int, log_path: str):
        self.log = open(log_path, "wb")
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "miso_spark.server", "--port", "0"],
            cwd=root, env=spark_env(root, slots),
            stdout=subprocess.PIPE, stderr=self.log, start_new_session=True,
        )
        self.port = None

    def wait_ready(self, timeout_s: float = 120.0) -> int:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            line = self.proc.stdout.readline().decode()
            if not line:
                raise RuntimeError(f"server exited with {self.proc.wait()}")
            if line.startswith("miso_spark server on :"):
                self.port = int(line.rsplit(":", 1)[1])
                return self.port
        raise RuntimeError("server did not come up")

    def stop(self) -> None:
        if self.proc.poll() is None:
            try:
                os.killpg(self.proc.pid, signal.SIGTERM)
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                os.killpg(self.proc.pid, signal.SIGKILL)
                self.proc.wait()
            except ProcessLookupError:
                pass
        # the JVM child shares the group; make sure nothing outlives us
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        wait_group_gone(self.proc.pid)
        self.proc.stdout.close()
        self.log.close()


def _live_group_members(pgid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, fields[2] the process group
        if int(fields[2]) == pgid and fields[0] != "Z":
            out.append(int(name))
    return out


def wait_group_gone(pgid: int, timeout_s: float = 30.0) -> None:
    deadline = time.monotonic() + timeout_s
    while _live_group_members(pgid) and time.monotonic() < deadline:
        time.sleep(0.05)


def post_json(port: int, path: str, body: dict) -> dict:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("POST", path, json.dumps(body), {"Content-Type": "application/json"})
        resp = conn.getresponse()
        out = json.loads(resp.read())
        if resp.status != 200:
            raise RuntimeError(f"POST {path}: {resp.status} {out}")
        return out
    finally:
        conn.close()


def sse_query(port: int, kql: str, query_id: str | None = None):
    """POST /query and read the SSE stream to its ``done`` frame.

    Returns (latency_s, rows, bytes_read, error). The latency runs from
    sending the request to reading ``done``; rows are parsed after."""
    body = json.dumps({"query": kql, "query_id": query_id or uuid.uuid4().hex})
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    t0 = time.perf_counter()
    try:
        conn.request("POST", "/query", body, {"Content-Type": "application/json"})
        resp = conn.getresponse()
        if resp.status != 200:
            raw = resp.read()
            return time.perf_counter() - t0, [], len(raw), raw.decode()[:300]
        buf = b""
        nbytes = 0
        while True:
            chunk = resp.read1(65536)
            if not chunk:
                return time.perf_counter() - t0, [], nbytes, "stream ended before done"
            nbytes += len(chunk)
            buf += chunk
            if buf.endswith(b"event: done\ndata: {}\n\n"):
                break
            if b"event: error\n" in buf:
                return time.perf_counter() - t0, [], nbytes, buf.decode()[-300:]
        dt = time.perf_counter() - t0
    finally:
        conn.close()
    rows = [
        json.loads(frame[6:])
        for frame in buf.decode().split("\n\n")
        if frame.startswith("data: ")
    ]
    return dt, rows, nbytes, None


def check_op(op: gen.Op, rows: list[dict], error: str | None) -> bool:
    return error is None and gen.same_rows(rows, op.expected, op.ordered)


def run_interactive(root: str, data: str, seed: int, seconds: float, slots: int) -> RunResult:
    base = gen.ensure_base(data)
    warm, ops = gen.interactive_ops(seed)
    gen.fill_expected(base, warm + ops)
    per_round = len(gen.TEMPLATES)
    res = RunResult(per_round)
    t0 = time.perf_counter()
    server = ServerProcess(root, slots, os.path.join(data, "server.log"))
    try:
        port = server.wait_ready()
        post_json(port, "/connectors/t", {"type": "parquet_dir", "path": base})
        for op in warm:
            dt, rows, _, err = sse_query(port, op.kql)
            res.warmup.append(dt)
            res.warmup_failed += not check_op(op, rows, err)
        res.setup_s = time.perf_counter() - t0
        start = time.perf_counter()
        i = 0
        while time.perf_counter() - start < seconds or i % per_round:
            op = ops[i % len(ops)]
            dt, rows, _, err = sse_query(port, op.kql)
            res.latencies.append(dt)
            res.kinds.append(op.template)
            res.ok.append(check_op(op, rows, err))
            i += 1
        res.elapsed = time.perf_counter() - start
    finally:
        server.stop()
    return res


# ---------------------------------------------------------------------------
# corpus side

#: corpus operators in round order
CORPUS_OPS = ("near_dedup_pipeline", "decontaminate", "text_quality", "token_budget_filter")


def corpus_builders(budget: int) -> dict:
    """op name → builder(docs DataFrame) → DataFrame, mirroring the
    catalog's builders for the same operators."""
    from pyspark.sql import functions as F

    from miso_spark.functions.dedup import decontaminate, near_dedup_pipeline
    from miso_spark.functions.packing import token_budget_filter
    from miso_spark.functions.text import (
        bpe_token_count,
        token_count,
        with_lang_id,
        with_quality,
    )

    def text_quality(docs):
        return with_lang_id(with_quality(docs)).select(
            "doc_id", "n_words", "avg_word_len", "stopword_ratio", "punct_ratio",
            "quality_score", F.col("n_words").alias("n_tokens"),
            bpe_token_count(F.col("text")).alias("n_bpe_tokens"), "lang_pred",
        )

    return {
        "near_dedup_pipeline": lambda docs: near_dedup_pipeline(
            docs, num_hashes=16, bands=16, threshold=0.5
        ),
        "decontaminate": lambda docs: decontaminate(
            docs, docs.filter(F.col("doc_id") % 20 == 0).select("doc_id", "text"),
            n=3, min_common_shingles=2,
        ),
        "text_quality": text_quality,
        "token_budget_filter": lambda docs: token_budget_filter(
            docs.select("doc_id", token_count(F.col("text")).alias("n_tokens")),
            budget=budget,
        ),
    }


#: full warm-up rounds before the corpus measured phase
CORPUS_WARMUP_ROUNDS = 2


def prepare_corpus(data: str, seed: int):
    corpus_dir = gen.ensure_corpus(data, seed)
    expected, budget = gen.corpus_expected(corpus_dir, gen.corpus_budget(seed))
    return corpus_dir, expected, budget


def start_spark(root: str, slots: int):
    os.environ.update(spark_env(root, slots))
    from miso_spark.session import get_spark

    spark = get_spark("perfbench", shuffle_partitions=slots)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def rows_of(df) -> list[dict]:
    return [r.asDict() for r in df.collect()]


def run_corpus(root: str, data: str, seed: int, seconds: float, slots: int) -> RunResult:
    corpus_dir, expected, budget = prepare_corpus(data, seed)
    res = RunResult(len(CORPUS_OPS))
    t0 = time.perf_counter()
    spark = start_spark(root, slots)
    from miso_spark.sources import ParquetDirSource

    src = ParquetDirSource(corpus_dir)
    builders = corpus_builders(budget)

    def call(name: str) -> tuple[float, bool]:
        t = time.perf_counter()
        rows = rows_of(builders[name](src.table(spark, "documents")))
        dt = time.perf_counter() - t
        return dt, gen.same_rows(rows, expected[name])

    try:
        for _ in range(CORPUS_WARMUP_ROUNDS):
            for name in CORPUS_OPS:
                dt, ok = call(name)
                res.warmup.append(dt)
                res.warmup_failed += not ok
        res.setup_s = time.perf_counter() - t0
        start = time.perf_counter()
        while time.perf_counter() - start < seconds:
            for name in CORPUS_OPS:
                dt, ok = call(name)
                res.latencies.append(dt)
                res.kinds.append(name)
                res.ok.append(ok)
        res.elapsed = time.perf_counter() - start
    finally:
        stop_spark(spark)
    return res


def end_to_end(res: RunResult) -> dict[str, float]:
    """The end-to-end metrics of one untraced run.

    ``latency_p50_s`` is the median over op kinds of each kind's median
    latency: corpus operators differ by 10x, so a pooled median would
    fall in the gap between two kinds and read their extremes."""
    by_kind: dict[str, list[float]] = {}
    for kind, dt in zip(res.kinds, res.latencies):
        by_kind.setdefault(kind, []).append(dt)
    return {
        "setup_s": res.setup_s,
        "latency_p50_s": statistics.median(statistics.median(v) for v in by_kind.values()),
        "latency_p90_s": percentile(res.latencies, 0.9),
        "ops_per_s": len(res.latencies) / res.elapsed,
        "batch_s": statistics.median(res.rounds()),
    }
