"""Traced run: the per-layer numbers.

Spans are recorded from the benchmark's own files, around the calls
into each module's public functions; nothing inside the program is
instrumented. A span has a name, start, end, parent span and the id of
the op it belongs to. Spans stay in memory and are written to
``.perfbench_data/trace-<workload>-s<seed>.jsonl`` when the run ends.
Spark counts come from the status store, by the job group each op ran
in, and are recorded at the same boundaries.

``interactive`` replays the seeded ops in one process. Whole rounds
rotate between three ways of running them:

- traced, through the layer calls: ``parse_kql`` → ``Compiler.
  run_with_caches`` (source resolution through a delegating ``Source``
  wrapper) → ``executedPlan()`` → draining ``toJSON()`` rows;
- the same calls untraced, for ``trace.overhead_ratio``;
- over HTTP through an in-process ``MisoServer``. Its median latency
  minus the traced ops' median span is ``server.overhead_s``.

``corpus`` alternates traced and untraced rounds of the four operators.

A layer a workload does not exercise reports 0.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import uuid
from contextlib import contextmanager, nullcontext

import gen
import workloads as W

TEMPLATES = tuple(gen.TEMPLATES)

#: per-layer metric → unit (BENCHMARK.json lists the same names)
PER_LAYER = {
    "kql.parse_s": "s",
    "compiler.run_s": "s",
    **{f"compiler.run_s.{t}": "s" for t in TEMPLATES},
    "sources.table_calls": "count",
    "sources.table_s": "s",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    **{f"spark.exec_s.{t}": "s" for t in TEMPLATES},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_rows_per_result_row": "ratio",
    "server.overhead_s": "s",
    "server.sse_bytes": "bytes",
    **{
        f"functions.{op}.{m}": u
        for op in W.CORPUS_OPS
        for m, u in (
            ("build_s", "s"), ("exec_s", "s"), ("build_jobs", "count"), ("jobs", "count"),
            ("task_s", "s"), ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
        )
    },
    "host.sentinel_s": "s",
    "trace.overhead_ratio": "ratio",
}


class Tracer:
    """In-memory spans. Nesting is tracked per thread, so spans the
    server thread records (source calls) get no parent; they share the
    op id of the request in flight."""

    def __init__(self):
        self.spans: list[dict] = []
        self.op: str | None = None
        self._tls = threading.local()

    @contextmanager
    def span(self, name: str):
        stack = self._tls.__dict__.setdefault("stack", [])
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": stack[-1] if stack else None, "op": self.op}
        self.spans.append(rec)
        stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def self_times(self) -> list[float]:
        """Span duration minus the time its child spans cover."""
        out = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def per_op(self, name: str, self_time: bool = True) -> dict[str, tuple[int, float]]:
        """op id → (span count, summed self time or duration) for spans
        ``name``."""
        times = self.self_times() if self_time else [s["end"] - s["start"] for s in self.spans]
        out: dict[str, tuple[int, float]] = {}
        for s, st in zip(self.spans, times):
            if s["name"] == name:
                n, t = out.get(s["op"], (0, 0.0))
                out[s["op"]] = (n + 1, t + st)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")


def source_spy(inner, tracer: Tracer):
    """A ``Source`` that delegates to ``inner`` and records a span
    around each ``table``/``write`` call."""
    from miso_spark.sources import Source

    class SourceSpy(Source):
        capabilities = inner.capabilities

        def __init__(self):
            self.static_fields = inner.static_fields

        def table(self, spark, collection):
            with tracer.span("sources.table"):
                return inner.table(spark, collection)

        def write(self, df, collection, mode="overwrite"):
            with tracer.span("sources.write"):
                return inner.write(df, collection, mode)

        def __getattr__(self, name):
            return getattr(inner, name)

    return SourceSpy()


class SparkCounts:
    """Per job group totals from the Spark status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def totals(self, job_ids) -> dict[str, float]:
        self.bus.waitUntilEmpty(10_000)  # task-end events land asynchronously
        tracker = self.sc.statusTracker()
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        tot = dict.fromkeys(
            ("stages", "tasks", "task_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
             "input_rows"), 0.0)
        for sid in stage_ids:
            st = self.store.lastStageAttempt(sid)
            done = st.numCompleteTasks()
            if done == 0:
                continue  # skipped: its shuffle output was reused
            tot["stages"] += 1
            tot["tasks"] += done
            tot["task_s"] += st.executorRunTime() / 1000
            tot["gc_s"] += st.jvmGcTime() / 1000
            tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            tot["input_rows"] += st.inputRecords()
        tot["jobs"] = float(len(job_ids))
        return tot


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _span(tracer: Tracer | None, name: str):
    return tracer.span(name) if tracer else nullcontext()


def _json_lines(df, tracer: Tracer | None = None) -> list[str]:
    """Drain ``df`` as the server does (``toJSON`` rows through
    ``toLocalIterator``), planning the JSON dataset once, so the
    planning span is not paid again inside the drain."""
    from pyspark.core.rdd import RDD
    from pyspark.serializers import UTF8Deserializer

    jds = df._jdf.toJSON()
    with _span(tracer, "spark.plan"):
        jds.queryExecution().executedPlan()
    with _span(tracer, "spark.exec"):
        rdd = RDD(jds.toJavaRDD(), df.sparkSession.sparkContext, UTF8Deserializer())
        return list(rdd.toLocalIterator(prefetchPartitions=True))


def in_process(op, compiler, tracer: Tracer | None = None):
    """One op through the layer calls, as the server makes them:
    (query id, seconds, rows). With a tracer every layer gets a span."""
    from miso_spark.kql import parse_kql

    qid = uuid.uuid4().hex
    if tracer:
        tracer.op = qid
    t0 = time.perf_counter()
    with _span(tracer, "op"):
        with _span(tracer, "kql.parse"):
            plan = parse_kql(op.kql)
        with _span(tracer, "compiler.run"):
            df, ctx = compiler.run_with_caches(plan)
        try:
            compiler.spark.sparkContext.setJobGroup(f"miso-query-{qid}", op.kql[:100], True)
            lines = _json_lines(df, tracer)
        finally:
            ctx.release()
    dt = time.perf_counter() - t0
    return qid, dt, [json.loads(x) for x in lines]


def run_interactive(root, data, seed, seconds, slots):
    from miso_spark.compiler import Compiler
    from miso_spark.server import MisoServer
    from miso_spark.sources import ParquetDirSource, SourceRegistry

    base = gen.ensure_base(data)
    warm, ops = gen.interactive_ops(seed)
    gen.fill_expected(base, warm + ops)
    spark = W.start_spark(root, slots)
    tracer = Tracer()
    counts = SparkCounts(spark)
    spy = source_spy(ParquetDirSource(base), tracer)
    traced = Compiler(SourceRegistry(spark).register("t", spy))
    plain = Compiler(SourceRegistry(spark).register("t", ParquetDirSource(base)))
    server = MisoServer(spark, port=0)
    server.miso.registry.register("t", spy)
    server.start_background()

    # Whole rounds rotate between the three ways, so each way sees every
    # template, and every op runs once, as in the untraced workload (a
    # repeat would find its generated code already compiled).
    kinds = ("traced", "plain", "http")
    per_round = len(gen.TEMPLATES)
    traced_ops, plain_s, http_s, sse_bytes = [], [], [], []
    attempted = failed = 0
    try:
        for op in warm:
            W.sse_query(server.port, op.kql)
        start = time.perf_counter()
        i = 0
        while time.perf_counter() - start < seconds or i % (3 * per_round):
            op = ops[i % len(ops)]
            kind = kinds[i // per_round % 3]
            err = None
            if kind == "http":
                tracer.op = uuid.uuid4().hex
                dt, rows, nbytes, err = W.sse_query(server.port, op.kql, tracer.op)
                http_s.append(dt)
                sse_bytes.append(nbytes)
            elif kind == "traced":
                qid, _, rows = in_process(op, traced, tracer)
                traced_ops.append((qid, op, counts.totals(counts.job_ids(f"miso-query-{qid}"))))
            else:
                _, dt, rows = in_process(op, plain)
                plain_s.append(dt)
            attempted += 1
            failed += not W.check_op(op, rows, err)
            i += 1
    finally:
        server.shutdown()
        W.stop_spark(spark)
    tracer.dump(os.path.join(data, f"trace-interactive-s{seed}.jsonl"))

    m = dict.fromkeys(PER_LAYER, 0.0)
    layers = ("kql.parse", "compiler.run", "sources.table", "spark.plan", "spark.exec")
    self_s = {name: tracer.per_op(name) for name in layers}
    op_s = tracer.per_op("op", self_time=False)

    def times(name, template=None):
        return [self_s[name].get(q, (0, 0.0))[1] for q, op, _ in traced_ops
                if template in (None, op.template)]

    m["kql.parse_s"] = _median(times("kql.parse"))
    m["compiler.run_s"] = _median(times("compiler.run"))
    m["sources.table_s"] = _median(times("sources.table"))
    m["sources.table_calls"] = _mean(self_s["sources.table"].get(q, (0, 0))[0]
                                     for q, _, _ in traced_ops)
    m["spark.plan_s"] = _median(times("spark.plan"))
    m["spark.exec_s"] = _median(times("spark.exec"))
    for t in TEMPLATES:
        m[f"compiler.run_s.{t}"] = _median(times("compiler.run", t))
        m[f"spark.exec_s.{t}"] = _median(times("spark.exec", t))
    _spark_means(m, [c for _, _, c in traced_ops],
                 sum(max(len(op.expected), 1) for _, op, _ in traced_ops))
    traced_p50 = _median(op_s[q][1] for q, _, _ in traced_ops)
    m["server.overhead_s"] = _median(http_s) - traced_p50
    m["server.sse_bytes"] = _mean(sse_bytes)
    m["trace.overhead_ratio"] = traced_p50 / _median(plain_s)
    extra = {
        "ops": attempted,
        # the HTTP latency, and what the layer self times, the glue
        # between them and server.overhead_s account for
        "http_p50_s": _median(http_s),
        "layers_p50_s": {n: _median(times(n)) for n in layers},
        "traced_op_p50_s": traced_p50,
    }
    return m, attempted, failed, extra


def _spark_means(m: dict, totals: list[dict], result_rows: int) -> None:
    for k in ("jobs", "stages", "tasks", "task_s", "gc_s", "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{k}"] = _mean(t[k] for t in totals)
    m["spark.input_rows_per_result_row"] = sum(t["input_rows"] for t in totals) / result_rows


def run_corpus(root, data, seed, seconds, slots):
    from miso_spark.sources import ParquetDirSource

    corpus_dir, expected, budget = W.prepare_corpus(data, seed)
    spark = W.start_spark(root, slots)
    tracer = Tracer()
    counts = SparkCounts(spark)
    plain = ParquetDirSource(corpus_dir)
    spy = source_spy(plain, tracer)
    builders = W.corpus_builders(budget)
    sc = spark.sparkContext
    calls = {op: [] for op in W.CORPUS_OPS}  # op → per traced call stats
    traced_rounds, plain_rounds = [], []
    attempted = failed = 0

    def traced_call(name: str, n: int) -> list[dict]:
        group = f"perfbench-{name}-{n}"
        tracer.op = group
        sc.setJobGroup(group, name, True)
        with tracer.span(f"functions.{name}"):
            with tracer.span(f"functions.{name}.build") as b:
                df = builders[name](spy.table(spark, "documents"))
            build_jobs = counts.job_ids(group)
            with tracer.span(f"functions.{name}.exec") as e:
                rows = W.rows_of(df)
        calls[name].append(dict(group=group, build_s=b["end"] - b["start"],
                                exec_s=e["end"] - e["start"], build_jobs=len(build_jobs),
                                result_rows=len(rows)))
        return rows

    try:
        for _ in range(W.CORPUS_WARMUP_ROUNDS):  # the untraced run's warm-up
            for name in W.CORPUS_OPS:
                W.rows_of(builders[name](plain.table(spark, "documents")))
        start = time.perf_counter()
        n = 0
        while time.perf_counter() - start < seconds:
            for trace in ((n % 2 == 0), (n % 2 == 1)):
                t0 = time.perf_counter()
                for name in W.CORPUS_OPS:
                    if trace:
                        rows = traced_call(name, n)
                    else:  # own group, so no traced call's counts take these jobs
                        sc.setJobGroup(f"perfbench-plain-{n}", name, True)
                        rows = W.rows_of(builders[name](plain.table(spark, "documents")))
                    attempted += 1
                    failed += not gen.same_rows(rows, expected[name])
                (traced_rounds if trace else plain_rounds).append(time.perf_counter() - t0)
            n += 1
        # status store reads stay out of the timed rounds
        for c in (c for cs in calls.values() for c in cs):
            c.update(counts.totals(counts.job_ids(c["group"])))
    finally:
        W.stop_spark(spark)
    tracer.dump(os.path.join(data, f"trace-corpus-s{seed}.jsonl"))

    m = dict.fromkeys(PER_LAYER, 0.0)
    for name, cs in calls.items():
        p = f"functions.{name}."
        m[p + "build_s"] = _median(c["build_s"] for c in cs)
        m[p + "exec_s"] = _median(c["exec_s"] for c in cs)
        for k in ("build_jobs", "jobs", "task_s", "shuffle_write_bytes", "spill_bytes"):
            m[p + k] = _mean(c[k] for c in cs)
    every = [c for cs in calls.values() for c in cs]
    table = tracer.per_op("sources.table")
    m["sources.table_calls"] = _mean(n for n, _ in table.values())
    m["sources.table_s"] = _median(t for _, t in table.values())
    m["spark.exec_s"] = _median(c["exec_s"] for c in every)
    _spark_means(m, every, sum(max(c["result_rows"], 1) for c in every))
    m["trace.overhead_ratio"] = _median(traced_rounds) / _median(plain_rounds)
    return m, attempted, failed, {"rounds": len(traced_rounds) + len(plain_rounds)}


def run(workload, root, data, seed, seconds, slots):
    """(metrics {name: (value, unit)}, attempted, failed, record extras)."""
    runner = {"interactive": run_interactive, "corpus": run_corpus}[workload]
    m, attempted, failed, extra = runner(root, data, seed, seconds, slots)
    return {k: (v, PER_LAYER[k]) for k, v in m.items()}, attempted, failed, extra
