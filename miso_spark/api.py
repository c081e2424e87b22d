"""Spark-native public API.

The reference's user-facing contract is KQL-in, rows-out over HTTP+SSE
(miso-server/src/http_server.rs: POST /query streams ``data: {json}``
result rows out, incremental as the engine produces them) plus query
cancellation. The Spark-native analog:

- ``MisoSpark.query(kql)`` → DataFrame (lazy; compose further).
- ``MisoSpark.run(plan, qid)`` → the one query lifecycle (job group,
  compile, drain, cancel, cache release) behind the HTTP server's row
  stream and the two iterators below.
- ``MisoSpark.query_json(kql)`` → iterator of JSON rows, serialized on
  the executors and streamed as Spark finishes partitions, the SSE
  analog. Wrap each line in ``data: {line}\\n\\n`` framing and you
  have the reference's wire format.
- ``MisoSpark.query_rows(kql)`` → the same lines ``json.loads``-ed:
  values are JSON-typed exactly as SSE clients receive them
  (timestamps as ISO strings, dynamic cells as their JSON value).
- ``MisoSpark.explain(kql)`` → the physical plan.
- cancellation: ``cancel()`` aborts this handle's in-flight queries
  (miso's /cancel parity).
"""

from __future__ import annotations

import json
import uuid
from contextlib import closing, contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from miso_spark.compiler import Compiler
from miso_spark.kql import parse_kql
from miso_spark.plan import Plan
from miso_spark.sources import MemorySource, SourceRegistry


class MisoSpark:
    def __init__(self, spark: SparkSession, registry: SourceRegistry | None = None):
        self.spark = spark
        self.registry = registry or SourceRegistry(spark)
        # a writable in-session connector is always available ("mem"),
        # like the reference's memory connector
        if "mem" not in self.registry._sources:
            self.registry.register("mem", MemorySource())
        self.compiler = Compiler(self.registry)
        #: job groups of this handle's queries still running
        self._live: set[str] = set()

    def query(self, kql: str) -> DataFrame:
        return self.compiler.run(parse_kql(kql))

    @contextmanager
    def job_group(self, qid: str, text: str = "") -> Iterator[None]:
        """Run the block's Spark jobs in the group ``miso-query-<qid>``
        (interruptOnCancel), where ``cancel()`` reaches them. If the
        block raises, or a generator around it is closed early, the
        group's jobs are cancelled: the reference's CancellationToken
        drop guard (http_server.rs:340-371, cancel_iter.rs)."""
        sc = self.spark.sparkContext
        group = f"miso-query-{qid}"
        sc.setJobGroup(group, text[:100], interruptOnCancel=True)
        self._live.add(group)
        try:
            yield
        except BaseException:
            sc.cancelJobGroup(group)
            raise
        finally:
            self._live.discard(group)

    def run(self, plan: Plan, qid: str, text: str = "") -> Iterator[str]:
        """Run one query and return its rows as JSON lines.

        Every job of the query, source resolution included, runs in
        :meth:`job_group`. The plan compiles before this returns, so a
        compile error raises here, before any row. The iterator drains
        ``toJSON().toLocalIterator``; if the consumer stops early
        (``close()``, or drops it) or the drain raises, the group's
        jobs are cancelled. The run's persisted caches are released
        when it ends, in every case."""
        lines = self._lines(plan, qid, text)
        next(lines)  # compile now; from here on close() cleans up
        return lines

    def _lines(self, plan: Plan, qid: str, text: str) -> Iterator[str]:
        ctx = None
        try:
            with self.job_group(qid, text):
                df, ctx = self.compiler.run_with_caches(plan)
                # the local iterator's serving thread inherits the
                # group now, so runs interleaved on one thread keep
                # their own groups
                rows = df.toJSON().toLocalIterator(prefetchPartitions=True)
                yield ""
                yield from rows
        finally:
            if ctx is not None:
                ctx.release()

    def query_json(self, kql: str) -> Iterator[str]:
        """Stream rows as JSON strings (serialized on executors)."""
        return self.run(parse_kql(kql), uuid.uuid4().hex, kql)

    def query_rows(self, kql: str) -> Iterator[dict]:
        """Stream rows as dicts decoded from the wire's JSON lines."""
        with closing(self.query_json(kql)) as lines:
            yield from map(json.loads, lines)

    def explain(self, query: str | Plan, mode: str = "formatted") -> str:
        """The physical plan Spark will execute for a query (KQL text
        or a parsed plan). Nothing runs the compiled frame, so any
        cache the compile persisted (a dynamic filter's producer) is
        released before this returns."""
        plan = parse_kql(query) if isinstance(query, str) else query
        df, ctx = self.compiler.run_with_caches(plan)
        try:
            return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
                df._jdf.queryExecution(), mode
            )
        finally:
            ctx.release()

    def cancel(self) -> None:
        """Abort this handle's in-flight queries (POST /cancel parity)."""
        for group in tuple(self._live):
            self.spark.sparkContext.cancelJobGroup(group)
