"""Progressive partial results for long-running queries.

Parity: miso-workflow/src/partial_stream.rs — while a query runs, the
engine periodically emits the operator's *current state*, tagged with
an incrementing partial-stream id plus a per-round done marker
(PARTIAL_STREAM_ID_FIELD_NAME / PARTIAL_STREAM_DONE_FIELD_NAME), with
debouncing so rounds aren't flooded; the final exact rows follow.

Spark-first mapping — three plan shapes, same shapes the reference's
``get_partial``-capable operators cover (tests.rs partial_stream_*):

- **aggregate**: ``scan | row-local* | union* | summarize/count |
  row-local*`` compiles onto a file-stream scan
  (``maxFilesPerTrigger``) in **complete** output mode — each
  micro-batch materializes the aggregation's current state over
  everything read so far; post-aggregate row-local steps (e.g.
  ``count | where Count > 0``) ride on top of the streaming aggregate.
- **top-n / limit tail**: ``scan | row-local* | union* | (top|take)+``
  runs the scan in **append** mode and folds each micro-batch into a
  bounded accumulator: state = the tail applied to (previous state ∪
  new batch), which for monotone-shrinking tails (sort+limit, limit)
  is exactly the current top-N — the reference's topn get_partial.
- **unions** stream every scan (the reference emits a partial round
  per finished union source).
"""

from __future__ import annotations

import time
from typing import Callable, Optional

from pyspark.sql import DataFrame

from miso_spark import plan as P

#: metadata field names, matching partial_stream.rs:33-34
METADATA_FIELD = "_miso_metadata"
PARTIAL_ID_FIELD = "id"
PARTIAL_DONE_FIELD = "done"

#: row-local steps that compile unchanged onto a streaming scan
_ROW_LOCAL = (P.Filter, P.Project, P.Extend, P.Rename, P.Expand)


def _streamable_scan(step, registry) -> bool:
    if not isinstance(step, P.Scan):
        return False
    src = registry.sources().get(step.connector)
    return src is not None and hasattr(src, "stream_table")


def _classify(plan: P.Plan, registry) -> Optional[tuple[str, int]]:
    """(mode, head_end) where steps[:head_end] is the streamable head
    (scan + row-local + unions-of-streamable-scans) and steps[head_end:]
    is either an aggregate (+ row-local post-steps) or a top/limit
    tail. None → not partial-streamable."""
    steps = plan.steps
    if not steps or not _streamable_scan(steps[0], registry):
        return None
    i = 1
    while i < len(steps) and isinstance(steps[i], _ROW_LOCAL + (P.Union,)):
        if isinstance(steps[i], P.Union):
            sub = steps[i].sub.steps
            if not (
                sub
                and _streamable_scan(sub[0], registry)
                and all(isinstance(s, _ROW_LOCAL) for s in sub[1:])
            ):
                return None
        i += 1
    if i < len(steps) and isinstance(steps[i], (P.SummarizeStep, P.CountStep)):
        if isinstance(steps[i], P.SummarizeStep) and any(
            a.kind == "dcount" for _, a in steps[i].aggs
        ):
            # exact dcount can't stream directly (Spark refuses
            # distinct aggregations on streams) — it runs via the
            # union-split partial model instead (run_partial_stream),
            # so it's supported exactly when the split is
            from miso_spark.rewrite import split_summarize_for_union

            if split_summarize_for_union(steps[i]) is None:
                return None
        if all(isinstance(s, _ROW_LOCAL) for s in steps[i + 1 :]):
            return ("agg", i)
        return None
    j = i
    while j < len(steps) and isinstance(steps[j], (P.Top, P.Limit)):
        j += 1
    if j > i and j == len(steps):
        return ("tail", i)
    return None


def plan_supports_partial_stream(plan: P.Plan, registry) -> bool:
    return _classify(plan, registry) is not None


def _stream_scan(compiler, scan: P.Scan, max_files_per_trigger: int) -> DataFrame:
    src = compiler.registry.source(scan.connector)
    sdf = src.stream_table(compiler.spark, scan.collection, max_files_per_trigger)
    # apply collection static_fields renames exactly as the batch path
    # does (SourceRegistry.table) so @time-style fields resolve the same
    # whether the query runs batch or partial-stream
    return src.rename_static_fields(scan.collection, sdf)


def _compile_head(compiler, steps, max_files_per_trigger: int) -> DataFrame:
    from miso_spark.compiler import union_harmonized

    sdf = _stream_scan(compiler, steps[0], max_files_per_trigger)
    for step in steps[1:]:
        if isinstance(step, P.Union):
            sub = step.sub.steps
            other = _stream_scan(compiler, sub[0], max_files_per_trigger)
            for s in sub[1:]:
                other = compiler._apply(s, other, {})
            # same variant/type harmonization as the batch Union
            # compile — a bare unionByName crashed on VARIANT∪typed
            # heads, newly reachable since dynamic collections stream
            sdf = union_harmonized(sdf, other)
        else:
            sdf = compiler._apply(step, sdf, {})
    return sdf


def run_partial_stream(
    compiler,
    plan: P.Plan,
    emit: Callable[[int, list[str], bool], None],
    debounce_s: float = 1.0,
    max_files_per_trigger: int = 1,
    max_rows_per_round: int = 10_000,
) -> dict:
    """Execute ``plan`` incrementally; call ``emit(round_id, json_rows,
    is_final)`` for each debounced partial round and once (or, for a
    large truncated final, in chunks) with ``is_final=True``.
    ``json_rows`` are executor-serialized JSON strings.

    Debounce matches the reference (partial_stream.rs:41-48): a round
    arriving sooner than ``debounce_s`` after the last emitted round is
    dropped — except the final one, which always emits.

    **Driver-memory bound**: aggregate partial rounds materialize at
    most ``max_rows_per_round`` rows on the driver (pulled through
    ``toLocalIterator``, never a full collect) — a high-cardinality
    group key can't blow up the driver between rounds. Truncated rounds
    are counted in the returned stats dict
    (``{"truncated_rounds": n}``); partial rounds are best-effort
    previews by contract, so a truncated preview is still useful. The
    FINAL answer is never truncated: when the last round overflowed the
    cap, the last micro-batch's DataFrame — which in complete mode IS
    the full final state, and is kept persisted for exactly this — is
    streamed out chunk-by-chunk through ``toLocalIterator``, the same
    delivery path the server's non-partial rows take. No second
    full-plan execution, and the final matches the data the stream
    actually observed.
    """
    mode, head_end = _classify(plan, compiler.registry) or (None, 0)
    if mode is None:
        raise ValueError("plan does not support partial streaming")
    sdf = _compile_head(compiler, plan.steps[:head_end], max_files_per_trigger)
    tail_steps = plan.steps[head_end:]
    stats = {"truncated_rounds": 0}

    # only the LATEST round is retained (the final emit needs just the
    # last state; buffering every round would grow driver memory by
    # O(rounds) for long streams)
    latest: list[tuple[int, list[str], bool]] = []
    last_emit = [0.0]

    def record(batch_id: int, rows: list[str], truncated: bool = False) -> None:
        latest[:] = [(batch_id, rows, truncated)]
        if truncated:
            stats["truncated_rounds"] += 1
        now = time.monotonic()
        if now - last_emit[0] >= debounce_s:
            last_emit[0] = now
            emit(batch_id, rows, False)

    #: the newest micro-batch's DataFrame, kept persisted past its
    #: foreachBatch call: in complete mode it IS the aggregation's
    #: current full state, so when the stream ends the held entry is
    #: the exact final answer already materialized in the block
    #: manager — the truncated-final path streams it out instead of
    #: re-executing the whole plan as a batch query (which would both
    #: double the work and observe files landing after the stream
    #: stopped)
    held: list[DataFrame] = []

    if mode == "agg":
        # exact dcount can't stream (Spark refuses distinct aggs on
        # streams): stream the reference's PARTIAL model instead —
        # the dcount arg joins the group keys of a null-keeping
        # partial (split_summarize_for_union, summarize.rs
        # convert_to_partial), and each batch FINISHES engine-side
        # (merge + post) before emitting, so every round (and the
        # final) is the exact user-visible answer.
        finish_steps: list = []
        if (
            tail_steps
            and isinstance(tail_steps[0], P.SummarizeStep)
            and any(a.kind == "dcount" for _, a in tail_steps[0].aggs)
        ):
            from miso_spark.rewrite import split_summarize_for_union

            split = split_summarize_for_union(tail_steps[0])
            if split is None:  # _classify gates this; belt-and-braces
                raise ValueError("plan does not support partial streaming")
            partial, merge, post = split
            finish_steps = [merge] + ([post] if post is not None else [])
            finish_steps += list(tail_steps[1:])
            tail_steps = (partial,)

        def _finish(df: DataFrame) -> DataFrame:
            for s in finish_steps:
                df = compiler._apply(s, df, {})
            return df

        for step in tail_steps:
            if isinstance(step, P.SummarizeStep) and not step.aggs:
                # the batch compile of an agg-less summarize (the
                # `distinct` lowering) is select+distinct — streaming
                # DEDUP, which complete mode rejects. Compile it as a
                # true streaming aggregation instead: group on the
                # keys with a throwaway count, then drop it. Same
                # rows (the grouped path applies the identical
                # null-key drop). r11 partial-stream property find.
                helper = "__miso_partial_one"
                while any(bf.name == helper for bf in step.by):
                    helper += "_"
                step = P.SummarizeStep(
                    ((helper, P.Agg("count")),), step.by,
                    keep_null_keys=step.keep_null_keys,
                )
                sdf = compiler._apply(step, sdf, {}).drop(helper)
                continue
            sdf = compiler._apply(step, sdf, {})

        def on_batch(batch_df, batch_id: int) -> None:
            # count() first: every partition of the stateful batch must
            # run to completion or the state store's commit validation
            # fails — and it keeps the full state executor-side, where
            # it belongs. Only ≤ max_rows_per_round rows ever reach the
            # driver.
            batch_df = _finish(batch_df)  # no-op without a dcount split
            batch_df.persist()
            ok = False
            try:
                total = batch_df.count()
                truncated = total > max_rows_per_round
                df = batch_df.limit(max_rows_per_round) if truncated else batch_df
                record(int(batch_id), df.toJSON().collect(), truncated)
                ok = True
            finally:
                if ok:
                    # hold this batch's cached state (it may turn out
                    # to be the final one); release the previous hold
                    for prev in held:
                        prev.unpersist()
                    held[:] = [batch_df]
                else:
                    batch_df.unpersist()

        out_mode = "complete"
    else:  # top/limit tail: bounded accumulator in append mode
        acc: list = []  # current top rows (bounded by the tail's limit)
        schema = sdf.schema

        def apply_tail(df):
            for step in tail_steps:
                df = compiler._apply(step, df, {})
            return df

        def on_batch(batch_df, batch_id: int) -> None:
            spark = batch_df.sparkSession
            combined = batch_df
            if acc:
                combined = spark.createDataFrame(acc, schema).unionByName(batch_df)
            rows = apply_tail(combined).collect()
            acc[:] = rows
            record(int(batch_id), _rows_to_json(spark, rows, schema))

        out_mode = "append"

    query = (
        sdf.writeStream.outputMode(out_mode)
        .foreachBatch(on_batch)
        .trigger(availableNow=True)
        .start()
    )
    try:
        query.awaitTermination()

        if not latest:
            emit(0, [], True)
            return stats
        final_id, final_rows, truncated = latest[0]
        if not truncated:
            emit(final_id, final_rows, True)
            return stats
        # the last round overflowed the cap: the held DataFrame is the
        # final state, already materialized partition-by-partition into
        # the block manager by its count() — stream it out in bounded
        # chunks. No second full-plan execution, and the final reflects
        # exactly the files the stream observed (a batch recompute
        # could see later arrivals). Only an aggregate round is ever
        # truncated, and on_batch holds its frame before returning.
        from itertools import islice

        it = held[0].toJSON().toLocalIterator(prefetchPartitions=True)
        first = True
        while True:
            chunk = list(islice(it, max_rows_per_round))
            if chunk or first:
                emit(final_id, chunk, True)
            first = False
            if len(chunk) < max_rows_per_round:
                break
        return stats
    finally:
        for df in held:
            df.unpersist()


def _rows_to_json(spark, rows: list, schema) -> list[str]:
    if not rows:
        return []
    return spark.createDataFrame(rows, schema).toJSON().collect()
