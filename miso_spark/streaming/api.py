"""Structured Streaming operators.

Parity: the reference streams partial results to clients as data
arrives (miso-workflow/src/partial_stream.rs, partial_stream_tracker.rs
— each operator can emit incremental "partial" aggregates which the
mux layer merges). Spark's analog is Structured Streaming: incremental
execution of windowed aggregations with watermark-bounded state, and
``update``-mode sinks emitting refined partials.

- ``stream_events``: file-stream over the events table layout (handles
  the ns-timestamp conversion the batch source layer does).
- ``windowed_counts``: tumbling-window aggregate with watermark — the
  streaming twin of ``summarize ... by bin(ts, w)``.
- ``sessionize``: custom stateful operator via
  ``applyInPandasWithState`` (session windows with an idle gap), the
  escape hatch for semantics built-ins can't express.
- ``tee_stream``: foreachBatch side-write (QueryStep::Tee analog).
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def stream_events(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
    glob_filter: str | None = None,
) -> DataFrame:
    """File-source stream over parquet event files.

    ``path`` must be a directory (file-stream source requirement);
    ``glob_filter`` restricts which files inside it are streamed. The
    schema is sniffed from a static read (driver-side footer read);
    nano-timestamp ``ts`` arrives as a long under ``nanosAsLong`` and is
    converted exactly like the batch source layer.
    """
    static_path = os.path.join(path, glob_filter) if glob_filter else path
    static = spark.read.parquet(static_path)
    reader = spark.readStream.schema(static.schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if glob_filter:
        reader = reader.option("pathGlobFilter", glob_filter)
    df = reader.parquet(path)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    return df


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling-window counts per event_type with late-data bound.

    State is bounded by the watermark: at 100 TB/day ingest the state
    store only holds one window + slack, not history.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
            F.round("total", 2).alias("total"),
        )
    )


_SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)

_SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
    ]
)


def _sessionize_group(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    gap_s: float = 1800.0,
    use_timeout: bool = False,
):
    """Stateful session builder: events within ``gap_s`` of the previous
    event extend the session; a larger gap closes it and emits a row."""
    (user_id,) = key
    if state.exists:
        start_us, last_us, n = state.get
    else:
        start_us, last_us, n = None, None, 0

    # processing-time timeout fired with no new data: the session went
    # idle — flush the buffered session row and drop the state (leaving
    # it would re-arm the timeout and pin the session open forever)
    if use_timeout and state.hasTimedOut:
        state.remove()
        if last_us is not None:
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us, unit="us")],
                    "n_events": [n],
                }
            )
        return

    # gather the batch's rows across ALL Arrow chunks before sorting —
    # a group larger than one chunk must still process in time order.
    # Vectorized ns→µs conversion (r15, guide §4.2): the former per-row
    # pd.Timestamp(ts).value generator paid Python object construction
    # per event; astype("int64")//1000 floors identically (same ns
    # epoch, same floor division). The int64 cast counts in the column's
    # own unit, so coerce to ns first: a datetime64[us] column would
    # otherwise come out in ms and every gap would look 1000× shorter.
    # as_unit (not astype) keeps a tz-aware column working too.
    stamps: list[int] = []
    for pdf in pdfs:
        ns = pd.to_datetime(pdf["ts"]).dt.as_unit("ns")
        stamps.extend((ns.astype("int64") // 1000).tolist())

    out = []
    for us in sorted(stamps):
        if last_us is not None and us - last_us > gap_s * 1e6:
            out.append((user_id, start_us, last_us, n))
            start_us, n = us, 0
        if start_us is None:
            start_us = us
        last_us = us
        n += 1
    state.update((start_us, last_us, n))
    if use_timeout:
        state.setTimeoutDuration(int(gap_s * 1000))

    if out:
        yield pd.DataFrame(
            {
                "user_id": [r[0] for r in out],
                "session_start": [pd.Timestamp(r[1], unit="us") for r in out],
                "session_end": [pd.Timestamp(r[2], unit="us") for r in out],
                "n_events": [r[3] for r in out],
            }
        )


def sessionize(
    events: DataFrame,
    gap_s: float = 1800.0,
    watermark: str = "1 hour",
    idle_timeout: bool = False,
) -> DataFrame:
    """Custom stateful streaming operator: per-user session windows with
    an idle gap — the applyInPandasWithState pattern for operators the
    built-in windowing can't express (SURVEY.md §2.4).

    ``idle_timeout=True`` flushes idle sessions via processing-time
    timeouts on a live stream; leave it off for drain-style
    (availableNow) runs — the timeout cleanup phase never completes
    under availableNow, so open sessions stay in state instead.
    """

    def fn(key, pdfs, state):
        yield from _sessionize_group(key, pdfs, state, gap_s, idle_timeout)

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=_SESSION_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if idle_timeout
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def sessionize_native(
    events: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
    watermark: str | None = None,
) -> DataFrame:
    """Built-in session windows (``F.session_window``): the zero-Python
    sessionize — state-store backed on streams, plain aggregation on
    batch. Prefer this at scale; ``sessionize`` (applyInPandasWithState)
    remains the custom-stateful-operator escape hatch for semantics the
    built-in can't express.

    Window end = last event + gap (half-open merge bound), unlike the
    custom operator's end = last event; both are returned.
    """
    df = events
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.col(key_col), F.session_window(F.col(ts_col), gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def run_to_memory(stream_df: DataFrame, name: str, mode: str = "update") -> DataFrame:
    """Drain all currently-available input through the streaming query
    into an in-memory sink and return the result table."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def tee_stream(stream_df: DataFrame, out_dir: str, checkpoint_dir: str):
    """Side-write every micro-batch to parquet (Tee step analog);
    returns the running query handle."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def dedup_stream(
    stream_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    watermark: tuple[str, str] | None = None,
) -> DataFrame:
    """Streaming exact dedup: keep the first-seen document per
    normalized-content hash — the ingest-time dedup stage of a training
    pipeline (new crawl batches arrive as files; duplicates of anything
    already ingested are dropped on the fly).

    ``dropDuplicates`` keeps per-key state in the state store; without
    a watermark that state grows with the number of DISTINCT hashes
    (16 bytes + row each — fine for dedup-by-content, where the state
    IS the dedup index). Pass ``watermark=(ts_col, "7 days")`` to bound
    state when only a recency window must be dedup-exact.
    """
    from miso_spark.functions.text import normalize

    out = stream_df.withColumn("content_hash", F.md5(normalize(F.col(text_col))))
    if watermark is not None:
        ts_col, delay = watermark
        out = out.withWatermark(ts_col, delay)
        return out.dropDuplicates(["content_hash", ts_col])
    return out.dropDuplicates(["content_hash"])


_NEAR_DUP_SCHEMA = StructType(
    [
        StructField("id_a", LongType()),
        StructField("id_b", LongType()),
        StructField("est_jaccard", DoubleType()),
        StructField("band", LongType()),
    ]
)

#: per-bucket state: doc ids + their signatures flattened back-to-back
#: (ids[i] owns sigs[i*num_hashes : (i+1)*num_hashes]) — flat arrays
#: keep the Arrow state round-trip to primitive types
_NEAR_DUP_STATE_SCHEMA = StructType(
    [
        StructField("ids", ArrayType(LongType())),
        StructField("sigs", ArrayType(LongType())),
    ]
)


def _near_dup_bucket(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    num_hashes: int,
    threshold: float,
    max_bucket_size: int,
    ttl_s: float | None = None,
):
    """Stateful LSH-bucket matcher: each arriving doc compares against
    the bucket's remembered signatures; agreement fraction estimates
    Jaccard (the standard MinHash estimator). The bucket retains at
    most ``max_bucket_size`` docs — the same flood guard as the batch
    LSH join's bucket cap. With ``ttl_s`` set, a bucket idle that long
    drops its state (recency-window dedup; the timeout only fires on a
    live trigger, like sessionize's idle_timeout).

    The signature comparison is vectorized (r15, guide §4.2): the
    bucket's signatures live in one ``(n, num_hashes)`` int64 matrix
    (amortized-doubling append buffer) and each arrival compares
    against ALL of them with one numpy equality reduction — the former
    per-prior Python loop was O(bucket² × num_hashes) interpreted ops
    per batch and dominated the drain (measured 44–72 s for 5,000
    sf0.1 docs; ~20× less after). Agreement counts are exact ints, so
    ``est`` is bit-identical to the scalar form."""
    import numpy as np

    band = int(key[0])
    if ttl_s is not None and state.hasTimedOut:
        state.remove()
        return
    if state.exists:
        ids, flat = state.get
        ids = list(ids)
        n = len(ids)
        buf = np.asarray(flat, dtype=np.int64).reshape(n, num_hashes)
    else:
        ids, n = [], 0
        buf = np.empty((0, num_hashes), dtype=np.int64)
    cap = max(4, n)
    if buf.shape[0] != cap:
        grown = np.empty((cap, num_hashes), dtype=np.int64)
        grown[:n] = buf
        buf = grown
    out_a: list[int] = []
    out_b: list[int] = []
    out_j: list[float] = []
    for pdf in pdfs:
        for doc_id, sig in zip(pdf["doc_id"], pdf["sig"]):
            doc_id = int(doc_id)
            s = np.asarray(list(sig), dtype=np.int64)
            if doc_id in ids:
                continue  # replayed delivery of a known doc
            if n:
                est = (buf[:n] == s).sum(axis=1) / num_hashes
                for i in np.nonzero(est >= threshold)[0]:
                    prior = ids[i]
                    out_a.append(min(doc_id, prior))
                    out_b.append(max(doc_id, prior))
                    out_j.append(float(est[i]))
            if len(ids) < max_bucket_size:
                if n == cap:
                    cap *= 2
                    grown = np.empty((cap, num_hashes), dtype=np.int64)
                    grown[:n] = buf[:n]
                    buf = grown
                buf[n] = s
                n += 1
                ids.append(doc_id)
    state.update((ids, [int(x) for x in buf[:n].reshape(-1)]))
    if ttl_s is not None:
        state.setTimeoutDuration(int(ttl_s * 1000))
    if out_a:
        yield pd.DataFrame(
            {
                "id_a": out_a,
                "id_b": out_b,
                "est_jaccard": out_j,
                "band": [band] * len(out_a),
            }
        )


def near_dedup_stream(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_bucket_size: int = 64,
    ttl_s: float | None = None,
) -> DataFrame:
    """Streaming NEAR-duplicate detection — the ingest-time twin of the
    batch minhash pipeline (functions/dedup.py): as documents arrive,
    emit ``(id_a, id_b, est_jaccard, band)`` for every new doc whose
    MinHash signature agrees with a previously-ingested doc's at ≥
    ``threshold``.

    Plan shape (all state executor-side, keyed by LSH bucket): the
    MinHash signature shared with the batch pipeline
    (``functions.dedup.with_minhash_signature``: ``sig[k]`` equals
    ``minhash_lsh_pairs``' ``m{k}`` for the same text and shingle size)
    and the per-band bucket hashes compute row-locally in JVM
    expressions; one shuffle groups by ``(band, bucket)``;
    ``applyInPandasWithState`` keeps ≤ ``max_bucket_size`` signatures
    per bucket and compares each arrival against them — never all
    pairs, exactly the batch LSH candidate structure. A pair sharing
    several bands emits once per band (streams can't globally
    de-duplicate emissions without unbounded state; consumers keep the
    max-band row or drop duplicates within their own window).

    State growth is one (id + signature) per doc per band, capped per
    bucket — linear in corpus size like the batch dedup index (the
    state IS the dedup index), and the cap bounds any hot bucket. When
    only a recency window must be near-dedup-exact, ``ttl_s`` evicts
    buckets idle that long via processing-time timeouts — bounding
    state by ingest rate × window instead of corpus size. Like
    ``sessionize(idle_timeout=True)``, the timeout only fires on live
    triggers, not under an availableNow drain — and note that with
    timeouts on, the engine schedules state-cleanup micro-batches even
    with no new data, so the stream never quiesces: use a fixed
    ``trigger(processingTime=...)`` and poll progress rather than
    ``processAllAvailable()`` (which would block forever).
    """
    from miso_spark.functions.dedup import with_minhash_signature

    rows = num_hashes // bands
    banded = (
        with_minhash_signature(
            docs.select(F.col(id_col).cast("long").alias("doc_id"), F.col(text_col)),
            text_col, num_hashes, shingle_n,
        )
        .select("doc_id", "sig")
        .select(
            "doc_id",
            "sig",
            F.posexplode(
                F.array(
                    *[
                        F.xxhash64(F.slice("sig", b * rows + 1, rows))
                        for b in range(bands)
                    ]
                )
            ).alias("band", "bucket"),
        )
    )

    def fn(key, pdfs, state):
        yield from _near_dup_bucket(
            key, pdfs, state, num_hashes, threshold, max_bucket_size, ttl_s
        )

    return banded.groupBy("band", "bucket").applyInPandasWithState(
        fn,
        outputStructType=_NEAR_DUP_SCHEMA,
        stateStructType=_NEAR_DUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl_s is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
