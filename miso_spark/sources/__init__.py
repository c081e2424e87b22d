"""Source ("connector") registry.

Parity: miso-connectors/src/lib.rs — a connector exposes named
collections and declares which query steps it can absorb via its
``apply_*`` methods (lib.rs:189-296: filter/project/extend/limit/topn/
count/summarize/union, plus ``raw_query`` and ``create_sink``). Here
each ``Source`` declares the same surface as a ``capabilities`` set the
compiler consults (raw-scan and write negotiation); for the filesystem
sources the scan-step pushdowns execute through Catalyst (PushedFilters
/ column pruning / limit pushdown, asserted in tests/test_plans.py),
which subsumes miso's push_*_into_scan passes (SURVEY.md §6).

Connector kinds:
- ``ParquetDirSource``: a directory of ``<collection>.parquet`` —
  the stand-in for Quickwit/ES indexes (columnar, indexed storage).
- ``JsonDirSource`` / ``CsvDirSource``: semi-structured log files.
- ``MemorySource``: in-session named DataFrames
  (parity: miso-connectors/src/memory.rs).
- ``QuickwitSource`` / ``ElasticsearchSource`` / ``SplunkSource``
  (miso_spark.sources.external): send negotiated pushdown requests to
  the live service over HTTP (Quickwit and Elasticsearch share one
  ES-protocol client); an unreachable service fails at connect time.

Scan memo: a file-backed source resolves each collection (file
listing, schema inference, footer sniffs, key discovery) once per
Spark session and keeps the result, keyed on ``(session, listing
stamp)``. The stamp is the sorted ``(relative path, size, ctime_ns)``
of every file under the collection path, symlinked directories
followed. A changed stamp is the one invalidation rule: a
``write``/``tee``, an external file drop and a file replaced in place
(even with its old mtime kept) all change it. Only an existing local
path is memoized; a URI (``file://``, ``s3a://``, ``hdfs://``) or a
missing path is read afresh on every scan, as without the memo. Each
scan gets a fresh-attribute-id copy of the stored frame, so one query
can scan a collection twice (self-join, self-union, two ``let``s over
it).
"""

from __future__ import annotations

import os
from typing import Callable
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# capability vocabulary — one name per Connector::apply_* hook in the
# reference (miso-connectors/src/lib.rs:189-296) plus raw_query/sink
CAP_FILTER = "filter"
CAP_PROJECT = "project"
CAP_EXTEND = "extend"
CAP_LIMIT = "limit"
CAP_TOPN = "topn"
CAP_COUNT = "count"
CAP_SUMMARIZE = "summarize"
CAP_UNION = "union"
CAP_RAW = "raw"        # connector-native query string (ScanRaw)
CAP_WRITE = "write"    # create_sink analog (tee / write steps)


class Source:
    """A named connector serving collections as DataFrames.

    ``capabilities`` declares which steps the source can absorb at the
    scan. The compiler enforces the negotiated subset (raw scans,
    writes); Catalyst executes the scan-step pushdowns for file-backed
    sources.

    File-backed sources route ``table()`` through :meth:`_memo_scan`:
    one entry per collection, ``(session, listing stamp, DataFrame)``,
    reused while the session is the same and the stamp is equal,
    replaced otherwise. A changed listing is the only invalidation;
    a path the stamp cannot list (a URI, a missing path) is not
    memoized.
    """

    capabilities: frozenset[str] = frozenset()

    #: per-collection field replacements (Collection.static_fields,
    #: lib.rs:137 / scan.rs apply_static_fields): {"events": {"@time":
    #: "ts"}} renames ``ts`` to ``@time`` at scan — how the reference
    #: standardizes e.g. the timestamp field across connectors
    static_fields: dict[str, dict[str, str]]

    def collection_static_fields(self, collection: str) -> dict[str, str]:
        return getattr(self, "static_fields", {}).get(collection, {})

    def rename_static_fields(self, collection: str, df: DataFrame) -> DataFrame:
        """``df``, a scan of ``collection``, with each static field's
        source column renamed (not copied) to its visible name, like
        scan.rs apply_static_fields removes the original key."""
        fields = self.collection_static_fields(collection)
        if not fields:
            return df
        cols = set(df.columns)
        renames: dict[str, str] = {}
        for to, frm in fields.items():
            if frm in cols:
                renames.setdefault(frm, to)
        return df.withColumnsRenamed(renames) if renames else df

    def table(self, spark: SparkSession, collection: str) -> DataFrame:
        raise NotImplementedError

    def _memo_scan(
        self,
        spark: SparkSession,
        collection: str,
        path: str,
        read: Callable[[], DataFrame],
    ) -> DataFrame:
        """``read()`` behind the per-collection scan memo.

        The stamp is taken before ``read()`` runs, so a write racing a
        miss stores an older stamp and the next call rebuilds. Two
        concurrent misses both build; the last one stored wins. The
        caller gets ``toDF(*columns)`` — same plan, fresh attribute ids
        — never the stored frame, so two scans of one collection in
        one query do not share column ids. A path ``_listing_stamp``
        cannot list is returned as ``read()``, unmemoized."""
        stamp = _listing_stamp(path)
        if stamp is None:
            return read()
        memo = self.__dict__.setdefault("_scans", {})
        entry = memo.get(collection)
        if entry is None or entry[0] is not spark or entry[1] != stamp:
            entry = memo[collection] = (spark, stamp, read())
        df = entry[2]
        return df.toDF(*df.columns)

    def write(self, df: DataFrame, collection: str, mode: str = "overwrite") -> None:
        raise NotImplementedError(f"{type(self).__name__} is read-only")

    def fetch_stats(self):
        """Connector::fetch_stats analog (lib.rs:295-301): per-field
        statistics the engine uses for optimization decisions (dynamic
        filtering, broadcast-side choice). None = no stats support —
        the default, like the reference's trait default."""
        return None

    def field_stats(self, collection: str, field: str):
        """Scan::get_field_stats analog (miso-workflow/src/scan.rs:79),
        served through a lazy-TTL :class:`~miso_spark.sources.stats.
        StatsCache` built on first use. Advisory: None when the source
        has no stats."""
        if self.fetch_stats.__func__ is Source.fetch_stats:
            return None  # no stats support — skip the cache machinery
        cache = getattr(self, "_stats_cache", None)
        if cache is None:
            from miso_spark.sources.stats import DEFAULT_STATS_TTL_S, StatsCache

            # per-connector refresh cadence (config.rs
            # stats_fetch_interval, default 3 h) — set by the server's
            # connector factory from config.json
            ttl = getattr(self, "stats_fetch_interval_s", None)
            cache = self._stats_cache = StatsCache(
                self, ttl if ttl is not None else DEFAULT_STATS_TTL_S
            )
        return cache.get(collection, field)


def _listing_stamp(path: str) -> tuple | None:
    """Sorted ``(relative path, size, ctime_ns)`` of every file under
    ``path``, recursively (Hive-style partition directories count,
    symlinked directories are followed as Hadoop's local listing
    does). ctime, unlike mtime, cannot be set back by a copy that
    preserves times. A plain file stamps as itself. None for a URI or
    a missing path: those are not listed here, so not memoized."""
    if urlparse(path).scheme or not os.path.exists(path):
        return None
    if os.path.isfile(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_ctime_ns),)
    out = []
    for root, _dirs, files in os.walk(path, followlinks=True):
        for name in files:
            full = os.path.join(root, name)
            try:
                st = os.stat(full)
            except FileNotFoundError:  # removed mid-walk
                continue
            out.append((os.path.relpath(full, path), st.st_size, st.st_ctime_ns))
    return tuple(sorted(out))


def _nano_ts_columns(path: str) -> list[str]:
    """Columns stored as parquet timestamp[ns], which Spark reads as
    nano longs under ``spark.sql.legacy.parquet.nanosAsLong``.
    Metadata-only sniff (footer read, driver-side, no data IO)."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover
        return []
    target = path
    if os.path.isdir(path):
        files = [f for f in sorted(os.listdir(path)) if f.endswith(".parquet")]
        if not files:
            return []
        target = os.path.join(path, files[0])
    # the *parquet* schema, not the arrow view: INT96 timestamps
    # (Spark's own default output) also surface as arrow timestamp[ns]
    # but Spark reads them back as TimestampType — only physical INT64
    # with a nanosecond logical type becomes a long under nanosAsLong
    ps = pq.ParquetFile(target).schema
    out = []
    for i in range(len(ps)):
        c = ps.column(i)
        lt = str(c.logical_type).lower()
        if c.physical_type == "INT64" and "timestamp" in lt and "nano" in lt:
            out.append(c.name)
    return out


def _engine_types(df: DataFrame, nano_cols: list[str]) -> DataFrame:
    """Parquet read → engine timestamp types: nano longs and
    TIMESTAMP_NTZ both become session-TZ TIMESTAMP."""
    for c in nano_cols:
        # ns → µs truncation matches how µs-native engines read the file
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` DIV 1000)"))
    return _denaive_ntz(df)


def _denaive_ntz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to session-TZ TIMESTAMP.

    Belt-and-braces for externally built sessions that didn't apply
    RUNTIME_CONFS (``spark.sql.parquet.inferTimestampNTZ.enabled=false``):
    under Spark 4's default, naive timestamp[us] parquet infers as NTZ,
    which rejects ``cast(long)`` / ``unix_micros`` / ``withWatermark``.
    The engine's timestamp semantics are session-TZ TIMESTAMP (UTC),
    matching the DuckDB oracle's naive reading, so the cast is a
    wall-clock-preserving relabel under UTC."""
    from pyspark.sql.types import TimestampNTZType

    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


class ParquetDirSource(Source):
    # columnar scan: Catalyst pushes filters/columns/limits into the
    # parquet reader (asserted in tests/test_plans.py); raw = Spark SQL
    # over the collection view; write = parquet sink
    capabilities = frozenset(
        {CAP_FILTER, CAP_PROJECT, CAP_LIMIT, CAP_COUNT, CAP_RAW, CAP_WRITE}
    )

    def __init__(self, directory: str, static_fields: dict[str, dict[str, str]] | None = None):
        self.directory = directory
        self.static_fields = static_fields or {}

    def table(self, spark: SparkSession, collection: str) -> DataFrame:
        path = os.path.join(self.directory, f"{collection}.parquet")
        return self._memo_scan(
            spark,
            collection,
            path,
            lambda: _engine_types(spark.read.parquet(path), _nano_ts_columns(path)),
        )

    def write(self, df: DataFrame, collection: str, mode: str = "overwrite") -> None:
        df.write.mode(mode).parquet(os.path.join(self.directory, f"{collection}.parquet"))

    def stream_table(
        self, spark: SparkSession, collection: str, max_files_per_trigger: int = 1
    ) -> DataFrame:
        """Incremental file-stream over the collection (one trigger per
        ``max_files_per_trigger`` files) — feeds partial-stream queries
        (miso-workflow/src/partial_stream.rs analog)."""
        path = os.path.join(self.directory, f"{collection}.parquet")
        schema = spark.read.parquet(path).schema
        reader = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", max_files_per_trigger
        )
        if os.path.isdir(path):
            df = reader.parquet(path)
        else:
            # the file-stream source needs a directory: stream the
            # parent dir filtered down to this collection's file
            df = reader.option("pathGlobFilter", f"{collection}.parquet").parquet(
                self.directory
            )
        return _engine_types(df, _nano_ts_columns(path))


class JsonDirSource(Source):
    capabilities = frozenset({CAP_FILTER, CAP_PROJECT, CAP_LIMIT, CAP_RAW, CAP_WRITE})

    def __init__(self, directory: str, static_fields: dict[str, dict[str, str]] | None = None):
        self.directory = directory
        self.static_fields = static_fields or {}

    def table(self, spark: SparkSession, collection: str) -> DataFrame:
        path = os.path.join(self.directory, f"{collection}.jsonl")
        return self._memo_scan(spark, collection, path, lambda: spark.read.json(path))

    def write(self, df: DataFrame, collection: str, mode: str = "overwrite") -> None:
        df.write.mode(mode).json(os.path.join(self.directory, f"{collection}.jsonl"))


class JsonDynamicDirSource(Source):
    """Directory of ``<collection>.jsonl`` files ingested as per-row
    DYNAMIC (VARIANT) columns — the connector form of
    miso_spark.dynamic.read_json_dynamic, for data where one key may
    hold different types across rows and absent-vs-null matters (the
    reference's native data model). Schema-consistent JSON should use
    JsonDirSource instead (typed columns, full pushdown).

    ``keys`` (per-collection dict or flat list) skips the per-query
    key-discovery aggregation — at scale always pass it.
    ``static_fields`` rename-at-scan works like every other source
    (the registry applies collection_static_fields)."""

    capabilities = frozenset({CAP_FILTER, CAP_PROJECT, CAP_LIMIT, CAP_RAW})

    def __init__(
        self,
        directory: str,
        keys=None,
        static_fields: dict[str, dict[str, str]] | None = None,
    ):
        self.directory = directory
        self.keys = keys
        self.static_fields = static_fields or {}

    def table(self, spark: SparkSession, collection: str) -> DataFrame:
        from miso_spark.dynamic import read_json_dynamic

        keys = self.keys
        if isinstance(keys, dict):
            keys = keys.get(collection)
        path = os.path.join(self.directory, f"{collection}.jsonl")
        return self._memo_scan(
            spark, collection, path, lambda: read_json_dynamic(spark, path, keys)
        )

    def stream_table(
        self, spark: SparkSession, collection: str, max_files_per_trigger: int = 1
    ) -> DataFrame:
        """Incremental dynamic ingest — makes VARIANT collections
        partial-streamable (r11). Streams need the key set up front:
        configured keys when given, else a one-time discovery pass
        over the files already on disk (bounded by distinct key
        count, taken from the memoized batch resolution)."""
        from miso_spark.dynamic import read_json_dynamic_stream

        keys = self.keys
        if isinstance(keys, dict):
            keys = keys.get(collection)
        path = os.path.join(self.directory, f"{collection}.jsonl")
        if not keys:
            keys = self.table(spark, collection).columns
        if not keys:
            # empty/keyless collection: the batch path returns a
            # zero-column frame; a stream needs ≥1 column, so derive a
            # placeholder that is MISSING on every row — queries see
            # no fields (same as batch) and row counts agree
            keys = ["__miso_no_keys__"]
        return read_json_dynamic_stream(
            spark, path, list(keys), max_files_per_trigger
        )


class DynamicParquetDirSource(Source):
    """Directory of ``<collection>.parquet`` files whose columns are
    Spark 4 VARIANT — dynamic (per-row mixed-type, missing-vs-null
    preserving) tables AT REST. This is the 100 TB dynamic story:
    JSONL ingest (:class:`JsonDynamicDirSource` /
    miso_spark.dynamic.read_json_dynamic) pays a parse per query, while
    a variant parquet table is written once (``write()``) and scanned
    columnar afterwards.

    Catalyst's variant rewrite turns ``variant_get(col, '$', type)``
    comparisons into shredded struct accesses that reach the parquet
    reader as PushedFilters with a pruned ReadSchema (asserted in
    tests/test_plans.py::test_dynamic_parquet_scan_pushdown) — the
    engine's dynamic operators run unchanged over the round-trip
    (tests/test_dynamic.py parquet arm)."""

    capabilities = frozenset({CAP_FILTER, CAP_PROJECT, CAP_LIMIT, CAP_RAW, CAP_WRITE})

    def __init__(self, directory: str, static_fields: dict[str, dict[str, str]] | None = None):
        self.directory = directory
        self.static_fields = static_fields or {}

    def table(self, spark: SparkSession, collection: str) -> DataFrame:
        path = os.path.join(self.directory, f"{collection}.parquet")
        return self._memo_scan(spark, collection, path, lambda: spark.read.parquet(path))

    def write(self, df: DataFrame, collection: str, mode: str = "overwrite") -> None:
        df.write.mode(mode).parquet(
            os.path.join(self.directory, f"{collection}.parquet")
        )


class CsvDirSource(Source):
    # read-only: no write() → no CAP_WRITE; tee/write negotiation fails
    capabilities = frozenset({CAP_FILTER, CAP_PROJECT, CAP_LIMIT, CAP_RAW})

    def __init__(self, directory: str, static_fields: dict[str, dict[str, str]] | None = None):
        self.directory = directory
        self.static_fields = static_fields or {}

    def table(self, spark: SparkSession, collection: str) -> DataFrame:
        path = os.path.join(self.directory, f"{collection}.csv")
        return self._memo_scan(
            spark,
            collection,
            path,
            lambda: spark.read.csv(path, header=True, inferSchema=True),
        )


class MemorySource(Source):
    """In-session tables (miso-connectors/src/memory.rs parity:
    no apply_* pushdowns, but create_sink/create_updatable_sink —
    memory.rs:181-188)."""

    capabilities = frozenset({CAP_RAW, CAP_WRITE})

    def __init__(self):
        self._tables: dict[str, DataFrame] = {}

    def put(self, collection: str, df: DataFrame) -> None:
        self._tables[collection] = df

    def table(self, spark: SparkSession, collection: str) -> DataFrame:
        return self._tables[collection]

    def write(self, df: DataFrame, collection: str, mode: str = "overwrite") -> None:
        self._tables[collection] = df


class SourceRegistry:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._sources: dict[str, Source] = {}

    def register(self, name: str, source: Source) -> "SourceRegistry":
        self._sources[name] = source
        return self

    def register_parquet_dir(self, name: str, directory: str) -> "SourceRegistry":
        return self.register(name, ParquetDirSource(directory))

    def source(self, name: str) -> Source:
        if name not in self._sources:
            raise KeyError(f"unknown connector {name!r}; registered: {sorted(self._sources)}")
        return self._sources[name]

    def sources(self) -> dict[str, Source]:
        """Registered connectors by name (read-only snapshot)."""
        return dict(self._sources)

    def unregister(self, name: str) -> None:
        self._sources.pop(name, None)

    def table(self, connector: str, collection: str) -> DataFrame:
        src = self.source(connector)
        return src.rename_static_fields(collection, src.table(self.spark, collection))
