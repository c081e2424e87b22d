"""The per-collection scan memo on file-backed sources: a hit gives the
same rows as an independent read (also when one query scans a
collection twice), any change to the files on disk is seen by the next
query, and a repeated resolution of an unchanged collection runs no
Spark job."""

from __future__ import annotations

import os
import shutil
import time

import pytest

from miso_spark.api import MisoSpark
from miso_spark.sources import (
    CsvDirSource,
    DynamicParquetDirSource,
    JsonDirSource,
    JsonDynamicDirSource,
    ParquetDirSource,
    SourceRegistry,
)
from tests.conftest import SF_DIR


class _Unmemoized(ParquetDirSource):
    """Every ``table()`` is a fresh read: the reference rows."""

    def _memo_scan(self, spark, collection, path, read):
        return read()


def _rows(df) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted(tuple(str(v) for v in r) for r in df.select(*cols).collect())


def _count(m: MisoSpark, kql: str) -> int:
    return m.query(kql).collect()[0]["Count"]


def _miso(spark, **sources) -> MisoSpark:
    m = MisoSpark(spark)
    for name, src in sources.items():
        m.registry.register(name, src)
    return m


@pytest.mark.parametrize(
    "kql",
    [
        "t.customer | join kind=inner (t.customer | where c_mktsegment == 'BUILDING')"
        " on c_custkey",
        "t.orders | where o_totalprice > 200000"
        " | union (t.orders | where o_totalprice < 50000) | count",
        "let a = t.nation | where n_regionkey == 1;"
        " let b = t.nation | where n_nationkey < 20; a | join (b) on n_nationkey",
        "let a = t.nation | where n_regionkey == 1; a | union (a) | count",
        "let a = t.nation | where n_regionkey == 1; a | join (a) on n_nationkey",
    ],
    ids=["self_join", "self_union", "let_join", "let_union", "let_self_join"],
)
def test_self_scans_match_independent_reads(spark, kql):
    """Two scans of one collection in one query each get their own
    column ids, so the memo's second scan neither collides with the
    first (an ambiguous self-join) nor changes the rows."""
    memo = _miso(spark, t=ParquetDirSource(SF_DIR))
    ref = _miso(spark, t=_Unmemoized(SF_DIR))
    expected = _rows(ref.query(kql))
    assert expected
    for _ in range(2):  # cold memo, then warm
        assert _rows(memo.query(kql)) == expected


def test_source_write_is_seen(spark, tmp_path):
    src = ParquetDirSource(str(tmp_path))
    m = _miso(spark, pq=src)
    src.write(spark.range(3), "c")
    assert _count(m, "pq.c | count") == 3
    src.write(spark.range(7), "c")
    assert _count(m, "pq.c | count") == 7
    src.write(spark.range(2), "c", mode="append")
    assert _count(m, "pq.c | count") == 9


def test_kql_write_then_tee_is_seen(spark, tmp_path):
    m = _miso(spark, t=ParquetDirSource(SF_DIR), pq=ParquetDirSource(str(tmp_path)))
    m.query("t.nation | where n_regionkey == 0 | write pq.x")
    assert _count(m, "pq.x | count") == 5
    m.query("t.nation | where n_regionkey < 2 | write pq.x")
    assert _count(m, "pq.x | count") == 10
    assert _count(m, "t.nation | tee pq.x | where n_regionkey == 0 | count") == 5
    assert _count(m, "pq.x | count") == 25


def test_external_file_drop_is_seen(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "c.parquet"
    d.mkdir()
    pq.write_table(pa.table({"x": [1, 2]}), d / "part-0.parquet")
    m = _miso(spark, pq=ParquetDirSource(str(tmp_path)))
    assert _count(m, "pq.c | count") == 2
    pq.write_table(pa.table({"x": [3, 4, 5]}), d / "part-1.parquet")
    assert _count(m, "pq.c | count") == 5
    # a new Hive-style partition directory counts too
    (d / "k=1").mkdir()
    pq.write_table(pa.table({"x": [6]}), d / "k=1" / "part-0.parquet")
    (d / "part-0.parquet").unlink()
    (d / "part-1.parquet").unlink()
    assert _count(m, "pq.c | count") == 1


def _write_parquet(path, n):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"x": list(range(n))}), path)


def _write_jsonl(path, n):
    with open(path, "w") as f:
        f.writelines(f'{{"x": {i}}}\n' for i in range(n))


def _write_csv(path, n):
    with open(path, "w") as f:
        f.write("x\n" + "".join(f"{i}\n" for i in range(n)))


@pytest.mark.parametrize(
    "make,suffix,write",
    [
        (ParquetDirSource, "parquet", _write_parquet),
        (DynamicParquetDirSource, "parquet", _write_parquet),
        (JsonDirSource, "jsonl", _write_jsonl),
        (JsonDynamicDirSource, "jsonl", _write_jsonl),
        (CsvDirSource, "csv", _write_csv),
    ],
    ids=["parquet", "dynamic_parquet", "json", "json_dynamic", "csv"],
)
def test_file_replaced_in_place_is_seen(spark, tmp_path, make, suffix, write):
    """Every file-backed source resolves through the memo, and a file
    rewritten with a different size is a new listing."""
    path = tmp_path / f"c.{suffix}"
    write(path, 3)
    src = make(str(tmp_path))
    reg = SourceRegistry(spark).register("s", src)
    assert reg.table("s", "c").count() == 3
    assert reg.table("s", "c").count() == 3
    assert list(src._scans) == ["c"]
    write(path, 40)
    assert reg.table("s", "c").count() == 40


def test_same_size_replace_with_old_mtime_is_seen(spark, tmp_path):
    """A copy that keeps the old file's size and mtime (``cp -p``,
    ``rsync -a``) still changes the file's ctime, so a schema inferred
    from the old file is not reused."""
    path = tmp_path / "c.jsonl"
    path.write_text('{"x": 1}\n')
    st = os.stat(path)
    m = _miso(spark, j=JsonDirSource(str(tmp_path)))
    assert _count(m, "j.c | where x == 1 | count") == 1
    time.sleep(0.01)
    path.write_text('{"y": 1}\n')
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(path).st_size == st.st_size
    assert os.stat(path).st_mtime_ns == st.st_mtime_ns
    assert _count(m, "j.c | where y == 1 | count") == 1


def test_uri_path_is_read_afresh(spark, tmp_path):
    """A ``file://`` (or any scheme) path is not listed by the stamp,
    so it is not memoized: every scan sees the latest write."""
    src = DynamicParquetDirSource(f"file://{tmp_path}")
    m = _miso(spark, pq=src)
    src.write(spark.range(3), "c")
    assert _count(m, "pq.c | count") == 3
    m.query("pq.c | union (pq.c) | write pq.d")
    src.write(spark.range(8), "c")
    assert _count(m, "pq.c | count") == 8
    assert _count(m, "pq.d | count") == 6
    m.query("pq.c | write pq.d")
    assert _count(m, "pq.d | count") == 8
    assert not getattr(src, "_scans", {})


def test_deleted_collection_raises_like_a_fresh_read(spark, tmp_path):
    from pyspark.errors import AnalysisException

    src = ParquetDirSource(str(tmp_path))
    src.write(spark.range(4), "c")
    m = _miso(spark, pq=src)
    assert _count(m, "pq.c | count") == 4
    shutil.rmtree(tmp_path / "c.parquet")
    with pytest.raises(AnalysisException) as fresh:
        _Unmemoized(str(tmp_path)).table(spark, "c")
    with pytest.raises(AnalysisException) as memo:
        m.query("pq.c | count")
    assert memo.value.getCondition() == fresh.value.getCondition() == "PATH_NOT_FOUND"


def test_second_session_gets_its_own_frame(spark, tmp_path):
    src = ParquetDirSource(str(tmp_path))
    src.write(spark.range(5), "c")
    other = spark.newSession()
    assert src.table(spark, "c").sparkSession is spark
    df = src.table(other, "c")
    assert df.sparkSession is other
    assert df.count() == 5
    assert src.table(spark, "c").sparkSession is spark


def _jobs_in_group(spark, group: str, fn) -> list[int]:
    """Job ids ``fn()`` starts under ``group``. A later fence job in
    its own group is waited for first: the status store applies job
    events in submission order, so every earlier job is then visible."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(group, group)
    try:
        fn()
        fence = f"{group}-fence"
        sc.setJobGroup(fence, fence)
        spark.range(1).count()
        deadline = time.monotonic() + 30
        while not tracker.getJobIdsForGroup(fence):
            assert time.monotonic() < deadline, "fence job never registered"
            time.sleep(0.05)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(tracker.getJobIdsForGroup(group))


def test_repeated_resolution_starts_no_job(spark):
    """The first scan of a collection infers the parquet schema with a
    Spark job; a second scan of the unchanged collection starts none."""
    reg = SourceRegistry(spark).register("t", ParquetDirSource(SF_DIR))
    assert _jobs_in_group(spark, "scan-memo-cold", lambda: reg.table("t", "customer"))
    assert _jobs_in_group(spark, "scan-memo-warm", lambda: reg.table("t", "customer")) == []


def test_listing_stamp(tmp_path):
    from miso_spark.sources import _listing_stamp

    assert _listing_stamp(str(tmp_path / "missing")) is None
    assert _listing_stamp(f"file://{tmp_path}") is None
    assert _listing_stamp(f"s3a://bucket/{tmp_path.name}") is None
    f = tmp_path / "a.parquet"
    f.write_bytes(b"12345")
    (stamp,) = _listing_stamp(str(f))
    assert stamp[:2] == ("", 5)
    d = tmp_path / "c.parquet"
    (d / "k=1").mkdir(parents=True)
    (d / "k=1" / "p").write_bytes(b"1")
    (d / "q").write_bytes(b"22")
    assert [(p, n) for p, n, _ in _listing_stamp(str(d))] == [
        (os.path.join("k=1", "p"), 1),
        ("q", 2),
    ]
    # a symlinked partition directory is listed through, as Hadoop's
    # local file system lists it
    other = tmp_path / "elsewhere"
    other.mkdir()
    (other / "r").write_bytes(b"333")
    (d / "k=2").symlink_to(other, target_is_directory=True)
    assert (os.path.join("k=2", "r"), 3) in [(p, n) for p, n, _ in _listing_stamp(str(d))]
