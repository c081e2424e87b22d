"""Property tests for the dedup / similarity / text operators that have
no SQL oracle (the driver runs rows-only checks on these; here we
verify semantics directly)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    from miso_spark.sources import ParquetDirSource

    return ParquetDirSource(SF_DIR).table(spark, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    from miso_spark.sources import ParquetDirSource

    return ParquetDirSource(SF_DIR).table(spark, "embeddings").cache()


def test_simhash_identical_and_near(spark):
    from miso_spark.functions.dedup import simhash_rows

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # identical
            (3, "the quick brown fox leaps over the lazy dog"),  # 1 word off
            (4, "completely different content about databases and queries"),
        ],
        ["id", "text"],
    )
    rows = {r["id"]: r["sim"] for r in simhash_rows(df, "text", "id").collect()}
    assert rows[1] == rows[2]
    ham13 = bin(rows[1] ^ rows[3]).count("1")
    ham14 = bin(rows[1] ^ rows[4]).count("1")
    assert ham13 < ham14, f"near-dup hamming {ham13} should beat unrelated {ham14}"


def test_simhash_candidates_find_exact_dups(spark):
    from miso_spark.functions.dedup import simhash_candidates

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "zeta eta theta iota")],
        ["doc_id", "text"],
    )
    pairs = simhash_candidates(df).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
    assert pairs[0]["hamming"] == 0


def test_bucket_cap_bounds_adversarial_skew(spark):
    """1k identical docs would make every LSH/simhash bucket self-join
    quadratic (~500k pairs per band); the bucket-size cap drops the
    degenerate bucket so candidate volume stays bounded while normal
    near-dups elsewhere are still found. The flood itself is exact-dup
    territory (exact_dedup, one linear pass)."""
    from miso_spark.functions.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
        simhash_candidates,
    )

    flood = [(i, "spam spam spam wonderful spam spam eggs and spam") for i in range(1000)]
    normal = [
        (2000, "the quick brown fox jumps over the lazy dog today"),
        (2001, "the quick brown fox jumps over the lazy dog tonight"),
        (2002, "the quick brown fox jumps over the lazy dog today"),
        (2003, "entirely unrelated text about distributed query engines"),
    ]
    df = spark.createDataFrame(flood + normal, ["doc_id", "text"])

    mh = minhash_lsh_pairs(df, threshold=0.5, max_bucket_size=100).collect()
    assert len(mh) < 5000  # uncapped would exceed 499,500 flood pairs
    assert (2000, 2001) in {(r["id_a"], r["id_b"]) for r in mh}

    sh = simhash_candidates(df, max_bucket_size=100).collect()
    assert len(sh) < 5000
    # small buckets survive the cap: the hamming-0 pair is still found
    assert (2000, 2002) in {(r["id_a"], r["id_b"]) for r in sh}

    # the flood is fully accounted for by the linear exact-dedup pass
    groups = exact_dedup(df).collect()
    assert max(r["dup_count"] for r in groups) == 1000


def test_simhash_wider_blocks_same_verified_pairs(spark):
    """Manku-style block-combination buckets: k=6 (32-bit keys, the
    billions-of-docs setting) must verify the same pair set as the
    classic k=4 16-bit chunks — recall is pigeonhole-guaranteed in
    both."""
    from miso_spark.functions.dedup import simhash_candidates

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),
        (3, "alpha beta gamma delta epsilon eta"),
        (4, "one two three four five six seven"),
        (5, "totally different words everywhere here now"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    p4 = {(r["id_a"], r["id_b"]) for r in simhash_candidates(df, num_blocks=4).collect()}
    p6 = {(r["id_a"], r["id_b"]) for r in simhash_candidates(df, num_blocks=6).collect()}
    assert p4 == p6


def test_lsh_planes_scale_with_rows_and_multiprobe_recall(emb):
    """planes_for_rows grows with N; multi-probe recovers neighbors a
    single bucket misses."""
    from miso_spark.functions.similarity import (
        bruteforce_topk,
        lsh_topk,
        planes_for_rows,
    )

    assert planes_for_rows(10_000) < planes_for_rows(10_000_000) < planes_for_rows(10**10)
    assert planes_for_rows(100) == 4

    row = emb.filter(F.col("vec_id") == 7).first()
    q = [float(x) for x in row["embedding"]]
    exact = [r["id"] for r in bruteforce_topk(emb, q, k=5).collect()]
    single = {r["id"] for r in lsh_topk(emb, q, k=5, num_planes=6, probes=1).collect()}
    multi = {r["id"] for r in lsh_topk(emb, q, k=5, num_planes=6, probes=4).collect()}
    # multi-probe scans a candidate superset → recall@5 vs exact can
    # only improve (returned ids may differ: better candidates displace)
    assert len(multi & set(exact)) >= len(single & set(exact))
    assert len(multi & set(exact)) >= 2
    # the exact-match id itself is always in its own bucket
    assert 7 in multi


def test_range_join_is_hash_join_not_nested_loop(spark):
    """The binning rewrite must plan an equi-join on the bin, never a
    BroadcastNestedLoopJoin — the whole point at scale."""
    from miso_spark.functions.rangejoin import range_join

    left = spark.range(0, 1000).select(F.col("id").alias("k"), (F.col("id") * 1.5).alias("v"))
    right = spark.range(0, 100).select(
        F.col("id").alias("rid"),
        (F.col("id") * 10.0).alias("lo"),
        (F.col("id") * 10.0 + 5).alias("hi"),
    )
    out = range_join(left, right, "v", "lo", "hi", bin_size=10.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan, plan
    assert "Join" in plan, plan
    # correctness vs the naive predicate
    naive = left.crossJoin(right).filter((F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi")))
    assert sorted((r["k"], r["rid"]) for r in out.collect()) == sorted(
        (r["k"], r["rid"]) for r in naive.collect()
    )


def test_range_join_outer_modes_match_naive(spark):
    """left/right/outer must null-pad unmatched rows exactly once —
    including intervals spanning several bins whose only match is in a
    non-first bin (the case a canonical-bin dedupe would get wrong),
    and bin-colliding but range-missing pairs."""
    from miso_spark.functions.rangejoin import range_join

    left = spark.createDataFrame(
        [(1, 5.0), (2, 17.0), (3, 42.0), (4, 99.0)], "k long, v double"
    )
    right = spark.createDataFrame(
        [
            (10, 4.0, 6.0),    # matches k=1 within one bin
            (11, 12.0, 19.0),  # spans bins 1-1; matches k=2
            (12, 8.0, 18.0),   # spans bins 0-1, match (k=2) only in bin 1
            (13, 30.0, 36.0),  # overlaps k=3's bin but misses the range
            (14, 200.0, 210.0),  # no match at all
        ],
        "rid long, lo double, hi double",
    )
    naive_inner = left.crossJoin(right).filter(
        (F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi"))
    )

    def key(p):
        return tuple((v is None, v if v is not None else 0) for v in p)

    def pairs(df):
        return sorted(((r["k"], r["rid"]) for r in df.select("k", "rid").collect()), key=key)

    inner = pairs(naive_inner)
    matched_k = {k for k, _ in inner}
    matched_rid = {rid for _, rid in inner}
    want = {
        "inner": inner,
        "left": inner + [(r, None) for r in sorted({1, 2, 3, 4} - matched_k)],
        "right": inner + [(None, r) for r in sorted({10, 11, 12, 13, 14} - matched_rid)],
    }
    want["outer"] = want["left"] + [p for p in want["right"] if p[0] is None]
    for how, expect in want.items():
        got = pairs(range_join(left, right, "v", "lo", "hi", bin_size=10.0, how=how))
        assert got == sorted(expect, key=key), f"{how}: {got}"


def test_asof_join_ties_and_tolerance(spark):
    from datetime import datetime as DT

    from miso_spark.functions.asof import asof_join

    left = spark.createDataFrame(
        [(1, 7, DT(2024, 1, 1, 10, 0, 0)), (2, 7, DT(2024, 1, 1, 12, 0, 0)),
         (3, 8, DT(2024, 1, 1, 9, 0, 0))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(7, DT(2024, 1, 1, 10, 0, 0), 1.0),   # tie with event 1 → matches
         (7, DT(2024, 1, 1, 11, 0, 0), 2.0)],  # latest before event 2
        "user_id long, ts timestamp, value double",
    )
    out = {r["event_id"]: r["value_right"] for r in
           asof_join(left, right, "user_id", "ts", ["value"]).collect()}
    assert out == {1: 1.0, 2: 2.0, 3: None}  # tie inclusive; no match → null

    # tolerance: event 2 is 1h after its match; a 30min tolerance nulls it
    tol = {r["event_id"]: r["value_right"] for r in
           asof_join(left, right, "user_id", "ts", ["value"], tolerance_s=1800).collect()}
    assert tol == {1: 1.0, 2: None, 3: None}


def test_asof_join_randomized_vs_duckdb(spark):
    """Seeded random timelines, including exact-tie timestamps, against
    DuckDB's native ASOF LEFT JOIN."""
    import duckdb
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    base = pd.Timestamp("2024-01-01")
    lpd = pd.DataFrame(
        {
            "event_id": np.arange(200),
            "user_id": rng.integers(0, 5, 200),
            # second-granularity so exact ties with the right side occur
            "ts": [base + pd.Timedelta(seconds=int(s)) for s in rng.integers(0, 3600, 200)],
        }
    )
    rpd = pd.DataFrame(
        {
            "user_id": rng.integers(0, 5, 80),
            "ts": [base + pd.Timedelta(seconds=int(s)) for s in rng.integers(0, 3600, 80)],
            "value": np.round(rng.random(80), 6),
        }
    )
    # dedupe (user_id, ts) on the right: with duplicates, "the" matched
    # row is ambiguous and engines may break ties differently
    rpd = rpd.drop_duplicates(["user_id", "ts"])

    from miso_spark.functions.asof import asof_join

    got = {
        r["event_id"]: r["value_right"]
        for r in asof_join(
            spark.createDataFrame(lpd), spark.createDataFrame(rpd), "user_id", "ts", ["value"]
        ).collect()
    }

    con = duckdb.connect()
    con.register("l", lpd)
    con.register("r", rpd)
    want = dict(
        con.execute(
            "SELECT l.event_id, r.value FROM l ASOF LEFT JOIN r"
            " ON l.user_id = r.user_id AND r.ts <= l.ts"
        ).fetchall()
    )
    assert got == want


def test_connected_components_multi_hop(spark):
    """A chain a-b, b-c, plus an isolated pair: every node labels to the
    component minimum even when not directly connected to it."""
    from miso_spark.functions.dedup import connected_components, dedup_assignments

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    comp = {r["id"]: r["canonical_id"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 99]], ["doc_id"])
    dec = {r["id"]: (r["canonical_id"], r["is_kept"]) for r in dedup_assignments(docs, pairs).collect()}
    assert dec[99] == (99, True)  # unpaired doc keeps itself
    assert dec[4] == (1, False)
    assert sum(1 for c, k in dec.values() if k) == 3  # one keeper per cluster + singleton


def test_ivf_topk_recall_and_pruning(emb):
    """IVF: probed cells are a strict subset of the data, recall vs
    exact top-k stays high, and the exact-match vector is found."""
    from miso_spark.functions.similarity import bruteforce_topk, ivf_assign, ivf_topk

    row = emb.filter(F.col("vec_id") == 3).first()
    q = [float(x) for x in row["embedding"]]
    exact = {r["id"] for r in bruteforce_topk(emb, q, k=5).collect()}
    got = {r["id"] for r in ivf_topk(emb, q, k=5, n_cells=8, nprobe=4).collect()}
    assert 3 in got
    assert len(got & exact) >= 3  # recall@5 ≥ 0.6 with half the cells probed

    assigned, centers = ivf_assign(emb, n_cells=8)
    assert len(centers) == 8
    sizes = {r["ivf_cell"]: r["count"] for r in assigned.groupBy("ivf_cell").count().collect()}
    # nprobe=4 of 8 cells scans a strict subset of rows
    assert sum(sorted(sizes.values())[:4]) < emb.count()


def test_minhash_lsh_recall_vs_exact(docs):
    """LSH candidates must recover every high-Jaccard pair the exact
    n-gram method finds (recall at threshold 0.7 ≈ 1 with 8 bands)."""
    from miso_spark.functions.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.7).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, threshold=0.7).collect()
    }
    assert exact, "test data should contain near-duplicate documents"
    missed = exact - lsh
    assert len(missed) <= max(1, len(exact) // 10), f"LSH missed too many: {missed}"
    # verification step guarantees no false positives above threshold
    assert lsh <= exact or all(p in exact for p in lsh)


def test_minhash_deterministic(docs):
    from miso_spark.functions.dedup import with_minhash_signature

    one = with_minhash_signature(docs.limit(5).select("doc_id", "text"))
    a = {r["doc_id"]: r["sig"] for r in one.collect()}
    b = {r["doc_id"]: r["sig"] for r in one.collect()}
    assert a == b


def test_ann_lsh_subset_of_bucket_and_sane(emb):
    from miso_spark.functions.similarity import bruteforce_topk, lsh_topk

    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = bruteforce_topk(emb, qv, k=5).collect()
    approx = lsh_topk(emb, qv, k=5, num_planes=2).collect()
    assert exact[0]["id"] == 0 and exact[0]["cosine"] == pytest.approx(1.0)
    # the query itself lives in the query's bucket → must be found
    assert approx and approx[0]["id"] == 0
    # approximate results are a subset of the table, scored identically
    exact_scores = {r["id"]: r["cosine"] for r in exact}
    for r in approx:
        if r["id"] in exact_scores:
            assert r["cosine"] == exact_scores[r["id"]]


def test_embedding_dedup_finds_planted_duplicates(spark, emb):
    """No true near-dups exist in the synthetic embeddings (max cosine
    ≈0.47), so plant one and require the pair to surface at 0.99."""
    from miso_spark.functions.dedup import embedding_dedup_pairs

    first = emb.filter(F.col("vec_id") == 0).first()
    clone = spark.createDataFrame(
        [(999999, first["embedding"], first["label"])], ["vec_id", "embedding", "label"]
    )
    pairs = embedding_dedup_pairs(emb.unionByName(clone), threshold=0.99).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 999999)}
    assert pairs[0]["cosine"] == pytest.approx(1.0)


def test_exact_dedup_counts(docs):
    from miso_spark.functions.dedup import exact_dedup

    total = docs.count()
    d = exact_dedup(docs)
    assert d.agg(F.sum("dup_count")).first()[0] == total
    # canonical ids are real doc ids
    assert d.join(docs, d.canonical_id == docs.doc_id, "left_anti").count() == 0


def test_embedding_dedup_lsh_blocking(spark, emb):
    """The 'lsh' block derives hyperplane buckets; identical vectors
    share a bucket by construction, so the planted pair must survive."""
    from miso_spark.functions.dedup import embedding_dedup_pairs

    first = emb.filter(F.col("vec_id") == 0).first()
    clone = spark.createDataFrame(
        [(999999, first["embedding"], first["label"])], ["vec_id", "embedding", "label"]
    )
    pairs = embedding_dedup_pairs(
        emb.unionByName(clone), block_col="lsh", threshold=0.99
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 999999)}


def test_asof_join_null_right_values_row_consistent(spark):
    """The matched right row's values attach even when null — a
    per-column carry would smuggle an OLDER non-null value next to the
    newer matched timestamp (row consistency, like DuckDB ASOF)."""
    from datetime import datetime as DT

    from miso_spark.functions.asof import asof_join

    left = spark.createDataFrame(
        [(1, 7, DT(2024, 1, 1, 12, 0, 0))], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(7, DT(2024, 1, 1, 10, 0, 0), 7.0), (7, DT(2024, 1, 1, 11, 0, 0), None)],
        "user_id long, ts timestamp, value double",
    )
    row = asof_join(left, right, "user_id", "ts", ["value"]).collect()[0]
    assert row["ts_right"] == DT(2024, 1, 1, 11, 0, 0)
    assert row["value_right"] is None  # NOT the older 7.0


def test_asof_join_salted_matches_unsalted(spark):
    """salt_bucket_s must be a pure parallelism knob: identical results
    on randomized multi-key timelines (ties included), for several
    bucket widths including ones that split mid-timeline."""
    import numpy as np
    import pandas as pd

    from miso_spark.functions.asof import asof_join

    rng = np.random.default_rng(11)
    base = pd.Timestamp("2024-01-01")
    lpd = pd.DataFrame(
        {
            "event_id": np.arange(300),
            "user_id": rng.integers(0, 4, 300),
            "ts": [base + pd.Timedelta(seconds=int(s)) for s in rng.integers(0, 7200, 300)],
        }
    )
    rpd = pd.DataFrame(
        {
            "user_id": rng.integers(0, 4, 100),
            "ts": [base + pd.Timedelta(seconds=int(s)) for s in rng.integers(0, 7200, 100)],
            "value": np.round(rng.random(100), 6),
        }
    ).drop_duplicates(["user_id", "ts"])
    l, r = spark.createDataFrame(lpd), spark.createDataFrame(rpd)

    def res(**kw):
        return {
            (row["event_id"], row["ts_right"], row["value_right"])
            for row in asof_join(l, r, "user_id", "ts", ["value"], **kw).collect()
        }

    plain = res()
    for bucket in (60.0, 613.0, 86400.0):
        assert res(salt_bucket_s=bucket) == plain, f"bucket={bucket}"
    # tolerance composes with salting
    assert res(salt_bucket_s=300.0, tolerance_s=600) == res(tolerance_s=600)


def test_asof_join_hot_key_salted(spark):
    """Adversarial single-key timeline (VERDICT r2 #5): one user
    dominates. Salting must partition the window on (key, bucket) —
    visible in the plan — and still produce exact asof results."""
    import pandas as pd
    from pyspark.sql import functions as F

    from miso_spark.functions.asof import asof_join

    n = 200_000
    base = pd.Timestamp("2024-01-01")
    l = (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            F.lit(1).alias("user_id"),
            (F.lit(base.value // 1000) + F.col("id") * 1_000_000).alias("us"),
        )
        .select("event_id", "user_id", F.timestamp_micros(F.col("us")).alias("ts"))
    )
    # one right row every 1000s → value = floor(elapsed_s / 1000)
    r = (
        spark.range(n // 1000)
        .select(
            F.lit(1).alias("user_id"),
            F.timestamp_micros(F.lit(base.value // 1000) + F.col("id") * 1_000_000_000).alias("ts"),
            F.col("id").cast("double").alias("value"),
        )
    )
    out = asof_join(l, r, "user_id", "ts", ["value"], salt_bucket_s=5000.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__bkt" in plan  # the window really partitions on the salt
    bad = out.filter(F.col("value_right") != F.floor(F.col("event_id") / 1000)).count()
    assert bad == 0
    assert out.count() == n


def _components_no_warning(spark, edges):
    """Run ``connected_components`` on ``edges`` and fail on a
    "did not stabilize" warning."""
    import warnings

    from miso_spark.functions.dedup import connected_components

    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = {(r["id"], r["canonical_id"]) for r in connected_components(df).collect()}
    assert not [w for w in caught if "did not stabilize" in str(w.message)]
    return got


def test_connected_components_star_matches_label_propagation(spark):
    """Large-star/small-star components equal a plain union-find on a
    random graph and on a 150-deep path graph, far beyond what
    one-link-per-round label propagation would finish in a few rounds.
    (Named for the label-propagation path it was first checked against;
    that path is gone and the reference is now the union-find below.)"""
    import random

    rng = random.Random(13)
    pairs = [(rng.randrange(120), rng.randrange(120)) for _ in range(150)]
    pairs = [(a, b) for a, b in pairs if a != b]

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)  # root = component minimum
    want = {(x, find(x)) for x in parent}

    assert _components_no_warning(spark, pairs) == want
    path = [(i, i + 1) for i in range(150)]
    assert _components_no_warning(spark, path) == {(i, 0) for i in range(151)}


def test_connected_components_deep_chain_fallback(spark):
    """A 60-deep chain comes back exact with no warning. (Named for the
    star fallback label propagation once needed here; star is now the
    only algorithm and needs no fallback.)"""
    chain = [(i, i + 1) for i in range(60)]
    assert _components_no_warning(spark, chain) == {(i, 0) for i in range(61)}


def test_redaction_matches_duckdb_oracle(spark, docs):
    """PII scrub equals the same regexp_replace chain in DuckDB (the
    patterns are RE2-compatible by design) — engine-portable hygiene."""
    import duckdb

    from miso_spark.functions.text import REDACTION_PATTERNS, with_redaction
    from tests.conftest import SF_DIR

    got = {
        r["doc_id"]: r["redacted"]
        for r in with_redaction(docs).select("doc_id", "redacted").collect()
    }
    expr = "text"
    for pat, token in REDACTION_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{token}', 'g')"
    con = duckdb.connect()
    want = dict(
        con.execute(
            f"SELECT doc_id, {expr} FROM read_parquet('{SF_DIR}/documents.parquet')"
        ).fetchall()
    )
    assert got == want


def test_redaction_replaces_pii_forms(spark):
    from miso_spark.functions.text import with_redaction

    df = spark.createDataFrame(
        [(1, "mail bob@example.com or visit https://x.io/a?b=1 from 10.0.0.1 "
             "or call +1 (555) 123-4567 today")],
        ["doc_id", "text"],
    )
    out = with_redaction(df).collect()[0]["redacted"]
    assert "<EMAIL>" in out and "<URL>" in out and "<IP>" in out and "<PHONE>" in out
    assert "bob@" not in out and "10.0.0.1" not in out and "555" not in out


def test_hash_sample_deterministic_and_oracle(spark, docs):
    """Deterministic sampling: same keys every run, rate within
    tolerance, DuckDB reproduces the exact subset, and different seeds
    decorrelate."""
    import duckdb

    from miso_spark.functions.split import hash_sample
    from tests.conftest import SF_DIR

    a = {r["doc_id"] for r in hash_sample(docs, 0.3).select("doc_id").collect()}
    b = {r["doc_id"] for r in hash_sample(docs, 0.3).select("doc_id").collect()}
    assert a == b and 0.15 < len(a) / docs.count() < 0.45

    con = duckdb.connect()
    want = {
        r[0]
        for r in con.execute(
            "SELECT doc_id FROM read_parquet('{}/documents.parquet') "
            "WHERE ('0x' || substr(md5('' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT"
            " < {}".format(SF_DIR, int(0.3 * 0x100000000))
        ).fetchall()
    }
    assert a == want

    # nested rates: sample(0.1) is a subset of sample(0.3) (same seed)
    small = {r["doc_id"] for r in hash_sample(docs, 0.1).select("doc_id").collect()}
    assert small <= a
    # a different seed decorrelates (overlap ~ rate^2, not rate)
    other = {r["doc_id"] for r in hash_sample(docs, 0.3, seed="v2").select("doc_id").collect()}
    assert other != a


def test_stratified_hash_sample(spark):
    from miso_spark.functions.split import stratified_hash_sample

    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(2000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = stratified_hash_sample(df, {"en": 0.1, "de": 0.8}, "lang").collect()
    en = sum(1 for r in out if r["lang"] == "en")
    de = sum(1 for r in out if r["lang"] == "de")
    assert 50 < en < 150      # ~100 of 1000
    assert 700 < de < 900     # ~800 of 1000
    # absent stratum defaults to 0
    df2 = df.withColumn("lang", df.lang.substr(1, 99))
    got = stratified_hash_sample(df2, {"en": 0.5}, "lang").collect()
    assert all(r["lang"] == "en" for r in got)


def test_asof_join_directions_match_pandas(spark):
    """forward/nearest (and backward) against pandas.merge_asof — the
    canonical reference for direction semantics, ties included; salted
    mode must agree in every direction."""
    import numpy as np
    import pandas as pd

    from miso_spark.functions.asof import asof_join

    rng = np.random.default_rng(23)
    base = pd.Timestamp("2024-01-01")
    lpd = pd.DataFrame(
        {
            "event_id": np.arange(250),
            "user_id": rng.integers(0, 4, 250),
            "ts": [base + pd.Timedelta(seconds=int(s)) for s in rng.integers(0, 3600, 250)],
        }
    )
    rpd = pd.DataFrame(
        {
            "user_id": rng.integers(0, 4, 90),
            "ts": [base + pd.Timedelta(seconds=int(s)) for s in rng.integers(0, 3600, 90)],
            "value": np.round(rng.random(90), 6),
        }
    ).drop_duplicates(["user_id", "ts"])
    l, r = spark.createDataFrame(lpd), spark.createDataFrame(rpd)

    for direction in ("backward", "forward", "nearest"):
        want_pd = pd.merge_asof(
            lpd.sort_values("ts", kind="stable"),
            rpd.sort_values("ts", kind="stable"),
            on="ts",
            by="user_id",
            direction=direction,
            suffixes=("", "_right"),
        )
        want = {
            int(row.event_id): (None if pd.isna(row.value) else round(float(row.value), 6))
            for row in want_pd.itertuples()
        }
        for kw in ({}, {"salt_bucket_s": 313.0}):
            got = {
                r2["event_id"]: (None if r2["value_right"] is None else round(r2["value_right"], 6))
                for r2 in asof_join(
                    l, r, "user_id", "ts", ["value"], direction=direction, **kw
                ).collect()
            }
            assert got == want, f"{direction} {kw}"


def test_near_dedup_pipeline_matches_naive_composition(docs):
    """The 100 TB runbook (exact pre-pass → capped LSH on reps → CC →
    re-attach) must assign the same clusters as the naive uncapped
    LSH+CC over all rows when no bucket overflows — the pre-pass is a
    performance restructuring, not a semantics change."""
    from miso_spark.functions.dedup import (
        dedup_assignments,
        minhash_lsh_pairs,
        near_dedup_pipeline,
    )

    got = {
        (r["id"], r["canonical_id"])
        for r in near_dedup_pipeline(docs, bands=8, threshold=0.5).collect()
    }
    naive = {
        (r["id"], r["canonical_id"])
        for r in dedup_assignments(
            docs, minhash_lsh_pairs(docs, bands=8, threshold=0.5)
        ).collect()
    }
    assert got == naive


def test_near_dedup_pipeline_survives_identical_flood(spark):
    """1k identical docs: the exact pre-pass collapses the flood to one
    representative BEFORE the band join, so the default bucket cap
    never drops near-dup recall for it — all 1000 flood rows land in
    one cluster even with a tiny cap."""
    from miso_spark.functions.dedup import near_dedup_pipeline

    flood = [(i, "spam spam spam wonderful spam spam eggs and spam") for i in range(1000)]
    normal = [
        (2000, "the quick brown fox jumps over the lazy dog today"),
        (2001, "the quick brown fox jumps over the lazy dog tonight"),
        (2002, "completely unrelated text about distributed query engines"),
    ]
    df = spark.createDataFrame(flood + normal, "doc_id long, text string")
    out = near_dedup_pipeline(df, max_bucket_size=10, threshold=0.4).collect()
    assign = {r["id"]: r["canonical_id"] for r in out}
    assert len(assign) == 1003  # every input row assigned
    assert {assign[i] for i in range(1000)} == {0}  # flood → one cluster
    assert assign[2000] == assign[2001] == 2000  # near-dups cluster
    assert assign[2002] == 2002  # unrelated stays its own canonical


def test_embedding_dim_from_metadata_no_probe_job(spark, monkeypatch):
    """VERDICT r5: the LSH embedding-dedup dim sniff should be free
    when the schema can provide it — column metadata ``{"dim": d}``
    skips the limit(1) probe entirely (no collect during plan
    construction)."""
    from pyspark.sql import DataFrame

    from miso_spark.functions.dedup import embedding_dedup_pairs

    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]), (3, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    ).withMetadata("embedding", {"dim": 3})

    real_collect = DataFrame.collect

    def no_collect(self):
        raise AssertionError("collect() during plan construction — probe job ran")

    monkeypatch.setattr(DataFrame, "collect", no_collect)
    pairs = embedding_dedup_pairs(df, block_col="lsh", threshold=0.99)
    monkeypatch.setattr(DataFrame, "collect", real_collect)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(1, 2)}


def _final_plan(df) -> str:
    """The executed plan after an action: with AQE, the final plan (the
    part above the initial one), where runtime join selection shows."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


#: the probe join of the training shingles against the eval shingle set
_SHINGLE_BHJ = r"BroadcastHashJoin \[shh#\d+L\], \[shh#\d+L\]"


def test_decontaminate_flags_ngram_overlap(spark):
    """Benchmark decontamination: training docs sharing word n-grams
    with the eval corpus flag contaminated; the eval side collapses to
    a broadcast distinct-shingle set (no all-pairs)."""
    from miso_spark.functions.dedup import decontaminate

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated training text about spark engines"),
            (3, "partial overlap here the quick brown fox appears once"),
            (4, "tiny"),
        ],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [(0, "benchmark asks about the quick brown fox story")],
        "eid long, text string",
    )
    out = {r["id"]: (r["common_shingles"], r["contaminated"])
           for r in decontaminate(train, evals, min_common_shingles=2).collect()}
    assert set(out) == {1, 2, 3, 4}          # every input row present
    assert out[1][1] and out[1][0] >= 2      # shares "the quick brown" etc.
    assert out[3][1] and out[3][0] >= 2
    assert out[2] == (0, False)
    assert out[4] == (0, False)
    # threshold is respected: at a high bar nothing is contaminated
    strict = decontaminate(train, evals, min_common_shingles=50)
    assert all(not r["contaminated"] for r in strict.collect())
    # plan shape: eval shingle set broadcasts into the probe join (the
    # inputs here carry no size statistics, so AQE picks it at runtime)
    plan = _final_plan(strict)
    assert re.search(_SHINGLE_BHJ, plan), plan


def test_decontaminate_broadcast_size_gated(spark):
    """VERDICT r6 #2: the eval-shingle broadcast is gated on size — by
    Spark's own broadcast threshold, not a count job at build. At the
    session default the small eval set is a BroadcastHashJoin; with the
    threshold (and AQE's runtime one) off, the plan shuffles instead —
    with identical rows either way. Building the plan runs no job."""
    from miso_spark.functions.dedup import decontaminate

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated training text about spark engines"),
        ],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [(0, "benchmark asks about the quick brown fox story")],
        "eid long, text string",
    )

    def rows(df):
        return sorted((r["id"], r["common_shingles"], r["contaminated"])
                      for r in df.collect())

    # no job at build: nothing runs under the group until an action
    sc = spark.sparkContext
    group = "test-decontaminate-build"
    sc.setJobGroup(group, "decontaminate build")
    try:
        small = decontaminate(train, evals)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    want = rows(small)
    assert re.search(_SHINGLE_BHJ, _final_plan(small)), _final_plan(small)

    confs = ("spark.sql.autoBroadcastJoinThreshold",
             "spark.sql.adaptive.autoBroadcastJoinThreshold")
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k in confs:
            spark.conf.set(k, "-1")
        big = decontaminate(train, evals)
        assert rows(big) == want
        p = _final_plan(big)
        assert "BroadcastHashJoin" not in p, p
        assert "ShuffledHashJoin" in p or "SortMergeJoin" in p, p
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pack_sequences_matches_sql_prefix_sum_oracle(spark):
    """Sequence packing (GPT-style concat-and-chunk): the distributed
    two-pass prefix sum must equal the single-window SQL oracle
    (DuckDB `sum() over (order by id)`) for every document, across
    enough rows to span many range partitions."""
    import duckdb

    from miso_spark.functions.packing import pack_sequences
    from miso_spark.functions.text import token_count
    from miso_spark.sources import ParquetDirSource
    from tests.conftest import SF_DIR

    docs = ParquetDirSource(SF_DIR).table(spark, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    got = {
        r["doc_id"]: (r["global_start"], r["pack_id"], r["pack_offset"],
                      r["end_pack_id"])
        for r in pack_sequences(docs, max_tokens=256).collect()
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    oracle = con.execute("""
        WITH t AS (
          SELECT doc_id,
                 len(regexp_split_to_array(text, '\\s+')) AS n,
                 COALESCE(SUM(len(regexp_split_to_array(text, '\\s+')))
                   OVER (ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS start
          FROM documents
        )
        SELECT doc_id, start,
               start // 256 AS pack_id,
               start % 256 AS pack_offset,
               greatest(start + n - 1, start) // 256 AS end_pack_id
        FROM t
    """).fetchall()
    exp = {r[0]: (r[1], r[2], r[3], r[4]) for r in oracle}
    assert got == exp
    assert len(got) == 500
    # sanity: some docs straddle pack boundaries at this size
    assert any(g[3] > g[1] for g in got.values())


def test_pack_sequences_plan_has_no_global_sort(spark):
    """The scale contract: packing must NOT plan a single-partition
    global window (the naive sum-over-order-by). Range partitioning +
    per-partition windows keep every exchange multi-partition."""
    from miso_spark.functions.packing import pack_sequences, pack_stats

    df = spark.createDataFrame(
        [(i, 10 + i % 7) for i in range(1000)], "doc_id long, n_tokens long"
    )
    packed = pack_sequences(df, max_tokens=64)
    # the shipped path pins partitions via localCheckpoint (which hides
    # upstream operators from explain), so assert the plan shape on the
    # unpinned core — identical operators minus the checkpoint
    from miso_spark.functions.packing import _with_prefix_sum

    core = _with_prefix_sum(df, "n_tokens", "doc_id", "global_start",
                            pin_partitions=False)
    plan = core._jdf.queryExecution().executedPlan().toString()
    # r15 contract: the RAW data is range-partitioned and its running
    # sum windows on __pid (parallel). The ONE allowed SinglePartition
    # exchange feeds the offsets window over the per-partition TOTALS
    # aggregate — O(#partitions) rows, the same cardinality the old
    # driver-side collect held — inside the broadcast subtree.
    assert plan.count("Exchange SinglePartition") <= 1, plan
    if "Exchange SinglePartition" in plan:
        # it must sit above the totals aggregate (its subtree mentions
        # the totals column), never above the range-partitioned data
        seg = plan[plan.index("Exchange SinglePartition"):]
        assert "__t" in seg[:2000], plan
    assert "rangepartitioning" in plan.lower(), plan
    assert "BroadcastHashJoin" in plan, plan

    # stats roll up per pack; total tokens conserved
    total = sum(10 + i % 7 for i in range(1000))
    last = packed.orderBy(F.col("global_start").desc()).first()
    assert last["global_start"] + (10 + (last["doc_id"] % 7)) == total
    stats = pack_stats(packed, 64).collect()
    assert sum(r["docs_started"] for r in stats) == 1000
    # every pack except possibly the last is full ⇒ contiguous ids
    assert [r["pack_id"] for r in stats] == list(range(len(stats)))


def test_pack_sequences_edges(spark):
    from miso_spark.functions.packing import pack_sequences

    # zero-token docs pin to their stream position
    df = spark.createDataFrame(
        [(1, 5), (2, 0), (3, 7)], "doc_id long, n_tokens long"
    )
    got = {r["doc_id"]: r for r in pack_sequences(df, max_tokens=4).collect()}
    assert got[2]["global_start"] == 5 and got[2]["end_pack_id"] == got[2]["pack_id"]
    # doc 1: tokens 0-4 → starts pack 0, ends pack 1 (straddles)
    assert (got[1]["pack_id"], got[1]["end_pack_id"]) == (0, 1)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pack_sequences(df, max_tokens=0)


def test_token_budget_filter_greedy_prefix(spark):
    """Curation by token budget: docs kept in order until the budget
    is exhausted (whole docs only), deterministic across partitionings;
    descending quality order selects the best subset."""
    from miso_spark.functions.packing import token_budget_filter

    df = spark.createDataFrame(
        [(i, 10, float(i % 5)) for i in range(100)],
        "doc_id long, n_tokens long, quality double",
    )
    kept = token_budget_filter(df, budget=250)
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == list(range(25))  # 25 docs * 10 tokens = 250

    # partial fit: a doc that would overflow the budget is excluded
    assert token_budget_filter(df, budget=255).count() == 25
    assert token_budget_filter(df, budget=0).count() == 0

    # order by quality descending: only quality-4 then quality-3 docs
    best = token_budget_filter(
        df, budget=300, order_col="quality", ascending=False
    )
    qs = [r["quality"] for r in best.collect()]
    assert len(qs) == 30 and min(qs) >= 3.0
    # repartitioning the input does not change the selection
    again = token_budget_filter(df.repartition(13), budget=250)
    assert sorted(r["doc_id"] for r in again.collect()) == ids


def test_prefix_sum_offsets_computed_in_plan(spark):
    """r15 contract (guide §5): the per-partition offsets are computed
    INSIDE the returned plan — a totals aggregate + tiny window feeding
    a BroadcastHashJoin — not collect()ed to the driver at build time
    and baked in as literals (the r14 form, which put a driver
    round-trip in the query path and hid the totals pass from any
    timing of the returned DataFrame). The only build-time jobs allowed
    are AQE's materialization of the pinning checkpoint's shuffle MAP
    stage — never a result-collecting pass. Same rows as ever."""
    from miso_spark.functions.packing import mix_by_token_budget, token_budget_filter

    df = spark.createDataFrame(
        [(i, 10, f"s{i % 6}") for i in range(120)],
        "doc_id long, n_tokens long, source string",
    )
    budgets = {f"s{g}": 100 for g in range(6)}

    grouped = mix_by_token_budget(df, budgets)
    flat = token_budget_filter(df, budget=250)
    for out in (grouped, flat):
        plan = out._jdf.queryExecution().executedPlan().toString()
        # offsets arrive via a broadcast-joined aggregate, not literals
        assert "BroadcastHashJoin" in plan, plan
        assert "__offset" in plan, plan
        assert "map_keys" not in plan and "keys: [0," not in plan, plan
    # values unchanged by the lazy rewrite
    assert sorted(r["doc_id"] for r in flat.collect()) == list(range(25))
    got = sorted(r["doc_id"] for r in grouped.collect())
    # each source s0..s5 keeps its 10-token docs in doc_id order up to
    # 100 tokens -> the 10 lowest doc_ids of each source
    exp = sorted(i for i in range(120) if sorted(
        j for j in range(120) if j % 6 == i % 6).index(i) < 10)
    assert got == exp


def test_cap_per_group_matches_sql_oracle(spark, docs):
    """Per-domain caps: top-N rows per group by score, deterministic
    tiebreak — equals the DuckDB row_number formulation, stable under
    repartitioning."""
    import duckdb

    from miso_spark.functions.split import cap_per_group
    from tests.conftest import SF_DIR

    # derive a synthetic "domain" and score from doc content
    base = docs.select(
        "doc_id",
        (F.col("doc_id") % 7).alias("domain"),
        F.length("text").alias("score"),
    )
    got = sorted(
        (r["domain"], r["doc_id"])
        for r in cap_per_group(
            base, "domain", 5, order_col="score"
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    exp = sorted(con.execute("""
        WITH t AS (
          SELECT doc_id, doc_id % 7 AS domain, length(text) AS score,
                 row_number() OVER (
                   PARTITION BY doc_id % 7
                   ORDER BY length(text) DESC, doc_id
                 ) AS rn
          FROM documents
        )
        SELECT domain, doc_id FROM t WHERE rn <= 5
    """).fetchall())
    assert got == exp and len(got) == 35
    # repartitioning must not change the selection
    again = sorted(
        (r["domain"], r["doc_id"])
        for r in cap_per_group(
            base.repartition(13), "domain", 5, order_col="score"
        ).collect()
    )
    assert again == got
    # plan: rank-limit pushdown keeps per-group state at max_rows
    plan = (
        cap_per_group(base, "domain", 5, order_col="score")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan, plan
    import pytest as _pytest

    with _pytest.raises(ValueError):
        cap_per_group(base, "domain", 0)
    # a caller's own __rn column survives (collision-safe scratch name)
    withrn = base.withColumn("__rn", F.lit(42))
    kept = cap_per_group(withrn, "domain", 5, order_col="score")
    assert "__rn" in kept.columns and kept.first()["__rn"] == 42


def test_chunk_documents_matches_sql_oracle(spark, docs):
    """Sliding-window chunking must equal the straight SQL formulation
    (DuckDB range + list_slice) on real documents: same chunk ids,
    boundaries, and reassembled text."""
    import duckdb

    from miso_spark.functions.text import chunk_documents
    from tests.conftest import SF_DIR

    got = sorted(
        (r["doc_id"], r["chunk_id"], r["chunk_start"], r["chunk_n_tokens"],
         r["chunk_text"])
        for r in chunk_documents(docs, chunk_tokens=32, overlap=8).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    exp = sorted(con.execute("""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws,
                 len(regexp_split_to_array(text, '\\s+')) AS n
          FROM documents WHERE text IS NOT NULL
        ),
        s AS (
          SELECT doc_id, ws, n,
                 unnest(range(0, greatest(n - 1, 0) + 1, 24)) AS start,
                 generate_subscripts(range(0, greatest(n - 1, 0) + 1, 24), 1) - 1
                   AS chunk_id
          FROM t
        )
        SELECT doc_id, chunk_id, start,
               least(32, n - start) AS chunk_n,
               array_to_string(list_slice(ws, start + 1, start + 32), ' ')
                 AS chunk_text
        FROM s WHERE start < n
    """).fetchall())
    assert got == exp and len(got) > 500
    # overlap property: consecutive chunks share exactly `overlap`
    # tokens when both are full
    from collections import defaultdict

    by_doc = defaultdict(list)
    for d, cid, start, ntok, text in got:
        by_doc[d].append((cid, start, ntok, text))
    checked = 0
    for d, chunks in by_doc.items():
        chunks.sort()
        for (c1, s1, n1, t1), (c2, s2, n2, t2) in zip(chunks, chunks[1:]):
            assert s2 - s1 == 24
            if n1 == 32:
                assert t1.split(" ")[24:] == t2.split(" ")[: n1 - 24]
                checked += 1
    assert checked > 100


def test_chunk_documents_edges(spark):
    from miso_spark.functions.text import chunk_documents

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, ""), (3, None), (4, "x")],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["chunk_id"]): r
        for r in chunk_documents(df, chunk_tokens=3, overlap=1).collect()
    }
    # doc 1: 5 tokens, step 2 → starts 0, 2, 4
    assert got[(1, 0)]["chunk_text"] == "a b c"
    assert got[(1, 1)]["chunk_text"] == "c d e"
    assert got[(1, 2)]["chunk_text"] == "e" and got[(1, 2)]["chunk_n_tokens"] == 1
    # empty text → one empty chunk (token_count convention); null → none
    assert got[(2, 0)]["chunk_text"] == ""
    assert not any(k[0] == 3 for k in got)
    assert got[(4, 0)]["chunk_n_tokens"] == 1
    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=3, overlap=3)
    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=0)


def test_count_words_in_quote_safe(spark):
    """Marker-word counting must not interpolate vocab into SQL text —
    a word containing a quote (e.g. the contraction "don't") is data,
    not syntax."""
    from miso_spark.functions.text import _count_words_in

    df = spark.createDataFrame(
        [(["don't", "stop", "don't", None],), ([],)], "w array<string>"
    )
    got = [r["n"] for r in df.select(
        _count_words_in("w", ("don't", "x' OR '1'='1")).alias("n")
    ).collect()]
    assert got == [2, 0]


def test_prefix_sum_handles_negative_values(spark):
    """Per-partition totals are SUM(value), not max(running sum) — a
    caller passing signed deltas must still get exact global offsets."""
    from miso_spark.functions.packing import _with_prefix_sum

    vals = [(i, (-3) ** (i % 3) + 1) for i in range(200)]  # mix of signs
    df = spark.createDataFrame(vals, "doc_id long, delta long")
    got = {
        r["doc_id"]: r["prev"]
        for r in _with_prefix_sum(df, "delta", "doc_id", "prev").collect()
    }
    acc = 0
    for i, d in vals:
        assert got[i] == acc, f"doc {i}"
        acc += d


def test_embedding_normalize_and_quantize(spark, emb):
    """Embedding storage utilities: L2 normalization (zero-safe), int8
    quantization with bounded reconstruction error, and quantized
    cosine within tolerance of the exact cosine on real embeddings."""
    from miso_spark.functions.similarity import (
        cosine,
        cosine_q8,
        dequantize,
        normalize_embeddings,
        quantize_embeddings,
    )

    normed = normalize_embeddings(emb)
    from miso_spark.functions.similarity import _norm as l2

    norms = normed.select(l2(F.col("embedding")).alias("n")).collect()
    assert all(abs(r["n"] - 1.0) < 1e-9 for r in norms)

    qdf = quantize_embeddings(emb)
    err = qdf.select(
        F.aggregate(
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                dequantize(F.col("embedding_q8")),
                lambda x, y: F.abs(x - y) / (F.col("embedding_q8.scale") + 1e-12),
            ),
            F.lit(0.0), lambda a, z: F.greatest(a, z),
        ).alias("e")
    ).agg(F.max("e")).first()[0]
    assert err <= 0.5 + 1e-9  # per-component error ≤ scale/2

    # quantized cosine tracks exact cosine on a self-join sample
    a = qdf.limit(10).select(
        F.col("vec_id").alias("ia"),
        F.col("embedding").alias("va"), F.col("embedding_q8").alias("qa"))
    b = qdf.limit(10).select(
        F.col("vec_id").alias("ib"),
        F.col("embedding").alias("vb"), F.col("embedding_q8").alias("qb"))
    pairs = a.crossJoin(b).select(
        cosine(F.col("va").cast("array<double>"),
               F.col("vb").cast("array<double>")).alias("c"),
        cosine_q8(F.col("qa"), F.col("qb")).alias("cq"),
    ).collect()
    assert all(abs(r["c"] - r["cq"]) < 0.02 for r in pairs)

    # zero vector: safe in both paths
    z = spark.createDataFrame([(1, [0.0, 0.0, 0.0])], "vec_id long, embedding array<double>")
    zn = normalize_embeddings(z).first()["embedding"]
    assert list(zn) == [0.0, 0.0, 0.0]
    zq = quantize_embeddings(z).first()["embedding_q8"]
    assert zq["scale"] == 0.0 and list(zq["q"]) == [0, 0, 0]


def test_corpus_bigram_logprob_matches_sql_oracle(spark, docs):
    """Corpus-LM quality scoring: the two-aggregation + two-join plan
    must equal a straight SQL formulation of the same add-k bigram
    model (DuckDB), and ranking must behave: a doc made of corpus-
    common sequences outscores gibberish."""
    import duckdb

    from miso_spark.functions.text import corpus_bigram_logprob
    from tests.conftest import SF_DIR

    got = {
        r["id"]: (r["n_bigrams"], r["avg_logprob"])
        for r in corpus_bigram_logprob(docs).collect()
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    oracle = con.execute("""
        WITH w AS (
          SELECT doc_id AS id, unnest(
            string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')
          ) AS w1,
          generate_subscripts(
            string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '), 1
          ) AS pos
          FROM documents
        ),
        bi AS (
          SELECT id, w1, lead(w1) OVER (PARTITION BY id ORDER BY pos) AS w2
          FROM w
        ),
        bi2 AS (SELECT * FROM bi WHERE w2 IS NOT NULL),
        bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi2 GROUP BY 1, 2),
        voc AS (
          SELECT COUNT(*) AS v FROM (
            SELECT w1 AS w FROM bc UNION SELECT w2 FROM bc
          )
        ),
        consts AS (
          SELECT (SELECT SUM(c12) FROM bc)
                 + 1.0 * (SELECT v FROM voc) * (SELECT v FROM voc) AS denom
        )
        SELECT id, COUNT(*) AS n_bigrams,
               ROUND(AVG(LN((c12 + 1.0) / (SELECT denom FROM consts))), 6)
                 AS avg_logprob
        FROM bi2 JOIN bc USING (w1, w2)
        GROUP BY id
    """).fetchall()
    exp = {r[0]: (r[1], r[2]) for r in oracle}
    assert set(got) == set(exp)
    for i in got:
        assert got[i][0] == exp[i][0], i
        assert abs(got[i][1] - exp[i][1]) < 1e-5, (i, got[i], exp[i])

    # ranking sanity: common-sequence text beats gibberish appended to
    # the same corpus
    sample = docs.limit(1).first()["text"]
    extra = spark.createDataFrame(
        [(900001, sample), (900002, "zzq qqz xqx jjw wvv pqz krm")],
        "doc_id long, text string",
    )
    both = docs.select("doc_id", "text").unionByName(extra)
    scores = {
        r["id"]: r["avg_logprob"]
        for r in corpus_bigram_logprob(both).collect()
    }
    assert scores[900001] > scores[900002]


def test_mix_by_token_budget_per_group(spark):
    """Training-mix curation: each source independently fills its own
    token budget in quality order; sources without a budget drop; the
    selection is deterministic under any input partitioning and equals
    the per-group SQL window oracle."""
    import duckdb

    from miso_spark.functions.packing import mix_by_token_budget

    rows = [
        (i, ["web", "code", "forum"][i % 3], 10 + i % 4, float(100 - i))
        for i in range(90)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, n_tokens long, quality double"
    )
    budgets = {"web": 120, "code": 57}
    kept = mix_by_token_budget(
        df, budgets, order_col="quality", ascending=False
    )
    got = sorted((r["source"], r["doc_id"]) for r in kept.collect())

    con = duckdb.connect()
    con.register("docs", __import__("pandas").DataFrame(
        rows, columns=["doc_id", "source", "n_tokens", "quality"]))
    oracle = con.execute("""
        WITH t AS (
          SELECT *, COALESCE(SUM(n_tokens) OVER (
            PARTITION BY source ORDER BY quality DESC, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
          FROM docs
        )
        SELECT source, doc_id FROM t
        WHERE (source = 'web' AND start + n_tokens <= 120)
           OR (source = 'code' AND start + n_tokens <= 57)
    """).fetchall()
    assert got == sorted(oracle)
    assert not any(s == "forum" for s, _ in got)  # unbudgeted → dropped
    # per-group budgets respected exactly
    spent = {}
    tok = {r[0]: r[2] for r in rows}
    for s, i in got:
        spent[s] = spent.get(s, 0) + tok[i]
    assert spent["web"] <= 120 and spent["code"] <= 57

    again = mix_by_token_budget(
        df.repartition(17), budgets, order_col="quality", ascending=False
    )
    assert sorted((r["source"], r["doc_id"]) for r in again.collect()) == got


def test_minhash_rejects_non_dividing_bands(spark):
    """bands must factor num_hashes exactly — silent truncation would
    band on fewer hashes than requested and skew the recall curve."""
    import pytest as _pytest

    from miso_spark.functions.dedup import minhash_lsh_pairs

    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with _pytest.raises(ValueError, match="evenly divide"):
        minhash_lsh_pairs(df, num_hashes=16, bands=5)


# ---------------------------------------------------------------------------
# r14 optimization-round pins: the per-task-work rewrites must be
# BIT-IDENTICAL to the expression forms they replaced (the driver
# re-hashes every declared query, so "close" is a regression)


def test_lsh_bucket_folded_signs_match_expression_path(spark, emb):
    """lsh_bucket folds the hyperplane sign vectors to literal arrays
    via a one-row job (r14); the bucket ids must equal the original
    per-row expression derivation exactly, for every vector."""
    from miso_spark.functions import similarity as sim

    v = F.col("embedding").cast("array<double>")
    dim = 64
    folded = emb.select("vec_id", sim.lsh_bucket(v, 7, dim).alias("b"))

    # the pre-r14 path: per-row _hyperplane_sign over hashed planes
    bucket = F.lit(0)
    for p in range(7):
        bucket = bucket + F.shiftleft(sim._hyperplane_sign(v, p, dim), p)
    orig = emb.select("vec_id", bucket.alias("b"))
    diff = (
        folded.alias("x")
        .join(orig.alias("y"), "vec_id")
        .filter(F.col("x.b") != F.col("y.b"))
        .count()
    )
    assert diff == 0


def test_lsh_bucket_folds_signs_in_worker_thread(spark):
    """A worker thread has no thread-local active session; lsh_bucket
    must still fold the plane signs to constants instead of deriving
    them per row (~6.5× slower). Uses a (plane, dim) no other test
    folds, so the plane cache cannot hide the session lookup."""
    import threading

    from miso_spark.functions import similarity as sim

    dim = 5
    for p in range(3):
        sim._PLANE_SIGN_CACHE.pop((p, dim), None)
    out: dict = {}

    def build():
        try:
            out["col"] = sim.lsh_bucket(F.col("v"), 3, dim)
        except Exception as e:  # noqa: BLE001 — reported on the test thread
            out["err"] = e

    t = threading.Thread(target=build)
    t.start()
    t.join(timeout=120)
    assert "err" not in out, out.get("err")
    assert "xxhash64" not in str(out["col"]).lower()
    assert all((p, dim) in sim._PLANE_SIGN_CACHE for p in range(3))


def test_token_counts_match_array_forms(spark):
    """regexp_count rewrites (token_count, bpe_token_count, the
    with_quality punct count) must agree with the materializing array
    forms on every edge shape: empty, whitespace-only, leading and
    trailing separators, punctuation runs, and NULL."""
    from miso_spark.functions.text import TOKEN_PATTERN, bpe_token_count, token_count

    rows = [
        (0, "plain words here"),
        (1, ""),
        (2, "   "),
        (3, " lead"),
        (4, "trail "),
        (5, "a  b\t\nc"),
        (6, "!!! ... ,,,"),
        (7, "mixed, punct-uation! and_words 123"),
        (8, None),
    ]
    df = spark.createDataFrame(rows, ["i", "t"])
    t = F.col("t")
    got = df.select(
        "i",
        token_count(t).alias("tok"),
        F.size(F.split(t, r"\s+")).alias("tok_arr"),
        bpe_token_count(t).alias("bpe"),
        F.size(F.regexp_extract_all(t, F.lit(TOKEN_PATTERN), 0)).alias("bpe_arr"),
        F.regexp_count(t, F.lit(r"[^\w\s]")).alias("punct"),
        (F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))).alias("punct_arr"),
    ).collect()
    for r in got:
        assert r["tok"] == r["tok_arr"], r
        assert r["bpe"] == r["bpe_arr"], r
        assert r["punct"] == r["punct_arr"], r


def test_embedding_pair_cosine_matches_per_pair_norms(spark, emb):
    """embedding_dedup_pairs carries each row's norm through the join
    (r14) instead of re-folding it per pair; the rounded cosine must be
    bit-identical, so the pair set at any threshold is unchanged."""
    from miso_spark.functions.dedup import embedding_dedup_pairs

    got = embedding_dedup_pairs(emb, block_col="label", threshold=0.9).collect()

    e = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v"), F.col("label").alias("blk")
    )
    pairs = e.alias("x").join(
        e.alias("y"),
        (F.col("x.id") < F.col("y.id")) & (F.col("x.blk") == F.col("y.blk")),
    )
    dot = F.aggregate(
        F.zip_with(F.col("x.v"), F.col("y.v"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )
    norm = lambda side: F.sqrt(
        F.aggregate(F.col(side), F.lit(0.0), lambda acc, z: acc + z * z)
    )
    want = (
        pairs.withColumn("cosine", F.round(dot / (norm("x.v") * norm("y.v")), 4))
        .filter(F.col("cosine") >= 0.9)
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"), "cosine")
        .collect()
    )
    key = lambda rows: sorted((r["id_a"], r["id_b"], r["cosine"]) for r in rows)
    assert key(got) == key(want)


#: edge texts for the shingle/signature pins: normal, shorter than n
#: (one partial shingle), empty (one empty shingle), repeated shingles,
#: NULL, whitespace runs, mixed case
_SHINGLE_EDGE_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "short doc"),
    (3, ""),
    (4, "a b a b a b a b a b"),
    (5, None),
    (6, "  spaced   out\ttabs\nnewlines  "),
    (7, "The  QUICK brown\tFox jumps OVER the lazy\ndog"),
]


def test_shingle_rows_matches_shingles_column_form(spark):
    """The distinct hashed shingle rows (index-explode + per-row slice,
    the form every batch dedup operator builds on) equal the reference
    ``shingles()`` column form (exploded, hashed, distinct) on every
    edge: normal docs, docs shorter than n (one partial shingle), empty
    text (one empty shingle), repeated shingles (dedup), and whitespace
    runs. NULL text is the one documented divergence: the row form
    emits NO rows (the behavior the DuckDB oracle pins), while the
    column form's sequence-over-null yields one empty shingle."""
    from miso_spark.functions.dedup import _hashed_shingle_rows, shingles

    df = spark.createDataFrame(_SHINGLE_EDGE_DOCS, "doc_id long, text string")
    got = sorted(
        (r["id"], r["shh"])
        for r in _hashed_shingle_rows(df, "text", "doc_id", 3).distinct().collect()
    )
    ref = sorted(
        (r["id"], r["shh"])
        for r in df.filter(F.col("text").isNotNull())
        .select(
            F.col("doc_id").alias("id"),
            F.explode(shingles(F.col("text"), 3)).alias("s"),
        )
        .select("id", F.xxhash64("s").alias("shh"))
        .distinct()
        .collect()
    )
    assert got == ref
    assert not any(i == 5 for i, _ in got), "NULL text must yield no rows"
    assert sum(1 for i, _ in got if i == 3) == 1  # empty text: one empty shingle
    assert sum(1 for i, _ in got if i == 2) == 1  # short doc: one partial shingle


def test_stream_signature_equals_batch_minhash(spark):
    """Stream and batch dedup sign a document identically: the
    row-local signature ``near_dedup_stream`` uses
    (``with_minhash_signature``) equals ``minhash_lsh_pairs``' per-doc
    mins ``m0..m15`` byte for byte on every non-NULL edge text. The one
    divergence is NULL text: the batch path emits no row, the stream
    signs the one empty shingle (the same signature as "")."""
    from miso_spark.functions.dedup import (
        _minhash_rows,
        _shingle_sets,
        with_minhash_signature,
    )

    df = spark.createDataFrame(_SHINGLE_EDGE_DOCS, "doc_id long, text string")
    stream = {
        r["doc_id"]: list(r["sig"])
        for r in with_minhash_signature(df, "text", 16, 3).collect()
    }
    batch = {
        r["id"]: [r[f"m{k}"] for k in range(16)]
        for r in _minhash_rows(_shingle_sets(df, "text", "doc_id", 3), 16).collect()
    }
    assert set(batch) == {1, 2, 3, 4, 6, 7}  # NULL text: no batch row
    assert {i: stream[i] for i in batch} == batch
    assert stream[5] == stream[3]  # NULL signs like the empty text
    assert all(len(v) == 16 for v in stream.values())
    assert stream[7] == stream[1]  # case and whitespace runs normalize away
