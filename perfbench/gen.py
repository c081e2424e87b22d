"""Deterministic inputs for the benchmark: tables, op sequences, expected rows.

Everything here runs in the prepare step, outside every timer.

- Base tables (``events``, ``lineitem``, ``orders``, ``customer``) come
  from a fixed generator seed and are written once per checkout as
  multi-file parquet, so scans split into several tasks.
- The workload seed picks query literals and the document sample. The
  program only ever sees the generated files and query texts.
- Expected results are computed by DuckDB over the same files.

The KQL lexer rejects ``%``, so every slice is a literal range.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generator changes so stale cached tables are rebuilt
BASE_VERSION = "v2"
BASE_SEED = 20_261_017

#: table → (rows, files); row counts follow the sf0.1 layout
TABLE_SHAPES = {
    "events": (100_000, 8),
    "lineitem": (600_000, 16),
    "orders": (150_000, 8),
    "customer": (15_000, 4),
}
CORPUS_DOCS = 1_000

EVENTS_T0 = dt.datetime(2024, 1, 1)
EVENT_STEP_S = 86  # one event per ~86 s: 100k events span ~100 days
DATES_T0 = dt.datetime(1992, 1, 1)
DATE_SPAN_DAYS = 2_400
EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

_WORDS = (
    "spark query table scan join filter group window stream batch vector "
    "column row key value hash sort merge shuffle stage task driver executor "
    "partition bucket index schema parquet json log event metric trace span "
    "latency cache plan optimizer catalyst codegen memory disk network node "
    "cluster job worker queue topic offset commit replica leader shard "
    "search token shingle band signature minhash jaccard corpus document "
    "dedup quality budget filter packing sequence sample seed random"
).split()
_STOP = ("the", "a", "and", "of", "to", "in", "is", "it")
_DE = ("der", "die", "und", "ist", "nicht")
_FR = ("le", "la", "et", "est", "pas")
_PUNCT = ("data,", "fast.", "slow!", "(ok)", "x-y", "why?")


# ---------------------------------------------------------------------------
# base tables

def _write_parts(table: pa.Table, path: str, files: int) -> None:
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:03d}.parquet"))


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    micros = int(base.timestamp() * 1_000_000) + seconds.astype(np.int64) * 1_000_000
    return pa.array(micros, type=pa.timestamp("us"))


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    i = np.arange(n, dtype=np.int64)
    return pa.table({
        "event_id": i,
        # strictly increasing whole seconds: sort order by ts is total
        "ts": _ts(EVENTS_T0, i * EVENT_STEP_S + rng.integers(0, EVENT_STEP_S, n)),
        "user_id": rng.integers(0, 2_000, n),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.choice(5, n, p=[.4, .3, .1, .1, .1])]),
        "value": np.round(rng.gamma(2.0, 25.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "l_orderkey": rng.integers(0, TABLE_SHAPES["orders"][0], n),
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_linenumber": pa.array(rng.integers(1, 8, n), type=pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": _ts(DATES_T0, rng.integers(0, DATE_SPAN_DAYS, n) * 86_400),
    })


def _orders(rng: np.random.Generator, n: int) -> pa.Table:
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, TABLE_SHAPES["customer"][0], n),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": np.round(rng.uniform(850, 500_000, n), 2),
        "o_orderdate": _ts(DATES_T0, rng.integers(0, DATE_SPAN_DAYS, n) * 86_400),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, n)]),
    })


def _customer(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), type=pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9_999, n), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
    })


def _doc_words(rng: np.random.Generator) -> list[str]:
    n = int(rng.integers(30, 61))
    lang = rng.choice(3, p=[.7, .15, .15])
    extra = (_STOP, _DE, _FR)[lang]
    out = []
    for _ in range(n):
        r = rng.random()
        if r < 0.15:
            out.append(extra[rng.integers(len(extra))])
        elif r < 0.2:
            out.append(_PUNCT[rng.integers(len(_PUNCT))])
        else:
            out.append(_WORDS[rng.integers(len(_WORDS))])
    return out


def _exact_variant(text: str) -> str:
    """Same text after the dedup normalization (case, whitespace)."""
    ws = text.split()
    return ws[0].upper() + "  " + " ".join(ws[1:])


def _near_variant(rng: np.random.Generator, text: str) -> str:
    """1-2 word substitutions: the word 3-gram Jaccard stays >= 0.64
    for 30-60 word documents, well above the 0.5 dedup threshold."""
    ws = text.split()
    for _ in range(int(rng.integers(1, 3))):
        ws[rng.integers(len(ws))] = _WORDS[rng.integers(len(_WORDS))]
    return " ".join(ws)


def corpus_table(seed: int) -> pa.Table:
    """The seeded document sample. Its shape is the same for every seed:
    CORPUS_DOCS documents of which a tenth are exact duplicates and a
    tenth near duplicates, each of a distinct original, so duplicate
    clusters are pairs and the dedup job count does not move with the
    seed. The seed picks the words and the doc id order."""
    rng = np.random.default_rng([seed, 1])
    n_dup = CORPUS_DOCS // 10
    texts = [" ".join(_doc_words(rng)) for _ in range(CORPUS_DOCS - 2 * n_dup)]
    src = rng.choice(len(texts), 2 * n_dup, replace=False)
    texts += [_exact_variant(texts[j]) for j in src[:n_dup]]
    texts += [_near_variant(rng, texts[j]) for j in src[n_dup:]]
    texts = [texts[j] for j in rng.permutation(len(texts))]
    n = len(texts)
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(np.array(["en", "de", "fr"])[rng.integers(0, 3, n)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 4, n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def ensure_base(data_root: str) -> str:
    """Write the base tables once; later runs reuse them."""
    out = os.path.join(data_root, f"base-{BASE_VERSION}")
    marker = os.path.join(out, "_DONE")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    rng = np.random.default_rng(BASE_SEED)
    makers = {"events": _events, "lineitem": _lineitem, "orders": _orders, "customer": _customer}
    for name, (rows, files) in TABLE_SHAPES.items():
        _write_parts(makers[name](rng, rows), os.path.join(out, f"{name}.parquet"), files)
    with open(marker, "w") as f:
        f.write(BASE_VERSION)
    return out


def ensure_corpus(data_root: str, seed: int) -> str:
    """The seeded document sample, as a ``documents`` collection."""
    out = os.path.join(data_root, f"corpus-{BASE_VERSION}-s{seed}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    _write_parts(corpus_table(seed), os.path.join(out, "documents.parquet"), 2)
    open(os.path.join(out, "_DONE"), "w").close()
    return out


# ---------------------------------------------------------------------------
# op sequences
#
# The seed moves offsets and category literals; range widths are fixed,
# so every seed asks for about the same amount of work.

def _day(offset: int, t0: dt.datetime = DATES_T0) -> str:
    return (t0 + dt.timedelta(days=int(offset))).strftime("%Y-%m-%d")


def _filter_count(rng):
    u0 = int(rng.integers(0, 1_940))
    u1 = u0 + 60
    v = int(rng.integers(0, 100))
    return (
        f"t.events | where user_id >= {u0} and user_id < {u1} and value > {v} | count",
        f"SELECT count(*) AS \"Count\" FROM events "
        f"WHERE user_id >= {u0} AND user_id < {u1} AND value > {v}",
    )


def _summarize_by(rng):
    d0 = int(rng.integers(0, DATE_SPAN_DAYS - 180))
    d1 = d0 + 180
    a, b = _day(d0), _day(d1)
    return (
        f"t.lineitem | where l_shipdate >= datetime({a}) and l_shipdate < datetime({b}) "
        f"| summarize n = count(), qty = sum(l_quantity), price = sum(l_extendedprice) "
        f"by l_returnflag, l_linestatus",
        f"SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty, "
        f"sum(l_extendedprice) AS price FROM lineitem "
        f"WHERE l_shipdate >= TIMESTAMP '{a}' AND l_shipdate < TIMESTAMP '{b}' GROUP BY 1, 2",
    )


def _bin_rollup(rng):
    d0 = int(rng.integers(0, 70))
    d1 = d0 + 30
    a, b = _day(d0, EVENTS_T0), _day(d1, EVENTS_T0)
    et = EVENT_TYPES[int(rng.integers(len(EVENT_TYPES)))]
    return (
        f"t.events | where ts >= datetime({a}) and ts < datetime({b}) and event_type == '{et}' "
        f"| summarize n = count(), total = sum(value) by day = bin(ts, 1d) "
        f"| project day = tolong(day), n, total",
        f"SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS day, count(*) AS n, "
        f"sum(value) AS total FROM events WHERE ts >= TIMESTAMP '{a}' "
        f"AND ts < TIMESTAMP '{b}' AND event_type = '{et}' GROUP BY 1",
    )


def _sort_take(rng):
    d0 = int(rng.integers(0, DATE_SPAN_DAYS - 100))
    d1 = d0 + 100
    k = int(rng.integers(20, 31))
    a, b = _day(d0), _day(d1)
    return (
        f"t.orders | where o_orderdate >= datetime({a}) and o_orderdate < datetime({b}) "
        f"| sort by o_totalprice desc, o_orderkey asc | take {k} "
        f"| project o_orderkey, o_custkey, o_totalprice",
        f"SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        f"WHERE o_orderdate >= TIMESTAMP '{a}' AND o_orderdate < TIMESTAMP '{b}' "
        f"ORDER BY o_totalprice DESC, o_orderkey LIMIT {k}",
    )


def _join(rng):
    a = int(rng.integers(0, TABLE_SHAPES["orders"][0] - 1_500))
    w = 1_500
    seg = SEGMENTS[int(rng.integers(len(SEGMENTS)))]
    return (
        f"t.orders | where o_orderkey >= {a} and o_orderkey < {a + w} "
        f"| join kind=inner (t.customer | where c_mktsegment == '{seg}') "
        f"on $left.o_custkey == $right.c_custkey "
        f"| summarize n = count(), total = sum(o_totalprice) by c_nationkey",
        f"SELECT c_nationkey, count(*) AS n, sum(o_totalprice) AS total FROM orders "
        f"JOIN customer ON o_custkey = c_custkey WHERE o_orderkey >= {a} "
        f"AND o_orderkey < {a + w} AND c_mktsegment = '{seg}' GROUP BY 1",
    )


#: template name → (literal picker, result order matters)
TEMPLATES = {
    "filter_count": (_filter_count, False),
    "summarize_by": (_summarize_by, False),
    "bin_rollup": (_bin_rollup, False),
    "sort_take": (_sort_take, True),
    "join": (_join, False),
}

#: distinct ops per template; a longer measured phase cycles through them
ROUNDS = 24
WARMUP_ROUNDS = 8


class Op:
    """One request: KQL text, template name, expected rows."""

    __slots__ = ("template", "kql", "sql", "ordered", "expected")

    def __init__(self, template: str, kql: str, sql: str, ordered: bool):
        self.template, self.kql, self.sql, self.ordered = template, kql, sql, ordered
        self.expected: list[dict] | None = None


def interactive_ops(seed: int) -> tuple[list[Op], list[Op]]:
    """(warm-up ops, measured ops), templates interleaved round-robin so
    a slow stretch of the host hits every template alike."""
    rng = np.random.default_rng([seed, 2])
    ops = []
    for _ in range(WARMUP_ROUNDS + ROUNDS):
        for name, (pick, ordered) in TEMPLATES.items():
            kql, sql = pick(rng)
            ops.append(Op(name, kql, sql, ordered))
    cut = WARMUP_ROUNDS * len(TEMPLATES)
    return ops[:cut], ops[cut:]


def corpus_budget(seed: int) -> float:
    """Share of the sample's tokens ``token_budget_filter`` may keep."""
    return float(np.random.default_rng([seed, 3]).uniform(0.4, 0.8))


# ---------------------------------------------------------------------------
# expected results

def duckdb_tables(con, base: str, names) -> None:
    for name in names:
        con.execute(
            f"CREATE TABLE {name} AS SELECT * FROM "
            f"read_parquet('{os.path.join(base, name + '.parquet')}/*.parquet')"
        )


def fill_expected(base: str, ops: list[Op]) -> None:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        duckdb_tables(con, base, ("events", "lineitem", "orders", "customer"))
        for op in ops:
            res = con.execute(op.sql)
            cols = [d[0] for d in res.description]
            op.expected = [dict(zip(cols, r)) for r in res.fetchall()]
    finally:
        con.close()


def corpus_expected(corpus_dir: str, budget_share: float) -> tuple[dict[str, list], int]:
    """Expected rows per corpus operator from the catalog's DuckDB
    oracle SQL over the sample, plus the token budget in tokens."""
    import duckdb

    from miso_spark.catalog import CATALOG

    con = duckdb.connect()
    try:
        duckdb_tables(con, corpus_dir, ("documents",))
        out = {}
        for name in ("near_dedup_pipeline", "decontaminate", "text_quality"):
            res = con.execute(CATALOG[name].oracle)
            cols = [d[0] for d in res.description]
            out[name] = [dict(zip(cols, r)) for r in res.fetchall()]
        ntok = "len(regexp_split_to_array(text, '\\s+'))"
        total = con.execute(f"SELECT sum({ntok}) FROM documents").fetchone()[0]
        budget = int(total * budget_share)
        res = con.execute(
            f"SELECT doc_id, n_tokens FROM (SELECT doc_id, {ntok} AS n_tokens, "
            f"coalesce(sum({ntok}) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED "
            f"PRECEDING AND 1 PRECEDING), 0) AS start FROM documents) "
            f"WHERE start + n_tokens <= {budget}"
        )
        out["token_budget_filter"] = [
            {"doc_id": a, "n_tokens": b} for a, b in res.fetchall()
        ]
        return out, budget
    finally:
        con.close()


# ---------------------------------------------------------------------------
# comparison

def _norm(v):
    # Spark's JSON spells a whole double as 1.0 where DuckDB gives 1
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return float(v)
    return v


def _sort_key(row: tuple):
    return tuple(
        (0, round(v, 6)) if isinstance(v, float) else (1, str(v)) for _, v in row
    )


def _canon(rows: list[dict], ordered: bool) -> list[tuple]:
    # Spark's JSON writer drops null fields, so nulls are dropped here too
    out = [
        tuple(sorted((k, _norm(v)) for k, v in r.items() if v is not None))
        for r in rows
    ]
    return out if ordered else sorted(out, key=_sort_key)


def same_rows(got: list[dict], expected: list[dict], ordered: bool = False) -> bool:
    """Row lists equal up to order (unless ``ordered``), float rounding
    of differently ordered sums, and int/float spelling."""
    a, b = _canon(got, ordered), _canon(expected, ordered)
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if [k for k, _ in ra] != [k for k, _ in rb]:
            return False
        for (_, x), (_, y) in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True
