"""The benchmark's own tests.

    python -m pytest perfbench/tests -q

The Spark-backed test starts one local session (about 10 s).
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
import trace_run  # noqa: E402
import workloads as W  # noqa: E402


@pytest.fixture(scope="module")
def base(tmp_path_factory):
    return gen.ensure_base(str(tmp_path_factory.mktemp("data")))


def test_ops_deterministic_per_seed():
    a_warm, a = gen.interactive_ops(7)
    b_warm, b = gen.interactive_ops(7)
    assert [o.kql for o in a_warm + a] == [o.kql for o in b_warm + b]
    _, c = gen.interactive_ops(8)
    assert [o.kql for o in a] != [o.kql for o in c]
    # every template appears once per round, in a fixed order
    assert [o.template for o in a[:5]] == list(gen.TEMPLATES)
    assert gen.corpus_budget(7) == gen.corpus_budget(7) != gen.corpus_budget(8)


def test_tables_deterministic(base, tmp_path):
    again = gen.ensure_base(str(tmp_path))
    for name in gen.TABLE_SHAPES:
        a = pq.read_table(os.path.join(base, f"{name}.parquet"))
        b = pq.read_table(os.path.join(again, f"{name}.parquet"))
        assert a.equals(b), name
    s1 = pq.read_table(os.path.join(gen.ensure_corpus(str(tmp_path), 1), "documents.parquet"))
    s1b = pq.read_table(os.path.join(gen.ensure_corpus(str(tmp_path / "x"), 1), "documents.parquet"))
    s2 = pq.read_table(os.path.join(gen.ensure_corpus(str(tmp_path), 2), "documents.parquet"))
    assert s1.equals(s1b)
    assert s1.column("text").to_pylist() != s2.column("text").to_pylist()
    assert s1.num_rows == s2.num_rows == gen.CORPUS_DOCS


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == trace_run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert spec["paths"] == ["perfbench"]


def test_same_rows_tolerates_order_and_sum_rounding():
    exp = [{"k": "a", "n": 2, "s": 0.1 + 0.2}, {"k": "b", "n": 1, "s": 1.0}]
    got = [{"k": "b", "n": 1.0, "s": 1.0}, {"k": "a", "n": 2, "s": 0.3}]
    assert gen.same_rows(got, exp)
    assert not gen.same_rows(got, exp, ordered=True)
    assert not gen.same_rows(got[:1], exp)
    assert not gen.same_rows([{"k": "b", "n": 1, "s": 1.0}, {"k": "a", "n": 3, "s": 0.3}], exp)
    # the JSON writer drops null fields
    assert gen.same_rows([{"k": "a"}], [{"k": "a", "x": None}])


def test_corrupted_expected_result_raises_failed_ratio(base, monkeypatch):
    """The run's accounting: one wrong expected row → a failed op."""
    warm, ops = gen.interactive_ops(3)
    gen.fill_expected(base, warm + ops)
    by_kql = {o.kql: [dict(r) for r in o.expected] for o in warm + ops}
    ops[1].expected[0][next(iter(ops[1].expected[0]))] = "corrupted"

    class FakeServer:
        def __init__(self, *a):
            pass

        def wait_ready(self):
            return 1

        def stop(self):
            pass

    def fake_query(port, kql, query_id=None):
        # JSON round trip, as rows arrive from the server
        return 0.01, json.loads(json.dumps(by_kql[kql], default=str)), 10, None

    monkeypatch.setattr(W, "ServerProcess", FakeServer)
    monkeypatch.setattr(W, "post_json", lambda *a: {})
    monkeypatch.setattr(W, "sse_query", fake_query)
    monkeypatch.setattr(gen, "interactive_ops", lambda seed: (warm, ops))
    monkeypatch.setattr(gen, "fill_expected", lambda base, ops: None)
    res = W.run_interactive(ROOT, os.path.dirname(base), 3, 0.05, 1)
    assert res.warmup_failed == 0
    bad = [i for i, ok in enumerate(res.ok) if not ok]
    assert bad and all(i % len(ops) == 1 for i in bad)  # exactly the corrupted op


@pytest.fixture(scope="module")
def spark(base):
    s = W.start_spark(ROOT, 1)
    yield s
    W.stop_spark(s)


def test_traced_and_untraced_give_identical_results(base, spark):
    from miso_spark.compiler import Compiler
    from miso_spark.sources import ParquetDirSource, SourceRegistry

    warm, ops = gen.interactive_ops(5)
    ops = ops[: len(gen.TEMPLATES)]  # one op per template
    gen.fill_expected(base, ops)
    tracer = trace_run.Tracer()
    spy = trace_run.source_spy(ParquetDirSource(base), tracer)
    traced = Compiler(SourceRegistry(spark).register("t", spy))
    plain = Compiler(SourceRegistry(spark).register("t", ParquetDirSource(base)))
    for op in ops:
        _, _, a = trace_run.in_process(op, traced, tracer)
        _, _, b = trace_run.in_process(op, plain)
        assert a == b, op.kql
        assert gen.same_rows(a, op.expected, op.ordered), op.kql
    names = {s["name"] for s in tracer.spans}
    assert {"op", "kql.parse", "compiler.run", "sources.table", "spark.plan", "spark.exec"} <= names
    # source resolution nests inside the compiler span
    assert all(tracer.spans[s["parent"]]["name"] == "compiler.run"
               for s in tracer.spans if s["name"] == "sources.table")
    # corpus: the spied source feeds an operator the same rows
    docs_dir = gen.ensure_corpus(os.path.dirname(base), 5)
    expected, budget = gen.corpus_expected(docs_dir, gen.corpus_budget(5))
    build = W.corpus_builders(budget)["token_budget_filter"]
    src = ParquetDirSource(docs_dir)
    a = W.rows_of(build(trace_run.source_spy(src, tracer).table(spark, "documents")))
    b = W.rows_of(build(src.table(spark, "documents")))
    assert sorted(map(str, a)) == sorted(map(str, b))
    assert gen.same_rows(a, expected["token_budget_filter"])
