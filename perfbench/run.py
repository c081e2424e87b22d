#!/usr/bin/env python3
"""miso_spark benchmark: one command, every metric, every result checked.

    python3 perfbench/run.py --slots 2 --workload interactive --seed 1 --seconds 15 --trace 0

Prints one JSON line per run as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` gives
the end-to-end metrics, ``--trace 1`` the per-layer ones (a separate,
traced run). The line before it is a run record: host sentinel, Spark
slots, shuffle partitions, nproc, failed_ratio and the warm-up tail.

``--report N`` is the steadiness mode: it runs the workload N times
with seeds ``seed .. seed+N-1`` and prints each end-to-end metric's
median, quartiles and spread against its bound in BENCHMARK.json.

Run it from the root of a checkout. Without the ``miso_spark`` package
next to this directory it exits with code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".perfbench_data")

#: end-to-end metric → unit (BENCHMARK.json lists the same names)
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "ops_per_s": "1/s",
    "batch_s": "s",
}
WORKLOADS = ("interactive", "corpus")


def run_record(args, sentinel_before: float, sentinel_after: float, extra: dict) -> dict:
    return {
        "record": {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "host.sentinel_s": (sentinel_before + sentinel_after) / 2,
            "host.sentinel_before_s": sentinel_before,
            "host.sentinel_after_s": sentinel_after,
            "spark.slots": args.slots,
            "spark.shuffle_partitions": args.slots,
            "nproc": len(os.sched_getaffinity(0)),
            **extra,
        }
    }


def measure(args) -> tuple[dict, dict]:
    """One run: (record, result line)."""
    import workloads as W

    before = W.sentinel_s()
    if args.trace:
        import trace_run

        metrics, attempted, failed, extra = trace_run.run(
            args.workload, ROOT, DATA, args.seed, args.seconds, args.slots
        )
        after = W.sentinel_s()
        metrics["host.sentinel_s"] = ((before + after) / 2, "s")
        correct = failed == 0
    else:
        runner = {"interactive": W.run_interactive, "corpus": W.run_corpus}[args.workload]
        res = runner(ROOT, DATA, args.seed, args.seconds, args.slots)
        after = W.sentinel_s()
        values = W.end_to_end(res)
        metrics = {k: (values[k], END_TO_END[k]) for k in END_TO_END}
        attempted, failed = len(res.ok), res.ok.count(False)
        correct = failed == 0 and res.warmup_failed == 0
        extra = {
            "failed_ratio": failed / attempted,
            "warmup_failed": res.warmup_failed,
            "rounds": len(res.rounds()),
            # the last warm-up round: one op of each kind, so its median
            # is latency_p50_s's statistic over that round
            "warmup_tail_p50_s": statistics.median(res.warmup[-res.per_round:]),
            "warmup_ops": len(res.warmup),
            "warmup_s": [round(x, 3) for x in res.warmup],
            "round_s": [round(x, 3) for x in res.rounds()],
        }
    record = run_record(args, before, after, extra)
    line = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return record, line


def report(args) -> int:
    """Steadiness mode: N runs, each end-to-end metric's quartiles and
    spread against its bound."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    runs = []
    for i in range(args.report):
        cmd = [
            sys.executable, __file__, "--workload", args.workload,
            "--seed", str(args.seed + i), "--seconds", str(args.seconds),
            "--trace", "0", "--slots", str(args.slots),
        ]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
        lines = out.stdout.strip().splitlines()
        record, line = json.loads(lines[-2])["record"], json.loads(lines[-1])
        runs.append((record, line))
        print(json.dumps({"seed": args.seed + i, "failed": line["failed"],
                          **{k: round(v["value"], 4) for k, v in line["metrics"].items()},
                          "sentinel_s": round(record["host.sentinel_s"], 4),
                          "warmup_tail_p50_s": round(record["warmup_tail_p50_s"], 4)}),
              flush=True)
    print(f"{'metric':<16}{'median':>10}{'q1':>10}{'q3':>10}{'spread':>9}{'bound':>8}")
    for name in END_TO_END:
        vals = [line["metrics"][name]["value"] for _, line in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        flag = "" if spread <= bounds.get(name, 0) / 3 else "  <- above bound/3"
        print(f"{name:<16}{med:>10.4f}{q1:>10.4f}{q3:>10.4f}{spread:>9.3f}"
              f"{bounds.get(name, float('nan')):>8.2f}{flag}")
    warm = statistics.median(r["warmup_tail_p50_s"] for r, _ in runs)
    meas = statistics.median(line["metrics"]["latency_p50_s"]["value"] for _, line in runs)
    print(f"last warm-up window p50 {warm:.4f} s vs measured latency_p50_s {meas:.4f} s")
    print(f"failed ops: {sum(line['failed'] for _, line in runs)}")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--slots", type=int, default=2,
                    help="Spark local slots; shuffle partitions are set equal")
    ap.add_argument("--report", type=int, default=0, metavar="N",
                    help="steadiness mode: run the workload N times")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "miso_spark", "__init__.py")):
        print(f"perfbench: no miso_spark package under {ROOT}", file=sys.stderr)
        return 2
    args.slots = max(1, min(args.slots, len(os.sched_getaffinity(0))))
    sys.path[:0] = [HERE, ROOT]
    os.makedirs(DATA, exist_ok=True)
    if args.report:
        return report(args)
    # Spark scratch space of an earlier run in this checkout
    shutil.rmtree(os.path.join(DATA, "spark-local"), ignore_errors=True)
    record, line = measure(args)
    print(json.dumps(record))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
