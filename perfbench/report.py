#!/usr/bin/env python3
"""Where-the-time-goes tables from traced benchmark runs.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0
    python3 perfbench/run.py --workload W --seed N --seconds S --trace 1
    python3 perfbench/report.py --seed N [W ...]  > perfbench/TIMES.md

Reads the run records ``run.py`` leaves in ``.perfbench/out/``. For each
workload it prints the set-up split, the warm pass split by layer, one row
per op (medians over warm passes) and the tracing overhead: the traced run's
end-to-end metrics minus the untraced run's, same seed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(os.path.dirname(HERE), ".perfbench", "out")


def load(workload: str, seed: int, trace: int) -> dict | None:
    path = os.path.join(OUT, f"{workload}-seed{seed}-trace{trace}.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def op_rows(workload: str, seed: int) -> list[dict]:
    with open(os.path.join(OUT, f"{workload}-seed{seed}-trace1.jsonl")) as f:
        return [json.loads(line) for line in f]


def fmt(v: float) -> str:
    return f"{v:,.0f}" if abs(v) >= 1000 else f"{v:.3g}" if v else "0"


def report(workload: str, seed: int) -> list[str]:
    traced = load(workload, seed, 1)
    if traced is None:
        return [f"## {workload}\n", f"(no traced run for seed {seed})\n"]
    plain = load(workload, seed, 0)
    pl = traced["per_layer"]
    e2e = traced["end_to_end"]
    lines = [
        f"## {workload}\n",
        f"Seed {seed}, {traced['cores']} cores, 1 cold + {traced['passes'] - 1} warm passes; "
        f"calib_python_s {traced['calib_python_s']:.2f}, calib_spark_s "
        f"{traced['calib_spark_s']:.2f}, loadavg {traced['loadavg'][0]:.2f}.\n",
        "| part | seconds | share |",
        "|---|---:|---:|",
    ]
    setup = e2e["setup_s"]
    for name in ("session.get_spark_s", "registry.load_s", "session.ship_s"):
        lines.append(f"| set-up: {name} | {pl[name]:.2f} | {pl[name] / setup:.0%} |")
    rest = setup - sum(pl[n] for n in ("session.get_spark_s", "registry.load_s", "session.ship_s"))
    lines.append(f"| set-up: warm-up scan | {rest:.2f} | {rest / setup:.0%} |")
    lines.append(f"| **set-up total (setup_s)** | **{setup:.2f}** | |")
    # Per-layer metrics are means over the warm passes, so their shares are
    # of the mean warm pass (build + exec); warm_pass_s is a median.
    warm = pl["ops.pass_s"]
    parts = [
        ("warm pass: builder calls (plan construction + build-time jobs)", warm - pl["exec.s"]),
        ("warm pass: exec.s (the op's action)", pl["exec.s"]),
    ]
    if pl["connectors.rest_write_share"]:
        parts += [
            ("  of which RestBatchSink.write", pl["connectors.rest_write_share"] * warm),
            ("  of which write_parquet", pl["connectors.parquet_write_share"] * warm),
        ]
    for name, v in parts:
        lines.append(f"| {name} | {v:.2f} | {v / warm:.0%} |")
    lines.append(f"| **mean warm pass (ops.pass_s)** | **{warm:.2f}** | |")
    lines.append(f"| median warm pass (traced warm_pass_s) | {e2e['warm_pass_s']:.2f} | |")
    lines.append(f"| cold pass (traced cold_pass_s) | {e2e['cold_pass_s']:.2f} | |\n")

    lines += [
        "Spark work per warm pass: "
        + ", ".join(
            f"{k.split('.', 1)[1]} {fmt(pl[k])}"
            for k in (
                "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_ms",
                "exec.task_cpu_ms", "exec.offcpu_ms", "exec.gc_share",
                "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.idle_core_share",
                "io.input_records", "io.scan_tasks", "io.max_task_input_share",
            )
        )
        + f"; build-time jobs {fmt(pl['queries.build_jobs'])}; JVM peak RSS "
        f"{pl['session.jvm_peak_rss_mb']:.0f} MB.\n",
        "| op | cold s | warm build s | warm exec s | build share | jobs | tasks "
        "| task run ms | task cpu ms | input records | max task input share |",
        "|---|---:|---:|---:|---:|---:|---:|---:|---:|---:|---:|",
    ]
    by_op: dict[str, list[dict]] = defaultdict(list)
    cold: dict[str, float] = {}
    for r in op_rows(workload, seed):
        if r["pass"] == 0:
            cold[r["op"]] = r["op_s"]
        else:
            by_op[r["op"]].append(r)
    for op, recs in by_op.items():
        med = lambda f: statistics.median(f(r) for r in recs)  # noqa: E731
        tot = lambda r, c: sum(ph[c] for ph in r["phases"].values())  # noqa: E731
        b, e = med(lambda r: r["build_s"]), med(lambda r: r["exec_s"])
        recs_in = med(lambda r: tot(r, "input_records"))
        top = med(lambda r: max((ph["max_task_input_records"] for ph in r["phases"].values()),
                                default=0))
        lines.append(
            f"| {op} | {cold.get(op, 0):.2f} | {b:.3f} | {e:.3f} | {b / (b + e):.0%} "
            f"| {fmt(med(lambda r: tot(r, 'jobs')))} | {fmt(med(lambda r: tot(r, 'tasks')))} "
            f"| {fmt(med(lambda r: tot(r, 'task_run_ms')))} "
            f"| {fmt(med(lambda r: tot(r, 'task_cpu_ms')))} | {fmt(recs_in)} "
            f"| {top / recs_in if recs_in else 0:.2f} |"
        )
    lines.append("")
    if plain is not None:
        lines += [
            "Tracing overhead (traced minus untraced run, same seed):\n",
            "| metric | untraced | traced | difference |",
            "|---|---:|---:|---:|",
        ]
        for k, v in plain["end_to_end"].items():
            t = e2e[k]
            lines.append(f"| {k} | {v:.3f} | {t:.3f} | {(t - v) / v:+.1%} |")
        lines.append("")
    return lines


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("workloads", nargs="*", default=["query_mix", "etl_daily"])
    args = ap.parse_args()
    for w in args.workloads:
        print("\n".join(report(w, args.seed)))


if __name__ == "__main__":
    main()
