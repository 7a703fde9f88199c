#!/usr/bin/env python3
"""Derive the frozen key list of the ``query_mix`` workload.

    python3 perfbench/select_keys.py            # print the selection
    python3 perfbench/select_keys.py --write    # store it in workloads.json

The source is the round-9 build-vs-exec probe of every registry key at sf0.1
(``plans/r09_buildprobe_before*.json``: per key the cold time and the warm
median ``build`` and ``exec`` seconds). ``run.py`` never re-derives the list.

Rule (both halves capped so that one run fits the benchmark's time budget):

* driver-bound half: among keys with build >= exec and build >= 0.5 s, keep
  those whose cold time is <= 1.0 s and take the two with the largest
  build fraction;
* execution half: among the ``q_tpch_*`` keys and ``q_join_star_5way``, the
  two with the smallest build fraction.
"""

from __future__ import annotations

import argparse
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCES = ("plans/r09_buildprobe_before.json", "plans/r09_buildprobe_before_part2.json")
PER_HALF = 2
COLD_CAP_S = 1.0


def load_probe() -> dict[str, dict]:
    probe: dict[str, dict] = {}
    for rel in SOURCES:
        with open(os.path.join(ROOT, rel)) as f:
            probe.update(json.load(f)["queries"])
    return probe


def select(probe: dict[str, dict]) -> dict[str, list[str]]:
    driver = [
        k
        for k, v in probe.items()
        if v["build"] >= v["exec"] and v["build"] >= 0.5 and v["cold"] <= COLD_CAP_S
    ]
    driver.sort(key=lambda k: (-probe[k]["build_frac"], k))
    execution = [k for k in probe if k.startswith("q_tpch_") or k == "q_join_star_5way"]
    execution.sort(key=lambda k: (probe[k]["build_frac"], k))
    return {"driver_keys": driver[:PER_HALF], "exec_keys": execution[:PER_HALF]}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--write", action="store_true", help="update workloads.json")
    args = ap.parse_args()
    chosen = select(load_probe())
    print(json.dumps(chosen, indent=1))
    if args.write:
        path = os.path.join(HERE, "workloads.json")
        with open(path) as f:
            spec = json.load(f)
        spec["workloads"]["query_mix"].update(chosen)
        with open(path, "w") as f:
            json.dump(spec, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
