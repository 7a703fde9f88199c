#!/usr/bin/env python3
"""The repository benchmark: one named workload per invocation, in a fresh
process, as one closed-loop client on ``local[<cores>]``.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads are frozen in ``perfbench/workloads.json``. An *op* is one query
key (``registry[key].builder(spark, sf_dir)`` then a ``noop``-sink save,
as ``bench.py`` times it) or one daily ETL load
(``examples/etl_pipeline.run_resumable``). A *pass* runs every op once; the
first pass in the session is *cold*, later ones are *warm*. After the cold
pass, warm passes run until ``--seconds`` of measuring have passed (at
least ``min_warm_passes`` of them).

Inputs are generated from ``--seed`` before any timing starts. Outputs are
checked against independent DuckDB oracles after the timed region. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics of ``BENCHMARK.json``
with ``--trace 0``, its per-layer metrics with ``--trace 1`` (Spark event
log on, every timed phase tagged with a job group; one JSONL record per op
is written under ``.perfbench/out/``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
REQUIRED = (
    "BENCHMARK.json",
    "ai_to_cvent_etl_spark/registry.py",
    "examples/etl_pipeline.py",
    "tests/harness.py",
)


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def tail_percentile(n_min: int) -> int | None:
    """Highest whole percentile that leaves at least ten of ``n_min`` sorted
    samples beyond it (nearest-rank), or None below eleven samples."""
    if n_min < 11:
        return None
    return int(100 * (n_min - 11) / (n_min - 1))


def percentile(values: list[float], p: int) -> float:
    s = sorted(values)
    return s[int(p / 100 * (len(s) - 1))]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def calibrate(spark) -> tuple[float, float]:
    """bench.py's two fixed host-speed jobs: a pure-Python loop and a fixed
    JVM-side Spark aggregation."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(10_000_000):
        acc = (acc + i * i) % 1_000_003
    calib_py = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark.range(0, 20_000_000, 1, 32).selectExpr(
        "id % 97 AS k", "id * 2654435761 % 1000003 AS v"
    ).groupBy("k").sum("v").write.format("noop").mode("overwrite").save()
    return calib_py, time.perf_counter() - t0


class Bench:
    """One workload run: inputs, session, timed passes, checks, metrics."""

    def __init__(self, name: str, wl: dict, args: argparse.Namespace, work: str):
        self.name = name
        self.wl = wl
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.events_dir = os.path.join(work, "eventlog")
        self.cores = len(os.sched_getaffinity(0))
        self.ops: list[dict] = []  # one record per timed op
        self.layer: dict[str, float] = {}  # setup-phase spans
        self.spark = None
        self.registry = None
        self._op = None  # record of the op in flight (connector spans)
        self.frames: dict = {}  # key -> DataFrame its last timed op built

    # -- inputs ---------------------------------------------------------

    def prepare(self) -> None:
        import datagen

        self.data_dir = os.path.join(self.work, "data")
        tables = datagen.build_tables(self.seed, self.wl["sf"])
        if self.wl["kind"] == "etl":
            cuts = datagen.daily_cutoffs(self.seed, self.wl["days"])
            self.day_dirs = datagen.write_daily_snapshots(
                tables["events"], cuts, os.path.join(self.work, "days")
            )
            tables = {"lineitem": tables["lineitem"]}  # warm-up scan input
        datagen.write_tables(tables, self.data_dir)

    def environment(self) -> None:
        """Keep every file Spark, its JVM and Python workers write inside
        the run's work directory; turn the event log on for traced runs."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(self.cores))
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}"]
        if self.trace:
            os.makedirs(self.events_dir, exist_ok=True)
            for conf in (
                "spark.eventLog.enabled=true",
                f"spark.eventLog.dir=file://{self.events_dir}",
                "spark.eventLog.compress=false",
            ):
                submit += ["--conf", conf]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])

    # -- session --------------------------------------------------------

    def group(self, gid: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(gid, gid)

    def setup(self) -> None:
        """Timed set-up, as bench.py pays it: session, registry, worker zip
        ship, warm-up scan."""
        t0 = time.perf_counter()
        from ai_to_cvent_etl_spark.session import ensure_worker_imports, get_spark

        self.spark = get_spark(app_name="perfbench", shuffle_partitions=32)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        from ai_to_cvent_etl_spark.registry import load_registry

        self.registry = load_registry()
        t2 = time.perf_counter()
        ensure_worker_imports(self.spark)
        t3 = time.perf_counter()
        self.group("setup")
        self.spark.read.parquet(os.path.join(self.data_dir, "lineitem.parquet")).write.format(
            "noop"
        ).mode("overwrite").save()
        t4 = time.perf_counter()
        self.layer.update(
            {
                "session.get_spark_s": t1 - t0,
                "registry.load_s": t2 - t1,
                "session.ship_s": t3 - t2,
                "setup_s": t4 - t0,
            }
        )

    def jvm_peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        try:
            with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024
        except (AttributeError, OSError):
            pass
        return 0.0

    def stop(self) -> None:
        """Stop Spark, then the JVM it launched, and wait for it to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            self.spark = None
            if gateway is not None:
                SparkContext._gateway = None
                SparkContext._jvm = None
                gateway.shutdown()
                proc = gateway.proc
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()

    # -- ops ------------------------------------------------------------

    def op_names(self) -> list[str]:
        if self.wl["kind"] == "etl":
            return [f"day{d:02d}" for d in range(1, self.wl["days"] + 1)]
        return self.wl["exec_keys"] + self.wl["driver_keys"]

    def run_op(self, pass_idx: int, idx: int, name: str) -> dict:
        gid = f"p{pass_idx}:{name}"
        rec = {"pass": pass_idx, "op": name, "gid": gid, "build_s": 0.0, "error": None}
        t0 = time.perf_counter()
        try:
            if self.wl["kind"] == "etl":
                import etl_pipeline

                self._op = rec
                rec.update(rest_write_s=0.0, parquet_write_s=0.0)
                self.group(f"{gid}:load")
                etl_pipeline.run_resumable(
                    self.day_dirs[idx], self.pass_dir(pass_idx), name
                )
                rec["exec_s"] = time.perf_counter() - t0
            else:
                self.group(f"{gid}:build")
                df = self.registry[name].builder(self.spark, self.data_dir)
                self.frames[name] = df  # the check re-executes the last one built
                t1 = time.perf_counter()
                self.group(f"{gid}:exec")
                df.write.format("noop").mode("overwrite").save()
                rec["build_s"] = t1 - t0
                rec["exec_s"] = time.perf_counter() - t1
        except Exception as exc:  # a failing op counts as failed, the run goes on
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"perfbench: {name} failed:\n{traceback.format_exc()}", file=sys.stderr)
        rec["op_s"] = time.perf_counter() - t0
        self._op = None
        return rec

    def pass_dir(self, pass_idx: int) -> str:
        return os.path.join(self.work, "etl", f"pass{pass_idx}")

    @contextlib.contextmanager
    def connector_span(self, kind: str):
        """Time one connector call inside the ETL op in flight and tag its
        Spark jobs with their own job group."""
        rec = self._op
        self.group(f"{rec['gid']}:{kind}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            rec[f"{kind}_write_s"] += time.perf_counter() - t0
            self.group(f"{rec['gid']}:load")

    def trace_connectors(self) -> None:
        """Wrap the two connector calls the daily load makes; the example
        imports them at call time, so patching the package attributes is
        enough."""
        from ai_to_cvent_etl_spark import connectors
        from ai_to_cvent_etl_spark.connectors import rest

        write_rest = rest.RestBatchSink.write
        write_parquet = connectors.write_parquet
        bench = self

        def traced_rest(sink, df):
            with bench.connector_span("rest"):
                write_rest(sink, df)

        def traced_parquet(df, path, *a, **kw):
            with bench.connector_span("parquet"):
                write_parquet(df, path, *a, **kw)

        rest.RestBatchSink.write = traced_rest
        connectors.write_parquet = traced_parquet

    def measure(self) -> None:
        """Cold pass, then warm passes until the measuring time is spent."""
        names = self.op_names()
        self.pass_s: list[float] = []
        t_start = time.perf_counter()
        deadline = t_start + self.seconds
        p = 0
        while True:
            t0 = time.perf_counter()
            for i, name in enumerate(names):
                self.ops.append(self.run_op(p, i, name))
            now = time.perf_counter()
            self.pass_s.append(now - t0)
            p += 1
            warm_done = p - 1
            if warm_done >= self.wl["min_warm_passes"] and now + self.pass_s[-1] > deadline:
                break
        self.measure_s = time.perf_counter() - t_start

    # -- checks ---------------------------------------------------------

    def check(self) -> None:
        """Check every output once, outside the timed region; record result
        rows per op (query keys) or records landed (ETL loads)."""
        self.group("check")
        self.problems: dict[str, list[str]] = {}
        rows: dict[str, int] = {}
        if self.wl["kind"] == "etl":
            import checks
            from ai_to_cvent_etl_spark.connectors.rest import read_idempotent_output

            oracle = checks.EtlOracle(self.day_dirs)
            for rec in self.ops:
                if rec["error"]:
                    continue
                out = self.pass_dir(rec["pass"])
                batches = read_idempotent_output(os.path.join(out, "rest"), rec["op"])
                day = int(rec["op"][3:]) - 1
                problems = oracle.check_day(day, batches, out, rec["op"])
                rec["rows"] = sum(b["n_records"] for b in batches)
                rec["rest_batches"] = len(batches)
                rec["rest_retried_batches"] = sum(b["attempt_number"] > 0 for b in batches)
                rec["parquet_bytes"] = dir_bytes(
                    os.path.join(out, "staging", f"v_{rec['op']}")
                )
                if problems:
                    self.problems[f"p{rec['pass']}:{rec['op']}"] = problems
        else:
            import checks
            from harness import duck_con

            con = duck_con(self.data_dir)
            for key in self.op_names():
                spec = self.registry[key]
                try:
                    if key not in self.frames:
                        raise RuntimeError("every timed op of this key raised")
                    rows[key], problems = checks.check_query(self.frames[key], spec.oracle, con)
                except Exception as exc:
                    rows[key], problems = 0, [f"check raised {type(exc).__name__}: {exc}"[:500]]
                if problems:
                    self.problems[key] = problems
            con.close()
            for rec in self.ops:
                rec["rows"] = rows[rec["op"]]
        for rec in self.ops:
            label = rec["op"] if self.wl["kind"] != "etl" else f"p{rec['pass']}:{rec['op']}"
            rec["ok"] = rec["error"] is None and label not in self.problems
            rec.setdefault("rows", 0)

    # -- metrics --------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        warm = [r for r in self.ops if r["pass"] > 0]
        # A warm pass is each op's median warm latency summed over the pass:
        # the median pass, robust to one op's hiccup in an otherwise fast pass.
        warm_pass = sum(
            statistics.median(r["op_s"] for r in warm if r["op"] == name)
            for name in self.op_names()
        )
        rows_per_pass = sum(r["rows"] for r in warm if r["ok"]) / (len(self.pass_s) - 1)
        return {
            "setup_s": self.layer["setup_s"],
            "cold_pass_s": self.pass_s[0],
            "warm_pass_s": warm_pass,
            "op_p50_s": statistics.median(r["op_s"] for r in warm),
            "rows_per_s": rows_per_pass / warm_pass,
        }

    def tail(self) -> tuple[int | None, float | None, int]:
        warm_s = [r["op_s"] for r in self.ops if r["pass"] > 0]
        p = tail_percentile(self.wl["min_warm_passes"] * len(self.op_names()))
        return p, (percentile(warm_s, p) if p is not None else None), len(warm_s)

    def per_layer(self, groups: dict[str, dict], e2e: dict[str, float]) -> dict[str, float]:
        """Per warm pass: spans timed here plus task metrics from the event
        log, attributed to the op phase that ran them. A time a workload
        cannot spend (no builder call in a daily load, no connector call in
        a query) is given as a share of op time, so no time reads 0 by
        construction."""
        import eventlog

        warm = [r for r in self.ops if r["pass"] > 0]
        n_pass = len(self.pass_s) - 1
        zero = dict.fromkeys(eventlog.COUNTERS, 0)

        def total(phases: tuple[str, ...]) -> dict[str, float]:
            out = dict(zero)
            for rec in warm:
                for ph in phases:
                    g = groups.get(f"{rec['gid']}:{ph}", zero)
                    for c in eventlog.COUNTERS:
                        if c == "max_task_input_records":
                            out[c] = max(out[c], g[c])
                        else:
                            out[c] += g[c]
            return out

        etl = self.wl["kind"] == "etl"
        ex = total(("load", "rest", "parquet") if etl else ("exec",))
        bd = total(("build",))
        build_s = sum(r["build_s"] for r in warm)
        exec_s = sum(r.get("exec_s", 0) for r in warm)
        op_s = sum(r["op_s"] for r in warm)

        def build_share(keys) -> float:
            recs = [r for r in warm if r["op"] in keys]
            b = sum(r["build_s"] for r in recs)
            e = sum(r.get("exec_s", 0) for r in recs)
            return b / (b + e) if b + e else 0.0

        shares = []
        for rec in warm:
            phases = ("load", "rest", "parquet") if etl else ("build", "exec")
            gs = [groups.get(f"{rec['gid']}:{ph}", zero) for ph in phases]
            recs = sum(g["input_records"] for g in gs)
            if recs:
                shares.append(max(g["max_task_input_records"] for g in gs) / recs)
        io = {c: bd[c] + ex[c] for c in ("input_records", "input_bytes", "scan_tasks")}
        m = {
            "session.get_spark_s": self.layer["session.get_spark_s"],
            "session.ship_s": self.layer["session.ship_s"],
            "session.jvm_peak_rss_mb": self.jvm_rss_mb,
            "registry.load_s": self.layer["registry.load_s"],
            "queries.build_jobs": bd["jobs"] / n_pass,
            "queries.build_share": build_s / (build_s + exec_s) if build_s + exec_s else 0.0,
            "queries.build_share.driver_keys": build_share(self.wl.get("driver_keys", ())),
            "queries.build_share.exec_keys": build_share(self.wl.get("exec_keys", ())),
            "ops.pass_s": (build_s + exec_s) / n_pass,
            "ops.accounted_share": (build_s + exec_s) / op_s,
            "exec.s": exec_s / n_pass,
            "exec.jobs": ex["jobs"] / n_pass,
            "exec.stages": ex["stages"] / n_pass,
            "exec.tasks": ex["tasks"] / n_pass,
            "exec.task_run_ms": ex["task_run_ms"] / n_pass,
            "exec.task_cpu_ms": ex["task_cpu_ms"] / n_pass,
            "exec.gc_share": ex["gc_ms"] / ex["task_run_ms"] if ex["task_run_ms"] else 0.0,
            "exec.offcpu_ms": (ex["task_run_ms"] - ex["task_cpu_ms"]) / n_pass,
            "exec.shuffle_write_bytes": ex["shuffle_write_bytes"] / n_pass,
            "exec.shuffle_read_bytes": ex["shuffle_read_bytes"] / n_pass,
            "exec.spill_bytes": ex["spill_bytes"] / n_pass,
            "exec.idle_core_share": 1.0 - ex["task_run_ms"] / 1000 / (exec_s * self.cores),
            "io.input_records": io["input_records"] / n_pass,
            "io.input_bytes": io["input_bytes"] / n_pass,
            "io.scan_tasks": io["scan_tasks"] / n_pass,
            "io.max_task_input_share": statistics.mean(shares) if shares else 0.0,
            "connectors.rest_write_share": sum(r.get("rest_write_s", 0) for r in warm) / op_s,
            "connectors.rest_records": sum(r["rows"] for r in warm if etl) / n_pass,
            "connectors.rest_batches": sum(r.get("rest_batches", 0) for r in warm) / n_pass,
            "connectors.rest_retried_batches": sum(
                r.get("rest_retried_batches", 0) for r in warm
            ) / n_pass,
            "connectors.parquet_write_share": sum(r.get("parquet_write_s", 0) for r in warm)
            / op_s,
            "connectors.parquet_bytes": sum(r.get("parquet_bytes", 0) for r in warm) / n_pass,
        }
        m.update({f"traced.{k}": v for k, v in e2e.items()})
        return m

    def op_records(self, groups: dict[str, dict]) -> list[dict]:
        """One JSONL record per op: its spans and the Spark counters of each
        of its phases."""
        out = []
        for rec in self.ops:
            phases = {
                g[len(rec["gid"]) + 1 :]: counters
                for g, counters in groups.items()
                if g.startswith(rec["gid"] + ":")
            }
            out.append({"workload": self.name, "seed": self.seed, **rec, "phases": phases})
        return out


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench_spec = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(workloads)}",
              file=sys.stderr)
        return 2
    for p in (HERE, ROOT, os.path.join(ROOT, "tests"), os.path.join(ROOT, "examples")):
        sys.path.insert(0, p)

    # A run killed with SIGTERM still stops Spark and removes its work dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(STATE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    bench = Bench(args.workload, workloads[args.workload], args, work)
    phase_s = {}
    try:
        t0 = time.perf_counter()
        bench.prepare()
        bench.environment()
        if bench.trace and bench.wl["kind"] == "etl":
            bench.trace_connectors()
        phase_s["inputs"] = time.perf_counter() - t0
        bench.setup()
        bench.measure()
        t0 = time.perf_counter()
        bench.check()
        phase_s["check"] = time.perf_counter() - t0
        bench.group("calib")
        calib_py, calib_spark = calibrate(bench.spark)
        bench.jvm_rss_mb = bench.jvm_peak_rss_mb()
        t0 = time.perf_counter()
        bench.stop()
        phase_s["stop"] = time.perf_counter() - t0
        groups = {}
        if bench.trace:
            import eventlog

            groups = eventlog.group_metrics(eventlog.find_log(bench.events_dir))
    finally:
        try:
            bench.stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    e2e = bench.end_to_end()
    failed = sum(not r["ok"] for r in bench.ops)
    attempted = len(bench.ops)
    p_tail, tail_s, n_warm = bench.tail()
    run_info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": bench.cores,
        "passes": len(bench.pass_s),
        "measure_s": bench.measure_s,
        "phase_s": phase_s,
        "ops_failed_frac": failed / attempted,
        "failed_ops": bench.problems
        | {f"p{r['pass']}:{r['op']}": [r["error"]] for r in bench.ops if r["error"]},
        "op_tail_s": tail_s,
        "op_tail_percentile": p_tail,
        "warm_ops": n_warm,
        "calib_python_s": calib_py,
        "calib_spark_s": calib_spark,
        "loadavg": list(os.getloadavg()),
        "end_to_end": e2e,
        "ops": [{k: r[k] for k in ("pass", "op", "build_s", "exec_s", "op_s", "rows", "ok")
                 if k in r} for r in bench.ops],
    }
    if bench.trace:
        wanted = bench_spec["per_layer"]
        values = bench.per_layer(groups, e2e)
        run_info["per_layer"] = values
    else:
        wanted = bench_spec["end_to_end"]
        values = e2e
    out_dir = os.path.join(STATE, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(run_info, f, indent=1)
    if bench.trace:
        with open(stem + ".jsonl", "w") as f:
            for rec in bench.op_records(groups):
                f.write(json.dumps(rec) + "\n")

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"cores={bench.cores}: 1 cold + {len(bench.pass_s) - 1} warm passes of "
          f"{len(bench.op_names())} ops in {bench.measure_s:.1f} s")
    for name, v in e2e.items():
        unit = {m["name"]: m["unit"] for m in bench_spec["end_to_end"]}[name]
        print(f"  {name:<18} {v:12.4f} {unit}")
    if tail_s is not None:
        print(f"  {'op_tail_s':<18} {tail_s:12.4f} s   (p{p_tail} of {n_warm} warm ops)")
    else:
        print(f"  {'op_tail_s':<18} {'n/a':>12}     (fewer than 11 warm ops)")
    print(f"  {'ops_failed_frac':<18} {failed / attempted:12.4f} ratio ({failed} of {attempted})")
    for label, problems in run_info["failed_ops"].items():
        print(f"    FAILED {label}: {problems[0]}")
    print(f"  calib_python_s={calib_py:.3f} calib_spark_s={calib_spark:.3f} "
          f"loadavg={run_info['loadavg']}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
