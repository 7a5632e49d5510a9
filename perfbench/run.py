"""Data-quality benchmark of deequ_spark: closed-loop workloads, one client.

    python3 perfbench/run.py --workload incremental_append --seed 1 \
        --seconds 10 --trace 0

Run from the repository root.  Set-up generates the workload's inputs
from ``--seed`` under ``.perfbench/``, computes expected values with
DuckDB and runs one untimed warm-up op; then the workload's op runs back
to back until ``--seconds`` of op time have passed.  Every op's output
is checked outside the timed region.  ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
alternates untraced and traced ops and reports the per-layer metrics.
``--workload all`` runs every workload in turn (one process each) and
prints one table.  The last stdout line is one JSON object.  See
``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

from counters import Counters, GroupStats, merge  # noqa: E402
from spans import Tracer  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("incremental_append", "profile_suggest", "corpus_chain")
# a performance claim made on the default seed must also hold on the
# held-out seed
DEFAULT_SEED, HELD_OUT_SEED = 1, 7


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED,
                    help=f"input seed (default {DEFAULT_SEED}, held-out "
                    f"{HELD_OUT_SEED})")
    ap.add_argument("--seconds", type=float, default=1.0,
                    help="op time to measure; at least one op runs")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def start_spark(work: str, nproc: int):
    """SparkSession on local[nproc]; every file Spark, the JVM and the
    Python workers write goes under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the package from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYTHONHASHSEED"] = "0"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder
             .master(f"local[{nproc}]")
             .appName("deequ-spark-perfbench")
             .config("spark.sql.shuffle.partitions", str(nproc))
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", "2g")
             .config("spark.local.dir", os.path.join(work, "spark-local"))
             .config("spark.sql.warehouse.dir",
                     os.path.join(work, "warehouse"))
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()      # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """One workload in one process: set-up, warm-up, the timed loop."""

    def __init__(self, args):
        self.args = args
        self.nproc = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".perfbench",
                                 f"work-{args.workload}-{os.getpid()}")
        self.ops = []          # untraced ops
        self.attempted = self.failed = 0
        self.known_failures = 0

    def run_op(self, i: int, traced: bool):
        """Run op ``i``; returns its record (timing, counters, outcome)."""
        w, counters = self.workload, self.counters
        rec = {"i": i, "rows": w.rows(i), "errors": [],
               "stats": GroupStats()}
        t0 = time.perf_counter()
        try:
            w.prepare(i, "traced" if traced else "plain")
            t0 = time.perf_counter()
            if traced:
                self.tracer.op = i
                res = w.traced_op(i, self.tracer)
                rec["t"] = self.tracer.spans[
                    self.tracer.per_op("op")[i][0]].duration
            else:
                with counters.group(f"op{i}") as gid:
                    res = w.op(i)
                    rec["t"] = time.perf_counter() - t0
                rec["stats"] = counters.read(gid)
            rec["errors"] = self.check(i, res)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted
            # a failed op's time runs until it raised, so the loop ends
            rec.setdefault("t", time.perf_counter() - t0)
            rec["errors"].append(f"raised {type(exc).__name__}: {exc}")
            traceback.print_exc(file=sys.stderr)
        rec["blocks"] = counters.retained_blocks()
        self.attempted += 1
        if rec["errors"]:
            self.failed += 1
            print(f"# op {i} failed: {rec['errors'][:3]}", file=sys.stderr)
        return rec

    def check(self, i, res):
        self.known_failures = self.workload.known_failures(res)
        return self.workload.check(i, res)

    def main(self) -> dict:
        args = self.args
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        from workloads import WORKLOADS
        self.workload = WORKLOADS[args.workload](
            args.seed, os.path.join(self.work, "w"))
        generated = {}

        def generate():
            try:
                self.workload.generate()
            except Exception as exc:  # noqa: BLE001 — re-raised below
                generated["error"] = exc

        # the inputs and their expected values need no Spark: they are
        # made while the JVM starts
        maker = threading.Thread(target=generate)
        maker.start()
        try:
            self.spark = start_spark(self.work, self.nproc)
        finally:
            maker.join()
        if "error" in generated:
            stop_spark(self.spark)
            raise generated["error"]
        phases = {"session_and_inputs_s": time.perf_counter() - T_START}
        try:
            self.counters = Counters(self.spark.sparkContext)
            self.tracer = Tracer(self.counters)
            self.workload.setup(self.spark)
            self.workload.prepare(0)
            phases["setup_and_history_s"] = (time.perf_counter() - T_START
                                             - sum(phases.values()))
            # one untimed op: the first op of a Spark application pays
            # one-off costs (JIT, code generation, Python worker start)
            # that the timed ops must not
            self.warm = self.run_op(0, traced=False)
            setup_s = time.perf_counter() - T_START
            phases["warm_up_op_s"] = setup_s - sum(phases.values())
            report = (self.traced_loop() if args.trace
                      else self.plain_loop(setup_s))
            report["peak_rss_mb"] = (
                vm_hwm_mb("self") + vm_hwm_mb(self._jvm_pid()))
            # known-defect probe, after the timed ops and the memory read
            report["states.same_path_failures"] = (
                self.workload.same_path_failures()
                if self.workload.name == "incremental_append" else 0)
        finally:
            env = self.environment()
            stop_spark(self.spark)
            shutil.rmtree(self.work, ignore_errors=True)
        report["env"] = env
        report["setup_phases"] = phases
        return report

    def _jvm_pid(self):
        from pyspark import SparkContext
        return SparkContext._gateway.proc.pid

    def plain_loop(self, setup_s: float) -> dict:
        i, busy = 1, 0.0
        while busy < self.args.seconds:
            rec = self.run_op(i, traced=False)
            self.ops.append(rec)
            busy += rec["t"]
            i += 1
        ops = self.ops
        t = [r["t"] for r in ops]
        rows = sum(r["rows"] for r in ops)
        out = {
            "setup_s": setup_s,
            "op_p50_s": median(t),
            "op_tail_s": max(t),
            "rows_per_s": rows / sum(t),
            "executor_cpu_s_per_op": median(
                [r["stats"].executor_cpu_s for r in ops]),
            "corpus_passes_per_op": median(
                [r["stats"].input_records / r["rows"] for r in ops]),
            "failed_op_share": self.failed / self.attempted,
            "retained_blocks": ops[-1]["blocks"],
            "n_ops": len(ops),
            "blocks_after_warm_up": self.warm["blocks"],
            "blocks_after_each_op": [r["blocks"] for r in ops],
            "jobs_per_op": [r["stats"].jobs for r in ops],
            "shuffle_write_bytes_per_op": [r["stats"].shuffle_write_bytes
                                           for r in ops],
        }
        out["known_failures_last_op"] = self.known_failures
        return out

    def traced_loop(self) -> dict:
        """After the warm-up op, traced and untraced ops alternate in one
        JVM.  The traced op of each pair runs first, so warm-up still in
        progress counts against tracing: ``trace.overhead_s`` is an upper
        bound."""
        plain, traced, i, busy = [], [], 1, 0.0
        while busy < self.args.seconds or not traced:
            for is_traced in (True, False):
                rec = self.run_op(i, traced=is_traced)
                (traced if is_traced else plain).append(rec)
                busy += rec["t"]
            i += 1
        tr = self.tracer
        ops = sorted(tr.per_op("op"))
        out = layer_metrics(tr, ops, self.workload, self.nproc)
        out["trace.overhead_s"] = (median([r["t"] for r in traced])
                                   - median([r["t"] for r in plain]))
        # whole-op Spark counters and driver gaps, from the untraced ops
        wall = [r["t"] for r in plain]
        stats = [r["stats"] for r in plain]
        run_s = [s.executor_run_s for s in stats]
        out.update({
            "spark.tasks": median([s.tasks for s in stats]),
            "spark.executor_run_s": median(run_s),
            "spark.parallelism": median([r / (w * self.nproc)
                                         for r, w in zip(run_s, wall)]),
            "spark.shuffle_write_bytes": median(
                [s.shuffle_write_bytes for s in stats]),
            "spark.spill_bytes": median([s.spill_bytes for s in stats]),
            "spark.retained_blocks": max(r["blocks"] for r in plain),
            "driver.gap_s": median([w - s.covered_s()
                                    for w, s in zip(wall, stats)]),
        })
        w = self.workload
        os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
        tr.dump(os.path.join(ROOT, ".perfbench",
                             f"spans-{w.name}-seed{self.args.seed}.jsonl"))
        out["span_table"] = span_table(tr)
        return out

    def environment(self) -> dict:
        import pyspark
        sc = self.spark.sparkContext
        return {
            "nproc": self.nproc, "python": platform.python_version(),
            "spark": pyspark.__version__,
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
            "spark_conf": {k: v for k, v in sc.getConf().getAll()
                           if k.startswith("spark.") and "dir" not in k
                           and not k.startswith("spark.app.")
                           and k not in ("spark.driver.host",
                                         "spark.driver.port")},
        }


# span name -> metric name of its per-op self time
SPAN_TIME_METRICS = {
    "runners": "runners.s",
    "analyzers.scan": "analyzers.scan.s",
    "analyzers.grouping": "analyzers.grouping.s",
    "analyzers.kll": "analyzers.kll.s",
    "checks.evaluate": "checks.evaluate_s",
    "states.persist": "states.persist_s",
    "states.load": "states.load_s",
    "states.merge": "states.merge_s",
    "repository.save": "repository.save_s",
    "repository.load": "repository.load_s",
    "anomaly.detect": "anomaly.detect_s",
    "profiles": "profiles.s",
    "suggestions.rules": "suggestions.rules_s",
    "suggestions.evaluate": "suggestions.evaluate_s",
    "llm.text": "llm.text.s",
    "llm.dedup": "llm.dedup.s",
    "llm.semdedup": "llm.semdedup.s",
    "llm.packing": "llm.packing.s",
}


def layer_metrics(tr, ops, workload, nproc) -> dict:
    """Per-layer metrics: each is the median over traced ops of the op's
    value; a layer the workload never calls reads 0."""
    def per_op(name, fn):
        by_op = tr.per_op(name)
        return median([fn(by_op.get(op, [])) for op in ops])

    def self_s(idx):
        return sum(tr.self_time(i) for i in idx)

    def stats(idx):
        return merge([tr.spans[i].stats for i in idx])

    rows = {op: workload.rows(op) for op in ops}
    out = {metric: per_op(name, self_s)
           for name, metric in SPAN_TIME_METRICS.items()}
    by_op = tr.per_op("runners")
    run_stats = [stats(by_op.get(op, [])) for op in ops]
    out["runners.jobs"] = median([s.jobs for s in run_stats])
    out["runners.stages"] = median([s.stages for s in run_stats])
    out["runners.overlap"] = median([s.overlap() for s in run_stats])
    for name in ("analyzers.scan", "analyzers.grouping", "profiles"):
        by_op = tr.per_op(name)
        st = {op: stats(by_op.get(op, [])) for op in ops}
        passes = median([st[op].input_records / rows[op] for op in ops])
        if name == "analyzers.scan":
            out[name + ".input_records"] = median(
                [s.input_records for s in st.values()])
            continue
        out[name + ".jobs"] = median([s.jobs for s in st.values()])
        out[name + ".passes"] = passes
        if name == "analyzers.grouping":
            out[name + ".shuffle_write_bytes"] = median(
                [s.shuffle_write_bytes for s in st.values()])
            out[name + ".spill_bytes"] = median(
                [s.spill_bytes for s in st.values()])
    # bytes of the merged states the op saved
    out["states.bytes_on_disk"] = median(
        [getattr(workload, "state_bytes", {}).get(op, 0) for op in ops])
    pipe, stages = tr.per_op("llm.pipeline"), [
        tr.per_op(n) for n in ("llm.text", "llm.dedup", "llm.semdedup",
                               "llm.packing")]
    out["llm.pipeline.cross_stage_s"] = median([
        sum(tr.spans[i].duration for i in pipe.get(op, []))
        - sum(tr.spans[i].duration for s in stages for i in s.get(op, []))
        for op in ops]) if pipe else 0.0
    out["llm.pipeline.retained_blocks"] = median(
        [getattr(workload, "pipeline_blocks", {}).get(op, 0) for op in ops])
    return out


def span_table(tr) -> dict:
    """Per span name: spans per op, median total and self seconds."""
    ops = sorted(tr.per_op("op"))
    out = {}
    for name in sorted({s.name for s in tr.spans}):
        by_op = tr.per_op(name)
        out[name] = {
            "per_op": median([len(by_op.get(op, [])) for op in ops]),
            "total_s": median([sum(tr.spans[i].duration
                                   for i in by_op.get(op, []))
                               for op in ops]),
            "self_s": median([sum(tr.self_time(i) for i in by_op.get(op, []))
                              for op in ops]),
        }
    return out


END_TO_END_UNITS = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s",
                    "rows_per_s": "rows/s", "executor_cpu_s_per_op": "s",
                    "corpus_passes_per_op": "1", "failed_op_share": "1",
                    "retained_blocks": "count", "peak_rss_mb": "MB"}


def bench_metrics(trace: int):
    """Metric names and units of BENCHMARK.json for one mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def print_report(name: str, report: dict, trace: int) -> None:
    n = report.get("n_ops")
    print(f"# workload {name}  seed {report['seed']}  trace {trace}  "
          f"correct {report['correct']}  attempted {report['attempted']}  "
          f"failed {report['failed']}")
    if trace:
        print("# span                      per_op   total_s    self_s")
        for span, row in report["span_table"].items():
            print(f"#   {span:24s} {row['per_op']:6g} {row['total_s']:9.4f} "
                  f"{row['self_s']:9.4f}")
        for k in sorted(bench_metrics(1)):
            print(f"#   {k:34s} {report[k]!r}")
    else:
        for k, unit in END_TO_END_UNITS.items():
            samples = 1 if k in ("setup_s", "peak_rss_mb",
                                 "retained_blocks") else n
            print(f"#   {k:24s} {report[k]!r:>24} {unit:7s} n={samples}")
        if name == "incremental_append":
            # the known same-path defect, probed after the timed ops
            print(f"#   same_path_failures {report['states.same_path_failures']}"
                  " Failure metrics (do_analysis_run(aggregate_with=p,"
                  " save_states_with=p), second delta)")
        for k in ("blocks_after_warm_up", "blocks_after_each_op",
                  "jobs_per_op",
                  "shuffle_write_bytes_per_op", "known_failures_last_op"):
            if k in report:
                print(f"#   {k}: {report[k]}")
    print(f"# setup phases {json.dumps(report['setup_phases'])}")
    print(f"# env {json.dumps(report['env'], sort_keys=True)}")


def run_all(args) -> int:
    """``--workload all``: each workload in its own process, one table."""
    results = {}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode != 0 or not lines:
            print(f"# workload {name} exited with {proc.returncode}")
            return 1
        results[name] = json.loads(lines[-1])
    print(json.dumps(results, sort_keys=True))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, ROOT)
    try:
        import deequ_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import deequ_spark from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    run = Run(args)
    report = run.main()
    report.update(seed=args.seed, attempted=run.attempted,
                  failed=run.failed, correct=run.failed == 0)
    print_report(args.workload, report, args.trace)
    units = bench_metrics(args.trace)
    print(json.dumps({
        "correct": report["correct"], "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {k: {"value": report[k], "unit": u}
                    for k, u in units.items()}}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
