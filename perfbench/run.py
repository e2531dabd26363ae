"""Benchmark entry point.

    python3 perfbench/run.py --workload epss-daily --seed 1 --seconds 15 --trace 0

Run from the repository root. One driver process, one closed-loop client,
Spark on local[N] with N = the CPUs this process may use. Inputs are
generated from the seed (cached under .perfbench/ in the repository root)
before anything is timed. The run then:

1. starts the SparkSession and loads the registry, then restarts both a
   few times and reports the median as setup_s;
2. runs two discarded warm-up passes: the cold JVM (class loading, codegen,
   Python workers), then one for JIT;
3. measures passes for --seconds seconds (at least two). With --trace 1
   the time is split in thirds: untraced; then, after a session restart with
   the Spark event log on, traced, where every call is a span with its own
   job group; then untraced again after another restart;
4. checks the outputs, and prints a report followed by one JSON line:
   end-to-end metrics with --trace 0, per-layer metrics with --trace 1.

Exits 2 without a result when the engine package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

SETUP_REPEATS = 5
WARMUP_PASSES = 2  # discarded, the cold one included
MIN_PASSES = 2  # per measured phase of an untraced run, whatever --seconds says
QUERY_MODULES = ("epss_spark.queries_core", "epss_spark.queries_domain", "epss_spark.queries_ext")


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prepare_env(n: int) -> None:
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # keep the JVM's scratch files (native-library extraction, perf data)
    # inside the work directory
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions='-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )


class Session:
    """Owns the SparkSession (and the JVM behind it) for one run."""

    def __init__(self, n: int):
        self.master = f"local[{n}]"
        self.spark = None

    def start(self) -> tuple[float, float]:
        """(session start seconds, registry load seconds)."""
        from epss_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=self.master)
        t1 = time.perf_counter()
        from epss_spark import registry

        if registry._LOADED:
            # re-import the query modules so every repeat pays registration
            for m in QUERY_MODULES:
                sys.modules.pop(m, None)
            registry.QUERIES.clear()
            registry.ORACLES.clear()
            registry._LOADED = False
        registry.load_all()
        t2 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        return t1 - t0, t2 - t1

    def restart(self, event_log: str | None = None) -> tuple[float, float]:
        from pyspark import SparkContext

        self.spark.stop()
        system = SparkContext._jvm.java.lang.System
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            system.setProperty("spark.eventLog.enabled", "true")
            system.setProperty("spark.eventLog.dir", "file://" + event_log)
            system.setProperty("spark.eventLog.compress", "false")
            # one plain file per application, not Spark 4's rolling directory
            system.setProperty("spark.eventLog.rolling.enabled", "false")
        else:
            system.clearProperty("spark.eventLog.enabled")
        return self.start()

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc else None

    def facts(self) -> dict:
        sc = self.spark.sparkContext
        return {
            "nproc": cpus(),
            "master": sc.master,
            "spark": self.spark.version,
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
        }

    def close(self) -> None:
        """Stop Spark, then end the JVM and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:  # never leave the JVM behind
                proc.kill()
                proc.wait()


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set (VmHWM) of each process."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def run_passes(wl, rec, out, seconds: float, min_passes: int = 1) -> int:
    t0 = time.perf_counter()
    n = 0
    while n < min_passes or time.perf_counter() - t0 < seconds:
        if wl.exhausted():
            break
        first = len(rec.top)
        try:
            wl.run_pass(rec, out)
        except Exception:  # a crashed pass counts as failed ops; keep measuring
            out.crash(wl.name)
        # a pass's time is the time of its calls, without the output checks
        rec.samples["pass"].append(sum(rec.top[first:]))
        n += 1
    return n


def overhead_ratio(ops, plain, traced) -> float:
    ops = [o for o in ops if plain.samples[o] and traced.samples[o]]
    base = sum(statistics.median(plain.samples[o]) for o in ops)
    return sum(statistics.median(traced.samples[o]) for o in ops) / base - 1.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("epss-daily", "corpus-operators"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "epss_spark")):
        print(f"perfbench: no epss_spark package under {ROOT}; nothing to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import gen
    import spans
    import workloads

    n = cpus()
    prepare_env(n)
    make_inputs = gen.epss_inputs if args.workload == "epss-daily" else gen.corpus_inputs
    inputs = make_inputs(os.path.join(WORK, "data"), args.seed)
    out_dir = os.path.join(WORK, "out")
    run_dir = os.path.join(WORK, "run", args.workload)
    log_dir = os.path.join(WORK, "eventlog", f"{args.workload}-{args.seed}")
    shutil.rmtree(log_dir, ignore_errors=True)

    sess = Session(n)
    try:
        t0 = time.perf_counter()
        sess.start()
        cold_start = time.perf_counter() - t0
        setups = [sess.restart() for _ in range(SETUP_REPEATS)]
        wl = workloads.WORKLOADS[args.workload](inputs, run_dir)
        wl.bind(sess.spark)
        out = workloads.Outcome()
        warm_rec = spans.Recorder()
        run_passes(wl, warm_rec, out, 0.0, min_passes=WARMUP_PASSES)

        plain = spans.Recorder()
        traced = None
        if args.trace:
            # untraced, traced (event log on), untraced again: comparing the
            # traced phase with both neighbours cancels the warm-up trend
            third = args.seconds / 3
            run_passes(wl, plain, out, third)
            sess.restart(event_log=log_dir)
            wl.bind(sess.spark)
            traced = spans.Recorder(sess.spark, traced=True)
            run_passes(wl, traced, out, third)
            sess.restart()
            wl.bind(sess.spark)
            run_passes(wl, plain, out, third)
        else:
            run_passes(wl, plain, out, args.seconds, min_passes=MIN_PASSES)
        wl.finish(out)
        facts = sess.facts()
        rss = peak_rss_mb([os.getpid(), sess.jvm_pid()])
        sess.spark.stop()
    finally:
        sess.close()

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "facts": facts,
        "cold_start_s": cold_start,
        "peak_rss_mb": rss,
        "setup_samples_s": [a + b for a, b in setups],
        "warmup_pass_s": warm_rec.samples["pass"],
        "cold_ops_s": {k: warm_rec.samples[k][0] for k in wl.top_ops},
        # least-squares slope of the measured passes: below 0, still warming up
        "measured_slope_s_per_pass": slope(plain.samples["pass"]),
        "errors": out.errors[:20],
    }
    setup_s = statistics.median(a + b for a, b in setups)
    if traced is None:
        e2e = wl.end_to_end(plain)
        report["metrics"] = e2e.pop("report")
        report["op_samples_s"] = dict(plain.samples)
        # median construct (driver-side plan building and eager jobs) and
        # exec (the forcing action) time of every call that has both
        report["construct_exec_s"] = {
            k: [statistics.median(plain.samples[k + ".construct"]), statistics.median(plain.samples[k + ".exec"])]
            for k in list(plain.samples)
            if k + ".construct" in plain.samples and k + ".exec" in plain.samples
        }
        metrics = {
            "setup_s": workloads.metric(setup_s, "s", len(setups)),
            "ok_op_share": workloads.metric(1.0 - out.failed / max(out.attempted, 1), "share", out.attempted),
            **e2e,
        }
    else:
        traced.attach_event_log(log_dir)
        traced.write(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
        report["self_time_s"] = traced.self_times()
        units = layer_units()
        layer = {k: 0.0 for k in units}  # a layer this workload bypasses reads 0
        layer["session.start_s"] = statistics.median(a for a, _ in setups)
        layer["registry.load_s"] = statistics.median(b for _, b in setups)
        layer.update({k: float(v) for k, v in wl.per_layer(traced).items()})
        layer["trace.overhead_ratio"] = overhead_ratio(wl.top_ops, plain, traced)
        layer["spark.failed_tasks"] = float(sum(s.get("failed_tasks", 0) for s in traced.spans))
        layer["process.peak_rss_mb"] = rss
        report["counters"] = {k: v for k, v in layer.items() if k.endswith(("jobs", "files_read", "files_written"))}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layer.items()}

    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"report-{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)
    for k, m in sorted(report.get("metrics", {}).items()):
        extra = f" p{m['percentile']:g}" if "percentile" in m else ""
        print(f"{args.workload} {k} = {m['value']:.6g} {m['unit']} (n={m['samples']}{extra})")
    for k, (c, e) in report.get("construct_exec_s", {}).items():
        print(f"{args.workload} {k} construct = {c:.4g} s, exec = {e:.4g} s")
    print("report " + json.dumps(report))
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": m["value"], "unit": m["unit"]} for k, m in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def layer_units() -> dict[str, str]:
    """Name -> unit of every per-layer metric, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def slope(ys: list[float]) -> float:
    n = len(ys)
    if n < 2:
        return 0.0
    mx, my = (n - 1) / 2, statistics.fmean(ys)
    return sum((i - mx) * (y - my) for i, y in enumerate(ys)) / sum((i - mx) ** 2 for i in range(n))


if __name__ == "__main__":
    sys.exit(main())
