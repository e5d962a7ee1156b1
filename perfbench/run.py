#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client driving gridmr_spark.

    python3 perfbench/run.py --workload mr_neardup --seed 1 --seconds 21 --trace 0

One driver process on ``local[<usable cores>]`` submits each job only after
the previous one returned. A run: three cold starts at once (this process
and two probes; ``setup_s`` is their median), seeded input generation, one
gate pass that checks every job's output (and warms the JVM), then as many
timed passes as ``--seconds`` holds nominal ones (at least one), each timed
in wall and busy-CPU seconds. ``--trace 1`` starts alone and follows one
plain pass with a traced one: it wraps the program's functions and diffs
Spark's status store around every job for the per-layer view. The last
stdout line is the JSON result; a wrong output makes the exit code 1. See
BENCHMARK.md.
"""

import time

T0 = time.perf_counter()  # process start, for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
N_PROBES = 2
MIN_PASSES = 1
TRACED_PASSES = 1
# Every JVM of a run (the driver's and the probes') compiles with C1 only.
# A run lives about a minute, which never reaches C2's steady state: with
# the default tiered compiler the first warm pass caught C2 at a different
# point each run and its CPU time swung by 60% on the same seed. C1 code is
# in place after the gate pass, so passes stop drifting (see BENCHMARK.md).
JVM_OPTIONS = ("-XX:TieredStopAtLevel=1",)


def isolate(run_root: str) -> None:
    """Point every scratch location of the JVM and the Python workers into
    ``run_root`` and make the package importable by workers launched from
    any directory."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_root, sub), exist_ok=True)
    path = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_root, "local")
    os.environ["TMPDIR"] = os.path.join(run_root, "tmp")
    java_opts = " ".join([f"-Djava.io.tmpdir={os.path.join(run_root, 'tmp')}", *JVM_OPTIONS])
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{java_opts}" '
        f"--conf spark.sql.warehouse.dir={os.path.join(run_root, 'warehouse')} pyspark-shell"
    )
    sys.path[:0] = [ROOT, HERE]


class Run:
    def __init__(self, args, run_root: str) -> None:
        self.args = args
        self.root = run_root
        self.cpus = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.probes: list[subprocess.Popen] = []
        self.records: list[dict] = []  # one per timed job

    # -- jobs ---------------------------------------------------------------

    def _fail(self, job_name: str, what: str) -> None:
        self.failed += 1
        print(f"FAILED {job_name}: {what}", file=sys.stderr, flush=True)

    def gate(self, jobs) -> dict[str, float]:
        """Run and check every job once; returns each job's seconds."""
        took = {}
        for job in jobs:
            self.attempted += 1
            t = time.perf_counter()
            try:
                problems = job.check(job.call())
            except Exception:  # noqa: BLE001 - a failing job is a result
                problems = [traceback.format_exc(limit=3)]
            took[job.name] = time.perf_counter() - t
            if problems:
                self._fail(job.name, "; ".join(problems))
        return took

    def timed_pass(self, jobs, spark, tracer=None, store=None) -> tuple[float, float]:
        """Run one pass; returns its wall seconds and the CPU seconds the
        machine spent busy during it."""
        from pyspark.sql import DataFrame
        from stats import busy_cpu_s

        c_pass = busy_cpu_s()
        t_pass = time.perf_counter()
        for job in jobs:
            self.attempted += 1
            rec = {"job": job.name, "layer": job.layer, "kind": job.kind, "traced": tracer is not None}
            try:
                with tracer.job(job.name) if tracer else nullcontext():
                    c0 = busy_cpu_s()
                    t0 = time.perf_counter()
                    out = job.call()
                    t1 = time.perf_counter()
                    if store:
                        rec["call_stages"], rec["call_jobs"] = store.diff()
                    if isinstance(out, DataFrame):
                        out.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                    if store:
                        rec["action_stages"], rec["action_jobs"] = store.diff()
            except Exception:  # noqa: BLE001 - a failing job is a result
                self._fail(job.name, traceback.format_exc(limit=3))
                continue
            rec["call_s"], rec["action_s"], rec["cpu_s"] = t1 - t0, t2 - t1, busy_cpu_s() - c0
            self.records.append(rec)
        return time.perf_counter() - t_pass, busy_cpu_s() - c_pass

    # -- the run ------------------------------------------------------------

    def setup(self):
        """Start this process's session alongside the probes; returns
        (spark, [setup seconds of every start], get_spark s, first job s).
        The probes report as soon as they are up; their teardown overlaps
        input generation and ``join_probes`` waits for it."""
        self.probes = [
            subprocess.Popen(
                [sys.executable, os.path.join(HERE, "setup_probe.py"), str(self.cpus)],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            )
            for _ in range(0 if self.args.trace else N_PROBES)
        ]
        from gridmr_spark.session import get_spark

        t_a = time.perf_counter()
        spark = get_spark("perfbench", self.cpus)
        t_b = time.perf_counter()
        spark.sparkContext.parallelize([1], 1).map(lambda x: x + 1).collect()
        t_c = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        starts = [t_c - T0]
        for p in self.probes:
            line = p.stdout.readline()
            if not line:
                raise RuntimeError(f"setup probe failed with exit code {p.wait()}")
            starts.append(float(line))
        return spark, starts, t_b - t_a, t_c - t_b

    def join_probes(self) -> None:
        for p in self.probes:
            if p.wait(timeout=120) != 0:
                raise RuntimeError(f"setup probe exited with {p.returncode}")

    def main(self) -> int:
        import layers
        import workloads
        from setup_probe import stop_spark
        from stats import check_metric, driver_peak_rss_mb, jvm_peak_rss_mb, summarize

        a = self.args
        spark, starts, get_spark_s, first_job_s = self.setup()
        phases = {"setup": time.perf_counter() - T0}
        try:
            t = time.perf_counter()
            wl = workloads.WORKLOADS[a.workload](spark, self.root, a.seed)
            self.join_probes()
            phases["inputs"] = time.perf_counter() - t
            t = time.perf_counter()
            gate_s = self.gate(wl.passes(0))
            phases["gate"] = time.perf_counter() - t
            # a fixed number of passes, each started with the JIT compiler
            # idle, so a slow run does not measure fewer of them
            walls: list[float] = []
            cpus: list[float] = []
            i = 1
            t = time.perf_counter()
            settled = 0.0
            for _ in range(1 if a.trace else n_passes(a.seconds, wl.nominal_pass_s)):
                settled += settle(spark)
                wall, cpu = self.timed_pass(wl.passes(i), spark)
                walls.append(wall)
                cpus.append(cpu)
                i += 1
            phases["timed"] = time.perf_counter() - t
            phases["of which settling"] = settled
            layer_view = None
            if a.trace:
                # after the plain pass: with C1 code passes do not drift, so
                # the pair gives the tracing overhead
                settle(spark)
                t = time.perf_counter()
                layer_view = layers.traced_passes(self, spark, wl, i, TRACED_PASSES)
                phases["traced"] = time.perf_counter() - t
            t = time.perf_counter()
            for check in wl.final_checks:
                self.attempted += 1
                problems = check()
                if problems:
                    self._fail("final check", "; ".join(problems))
            phases["final_checks"] = time.perf_counter() - t
            jvm_mb = jvm_peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        finally:
            stop_spark(spark)
        drv_mb = driver_peak_rss_mb()
        phases["total"] = time.perf_counter() - T0

        print(f"workload {a.workload} seed {a.seed}: {wl.input_desc}; local[{self.cpus}], one client")
        print(f"failed_frac {self.failed / self.attempted:.4f} ratio ({self.failed}/{self.attempted} jobs)")
        print("phases " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()))
        print("gate " + ", ".join(f"{k} {v:.2f} s" for k, v in gate_s.items()))
        if a.trace:
            metrics = layer_view.metrics(get_spark_s, first_job_s, jvm_mb, drv_mb, walls)
            self.write_trace(layer_view, metrics)
            if layer_view.write_lat:
                print(f"table writes s: {summarize(layer_view.write_lat)}")
                print(f"table reads s: {summarize(layer_view.read_lat)}")
        else:
            print(f"passes of {len(wl.passes(1))} jobs: cpu s {[round(c, 2) for c in cpus]}, "
                  f"wall s {[round(w, 3) for w in walls]}")
            print(f"pass_s {statistics.median(walls):.4f} s (wall, median; not bounded: it follows "
                  "how much CPU the host's other tenants take)")
            print("job seconds (call+action wall, cpu; median over passes) " + ", ".join(
                f"{k} {v['call_s']:.2f}+{v['action_s']:.2f}, {v['cpu_s']:.2f}"
                for k, v in layers.per_job(self.records).items()))
            metrics = {
                "setup_s": (statistics.median(starts), "s"),
                "pass_cpu_s": (statistics.median(cpus), "s"),
            }
            print(f"setup_s samples {[round(s, 3) for s in starts]}")
            print(f"peak_rss_mb {jvm_mb + drv_mb:.1f} MB (JVM {jvm_mb:.1f} + driver {drv_mb:.1f}; not bounded)")
        for name, (value, unit) in metrics.items():
            check_metric(name, unit)
            print(f"{name} {value:.6g} {unit}")
        result = {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
        }
        print(json.dumps(result))
        return 0 if self.failed == 0 else 1

    def write_trace(self, layer_view, metrics) -> None:
        import layers

        out_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{self.args.workload}-seed{self.args.seed}.json")
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"metrics": {k: v[0] for k, v in metrics.items()},
                       "per_job": layers.per_job(layer_view.records)}, fh, indent=1)
        print(f"trace written to {os.path.relpath(path, ROOT)}")


def n_passes(seconds: float, nominal_pass_s: float) -> int:
    """Timed passes in a run: enough nominal passes to cover ``seconds``,
    at least MIN_PASSES. A count, not a deadline, so a run that happens to
    be slow does not measure fewer (and earlier, colder) passes."""
    return max(MIN_PASSES, math.ceil(seconds / nominal_pass_s))


def settle(spark, cap_s: float = 5.0, poll_s: float = 0.25) -> float:
    """Start a pass from the same state every time: collect the driver's
    garbage, then wait (at most ``cap_s``) until the JVM's JIT compiler
    has been idle for one poll, so compiles the previous pass queued do
    not run inside the next one. The JVM's heap is left alone: a forced
    full GC made G1 resize it and spend 1 to 3 CPU s more on the pass.
    Returns the seconds waited."""
    import gc

    t0 = time.perf_counter()
    gc.collect()
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    last = bean.getTotalCompilationTime()
    while time.perf_counter() - t0 < cap_s:
        time.sleep(poll_s)
        now = bean.getTotalCompilationTime()
        if now == last:
            break
        last = now
    return time.perf_counter() - t0


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["mr_neardup", "olap_ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "gridmr_spark", "__init__.py")):
        print("perfbench: no gridmr_spark package beside perfbench/; "
              "run it from a checkout of the repository", file=sys.stderr)
        return 2
    run_root = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    isolate(run_root)
    os.chdir(run_root)
    run = Run(args, run_root)
    try:
        return run.main()
    finally:
        for p in run.probes:
            if p.poll() is None:
                p.kill()
                p.wait()
        os.chdir(ROOT)
        shutil.rmtree(run_root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
