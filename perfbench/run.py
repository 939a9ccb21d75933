"""Route-level benchmark of the anonymization-ETL engine.

    python3 perfbench/run.py --workload tabular --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One process, one client, a closed
loop: Spark ``local[N]`` with N = half the machine's cores, and the next job
is submitted only after the previous one finished.  The inputs are
generated from ``--seed`` under ``.perfbench_work/`` in the checkout and
removed at exit; the engine sees only the generated parquet.

Every run: generate inputs, set up (import the package, start the
session, one untimed warm job), check the warm job's output, then run
jobs for ``--seconds`` and check each one.  ``--trace 0`` times untraced
jobs and prints the end-to-end metrics; ``--trace 1`` times one
untraced job, then traced jobs, and prints the per-layer metrics.  Only
whole jobs are timed: once ``MIN_JOBS`` have run, a job is started only
if, at the pace of the previous one, it ends inside the window.  The
last stdout line is the JSON result; the lines before it state the
input size, the sample count, and the noise floor and load average.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import workloads  # noqa: E402

DRIVER_MEM = "2g"
# The serial collector: one GC thread rather than G1's pool competing
# with the task threads for two cores.  In a four-seed trial the CPU
# time per job came out lower and steadier with it, wall time the same.
JVM_OPTIONS = "-XX:+UseSerialGC"
# Timed jobs per run, at least.  The first one after the warm job still
# runs up to a quarter slow while the JVM compiles; the median of three
# sets it aside.
MIN_JOBS = 3


def spark_cores() -> int:
    """Spark's ``local[N]``: half the cores the process may run on, so
    the job's Python workers, the driver and the JVM's compiler and GC
    threads are not queued behind the task threads on a shared host.
    Jobs here are bound by per-stage overhead, not by parallel work."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _info(**kv) -> None:
    print(json.dumps({"info": kv}, sort_keys=True), flush=True)


def _tree_stats() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields after the command name, for this
    process and all its descendants (the driver JVM and the Python
    workers)."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended between listdir and open
        fields = stat[stat.rindex(")") + 2:].split()
        stats[int(entry)] = fields
        children.setdefault(int(fields[1]), []).append(int(entry))
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
        todo.extend(children.get(pid, []))
    return tree


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) the process
    tree has used so far.  Time the hypervisor gave other guests is not
    in it, so it moves far less than wall time on a busy host."""
    ticks = sum(sum(int(v) for v in f[11:15]) for f in _tree_stats().values())
    return ticks / os.sysconf("SC_CLK_TCK")


class TreeRss:
    """Peak resident memory of the process tree, sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> int:
        return sum(int(f[21]) for f in _tree_stats().values()) * self._page

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._sample())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self._sample())


def _isolate(work: str, cores: int) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``, and
    make the package importable by the Python workers."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_SHUFFLE"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", f"spark.local.dir={local}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--driver-java-options", f'"{JVM_OPTIONS} -Djava.io.tmpdir={tmp}"',  # shlex-split
        "pyspark-shell",
    ])


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat:
    steal is time the hypervisor gave this VM's CPUs to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def noise_floor(spark) -> float:
    """Median of three runs of a fixed, data-independent calibration job
    (a sum over a 50M-row range), after one warm run: it moves only with
    ambient machine load, so an inflated run carries its explanation."""
    def job():
        spark.range(50_000_000).selectExpr("sum(id * 2 + 1) AS s").collect()

    job()
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        job()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples)


class Runner:
    """Counts attempted and failed jobs and holds the reference output."""

    def __init__(self, workload: str, data_dir: str):
        self.workload = workload
        self.data_dir = data_dir
        self.reference: str | None = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def check(self, results: dict) -> None:
        """Validate a job's output; the first checked job sets the
        fingerprint every later job must match."""
        import checks

        if self.reference is None:
            sinks = {k: v for k, v in results.items() if isinstance(v, str)}
            checks.check_routes(self.workload, sinks, self.data_dir)
            if len(sinks) < len(results):
                from ma_anonymization_etl_spark import registry

                oracles = {n: q.oracle for n, q in registry.load_all().items()}
                checks.check_queries({k: v for k, v in results.items() if k not in sinks},
                                     self.data_dir, oracles)
            self.reference = checks.fingerprint(results)
            return
        got = checks.fingerprint(results)
        if got != self.reference:
            raise checks.CheckFailed(f"output fingerprint {got[:12]} != first job's "
                                     f"{self.reference[:12]}")

    def attempt(self, job) -> tuple[float | None, float | None, dict | None]:
        """Run and check one timed job: (wall s, CPU s, results), or Nones
        when it raised or failed its check, which counts against ``failed``."""
        self.attempted += 1
        try:
            t0, cpu0 = time.perf_counter(), tree_cpu_s()
            results = job()
            wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
            self.check(results)
            return wall, cpu, results
        except Exception as e:  # a failed job is a measured outcome, not a crash
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {e}"[:500])
            return None, None, None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (tests use a tiny one)")
    args = ap.parse_args(argv)

    if importlib.util.find_spec("ma_anonymization_etl_spark") is None:
        print(f"no engine package under {ROOT}: run from a checkout's root", file=sys.stderr)
        return 2
    cores = spark_cores()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    data_dir = os.path.join(work, "data")
    out_root = os.path.join(work, "out")
    try:
        _isolate(work, cores)
        t_gen = time.perf_counter()
        inputs = gen.generate(args.workload, args.seed, data_dir, args.scale)
        _info(workload=args.workload, seed=args.seed, cores=cores,
              input_rows=inputs["rows"], input_bytes=inputs["bytes"],
              tables=inputs["tables"], planted_shares=inputs["shares"],
              gen_s=round(time.perf_counter() - t_gen, 3))
        rss = TreeRss() if args.trace else contextlib.nullcontext()
        with rss:
            result = _measure(args, cores, inputs, data_dir, out_root)
        metrics = result.pop("metrics")
        if args.trace:
            metrics["session.peak_rss_mb"] = (rss.peak_bytes / 2**20, "MB")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no trace was kept there
    print(json.dumps({**result, "metrics": {
        k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


def _measure(args, cores: int, inputs: dict, data_dir: str, out_root: str) -> dict:
    runner = Runner(args.workload, data_dir)
    t_setup = time.perf_counter()
    from ma_anonymization_etl_spark import session  # the package import is set-up

    t_session = time.perf_counter()
    spark = session.get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t_session

    def job():
        return workloads.run_job(spark, args.workload, data_dir, out_root)

    try:
        warm = job()  # its failure aborts the run
        setup_s = time.perf_counter() - t_setup
        runner.check(warm)
        floor = noise_floor(spark)
        load_1m = os.getloadavg()[0]
        if args.trace:
            import tracing

            metrics = tracing.traced_run(spark, runner, job, args, cores, data_dir, out_root,
                                         os.path.join(ROOT, ".perfbench_work", "traces"))
            metrics["session.start_s"] = (start_s, "s")
            metrics["session.self_s"] = (start_s, "s")
            metrics["session.calls"] = (1, "count")
            metrics["session.noise_floor_s"] = (floor, "s")
            metrics["session.loadavg_1m"] = (load_1m, "load")
        else:
            walls, cpus, out_bytes = [], [], 0
            t_run, ticks0 = time.perf_counter(), cpu_ticks()
            while True:
                t_job = time.perf_counter()
                wall, cpu, results = runner.attempt(job)
                if wall is not None:
                    walls.append(wall)
                    cpus.append(cpu)
                    out_bytes = workloads.delivered(results)[0]
                now = time.perf_counter()
                if runner.attempted >= MIN_JOBS and now - t_run + (now - t_job) > args.seconds:
                    break  # whole jobs only: the next one would end past the window
            if not walls:
                raise RuntimeError(f"every timed job failed: {runner.errors}")
            # Wall time is printed, not bounded: on a shared VM it moved by
            # half between runs of the same code as other guests' load came
            # and went, while the CPU time of the job's processes held.
            job_s = statistics.median(walls)
            metrics = {
                "setup_s": (setup_s, "s"),
                "job_cpu_s": (statistics.median(cpus), "s"),
                "out_bytes_per_in_byte": (out_bytes / inputs["bytes"], "B/B"),
                "ok_frac": ((runner.attempted - runner.failed) / runner.attempted, "frac"),
            }
            steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
            _info(job_s=job_s, rows_per_s=inputs["rows"] / job_s, job_s_samples=len(walls),
                  job_s_all=[round(w, 4) for w in walls],
                  job_cpu_s_all=[round(c, 2) for c in cpus],
                  session_start_s=round(start_s, 4),
                  cpu_steal_frac=round(steal / total, 4) if total else 0.0)
        _info(noise_floor_s=round(floor, 4), loadavg_1m=load_1m, errors=runner.errors)
    finally:
        _stop_spark(spark)
    return {"correct": runner.failed == 0, "attempted": runner.attempted,
            "failed": runner.failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
