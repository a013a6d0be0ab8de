"""Entity-pipeline benchmark: one workload per invocation.

    python3 entitybench/run.py --workload build_and_crawl --seed 1 --seconds 5 --trace 0

Starts the engine's own Spark session (``data_pipeline_spark.session``) at
local[nproc] with a warehouse, local dirs and temp dirs owned by this run
under ``.entitybench_work/`` (removed at exit), sets the workload up from
the seed, runs operations in a closed loop for ``--seconds``, checks the
outputs, and prints one JSON result as the last line of stdout.  With
``--trace 1`` the run is the traced one: Spark's event log is on and the
result carries the per-layer metrics instead of the end-to-end ones.
Human-readable detail goes to stderr.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(msg: str) -> None:
    print(f"[entitybench] {msg}", file=sys.stderr, flush=True)


def rss_peak_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 1]."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile with at least ten samples beyond it."""
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            return p
    return None


def configure_env(work: str, trace: bool) -> None:
    """Isolation: every directory Spark or Python writes lives under
    ``work``; the Python workers import the engine from this checkout."""
    for d in ("local", "tmp", "warehouse", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # session.py defaults to 32g; the inputs here are a few MB
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            # zstandard is not installed for the default codec
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"


def stop_spark(spark) -> int:
    """Stop the session and the JVM it launched; wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return 0
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        return proc.wait(timeout=60)
    except Exception:
        proc.kill()
        return proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    spec = importlib.util.find_spec("data_pipeline_spark")
    if spec is None or not (spec.origin or "").startswith(ROOT + os.sep):
        log(f"the engine package data_pipeline_spark is not under {ROOT}")
        return 2
    from entitybench import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}")
        return 2

    work = os.path.join(ROOT, ".entitybench_work", f"{args.workload}-{os.getpid()}")
    configure_env(work, bool(args.trace))
    spark = None
    try:
        t0 = time.perf_counter()
        from data_pipeline_spark.session import get_spark

        spark = get_spark("entitybench")
        session_s = time.perf_counter() - t0
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        if args.trace:
            from entitybench import trace

            result = trace.run(wl, work)
        else:
            result = measure(wl, args)
        log(f"session start {session_s:.2f} s")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


# the two phases of a workload's operation, in order, report under these
# names: build_and_crawl -> (build, crawl), search_and_curation -> (search
# round, curation pass)
PHASE_METRICS = ("build_or_search_ms", "crawl_or_curation_ms")


def spin_canary(iters: int = 2_000_000) -> float:
    """bench.py's host-contention canary: a fixed CPU-bound spin loop."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(iters):
        acc += i
    return time.perf_counter() - t0


def spark_canary(spark) -> float:
    """bench.py's JVM-health canary: a fixed tiny codegen'd Spark job."""
    t0 = time.perf_counter()
    spark.range(2_000_000).selectExpr("sum(id * 2)").collect()
    return time.perf_counter() - t0


def measure(wl, args) -> dict:
    """Set up wl.setup_reps times, run the closed loop, check the outputs."""
    from pyspark import SparkContext

    from entitybench.workloads import Checks

    canaries = [(spin_canary(), spark_canary(wl.spark))]
    setups = []
    for rep in range(wl.setup_reps):
        t = time.perf_counter()
        wl.setup(rep)
        setups.append(time.perf_counter() - t)
    log(f"setup reps (s): {[round(s, 3) for s in setups]}")

    attempted = failed = 0
    phases: dict[str, list[float]] = {p: [] for p in wl.phases}
    deadline = time.perf_counter() + args.seconds
    i = 0
    while i == 0 or time.perf_counter() < deadline:
        attempted += 1
        try:
            for p, dt in wl.op(i).items():
                phases[p].append(dt)
        except Exception as e:  # an engine failure is a counted, reported result
            failed += 1
            log(f"op {i} failed: {type(e).__name__}: {e}")
        i += 1
    # high-water marks of the timed region, before the checks add their own
    rss = rss_peak_mb() + rss_peak_mb(SparkContext._gateway.proc.pid)
    canaries.append((spin_canary(), spark_canary(wl.spark)))
    log(f"host: nproc {len(os.sched_getaffinity(0))}; canaries (spin s, spark s) "
        f"at start {canaries[0][0]:.3f}, {canaries[0][1]:.3f}; after the timed region "
        f"{canaries[1][0]:.3f}, {canaries[1][1]:.3f}")

    checks = Checks()
    if failed < attempted:
        wl.check(checks)
    for f in checks.failures:
        log(f"CHECK FAILED: {f}")
    attempted += checks.attempted
    failed += len(checks.failures)

    metrics = {"setup_s": {"value": round(statistics.median(setups), 6), "unit": "s"},
               "peak_rss_mb": {"value": round(rss, 3), "unit": "MB"}}
    for p, name in zip(wl.phases, PHASE_METRICS):
        xs = phases[p]
        metrics[name] = {"value": round(statistics.median(xs) * 1000, 3) if xs else 0.0, "unit": "ms"}
        log(f"{p}: n={len(xs)} median {metrics[name]['value']:.1f} ms")
    lat = getattr(wl, "search_s", [])
    if lat:
        tail = tail_percentile(len(lat))
        log(f"single searches: n={len(lat)} p50 {percentile(lat, 0.5) * 1000:.1f} ms"
            + (f", p{tail} {percentile(lat, tail / 100) * 1000:.1f} ms" if tail else
               " (too few samples for a tail percentile)"))
    log(f"checks {checks.attempted - len(checks.failures)}/{checks.attempted} ok")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
