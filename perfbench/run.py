"""Closed-loop benchmark of the deja_view_spark KG engine.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout: the engine is imported from
``./deja_view_spark`` and nothing else. One client, one operation in
flight, Spark ``local[<all cores>]``. The last stdout line is the JSON
result; per-operation details (latencies, CPU steal, warm-up times,
drift) go to stderr.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs half
the timed loop untraced, restarts the Spark context with the event log
on, runs the other half with spans around every layer call, then a
fixed per-layer sweep (``layers.py``), and reports the per-layer
metrics, including the traced-minus-untraced overhead.

``--smoke`` shrinks every input so the whole run takes about a minute
(used by ``test_perfbench.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
import uuid
import zipfile

from workloads import WORKLOADS

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))

SIZES = {
    "full": dict(build_rows=2000, pr_sample=300, live_store=2500,
                 live_batch=500, sweep_rows=1000, sweep_batch=200),
    "smoke": dict(build_rows=800, pr_sample=100, live_store=800,
                  live_batch=100, sweep_rows=600, sweep_batch=100),
}
PREP_REPS = 3  # set-up repetitions; setup_s takes their median
MIN_OPS = 3  # timed operations per run, at least: medians of 3+
MIN_OPS_TRACED = 1  # per half of a traced run, which must end within 180 s
MAX_ERRORS = 3  # operations that raise before the run gives up
WARMUP_READS = 2  # the first point read of a session runs ~2x slower
DRIVER_MEMORY = "2g"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------ isolation
def isolate(run_dir: str) -> dict[str, str]:
    """Point every temp/scratch location of this process, the JVM and the
    UDF workers into ``run_dir``: the package zip the engine ships to
    Python workers is cached under TMPDIR, so a shared TMPDIR could ship
    one checkout's code to another's workers."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "events", "work")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    tempfile.tempdir = dirs["tmp"]
    return dirs


def check_shipped_zip(root: str, tmp_dir: str) -> str | None:
    """The zip shipped to UDF workers must hold exactly this checkout's
    package sources. Returns a failure message, or None."""
    from deja_view_spark import deploy

    path = deploy.build_zip()
    if os.path.dirname(path) != tmp_dir:
        return f"package zip {path} is outside the run's TMPDIR"
    pkg = os.path.join(root, "deja_view_spark")
    want = {}
    for d, _sub, files in os.walk(pkg):
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(d, fn)
                with open(full, "rb") as f:
                    want[os.path.join("deja_view_spark", os.path.relpath(full, pkg))] = f.read()
    with zipfile.ZipFile(path) as zf:
        got = {n: zf.read(n) for n in zf.namelist()}
    if got != want:
        return f"shipped zip differs from checkout sources: {sorted(set(got) ^ set(want))[:5]}"
    return None


def start_session(dirs: dict[str, str], event_log: bool):
    from deja_view_spark.session import get_spark

    conf = {
        # no hsperfdata file in the shared /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["events"],
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", cores=cores(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    kids = [int(x) for x in f.read().split()]
                out += kids
                todo += kids
        except OSError:
            pass
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


def shutdown(spark) -> None:
    """Stop Spark, then the JVM it runs in and the Python workers the
    JVM started, and wait until every one of them has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = _descendants(proc.pid) if proc else []
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 20
        while any(_alive(k) for k in kids) and time.time() < deadline:
            time.sleep(0.1)
        for k in kids:
            if _alive(k):
                try:
                    os.kill(k, signal.SIGKILL)
                except ProcessLookupError:
                    pass


# ----------------------------------------------------------------- loop
class Loop:
    """The closed loop's record: operation and read latencies, work done,
    failures and CPU steal per operation."""

    def __init__(self):
        self.ops: list[float] = []
        self.reads: list[float] = []
        self.docs = 0
        self.triples = 0
        self.attempted = 0
        self.failed = 0
        self.steal: list[float] = []

    def summary(self) -> dict:
        half = len(self.ops) // 2
        drift = (median(self.ops[half:]) / median(self.ops[:half])) if half else 1.0
        return {
            "op_ms": [round(x * 1000, 1) for x in self.ops],
            "read_ms": [round(x * 1000, 1) for x in self.reads],
            "op_steal_frac": [round(x, 4) for x in self.steal],
            "drift_second_half_ratio": round(drift, 4),
        }


def run_loop(wl, seconds: float, min_ops: int, tracer, loop: Loop, start_i: int) -> int:
    from spans import cpu_ticks, steal_frac

    measured, i, errors = 0.0, start_i, 0
    while (i - start_i < min_ops or measured < seconds) and errors < MAX_ERRORS:
        loop.attempted += 1
        t0 = cpu_ticks()
        try:
            with tracer.span("op"):
                res = wl.op(i)
        except Exception:
            log(traceback.format_exc())
            loop.failed += 1
            errors += 1
            i += 1
            continue
        loop.steal.append(steal_frac(t0, cpu_ticks()))
        loop.ops.append(res.seconds)
        loop.docs += res.docs
        loop.triples += res.triples
        measured += res.seconds
        if not wl.check(i, res):
            loop.failed += 1
        log(f"op {i}: {res.seconds * 1000:.0f} ms, {res.triples} triples {res.detail}")
        try:
            with tracer.span("reads"):
                reads = wl.reads(i, wl.reads_per_op)
        except Exception:
            log(traceback.format_exc())
            loop.attempted += 1
            loop.failed += 1
            errors += 1
            reads = []
        for r in reads:
            loop.attempted += 1
            loop.reads.append(r.seconds)
            measured += r.seconds
            if not r.ok:
                loop.failed += 1
        i += 1
    return i


def warm_up(wl) -> tuple[float, list[float]]:
    t0 = time.perf_counter()
    times: list[float] = []
    for i in range(wl.warmup_ops):
        res = wl.warmup(i)
        times.append(res.seconds)
        wl.check(i, res, warmup=True)
        wl.reads(i, WARMUP_READS)
    return time.perf_counter() - t0, times


def run(args, root: str, run_dir: str, units: dict[str, str]) -> dict:
    import spans as T

    ticks0 = T.cpu_ticks()
    dirs = isolate(run_dir)
    sizes = SIZES["smoke" if args.smoke else "full"]
    wl = WORKLOADS[args.workload](args.seed, sizes, dirs["work"])
    details: dict = {"workload": args.workload, "seed": args.seed}

    prep = []
    for r in range(PREP_REPS):
        d = os.path.join(run_dir, f"inputs_{r}")
        t0 = time.perf_counter()
        wl.prepare(d)
        prep.append(time.perf_counter() - t0)
        if r:
            shutil.rmtree(os.path.join(run_dir, f"inputs_{r - 1}"))
    t0 = time.perf_counter()
    spark = start_session(dirs, event_log=False)
    session_s = time.perf_counter() - t0
    try:
        zip_error = check_shipped_zip(root, dirs["tmp"])
        if zip_error:
            wl.fail(zip_error)
        t0 = time.perf_counter()
        wl.attach(spark)
        state_s = time.perf_counter() - t0
        warm_s, warm_times = warm_up(wl)
        setup_s = session_s + median(prep) + state_s + warm_s
        details.update(session_s=session_s, prep_s=prep, state_s=state_s,
                       warmup_s=warm_s, warmup_op_s=warm_times)

        loop = Loop()
        seconds = args.seconds / 2 if args.trace else args.seconds
        min_ops = MIN_OPS_TRACED if args.trace else MIN_OPS
        nxt = run_loop(wl, seconds, min_ops, T.Tracer(False), loop, wl.warmup_ops)
        details["untraced"] = loop.summary()
        if args.trace:
            from layers import Sweep

            untraced_p50 = median(loop.ops)
            pid = T.jvm_pid(spark)
            spark.stop()
            spark = start_session(dirs, event_log=True)
            wl.attach(spark)
            tracer = T.Tracer(True)
            tloop = Loop()
            run_loop(wl, seconds, min_ops, tracer, tloop, nxt)
            details["traced"] = tloop.summary()
            sweep = Sweep(spark, args.seed, sizes, os.path.join(run_dir, "sweep"), tracer)
            metrics = sweep.run()
            metrics["session.start_s"] = session_s
            traced_p50 = median(tloop.ops)
            metrics["trace.untraced_op_p50_ms"] = untraced_p50 * 1000
            metrics["trace.traced_op_p50_ms"] = traced_p50 * 1000
            metrics["trace.overhead_frac"] = traced_p50 / untraced_p50 - 1 if untraced_p50 else 0.0
            metrics["jvm.peak_rss_mb"] = T.peak_rss_mb(pid)
            metrics["jvm.gc_s"] = T.jvm_gc_s(spark)
            details["span_s"] = {}
            for sp in tracer.spans:
                details["span_s"].setdefault(sp.name, []).append(round(sp.seconds, 3))
            loop.attempted += tloop.attempted
            loop.failed += tloop.failed
            wl.failures += sweep.failures
        else:
            metrics = {
                "setup_s": setup_s,
                "op_p50_ms": median(loop.ops) * 1000,
                "triples_per_s": loop.triples / sum(loop.ops) if loop.ops else 0.0,
                "docs_per_s": loop.docs / sum(loop.ops) if loop.ops else 0.0,
                "query_p50_ms": median(loop.reads) * 1000,
            }
        run_ok = wl.check_run()
    finally:
        shutdown(spark)
    if args.trace:
        metrics.update(sweep.from_event_log(dirs["events"]))
        metrics["host.steal_frac"] = T.steal_frac(ticks0, T.cpu_ticks())
    details["host_steal_frac"] = T.steal_frac(ticks0, T.cpu_ticks())
    details["failures"] = wl.failures
    log("details " + json.dumps(details))
    return {
        "correct": run_ok and not wl.failures and loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def load_units() -> dict[str, str]:
    with open(os.path.join(BENCH_DIR, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "deja_view_spark", "__init__.py")):
        log("perfbench: run from a checkout root: ./deja_view_spark is missing")
        return 2
    sys.path.insert(0, root)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(root, ".perfbench_runs", f"{args.workload}-{uuid.uuid4().hex[:8]}")
    os.makedirs(run_dir)
    try:
        result = run(args, root, run_dir, load_units())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0

if __name__ == "__main__":
    sys.exit(main())
