"""Layer-accounted benchmark of the engine's public entry points.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One run launches the JVM and starts a
session on ``local[nproc]`` with the engine's own settings, generates
its inputs from ``--seed`` and prepares each job's reference (together
``setup_s``), runs every job shape once cold (``first_job_s``) and
``WARM_ROUNDS`` more times untimed, then drives jobs back to back from
one client for ``--seconds`` in whole rounds, checking each result.

The last stdout line is the result: with ``--trace 0`` the end-to-end
metrics; with ``--trace 1`` the per-layer metrics of a run whose rounds
alternate between traced and untraced, so that it also measures the
tracing overhead. The line before it is the run record: host stamp,
input sizes, error rate and sample counts. The record and the spans are
also written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench import gen, metrics, workloads  # noqa: E402
from perfbench.trace import BatchListener, StatusReader, Tracer, self_times  # noqa: E402
from perfbench.workloads import Context, Job  # noqa: E402

WARM_ROUNDS = 2


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_probe() -> dict:
    """A fixed single-core Python loop and the load average: a run on a
    busy or slower host shows here before it shows in the metrics."""
    t = time.perf_counter()
    x = 0
    for i in range(400_000):
        x += i * i % 7
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"probe_s": time.perf_counter() - t, "load1": load1}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def hwm_bytes(pids) -> int:
    """Sum of the peak resident sizes (VmHWM) the kernel recorded for
    ``pids``: exact per process, whenever its peak fell."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler(threading.Thread):
    """Peak resident memory of this process plus every descendant (the
    JVM and the Python workers): every 0.5 s, the sum of the peak
    resident sizes of the processes alive together. A descendant counts
    from its second sample on: a child the JVM forks to exec a command
    (chmod on checkpoint files) briefly reports the JVM's whole resident
    set as its own, and would double the sum."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self.seen: set[int] = set()
        self._prev: set[int] = set()
        self._lock = threading.Lock()
        self._stop_event = threading.Event()

    def sample(self) -> None:
        with self._lock:
            kids = set(descendants(os.getpid()))
            self.seen |= kids
            self.peak = max(self.peak, hwm_bytes([os.getpid(), *(kids & self._prev)]))
            self._prev = kids

    def run(self) -> None:
        while not self._stop_event.wait(0.5):
            self.sample()

    def stop(self) -> None:
        self._stop_event.set()
        self.join(5)


def configure_env(work: str) -> None:
    """Keep every file the engine, Spark and the workers write inside
    ``work``, and let the workers import the engine from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())


def start_session(work: str):
    from multi_threaded_mapreduce_framework_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, sampler: RssSampler) -> None:
    """Stop the session, the JVM and the Python workers, and wait for
    each to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(10)
    deadline = time.time() + 15
    left = [p for p in sampler.seen if os.path.exists(f"/proc/{p}")]
    while left and time.time() < deadline:
        time.sleep(0.1)
        left = [p for p in left if os.path.exists(f"/proc/{p}")]
    for p in left:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def run_job(shape, ctx, reader, traced: bool):
    tr = ctx.tracer
    tr.enabled = traced
    if traced:
        tr.job += 1
        reader.mark()
        first_span = len(tr.spans)
    j0 = reader.next_job_id()
    t0 = time.perf_counter()
    try:
        with tr.span("job", shape=shape.name):
            result, progress = shape.run(ctx)
        seconds = time.perf_counter() - t0
        ok = bool(shape.check(result))
    except Exception:  # noqa: BLE001 - a failed job is counted, not fatal
        seconds = time.perf_counter() - t0
        ok, progress = False, []
        print(f"job {shape.name} failed:", file=sys.stderr)
        traceback.print_exc()
    job = Job(shape.name, seconds, ok, shape.input_rows,
              jobs_launched=reader.next_job_id() - j0, progress=progress)
    if traced:
        if shape.annotate is not None and ok:
            shape.annotate(ctx)
        spans = tr.spans[first_span:]
        job.counters = reader.collect()
        job.counters.update(ctx.extra)
        totals: dict[str, dict] = {}
        for s in spans:
            totals.setdefault(s.name, {"total": 0.0})["total"] += s.end - s.start
        selfs = self_times(spans, first_span)
        for name, v in selfs.items():
            totals[name]["self"] = v
        totals["job"]["self_sum"] = sum(selfs.values())
        job.spans = totals
    ctx.extra = {}
    return job


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(workloads.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import pyspark

        import multi_threaded_mapreduce_framework_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    configure_env(work)
    sampler = RssSampler()
    sampler.start()
    probe_before = host_probe()
    wl = workloads.make(args.workload)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work)  # launches the JVM
        start_s = time.perf_counter() - t0
        data = os.path.join(work, "data")
        sizes = gen.generate(args.seed, wl.sizes, data)
        gen_s = time.perf_counter() - t0 - start_s
        shapes = wl.prepare(spark, data)
        setup_s = time.perf_counter() - t0
        input_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(data) for f in fs
        )
        tracer = Tracer(False)
        reader = StatusReader(spark)
        listener = BatchListener() if args.trace else None
        ctx = Context(spark, data, work, tracer, reader, listener)

        first = [run_job(s, ctx, reader, False) for s in shapes]
        # untimed rounds: job times still fall over the next few executions
        # of a shape (JIT, Python worker imports)
        warm = [run_job(s, ctx, reader, False) for _ in range(WARM_ROUNDS) for s in shapes]
        jobs, traced, untraced = [], [], []
        t_start = time.perf_counter()
        rnd = 0
        while True:
            trace_round = bool(args.trace) and rnd % 2 == 0
            if trace_round:  # the listener's callbacks are tracing cost too
                spark.streams.addListener(listener.listener)
            for s in shapes:
                j = run_job(s, ctx, reader, trace_round)
                jobs.append(j)
                (traced if trace_round else untraced).append(j)
            if trace_round:
                spark.streams.removeListener(listener.listener)
            rnd += 1
            done = time.perf_counter() - t_start >= args.seconds
            if done and (not args.trace or rnd >= 2):
                break
        wall = time.perf_counter() - t_start
        sampler.sample()
        peak_rss_mb = sampler.peak / 2**20
        e2e = metrics.end_to_end(untraced if args.trace else jobs, first, setup_s, wall)
        layers = metrics.per_layer(traced, untraced, start_s, peak_rss_mb) \
            if args.trace else None
        spark_version = spark.version
    finally:
        t0 = time.perf_counter()
        if spark is not None:
            stop_spark(spark, sampler)
        teardown_s = time.perf_counter() - t0
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    probe_after = host_probe()

    failed = sum(1 for j in jobs + first + warm if not j.ok)
    attempted = len(jobs) + len(first) + len(warm)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc(),
        "spark_version": spark_version,
        "pyspark_version": pyspark.__version__,
        "python": platform.python_version(),
        "input_rows": sizes,
        "input_bytes": input_bytes,
        "host_before": probe_before,
        "host_after": probe_after,
        "session_start_s": start_s,
        "generate_s": gen_s,
        "prepare_s": setup_s - start_s - gen_s,
        "teardown_s": teardown_s,
        "rounds": rnd,  # timed rounds, after the first and warm-up rounds
        "jobs": len(jobs),
        "error_rate": metrics.error_rate(jobs + first + warm),
        "peak_rss_mb": peak_rss_mb,
        "zero_launch_jobs": sum(1 for j in jobs if j.jobs_launched == 0),
        "end_to_end": e2e,
        "per_layer": layers,
        "per_shape_s": metrics.by_shape(jobs),
        "first_job_s": {j.shape: j.seconds for j in first},
    }
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump({"record": record,
                   "spans": [vars(s) for s in tracer.spans]}, f, default=str)
    chosen, units = (layers, metrics.PER_LAYER) if args.trace else (e2e, metrics.END_TO_END)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": chosen[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
