"""Benchmark of ``plans.pipeline.run_pipeline``, the path users run.

    python3 perfbench/run.py --workload route_bulk --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --workload all

One run: make the workload's input from the seed, set Spark up
(``get_spark`` + ``warm_python_workers``), call ``run_pipeline`` in a closed
loop for ``--seconds`` (at least once), checking every call's output, then
set Spark up four more times in the same JVM; the median of the five
set-ups is ``setup_s``. ``--trace 1`` instead makes one plain call and
one staged, traced run, and reports the per-layer metrics. Human-readable
lines come first; the last line of stdout is one JSON object. The exit code
is 1 when an output check fails. Everything the run writes stays under
``perfbench/.work`` in the checkout, and every process it starts has ended
when it exits.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import math
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOAD_NAMES = ("route_small", "route_bulk", "search_window")
DRIVER_MEMORY = "2g"  # the package default (24g) exceeds small hosts
LADDER = (50.0, 90.0, 99.0, 99.9, 99.99)
# per-layer metrics printed but kept out of the JSON: the broadcast of the
# small enrichment table builds in 0 or 1 ms, the resolution of Spark's
# timing metric, so it reads as a constant
PRINTED_ONLY = {"enrich.broadcast_build_s"}
# set-ups after the calls, each after spark.stop() in the same JVM;
# setup_s is the median of these and the cold one
WARM_SETUPS = 4


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------
def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """``(p, value)`` for the highest ladder percentile with at least ten
    samples above it (nearest-rank), or None when there are too few."""
    xs = sorted(samples)
    n = len(xs)
    best = None
    for p in LADDER:
        rank = math.ceil(round(p * n / 100, 9))  # round: 99.9 * 10000 / 100 is not exact
        if rank >= 1 and n - rank >= 10:
            best = (p, xs[rank - 1])
    return best


def describe(samples: list[float], unit: str) -> str:
    tail = tail_percentile(samples)
    tail_txt = f"p{tail[0]:g} {tail[1]:.4f} {unit}" if tail else "no percentile has >=10 samples beyond it"
    return f"median {statistics.median(samples):.4f} {unit}, {tail_txt} (n={len(samples)})"


# --------------------------------------------------------------------------
# host
# --------------------------------------------------------------------------
def _spin() -> int:
    s = 0
    for i in range(1_000_000):
        s += i * i % 1_000_003
    return s


def cpu_probe(n: int) -> dict:
    """Effective cores = n * t1 / tn for fixed pure-Python work run once,
    then in n forked processes at once (the tools/cpu_probe.py method).
    The children only compute and ``_exit``, so forking beside the Spark
    client's threads is safe."""
    _spin()
    t0 = time.perf_counter()
    _spin()
    t1 = time.perf_counter() - t0
    t0 = time.perf_counter()
    pids = []
    for _ in range(n):
        pid = os.fork()
        if pid == 0:
            try:
                _spin()
            finally:
                os._exit(0)
        pids.append(pid)
    for pid in pids:
        os.waitpid(pid, 0)
    tn = time.perf_counter() - t0
    return {"n": n, "t1_s": round(t1, 4), "tn_s": round(tn, 4), "effective_cores": round(n * t1 / tn, 2)}


def git_sha() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(ROOT, ".git", ref[5:])) as f:
            return f.read().strip()
    except OSError:
        return "unknown (not a git checkout)"


class RssSampler(threading.Thread):
    """Peak of the summed resident set of the driver JVM and every process
    under it (the Python worker daemon and its workers), sampled every
    50 ms from /proc."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.peak_kb = 0
        self.peak_split = (0, 0)  # (JVM kB, process count) at the peak
        self._stop_evt = threading.Event()

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children.setdefault(ppid, []).append(int(d))
        out, todo = [], [self.pid]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, ()))
        return out

    def _rss_kb(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def run(self) -> None:
        while not self._stop_evt.is_set():
            tree = self._tree()
            rss = [self._rss_kb(p) for p in tree]
            if sum(rss) > self.peak_kb:
                self.peak_kb, self.peak_split = sum(rss), (rss[0], len(tree))
            self._stop_evt.wait(0.05)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_kb / 1024


# --------------------------------------------------------------------------
# processes
# --------------------------------------------------------------------------
PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make this process the parent of every orphan it leaves (the Python
    worker daemon and its workers outlive the JVM that forks them), so
    ``reap_descendants`` can wait for all of them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _children() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == me:
                        out.append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    return out


def reap_descendants(grace_s: float = 30.0) -> int:
    """Wait until every process started by this one has ended; after
    ``grace_s`` kill what is left. Returns the number killed."""
    deadline, killed = time.monotonic() + grace_s, set()
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return len(killed)
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in set(_children()) - killed:
                try:
                    os.kill(child, signal.SIGKILL)
                    killed.add(child)
                except ProcessLookupError:
                    pass
        time.sleep(0.02)


# --------------------------------------------------------------------------
# one workload
# --------------------------------------------------------------------------
def _prepare_env(nproc: int) -> None:
    """Before Spark starts: keep every file the run writes inside the
    checkout, put the package on the workers' path, pin the timezone."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("S4SPARK_DRIVER_MEM", DRIVER_MEMORY)
    # hostlock reads this at import; export the suite's lock path
    # (/tmp/s4spark_host.lock by default) to serialize with a pytest run
    os.environ.setdefault("S4SPARK_HOST_LOCK", os.path.join(WORK, "host.lock"))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    sys.path.insert(0, ROOT)


def _setup(nproc: int):
    from super_speedy_syslog_searcher_spark.session import get_spark, warm_python_workers

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        cores=nproc,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Duser.timezone=UTC -Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        },
    )
    warm_python_workers(spark)
    return spark, time.perf_counter() - t0


def _shutdown(spark) -> None:
    """Stop Spark, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _persistent_rdds(sc) -> int:
    return sc._jsc.getPersistentRDDs().size()


def run_workload(args) -> int:
    nproc = len(os.sched_getaffinity(0))
    _prepare_env(nproc)
    become_subreaper()
    try:
        from super_speedy_syslog_searcher_spark.hostlock import HostLock, HostLockTimeout

        lock_info = {"path": os.environ["S4SPARK_HOST_LOCK"]}
        t0 = time.perf_counter()
        try:
            lock = HostLock(f"perfbench {args.workload}", timeout=60).__enter__()
        except HostLockTimeout as e:
            lock, lock_info["error"] = None, str(e)
        lock_info["wait_s"] = round(time.perf_counter() - t0, 3)
        lock_info["contended"] = lock is None or lock_info["wait_s"] >= 0.5
        try:
            return _measure(args, nproc, lock_info)
        finally:
            if lock is not None:
                lock.__exit__(None, None, None)
    finally:
        killed = reap_descendants()
        if killed:
            print(f"killed {killed} processes that outlived the run", file=sys.stderr)


def _measure(args, nproc: int, lock_info: dict) -> int:
    import pandas
    import pyarrow
    import pyspark

    from spans import Tracer, job_counts
    from workloads import WORKLOADS, traced_pipeline

    versions = {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                "pandas": pandas.__version__, "python": sys.version.split()[0]}
    phases: dict[str, float] = {}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = round(now - mark, 3)
        mark = now

    probe_before = cpu_probe(nproc)
    phase("probe_s")
    wl = WORKLOADS[args.workload](WORK, args.seed, nproc)
    wl.prepare()
    phase("prepare_s")

    spark, setups = None, []

    def warm_setups(n: int) -> None:
        nonlocal spark
        for _ in range(n):
            spark.stop()
            spark, t = _setup(nproc)
            setups.append(t)

    try:
        spark, t = _setup(nproc)
        setups.append(t)
        wl.materialize(spark)
        phase("materialize_s")  # with the cold set-up
        sc = spark.sparkContext
        spark_conf = dict(sorted(sc.getConf().getAll()))
        docs, enrichment = wl.inputs(spark)
        baseline = _persistent_rdds(sc)

        walls, firsts, problems, digests = [], [], [], []
        attempted = failed = 0
        layers: dict[str, float] = {}
        sampler = RssSampler(sc._gateway.proc.pid)
        sampler.start()

        def attempt(run):
            """Make one call, check it, release what it persisted."""
            nonlocal attempted, failed
            attempted += 1
            try:
                call, kept = run()
            except Exception:
                failed += 1
                problems.append(traceback.format_exc())
                return None
            found, digest = wl.check(call)
            for df in kept:
                df.unpersist(blocking=True)
            if _persistent_rdds(sc) != baseline:
                found.append(f"{_persistent_rdds(sc)} persistent RDDs left, baseline {baseline}")
            if digests and digest != digests[0]:
                found.append(f"output digest {digest} differs from the first call's {digests[0]}")
            digests.append(digest)
            if found:
                failed += 1
                problems.extend(found)
            return call

        def plain():
            call = wl.call(spark, docs, enrichment)
            return call, [call.result["parsed_lines"], call.result["messages"]]

        start = time.perf_counter()
        if args.trace:
            sc.setLocalProperty("spark.jobGroup.id", "pipeline")
            call = attempt(plain)
            sc.setLocalProperty("spark.jobGroup.id", None)
            counts = job_counts(sc, sc.statusTracker().getJobIdsForGroup("pipeline"))
            tracer = Tracer(sc, f"{wl.name}-seed{args.seed}")

            def traced():
                nonlocal layers
                layers, tcall, kept = traced_pipeline(spark, tracer, wl, docs, enrichment)
                return tcall, kept

            tcall = attempt(traced)
            if call is None or tcall is None:
                layers = {}
            else:
                layers.update({f"spark.{k}": v for k, v in counts.items()})
                layers["trace.overhead_s"] = tcall.wall_s - call.wall_s
            spans_path = os.path.join(WORK, f"spans-{wl.name}-seed{args.seed}.json")
            with open(spans_path, "w") as f:
                json.dump(tracer.to_json(), f, indent=1)
        else:
            while True:
                call = attempt(plain)
                if call is None:
                    break
                walls.append(call.wall_s)
                firsts.append(call.first_row_s)
                if time.perf_counter() - start + call.wall_s > args.seconds:
                    break
        peak_mb = sampler.stop()
        phase("calls_s")
        warm_setups(WARM_SETUPS)
        phase("setup_s")
    finally:
        if spark is not None:
            _shutdown(spark)
    phase("shutdown_s")
    probe_after = cpu_probe(nproc)

    env = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": nproc, "cpu_probe_before": probe_before, "cpu_probe_after": probe_after,
        "git_sha": git_sha(), "versions": versions, "host_lock": lock_info,
        "lines_in": wl.lines_in, "phases": phases, "spark_conf": spark_conf,
    }
    print(f"perfbench {wl.name} seed={args.seed} trace={args.trace}")
    print("env " + json.dumps(env))
    for p in problems:
        print("FAILED " + p.rstrip())
    print(f"{'setup_s':<28} {describe(setups, 's')}; cold {setups[0]:.4f} s, warm {' '.join(f'{x:.3f}' for x in setups[1:])}")
    # printed, not in the JSON: it moves with how many Python workers the
    # daemon happens to fork, far beyond any bound a run could hold
    jvm_kb, n_procs = sampler.peak_split
    print(f"{'peak_rss_mb':<28} {peak_mb:.1f} MB (JVM {jvm_kb / 1024:.1f} MB, {n_procs} processes)")
    print(f"{'failed_ratio':<28} {failed}/{attempted}")
    if digests and digests[0] is not None:
        print(f"{'sink_digest':<28} rows={digests[0][0]} checksum={digests[0][1]}")

    correct = failed == 0
    metrics = {}
    if args.trace:
        for k, v in layers.items():
            if k in PRINTED_ONLY:
                print(f"{k:<28} {v:.6g} {_layer_unit(k)} (not in the JSON)")
            else:
                metrics[k] = {"value": v, "unit": _layer_unit(k)}
        for span in tracer.to_json():
            print(f"span {span['name']:<12} {span['duration']:9.4f} s  self {span['self']:9.4f} s  jobs {len(span['jobs'])}")
        print(f"spans written to {spans_path}")
    elif walls:
        wall = statistics.median(walls)
        metrics = {
            "setup_s": {"value": statistics.median(setups), "unit": "s"},
            "wall_s": {"value": wall, "unit": "s"},
            "lines_per_s": {"value": wl.lines_in / wall, "unit": "1/s"},
            "first_row_s": {"value": statistics.median(firsts), "unit": "s"},
        }
        print(f"{'wall_s':<28} {describe(walls, 's')}; calls {' '.join(f'{x:.3f}' for x in walls)}")
        print(f"{'first_row_s':<28} {describe(firsts, 's')}")
    for k, v in metrics.items():
        print(f"{k:<28} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": correct and bool(metrics), "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct and metrics else 1


def _layer_unit(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith(("ratio", "selectivity", "skew")):
        return "ratio"
    return "count"


def run_all(args) -> int:
    """Each workload in its own process, so each one starts Spark cold."""
    rc, summary = 0, {}
    for name in WORKLOAD_NAMES:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True,
        )
        sys.stdout.write(proc.stdout)
        lines = proc.stdout.strip().splitlines()
        summary[name] = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        rc = rc or proc.returncode
    print(json.dumps({"correct": rc == 0, "workloads": summary}))
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=(*WORKLOAD_NAMES, "all"), default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
