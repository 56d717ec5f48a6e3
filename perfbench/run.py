"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. It generates the workload's inputs from
the seed under ``.bench_build/perfbench/``, sets up (imports, session
start, warm-up), runs operations in a closed loop with one client for at
least ``--seconds`` seconds of operation time, checks every operation's
output, and prints one JSON line: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Spark logs and a
human-readable summary go to stderr. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import ctypes
import importlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the module that implements each workload; importing it is part of set-up
WORKLOAD_MODULES = {"curate-small": "perfbench.curation", "registry-mix": "perfbench.registry"}
PR_SET_CHILD_SUBREAPER = 36  # from <linux/prctl.h>


def _tree_stats() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields (after the command name) of this process
    and all its descendants: the driver JVM and its Python workers."""
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stats[int(d)] = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, st in stats.items() if int(st[1]) == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return {p: stats[p] for p in tree if p in stats}


class RssSampler(threading.Thread):
    """Peak summed RSS of this process's descendants, the driver JVM and
    its Python workers, sampled from /proc. This process is left out: it
    also runs the output checks (DuckDB, pandas)."""

    INTERVAL_S = 0.5

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_pages = 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            rss = sum(int(st[21]) for p, st in _tree_stats().items() if p != os.getpid())
            self.peak_pages = max(self.peak_pages, rss)
            self._stop_event.wait(self.INTERVAL_S)

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop_event.set()
        self.join()
        return self.peak_pages * os.sysconf("SC_PAGE_SIZE") / 2**20


def cpu_ticks() -> tuple[int, int]:
    """Machine-wide (busy, stolen) CPU ticks since boot, from /proc/stat:
    busy is user, nice, system, irq and softirq time; stolen is the
    ``steal`` column, time a CPU had work but the hypervisor ran another
    machine. An idle CPU accrues neither."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    return t[0] + t[1] + t[2] + t[5] + t[6], t[7]


def tree_cpu_s() -> float:
    """CPU seconds used by this process and its descendants, reaped
    children included (utime, stime, cutime, cstime)."""
    ticks = sum(int(x) for st in _tree_stats().values() for x in st[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


class Interval:
    """Times a block: ``wall`` seconds, ``stolen`` of them taken by the
    hypervisor, ``s`` = wall − stolen (the time on an uncontended host,
    which every reported time uses) and ``cpu`` seconds used by this
    process tree.

    ``stolen`` is wall × the stolen share of the CPU time that had work
    during the block: the work ran that much slower whether it kept one
    CPU busy or all of them. (Stolen time averaged over all CPUs would
    under-count it whenever some CPUs sat idle.)"""

    def __enter__(self) -> Interval:
        self._t, self._ticks, self._cpu = time.perf_counter(), cpu_ticks(), tree_cpu_s()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._t
        (busy, steal), (busy0, steal0) = cpu_ticks(), self._ticks
        share = (steal - steal0) / max(1, busy - busy0 + steal - steal0)
        self.steal_cpu_s = (steal - steal0) / os.sysconf("SC_CLK_TCK")
        self.stolen = self.wall * share
        self.cpu = tree_cpu_s() - self._cpu
        self.s = self.wall - self.stolen


def configure(work: str) -> dict[str, str]:
    """Environment and Spark settings that keep every file the run writes
    inside ``work`` and make the package importable by Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")  # shuffle and spill
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_MODULES))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".bench_build", "perfbench",
                        f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # orphaned descendants (Python workers whose JVM has exited) are
    # re-parented to this process, so stop_processes can wait for them
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)

    def on_sigterm(*_) -> None:  # no Spark calls: the JVM may be mid-call
        kill_descendants()
        shutil.rmtree(work, ignore_errors=True)
        os._exit(128 + signal.SIGTERM)

    signal.signal(signal.SIGTERM, on_sigterm)
    try:
        return run(args, work)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)


def stop_processes() -> None:
    """Stop the Spark session and its JVM, then every other process this
    run started, and wait until each has ended. Called on every path out
    of the benchmark."""
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        try:
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
        except Exception:  # noqa: BLE001 - the JVM is stopped below regardless
            traceback.print_exc()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001
                traceback.print_exc()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    kill_descendants()


def kill_descendants() -> None:
    """Send SIGTERM, and after a grace time SIGKILL, to every descendant
    of this process, and reap them until none is left."""
    for sig, grace_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, None)):
        for pid in _tree_stats():
            if pid != os.getpid():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = None if grace_s is None else time.monotonic() + grace_s
        while True:  # reap until no child is left, or the grace time is over
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                if deadline is not None and time.monotonic() > deadline:
                    break
                time.sleep(0.05)


def run(args, work: str) -> int:
    conf = configure(work)
    with Interval() as imports:
        from icnarc_to_philips_linkage_spark.session import get_spark
        from perfbench import trace
        module = importlib.import_module(WORKLOAD_MODULES[args.workload])

    wl = module.Workload(work, os.path.join(ROOT, ".bench_build", "perfbench", "cache"),
                         args.seed)
    with Interval() as start:
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
    wl.warm_inputs(spark)  # cached per checkout, not part of set-up
    with Interval() as warm:
        wl.warm(spark, trace.Tracer(spark, False))
    with Interval() as prepare:
        wl.prepare(spark)

    # closed loop, one client: an operation starts when the last ends
    tracer = trace.Tracer(spark, bool(args.trace))
    ops: list[Interval] = []
    spans: list[list[dict]] = []
    failed = 0
    check_s = 0.0
    rss = RssSampler() if args.trace else None
    if rss:
        rss.start()
    for items in wl.passes():
        for item in items:
            mark = len(tracer.spans)
            with Interval() as op:
                try:
                    result, fails = wl.op(spark, item, tracer), []
                except Exception:  # noqa: BLE001 - a failed operation is counted
                    fails = ["operation raised:\n" + traceback.format_exc()]
            ops.append(op)
            spans.append(tracer.spans[mark:])
            if not fails:
                t = time.perf_counter()
                try:
                    fails = wl.check(spark, item, result)
                except Exception:  # noqa: BLE001 - a failed check is counted
                    fails = ["check raised:\n" + traceback.format_exc()]
                check_s += time.perf_counter() - t
            print(f"[{args.workload}] op {item or 'run'}: {op.wall:.3f}s wall, "
                  f"{op.stolen:.3f}s stolen ({op.steal_cpu_s:.2f} cpu-s), "
                  f"{op.cpu:.2f}s cpu", file=sys.stderr)
            if fails:
                failed += 1
                print(f"[{args.workload}] FAILED {item or 'run'}: {fails}", file=sys.stderr)
        if sum(op.wall for op in ops) >= args.seconds:
            break
    peak_rss_mb = rss.stop() if rss else 0.0

    times = [op.s for op in ops]
    setup_s = imports.s + start.s + warm.s
    print(f"[{args.workload}] seed={args.seed} ops={len(ops)} "
          f"median={statistics.median(times):.3f}s setup={setup_s:.2f}s "
          f"(import={imports.s:.2f}s start={start.s:.2f}s warm={warm.s:.2f}s "
          f"stolen={imports.stolen + start.stolen + warm.stolen:.2f}s) "
          f"prepare={prepare.wall:.2f}s checks={check_s:.1f}s failed={failed}/{len(ops)}",
          file=sys.stderr)
    if args.trace:
        from perfbench import layers

        metrics = layers.per_layer(args.workload, wl, start.s, warm.s, peak_rss_mb,
                                   [op.wall for op in ops], spans)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (statistics.median(times), "s"),
            "ops_per_s": (len(times) / sum(times), "1/s"),
            "op_cpu_s": (statistics.median(op.cpu for op in ops), "s"),
            "ok_rate": (1.0 - failed / len(ops), "ratio"),
        }
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
