"""perfbench: end-to-end and per-layer benchmark of the sdvg_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One Python process runs ``local[nproc]``
Spark in a closed loop: one client, one job at a time, each pass
starting when the previous one has finished. The first pass is the
cold one; warm passes follow while the next one fits in ``--seconds``
(at least ``MIN_WARM``). Outputs are checked once per run, untimed.
The last line of stdout is the result object; the line before it holds
diagnostics (per-pass times and peak memory, phase times, host-noise
floor, storage left behind, the live-memory split, checks, error rate).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced warm passes and reports the per-layer metrics (see
trace.py and layers.py), plus ``trace.overhead_s``, the traced minus
the untraced median. The pipeline inputs are the tables under
``perfbench/data/``; pinned oracle results, Spark scratch space and
spans live under ``.bench_build/perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass

MIN_WARM = 2


def process_start() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + int(fields[19]) / os.sysconf("SC_CLK_TCK")


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes, each shared page divided
    among the processes that map it."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_pids() -> list[int]:
    """This process and all its descendants (the JVM, the Python workers)."""
    parent = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    me, out = os.getpid(), []
    for pid in parent:
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            out.append(pid)
    return out


class TreeRss:
    """Resident memory of the process tree, sampled every ``period``
    seconds; ``mark()`` gives the peak since the previous mark. It sums
    PSS, not RSS: the Python workers are forked from one daemon, and RSS
    would count the pages they share once per worker."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        total = 0
        for pid in tree_pids():
            try:
                total += pss_bytes(pid)
            except OSError:  # exited since the listing
                pass
        return total

    def _observe(self) -> None:
        v = self.sample()
        with self._lock:
            self.peak = max(self.peak, v)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._observe()
            self._stop.wait(self.period)

    def start(self) -> None:
        self._thread.start()

    def mark(self) -> int:
        self._observe()
        with self._lock:
            peak, self.peak = self.peak, 0
        return peak

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def heap_range(log_path: str) -> tuple[int, int]:
    """[start, end) of the Java heap's reservation, from the JVM's
    gc+heap+coops log."""
    with open(log_path) as f:
        addr, mb = re.findall(r"Heap address: (0x[0-9a-f]+), size: (\d+) MB", f.read())[-1]
    lo = int(addr, 16)
    return lo, lo + int(mb) * 2**20


def smaps_pss(pid: int, lo: int, hi: int) -> tuple[int, int]:
    """(PSS of a process, PSS of its mappings inside [lo, hi))."""
    total = inside = start = end = 0
    with open(f"/proc/{pid}/smaps") as f:
        for line in f:
            head = line.split(" ", 1)[0]
            if head == "Pss:":
                v = int(line.split()[1]) * 1024
                total += v
                inside += v if lo <= start and end <= hi else 0
            elif "-" in head:  # a mapping's header line: start-end perms ...
                a, b = head.split("-")
                start, end = int(a, 16), int(b, 16)
    return total, inside


def live_memory(spark, heap: tuple[int, int]) -> dict:
    """Resident memory of the process tree with the Java heap counted by
    its live bytes after a full collection, not by its resident pages:
    how many of those there are follows how far G1 happened to grow the
    heap, which differs from run to run of the same code by up to 1 GB."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    live = rt.totalMemory() - rt.freeMemory()
    total = heap_pss = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/comm") as f:
                is_jvm = f.read().strip() == "java"
            t, h = smaps_pss(pid, *heap) if is_jvm else (pss_bytes(pid), 0)
        except OSError:  # exited since the listing
            continue
        total += t
        heap_pss += h
    return {"live_mb": (total - heap_pss + live) / 2**20,
            "heap_resident_mb": heap_pss / 2**20,
            "heap_live_mb": live / 2**20}


@dataclass
class Ctx:
    spark: object
    status: object
    root: str
    work: str
    fixture: str
    seed: int
    nproc: int
    pinned: dict


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def calib_floor() -> float:
    """Host-noise floor: the repo's frf kernel on 1e6 u64, single thread
    (bench.py's calib_floor_probe). A pass whose floor is well above the
    run's usual one ran on a busy host."""
    import numpy as np

    from sdvg_spark.core.rng import frf_np

    x = np.arange(1_000_000, dtype=np.uint64)
    t0 = time.perf_counter()
    frf_np(x)
    return time.perf_counter() - t0


def live_broadcasts(sc) -> int:
    """Broadcast variables whose blocks the JVM's block manager still holds."""
    it = sc._jvm.org.apache.spark.SparkEnv.get().blockManager().blockInfoManager().entries()
    n = 0
    while it.hasNext():
        n += re.fullmatch(r"broadcast_\d+", it.next()._1().name()) is not None
    return n


def hygiene(spark, status) -> dict:
    """Release what a pass cached and record what it left behind."""
    sc = spark.sparkContext
    left = {"persisted_rdds": len(sc._jsc.getPersistentRDDs()),
            "live_broadcasts": live_broadcasts(sc)}
    spark.catalog.clearCache()
    left["persisted_rdds_after_clear"] = len(sc._jsc.getPersistentRDDs())
    left["storage_mem_bytes"] = sum(e["memoryUsed"] for e in status.get("/executors"))
    return left


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def main() -> int:
    t_proc = process_start()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "sdvg_spark", "__init__.py"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print("perfbench: run from the repository root (sdvg_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import fixture
    from perfbench.workloads import OPS_QUERIES, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    # names and units of the per-layer metrics live in BENCHMARK.json;
    # layers.py only adds what each one should move
    from perfbench.layers import MOVES

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        per_layer = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    if set(per_layer) != set(MOVES):
        print(f"perfbench: BENCHMARK.json per_layer and layers.MOVES differ: "
              f"{sorted(set(per_layer) ^ set(MOVES))}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    build = os.path.join(root, ".bench_build", "perfbench")
    work = os.path.join(build, "work")
    os.makedirs(os.path.join(build, "tmp"), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(build, "spark-local"),
        "TMPDIR": os.path.join(build, "tmp"),
        # the heap's address range, so live_memory can tell heap pages apart
        "PYSPARK_SUBMIT_ARGS": (f'--driver-java-options "-Djava.io.tmpdir={build}/tmp '
                                f'-Xlog:gc+heap+coops=debug:file={build}/jvm-heap.log" pyspark-shell'),
    })

    phases: dict[str, float] = {}
    t0 = time.time()
    fix, phases["pin_build_s"] = fixture.ensure(build, OPS_QUERIES)
    phases["fixture_s"] = time.time() - t0
    with open(os.path.join(fix, "oracle.json")) as f:
        pinned = json.load(f)

    rss = TreeRss()
    rss.start()
    import pyarrow
    import pyspark

    from perfbench.trace import PYTHON_METRICS, SPARK_KEYS, SparkStatus, Tracer, inclusive, totals, traced
    from sdvg_spark.session import get_spark

    master = f"local[{nproc}]"
    spark = get_spark(app_name="perfbench", master=master)
    spark.range(1).collect()
    # the oracle pin is built once per checkout; loading the program to
    # compute its key is set-up every run pays
    setup_s = time.time() - t_proc - phases["pin_build_s"]
    phases["setup_s"] = setup_s
    spark.sparkContext.setLogLevel("ERROR")
    status = SparkStatus(spark)

    w = WORKLOADS[args.workload](Ctx(spark, status, root, work, fix, args.seed, nproc, pinned))
    passes: list[dict] = []
    layer_runs: list[dict] = []
    raised = 0

    def one_pass(trace_it: bool) -> dict:
        nonlocal raised
        i = len(passes)
        if i:
            w.drop_output(i - 1)
        rec = {"i": i, "traced": trace_it, "calib_floor_s": calib_floor()}
        steal0, total0 = cpu_ticks()
        rss.mark()

        def body(tr):
            t0 = time.perf_counter()
            r = w.run_pass(i, tr)
            rec["wall_s"] = time.perf_counter() - t0
            rec.update(r)

        try:
            if trace_it:
                tr, by_span, recon = traced(spark, status, w.wrap, body)
            else:
                body(Tracer(spark, enabled=False))
        except Exception as e:  # counted in error_rate, the run goes on
            raised += 1
            rec.update(wall_s=None, error=repr(e)[:500])
        if trace_it and rec["wall_s"] is not None:
            lay = w.layer_figures(tr, lambda s: inclusive(tr, by_span, s), i)
            tot = totals(by_span)
            lay.update({f"spark.{k}": tot[k] for k in SPARK_KEYS})
            lay.update({f"python.{k}": tot[k] for k in PYTHON_METRICS.values()})
            lay["python.share"] = tot["run_s"] / tot["executor_run_s"] if tot["executor_run_s"] else 0.0
            for k, v in recon.items():
                if k.startswith("unattributed_"):
                    lay[f"trace.{k}"] = v
            rec["reconcile"] = recon
            layer_runs.append(lay)
            tr.dump(os.path.join(build, f"spans-{w.name}-{args.seed}-p{i}.json"), by_span)
        rec["peak_rss_mb"] = rss.mark() / 2**20
        steal1, total1 = cpu_ticks()
        # share of the host's CPU time the hypervisor gave to others
        rec["steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
        rec["left_behind"] = hygiene(spark, status)
        passes.append(rec)
        return rec

    t0 = time.time()
    one_pass(False)  # cold
    phases["cold_s"] = time.time() - t0
    # warm passes until the next one would end after --seconds
    t_warm = time.perf_counter()
    n_warm, pass_s = 0, 0.0
    while n_warm < MIN_WARM or time.perf_counter() - t_warm + pass_s <= args.seconds:
        t0 = time.perf_counter()
        one_pass(False)
        if args.trace:
            one_pass(True)
        pass_s = time.perf_counter() - t0
        n_warm += 1
    phases["warm_s"] = time.perf_counter() - t_warm
    rss.stop()
    memory = live_memory(spark, heap_range(os.path.join(build, "jvm-heap.log")))
    last = len(passes) - 1

    t0 = time.time()
    try:
        checks = w.check(last)
    except Exception as e:
        checks = [("check", False, repr(e)[:500])]
    w.drop_output(last)
    phases["check_s"] = time.time() - t0
    probes = {}
    if args.trace:
        t0 = time.time()
        probes, probe_checks = w.probes()
        checks += probe_checks
        phases["probes_s"] = time.time() - t0
    t0 = time.time()
    stop_spark(spark)
    phases["stop_s"] = time.time() - t0

    # error accounting: every timed operation counts once; a wrong output
    # fails each execution of the operation it belongs to
    n_ops = len(w.op_names)
    attempted = len(passes) * n_ops
    bad = {name for name, ok, _ in checks if not ok}
    wrong_ops = n_ops if bad - set(w.op_names) else len(bad)
    failed = min(attempted, raised * n_ops + len(passes) * wrong_ops)

    warm = [p for p in passes[1:] if p["wall_s"] is not None and not p["traced"]]
    diag = {
        "workload": w.name, "seed": args.seed, "trace": args.trace,
        "master": master, "nproc": nproc,
        "versions": {"python": sys.version.split()[0], "pyspark": pyspark.__version__,
                     "pyarrow": pyarrow.__version__},
        "phases": phases,
        "memory": memory,
        "passes": passes,
        "checks": checks,
        "error_rate": failed / attempted,
    }
    print(json.dumps({"perfbench_diagnostics": diag}, default=str))
    if passes[0]["wall_s"] is None or not warm:
        print("perfbench: no cold or no warm pass completed; nothing to report", file=sys.stderr)
        return 1

    metrics: dict[str, dict] = {}

    def put(name, value, unit):
        metrics[name] = {"value": value, "unit": unit}

    if not args.trace:
        put("setup_s", setup_s, "s")
        put("cold_wall_s", passes[0]["wall_s"], "s")
        wall = statistics.median(p["wall_s"] for p in warm)
        put("wall_s", wall, "s")
        put("rows_per_s", warm[-1]["rows"] / wall, "1/s")
        per_op = {op: statistics.median(p["times"][op] for p in warm) for op in warm[0]["times"]}
        put("query_geomean_s", geomean(per_op.values()), "s")
        put("live_mb", memory["live_mb"], "MB")
    else:
        # the median of the warm passes' peaks: one pass that meets a
        # collection late does not decide the run's figure
        probes["peak_rss_mb"] = statistics.median(p["peak_rss_mb"] for p in warm)
        probes["jvm.heap_resident_mb"] = memory["heap_resident_mb"]
        probes["jvm.heap_live_mb"] = memory["heap_live_mb"]
        # the first warm pass still runs partly unoptimised JVM code and
        # is 10-20% slower than later ones; it is left out of the baseline
        traced_walls = [p["wall_s"] for p in passes if p["traced"] and p["wall_s"] is not None]
        baseline = statistics.median(p["wall_s"] for p in (warm[1:] or warm))
        probes["trace.overhead_s"] = statistics.median(traced_walls) - baseline if traced_walls else 0.0
        for name, unit in per_layer.items():
            if name in probes:
                v = probes[name]
            else:
                v = statistics.median(lr.get(name, 0.0) for lr in layer_runs) if layer_runs else 0.0
            put(name, float(v), unit)

    print(json.dumps({
        "correct": failed == 0 and not bad,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
