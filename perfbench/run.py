"""Benchmark of geo_polygonize_spark's public operators on this host.

    python3 perfbench/run.py --workload cover --seed 1 --seconds 3 --trace 0

One closed-loop client (this process) drives one ``local[<cpus>]``
Spark session. A run starts the session and builds the inputs of the
workload's first operation, runs that operation cold (``first_op_s``),
then finishes the set-up. It then takes each operation in turn, the
first one last: its untimed warm-up runs, then timed runs back to back
for the operation's share of ``--seconds``, at least two. ``setup_s``
is the set-up and the warm-up runs. Each timed run records its wall
time and the CPU seconds of the process tree. The run reports the sum
of the operations' median CPU seconds (``round_cpu_s``); the traced run
also reports the sum of their median wall times (``round_s``), each
median (``op1_s`` .. ``op3_s``, ``op1_cpu_s`` .. ``op3_cpu_s``) and
``first_op_s``. Every operation's
row count is checked, and the latest results are checked in depth.
``--trace 1`` traces every second run of an operation instead, prints
one layer table per operation and reports the per-layer metrics. The
last line of standard output is the JSON result; see
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

from sparktrace import SparkTrace, layer_rows
from workloads import WORKLOADS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def log(kind: str, payload) -> None:
    print(f"perfbench {kind} {json.dumps(payload, sort_keys=True)}", flush=True)


# ------------------------------------------------------------ host stamps
def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    steal = v[7] if len(v) > 7 else 0
    return steal, sum(v[:8])


def steal_share(before, after) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def proc_table() -> dict:
    """pid → (ppid, CPU ticks, vsize, RSS pages) of every process, from
    /proc/<pid>/stat. CPU ticks are user + system time, reaped children's
    included; the kernel leaves stolen time out of them."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            procs[int(d)] = (int(fields[1]), sum(map(int, fields[11:15])),
                             int(fields[20]), int(fields[21]))
        except (OSError, IndexError):
            continue
    return procs


def process_tree(procs: dict) -> list[int]:
    """This process and all its descendants."""
    children = {}
    for pid, (ppid, *_) in procs.items():
        children.setdefault(ppid, []).append(pid)
    tree, frontier = [], [os.getpid()]
    while frontier:
        pid = frontier.pop()
        tree.append(pid)
        frontier.extend(children.get(pid, ()))
    return tree


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process tree (driver python, JVM,
    python workers)."""
    procs = proc_table()
    return sum(procs[p][1] for p in process_tree(procs) if p in procs) / os.sysconf("SC_CLK_TCK")


class TreeRss:
    """Peak summed RSS of this process and all its descendants (driver
    python, JVM, python workers), sampled from /proc.

    A child caught between fork and exec still maps its parent's memory
    and reports the parent's vsize and about its RSS (the JVM spawns
    helper commands for local file permissions); a child with its
    parent's vsize is not counted, or one sample would count the JVM
    twice. A python worker just forked from its daemon shares all its
    pages with the daemon, so skipping it counts nothing twice either."""

    PERIOD_S = 0.1

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> int:
        procs = proc_table()
        total = 0
        for pid in process_tree(procs):
            ppid, _, vsize, rss = procs.get(pid, (0, 0, 0, 0))
            if procs.get(ppid, (0, 0, None, 0))[2] != vsize:
                total += rss
        return total * self._page

    def _loop(self):
        while not self._stop.wait(self.PERIOD_S):
            self.peak = max(self.peak, self._sample())

    def __enter__(self):
        self.peak = self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._sample())


# ---------------------------------------------------------------- session
def start_session(work: Path, cpus: int, heap: str):
    """Hermetic local session: package on the workers' path, every
    scratch file under ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    from geo_polygonize_spark.plans import build_session

    return build_session(
        "perfbench", cores=cpus,
        extra_conf={
            "spark.driver.memory": heap,
            "spark.local.dir": str(work / "local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # a fixed-size, pre-touched heap: the JVM's share of
            # peak_rss_mb is then the heap size, whenever the heap would
            # have grown or been touched; jvm.old_gen_peak_mb (traced)
            # shows what the heap retains
            "spark.driver.extraJavaOptions":
                f"-Xms{heap} -XX:+AlwaysPreTouch -Dio.netty.tryReflectionSetAccessible=true "
                f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the python worker
    daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------------ runs
class Tally:
    """Operations attempted and failed (errors and failed checks)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def fail(self, reason: str) -> None:
        self.failed += 1
        log("failure", {"reason": reason})


def run_op(op, tally: Tally, call) -> tuple[float, float, object] | None:
    """One timed operation; returns (wall time, CPU seconds of the
    process tree, result), or None if it failed."""
    if op.prepare is not None:
        op.prepare()
    tally.attempted += 1
    st0 = cpu_times()
    c0 = tree_cpu_s()
    t0 = time.perf_counter()
    try:
        out = call()
    except Exception as e:  # an operation failure is a measured outcome
        traceback.print_exc(file=sys.stderr)
        tally.fail(f"{op.name}: {type(e).__name__}: {e}"[:300])
        return None
    wall = time.perf_counter() - t0
    cpu = tree_cpu_s() - c0
    steal = steal_share(st0, cpu_times())
    rows = out if isinstance(out, int) else len(out)
    reason = op.expect(rows)
    if reason:
        tally.fail(reason)
    log("op", {"op": op.name, "wall_s": round(wall, 4), "rows": rows, "cpu_s": round(cpu, 2),
                "steal": round(steal, 4)})
    return wall, cpu, out


def known_defect_probe(seed: int) -> dict:
    t0 = time.perf_counter()
    try:
        p = subprocess.run(
            [sys.executable, str(HERE / "defect_probe.py"), "--seed", str(seed)],
            capture_output=True, text=True, timeout=60,
        )
        failed, reason = p.returncode != 0, p.stdout.strip() or p.stderr.strip()[-300:]
    except subprocess.TimeoutExpired:  # run() has killed and reaped the child
        failed, reason = True, "timed out after 60 s"
    out = {"failed": failed, "reason": reason, "wall_s": round(time.perf_counter() - t0, 3),
           "defect": "kernels/coverage.py CoverageIndex.query expands each point to every hole ring"}
    log("known_defect", out)
    return out


def jvm_old_gen_peak_mb(spark) -> float:
    """Peak usage of the JVM's old-generation heap pool: what outlives
    young collections (persisted data, broadcasts, the status stores).
    The young pools fill up to their adaptive size whatever the load."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
               if p.getType().name() == "HEAP" and ("Old" in p.getName() or "Tenured" in p.getName())
               ) / 2**20


def measure(wl, ops, seconds: float, trace: bool, tally: Tally):
    """Each operation in turn: its warm-up runs, then timed runs back to
    back for its share of ``seconds`` and at least two; a short operation
    thus gets more samples. The first operation goes last, so that its
    samples are not taken while the JVM is still compiling the session's
    first code. With ``trace``, every second timed run is traced.
    Returns (warm-up seconds, untraced (wall, CPU) pairs, traced
    walls, latest trace), the last three by operation; stops at the
    first failed run."""
    tracer = SparkTrace(wl.spark)
    warm_s, plain, traced, traces = 0.0, {}, {}, {}
    for op in ops[1:] + ops[:1]:
        plain[op.name], traced[op.name] = [], []
        t0 = time.perf_counter()
        for _ in range(op.warm_runs):
            if run_op(op, tally, op.run) is None:
                return warm_s, plain, traced, traces
        warm_s += time.perf_counter() - t0
        t_end = time.perf_counter() + seconds / len(ops)
        k = 0
        while k < 2 or time.perf_counter() < t_end:
            use_trace = trace and k % 2 == 1
            r = run_op(op, tally, (lambda: wl.traced_run(tracer, op)) if use_trace else op.run)
            if r is None:
                return warm_s, plain, traced, traces
            wall, cpu, wl.last[op.name] = r
            if use_trace:
                traced[op.name].append(wall)
                traces[op.name] = tracer.calls[-1]
            else:
                plain[op.name].append((wall, cpu))
            k += 1
    return warm_s, plain, traced, traces


def print_tables(wl, traces, overhead) -> float:
    """One layer table per operation; returns the summed unattributed s."""
    unattributed = 0.0
    for op, call in traces.items():
        rows = layer_rows(call, wl.layer_of(op), wl.table_kernels(op))
        unattributed += rows[-1][1]
        print(f"layer table: {wl.name}.{op} wall {call.wall_s:.4f} s "
              f"(jobs {call.jobs}, stages {call.stages}, tracing overhead {overhead.get(op, 0.0):+.4f} s, "
              f"store read {call.read_s:.4f} s)")
        for name, v in rows:
            print(f"  {name:<40} {v:9.4f} s  {v / call.wall_s:6.1%}")
        print(f"  {'sum':<40} {sum(v for _, v in rows):9.4f} s")
        print(f"  counters: shuffle {call.shuffle_bytes:.0f} B, input {call.input_bytes:.0f} B, "
              f"spill {call.spill_bytes:.0f} B, python workers {call.py_worker_s:.3f} task-s, "
              f"arrow to/from python {call.arrow_to_py_bytes:.0f}/{call.arrow_from_py_bytes:.0f} B, "
              f"task skew {call.task_skew:.2f}")
    return unattributed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # numpy's generators take only non-negative seeds, and the probe's
    # record ids are derived from the seed, so any integer is folded
    # into [0, 2**32) first
    seed = args.seed % 2**32
    t_start = time.perf_counter()

    if not (ROOT / "geo_polygonize_spark" / "__init__.py").is_file():
        print(f"perfbench: package geo_polygonize_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    work = ROOT / ".perfbench_work"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir()
    cpus = len(os.sched_getaffinity(0))
    mem = mem_total_bytes()
    heap_mb = max(1024, min(4096, mem // 8 // 2**20))
    stamp = {"workload": args.workload, "seed": args.seed, "input_seed": seed, "seconds": args.seconds,
             "trace": args.trace, "cpus": cpus, "mem_total_mb": mem // 2**20,
             "driver_heap_mb": heap_mb}
    log("stamp", stamp)

    tally = Tally()
    first_s, plain, traced, traces, layers, check_s = 0.0, {}, {}, {}, {}, 0.0
    with TreeRss() as rss:
        st0 = cpu_times()
        t0 = time.perf_counter()
        spark = start_session(work, cpus, f"{heap_mb}m")
        session_s = time.perf_counter() - t0
        try:
            wl = WORKLOADS[args.workload](spark, seed, work)
            # set-up, part 1: what the first operation needs, so that it
            # is the session's first package call
            t0 = time.perf_counter()
            wl.setup_timings = wl.setup()
            setup_s = session_s + time.perf_counter() - t0
            ops = wl.ops()
            first = run_op(ops[0], tally, ops[0].run)
            if first is not None:
                first_s, _, wl.last[ops[0].name] = first
                # set-up, part 2: the rest of the inputs
                t0 = time.perf_counter()
                wl.setup_timings.update(wl.finish_setup())
                setup_s += time.perf_counter() - t0
                warm_s, plain, traced, traces = measure(wl, ops, args.seconds, bool(args.trace), tally)
                setup_s += warm_s
                log("setup", {"session_s": round(session_s, 4), "setup_s": round(setup_s, 4),
                              "warm_s": round(warm_s, 4),
                              **{k: round(v, 4) for k, v in wl.setup_timings.items()}})
            t0 = time.perf_counter()
            complete = bool(plain) and all(plain.get(op.name) for op in ops)
            if complete:
                try:
                    reasons = wl.check()
                except Exception as e:  # a check that cannot run has failed
                    traceback.print_exc(file=sys.stderr)
                    reasons = [f"check: {type(e).__name__}: {e}"[:300]]
                for reason in reasons:
                    tally.fail(reason)
            check_s = time.perf_counter() - t0
            if args.trace and complete:
                layers = {**wl.layer_metrics(traces),
                          "jvm.old_gen_peak_mb": jvm_old_gen_peak_mb(spark)}
        finally:
            stop_session(spark)
        run_steal = steal_share(st0, cpu_times())
    # outside the RSS sampler: the probe's child may fill its 1 GiB cap
    defect = known_defect_probe(seed) if wl.name == "probe" else None

    med = {op: statistics.median(w for w, _ in r) for op, r in plain.items() if r}
    med_cpu = {op: statistics.median(c for _, c in r) for op, r in plain.items() if r}
    summary = {
        "first_op_s": round(first_s, 4),
        "op_walls_s": {k: [round(w, 4) for w, _ in r] for k, r in plain.items()},
        "op_median_s": {k: round(v, 4) for k, v in med.items()},
        "op_cpu_median_s": {k: round(v, 2) for k, v in med_cpu.items()}, "steal": round(run_steal, 4),
        "peak_rss_mb": round(rss.peak / 2**20, 1), "check_s": round(check_s, 4),
        "run_s": round(time.perf_counter() - t_start, 4),
    }
    log("summary", summary)

    # the end-to-end figures by their per-operation names; fail_ratio
    # counts the known-defect probe too, so the defect stays visible
    defect_failed = int(bool(defect and defect["failed"]))
    figures = {
        "setup_s": [setup_s, "s"], "first_op_s": [first_s, "s"],
        "peak_rss_mb": [rss.peak / 2**20, "MB"],
        "fail_ratio": [(tally.failed + defect_failed) / (tally.attempted + (defect is not None)), "1"],
    }
    if med:
        figures.update({k: [v, u] for k, (v, u) in wl.throughput(med).items()})
    log("figures", {k: [round(v, 4), u] for k, (v, u) in figures.items()})

    correct = tally.failed == 0 and complete
    if args.trace:
        overhead = {}
        for op, w in traced.items():
            if w and op in med:
                overhead[op] = statistics.median(w) - med[op]
        unattributed = print_tables(wl, traces, overhead) if traces else 0.0
        call_list = list(traces.values())
        metrics = {
            "spark.plan_s": sum(c.plan_s for c in call_list),
            "spark.gap_s": sum(c.gap_s for c in call_list),
            "spark.jobs": sum(c.jobs for c in call_list),
            "spark.stages": sum(c.stages for c in call_list),
            "spark.task_skew": max((c.task_skew for c in call_list), default=0.0),
            "spark.spill_bytes": sum(c.spill_bytes for c in call_list),
            "trace.overhead_s": sum(overhead.values()),
            "trace.store_read_s": sum(c.read_s for c in call_list),
            "unattributed_s": unattributed,
            "coverage.defect_probe_failed": 0,
            "first_op_s": first_s,
            "round_s": sum(med.values()),
            **{f"op{i}_s": med.get(op.name, 0.0) for i, op in enumerate(ops, 1)},
            **{f"op{i}_cpu_s": med_cpu.get(op.name, 0.0) for i, op in enumerate(ops, 1)},
            **layers,
        }
        if defect is not None:
            metrics["coverage.defect_probe_failed"] = int(defect["failed"])
        per_layer = json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]
        metrics = {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in per_layer}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "round_cpu_s": {"value": sum(med_cpu.values()), "unit": "s"},
            "peak_rss_mb": {"value": rss.peak / 2**20, "unit": "MB"},
        }
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": tally.attempted, "failed": tally.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
