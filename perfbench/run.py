"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see ``perfbench/workloads.py``) from the root of a
checkout of the repository, against the ``dask_patternsearch_spark``
package in that checkout.  Everything the run writes -- generated inputs,
ingest state, Spark local dirs, the JVM's and Python's temp files -- goes
under one per-run directory in the checkout, removed at exit.

Prints a readable report, then as its last line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("search_portfolio", "corpus_query", "corpus_ingest")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def task_slots(cores: int) -> int:
    """Spark task slots for a box of ``cores`` cores: one fewer, so the
    JVM's scheduler and the driver keep a core of their own.  Each Python
    task is CPU-bound (measured: ~0.2 s of CPU per task, most of it
    re-reading pyspark's zip directories), so ``local[<cores>]`` keeps
    every core busy with workers and the JVM queues behind them: op times
    then scattered 9% (standard deviation over mean) against 5% with
    ``local[<cores - 1>]`` on a 4-core box."""
    return max(1, cores - 1)


def configure_env(run_dir: str, slots: int) -> None:
    """Environment for this process, the JVM and Spark's Python workers."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # one thread per BLAS/OpenMP pool: Spark's task slots are the parallelism
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(slots)
    # Python workers import the package (and the objective) from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    # JVM temp files in the run dir; no hsperfdata file in the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def read_host() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _children(pid: int) -> list[int]:
    """Every live descendant of ``pid``."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark() -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until each has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    descendants = _children(proc.pid)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 -- the JVM is stopped below either way
        traceback.print_exc()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway server exits on EOF
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 15
    while any(_alive(p) for p in descendants) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in descendants:
        if _alive(p):
            os.kill(p, signal.SIGKILL)
    while any(_alive(p) for p in descendants):
        time.sleep(0.05)


class Loop:
    """Outcome of a closed loop of ops."""

    def __init__(self):
        self.durations: list[float] = []
        self.untraced: list[float] = []
        self.traced: list[tuple[int, object, float]] = []
        self.passed = 0
        self.units = 0


def closed_loop(w, seconds: float, tracer=None, alternate: bool = True,
                n_ops: int | None = None) -> Loop:
    """One client, one op at a time, ops ``1, 2, ...`` until ``seconds``
    have passed (or ``n_ops`` ops ran, or the workload's inputs run out).
    Each op's output is checked outside its timed region.  With a tracer,
    every second op is traced (or every op, if not ``alternate``); the
    loop then runs until at least two ops were traced, so that the exact
    counts of one op can be checked against another's."""
    loop = Loop()
    limit = w.max_ops()
    t_start = time.perf_counter()
    i = 1
    while limit is None or i < limit:
        traced = tracer is not None and (not alternate or i % 2 == 0)
        if traced:
            w.install(tracer)
        t = time.perf_counter()
        try:
            with tracer.op(i) if traced else nullcontext():
                out = w.op(i)
            dur = time.perf_counter() - t
            ok = w.check(i, out)
        except Exception:  # noqa: BLE001 -- an op that raises counts as failed
            dur = time.perf_counter() - t
            traceback.print_exc()
            out, ok = None, False
        finally:
            if traced:
                w.uninstall()
        loop.durations.append(dur)
        if ok:
            loop.passed += 1
            loop.units += w.units(out)
        if traced and out is not None:
            loop.traced.append((i, out, dur))
        elif not traced:
            loop.untraced.append(dur)
        i += 1
        if n_ops is not None:
            if len(loop.durations) >= n_ops:
                break
        elif (time.perf_counter() - t_start >= seconds
              and (tracer is None or len(loop.traced) >= 2)):
            break
    return loop


def traced_layers(w, tracer, loop: Loop) -> tuple[dict, bool]:
    """Per-layer metrics of the traced ops: medians over ops, except the
    exact counts, which come from the first traced op and must repeat on
    every later one."""
    per_op = [w.layer_metrics(tracer, op_id, out) for op_id, out, _d in loop.traced]
    layer = {name: statistics.median(m[name] for m in per_op) for name in per_op[0]}
    counts = [w.exact_counts(m) for m in per_op]
    layer.update(counts[0])
    return layer, all(c == counts[0] for c in counts)


def run(args, run_dir: str, cores: int) -> tuple[dict, list[str]]:
    from dask_patternsearch_spark.session import get_spark

    from perfbench.trace import Tracer
    from perfbench.workloads import (
        WORKLOADS, CorpusIngest, layer_metric_names, layer_unit)

    now = time.perf_counter
    t = now()
    slots = task_slots(cores)
    spark = get_spark(f"perfbench-{args.workload}", cpus=str(slots))
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = now() - t
    w = WORKLOADS[args.workload](spark, args.seed, run_dir, cores, args.seconds)
    t = now()
    w.stage()
    gen_s = now() - t
    t = now()
    w.oracle()
    oracle_s = now() - t
    w.bootstrap()
    warm_s = check_s = 0.0
    correct = True
    for k in range(w.warmup_ops):
        t = now()
        out = w.op(0)
        warm_s += now() - t
        t = now()
        correct = w.check(0, out) and correct
        if k == 0:
            correct = w.full_check() and correct
        check_s += now() - t
    # checks and oracle are the benchmark's own work, not set-up
    setup_s = now() - T_PROCESS - oracle_s - check_s

    tracer = Tracer() if args.trace else None
    if tracer is not None:
        w.scan(tracer)
    steal0, total0 = read_host()
    loop = closed_loop(w, args.seconds, tracer)
    steal1, total1 = read_host()
    host_load = loadavg()
    try:
        final_ok = w.final_check()
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        final_ok = False
    attempted = len(loop.durations)
    failed = attempted - loop.passed
    correct = correct and final_ok and failed == 0
    timed_s = sum(loop.durations)
    p50 = statistics.median(loop.durations)
    report = [
        f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} "
        f"trace={args.trace} cores={cores} master=local[{slots}]",
        f"setup_s {setup_s:.4f} s (session {session_start_s:.3f} s, inputs "
        f"{gen_s:.3f} s, {w.warmup_ops} warm-up op(s) {warm_s:.3f} s; oracle "
        f"{oracle_s:.3f} s and checks {check_s:.3f} s excluded)",
        f"op_p50_s {p50:.4f} s (n={attempted} ops: "
        + ", ".join(f"{d:.3f}" for d in loop.durations) + ")",
        f"ok_frac {loop.passed / attempted:.4f} ratio ({loop.passed}/{attempted}"
        f" ops; final check {'passed' if final_ok else 'FAILED'})",
        f"{w.throughput} {loop.units * w.per_seconds / timed_s:.4f} "
        f"({loop.units} {w.unit} in {timed_s:.3f} s of ops)",
    ]
    report += w.report()
    if args.trace == 0:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (p50, "s"),
            "ok_frac": (loop.passed / attempted, "ratio"),
            "units_per_min": (loop.units * 60.0 / timed_s, "1/min"),
        }
    else:
        layer = {n: 0.0 for n in layer_metric_names()}
        layer["sources.scan_s"] = sum(
            s["end"] - s["start"] for s in tracer.spans
            if s["name"] == "sources.read_table")
        got, repeat = traced_layers(w, tracer, loop)
        layer.update(got)
        layer["trace.overhead_s"] = (
            statistics.median(d for _i, _o, d in loop.traced)
            - statistics.median(loop.untraced))
        if args.workload == "corpus_query":
            # the incremental-ingest layers, on the same MinHash/LSH
            # operators: a leg of ingest ops after the timed window
            leg = CorpusIngest(spark, args.seed, os.path.join(run_dir, "ingest"),
                               cores, args.seconds)
            leg.stage()
            leg.oracle()
            leg.bootstrap()
            leg_ok = leg.check(0, leg.op(0))
            leg_loop = closed_loop(leg, 0.0, tracer, alternate=False, n_ops=1)
            # each ingest op takes a different batch, so its exact counts
            # repeat across runs of one seed, not across ops of one run
            leg_layer, _ = traced_layers(leg, tracer, leg_loop)
            leg_layer.pop("operators.dedup.s")
            layer.update(leg_layer)
            leg_ok = leg_ok and leg.final_check()
            leg_n = len(leg_loop.durations)
            attempted += leg_n
            failed += leg_n - leg_loop.passed
            correct = correct and leg_ok and leg_loop.passed == leg_n
            report.append(
                f"ingest leg: {leg_n} traced op "
                + ", ".join(f"{d:.3f}" for d in leg_loop.durations)
                + f" s; {leg_loop.passed} passed; final check "
                + ("passed" if leg_ok else "FAILED"))
        layer.update({
            "session.start_s": session_start_s, "session.warm_s": warm_s,
            "inputs.gen_s": gen_s,
            "session.jvm_hwm_mb": vm_hwm_mb(
                spark._jvm.java.lang.ProcessHandle.current().pid()),
            "host.steal_pct": 100.0 * (steal1 - steal0) / max(total1 - total0, 1),
            "host.loadavg": host_load,
            "trace.ops": len(loop.traced),
            "trace.counts_repeat": float(repeat),
        })
        correct = correct and repeat
        report.append(f"traced ops {len(loop.traced)}, untraced "
                      f"{len(loop.untraced)}; exact counts "
                      + ("repeat" if repeat else "DIFFER"))
        metrics = {n: (layer[n], layer_unit(n)) for n in layer_metric_names()}
        # the spans, kept in memory until now, go to stderr as JSON lines
        for span in tracer.spans:
            print("span " + json.dumps(span), file=sys.stderr)
    for name, (value, unit) in metrics.items():
        report.append(f"  {name} = {value:.6g} {unit}")
    result = {
        "correct": bool(correct),
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(v), "unit": u}
                    for n, (v, u) in metrics.items()},
    }
    return result, report


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "dask_patternsearch_spark",
                                       "__init__.py")):
        print("perfbench: no dask_patternsearch_spark package in "
              f"{ROOT}; run from a checkout of the repository", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    runs_root = os.path.join(ROOT, ".perfbench_run")
    run_dir = os.path.join(runs_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        configure_env(run_dir, task_slots(cores))
        os.chdir(run_dir)  # anything Spark drops in its cwd lands here too
        sys.path.insert(0, ROOT)
        try:
            result, report = run(args, run_dir, cores)
        finally:
            stop_spark()
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs_root)
        except OSError:  # another run still owns a directory there
            pass
    for line in report:
        print("# " + line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
