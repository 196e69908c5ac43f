"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One driver process on ``local[nproc]`` runs
the named workload against the package's public functions: set-up, then
timed passes until ``--seconds`` of pass time has been measured (at least
one). Every operation's output is checked against an oracle after its
pass. The last stdout line is one JSON object::

    {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` records one
span per layer call and reports the per-layer metrics plus the tracing
overhead. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# Hard stop for the measuring loop, far inside the 180 s run limit.
MAX_MEASURE_WALL_S = 90.0
# op_tail_s is this nearest-rank quantile of the run's op latencies.
TAIL_QUANTILE = 0.9
# End-to-end metrics in the JSON result, which BENCHMARK.json bounds. Both
# are CPU seconds. The wall-clock ones are printed only: on a shared VM,
# host steal spread them across seeds by more than the largest bound the
# gate allows (see README).
GATED = ("setup_s", "cpu_s")


def process_start() -> float:
    """Wall-clock start of this process, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def pin_environment(root: str, run_dir: str) -> dict:
    """Environment that makes numbers measure the program, not the host."""
    ncpu = len(os.sched_getaffinity(0))
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    }
    os.environ.update(env)
    tempfile.tempdir = None
    return {"nproc": ncpu}


def descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process below it, reaped children included."""
    total = 0
    for pid in {os.getpid(), *descendants(os.getpid())}:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except OSError:
            pass
    return total / os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other tenants, all CPUs, so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def stop_all(spark) -> None:
    """Stop Spark, end the JVM and every process below this one, and wait."""
    kids = descendants(os.getpid())
    if spark is not None:
        from pyspark import SparkContext

        try:
            spark.stop()
        except Exception as exc:  # a run terminated inside a JVM call
            print(f"perfbench: spark.stop: {exc!r}", file=sys.stderr)
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception as exc:  # the JVM is ended below regardless
                print(f"perfbench: gateway shutdown: {exc!r}", file=sys.stderr)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline:
        kids = {p for p in kids if os.path.exists(f"/proc/{p}")}
        if not kids:
            return
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def corrupt(value):
    """A wrong copy of an operation's output, for tests that show the checks
    catch wrong results."""
    import dataclasses

    import pandas as pd
    from pyspark.sql import Row

    if isinstance(value, pd.DataFrame):
        return value.iloc[:-1]
    if isinstance(value, Row):
        d = value.asDict()
        k = next(iter(d))
        return Row(**{**d, k: d[k] + 1})
    if isinstance(value, tuple):
        return (corrupt(value[0]), *value[1:])
    if dataclasses.is_dataclass(value):
        return dataclasses.replace(value, params=value.params + 1.0)
    return value + 1


class Abort(Exception):
    """An operation raised; the rest of the pass is skipped."""


def nearest_rank(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[max(0, min(len(s) - 1, int(-(-q * len(s) // 1)) - 1))]


class Runner:
    def __init__(self, ctx, wl, corrupt_kind: str | None = None):
        self.ctx, self.wl = ctx, wl
        self.corrupt_kind = corrupt_kind
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.cpu: list[float] = []
        self.steal: list[float] = []
        self.last: list[tuple[str, float]] = []

    def one_pass(self) -> tuple[float, list[float]]:
        """Run one pass; returns its wall time and op latencies. Checks run
        after the pass, outside the timed interval."""
        results = []

        def op(kind, fn, check=None):
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                value = fn()
            except Exception:
                self.failed += 1
                self.errors.append(f"{kind}: {traceback.format_exc()}")
                raise Abort
            results.append((kind, time.perf_counter() - t0, value, check))
            return value

        def checked_value(kind, value):
            return corrupt(value) if kind == self.corrupt_kind else value

        c0, s0 = tree_cpu_s(), host_steal_s()
        t0 = time.perf_counter()
        try:
            self.wl.run_pass(self.ctx, op)
        except Abort:
            pass
        wall = time.perf_counter() - t0
        self.cpu.append(tree_cpu_s() - c0)
        self.steal.append(host_steal_s() - s0)
        self.ctx.tracer.end_pass()
        self.ctx.tracer.uninstall()
        for kind, _, value, check in results:
            if check is None:
                continue
            try:
                check(checked_value(kind, value))
            except Exception:
                self.failed += 1
                self.errors.append(f"{kind} check: {traceback.format_exc()}")
        self.ctx.tracer.ignore_jobs_so_far()
        self.last = [(kind, round(lat, 3)) for kind, lat, _, _ in results]
        return wall, [lat for _, lat, _, _ in results]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true", help="tiny inputs (tests)")
    ap.add_argument("--corrupt", metavar="OP", help="feed a wrong output of OP to its check (tests)")
    args = ap.parse_args(argv)

    t_proc = process_start()
    # a terminated run still stops Spark and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    run_dir = os.path.join(root, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    spark = None
    try:
        host = pin_environment(root, run_dir)
        sys.path.insert(0, root)
        import workloads
        from spans import NullTracer, Tracer

        if args.workload not in workloads.WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}")
        wl = workloads.WORKLOADS[args.workload]()
        from simple_data_workflow_spark import session

        for m in wl.modules:
            importlib.import_module(f"simple_data_workflow_spark.{m}")
        tracer = Tracer() if args.trace else NullTracer()
        tracer.install()  # get_spark itself is a session span
        spark = session.get_spark(app_name=f"perfbench-{args.workload}")
        t_ready, c_ready = time.time(), tree_cpu_s()
        tracer.uninstall()
        spark.sparkContext.setLogLevel("ERROR")

        ctx = workloads.Ctx(spark=spark, root=run_dir, seed=args.seed, tracer=tracer, small=args.small)
        phases = {"session_s": t_ready - t_proc}
        t0 = time.time()
        wl.prepare(ctx)
        phases["prepare_s"] = time.time() - t0
        t0, c0 = time.time(), tree_cpu_s()
        wl.prebuild(ctx)
        phases["prebuild_s"] = time.time() - t0
        # set-up in CPU seconds (process start to session ready, plus the
        # prebuild): steal is not charged to a process, wall time is
        setup_s = c_ready + tree_cpu_s() - c0
        setup_wall_s = (t_ready - t_proc) + phases["prebuild_s"]

        # Passes are measured from a freshly started driver: the first pass
        # pays JIT, code generation and Python-worker start-up, as every
        # batch job submitted to a new driver does.
        runner = Runner(ctx, wl, args.corrupt)
        tracer.ignore_jobs_so_far()  # set-up jobs belong to no pass
        walls, lats = [], []
        t_loop = time.time()
        while sum(walls) < args.seconds and time.time() - t_loop < MAX_MEASURE_WALL_S:
            tracer.install()
            wall, op_lats = runner.one_pass()
            walls.append(wall)
            lats.extend(op_lats)
        lats = lats or walls  # every pass failed at its first operation

        peak = hwm_mb(os.getpid()) + sum(hwm_mb(p) for p in descendants(os.getpid()))
        wall_s = statistics.median(walls)
        for e in runner.errors:
            print(f"perfbench: FAILED {e}", file=sys.stderr)
        la = os.getloadavg()
        info = {
            **host,
            "loadavg": [round(x, 2) for x in la],
            "spark": spark.version,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            "passes": len(walls),
            "ops": len(lats),
            "input_rows": wl.input_rows,
            "phases": phases,
            "walls": [round(w, 3) for w in walls],
            "last_ops": runner.last,
            "cpu": [round(c, 2) for c in runner.cpu],
            "steal": [round(c, 2) for c in runner.steal],
        }
        print("perfbench env " + json.dumps(info, sort_keys=True))
        if args.trace:
            metrics = {k: (v, "s" if k.endswith("_s") else "count") for k, v in tracer.layer_metrics().items()
                       if not k.endswith(".input_records")}
            ratios = dict.fromkeys(workloads.RATIO_METRICS, 0.0)  # 0: not this workload's
            ratios.update(wl.layer_ratios(ctx))
            for k, v in ratios.items():
                metrics[k] = (v, "ratio")
            metrics["peak_rss_mb"] = (peak, "MB")
            metrics["traced_wall_s"] = (wall_s, "s")
            metrics["tracing_overhead_s"] = (tracer.overhead_s, "s")
            metrics = {k: (v, "bytes" if k.endswith("_bytes") else u) for k, (v, u) in metrics.items()}
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "setup_wall_s": (setup_wall_s, "s"),
                "wall_s": (wall_s, "s"),
                "rows_per_s": (wl.input_rows / wall_s, "rows/s"),
                "op_p50_s": (statistics.median(lats), "s"),
                "op_tail_s": (nearest_rank(lats, TAIL_QUANTILE), "s"),
                "cpu_s": (statistics.median(runner.cpu), "s"),
            }
        fail_ratio = runner.failed / max(runner.attempted, 1)
        print(f"perfbench {args.workload} fail_ratio {fail_ratio:.4f} ({runner.failed}/{runner.attempted})")
        for k, (v, u) in metrics.items():
            print(f"perfbench {args.workload} {k} {v:.6g} {u}")
        result = {
            "correct": runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                        if args.trace or k in GATED},
        }
        stop_all(spark)
        spark = None
        print(json.dumps(result))
        return 0
    finally:
        try:
            if spark is not None:
                stop_all(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            parent = os.path.dirname(run_dir)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
