"""Seeded, layer-traced benchmark of the webdq quality filter and near-dup paths.

    python3 perfbench/run.py --workload {quality,neardup} --seed N --seconds S --trace {0,1}

Run from the root of a webdq checkout. One process drives a local[nproc]
Spark session with one closed-loop client. The last line of standard output
is a JSON object: correct, attempted, failed and metrics (end-to-end metrics
with --trace 0, per-layer metrics with --trace 1). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def prepare_env(work: str) -> dict:
    """Process-wide settings every Spark process inherits: the repo on the
    Python workers' path, scratch space inside the checkout, and CPU
    affinity pinned to the nproc cores it may use."""
    cores = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, cores)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Both JVMs (spark-submit's launcher and the driver) keep their temp
    # files inside the checkout and write no /tmp/hsperfdata_* entry.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    sys.path.insert(0, ROOT)
    return {"nproc": len(cores), "load_before": load_average(), "cpu_before": cpu_times()}


def load_average() -> str:
    return " ".join(f"{x:.2f}" for x in os.getloadavg())


def cpu_times() -> list[int]:
    """Host-wide CPU jiffies from /proc/stat; index 7 is steal time, the
    share a hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def build_spark(work: str, nproc: int, trace: bool):
    from webdq.session import build_session

    conf = {
        "spark.driver.memory": "2g",
        # A fixed-size heap with a throughput collector keeps the JVM's
        # resident high-water mark steady from run to run (G1's adaptive
        # sizing moved it by ~20% between runs of one seed).
        "spark.driver.extraJavaOptions": "-XX:+UseParallelGC -Xms2g -Xmn768m",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    spark = build_session(f"local[{nproc}]", app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class RssSampler:
    """Peak resident memory of the driver JVM (its own high-water mark)
    plus the Python workers it has forked, sampled between operations."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_kb = 0
        self.at_peak = ""

    @staticmethod
    def _hwm_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                return next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            return 0

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children.setdefault(ppid, []).append(int(entry))
        jvm, todo, workers = self._hwm_kb(self.jvm_pid), list(children.get(self.jvm_pid, [])), []
        while todo:
            pid = todo.pop()
            workers.append(self._hwm_kb(pid))
            todo += children.get(pid, [])
        if jvm + sum(workers) > self.peak_kb:
            self.peak_kb = jvm + sum(workers)
            self.at_peak = f"JVM {jvm / 1024:.0f} MB + {len(workers)} Python processes {sum(workers) / 1024:.0f} MB"


def tail_percentile(xs: list[float]) -> tuple[int, float] | None:
    """Highest whole percentile above the median with at least ten samples
    beyond it, and its value; None when there are too few samples."""
    n = len(xs)
    p = next((p for p in range(99, 50, -1) if n * (100 - p) // 100 >= 10), None)
    return None if p is None else (p, statistics.quantiles(xs, n=100, method="inclusive")[p - 1])


def stop_spark(spark) -> None:
    """Stop the session, then end the driver JVM and wait until it exits
    (the JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def timed_op(w, i, tr, spark) -> tuple[float, object]:
    spark.catalog.clearCache()
    t = time.perf_counter()
    with tr.run(i):
        out = w.op(i, tr)
    return time.perf_counter() - t, out


def measure(args, work: str, env: dict) -> dict:
    from perfbench import trace as tracing
    from perfbench.workloads import WORKLOADS

    t_setup = time.perf_counter()
    spark = build_spark(work, env["nproc"], bool(args.trace))
    try:
        rss = RssSampler(spark._jvm.java.lang.ProcessHandle.current().pid())
        session_s = time.perf_counter() - t_setup
        w = WORKLOADS[args.workload](spark, work, args.seed, env["nproc"])
        w.setup()
        gen_s = time.perf_counter() - t_setup - session_s
        plain = tracing.NoTrace()
        warm = []
        for i in range(w.warmup_ops):
            wall, out = timed_op(w, i, plain, spark)
            w.cleanup(out)
            warm.append(wall)
            rss.sample()
        setup_s = time.perf_counter() - t_setup
        t = time.perf_counter()
        w.setup_oracle()
        oracle_s = time.perf_counter() - t

        tracer = tracing.Tracer(spark) if args.trace else None
        walls = {"untraced": [], "traced": []}
        tries = {"untraced": 0, "traced": 0}
        failed = attempted = 0
        start, i = time.perf_counter(), len(warm)
        while time.perf_counter() - start < args.seconds or (tracer and not tries["traced"]):
            mode = "traced" if tracer and tries["traced"] < tries["untraced"] else "untraced"
            tries[mode] += 1
            tr = tracer if mode == "traced" else plain
            attempted += 1
            try:
                wall, out = timed_op(w, i, tr, spark)
                fails = w.check(i, out, tr)
                w.cleanup(out)
            except Exception:  # an operation that raises counts as failed; the loop goes on
                traceback.print_exc()
                fails = ["operation raised"]
            else:
                walls[mode].append(wall)
            rss.sample()
            if fails:
                failed += 1
                print(f"operation {i} ({mode}) failed: {'; '.join(fails)}", file=sys.stderr)
            i += 1
        loop_s = time.perf_counter() - start
    finally:
        stop_spark(spark)
    env["load_after"] = load_average()
    delta = [b - a for a, b in zip(env["cpu_before"], cpu_times())]
    env["steal"] = f"{delta[7] / max(1, sum(delta)):.1%}"
    ops = walls["untraced"]
    summary = [
        f"workload {args.workload} seed {args.seed}: nproc {env['nproc']}, "
        f"load average {env['load_before']} before, {env['load_after']} after, CPU steal {env['steal']}",
        f"set-up {setup_s:.2f} s: session {session_s:.2f} s, inputs {gen_s:.2f} s, {len(warm)} warm-up operations "
        f"({', '.join(f'{x:.2f}' for x in warm)} s); oracle {oracle_s:.2f} s",
        f"{attempted} operations in {loop_s:.1f} s, {failed} failed or incorrect "
        f"(error rate {failed / attempted:.3f}); peak RSS {rss.at_peak}",
        f"untraced operations: n={len(ops)}, p50 {statistics.median(ops):.3f} s, walls "
        f"{', '.join(f'{x:.2f}' for x in ops)} s" if ops else "no untraced operation",
    ]
    tail = tail_percentile(ops)
    summary.append(f"tail: p{tail[0]} {tail[1]:.3f} s" if tail else
                   f"tail: no percentile has ten samples beyond it at n={len(ops)}; not reported")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if tracer:
        log_dir = os.path.join(work, "eventlog")
        groups = tracing.event_log_counts(os.path.join(log_dir, os.listdir(log_dir)[0]))
        m = tracing.layer_metrics(tracer, groups, walls["traced"], walls["untraced"])
        units = tracing.metric_units()
        result["metrics"] = {k: {"value": m[k], "unit": units[k]} for k in units}
        out_dir = os.path.join(HERE, "_out")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
        tracing.write_report(stem + "-report.md", args.workload, args.seed, m, env, len(walls["traced"]))
        with open(stem + "-spans.json", "w") as f:
            json.dump(tracer.spans, f)
        summary.append(f"trace report: {os.path.relpath(stem, ROOT)}-report.md")
    else:
        result["metrics"] = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "batch_p50_s": {"value": statistics.median(ops), "unit": "s"},
            "docs_per_s": {"value": w.docs_per_op * len(ops) / sum(ops), "unit": "1/s"},
            "peak_rss_mb": {"value": rss.peak_kb / 1024, "unit": "MB"},
        }
    for line in summary:
        print(line)
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["quality", "neardup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "webdq", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: {ROOT} is not a webdq checkout (no webdq/ or __spark_entry__.py)", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        env = prepare_env(work)
        result = measure(args, work, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's scratch space is still there
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
