"""Run one workload of the benchmark and print one JSON result line.

    python3 perfbench/run.py --workload build_few_groups --seed 1 \\
        --seconds 20 --trace 0

One closed-loop client in this process runs the workload's timed ops
back to back on a fresh `local[nproc]` session until `--seconds` have
passed, checks every op's output outside the timed region, and prints
as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the session writes a Spark event log and the metrics are the per-layer
ones (see README.md in this directory).  Every run also writes a record
with its environment and raw samples under perfbench/results/.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
RESULTS_DIR = os.path.join(BENCH_DIR, "results")
WORKLOADS = ("build_few_groups", "build_many_groups", "sketch_query")
DRIVER_MEM = "4g"
TAIL_PCT = 75


def metric_units(kind: str) -> dict:
    """{name: unit} of the "end_to_end" or "per_layer" metrics that
    BENCHMARK.json declares; a run reports exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--files", type=int, default=None,
                   help="corpus size; the workload's default when omitted")
    return p.parse_args(argv)


# --------------------------------------------------------------------------
# environment
# --------------------------------------------------------------------------


def pin_environment(work: str, trace: bool) -> None:
    """Keep every file the run writes inside `work` and size the session
    for this box; must run before pyspark starts its JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"file://{work}/warehouse",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    # -XX:-UseDynamicNumberOfCompilerThreads keeps the JIT threads alive,
    # so cpu_seconds() can leave out all the time they spend
    args = [f"--driver-java-options=-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads"]
    args += [f"--conf={k}={v}" for k, v in confs.items()]
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_SUBMIT_ARGS": shlex.join(args + ["pyspark-shell"]),
    })
    time.tzset()
    tempfile.tempdir = tmp  # gettempdir() may have cached /tmp already


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def environment_record() -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal"))
    java = subprocess.run(
        ["java", "-version"], capture_output=True, text=True
    ).stderr.splitlines()
    return {
        "nproc": nproc(),
        "mem_total_kb": mem_kb,
        "java": java[0] if java else None,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "git_commit": git_commit(),
        "library_sha256": library_digest(),
        "driver_mem": DRIVER_MEM,
    }


def library_digest() -> str:
    """SHA-256 over the library's .py files, by relative path: names the
    code measured where the checkout carries no git history."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "honas_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for fn in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(dirpath, fn)
            h.update(os.path.relpath(path, ROOT).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def git_commit() -> str | None:
    """HEAD of the checkout, or None when the checkout is not a git
    work tree of its own (or git is missing)."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, cwd=ROOT,
        )
    except OSError:
        return None
    lines = out.stdout.splitlines()
    if out.returncode != 0 or len(lines) != 2:
        return None
    top, head = lines
    return head if os.path.realpath(top) == os.path.realpath(ROOT) else None


def cpu_ticks() -> tuple:
    """(all, steal) CPU ticks of the box so far, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return sum(vals), vals[7]


def steal_share(t0: tuple, t1: tuple) -> float:
    """Share of the CPU time between two cpu_ticks() readings that the
    hypervisor gave to other guests: a run taken while the host was
    contended reads slower and shows it here."""
    return (t1[1] - t0[1]) / max(1, t1[0] - t0[0])


def descendants(pid: int) -> list:
    children: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


CLK_TCK = os.sysconf("SC_CLK_TCK")
# the JVM's JIT compiler threads, as their names read in /proc
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def stat_fields(path: str) -> tuple:
    """(command name, fields after it) of a /proc stat file."""
    with open(path) as f:
        text = f.read()
    return text[text.index("(") + 1:text.rindex(")")], text.rsplit(")", 1)[1].split()


def cpu_seconds() -> float:
    """CPU time (user + system) that this process and every process under
    it (the JVM, its Python daemon and workers) have used so far, without
    the JVM's JIT compiler threads: how much compiling lands in an op
    depends on timing, not on the op.  Reaped children count through
    their parent's cutime/cstime."""
    ticks = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            comm, fields = stat_fields(f"/proc/{pid}/stat")
            threads = os.listdir(f"/proc/{pid}/task") if comm == "java" else []
        except OSError:
            continue
        ticks += sum(int(v) for v in fields[11:15])
        for tid in threads:
            try:
                comm, fields = stat_fields(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            if comm.startswith(JIT_THREADS):
                ticks -= int(fields[11]) + int(fields[12])
    return ticks / CLK_TCK


def python_workers() -> list:
    """Pids of this run's PySpark Python worker processes."""
    pids = []
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark" in f.read():
                    pids.append(pid)
        except OSError:
            continue
    return pids


def reset_worker_peaks(pids: list) -> None:
    """Restart each worker's VmHWM at its current RSS (clear_refs 5), so
    the next peak read belongs to the ops run after this call."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def worker_peak_rss_mb(pids: list) -> float:
    """Largest VmHWM among the given Python worker processes."""
    peak_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except OSError:
            continue
    return peak_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def percentile(values: list, pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    v = sorted(values)
    pos = (len(v) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------


class Runner:
    """One workload run: counts ops, keeps the timed-op records."""

    def __init__(self, spark, workload, trace: bool):
        self.spark = spark
        self.wl = workload
        self.trace = trace
        self.attempted = 0
        self.failed = 0
        self.ops: list = []  # timed-op records
        self.setup_workers: set = set()

    def op_workers(self) -> list:
        """The Python workers started for the ops, not for set-up."""
        return [p for p in python_workers() if p not in self.setup_workers]

    def fresh_workers(self) -> None:
        """Run every later op on Python workers of its own.  Spark pools
        workers per environment, so a new variable in the environment the
        ops' UDFs capture starts a new daemon; the peak RSS of the ops
        then does not depend on what set-up left in the old workers."""
        self.setup_workers = set(python_workers())
        self.spark.sparkContext.environment["PERFBENCH_PHASE"] = "ops"

    def execute(self, op, tag: str | None = None):
        """Run and check one op; returns (start, end, CPU seconds, output),
        or None when it raised."""
        self.attempted += 1
        sc = self.spark.sparkContext
        sc.setLocalProperty("perfbench.op", tag)
        try:
            c0 = cpu_seconds()
            t0 = time.time()
            out = op.run()
            t1 = time.time()
            cpu = cpu_seconds() - c0
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        finally:
            sc.setLocalProperty("perfbench.op", None)
        fails = op.check(out)
        if fails:
            self.failed += 1
            print(f"perfbench: {op.kind} output check failed:", file=sys.stderr)
            for line in fails[:10]:
                print(f"  {line}", file=sys.stderr)
        return t0, t1, cpu, out

    def warm_up(self) -> None:
        for _ in range(self.wl.warm_up_rounds):
            for op in self.wl.ops:
                self.execute(op)

    def measure(self, seconds: float) -> None:
        """Closed loop: run rounds (each op once) until `seconds` pass."""
        deadline = time.monotonic() + seconds
        rnd = 0
        while rnd == 0 or time.monotonic() < deadline:
            for op in self.wl.ops:
                tag = f"op{len(self.ops)}"
                res = self.execute(op, tag if self.trace else None)
                if res is None:
                    continue
                t0, t1, cpu, out = res
                workers = self.op_workers()
                rec = {"id": tag, "kind": op.kind, "round": rnd,
                       "start": t0, "end": t1, "cpu_s": cpu, "items": op.items,
                       "worker_peak_mb": worker_peak_rss_mb(workers)}
                reset_worker_peaks(workers)
                if op.kind == "build":
                    rec["groups"] = len(out)
                if op.kind == "search" and self.wl.fp_share:
                    rec["fp_share"] = self.wl.fp_share(out)
                self.ops.append(rec)
            rnd += 1

    def round_totals(self, value) -> list:
        """Per-round sums of value(op record), over the rounds in which
        every op succeeded."""
        rounds: dict = {}
        counts: dict = {}
        for r in self.ops:
            rounds[r["round"]] = rounds.get(r["round"], 0.0) + value(r)
            counts[r["round"]] = counts.get(r["round"], 0) + 1
        n_kinds = len(self.wl.ops)
        return [s for rnd, s in rounds.items() if counts[rnd] == n_kinds]

    def round_seconds(self) -> list:
        """Wall seconds of each complete round."""
        return self.round_totals(lambda r: r["end"] - r["start"])


def end_to_end(runner: Runner, setup_s: float) -> dict:
    rounds = runner.round_totals(lambda r: r["cpu_s"])
    return {
        "setup_s": setup_s,
        "cpu_s_p50": statistics.median(rounds),
        "cpu_s_tail": percentile(rounds, TAIL_PCT),
        # the median over timed ops of the op's largest worker peak
        "worker_peak_rss_mb": statistics.median(
            r["worker_peak_mb"] for r in runner.ops
        ),
    }


def per_layer(runner: Runner, event_log_dir: str, replay: dict) -> tuple:
    from perfbench import trace

    (name,) = os.listdir(event_log_dir)
    log = trace.EventLog(trace.load_events(os.path.join(event_log_dir, name)))
    metrics = trace.round_layers(log, runner.ops)
    metrics.update(replay)
    for kind in {r["kind"] for r in runner.ops}:
        metrics[f"ops.{kind}_s_p50"] = statistics.median(
            r["end"] - r["start"] for r in runner.ops if r["kind"] == kind
        )
    fp = [r["fp_share"] for r in runner.ops if "fp_share" in r]
    if fp:
        metrics["search.false_positive_share"] = statistics.median(fp)
    metrics["trace.round_s_p50"] = statistics.median(runner.round_seconds())
    # a layer the workload never entered reads 0
    metrics = {k: metrics.get(k, 0.0) for k in metric_units("per_layer")}
    return metrics, trace.spans(log, runner.ops)


def untraced_median(workload: str, files: int):
    """Median round_s_p50 over this checkout's untraced runs of
    `workload` at the same corpus size."""
    vals = []
    if os.path.isdir(RESULTS_DIR):
        for fn in os.listdir(RESULTS_DIR):
            if fn.startswith(f"{workload}-") and fn.endswith("-trace0.json"):
                with open(os.path.join(RESULTS_DIR, fn)) as f:
                    rec = json.load(f)
                # records of earlier harness revisions lack round_s_p50
                if (rec.get("correct") and rec.get("files") == files
                        and "round_s_p50" in rec):
                    vals.append(rec["round_s_p50"])
    return statistics.median(vals) if vals else None


def throughput(ops: list) -> dict:
    """Items per second of each op kind's median: files/s for builds,
    leaves/s for rollups, lookups/s for searches."""
    out = {}
    for kind, unit in (("build", "files"), ("rollup", "leaves"),
                       ("search", "lookups")):
        recs = [r for r in ops if r["kind"] == kind]
        if recs:
            p50 = statistics.median(r["end"] - r["start"] for r in recs)
            out[f"{unit}_per_s"] = recs[0]["items"] / p50
    return out


def run(args) -> dict:
    """The whole run; returns the result object."""
    t_setup = time.monotonic()
    ticks = [cpu_ticks()]
    from honas_spark.session import get_spark
    from perfbench import workloads

    spark = get_spark(app=f"perfbench_{args.workload}", cpus=nproc())
    spark.sparkContext.setLogLevel("ERROR")
    workloads.log("session started")
    try:
        files = args.files or workloads.DEFAULT_FILES[args.workload]
        wl = workloads.WORKLOADS[args.workload](
            spark, args.seed, files, args.work
        )
        runner = Runner(spark, wl, bool(args.trace))
        runner.attempted += 1  # the set-up checks of the reference
        if wl.setup_failures:
            runner.failed += 1
            print("perfbench: reference check failed:", file=sys.stderr)
            for line in wl.setup_failures[:10]:
                print(f"  {line}", file=sys.stderr)
        runner.fresh_workers()
        runner.warm_up()
        setup_s = time.monotonic() - t_setup
        ticks.append(cpu_ticks())
        workloads.log("warm-up done")
        reset_worker_peaks(runner.op_workers())
        runner.measure(args.seconds)
        ticks.append(cpu_ticks())
        flush = wl.replay_rows() if args.trace else None
    finally:
        stop_spark(spark)
    replay = None
    if args.trace:
        # after the session stopped, so the replay has the box to itself
        from perfbench.replay import replay_flush

        replay = replay_flush(
            wl.spec, flush, wl.group_cols,
            "client_hash" if "client_hash" in flush.columns else None,
        )

    record = {
        "workload": args.workload, "seed": args.seed, "files": files,
        "seconds": args.seconds, "trace": args.trace,
        "environment": environment_record(),
        "steal_share": {"setup": steal_share(*ticks[:2]),
                        "timed": steal_share(*ticks[1:])},
        "tail_percentile": TAIL_PCT,
        "throughput": throughput(runner.ops),
        "ops": runner.ops,
    }
    if args.trace:
        metrics, span_list = per_layer(
            runner, os.path.join(args.work, "eventlog"), replay
        )
        base = untraced_median(args.workload, files)
        record["tracing_overhead_s"] = (
            None if base is None else metrics["trace.round_s_p50"] - base
        )
        record["spans"] = span_list
        units = metric_units("per_layer")
    else:
        metrics = end_to_end(runner, setup_s)
        units = metric_units("end_to_end")
    wall = runner.round_seconds()
    record.update(rounds=len(wall), round_s_p50=statistics.median(wall),
                  round_s_tail=percentile(wall, TAIL_PCT))
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {
            k: {"value": v, "unit": units[k]} for k, v in metrics.items()
        },
    }
    record.update(result)
    os.makedirs(RESULTS_DIR, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    path = os.path.join(
        RESULTS_DIR,
        f"{args.workload}-seed{args.seed}-{stamp}-trace{args.trace}.json",
    )
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        print(
            f"perfbench: spans and tracing overhead "
            f"({record['tracing_overhead_s']}) in {path}", file=sys.stderr,
        )
    return result


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "honas_spark", "__init__.py")):
        print("perfbench: the honas_spark package is missing from "
              f"{ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args.work = os.path.join(
        BENCH_DIR, ".work",
        f"{args.workload}-{args.files or 'default'}-{args.seed}-{os.getpid()}",
    )
    pin_environment(args.work, bool(args.trace))
    # on SIGTERM, unwind through the finally blocks that stop the JVM and
    # remove the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args)
    finally:
        shutil.rmtree(args.work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
