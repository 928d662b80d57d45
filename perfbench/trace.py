"""Traced-run tooling: event-log parser, stage roles, spans, layer metrics.

A traced run enables Spark's event log and tags every job of a timed op
with the local property `perfbench.op`.  After the run this module reads
the log and attributes each op's time and bytes to its Spark jobs and
stages.  A stage's role comes from the plan nodes its tasks updated:

    partial  the `mapInPandas` sketch build (build_partials)
    merge    the `mapInPandas` merge (merge_all) of a build
    rollup   the same merge run by rollup_sketches
    probe    the `mapInPandas` search probe
    scan     a table scan with no Python stage in it
    other    anything else (in a search: the result shaping)
"""

from __future__ import annotations

import json
import re
import statistics
from collections import defaultdict

OP_PROPERTY = "perfbench.op"
SCAN_NODES = ("InMemoryTableScan", "Scan ", "FileScan")

def load_events(path: str) -> list:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _node_label(info: dict) -> str:
    if info["nodeName"] == "MapInPandas":
        m = re.match(r"MapInPandas (\w+)\(", info.get("simpleString", ""))
        return f"MapInPandas:{m.group(1)}" if m else "MapInPandas"
    return info["nodeName"]


class Stage:
    def __init__(self, sid: int):
        self.id = sid
        self.start = self.end = None  # ms since the epoch
        self.nodes: set = set()
        self.sql: dict = defaultdict(float)  # (node label, metric) -> sum
        self.task_s: list = []
        self.read_bytes_per_task: list = []
        self.input_bytes = 0
        self.shuffle_write = 0
        self.shuffle_read = 0
        self.fetch_wait_ms = 0
        self.spill = 0
        self.gc_ms = 0
        self.sched_delay_ms = 0

    @property
    def seconds(self) -> float:
        return (self.end - self.start) / 1000.0

    def role(self, op_kind: str) -> str:
        if "MapInPandas:build_partials" in self.nodes:
            return "partial"
        if "MapInPandas:merge_all" in self.nodes:
            return "rollup" if op_kind == "rollup" else "merge"
        if "MapInPandas:probe" in self.nodes:
            return "probe"
        if any(n.startswith(SCAN_NODES) for n in self.nodes):
            return "scan"
        return "other"

    def python(self, name: str) -> float:
        return sum(v for (_, m), v in self.sql.items() if m == name)

    def output_rows(self, label: str) -> float:
        return self.sql.get((label, "number of output rows"), 0.0)


class EventLog:
    """Jobs and stages of one application's event log, by op tag."""

    def __init__(self, events: list):
        self.nodes: dict = {}  # accumulator id -> plan node label
        self.stages: dict = {}
        self.jobs: dict = {}  # job id -> {"op", "start", "end", "stages"}
        for ev in events:
            kind = ev["Event"]
            if "sparkPlanInfo" in ev:
                self._walk_plan(ev["sparkPlanInfo"])
            elif kind == "SparkListenerJobStart":
                self.jobs[ev["Job ID"]] = {
                    "op": (ev.get("Properties") or {}).get(OP_PROPERTY),
                    "start": ev["Submission Time"],
                    "end": None,
                    "stages": ev["Stage IDs"],
                }
            elif kind == "SparkListenerJobEnd":
                self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = self._stage(info["Stage ID"])
                st.start = info.get("Submission Time")
                st.end = info.get("Completion Time")
            elif kind == "SparkListenerTaskEnd":
                self._task(ev)

    def _walk_plan(self, info: dict) -> None:
        label = _node_label(info)
        for m in info.get("metrics", []):
            self.nodes[m["accumulatorId"]] = label
        for child in info.get("children", []):
            self._walk_plan(child)

    def _stage(self, sid: int) -> Stage:
        if sid not in self.stages:
            self.stages[sid] = Stage(sid)
        return self.stages[sid]

    def _task(self, ev: dict) -> None:
        st = self._stage(ev["Stage ID"])
        info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
        dur_ms = info["Finish Time"] - info["Launch Time"]
        st.task_s.append(dur_ms / 1000.0)
        for acc in info.get("Accumulables", []):
            label = self.nodes.get(acc["ID"])
            if label is None or acc.get("Metadata") != "sql":
                continue
            st.nodes.add(label)
            st.sql[(label, acc["Name"])] += float(acc.get("Update") or 0)
        sr = tm.get("Shuffle Read Metrics", {})
        read = sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
        st.read_bytes_per_task.append(read)
        st.shuffle_read += read
        st.fetch_wait_ms += sr.get("Fetch Wait Time", 0)
        st.shuffle_write += tm.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0
        )
        st.input_bytes += tm.get("Input Metrics", {}).get("Bytes Read", 0)
        st.spill += tm.get("Disk Bytes Spilled", 0)
        st.gc_ms += tm.get("JVM GC Time", 0)
        st.sched_delay_ms += max(
            0,
            dur_ms
            - tm.get("Executor Run Time", 0)
            - tm.get("Executor Deserialize Time", 0)
            - tm.get("Result Serialization Time", 0)
            - info.get("Getting Result Time", 0),
        )

    def jobs_of(self, op_id: str) -> list:
        return [
            (jid, j) for jid, j in sorted(self.jobs.items())
            if j["op"] == op_id
        ]

    def stages_of(self, op_id: str) -> list:
        return [
            self.stages[s]
            for _, j in self.jobs_of(op_id)
            for s in j["stages"]
            if s in self.stages and self.stages[s].end is not None
        ]


def _covered(intervals: list, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of intervals."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def spans(log: EventLog, ops: list) -> list:
    """op -> Spark job -> stage spans with self time (seconds).

    `ops` are the harness's timed-op records: {"id", "kind", "start",
    "end"} with wall-clock seconds since the epoch."""
    out = []
    for op in ops:
        jobs = [
            (jid, j["start"] / 1000.0, j["end"] / 1000.0, j["stages"])
            for jid, j in log.jobs_of(op["id"]) if j["end"] is not None
        ]
        out.append({
            "id": op["id"], "parent": None, "name": op["kind"],
            "start": op["start"], "end": op["end"],
            "self_s": (op["end"] - op["start"])
            - _covered([(a, b) for _, a, b, _ in jobs], op["start"], op["end"]),
        })
        for jid, a, b, sids in jobs:
            stages = [
                log.stages[s] for s in sids
                if s in log.stages and log.stages[s].end is not None
            ]
            sts = [(s.start / 1000.0, s.end / 1000.0) for s in stages]
            out.append({
                "id": f"{op['id']}/job{jid}", "parent": op["id"],
                "name": f"job {jid}", "start": a, "end": b,
                "self_s": (b - a) - _covered(sts, a, b),
            })
            for s, (sa, sb) in zip(stages, sts):
                out.append({
                    "id": f"{op['id']}/job{jid}/stage{s.id}",
                    "parent": f"{op['id']}/job{jid}",
                    "name": f"stage {s.id} ({s.role(op['kind'])})",
                    "start": sa, "end": sb, "self_s": sb - sa,
                })
    return out


def op_layers(log: EventLog, op: dict) -> dict:
    """Engine and operator metrics of one timed op."""
    stages = log.stages_of(op["id"])
    roles = defaultdict(list)
    for s in stages:
        roles[s.role(op["kind"])].append(s)
    partial_tasks = [t for s in roles["partial"] for t in s.task_s]
    partials_out = sum(
        s.output_rows("MapInPandas:build_partials") for s in roles["partial"]
    )
    skew = 0.0
    heaviest = max(stages, key=lambda s: s.shuffle_read, default=None)
    if heaviest is not None and heaviest.shuffle_read:
        med = statistics.median(heaviest.read_bytes_per_task)
        skew = max(heaviest.read_bytes_per_task) / med if med else 0.0
    groups = op.get("groups") or 0
    return {
        "scan.read_bytes": sum(s.input_bytes for s in stages),
        "scan.task_s": sum(sum(s.task_s) for s in roles["scan"]),
        "exchange.shuffle_write_bytes": sum(s.shuffle_write for s in stages),
        "exchange.shuffle_read_bytes": sum(s.shuffle_read for s in stages),
        "exchange.fetch_wait_s": sum(s.fetch_wait_ms for s in stages) / 1e3,
        "exchange.spill_bytes": sum(s.spill for s in stages),
        "exchange.partition_skew": skew,
        "arrow.to_python_bytes": sum(
            s.python("data sent to Python workers") for s in stages),
        "arrow.from_python_bytes": sum(
            s.python("data returned from Python workers") for s in stages),
        "python.boot_s": sum(
            s.python("time to start Python workers") for s in stages) / 1e3,
        "python.init_s": sum(
            s.python("time to initialize Python workers") for s in stages) / 1e3,
        "python.run_s": sum(
            s.python("time to run Python workers") for s in stages) / 1e3,
        "jvm.gc_s": sum(s.gc_ms for s in stages) / 1e3,
        "tasks.scheduler_delay_s": sum(s.sched_delay_ms for s in stages) / 1e3,
        "sketch_agg.partial_stage_s": sum(s.seconds for s in roles["partial"]),
        "sketch_agg.partial_task_max_s": max(partial_tasks, default=0.0),
        "sketch_agg.partial_task_p50_s": (
            statistics.median(partial_tasks) if partial_tasks else 0.0),
        "sketch_agg.partials_out": partials_out,
        "sketch_agg.partials_per_group": (
            partials_out / groups if groups and partials_out else 0.0),
        "sketch_agg.merge_stage_s": sum(s.seconds for s in roles["merge"]),
        "rollup.merge_stage_s": sum(s.seconds for s in roles["rollup"]),
        "probe.stage_s": sum(s.seconds for s in roles["probe"]),
        "probe.rows_out": sum(
            s.output_rows("MapInPandas:probe") for s in roles["probe"]),
        "search.shape_stage_s": (
            sum(s.seconds for s in roles["other"])
            if op["kind"] == "search" else 0.0),
    }


# ratios and extremes: a round takes the largest of its ops, not the sum
NOT_ADDITIVE = {
    "exchange.partition_skew", "sketch_agg.partial_task_max_s",
    "sketch_agg.partial_task_p50_s", "sketch_agg.partials_per_group",
}


def round_layers(log: EventLog, ops: list) -> dict:
    """Median over rounds of each metric summed over a round's ops."""
    per_round = defaultdict(lambda: defaultdict(float))
    for op in ops:
        r = per_round[op["round"]]
        for k, v in op_layers(log, op).items():
            r[k] = max(r[k], v) if k in NOT_ADDITIVE else r[k] + v
    names = sorted({k for r in per_round.values() for k in r})
    return {
        k: statistics.median(r[k] for r in per_round.values()) for k in names
    }
