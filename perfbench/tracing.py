"""Traced runs: spans, job groups, cProfile, and the event-log parser.

Tracing happens from outside the library.  The benchmark wraps each
public call in a span; the span's id is also the Spark job group of
every job the call launches, so Spark's own event log can be grouped
back onto the calls offline.  Serving calls (no Spark job) run under
cProfile instead, and their self time is grouped by the module that
spent it.

``layer_split`` divides one op's wall time over the engine's modules:

* each span's self time (its duration minus its child spans) is
  covered in part by its own jobs (union of job intervals from the
  event log) and the rest is driver-side time of the span's module;
* covered time is divided in proportion to the jobs' summed task time:
  the tokenizer's share (characters tokenized over the directly
  measured single-core kernel rate) goes to ``kernel``, the rest of
  the time inside Python workers (Spark's "time to run Python workers")
  to ``spark.udfs``, and the JVM side of the tasks to the span's module;
* a serving call's time is divided by its cProfile self time;
* the op span's own self time is benchmark-side work (``bench``).

The consistency check is that everything but ``bench`` accounts for
at least 90% of the op's wall time.
"""

from __future__ import annotations

import cProfile
import glob
import json
import os
import pstats
import time
from collections import defaultdict
from contextlib import contextmanager

MODULES = (
    "kernel", "spark.udfs", "index.build", "index.tombstones", "query.topk", "ops",
)

# cProfile self time by source file -> serving-path layer
_LOCAL_GROUPS = (
    ("pg_cjk_parser_spark/query/", "local.topk"),
    ("pg_cjk_parser_spark/index/codec", "local.codec"),
    ("pg_cjk_parser_spark/index/tombstones", "local.tombstones"),
    ("pg_cjk_parser_spark/kernel/", "local.kernel"),
    ("pyarrow", "local.pyarrow"),
)
_LOCAL_MODULE = {
    "local.topk": "query.topk", "local.codec": "query.topk",
    "local.tombstones": "index.tombstones", "local.kernel": "kernel",
    "local.pyarrow": "query.topk", "local.other": "query.topk",
}


class Tracer:
    """Span recorder.  Disabled, it only runs the wrapped code."""

    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = sc is not None
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, module: str, name: str, profile: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"pb{len(self.spans)}", "parent": parent and parent["id"],
            "module": module, "name": name, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], f"{module}: {name}", False)
        prof = cProfile.Profile() if profile else None
        rec["t0"] = time.time()
        if prof:
            prof.enable()
        try:
            yield rec
        finally:
            if prof:
                prof.disable()
            rec["t1"] = time.time()
            if prof:
                rec["profile"] = _profile_groups(prof)
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["id"], parent["module"], False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


def _profile_groups(prof: cProfile.Profile) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    for (path, _line, fn), (_cc, _nc, tt, _ct, _callers) in pstats.Stats(
        prof
    ).stats.items():
        key = path if path != "~" else fn
        group = next((g for pat, g in _LOCAL_GROUPS if pat in key), "local.other")
        out[group] += tt
    return dict(out)


# ---------------------------------------------------------------- event log


def load_events(event_dir: str) -> list[dict]:
    keep = {
        "SparkListenerJobStart", "SparkListenerJobEnd",
        "SparkListenerStageSubmitted", "SparkListenerTaskEnd",
    }
    events = []
    for path in sorted(glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as f:
            for line in f:
                if '"Event":"SparkListener' not in line[:60]:
                    continue
                e = json.loads(line)
                if e["Event"] in keep:
                    events.append(e)
    return events


def _sql_metric(task: dict, name: str) -> float:
    for a in task.get("Task Info", {}).get("Accumulables", ()):
        if a.get("Name") == name:
            try:
                return float(a.get("Update", 0))
            except (TypeError, ValueError):
                return 0.0
    return 0.0


class EventLog:
    """Jobs and task metrics grouped by job group."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[str, list[dict]] = defaultdict(list)
        stage_group: dict[int, str] = {}
        stage_tasks: dict[int, list[dict]] = defaultdict(list)
        jobs: dict[int, dict] = {}
        for e in events:
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[e["Job ID"]] = {
                    "group": group, "submit": e["Submission Time"] / 1e3,
                    "end": None, "ok": True,
                    "stages": [s["Stage ID"] for s in e["Stage Infos"]],
                }
            elif ev == "SparkListenerJobEnd":
                j = jobs.get(e["Job ID"])
                if j is not None:
                    j["end"] = e["Completion Time"] / 1e3
                    j["ok"] = e["Job Result"]["Result"] == "JobSucceeded"
            elif ev == "SparkListenerStageSubmitted":
                props = e.get("Properties") or {}
                stage_group[e["Stage Info"]["Stage ID"]] = props.get(
                    "spark.jobGroup.id"
                )
            elif ev == "SparkListenerTaskEnd":
                stage_tasks[e["Stage ID"]].append(e)
        self.stage_tasks = stage_tasks
        self.stage_group = stage_group
        for j in jobs.values():
            if j["group"] is not None and j["end"] is not None:
                self.jobs[j["group"]].append(j)
        self.tasks: dict[str, list[dict]] = defaultdict(list)
        for sid, tasks in stage_tasks.items():
            g = stage_group.get(sid)
            if g is not None:
                self.tasks[g].extend(tasks)

    def group_stats(self, groups: list[str]) -> dict:
        """Summed job and task metrics of the given job groups."""
        jobs = [j for g in groups for j in self.jobs.get(g, ())]
        tasks = [t for g in groups for t in self.tasks.get(g, ())]
        st = defaultdict(float)
        st["jobs"] = len(jobs)
        st["tasks"] = len(tasks)
        by_stage: dict[int, list[float]] = defaultdict(list)
        first_launch: dict[int, float] = {}
        for t in tasks:
            m = t.get("Task Metrics") or {}
            info = t["Task Info"]
            run = m.get("Executor Run Time", 0) / 1e3
            st["task_s"] += run
            st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            if t.get("Task Type") == "ShuffleMapTask":
                st["map_task_s"] += run
            else:
                st["result_task_s"] += run
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            st["shuffle_read_bytes"] += sr.get("Local Bytes Read", 0) + sr.get(
                "Remote Bytes Read", 0
            )
            st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            st["output_bytes"] += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0
            )
            st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            st["python_boot_s"] += (
                _sql_metric(t, "time to start Python workers")
                + _sql_metric(t, "time to initialize Python workers")
            ) / 1e3
            st["python_run_s"] += _sql_metric(t, "time to run Python workers") / 1e3
            st["bytes_to_python"] += _sql_metric(t, "data sent to Python workers")
            st["bytes_from_python"] += _sql_metric(
                t, "data returned from Python workers"
            )
            st["task_failures"] += 1 if info.get("Failed") else 0
            by_stage[t["Stage ID"]].append(
                (info["Finish Time"] - info["Launch Time"]) / 1e3
            )
            sid = t["Stage ID"]
            first_launch[sid] = min(
                first_launch.get(sid, float("inf")), info["Launch Time"] / 1e3
            )
        skews = []
        for durs in by_stage.values():
            if len(durs) >= 2:
                durs = sorted(durs)
                mid = durs[len(durs) // 2] if len(durs) % 2 else (
                    durs[len(durs) // 2 - 1] + durs[len(durs) // 2]
                ) / 2
                skews.append(durs[-1] / max(mid, 1e-3))
        st["task_skew"] = max(skews) if skews else 1.0
        wait = 0.0
        for j in jobs:
            launches = [first_launch[s] for s in j["stages"] if s in first_launch]
            if launches:
                wait += max(0.0, min(launches) - j["submit"])
        st["sched_wait_ms"] = wait * 1e3
        return dict(st)

    def covered(self, groups: list[str], t0: float, t1: float) -> float:
        """Seconds of [t0, t1] covered by at least one job of ``groups``."""
        ivs = sorted(
            (max(j["submit"], t0), min(j["end"], t1))
            for g in groups for j in self.jobs.get(g, ())
        )
        total, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total


# --------------------------------------------------------------- layering


def _children(spans: list[dict]) -> dict[str, list[dict]]:
    kids: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"]:
            kids[s["parent"]].append(s)
    return kids


def layer_split(op: dict, spans: list[dict], log: EventLog, kernel_rate: float) -> dict:
    """Milliseconds of ``op``'s wall time per module (plus ``bench``)."""
    kids = _children(spans)
    out: dict[str, float] = defaultdict(float)

    def module_of(s):
        return s["module"] if s["module"] in MODULES else None

    def visit(s, module):
        module = module_of(s) or module
        dur = s["t1"] - s["t0"]
        self_s = dur - sum(c["t1"] - c["t0"] for c in kids[s["id"]])
        if module is None:
            out["bench"] += self_s * 1e3
        elif "profile" in s:
            prof = s["profile"]
            total = sum(prof.values()) or 1.0
            for group, sec in prof.items():
                out[_LOCAL_MODULE[group]] += self_s * 1e3 * sec / total
        else:
            cov = log.covered([s["id"]], s["t0"], s["t1"])
            cov = min(cov, self_s)
            out[module] += (self_s - cov) * 1e3
            st = log.group_stats([s["id"]])
            run = st.get("task_s", 0.0)
            if run > 0 and cov > 0:
                py = min(st["python_run_s"], run)
                kern = 0.0
                if s.get("chars") and kernel_rate > 0:
                    kern = min(s["chars"] / kernel_rate, py)
                out["kernel"] += cov * 1e3 * kern / run
                out["spark.udfs"] += cov * 1e3 * (py - kern) / run
                out[module] += cov * 1e3 * (run - py) / run
            else:
                out[module] += cov * 1e3
        for c in kids[s["id"]]:
            visit(c, module)

    visit(op, None)
    return dict(out)


def op_report(op: dict, spans: list[dict], log: EventLog, kernel_rate: float) -> dict:
    """Layer table, accounted share and event-log totals for one op."""
    kids = _children(spans)
    ids, todo = [], [op]
    while todo:
        s = todo.pop()
        ids.append(s["id"])
        todo.extend(kids[s["id"]])
    wall_ms = (op["t1"] - op["t0"]) * 1e3
    layers = layer_split(op, spans, log, kernel_rate)
    accounted = sum(v for k, v in layers.items() if k != "bench")
    st = log.group_stats(ids)
    st["driver_gap_ms"] = wall_ms - log.covered(ids, op["t0"], op["t1"]) * 1e3
    return {
        "wall_ms": wall_ms,
        "layers_ms": {k: round(v, 3) for k, v in sorted(layers.items())},
        "accounted_share": accounted / wall_ms if wall_ms > 0 else 0.0,
        "spark": st,
    }


def call_table(spans: list[dict], log: EventLog, n_ops: int) -> dict:
    """Per public call (``module.name``): mean per traced op of span time
    and event-log totals; serving calls add their cProfile groups."""
    kids = _children(spans)
    rows: dict[str, dict] = {}
    for s in spans:
        if s["module"] not in MODULES:
            continue
        key = f"{s['module']}.{s['name']}"
        row = rows.setdefault(key, defaultdict(float))
        row["calls"] += 1
        row["wall_ms"] += (s["t1"] - s["t0"]) * 1e3
        ids, todo = [], [s]
        while todo:
            x = todo.pop()
            ids.append(x["id"])
            todo.extend(kids[x["id"]])
            if x is not s:
                row[f"{x['name']}_ms"] += (x["t1"] - x["t0"]) * 1e3
        for k, v in log.group_stats(ids).items():
            if k == "task_skew":
                row["task_skew"] = max(row["task_skew"], v)
            else:
                row[k] += v
        row["driver_gap_ms"] += (
            (s["t1"] - s["t0"]) - log.covered(ids, s["t0"], s["t1"])
        ) * 1e3
        for g, sec in s.get("profile", {}).items():
            row[f"{g}_ms"] += sec * 1e3
    n = max(n_ops, 1)
    return {
        key: {
            k: (v if k == "task_skew" else v / n) for k, v in sorted(row.items())
        }
        for key, row in sorted(rows.items())
    }
