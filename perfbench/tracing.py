"""Spans, job-group tags and the offline event-log parser of a traced run.

A traced run records spans from the benchmark's own side of each call into
a layer, nested pass -> operation -> phase (build / plan / execute) -> layer
call, and tags every Spark job fired inside a span with the job group
``<workload>|<operation>|<layer>|<span id>``.  Spark's event log (plain JSON
lines, one file per SparkContext) carries the jobs, stages, tasks and the
streaming-progress events.  After the run, ``layer_metrics`` joins the two.

Stage-to-layer rule: a job belongs to the span named by its job group; a
job without one (streaming and pool threads) belongs to the innermost span
open at its submission time.  A stage belongs to its job's span; within
that, a stage whose RDD scopes name ``FlatMapGroupsInPandas`` is DES-kernel
work (``kernel.*``), whatever phase fired it.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import statistics
import sys
import time
from datetime import datetime

#: layer of each wrapped program function, keyed by defining module: the
#: calls into a layer that the benchmark's workloads make
LAYER_FUNCS = {
    "queue_system_simulator_spark.schema": {"load_table": "schema.load"},
    "queue_system_simulator_spark.shipping": {"ensure_shipped": "shipping.ship"},
    "queue_system_simulator_spark.sources.csv_source": {"read_requests_csv": "csv.read"},
    "queue_system_simulator_spark.operators.statistics": {
        "simulation_statistics": "statistics",
    },
    "queue_system_simulator_spark.streaming.stream": {
        "run_foreachbatch_merge": "stream.drain",
        "stream_events_multibatch": "fixture",
    },
    "queue_system_simulator_spark.sources.sink": {"write_datalake": "sink.write"},
}

#: layers whose exclusive (self) time partitions an operation's wall time
SHARE_LAYERS = {
    "build": "plans", "plan": "catalyst", "schema.load": "schema",
    "csv.read": "csv", "statistics": "statistics", "stream.drain": "stream",
    "sink.write": "sink", "fixture": "fixture", "shipping.ship": "shipping",
}

KERNEL_OPERATOR = "FlatMapGroupsInPandas"


def unit(metric: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if metric.startswith(("share.", "cold.share.")):
        return "ratio"
    if metric.endswith("rows_per_s"):
        return "rows/s"
    if metric.endswith("bytes") or metric.endswith("bytes_written"):
        return "bytes"
    if metric.endswith("_s") or metric.endswith(".s"):
        return "s"
    return "count"


class Tracer:
    """Records spans and tags Spark jobs; a disabled tracer does neither."""

    def __init__(self, enabled: bool, workload: str):
        self.enabled = enabled
        self.workload = workload
        self.spark = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op = "-"

    @contextlib.contextmanager
    def span(self, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        if "op" in attrs:
            self._op = attrs["op"]
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "parent": parent["id"] if parent else None,
             "layer": layer, "start": time.time(), "end": None, **attrs}
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, s: dict | None) -> None:
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is None or sc._jsc is None:
            return
        if s is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"{self.workload}|{self._op}|{s['layer']}|{s['id']}", s["layer"])

    def patch_layers(self) -> None:
        """Wrap each ``LAYER_FUNCS`` function in a span, in its defining module
        and in every module of the package that imported it by name."""
        if not self.enabled:
            return
        for mod_name in LAYER_FUNCS:
            importlib.import_module(mod_name)
        pkg = [m for n, m in list(sys.modules.items())
               if n.startswith("queue_system_simulator_spark") and m is not None]
        for mod_name, funcs in LAYER_FUNCS.items():
            mod = sys.modules[mod_name]
            for fname, layer in funcs.items():
                orig = getattr(mod, fname)
                wrapped = self._wrap(orig, layer)
                for m in pkg:
                    if getattr(m, fname, None) is orig:
                        setattr(m, fname, wrapped)

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, func=fn.__name__):
                return fn(*args, **kwargs)

        return traced


# ---------------------------------------------------------------- event log

def _acc(stage_info: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    for a in stage_info.get("Accumulables", []):
        try:
            out[a["Name"]] = out.get(a["Name"], 0.0) + float(a["Value"])
        except (KeyError, TypeError, ValueError):
            pass
    return out


def parse_event_logs(log_dir: str) -> dict:
    """Jobs, completed stages and streaming progress from every event-log
    file in ``log_dir`` (times in epoch seconds)."""
    jobs, stages, progress = {}, {}, []
    stage_job: dict[tuple, int] = {}
    for path in sorted(glob.glob(f"{log_dir}/*")):
        app = path.rsplit("/", 1)[-1]
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    key = (app, e["Job ID"])
                    jobs[key] = {
                        "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                        "start": e["Submission Time"] / 1e3, "end": None}
                    for sid in e["Stage IDs"]:
                        stage_job.setdefault((app, sid), e["Job ID"])
                elif ev == "SparkListenerJobEnd":
                    jobs[(app, e["Job ID"])]["end"] = e["Completion Time"] / 1e3
                elif ev == "SparkListenerTaskEnd":
                    st = stages.setdefault((app, e["Stage ID"], e["Stage Attempt ID"]),
                                           {"tasks": 0, "sched_delay": 0.0, "files": 0})
                    ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["sched_delay"] += max(0.0, (
                        ti["Finish Time"] - ti["Launch Time"]
                        - tm.get("Executor Run Time", 0)
                        - tm.get("Executor Deserialize Time", 0)
                        - tm.get("Result Serialization Time", 0)) / 1e3)
                    if (tm.get("Output Metrics") or {}).get("Bytes Written", 0) > 0:
                        st["files"] += 1
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    st = stages.setdefault((app, si["Stage ID"], si["Stage Attempt ID"]),
                                           {"tasks": 0, "sched_delay": 0.0, "files": 0})
                    st.update({
                        "job": (app, stage_job.get((app, si["Stage ID"]))),
                        "start": si.get("Submission Time", 0) / 1e3,
                        "end": si.get("Completion Time", 0) / 1e3,
                        "kernel": any(KERNEL_OPERATOR in (r.get("Scope") or "")
                                      for r in si.get("RDD Info", [])),
                        "acc": _acc(si)})
                elif ev.endswith("QueryProgressEvent"):
                    p = e["progress"]
                    ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
                    progress.append({
                        "time": ts.timestamp(), "query": p["id"],
                        "duration": p.get("durationMs", {}),
                        "state_rows": sum(o.get("numRowsTotal", 0)
                                          for o in p.get("stateOperators", []))})
    stages = {k: v for k, v in stages.items() if "job" in v}
    return {"jobs": jobs, "stages": stages, "progress": progress}


# ------------------------------------------------------------ layer metrics

def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def _span_of_job(job: dict, spans: list[dict]) -> dict | None:
    g = job["group"]
    if g and g.count("|") == 3:
        sid = int(g.rsplit("|", 1)[1])
        if sid < len(spans):
            return spans[sid]
    best = None
    for s in spans:
        if s["start"] <= job["start"] <= (s["end"] or s["start"]):
            if best is None or s["start"] >= best["start"]:
                best = s
    return best


def _inside(spans: list[dict], root: dict) -> list[dict]:
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


def layer_metrics(spans: list[dict], log: dict, des_rows: dict[str, int]) -> dict[str, float]:
    """Per-layer metrics of the traced run: the cold pass under ``cold.``,
    the warm passes as a per-pass mean, and set-up as a median."""
    job_span = {}
    for key, job in log["jobs"].items():
        s = _span_of_job(job, spans)
        if s is not None:
            job_span[key] = s["id"]
    passes = [s for s in spans if s["layer"] == "pass"]
    out: dict[str, float] = {}
    for prefix, group in (("cold.", [p for p in passes if p["cold"]]),
                          ("", [p for p in passes if not p["cold"]])):
        per = [_pass_metrics(p, spans, log, job_span, des_rows) for p in group]
        for name in per[0] if per else []:
            out[prefix + name] = statistics.fmean(m[name] for m in per)
    setups = [s for s in spans if s["layer"] == "setup"]
    for name, layer in (("session.start_s", "session.start"), ("shipping.ship_s", "shipping.ship")):
        out[name] = statistics.median(
            sum(x["end"] - x["start"] for x in _inside(spans, st) if x["layer"] == layer)
            for st in setups) if setups else 0.0
    return out


def _pass_metrics(p: dict, spans, log, job_span, des_rows) -> dict[str, float]:
    within = _inside(spans, p)
    ids = {s["id"] for s in within}
    by_id = {s["id"]: s for s in spans}
    m = dict.fromkeys([
        "schema.load_s", "schema.load_jobs", "csv.read_s", "csv.read_jobs",
        "plans.build_s", "plans.build_jobs", "cache.fills", "catalyst.plan_s",
        "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.cpu_s",
        "exec.scheduler_delay_s", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
        "exec.spill_bytes", "exec.python_bytes", "kernel.s", "kernel.rows_per_s",
        "kernel.passes_per_op", "statistics.s", "statistics.jobs", "stream.drain_s",
        "stream.batches", "stream.state_rows", "stream.commit_s", "sink.write_s",
        "sink.bytes_written", "sink.files_written", "fixture.builds", "fixture.hits",
        "fixture.build_s", "trace.pass_s"], 0.0)
    share = dict.fromkeys(sorted(set(SHARE_LAYERS.values()) | {"exec", "unattributed"}), 0.0)
    jobs_in = {k: j for k, j in log["jobs"].items() if job_span.get(k) in ids}

    def jobs_under(s: dict) -> list:
        sub = {x["id"] for x in _inside(spans, s)}
        return [k for k in jobs_in if job_span[k] in sub]

    def outermost(s: dict) -> bool:
        q = s["parent"]
        while q is not None:
            if by_id[q]["layer"] == s["layer"]:
                return False
            q = by_id[q]["parent"]
        return True

    op_wall, des_rows_pass, des_ops = 0.0, 0, 0
    for s in within:
        dur = s["end"] - s["start"]
        layer = s["layer"]
        if layer == "op":
            op_wall += dur
            phases = [c for c in within if c["parent"] == s["id"]]
            share["unattributed"] += dur - sum(c["end"] - c["start"] for c in phases)
            m["cache.fills"] += s.get("cache_fills", 0)
            if s["op"] in des_rows:
                des_rows_pass += des_rows[s["op"]]
                des_ops += 1
            continue
        if layer == "execute":
            own = [(max(j["start"], s["start"]), min(j["end"] or s["end"], s["end"]))
                   for k, j in jobs_in.items() if job_span[k] == s["id"]]
            covered = _union([iv for iv in own if iv[1] > iv[0]])
            share["exec"] += covered
            share["unattributed"] += dur - covered - sum(
                c["end"] - c["start"] for c in within if c["parent"] == s["id"])
            m["exec.s"] += dur
            continue
        if layer in SHARE_LAYERS:
            kids = sum(c["end"] - c["start"] for c in within if c["parent"] == s["id"])
            share[SHARE_LAYERS[layer]] += dur - kids
        if not outermost(s):
            continue
        n_jobs = len(jobs_under(s))
        if layer == "build":
            m["plans.build_s"] += dur
            m["plans.build_jobs"] += n_jobs
        elif layer == "plan":
            m["catalyst.plan_s"] += dur
        elif layer == "schema.load":
            m["schema.load_s"] += dur
            m["schema.load_jobs"] += n_jobs
        elif layer == "csv.read":
            m["csv.read_s"] += dur
            m["csv.read_jobs"] += n_jobs
        elif layer == "statistics":
            m["statistics.s"] += dur
            m["statistics.jobs"] += n_jobs
        elif layer == "stream.drain":
            m["stream.drain_s"] += dur
        elif layer == "sink.write":
            m["sink.write_s"] += dur
        elif layer == "fixture":
            mine = set(jobs_under(s))
            wrote = any(st["acc"].get("internal.metrics.output.bytesWritten", 0) > 0
                        for st in log["stages"].values() if st["job"] in mine)
            if wrote:
                m["fixture.builds"] += 1
                m["fixture.build_s"] += dur
            else:
                m["fixture.hits"] += 1

    stage_rows = [st for st in log["stages"].values() if st["job"] in jobs_in]
    m["exec.jobs"] = len(jobs_in)
    m["exec.stages"] = len(stage_rows)
    for st in stage_rows:
        a = st["acc"]
        m["exec.tasks"] += st["tasks"]
        m["exec.cpu_s"] += a.get("internal.metrics.executorCpuTime", 0) / 1e9
        m["exec.scheduler_delay_s"] += st["sched_delay"]
        m["exec.shuffle_read_bytes"] += (a.get("internal.metrics.shuffle.read.localBytesRead", 0)
                                         + a.get("internal.metrics.shuffle.read.remoteBytesRead", 0))
        m["exec.shuffle_write_bytes"] += a.get("internal.metrics.shuffle.write.bytesWritten", 0)
        m["exec.spill_bytes"] += (a.get("internal.metrics.memoryBytesSpilled", 0)
                                  + a.get("internal.metrics.diskBytesSpilled", 0))
        m["exec.python_bytes"] += (a.get("data sent to Python workers", 0)
                                   + a.get("data returned from Python workers", 0))
        m["sink.bytes_written"] += a.get("internal.metrics.output.bytesWritten", 0)
        m["sink.files_written"] += st["files"]
        if st["kernel"]:
            m["kernel.s"] += st["end"] - st["start"]
            m["kernel.passes_per_op"] += 1
    if des_ops:
        m["kernel.passes_per_op"] /= des_ops
        m["kernel.rows_per_s"] = des_rows_pass / m["kernel.s"] if m["kernel.s"] else 0.0
    for pr in log["progress"]:
        if p["start"] <= pr["time"] <= p["end"]:
            d = pr["duration"]
            m["stream.batches"] += 1
            m["stream.commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
            m["stream.state_rows"] += pr["state_rows"]
    m["trace.pass_s"] = op_wall
    for layer, sec in share.items():
        m[f"share.{layer}"] = sec / op_wall if op_wall else 0.0
    return m
