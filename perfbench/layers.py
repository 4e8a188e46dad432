"""Per-layer metrics of a traced run: spans joined with the Spark event log.

The worker tags every Spark job with the span that started it (job
description ``<request>|<span id>``). This module reads the event log the
session wrote, attributes each job's stages and task metrics to that span
and sums them by layer. Every metric covers the request list, as the
end-to-end metrics do; counts and times are per request of it.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

MB = float(1 << 20)
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
# A request's layer self times must add up to its untraced latency, scaled
# by the run's trace overhead, within CHECK_TOL of it plus CHECK_ABS_S; the
# request span's own time, which no layer claims, must stay within
# COVER_TOL of the traced latency plus COVER_ABS_S.
CHECK_TOL = 0.25
CHECK_ABS_S = 0.25
COVER_TOL = 0.05
COVER_ABS_S = 0.05
OPERATOR_MODULES = (
    "temporal", "missing", "spatial_grid", "spatial_graph", "spacetime", "fourier",
    "trees", "dedup", "text", "sketches", "similarity", "profiling",
)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """jobs: id -> {desc, query, submit, end, stages}; stages: id -> task
    sums plus ``rdd``, the id of the RDD the stage writes (a shuffle map
    stage that is skipped lists the same RDD as the stage that wrote the
    shuffle). Times are seconds since the epoch."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float, tasks=0, intervals=[]))
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "desc": props.get("spark.job.description") or "",
                    # the SQL query the job belongs to; AQE runs each
                    # exchange of a query as a job of its own
                    "query": props.get("spark.sql.execution.root.id")
                    or props.get("spark.sql.execution.id") or f"job{ev['Job ID']}",
                    "submit": ev["Submission Time"] / 1e3,
                    "stages": list(ev["Stage IDs"]),
                }
                for info in ev.get("Stage Infos") or []:
                    rdds = [r["RDD ID"] for r in info.get("RDD Info") or []]
                    stages[info["Stage ID"]]["rdd"] = max(rdds, default=-1)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageSubmitted":
                stages[ev["Stage Info"]["Stage ID"]]["ran"] = 1.0
            elif kind == "SparkListenerTaskEnd":
                st = stages[ev["Stage ID"]]
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                st["tasks"] += 1
                st["failed"] += 1.0 if info.get("Failed") else 0.0
                st["intervals"].append((info["Launch Time"] / 1e3, info["Finish Time"] / 1e3))
                st["run_s"] += m.get("Executor Run Time", 0) / 1e3
                st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                st["spill_b"] += m.get("Disk Bytes Spilled", 0)
                st["shuffle_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                read = (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                st["input_b"] += read
                st["scan_tasks"] += 1.0 if read else 0.0
                for acc in info.get("Accumulables") or []:
                    if acc.get("Name") == PY_SENT:
                        st["py_sent_b"] += float(acc.get("Update") or 0)
                    elif acc.get("Name") == PY_RETURNED:
                        st["py_returned_b"] += float(acc.get("Update") or 0)
    return jobs, stages


def _layer(name: str) -> str:
    return "operators" if name.startswith("operators.") else name


def layer_metrics(traced: dict, untraced: dict, log_dir: str,
                  table_bytes: dict) -> tuple[dict, list[dict], list[str]]:
    """Returns (metrics, per-request rows, self-time check failures) for
    the request list. ``metrics`` maps name -> value; a row holds a
    request's traced and untraced latency and its self time per layer."""
    jobs, stages = read_event_log(log_dir)
    k = traced["list_len"]
    reqs, base = traced["requests"][:k], untraced["requests"][:k]
    rids = {r["rid"] for r in reqs}
    spans = {s["id"]: s for s in traced["spans"] if s["request"] in rids}
    n = max(1, len(reqs))
    children = defaultdict(list)
    for s in spans.values():
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def self_s(s: dict) -> float:
        return (s["end"] - s["start"]) - _union(
            [(c["start"], c["end"]) for c in children[s["id"]]])

    def top_operator(s: dict) -> bool:  # not nested inside another operator span
        p = s["parent"]
        while p is not None:
            if spans[p]["name"].startswith("operators."):
                return False
            p = spans[p]["parent"]
        return s["name"].startswith("operators.")

    # --- stages -> the job that ran them, shuffles -> the query that wrote them
    owner: dict[int, int] = {}  # stage id -> first job listing it
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            owner.setdefault(sid, jid)
    wrote: dict[int, str] = {}  # RDD id -> query of the job whose stage wrote it
    for sid, jid in sorted(owner.items(), key=lambda x: x[1]):
        st = stages.get(sid)
        if st and st.get("ran"):
            wrote.setdefault(st["rdd"], jobs[jid]["query"])

    # --- jobs -> spans
    by_span: dict[int, list[dict]] = defaultdict(list)
    loop_jobs = []
    for jid, job in jobs.items():
        job["id"] = jid
        rid, _, sid = job["desc"].partition("|")
        if rid not in rids or not sid.isdigit() or int(sid) not in spans:
            continue
        loop_jobs.append(job)
        by_span[int(sid)].append(job)

    def subtree(s: dict) -> list[dict]:
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo += children[x["id"]]
        return out

    def job_sums(job_list: list[dict]) -> dict:
        out = defaultdict(float)
        for job in job_list:
            out["jobs"] += 1
            task_intervals = []
            for sid in job["stages"]:
                st = stages.get(sid)
                out["stage_infos"] += 1
                if not st or not st.get("ran") or owner[sid] != job["id"]:
                    # skipped: its shuffle output already existed. It was
                    # reused if an earlier query wrote it; AQE lists each
                    # exchange its own query already ran as skipped too.
                    out["skipped"] += 1
                    producer = wrote.get(st.get("rdd")) if st else None
                    out["reused"] += producer is not None and producer != job["query"]
                    continue
                out["stages"] += 1
                for key in ("tasks", "run_s", "cpu_s", "gc_s", "spill_b", "shuffle_b",
                            "input_b", "scan_tasks", "failed"):
                    out[key] += st[key]
                task_intervals += st["intervals"]
            wall = job.get("end", job["submit"]) - job["submit"]
            out["wait_s"] += max(0.0, wall - _union(task_intervals))
        return out

    def layer_jobs(pred) -> list[dict]:
        return [j for s in spans.values() if pred(s) for j in by_span[s["id"]]]

    m: dict[str, float] = {}
    panel = job_sums(layer_jobs(lambda s: s["name"] == "panel"))
    m["panel.self_s"] = sum(self_s(s) for s in spans.values() if s["name"] == "panel") / n
    m["panel.jobs"] = panel["jobs"] / n
    m["panel.stages"] = panel["stages"] / n
    m["panel.executor_s"] = panel["run_s"] / n
    m["panel.wait_s"] = panel["wait_s"] / n
    m["panel.shuffle_mb"] = panel["shuffle_b"] / MB / n

    ops = [s for s in spans.values() if top_operator(s)]
    build = job_sums(layer_jobs(lambda s: s["name"].startswith("operators.")))
    m["operators.build_s"] = sum(s["end"] - s["start"] for s in ops) / n
    m["operators.build_jobs"] = build["jobs"] / n
    m["operators.build_stages"] = build["stages"] / n
    m["operators.build_executor_s"] = build["run_s"] / n
    m["operators.build_wait_s"] = build["wait_s"] / n
    driver = 0.0
    for s in ops:
        busy = [(j["submit"], j.get("end", j["submit"])) for x in subtree(s) for j in by_span[x["id"]]]
        driver += (s["end"] - s["start"]) - _union(busy)
    m["operators.driver_s"] = driver / n

    action = job_sums(layer_jobs(lambda s: s["name"] == "action"))
    m["action.self_s"] = sum(self_s(s) for s in spans.values() if s["name"] == "action") / n
    m["action.jobs"] = action["jobs"] / n
    m["action.stages"] = action["stages"] / n
    m["action.tasks"] = action["tasks"] / n
    m["action.executor_s"] = action["run_s"] / n
    m["action.executor_cpu_s"] = action["cpu_s"] / n
    m["action.wait_s"] = action["wait_s"] / n
    m["action.shuffle_mb"] = action["shuffle_b"] / MB / n
    m["action.spill_mb"] = action["spill_b"] / MB / n
    m["action.gc_s"] = action["gc_s"] / n

    every = job_sums(loop_jobs)
    loop_stages = {sid for j in loop_jobs for sid in j["stages"]
                   if sid in stages and owner[sid] == j["id"]}
    arrow = [stages[sid] for sid in loop_stages if stages[sid]["py_sent_b"] > 0]
    m["arrow.stages"] = len(arrow) / n
    m["arrow.bytes_to_python_mb"] = sum(st["py_sent_b"] for st in arrow) / MB / n
    m["arrow.bytes_from_python_mb"] = sum(st["py_returned_b"] for st in arrow) / MB / n
    m["arrow.stage_executor_s"] = sum(st["run_s"] for st in arrow) / n

    on_disk = sum(table_bytes[t] for r in reqs for t in r["tables"])
    m["sources.input_mb"] = every["input_b"] / MB / n
    m["sources.scan_tasks"] = every["scan_tasks"] / n
    m["sources.read_amplification"] = every["input_b"] / on_disk if on_disk else 0.0

    lookups = traced["list_cache_hits"] + traced["list_cache_misses"]
    m["trees.geometry_cache_hit_rate"] = traced["list_cache_hits"] / lookups if lookups else 0.0
    infos = every["stage_infos"]
    m["spark.skipped_stage_ratio"] = every["reused"] / infos if infos else 0.0
    m["spark.aqe_skipped_stage_ratio"] = (every["skipped"] - every["reused"]) / infos if infos else 0.0
    m["jobs_per_request"] = every["jobs"] / n
    m["tasks_failed"] = every["failed"]
    m["session.start_s"] = traced["session_start_s"]
    m["session.warmup_s"] = traced["warmup_s"]

    t_sum = sum(r["latency_s"] for r in reqs)
    u_sum = sum(r["latency_s"] for r in base)
    overhead = t_sum / u_sum - 1.0 if u_sum else 0.0
    m["trace.overhead_frac"] = overhead

    # per operator module: build wall, and the action time of the requests
    # that used it (split evenly between the modules of one request)
    per_module = defaultdict(float)
    roots = {s["request"]: s for s in spans.values() if s["name"] == "request"}
    request_modules = defaultdict(set)
    for s in ops:
        mod = s["name"].split(".", 1)[1]
        per_module[f"operators.{mod}.build_s"] += s["end"] - s["start"]
        request_modules[s["request"]].add(mod)
    for s in spans.values():
        if s["name"] == "action" and request_modules[s["request"]]:
            mods = request_modules[s["request"]]
            for mod in mods:
                per_module[f"operators.{mod}.action_s"] += (s["end"] - s["start"]) / len(mods)
    for mod in OPERATOR_MODULES:
        for part in ("build_s", "action_s"):
            m[f"operators.{mod}.{part}"] = per_module[f"operators.{mod}.{part}"] / n

    # --- per request: do the layer self times add up to the latency?
    rows, failures = [], []
    for r, u in zip(reqs, base):
        root = roots.get(r["rid"])
        layers = defaultdict(float)
        for s in subtree(root)[1:] if root else []:
            layers[_layer(s["name"])] += self_s(s)
        attributed = sum(layers.values())
        unattributed = self_s(root) if root else r["latency_s"]
        want = u["latency_s"] * (1.0 + overhead)
        problems = []
        if u["id"] != r["id"]:
            problems.append(f"untraced run sent {u['id']}")
        if abs(attributed - want) > CHECK_TOL * want + CHECK_ABS_S:
            problems.append(f"layers add up to {attributed:.3f} s, untraced latency "
                            f"{u['latency_s']:.3f} s x (1 + overhead {overhead:+.3f}) is {want:.3f} s")
        if unattributed > COVER_TOL * r["latency_s"] + COVER_ABS_S:
            problems.append(f"{unattributed:.3f} s of {r['latency_s']:.3f} s is in no layer")
        failures += [f"{r['rid']} {r['id']}: {p}" for p in problems]
        rows.append({
            "rid": r["rid"], "id": r["id"], "traced_s": r["latency_s"],
            "untraced_s": u["latency_s"], "self_s": dict(layers),
            "unattributed_s": unattributed, "ok": not problems,
        })
    return m, rows, failures
