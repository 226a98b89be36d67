"""Span tooling of the traced run: self times, per-layer metrics, the
per-layer table and the tracing-overhead line.

Span format (one JSON object per span, written once at the end of a run
by the JVM side of the benchmark; streaming batch spans are added here
from the progress reports):

    {"id": "b12", "kind": "build", "name": "q1_agg", "parent": "b11",
     "start_ms": 1760000000000.125, "end_ms": 1760000000031.5,
     "attrs": {...}}

`start_ms`/`end_ms` are epoch milliseconds. `parent` is the id of the span
that caused this one; a job's parent is the bench span active on the
thread that submitted it, or "batch:<query id>:<batch id>" for a streaming
micro-batch. Catalyst phase spans carry no parent and are
placed under the innermost bench span that contains them in time.
"""
import datetime
import json
import os
import statistics

# layer of each span kind; `op` depends on the workload kind
LAYER = {"workload": "bench", "setup": "bench", "tables": "operators",
         "warm": "operators", "build": "operators", "action": "operators",
         "parse": "harness", "submit": "harness", "batch": "streaming",
         "phase": "plans", "plan": "plans", "job": "exec", "stage": "exec"}
BENCH_KINDS = ("workload", "setup", "tables", "warm", "op", "build",
               "action", "parse", "submit")
LAYERS = ("bench", "harness", "streaming", "operators", "plans", "exec")


def iso_ms(ts):
    """Epoch ms of a progress timestamp such as 2026-10-17T09:41:32.123Z."""
    d = datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
    return d.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000.0


def layer_of(span, kind):
    if span["kind"] == "op":
        return "operators" if kind == "lib" else "harness"
    return LAYER[span["kind"]]


def union_length(intervals):
    total = 0.0
    end = None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans):
    """id -> duration minus the part of it that child spans cover."""
    children = {}
    for s in spans:
        if s.get("parent"):
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        covered = [(max(a, c["start_ms"]), min(b, c["end_ms"]))
                   for c in children.get(s["id"], [])]
        covered = [(x, y) for x, y in covered if y > x]
        out[s["id"]] = (b - a) - union_length(covered)
    return out


def batch_spans(raw, parent):
    out = []
    for qid, ps in raw.get("progress", {}).items():
        for p in ps:
            s = iso_ms(p["timestamp"])
            out.append({"id": f"batch:{p['id']}:{p['batchId']}", "kind": "batch",
                        "name": f"batch {p['batchId']}", "parent": parent,
                        "start_ms": s,
                        "end_ms": s + p["durationMs"].get("triggerExecution", 0),
                        "attrs": {"rows": p.get("numInputRows", 0)}})
    return out


def resolve(raw):
    """All spans of a traced run, with every parent filled in."""
    spans = [dict(s) for s in raw.get("spans", [])]
    script = next((s["id"] for s in spans if s["kind"] == "op"
                   and s["name"] == "script"), None)
    spans += batch_spans(raw, script)
    bench = sorted((s for s in spans if s["kind"] in BENCH_KINDS),
                   key=lambda s: s["start_ms"])
    for s in spans:
        if s.get("parent") is None and s["kind"] in ("phase", "plan"):
            # innermost bench span containing it (phase times are whole
            # milliseconds; allow that much slack)
            inside = [b for b in bench
                      if b["start_ms"] - 1 <= s["start_ms"]
                      and s["end_ms"] <= b["end_ms"] + 1]
            if inside:
                s["parent"] = max(inside, key=lambda b: (b["start_ms"], -b["end_ms"]))["id"]
    return spans


def descendants(spans, roots):
    children = {}
    for s in spans:
        if s.get("parent"):
            children.setdefault(s["parent"], []).append(s)
    out = []
    todo = list(roots)
    while todo:
        s = todo.pop()
        out.append(s)
        todo += children.get(s["id"], [])
    return out


def layer_metrics(raw, kind, window, cores):
    """Every per-layer metric. Library workloads report per pass over the
    query set; streaming workloads report over the measurement window.
    A layer the workload bypasses reports 0."""
    spans = resolve(raw)
    by_id = {s["id"]: s for s in spans}
    selfs = self_times(spans)
    m = {}
    if kind == "lib":
        roots = [s for s in spans if s["kind"] == "op"]
        norm = float(raw["passes"])
        wall_ms = raw["wall_s"] * 1000.0
    else:
        ids = {f"batch:{p['id']}:{p['batchId']}" for p in window}
        roots = [s for s in spans if s["id"] in ids]
        norm = 1.0
        wall_ms = raw["window_ms"][1] - raw["window_ms"][0]
    measured = descendants(spans, roots)

    def total(kinds, key=None):
        v = 0.0
        for s in measured:
            if s["kind"] in kinds:
                v += (s["end_ms"] - s["start_ms"]) if key is None \
                    else float(s.get("attrs", {}).get(key, 0))
        return v / norm

    def bench_parent(s):
        p = by_id.get(s.get("parent"))
        while p is not None and p["kind"] not in BENCH_KINDS:
            p = by_id.get(p.get("parent"))
        return p

    # harness
    submits = [s for s in spans if s["kind"] == "submit"]
    m["harness.parse_ms"] = raw.get("parse_ms", 0.0)
    m["harness.statements"] = raw.get("statements", 0)
    m["harness.submit_ms"] = statistics.median(raw["submit_ms"]) if submits else 0.0
    m["harness.self_ms"] = statistics.median(selfs[s["id"]] for s in submits) \
        if submits else 0.0

    # streaming
    w = window or []

    def dsum(key):
        return float(sum(p["durationMs"].get(key, 0) for p in w))

    def ssum(key):
        return float(sum(o.get(key, 0) for p in w for o in p.get("stateOperators", [])))

    rows = float(sum(p.get("numInputRows", 0) for p in w))
    trig = dsum("triggerExecution")
    last = {}
    for p in w:
        if p["id"] not in last or p["batchId"] > last[p["id"]]["batchId"]:
            last[p["id"]] = p
    lags = []
    for p in w:
        et = p.get("eventTime", {})
        if "max" in et and "watermark" in et:
            lags.append(iso_ms(et["max"]) - iso_ms(et["watermark"]))
    backlog = 0.0
    for p in last.values():
        for src in p.get("sources", []):
            try:
                behind = float(src["latestOffset"]) - float(src["endOffset"])
            except (KeyError, TypeError, ValueError):
                behind = 0.0
            # the rate source's offsets count seconds of generated input
            backlog += max(0.0, behind) * raw["rate"]
    m.update({
        "streaming.batches": len(w),
        "streaming.input_rows": rows,
        "streaming.rows_per_s": rows / (wall_ms / 1000.0) if w else 0.0,
        "streaming.capacity_rows_per_s": rows / (trig / 1000.0) if trig else 0.0,
        "streaming.get_batch_ms": dsum("getBatch") + dsum("latestOffset"),
        "streaming.plan_ms": dsum("queryPlanning"),
        "streaming.add_batch_ms": dsum("addBatch"),
        "streaming.wal_ms": dsum("walCommit"),
        "streaming.commit_ms": dsum("commitOffsets"),
        "streaming.state_rows": float(sum(o.get("numRowsTotal", 0) for p in last.values()
                                          for o in p.get("stateOperators", []))),
        "streaming.state_bytes": float(sum(o.get("memoryUsedBytes", 0) for p in last.values()
                                           for o in p.get("stateOperators", []))),
        "streaming.state_update_ms": ssum("allUpdatesTimeMs"),
        "streaming.state_commit_ms": ssum("commitTimeMs"),
        "streaming.late_rows": ssum("numRowsDroppedByWatermark"),
        "streaming.watermark_lag_ms": statistics.median(lags) if lags else 0.0,
        "streaming.backlog_rows": backlog,
    })

    # operators
    ops = [o for o in raw.get("ops", []) if o["pass"] >= 1]
    m["operators.build_s"] = sum(o["build_ms"] for o in ops) / 1000.0 / norm
    m["operators.action_s"] = sum(o["action_ms"] for o in ops) / 1000.0 / norm
    m["operators.build_jobs"] = sum(
        1 for s in measured if s["kind"] == "job"
        and (bench_parent(s) or {}).get("kind") == "build") / norm
    m["operators.rows_out"] = sum(max(0, o["rows"]) for o in ops) / norm
    m["operators.tables_load_ms"] = statistics.median(raw["tables_load_ms"]) \
        if raw.get("tables_load_ms") else 0.0

    # functions: the dedup df-cap's observed metrics
    dropped = 0.0
    max_df = 0.0
    for s in measured:
        for k, v in s.get("attrs", {}).get("observed", {}).items():
            if k.endswith(".dropped_shingles"):
                dropped += v
            elif k.endswith(".max_df"):
                max_df = max(max_df, v)
    m["functions.cap_dropped_shingles"] = dropped / norm
    m["functions.cap_max_df"] = max_df

    # plans
    phase = {n: 0.0 for n in ("analysis", "optimization", "planning")}
    for s in measured:
        if s["kind"] == "phase" and s["name"] in phase:
            phase[s["name"]] += s["end_ms"] - s["start_ms"]
    runs = total(("plan",), "rule_runs")
    eff = total(("plan",), "rule_effective")
    m["plans.analysis_ms"] = phase["analysis"] / norm
    m["plans.optimization_ms"] = phase["optimization"] / norm
    m["plans.planning_ms"] = phase["planning"] / norm
    m["plans.rule_runs"] = runs
    m["plans.rule_effective_ratio"] = eff / runs if runs else 0.0

    # exec
    jobs = [s for s in measured if s["kind"] == "job"]
    stages = [s for s in measured if s["kind"] == "stage"]
    task_run = total(("stage",), "task_run_ms")
    m.update({
        "exec.jobs": len(jobs) / norm,
        "exec.stages": len(stages) / norm,
        "exec.tasks": total(("stage",), "tasks"),
        "exec.job_wall_ms": total(("job",)),
        "exec.driver_gap_ms": sum(selfs[s["id"]] for s in jobs) / norm,
        "exec.sched_delay_ms": total(("stage",), "sched_delay_ms"),
        "exec.task_run_ms": task_run,
        "exec.task_cpu_ms": total(("stage",), "task_cpu_ms"),
        "exec.gc_ms": total(("stage",), "gc_ms"),
        "exec.busy_ratio": task_run * norm / (cores * wall_ms) if wall_ms else 0.0,
        "exec.shuffle_write_bytes": total(("stage",), "shuffle_write_bytes"),
        "exec.shuffle_read_bytes": total(("stage",), "shuffle_read_bytes"),
        "exec.shuffle_fetch_wait_ms": total(("stage",), "shuffle_fetch_wait_ms"),
        "exec.spill_bytes": total(("stage",), "spill_bytes"),
        "exec.input_bytes": total(("stage",), "input_bytes"),
        "exec.stage_skew_max": max((s.get("attrs", {}).get("skew", 1.0)
                                    for s in stages), default=0.0),
        "exec.task_failures": total(("stage",), "task_failures"),
        # the whole process: tasks plus driver, JIT and GC threads
        "exec.process_cpu_ms": raw["cpu_s"] * 1000.0 / norm,
    })
    return m


def layer_table(raw, kind):
    """Lines of the per-layer table: spans, wall and self time per layer
    over the whole traced run."""
    spans = resolve(raw)
    selfs = self_times(spans)
    rows = {l: [0, 0.0, 0.0] for l in LAYERS}
    for s in spans:
        r = rows[layer_of(s, kind)]
        r[0] += 1
        r[1] += s["end_ms"] - s["start_ms"]
        r[2] += selfs[s["id"]]
    whole = sum(r[2] for r in rows.values()) or 1.0
    out = [f"{'layer':<10} {'spans':>6} {'wall_ms':>12} {'self_ms':>12} {'self%':>6}"]
    for l in LAYERS:
        n, wall, own = rows[l]
        out.append(f"{l:<10} {n:>6} {wall:>12.1f} {own:>12.1f} {100 * own / whole:>6.1f}")
    return out


def overhead_line(e2e, last_path):
    """Tracing overhead: this traced run against the latest untraced run
    of the same workload in this checkout."""
    if not os.path.exists(last_path):
        return "trace overhead: no untraced run of this workload to compare with"
    with open(last_path) as f:
        base = json.load(f)
    parts = []
    for k in ("total_s", "op_ms.p50", "op_ms.p80"):
        b = base["e2e"].get(k)
        if b:
            parts.append(f"{k} {e2e[k]:.4g} vs {b:.4g} ({100 * (e2e[k] / b - 1):+.1f}%)")
    return (f"trace overhead vs untraced run (seed {base['env']['seed']}): "
            + ", ".join(parts))
