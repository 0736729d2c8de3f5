"""Per-layer metrics of a traced run.

A traced run interleaves untraced and traced iterations in ABBA blocks.
Every metric here is a mean over the traced iterations (per iteration),
except `trace.overhead_ratio`: the traced iterations' total wall time
over the untraced ones', counted over whole blocks.
Metrics of layers a workload does not touch read 0.
"""
import stats

HEAVY_FIELDS = ("build_s", "exec_s", "eager_jobs", "eager_share")
PQ = "q_pq_codes"
PQ_FIELDS = ("build_s", "exec_s", "exec_task_wall_s", "driver_ms", "jobs", "task_s")
# Layers whose self time is reported, by span name.
SELF_LAYERS = ("tables.register", "state.load", "template.load", "template.render",
               "graph.build", "planner.plan", "runner.run", "runner.model", "driver.sql",
               "warehouse.materialize", "quality.tests", "state.mark",
               "query.build", "query.exec")


def names(heavy):
    """Every per-layer metric name with its unit, in report order."""
    out = [("tables.register_ms", "ms"),
           ("template.render_ms", "ms"), ("template.renders", "count"),
           ("graph.build_ms", "ms"), ("graph.levels", "count"),
           ("planner.plan_ms", "ms"), ("state.load_ms", "ms"),
           ("planner.models_changed", "count"), ("planner.models_rerun", "count"),
           ("planner.useful_ratio", "1"),
           ("runner.busy_s", "s"), ("runner.level_idle_s", "s"),
           ("runner.parallel_eff", "1"), ("runner.retries", "count"),
           ("warehouse.write_mb", "MB"), ("warehouse.files_written", "count"),
           ("warehouse.write_amp", "1"), ("warehouse.live_mb", "MB"),
           ("quality.ms", "ms"), ("quality.checks", "count"), ("quality.jobs", "count")]
    units = {"build_s": "s", "exec_s": "s", "eager_jobs": "count", "eager_share": "1",
             "exec_task_wall_s": "s", "driver_ms": "ms", "jobs": "count", "task_s": "s"}
    for q in heavy:
        out += [(f"{q}.{f}", units[f]) for f in HEAVY_FIELDS]
    out += [(f"{PQ}.{f}", units[f]) for f in PQ_FIELDS]
    out += [("driver.analysis_ms", "ms"), ("driver.optimization_ms", "ms"),
            ("driver.planning_ms", "ms"), ("driver.plan_lines", "count"),
            ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
            ("sched.delay_ms", "ms"), ("sched.ms_per_job", "ms"),
            ("sched.task_failures", "count"),
            ("exec.task_busy_s", "s"), ("exec.cpu_util", "1"), ("exec.gc_s", "s"),
            ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"),
            ("exec.spill_mb", "MB"), ("exec.peak_exec_mem_mb", "MB"), ("exec.input_mb", "MB")]
    out += [(f"self.{layer}_ms", "ms") for layer in SELF_LAYERS]
    out += [("trace.overhead_ratio", "1")]
    return out


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(rec, workload, cpus, heavy):
    its = rec["iterations"]
    traced = [it for it in its if it.get("traced")]
    plain = [it for it in its if not it.get("traced")]
    n = max(1, len(traced))
    spans = rec.get("spans", [])
    mb = 1024.0 * 1024.0
    m = {k: 0.0 for k, _ in names(heavy)}

    def span_ms(name, it):
        return sum(s["end_ns"] - s["start_ns"] for s in spans
                   if s["iter"] == it["index"] and s["name"].split(":", 1)[0] == name) / 1e6

    def span_count(name, it):
        return sum(1 for s in spans if s["iter"] == it["index"]
                   and s["name"].split(":", 1)[0] == name)

    setup_spans = [s for s in spans if s["name"] == "tables.register"]
    m["tables.register_ms"] = rec.get("tables_register_ms", 0.0)
    m["template.render_ms"] = _mean(span_ms("template.render", it) for it in traced)
    m["template.renders"] = _mean(span_count("template.render", it) for it in traced)
    m["graph.build_ms"] = _mean(span_ms("graph.build", it) for it in traced)
    m["graph.levels"] = _mean(len(it.get("levels", [])) for it in traced)
    m["planner.plan_ms"] = _mean(span_ms("planner.plan", it) for it in traced)
    m["state.load_ms"] = _mean(span_ms("state.load", it) for it in traced)
    m["planner.models_changed"] = _mean(it.get("models_changed", 0) for it in traced)
    m["planner.models_rerun"] = _mean(len(it.get("ran", [])) for it in traced)
    changes = [c for it in traced for c in it.get("changes", {}).values()]
    if workload == "models_incremental" and changes:
        m["planner.useful_ratio"] = sum(1 for c in changes if c["content_changed"]) / len(changes)
    elif changes:
        m["planner.useful_ratio"] = 1.0
    if any("levels" in it for it in traced):
        busy = [sum(sum(lv) for lv in it["levels"]) for it in traced]
        idle = [sum(max(lv) * len(lv) - sum(lv) for lv in it["levels"] if lv) for it in traced]
        m["runner.busy_s"] = _mean(busy)
        m["runner.level_idle_s"] = _mean(idle)
        m["runner.parallel_eff"] = _mean(b / (it["wall_s"] * 4) for b, it in zip(busy, traced))
        m["runner.retries"] = _mean(sum(op.get("attempts", 1) - 1 for op in it["ops"])
                                    for it in plain)
        m["warehouse.write_mb"] = _mean(it.get("write_bytes", 0) for it in traced) / mb
        m["warehouse.files_written"] = _mean(it.get("files_written", 0) for it in traced)
        m["warehouse.live_mb"] = _mean(it.get("live_bytes", 0) for it in traced) / mb
        amps = []
        for it in traced:
            new = sum(c["changed_rows"] * (c["bytes"] / c["rows"]) for c in
                      it.get("changes", {}).values() if c["rows"])
            if new:
                amps.append(it.get("write_bytes", 0) / new)
        m["warehouse.write_amp"] = _mean(amps)
        m["quality.ms"] = _mean(span_ms("quality.tests", it) for it in traced)
        m["quality.checks"] = _mean(it.get("quality_checks", 0) for it in traced)
        groups = rec.get("sched", {}).get("groups", {})
        m["quality.jobs"] = sum(g["jobs"] for k, g in groups.items()
                                if k.startswith("quality:")) / n

    groups = rec.get("sched", {}).get("groups", {})
    ops = {}
    for it in traced:
        for op in it["ops"]:
            ops.setdefault(op["name"], []).append(op)
    phases = rec.get("phases", [])
    phase_rows = [phases[i:i + 5] for i in range(0, len(phases), 5)]

    def window_phases(lo, hi):
        return [r for r in phase_rows if lo <= r[0] <= hi]

    for q in heavy:
        b = _mean(op.get("build_s", 0) for op in ops.get(q, []))
        e = _mean(op.get("exec_s", 0) for op in ops.get(q, []))
        m[f"{q}.build_s"], m[f"{q}.exec_s"] = b, e
        m[f"{q}.eager_jobs"] = groups.get(f"{q}:build", {}).get("jobs", 0) / n
        m[f"{q}.eager_share"] = b / (b + e) if b + e else 0.0
    if PQ in ops:
        pq = ops[PQ]
        m[f"{PQ}.build_s"] = _mean(op.get("build_s", 0) for op in pq)
        m[f"{PQ}.exec_s"] = _mean(op.get("exec_s", 0) for op in pq)
        m[f"{PQ}.driver_ms"] = _mean(sum(r[1] + r[2] + r[3] for r in
                                         window_phases(op["start_ms"], op["end_ms"]))
                                     for op in pq)
        jobs = sum(groups.get(f"{PQ}:{k}", {}).get("jobs", 0) for k in ("build", "exec"))
        busy = sum(groups.get(f"{PQ}:{k}", {}).get("busy_ms", 0) for k in ("build", "exec"))
        m[f"{PQ}.exec_task_wall_s"] = groups.get(f"{PQ}:exec", {}).get("task_wall_ms", 0) / 1000.0 / n
        m[f"{PQ}.jobs"] = jobs / n
        m[f"{PQ}.task_s"] = busy / 1000.0 / n

    rows = [window_phases(it["start_ms"], it["end_ms"]) for it in traced]
    m["driver.analysis_ms"] = _mean(sum(r[1] for r in rs) for rs in rows)
    m["driver.optimization_ms"] = _mean(sum(r[2] for r in rs) for rs in rows)
    m["driver.planning_ms"] = _mean(sum(r[3] for r in rs) for rs in rows)
    m["driver.plan_lines"] = _mean(r[4] for rs in rows for r in rs)

    sch = [it["sched"] for it in traced if "sched" in it]
    walls = [it["wall_s"] for it in traced if "sched" in it]
    m["sched.jobs"] = _mean(s["jobs"] for s in sch)
    m["sched.stages"] = _mean(s["stages"] for s in sch)
    m["sched.tasks"] = _mean(s["tasks"] for s in sch)
    m["sched.delay_ms"] = _mean(s["delay_ms"] / s["tasks"] for s in sch if s["tasks"])
    m["sched.ms_per_job"] = _mean(w * 1000.0 / s["jobs"] for s, w in zip(sch, walls) if s["jobs"])
    m["sched.task_failures"] = _mean(s["task_failures"] for s in sch)
    m["exec.task_busy_s"] = _mean(s["busy_ms"] / 1000.0 for s in sch)
    m["exec.cpu_util"] = _mean(s["busy_ms"] / 1000.0 / (w * cpus) for s, w in zip(sch, walls))
    m["exec.gc_s"] = _mean(s["gc_ms"] / 1000.0 for s in sch)
    m["exec.shuffle_write_mb"] = _mean(s["shuffle_write"] for s in sch) / mb
    m["exec.shuffle_read_mb"] = _mean(s["shuffle_read"] for s in sch) / mb
    m["exec.spill_mb"] = _mean(s["spill"] for s in sch) / mb
    m["exec.peak_exec_mem_mb"] = max([s["peak_mem"] for s in sch] or [0]) / mb
    m["exec.input_mb"] = _mean(s["input"] for s in sch) / mb

    selfs = stats.self_times(spans)
    for layer in SELF_LAYERS:
        if layer == "tables.register":
            m[f"self.{layer}_ms"] = sum(selfs[s["id"]] for s in setup_spans) / 1e6
            continue
        m[f"self.{layer}_ms"] = sum(selfs[s["id"]] for s in spans if s["iter"] >= 0
                                    and stats.layer_of(s["name"]) == layer) / 1e6 / n
    blocks = its[:len(its) // 4 * 4]
    tw = [it["wall_s"] for it in blocks if it.get("traced")]
    pw = [it["wall_s"] for it in blocks if not it.get("traced")]
    m["trace.overhead_ratio"] = sum(tw) / sum(pw) if tw and pw else 0.0
    units = dict(names(heavy))
    return {k: (v, units[k]) for k, v in m.items()}
