"""Turns a harness run record (run.json) into the benchmark's metrics."""
import stats

LAYERS = ["benchmark", "GraftSession", "Tables", "operators", "plans",
          "execution", "sources"]

WORK_KEYS = ["jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "task_gc_ms",
             "input_bytes", "input_rows", "shuffle_write_bytes", "shuffle_read_bytes",
             "shuffle_fetch_wait_ms", "spill_bytes", "sched_delay_ms",
             "task_failures", "stage_retries"]


def m(value, unit):
    return {"value": value, "unit": unit}


def by_name(ops):
    out = {}
    for o in ops:
        out.setdefault(o["kind"], []).append(o["wall_s"])
    return out


def steady(ops):
    """The lake operations of the later half of the span of block
    numbers run untraced, and of that run traced: the JVM is still
    compiling the lake paths early on, and block walls fall through it.
    In a traced run the untraced blocks come before and after the traced
    ones, so the later half of their span is the last untraced loop."""
    lo, hi = {}, {}
    for o in ops:
        t = o["traced"]
        lo[t] = min(lo.get(t, o["block"]), o["block"])
        hi[t] = max(hi.get(t, o["block"]), o["block"])
    return [o for o in ops if o["block"] >= (lo[o["traced"]] + hi[o["traced"]] + 1) // 2]


def lake_blocks(ops):
    """Summed walls of each lake block (one fixed mix of operation kinds)."""
    out = {}
    for o in ops:
        key = (o["traced"], o["block"])
        out[key] = out.get(key, 0.0) + o["wall_s"]
    return list(out.values())


def latency(ops, cls, q):
    xs = [o["wall_s"] for o in ops if o["class"] == cls]
    return stats.percentile(xs, q) if xs else 0.0


def walls(ops, lake):
    """A pipeline query's wall is its fastest run, so never the JVM's
    cold first run of it. A lake operation kind's wall is its median."""
    pick = stats.median if lake else min
    return {k: pick(v) for k, v in by_name(ops).items()}


def total_s(graft_ok, lake):
    """pipeline: summed per-query walls; lake_rw: median block wall"""
    return stats.median(lake_blocks(graft_ok)) if lake else sum(walls(graft_ok, lake).values())


def pairs_by_kind(ops):
    """(graft, vanilla) walls of each graft/vanilla pair, by kind"""
    runs = {}
    for o in ops:
        if o.get("pair", -1) >= 0:
            runs.setdefault((o["kind"], o["pair"]), {})[o["engine"]] = o["wall_s"]
    out = {}
    for (kind, _), e in sorted(runs.items()):
        if "graft" in e and "vanilla" in e:
            out.setdefault(kind, []).append((e["graft"], e["vanilla"]))
    return out


def end_to_end(run, graft_ok, vanilla_ok, lake):
    info = run["info"]
    per_g = walls(graft_ok, lake)
    ratio, comparable, vanilla_total = stats.paired_ratio(pairs_by_kind(graft_ok + vanilla_ok))
    total = total_s(graft_ok, lake)
    graft_wall = sum(o["wall_s"] for o in graft_ok)
    out = {
        "setup_s": m(stats.median([s["setup_s"] for s in run["setups"]]), "s"),
        "total_s": m(total, "s"),
        "geomean_query_s": m(stats.geomean(per_g.values()), "s"),
        "graft_vs_vanilla": m(ratio if ratio is not None else 0.0, "ratio"),
        "ops_per_s": m(len(graft_ok) / graft_wall if graft_wall else 0.0, "op/s"),
        "peak_heap_mb": m(info["peak_heap_mb"], "MB"),
    }
    return out, per_g, vanilla_total, comparable


def work_sum(run, span_ids):
    tot = {k: 0 for k in WORK_KEYS}
    peak = 0
    for sid in span_ids:
        w = run["work"].get(str(sid))
        if w:
            for k in WORK_KEYS:
                tot[k] += w[k]
            peak = max(peak, w["peak_exec_mem_bytes"])
    tot["peak_exec_mem_bytes"] = peak
    return tot


def per_layer(run, traced_g, untraced_g, vanilla_total, lake, cores):
    info, spans = run["info"], run["spans"]
    by_id = {s["id"]: s for s in spans}

    def engine_of(s):
        # walk up to the op span, which carries the engine
        while s is not None:
            if "engine" in s.get("attrs", {}):
                return s["attrs"]["engine"]
            s = by_id.get(s["parent"])
        return "graft"

    graft_spans = [s for s in spans if engine_of(s) == "graft"]

    def named(name):
        return [s for s in graft_spans if s["name"] == name]

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    setups = run["setups"]
    cold = setups[0]["loads"]
    warm = [sum(x["ms"] for x in s["loads"].values()) for s in setups[1:]] or [0.0]
    out = {
        "GraftSession.session_start_ms": m(stats.median([s["session_ms"] for s in setups]), "ms"),
        "GraftSession.warmup_ms": m(stats.median([s["warmup_ms"] for s in setups]), "ms"),
        "Tables.load_cold_ms": m(sum(x["ms"] for x in cold.values()), "ms"),
        "Tables.load_warm_ms": m(stats.median(warm), "ms"),
        "Tables.load_partitions": m(sum(x.get("partitions", 0) for x in cold.values()), "count"),
        "Tables.cache_blocks": m(info.get("cache_blocks", 0), "count"),
        "Tables.cache_bytes": m(info.get("cache_peak_bytes", 0), "B"),
    }
    construct = named("construct")
    cw = work_sum(run, [s["id"] for s in construct])
    out["operators.construct_ms"] = m(dur(construct), "ms")
    out["operators.construct_jobs"] = m(cw["jobs"], "count")
    out["operators.construct_tasks"] = m(cw["tasks"], "count")

    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    plan_counts = {"exchanges": 0, "broadcasts": 0, "smj": 0, "shj": 0, "aqe_stages": 0}
    last_by_query = {}
    for o in traced_g:
        for ph, t in o.get("phases", {}).items():
            if ph in phases:
                phases[ph] += t["end"] - t["start"]
        if "exchanges" in o:
            last_by_query[o["kind"]] = o
    for o in last_by_query.values():
        for k in plan_counts:
            plan_counts[k] += o[k]
    for ph, v in phases.items():
        out[f"plans.{ph}_ms"] = m(v, "ms")
    for k, v in plan_counts.items():
        out[f"plans.{k}"] = m(v, "count")
    out["plans.plan_changed_n"] = m(len(plan_changed(run)), "count")
    out["plans.vanilla_total_s"] = m(vanilla_total, "s")

    exec_spans = named("statement") if lake else named("execute")
    ew = work_sum(run, [s["id"] for s in exec_spans])
    exec_ms = dur(exec_spans)
    out["execution.exec_ms"] = m(exec_ms, "ms")
    for k in WORK_KEYS:
        unit = "ms" if k.endswith("_ms") else ("B" if k.endswith("_bytes") else "count")
        out[f"execution.{k}"] = m(ew[k], unit)
    out["execution.peak_exec_mem_bytes"] = m(ew["peak_exec_mem_bytes"], "B")
    out["execution.slot_busy_frac"] = m(
        stats.slot_busy_frac(ew["task_run_ms"], exec_ms, cores), "ratio")

    writes = [o for o in traced_g if o["class"] == "write"]
    reads = [o for o in traced_g if o["class"] == "read"]
    loadtable = named("loadtable")
    scanned = sum(o.get("files_scanned", 0) for o in reads)
    total_files = sum(o.get("files_total", 0) for o in reads)
    live_rows = info.get("live_rows", 0)
    out.update({
        "sources.loadtable_ms": m(stats.median([s["end"] - s["start"] for s in loadtable])
                                  if loadtable else 0.0, "ms"),
        "sources.files_written": m(sum(o.get("files_written", 0) for o in writes), "count"),
        "sources.bytes_written": m(sum(o.get("bytes_written", 0) for o in writes), "B"),
        "sources.merge_rewritten_bytes": m(sum(o.get("bytes_written", 0) for o in writes
                                               if o["kind"] == "merge"), "B"),
        "sources.files_scanned": m(scanned, "count"),
        "sources.scan_skip_frac": m(1 - scanned / total_files if total_files else 0.0, "ratio"),
        "sources.files_live": m(info.get("files_live", 0), "count"),
        "sources.snapshots": m(info.get("snapshots", 0), "count"),
        "sources.stored_bytes_per_row": m(info.get("live_bytes", 0) / live_rows
                                          if live_rows else 0.0, "B"),
        "sources.write_p50_s": m(latency(traced_g, "write", 0.5), "s"),
        "sources.write_p90_s": m(latency(traced_g, "write", 0.9), "s"),
        "sources.read_p50_s": m(latency(traced_g, "read", 0.5), "s"),
        "sources.read_p90_s": m(latency(traced_g, "read", 0.9), "s"),
    })

    out["jvm.start_to_ready_s"] = m(info["jvm_start_to_ready_s"], "s")
    out["jvm.gc_ms"] = m(info["gc_ms"], "ms")
    out["jvm.jit_ms"] = m(info["jit_ms"], "ms")
    out["jvm.code_cache_mb"] = m(info["code_cache_mb"], "MB")

    selfs = stats.self_times(graft_spans)
    for layer in LAYERS:
        out[f"{layer}.self_ms"] = m(selfs.get(layer, 0.0), "ms")
    traced_total = total_s(traced_g, lake) if traced_g else 0.0
    untraced_total = total_s(untraced_g, lake) if untraced_g else 0.0
    out["trace.overhead"] = m(traced_total / untraced_total if untraced_total else 0.0, "ratio")
    return out


def plan_changed(run):
    """queries whose normalized graft plan differs from the twin's"""
    plans = {}
    for o in run["ops"]:
        if "plan_norm" in o and o["ok"]:
            plans.setdefault(o["kind"], {})[o["engine"]] = o["plan_norm"]
    return sorted(q for q, p in plans.items()
                  if "graft" in p and "vanilla" in p and p["graft"] != p["vanilla"])


def construct_jobs_by_query(run):
    by_id = {s["id"]: s for s in run["spans"]}
    out = {}
    for s in run["spans"]:
        parent = by_id.get(s["parent"])
        if s["name"] == "construct" and parent and parent["attrs"].get("engine") == "graft":
            w = run["work"].get(str(s["id"]), {})
            out[parent["attrs"]["query"]] = w.get("jobs", 0)
    return out


def compute(run, check, traced, cores):
    ops = run["ops"]
    lake = run["info"]["workload"] == "lake_rw"
    measured = [o for o in ops if o["class"] != "check"]
    graft = [o for o in measured if o["engine"] == "graft"]
    # the dumped result of a query is its first successful untraced graft run
    for q, why in check["wrong"].items():
        o = next(o for o in graft if o["kind"] == q and o["ok"] and not o["traced"])
        o["ok"] = False
        o["error"] = "wrong answer: " + why
    attempted = graft + [o for o in ops if o["class"] == "check"]
    failed = [o for o in attempted if not o["ok"]]
    if lake:
        measured = steady(measured)
        graft = [o for o in measured if o["engine"] == "graft"]
    graft_ok = [o for o in graft if o["ok"]]
    vanilla_ok = [o for o in measured if o["engine"] == "vanilla" and o["ok"]]
    untraced_g = [o for o in graft_ok if not o["traced"]]
    traced_g = [o for o in graft_ok if o["traced"]]
    vanilla_u = [o for o in vanilla_ok if not o["traced"]]

    e2e, per_g, vanilla_total, comparable = end_to_end(run, untraced_g, vanilla_u, lake)
    e2e["ok_frac"] = m(1.0 - stats.failed_frac(attempted), "ratio")
    detail = {
        "failed_frac": stats.failed_frac(attempted),
        "failures": {o["kind"]: o.get("error") for o in failed},
        "checks": {k: v for k, v in check.items() if v},
        "vanilla_failed": run["info"].get("vanilla_failed", []),
        "comparable": comparable,
        "query_median_s": {k: round(v, 4) for k, v in sorted(per_g.items())},
        "setup": {"reps_s": [round(s["setup_s"], 3) for s in run["setups"]],
                  "rep0_ms": {k: round(run["setups"][0][k]) for k in
                              ("session_ms", "tables_ms", "warmup_ms")},
                  "jvm_start_to_ready_s": run["info"]["jvm_start_to_ready_s"]},
    }
    if lake:
        ug = untraced_g
        n_w = sum(1 for o in ug if o["class"] == "write")
        n_r = sum(1 for o in ug if o["class"] == "read")
        detail["lake"] = {
            "writes": n_w, "reads": n_r,
            "write_p50_s": latency(ug, "write", 0.5), "write_p90_s": latency(ug, "write", 0.9),
            "read_p50_s": latency(ug, "read", 0.5), "read_p90_s": latency(ug, "read", 0.9),
            "p90_supported": {"write": stats.supported_percentile(n_w) is not None
                              and stats.supported_percentile(n_w) >= 0.9,
                              "read": stats.supported_percentile(n_r) is not None
                              and stats.supported_percentile(n_r) >= 0.9},
            "stored_bytes_per_row": (run["info"]["live_bytes"] / run["info"]["live_rows"]
                                     if run["info"].get("live_rows") else 0.0),
            "blocks_s": [round(b, 3) for b in lake_blocks(ug)],
        }
    if traced:
        metrics = per_layer(run, traced_g, untraced_g, vanilla_total, lake, cores)
        detail["construct_jobs_by_query"] = construct_jobs_by_query(run)
        detail["plan_changed"] = plan_changed(run)
        detail["untraced_e2e"] = {k: v["value"] for k, v in e2e.items()}
    else:
        metrics = e2e
    return {"metrics": metrics, "detail": detail, "correct": not failed,
            "attempted": len(attempted), "failed": len(failed)}
