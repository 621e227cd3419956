"""The benchmark's statistics: medians and tails over operation latencies,
span self time, and the end-to-end and per-layer metrics of one run record.

A failed operation counts as missing every latency: it enters each
percentile as +inf, never as a success.
"""

import statistics

INF = float("inf")

# op kind in the run record -> metric stem
STEMS = {
    "pruned_agg": "pruned_agg", "full_agg": "full_agg", "lookup": "point_lookup",
    "count": "meta_count", "checksum": "checksum_read", "insert": "insert",
    "upsert": "upsert", "delete": "delete", "update": "update",
    "maintain_table": "maintain", "maintain_calls": "maintain",
}

# every end-to-end metric a workload can print, with its unit
E2E_UNITS = {
    "setup_s": "s", "ops_per_s": "1/s", "stored_bytes_per_row": "bytes/row",
    "append_rows_per_s": "rows/s", "point_lookup_tail_ms": "ms",
    **{f"{stem}_p50_ms": "ms" for stem in set(STEMS.values())},
}

# per-layer metric -> (unit, how the op counters fold into one number)
LAYER = {
    "table.plan_ms": ("ms", "median"),
    "table.files_selected": ("count", "mean"),
    "table.files_total": ("count", "mean"),
    "table.prune_ratio": ("ratio", "prune"),
    "table.scan_build_ms": ("ms", "median"),
    "table.scan_exec_ms": ("ms", "median"),
    "spark.input_bytes": ("bytes", "scan"),
    "spark.task_ms": ("ms", "scan"),
    "table.delete_files_live": ("count", "last"),
    "table.delete_reconcile_ms": ("ms", "median"),
    "log.load_ms": ("ms", "median"),
    "log.docs": ("count", "last"),
    "log.snapshots_live": ("count", "last"),
    "table.commit_ms": ("ms", "median"),
    "plan.execute_ms": ("ms", "execute"),  # mean per SQL statement in the loop
    "plan.route_ms": ("ms", "route"),
    "catalog.load_table_ms": ("ms", "median"),
    "write.data_ms": ("ms", "median"),
    "write.files_added": ("count", "mean"),
    "write.bytes_added": ("bytes", "mean"),
    "spark.shuffle_write_bytes": ("bytes", "writes"),
    "dml.files_rewritten": ("count", "mean"),
    "dml.delete_files_added": ("count", "mean"),
    "maint.pass_ms": ("ms", "maint"),
    "maint.files_rewritten": ("count", "mean"),
    "maint.bytes_rewritten": ("bytes", "mean"),
    "maint.deletes_materialized": ("count", "mean"),
    "maint.snapshots_expired": ("count", "mean"),
    "spark.jobs": ("count", "mean_all"),
    "spark.stages": ("count", "mean_all"),
    "spark.tasks": ("count", "mean_all"),
    "spark.gc_ms": ("ms", "mean_all"),
    "jvm.heap_peak_mb": ("MB", "max_all"),
}


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs):
    """The highest percentile with at least 10 samples beyond it.

    Returns (value, percentile, n), or None below 11 samples: the value is
    the sorted sample with exactly 10 samples above it.
    """
    n = len(xs)
    if n < 11:
        return None
    return sorted(xs)[n - 11], 100.0 * (n - 10) / n, n


def self_times(spans):
    """Span id -> self time in ns: the span's duration minus the part of its
    interval that its child spans cover (overlapping children count once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered, reach = 0, lo
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], reach), min(c["end_ns"], hi)
            if b > a:
                covered += b - a
                reach = b
        out[s["id"]] = (hi - lo) - covered
    return out


def span_summary(spans):
    """Per span name: count, total and self ms, median duration in ms."""
    selfs = self_times(spans)
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    return {name: dict(n=len(ss),
                       total_ms=sum(s["end_ns"] - s["start_ns"] for s in ss) / 1e6,
                       self_ms=sum(selfs[s["id"]] for s in ss) / 1e6,
                       p50_ms=median([(s["end_ns"] - s["start_ns"]) / 1e6 for s in ss]))
            for name, ss in sorted(by.items())}


def measured_ops(run):
    """Ops whose latency counts end to end: the loop and final phases (not the
    set-up loads or the post-maintenance verification), and in a traced run
    only the ones that went through SQL. maintainTable has no SQL form."""
    return [o for o in run["ops"] if o["phase"] in ("loop", "final")
            and (o["route"] == "sql" or o["kind"] == "maintain_table")]


def per_kind(run):
    """Metric stem -> latency list (failed = inf) over the measured ops."""
    out = {}
    for o in measured_ops(run):
        out.setdefault(STEMS[o["kind"]], []).append(o["ms"] if o["ok"] else INF)
    return out


def rows_of(op):
    return sum(g["hi"] - g["lo"] for g in op["src"])


def end_to_end(run, plan):
    """Every end-to-end metric that applies to this run, plus the tails of
    every op type (value, percentile, n) reported beside the medians."""
    setup = run["setup"]
    loads = setup["loads_s"]
    m = {"setup_s": setup["session_s"] + setup["ddl_s"] + len(loads) * median(loads)
         + setup["warmup_s"]}
    loop = run["loop"]
    m["ops_per_s"] = loop["ops"] / loop["seconds"]
    lat = per_kind(run)
    for stem, xs in lat.items():
        m[f"{stem}_p50_ms"] = median(xs)
    tails = {stem: tail(xs) for stem, xs in lat.items()}
    if tails.get("point_lookup"):
        m["point_lookup_tail_ms"] = tails["point_lookup"][0]
    by_id = {o["id"]: o for o in plan["setup"] + [o for r in plan["rounds"] for o in r]}
    inserts = [o for o in measured_ops(run) if o["kind"] == "insert" and o["phase"] == "loop"]
    if inserts:
        secs = sum(o["ms"] for o in inserts) / 1000.0
        ok_rows = sum(rows_of(by_id[o["id"]]) for o in inserts if o["ok"])
        m["append_rows_per_s"] = ok_rows / secs
    live = plan["finalCount"]["expectCount"]
    st = run["stored"]
    m["stored_bytes_per_row"] = (st["data_bytes"] + st["delete_bytes"]) / max(live, 1)
    counts = {stem: (len(xs), sum(1 for x in xs if x == INF)) for stem, xs in lat.items()}
    return m, tails, counts


def per_layer(run):
    """Per-layer metrics of a traced run, folded from the per-op counters of
    every op, set-up loads and the final pass included."""
    every = run["ops"]

    def vals(key, ops=every):
        return [o["counters"][key] for o in ops if key in o["counters"]]

    out = {}
    for name, (_, how) in LAYER.items():
        v = None
        if how == "median":
            v = median(vals(name))
        elif how == "mean":
            xs = vals(name)
            v = sum(xs) / len(xs) if xs else None
        elif how == "last":  # as the timed loop left it
            xs = vals(name, [o for o in every if o["phase"] == "loop"])
            v = xs[-1] if xs else None
        elif how == "prune":
            ps = [(o["counters"]["table.files_selected"], o["counters"]["table.files_total"])
                  for o in every if "table.files_total" in o["counters"]]
            v = sum(1 - s / t for s, t in ps if t) / len(ps) if ps else None
        elif how == "scan":
            xs = vals("scan." + name.split(".", 1)[1])
            v = sum(xs) / len(xs) if xs else None
        elif how == "writes":
            xs = vals(name, [o for o in every if o["kind"] in ("load", "insert")])
            v = sum(xs) / len(xs) if xs else None
        elif how == "execute":
            xs = [o["ms"] for o in every if o["phase"] == "loop" and o["route"] == "sql"
                  and o["ok"]]
            v = sum(xs) / len(xs) if xs else None
        elif how == "route":
            v = route_ms([o for o in every if o["phase"] == "loop"])
        elif how == "maint":
            v = median([o["ms"] for o in every
                        if STEMS.get(o["kind"]) == "maintain" and o["ok"]])
        elif how == "mean_all":
            xs = vals(name)
            v = sum(xs) / len(xs) if xs else None
        elif how == "max_all":
            xs = vals(name)
            v = max(xs) if xs else None
        out[name] = 0.0 if v is None else float(v)
    return out


def routes(ops):
    """Op kind -> (p50 via SQL, n, p50 via the direct call, n) for the traced
    loop's alternating routes; a side with no successful op reads None."""
    out = {}
    for kind in sorted({o["kind"] for o in ops if o["kind"] != "maintain_table"}):
        sql = [o["ms"] for o in ops if o["kind"] == kind and o["route"] == "sql" and o["ok"]]
        direct = [o["ms"] for o in ops if o["kind"] == kind and o["route"] == "direct"
                  and o["ok"]]
        out[kind] = (median(sql), len(sql), median(direct), len(direct))
    return out


def route_ms(ops):
    """Mean over op kinds run both ways of p50(SQL route) - p50(direct call)."""
    diffs = [s - d for s, _, d, _ in routes(ops).values() if s is not None and d is not None]
    return sum(diffs) / len(diffs) if diffs else None


def per_kind_counters(run):
    """Op kind -> mean of each Spark/JVM counter, for the traced report."""
    keys = ("spark.jobs", "spark.stages", "spark.tasks", "spark.task_ms", "spark.gc_ms",
            "spark.input_bytes", "spark.shuffle_write_bytes", "jvm.heap_peak_mb")
    out = {}
    for kind in sorted({o["kind"] for o in run["ops"]}):
        ops = [o for o in run["ops"] if o["kind"] == kind and "spark.jobs" in o["counters"]]
        if ops:
            out[kind] = {k: sum(o["counters"][k] for o in ops) / len(ops) for k in keys}
            out[kind]["n"] = len(ops)
    return out
