"""Turn one harness result into end-to-end and per-layer metrics.

End-to-end metrics come from a run without tracing. Per-layer metrics
come from the traced passes of a traced run: spans (run > pass > query >
phase) recorded by the harness, and Spark jobs tagged with the span that
launched them. A layer's self time is its span minus the part of that
interval its child spans cover.
"""
import statistics

from workloads import MODULES, module_of


def covered(start, end, intervals):
    """Length of [start, end] covered by the union of `intervals`."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals
                     if e > start and s < end)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    """A span's duration minus the time its children cover; overlapping
    children count once."""
    return (end - start) - covered(start, end, children)


def count_failures(executions, verified):
    """(attempted, failed, reasons). An execution fails if it threw, if its
    output digest differs from the verified digest, or if the verified
    output itself disagreed with the oracle."""
    failed, reasons = 0, {}
    for e in executions:
        q = e["query"]
        v = verified.get(q, {})
        why = None
        if "error" in e:
            why = "threw: " + e["error"]
        elif v.get("status") == "fail":
            why = "failed the oracle check: " + v.get("note", "")
        elif e.get("digest") != v.get("digest"):
            why = f"digest {e.get('digest')} != verified {v.get('digest')}"
        if why:
            failed += 1
            reasons.setdefault(q, why)
    return len(executions), failed, reasons


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(result, setup_s):
    """The end-to-end metrics of the timed passes, plus the name of the
    slowest query."""
    passes = result["passes"]
    execs = [e for p in passes for e in p["executions"]]
    by_query = {}
    for e in execs:
        by_query.setdefault(e["query"], []).append(e["latency_s"])
    medians = {q: _median(v) for q, v in by_query.items()}
    slowest = max(medians, key=medians.get)
    return {
        "wall_s": _median([p["wall_s"] for p in passes]),
        # the typical query's latency: with 10-11 queries of very different
        # cost, the median of all executions sits between two queries'
        # extreme samples, while the median of per-query medians does not
        "query_p50_s": _median(list(medians.values())),
        "query_max_s": medians[slowest],
        "cpu_s": _median([p["cpu_s"] for p in passes]),
        "heap_peak_mb": _median([p["heap_peak_mb"] for p in passes]),
        "setup_s": setup_s,
    }, {"slowest_query": slowest, "samples": len(execs), "timed_passes": len(passes)}


def _pass_layers(p, until_ms, spans, jobs, executions):
    n = p["pass"]
    mine = [j for j in jobs if j["tag"].startswith(f"{n}/")]
    wall = p["wall_s"]
    m = {"queries.construct_s": 0.0, "queries.plan_s": 0.0, "queries.exec_s": 0.0,
         "queries.driver_s": 0.0}
    for mod in MODULES:
        m.update({f"{mod}.construct_s": 0.0, f"{mod}.exec_s": 0.0, f"{mod}.jobs": 0})
    for e in p["executions"]:
        mod = module_of(e["query"])
        for ph in ("construct", "plan", "exec"):
            m[f"queries.{ph}_s"] += e.get(f"{ph}_s", 0.0)
        m[f"{mod}.construct_s"] += e.get("construct_s", 0.0)
        m[f"{mod}.exec_s"] += e.get("exec_s", 0.0)
    for s in spans:
        if s["name"] == "query" and s.get("pass") == n:
            q = s["query"]
            qjobs = [(j["start"], j["end"]) for j in mine
                     if j["tag"].split("/")[1] == q and j["end"] >= 0]
            m["queries.driver_s"] += self_time(s["start"], s["end"], qjobs) / 1e3
    for j in mine:
        m[f"{module_of(j['tag'].split('/')[1])}.jobs"] += 1
    # an execution's listener call can land after its pass has ended
    plans = [x for x in executions if p["start_ms"] <= x["end"] < until_ms]
    plans += p["executions"]
    task_s = sum(j["task_ms"] for j in mine) / 1e3
    mb = 1024.0 * 1024.0
    m.update({
        "spark.jobs": len(mine),
        "spark.construct_jobs": sum(1 for j in mine if j["tag"].endswith("/construct")),
        "spark.stages": sum(j["stages"] for j in mine),
        "spark.tasks": sum(j["tasks"] for j in mine),
        "spark.task_s": task_s,
        "spark.parallelism": task_s / wall if wall else 0.0,
        "spark.shuffle_write_mb": sum(j["shuffle_write_bytes"] for j in mine) / mb,
        "spark.shuffle_read_mb": sum(j["shuffle_read_bytes"] for j in mine) / mb,
        "spark.input_mb": sum(j["input_bytes"] for j in mine) / mb,
        "spark.output_mb": sum(j["output_bytes"] for j in mine) / mb,
        "spark.gc_s": p["gc_s"],
        "spark.executions": len(plans),
        "spark.scans": sum(x.get("scans", 0) for x in plans),
        "spark.exchanges": sum(x.get("exchanges", 0) for x in plans),
        "ops.Curation.detection_s": p["detection_s"],
        "tables_jobs": sum(1 for j in mine if "Tables.scala" in j["call_site"]),
        "wall_s": wall,
    })
    return m


def per_layer(result):
    """Per-layer metrics: the median over the traced passes of each
    pass's figures, plus the `Tables.load` timings and the tracing
    overhead (traced minus untraced pass wall in the same JVM)."""
    spans, jobs = result["spans"], result["jobs"]
    passes = result["passes"]
    rows = [_pass_layers(p, nxt["start_ms"] if nxt else float("inf"), spans, jobs,
                         result["executions"])
            for p, nxt in zip(passes, passes[1:] + [None]) if p["traced"]]
    out = {k: _median([r[k] for r in rows]) for k in rows[0]}
    spread = {k: [min(r[k] for r in rows), max(r[k] for r in rows)] for k in rows[0]}
    load_s = [t["load_s"] for t in result["tables"]]
    load_jobs = sum(1 for j in jobs if j["tag"].startswith("tables/"))
    out["Tables.load_ms"] = _median(load_s) * 1e3
    out["Tables.load_jobs"] = load_jobs / max(1, len(load_s))
    # each in-query load costs about one timed load call
    out["Tables.load_share"] = (out.pop("tables_jobs") * _median(load_s)
                                / out["wall_s"] if out["wall_s"] else 0.0)
    spread.pop("tables_jobs")
    out.pop("wall_s")
    out["trace.overhead_s"] = tracing_overhead([p["wall_s"] for p in passes],
                                               [p["traced"] for p in passes])
    return out, spread


def tracing_overhead(walls, traced):
    """Median over the untraced passes that have a traced pass on each side
    of the mean of those two neighbours' wall minus its own: passes still
    speed up as the JIT compiles, and a neighbour on each side cancels a
    steady trend."""
    diffs = [(walls[i - 1] + walls[i + 1]) / 2 - walls[i]
             for i in range(1, len(walls) - 1)
             if not traced[i] and traced[i - 1] and traced[i + 1]]
    return _median(diffs)
