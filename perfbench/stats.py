"""Arithmetic over a run's raw record: percentiles, span self time,
and the end-to-end and per-layer metrics the benchmark reports."""
import statistics

TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

READS = ("dense", "filtered", "ann", "batch", "maxsim")

# per workload: the op kind whose latency is the headline (the most
# frequent call, so its median is not a mixture's), and the op kinds
# whose units count as work done
PRIMARY = {
    "bulk_index": (("upsert",), ("upsert", "upsertReplace", "stream", "upsertVectors")),
    "search_mix": (("dense",), READS + ("upsert",)),
    "curation_batch": (("pipeline",), ("pipeline",)),
}

# every span the benchmark opens, as <layer>.<name>
SPANS = (
    "index.buildPoints", "index.upsert", "index.upsertReplace",
    "streaming.IncrementalIndex.run", "index.compact", "index.upsertVectors",
    "api.buildIvfIndex", "api.count",
    "search.dense", "search.filtered", "api.searchAnn", "search.batch",
    "vector.maxsim", "api.upsertIncremental",
    "ops.Dedup.corpusWithDups", "ops.Dedup.minhashPairs", "ops.Dedup.clusters",
    "ops.keeperAntiJoin", "ops.TextAnalysis.qualityScore",
    "ops.TextAnalysis.knLogprob", "ops.Curation.withSplit",
)


def percentile(values, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values):
    """(p, value) for the highest percentile of the ladder with at least
    ten samples beyond it, or None when even the median has fewer."""
    n = len(values)
    best = None
    for p in TAIL_LADDER:
        if round(n * (100.0 - p) / 100.0, 9) >= 10:
            best = (p, percentile(values, p))
    return best


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """Span id -> duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_s"], s["end_s"]
        covered = union_length([(max(a, c["start_s"]), min(b, c["end_s"]))
                                for c in kids.get(s["id"], [])
                                if c["end_s"] > a and c["start_s"] < b])
        out[s["id"]] = (b - a) - covered
    return out


def _ms(op):
    return (op["end_s"] - op["start_s"]) * 1000.0


def _ratio(num, den):
    return num / den if den else 0.0


def end_to_end(rec):
    """The workload-generic end-to-end metrics of an untraced run, plus
    the workload's own named metrics for the detail record."""
    wl = rec["workload"]
    head, work = PRIMARY[wl]
    ops = rec["ops"]
    good = [o for o in ops if o["ok"]]
    lat = [_ms(o) for o in good if o["kind"] in head]
    busy = sum(_ms(o) for o in good if o["kind"] in work) / 1000.0
    units = sum(o["units"] for o in good if o["kind"] in work)
    setup_s = rec["session_s"] + statistics.median(rec["setup_rep_s"]) + rec["warm_s"]
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (statistics.median(lat) if lat else 0.0, "ms"),
        "throughput_per_s": (_ratio(units, busy), "1/s"),
        "task_cpu_ms_per_op": (_ratio(rec["task_cpu_s"] * 1000.0, len(ops)), "ms"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
    }
    probes = rec["probes"]
    named = {
        "setup_s": (setup_s, "s"),
        "process_cpu_s": (rec["process_cpu_s"], "s"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
        "fail_ratio": (_ratio(sum(not o["ok"] for o in ops) +
                              sum(p["failed"] for p in probes),
                              len(ops) + len(probes)), "ratio"),
    }

    def p50(kind):
        xs = [_ms(o) for o in good if o["kind"] == kind]
        return (statistics.median(xs) if xs else 0.0, "ms")

    if wl == "bulk_index":
        named["index_rows_per_s"] = (_ratio(units, busy), "rows/s")
        ivf = [_ms(o) / 1000.0 for o in good if o["kind"] == "buildIvfIndex"]
        named["ivf_build_s"] = (statistics.median(ivf) if ivf else 0.0, "s")
        named["space_amp"] = (rec["extra"]["space_amp"], "ratio")
    elif wl == "search_mix":
        for k in READS:
            named["%s_p50_ms" % k] = p50(k)
        named["upsert_p50_ms"] = p50("upsert")
        reads = [_ms(o) for o in good if o["kind"] in READS]
        t = tail(reads)
        if t:
            named["search_p%g_ms" % t[0]] = (t[1], "ms")
        named["reads"] = (len(reads), "count")
    else:
        named["curation_docs_per_s"] = (_ratio(units, busy), "docs/s")
    return metrics, named


def _by_span(rec):
    spans = [s for s in rec["spans"] if s["traced"]]
    selfs = self_times(rec["spans"])
    groups = {}
    for s in spans:
        groups.setdefault("%s.%s" % (s["layer"], s["name"]), []).append(s)
    return groups, selfs


def _sum(group, key):
    return sum(s["spark"][key] for s in group)


def per_layer(rec):
    """Per-layer metrics of a traced run, every name present (0 where
    the workload does not reach the layer)."""
    groups, selfs = _by_span(rec)
    m = {}
    for name in SPANS:
        g = groups.get(name, [])
        for part in ("self", "build", "plan", "exec"):
            xs = [selfs[s["id"]] if part == "self" else s[part + "_s"] for s in g]
            m["%s.%s_s" % (name, part)] = (statistics.median(xs) if xs else 0.0, "s")

    def g(name):
        return groups.get(name, [])

    def count_sum(group, key):
        return sum(s["counts"].get(key, 0.0) for s in group)

    bp = g("index.buildPoints")
    m["index.buildPoints.cpu_ns_per_row"] = (
        _ratio(_sum(bp, "cpu_ns"), _sum(bp, "records_read")), "ns")
    up = g("index.upsert")
    m["index.upsert.jobs_per_call"] = (_ratio(_sum(up, "jobs"), len(up)), "count")
    rp = g("index.upsertReplace")
    m["index.upsertReplace.bytes_rewritten_per_row"] = (
        _ratio(_sum(rp, "bytes_written"), count_sum(rp, "rows")), "B")
    st = g("streaming.IncrementalIndex.run")
    m["streaming.IncrementalIndex.run.batches"] = (
        _ratio(count_sum(st, "batches"), len(st)), "count")
    ivf = g("api.buildIvfIndex")
    m["api.buildIvfIndex.cpu_s"] = (_ratio(_sum(ivf, "cpu_ns") / 1e9, len(ivf)), "s")
    m["api.buildIvfIndex.jobs"] = (_ratio(_sum(ivf, "jobs"), len(ivf)), "count")
    m["api.buildIvfIndex.cpu_ns_per_point_centroid"] = (_ratio(
        _sum(ivf, "cpu_ns"),
        sum(s["counts"].get("points", 0) * s["counts"].get("clusters", 0) *
            (s["counts"].get("iters", 0) + 1) for s in ivf)), "ns")
    m["api.buildIvfIndex.onBuildPoints.failures"] = (
        float(sum(p["failed"] for p in rec["probes"]
                  if "buildIvfIndex" in p["probe"])), "count")
    ann = g("api.searchAnn")
    m["api.searchAnn.rows_scanned_frac"] = (_ratio(
        _sum(ann, "records_read"), count_sum(ann, "collection_rows")), "ratio")
    m["api.searchAnn.tasks_per_call"] = (_ratio(_sum(ann, "tasks"), len(ann)), "count")
    m["api.searchAnn.recall_at_10"] = (
        _ratio(count_sum(ann, "recall_at_10"), len(ann)), "ratio")
    ui = g("api.upsertIncremental")
    m["api.upsertIncremental.rows_scanned_per_row_written"] = (_ratio(
        _sum(ui, "records_read"), count_sum(ui, "rows_written")), "ratio")
    de = g("search.dense")
    m["search.dense.cpu_ns_per_scored_row"] = (
        _ratio(_sum(de, "cpu_ns"), count_sum(de, "scored_rows")), "ns")
    fi = g("search.filtered")
    m["search.filtered.rows_scanned_per_hit"] = (
        _ratio(_sum(fi, "records_read"), count_sum(fi, "hits")), "ratio")
    ba = g("search.batch")
    m["search.batch.cpu_ns_per_query_row"] = (
        _ratio(_sum(ba, "cpu_ns"), count_sum(ba, "query_rows")), "ns")
    ms = g("vector.maxsim")
    m["vector.maxsim.cpu_ns_per_doc"] = (
        _ratio(_sum(ms, "cpu_ns"), count_sum(ms, "docs")), "ns")
    mh = g("ops.Dedup.minhashPairs")
    m["ops.Dedup.minhashPairs.shuffle_mb"] = (
        _ratio(_sum(mh, "shuffle_write_bytes") / 1e6, len(mh)), "MB")
    m["ops.Dedup.minhashPairs.pairs_per_doc"] = (
        _ratio(count_sum(mh, "pairs"), count_sum(mh, "docs")), "ratio")
    cl = g("ops.Dedup.clusters")
    m["ops.Dedup.clusters.jobs"] = (_ratio(_sum(cl, "jobs"), len(cl)), "count")
    kn = g("ops.TextAnalysis.knLogprob")
    m["ops.TextAnalysis.knLogprob.tasks"] = (_ratio(_sum(kn, "tasks"), len(kn)), "count")
    m["ops.TextAnalysis.knLogprob.joined_input_planned_tasks"] = (
        float(rec["extra"].get("kn_planned_tasks_joined_input", 0)), "count")

    traced = [s for gr in groups.values() for s in gr]
    traced_ops = sum(1 for o in rec["ops"] if o["traced"]) or 1
    tasks, jobs = _sum(traced, "tasks"), _sum(traced, "jobs")
    m["engine.sched_delay_ms_per_task"] = (_ratio(_sum(traced, "sched_delay_ms"), tasks), "ms")
    m["engine.tasks_per_job"] = (_ratio(tasks, jobs), "count")
    m["engine.gc_ms"] = (_sum(traced, "gc_ms") / traced_ops, "ms")
    m["engine.spill_mb"] = (_sum(traced, "spill_bytes") / 1e6 / traced_ops, "MB")
    m["engine.fetch_wait_ms"] = (_sum(traced, "fetch_wait_ms") / traced_ops, "ms")
    m["engine.max_concurrent_tasks"] = (
        float(rec["parallelism"]["max_concurrent_tasks"]), "count")
    m["trace.overhead_frac"] = (overhead(rec), "ratio")
    return m


def overhead(rec):
    """Median traced over median untraced latency of the headline ops,
    minus one."""
    head = PRIMARY[rec["workload"]][0]
    on = [_ms(o) for o in rec["ops"] if o["ok"] and o["kind"] in head and o["traced"]]
    off = [_ms(o) for o in rec["ops"] if o["ok"] and o["kind"] in head and not o["traced"]]
    if not on or not off:
        return 0.0
    return statistics.median(on) / statistics.median(off) - 1.0
