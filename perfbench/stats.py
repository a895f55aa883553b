"""Statistics and the traced-run summarizer for the graft benchmark.

Pure functions over the records the Scala harness writes: the
percentile rule for timings, the union of job intervals, span self
time, and the per-layer metrics of a traced run.
"""

import json
import os
import statistics

# Percentiles reported for a timing, highest first.
PERCENTILE_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def percentile(xs, p):
    """Linear-interpolation percentile of a non-empty sequence."""
    s = sorted(xs)
    if len(s) == 1:
        return float(s[0])
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(xs, min_beyond=10):
    """The highest percentile of the ladder with at least `min_beyond`
    samples beyond it, as (p, value); None when even p75 has fewer.
    A p90 thus needs at least 100 samples."""
    n = len(xs)
    for p in PERCENTILE_LADDER:
        if n * (100.0 - p) / 100.0 >= min_beyond - 1e-9:
            return p, percentile(xs, p)
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clipped(intervals, lo, hi):
    """The parts of `intervals` inside [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans):
    """Span id -> duration minus the part of it covered by its children."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = clipped([(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])],
                       s["start_ms"], s["end_ms"])
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - union_length(kids)
    return out


# Every span name the harness emits, one self-time metric each.
SPAN_NAMES = (
    "tools.Web.request", "dashboard.replay", "tsdb.PromParser.parse",
    "tsdb.GraftDb.open", "tsdb.GraftDb.engine", "tsdb.Engine.build",
    "tsdb.Engine.execute", "tsdb.GraftDb.insert", "tsdb.GraftDb.flush",
    "tsdb.GraftDb.read", "tsdb.GraftDb.compact", "tsdb.GraftDb.refresh_stats",
    "tsdb.GraftDb.stats_read", "curate.chain", "dedup.Dedup.shingle",
    "dedup.Dedup.pairs", "operators.Curation.curate", "operators.Packing.pack",
    "operators.ShardWriter.write",
)

# The operation each workload's end-to-end latency is taken over.
PRIMARY_OP = {"dashboard": "query", "ingest": "flush", "curate": "chain"}


def end_to_end(rec):
    """The contract's end-to-end metrics from one untraced result record."""
    op = PRIMARY_OP[rec["workload"]]
    return {
        "setup_s": (rec["session_s"] + statistics.median(rec["setup_s"]), "s"),
        "op_p50_ms": (statistics.median(rec["ops"][op]), "ms"),
        "items_per_s": (rec["items"] / rec["wall_s"], "1/s"),
        "stored_bytes_per_item": (rec["stored_bytes"] / rec["stored_items"], "bytes"),
    }


def detail(rec):
    """The workload's own named timings and rates: (name, value, unit)."""
    w = rec["workload"]
    ops = rec["ops"]
    out = []

    def timing(prefix, xs):
        if not xs:
            return
        out.append((f"{prefix}_p50_ms", statistics.median(xs), "ms"))
        t = tail_percentile(xs)
        if t:
            out.append((f"{prefix}_p{t[0]:g}_ms".replace(".", "_"), t[1], "ms"))

    if w == "dashboard":
        timing("query", ops["query"])
        out.append(("queries_per_s", rec["items"] / rec["wall_s"], "1/s"))
    elif w == "ingest":
        out.append(("ingest_samples_per_s", rec["items"] / rec["wall_s"], "1/s"))
        timing("flush", ops["flush"])
        timing("fresh_read", ops["fresh_read"])
        out.append(("stored_bytes_per_sample",
                    rec["stored_bytes"] / rec["stored_items"], "bytes"))
    else:
        out.append(("curate_docs_per_s", rec["items"] / rec["wall_s"], "1/s"))
        timing("chain", ops["chain"])
    out.append(("setup_s", rec["session_s"] + statistics.median(rec["setup_s"]), "s"))
    out.append(("failed_frac", rec["failed"] / max(1, rec["attempted"]), "frac"))
    return out


def _jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(rec, dump_dir):
    """Every per-layer metric of a traced run as name -> (value, unit).
    Layers a workload bypasses report 0."""
    w = rec["workload"]
    spans = _jsonl(os.path.join(dump_dir, "spans.jsonl"))
    jobs = _jsonl(os.path.join(dump_dir, "jobs.jsonl"))
    sqls = _jsonl(os.path.join(dump_dir, "sql.jsonl"))
    tr = rec["trace"]
    ops_rec = rec["ops"]
    counters = rec.get("counters", {})
    m = {}

    # the operations the spark/sql totals are divided by, and the
    # window their jobs and executions fall in
    if w == "dashboard":
        n_ops = len(ops_rec["query"])
        lo, hi = rec["phases"]["http"]
    elif w == "ingest":
        n_ops = len(ops_rec["flush"]) + len(ops_rec["fresh_read"])
        lo, hi = rec["phases"]["run"]
    else:
        n_ops = len(ops_rec["chain"])
        lo, hi = tr["trace_start_ms"], tr["trace_end_ms"]
    n_ops = max(1, n_ops)
    in_phase = [j for j in jobs if lo <= j["submit_ms"] <= hi]
    sql_in = [s for s in sqls if lo <= s["start_ms"] <= hi]

    def total(k):
        return sum(j[k] for j in in_phase)

    m["spark.jobs_per_op"] = (len(in_phase) / n_ops, "count")
    m["spark.stages_per_op"] = (total("stages") / n_ops, "count")
    m["spark.tasks_per_op"] = (total("tasks") / n_ops, "count")
    job_iv = [(j["submit_ms"], j["end_ms"]) for j in in_phase]
    m["spark.job_wall_ms_per_op"] = (union_length(job_iv) / n_ops, "ms")
    m["spark.sched_delay_ms_per_op"] = (total("sched_ms") / n_ops, "ms")
    m["spark.task_s_per_op"] = (total("task_ms") / 1000.0 / n_ops, "s")
    m["spark.shuffle_write_bytes"] = (total("shuffle_write") / n_ops, "bytes")
    m["spark.shuffle_read_bytes"] = (total("shuffle_read") / n_ops, "bytes")
    m["spark.spill_bytes"] = (total("spill") / n_ops, "bytes")
    m["spark.input_bytes"] = (total("input_bytes") / n_ops, "bytes")
    result_rows = rec.get("result_rows", 0)
    m["spark.input_records_per_result_row"] = (
        total("input_records") / result_rows if result_rows else 0.0, "ratio")
    m["sql.executions_per_op"] = (len(sql_in) / n_ops, "count")
    for k in ("analysis", "optimization", "planning"):
        m[f"sql.{k}_ms_per_op"] = (sum(s[f"{k}_ms"] for s in sql_in) / n_ops, "ms")
    m["scan.files_read_per_op"] = (sum(s["files"] for s in sql_in) / n_ops, "count")
    on_disk = rec.get("partitions_on_disk", 0)
    part_scans = [s["partitions"] for s in sql_in if s["partitions"] > 0]
    m["scan.partitions_read_frac"] = (
        _mean(part_scans) / on_disk if on_disk and part_scans else 0.0, "frac")
    m["jvm.gc_ms"] = (tr["gc_ms"], "ms")
    m["jvm.heap_after_gc_peak_mb"] = (tr["heap_after_gc_peak_mb"], "MB")

    # tools.Web: client latency minus the job wall inside each request
    reqs = rec.get("requests", [])
    all_iv = [(j["submit_ms"], j["end_ms"]) for j in jobs]
    non_job = [(e - s) - union_length(clipped(all_iv, s, e)) for s, e in reqs]
    m["tools.Web.non_job_ms_per_query"] = (_mean(non_job), "ms")
    m["tools.Web.response_bytes_per_query"] = (
        rec.get("response_bytes", 0) / len(reqs) if reqs else 0.0, "bytes")

    # spans: per-name durations and the jobs fired inside each
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    jobs_in = {}
    for j in jobs:
        jobs_in[j["span"]] = jobs_in.get(j["span"], 0) + 1

    def dur(name):
        return [s["end_ms"] - s["start_ms"] for s in by_name.get(name, [])]

    def jobs_per(name):
        ss = by_name.get(name, [])
        return sum(jobs_in.get(s["id"], 0) for s in ss) / len(ss) if ss else 0.0

    m["tsdb.PromParser.parse_ms"] = (_mean(dur("tsdb.PromParser.parse")), "ms")
    m["tsdb.GraftDb.open_ms"] = (_mean(dur("tsdb.GraftDb.open")), "ms")
    m["tsdb.GraftDb.engine_ms"] = (_mean(dur("tsdb.GraftDb.engine")), "ms")
    m["tsdb.GraftDb.listing_jobs_per_query"] = (jobs_per("tsdb.GraftDb.engine"), "count")
    m["tsdb.Engine.build_ms"] = (_mean(dur("tsdb.Engine.build")), "ms")
    m["tsdb.Engine.build_jobs"] = (jobs_per("tsdb.Engine.build"), "count")
    m["tsdb.Engine.execute_ms"] = (_mean(dur("tsdb.Engine.execute")), "ms")

    samples = rec["items"] if w == "ingest" else 0
    m["tsdb.GraftDb.insert_us_per_sample"] = (
        sum(dur("tsdb.GraftDb.insert")) * 1000.0 / samples if samples else 0.0, "us")
    m["tsdb.GraftDb.files_per_flush"] = (_mean(counters.get("files_per_flush", [])), "count")
    m["tsdb.GraftDb.files_per_partition"] = (
        _mean(counters.get("files_per_partition_before_compact", [])), "count")
    m["tsdb.GraftDb.files_per_partition_after_compact"] = (
        _mean(counters.get("files_per_partition_after_compact", [])), "count")
    m["tsdb.GraftDb.compact_ms"] = (_mean(dur("tsdb.GraftDb.compact")), "ms")
    m["tsdb.GraftDb.compact_bytes_rewritten"] = (
        _mean(counters.get("compact_bytes_rewritten", [])), "bytes")
    m["tsdb.GraftDb.refresh_stats_ms"] = (_mean(dur("tsdb.GraftDb.refresh_stats")), "ms")

    m["dedup.Dedup.shingle_s"] = (_mean(dur("dedup.Dedup.shingle")) / 1000.0, "s")
    m["dedup.Dedup.pairs_s"] = (_mean(dur("dedup.Dedup.pairs")) / 1000.0, "s")
    m["dedup.Dedup.pairs_found"] = (_mean(counters.get("pairs_found", [])), "count")
    m["operators.Curation.curate_s"] = (_mean(dur("operators.Curation.curate")) / 1000.0, "s")
    m["operators.Curation.survivors"] = (_mean(counters.get("survivors", [])), "count")
    m["operators.Packing.pack_s"] = (_mean(dur("operators.Packing.pack")) / 1000.0, "s")
    m["operators.ShardWriter.write_s"] = (
        _mean(dur("operators.ShardWriter.write")) / 1000.0, "s")
    m["operators.ShardWriter.files_written"] = (
        _mean(counters.get("files_written", [])), "count")
    m["engine.Caches.persisted_bytes_peak"] = (
        tr["persisted_bytes_peak"] if w == "curate" else 0, "bytes")

    # self time per layer, per operation that entered the layer
    st = self_times(spans)
    for name in SPAN_NAMES:
        ss = by_name.get(name, [])
        ops = len({s["op"] for s in ss})
        m[f"self_ms_per_op.{name}"] = (
            sum(st[s["id"]] for s in ss) / ops if ops else 0.0, "ms")

    # tracing overhead: traced minus untraced median of the primary op
    op = PRIMARY_OP[w]
    traced = ops_rec.get(op, [])
    untraced = rec.get("untraced_ops", {}).get(op, [])
    if traced and untraced:
        d = statistics.median(traced) - statistics.median(untraced)
        m["trace.overhead_ms_per_op"] = (d, "ms")
        m["trace.overhead_frac"] = (d / statistics.median(untraced), "frac")
    else:
        m["trace.overhead_ms_per_op"] = (0.0, "ms")
        m["trace.overhead_frac"] = (0.0, "frac")
    return m
