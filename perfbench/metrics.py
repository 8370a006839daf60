"""Metric definitions and the arithmetic that turns one harness result
into the benchmark's output line.

The harness (perfbench/scala) records every timed call; this module
derives the end-to-end and per-layer figures from those records, applies
the percentile rule, and counts errors. It has no dependencies beyond the
standard library so the self-tests run anywhere.
"""
import math
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# The workloads BENCHMARK.json lists, in order.
WORKLOADS = {
    "md_session": "4 symbols x 4 days of 1m candles back-filled; getData "
                  "hits, resamples, indicators, tail fills, delete+refetch: "
                  "many small calls, so driver planning and the store write "
                  "path dominate",
    "curation_index": "2k docs with planted near-dups, 2k clustered 32-d "
                      "vectors; 100-doc/100-vector ingest, LSH and IVF/PQ "
                      "probes, deletes, compaction: index write paths and "
                      "vector kernels",
}

# Workloads the command runs on request but BENCHMARK.json does not list:
# at 40-47 s a run on four cores, analytics_sf01 would add half as much
# again to the time that repeated runs of the listed workloads take.
EXTRA_WORKLOADS = {
    "analytics_sf01": "15 engine queries in seeded order, fresh session, on "
                      "a generated sf0.1 star schema (600k lineitem, 100k "
                      "events): stage execution, shuffle and codegen "
                      "dominate; no writes",
}

# (name, unit, better, bound) -- reported by untraced runs of every workload
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("ops_per_s", "1/s", "higher", 0.25),
    ("read_mean_ms", "ms", "lower", 0.25),
    ("heap_live_mb", "MB", "lower", 0.2),
]

# module spans, in ms: the p50 of the whole call for spans that are
# operations, the p50 of self time (children excluded) for spans nested
# inside one; 0 where a workload does not issue the call
SPANS = [
    "md.getData_hit", "md.getResampledData", "coverage.checkDataExists",
    "store.scan", "ohlcv.resampleCandles", "indicators",
    "md.getDataIncremental", "md.deleteData", "store.upsertSave",
    "ingest.bandIndexSink", "ingest.ivfSink",
    "dedup.lshCandidatesDeltaAuto", "dedup.jaccardVerify",
    "similarity.ivfProbeBulk", "pq.ivfPqProbeBulk",
    "dedup.bandIndexDelete", "similarity.ivfDelete", "index.maybeCompact",
]

ANALYTICS_QUERIES = [
    "q01_resample_1h", "q02_pricing_summary", "q03_range_scan",
    "q06_group_count", "q11_join_star", "q12_join_large", "q17_sma20",
    "q23_upsert_dedup", "q26_asof_join", "q31_shipping_priority",
    "q36_sessionize", "q40_range_join", "q41_incremental_resample",
    "q50_bollinger", "q56_atr",
]

# Spark and JVM layers (totals over the traced interval) and ratios
LAYERS = [
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"), ("codegen.compile_ms", "ms"),
    ("codegen.classes", "count"), ("exec.jobs", "count"),
    ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.stage_wall_ms", "ms"), ("exec.driver_gap_ms", "ms"),
    ("exec.task_cpu_ms", "ms"), ("exec.task_gc_ms", "ms"),
    ("exec.shuffle_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
    ("io.output_bytes", "bytes"), ("io.files_written", "count"),
    ("jvm.jit_ms", "ms"), ("jvm.gc_ms", "ms"),
    ("coverage.hit_ratio", "ratio"),
    ("store.rows_written_per_row_ingested", "ratio"),
    ("kline.rows_fetched_per_row_missing", "ratio"),
    ("lsh.verified_per_candidate", "ratio"), ("lsh.planted_recall", "ratio"),
    ("ivf.recall_at_10", "ratio"), ("pq.recall_at_10", "ratio"),
    ("index.files_per_bucket", "ratio"),
    ("store.bytes_per_row", "bytes"),
    ("trace.attributed_share", "ratio"),
    ("trace.overhead_share", "ratio"),
]


def per_layer(workload=None):
    """(name, unit, better) for every per-layer metric, in report order;
    analytics_sf01 adds its per-query medians."""
    out = [(s + "_ms", "ms", "lower") for s in SPANS]
    if workload == "analytics_sf01":
        out += [("query.%s_ms" % q, "ms", "lower") for q in ANALYTICS_QUERIES]
    better = {"ratio": "higher", "count": "lower", "bytes": "lower",
              "ms": "lower"}
    for name, unit in LAYERS:
        b = better[unit]
        if name in ("kline.rows_fetched_per_row_missing",
                    "store.rows_written_per_row_ingested",
                    "index.files_per_bucket", "trace.overhead_share"):
            b = "lower"
        out.append((name, unit, b))
    return out


def benchmark_spec():
    """The BENCHMARK.json document these definitions describe."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 10,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": d}
                       for n, u, b, d in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, u, b in per_layer()],
    }


def percentile(values, q):
    """Linear-interpolated q-quantile (0 < q < 1), or None unless at least
    ten samples lie beyond it."""
    n = len(values)
    if n == 0 or n * (1.0 - q) + 1e-9 < 10:
        return None
    s = sorted(values)
    pos = q * (n - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def count_errors(ops):
    """(attempted, failed) over every recorded call, warm-up included: a
    call that raised or whose output failed its check is a failure."""
    return len(ops), sum(1 for o in ops if not o["ok"])


def _measured(raw, phase="measure"):
    return [o for o in raw["ops"] if o["phase"] == phase]


REPORT_UNITS = {
    "setup_s": "s", "ops_per_s": "1/s", "read_mean_ms": "ms",
    "heap_live_mb": "MB", "heap_peak_mb": "MB", "error_rate": "ratio",
    "read_n": "count",
    "read_p50_ms": "ms", "read_p90_ms": "ms", "write_n": "count",
    "write_mean_ms": "ms", "write_p50_ms": "ms", "write_p90_ms": "ms",
    "ingest_rows_per_s": "1/s", "store_bytes_per_row": "bytes",
}


def report(raw):
    """Every end-to-end figure of one untraced result that has a value,
    with its unit: the gated ones and the workload-specific ones."""
    return {n: {"value": v, "unit": REPORT_UNITS[n]}
            for n, v in end_to_end(raw).items() if v is not None}


def end_to_end(raw):
    """Every end-to-end figure of one untraced result, including the
    workload-specific ones that only the report line carries."""
    ops = _measured(raw)
    busy_s = sum(o["ms"] for o in ops) / 1000.0
    reads = [o["ms"] for o in ops if o["kind"] == "read"]
    writes = [o["ms"] for o in ops if o["kind"] == "write"]
    write_s = sum(writes) / 1000.0
    rows_in = sum(o["rows"] for o in ops if o["kind"] == "write")
    attempted, failed = count_errors(raw["ops"])
    end = raw.get("end", {})
    out = {
        "setup_s": raw["setup_s"],
        "ops_per_s": len(ops) / busy_s if busy_s > 0 else None,
        "read_mean_ms": sum(reads) / len(reads) if reads else None,
        "heap_live_mb": min(raw["heap_readings_mb"]),
        "heap_peak_mb": max(raw["heap_readings_mb"]),
        "error_rate": failed / attempted if attempted else None,
        "read_n": len(reads),
        "read_p50_ms": percentile(reads, 0.5),
        "read_p90_ms": percentile(reads, 0.9),
        "write_n": len(writes),
        "write_mean_ms": sum(writes) / len(writes) if writes else None,
        "write_p50_ms": percentile(writes, 0.5),
        "write_p90_ms": percentile(writes, 0.9),
        "ingest_rows_per_s": rows_in / write_s if write_s > 0 else None,
    }
    if end.get("live_rows"):
        out["store_bytes_per_row"] = end["store_bytes"] / end["live_rows"]
    return out


def _ops_per_s(ops):
    busy = sum(o["ms"] for o in ops) / 1000.0
    return len(ops) / busy if busy > 0 else 0.0


def layers(raw):
    """Per-layer figures of one traced result."""
    tr = raw["trace"]
    spans = tr["spans"]["spans"]
    counters = raw.get("counters", {})
    end = raw.get("end", {})
    def span_ms(name):
        st = spans.get(name, {})
        return st.get("incl_p50_ms" if st.get("top") else "self_p50_ms", 0.0)

    out = {}
    for s in SPANS:
        out[s + "_ms"] = span_ms(s)
    for q in ANALYTICS_QUERIES:
        out["query.%s_ms" % q] = span_ms("query." + q)
    lay = tr["layers"]
    for name, _ in LAYERS:
        out[name] = lay.get(name, 0.0)

    def ratio(a, b):
        return counters.get(a, 0.0) / counters[b] if counters.get(b) else 0.0

    out["coverage.hit_ratio"] = ratio("coverage.hits", "coverage.probes")
    out["kline.rows_fetched_per_row_missing"] = ratio(
        "kline.rows_fetched", "kline.rows_missing")
    ingested = sum(o["rows"] for o in _measured(raw, "traced")
                   if o["kind"] == "write")
    if ingested and "store.upsertSave" in spans:
        out["store.rows_written_per_row_ingested"] = (
            lay.get("exec.records_written", 0.0) / ingested)
    else:
        out["store.rows_written_per_row_ingested"] = 0.0
    out["lsh.verified_per_candidate"] = ratio("lsh.verified", "lsh.candidates")
    out["lsh.planted_recall"] = ratio("lsh.planted_found", "lsh.planted")
    out["ivf.recall_at_10"] = ratio("ivf.hits", "ivf.truth")
    out["pq.recall_at_10"] = ratio("pq.hits", "pq.truth")
    out["index.files_per_bucket"] = end.get("files_per_bucket", 0.0)
    out["store.bytes_per_row"] = (end["store_bytes"] / end["live_rows"]
                                  if end.get("live_rows") else 0.0)
    untraced = _ops_per_s(_measured(raw))
    out["trace.overhead_share"] = (
        1 - _ops_per_s(_measured(raw, "traced")) / untraced
        if untraced else 0.0)
    return out


def output_line(raw, trace):
    """The final JSON object: correctness, call counts and the metrics
    BENCHMARK.json lists for this kind of run."""
    attempted, failed = count_errors(raw["ops"])
    e2e = end_to_end(raw)
    if trace:
        vals = layers(raw)
        spec = per_layer(raw.get("workload"))
    else:
        vals = e2e
        spec = [(n, u, b) for n, u, b, _ in END_TO_END]
    metrics = {}
    for name, unit, _ in spec:
        v = vals.get(name)
        if v is None or (isinstance(v, float) and not math.isfinite(v)):
            raise ValueError("metric %s has no value" % name)
        metrics[name] = {"value": v, "unit": unit}
    return {"correct": failed == 0, "attempted": max(attempted, 1),
            "failed": failed, "metrics": metrics}
