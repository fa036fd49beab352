"""Arithmetic of the graft benchmark: turns the raw record a run writes
(pass timings, request latencies, checks, and in a traced run the spans
and Spark jobs) into the metrics listed in BENCHMARK.json.

Kept free of I/O so that tests/test_harness.py can pin every rule."""

import math
import re
import statistics

END_TO_END = [
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("rows_per_s", "1/s"),
    ("freshness_p50_s", "s"),
    ("request_p50_ms", "ms"),
    ("request_p90_ms", "ms"),
    ("requests_per_s", "1/s"),
    ("tick_p50_s", "s"),
    ("curated_read_p50_ms", "ms"),
    ("space_amp", "ratio"),
]

SPANS = [
    "pipeline.ingest", "pipeline.metrics", "pipeline.query",
    "pipeline.curation", "operators.vacuum", "streaming.curate_batch",
    "streaming.read_curated", "streaming.maintain",
]

SPAN_FIELDS = [
    ("wall_s", "s"), ("self_s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("task_busy_s", "s"), ("shuffle_mb", "MB"), ("read_mb", "MB"),
    ("written_mb", "MB"), ("spill_mb", "MB"),
]

SITE_LAYERS = ["table_protocol", "dedup", "dim", "pipeline", "streaming",
               "other"]

# source file of a job's call site -> the layer that issued it
SITE_FILES = {
    "TableManifest.scala": "table_protocol",
    "MergeUpsert.scala": "table_protocol",
    "Dedup.scala": "dedup",
    "IncrementalDedup.scala": "dedup",
    "Similarity.scala": "dedup",
    "Sampling.scala": "dedup",
    "DimResolver.scala": "dim",
    "IngestJob.scala": "pipeline",
    "MetricsJob.scala": "pipeline",
    "QueryLayer.scala": "pipeline",
    "CurationJob.scala": "pipeline",
    "Lineage.scala": "pipeline",
    "StreamCuration.scala": "streaming",
}

RATIOS = [
    ("pipeline.query.jobs_per_request", "count"),
    ("pipeline.query.rows_scanned_per_row_returned", "ratio"),
    ("pipeline.ingest.written_bytes_per_input_byte", "ratio"),
    ("pipeline.metrics.written_bytes_per_input_byte", "ratio"),
    ("streaming.curate_batch.jobs_per_tick", "count"),
]

HOST = [
    ("host.canary_pre_s", "s"), ("host.canary_post_s", "s"),
    ("host.io_canary_s", "s"), ("trace.overhead_frac", "ratio"),
]

MB = 1024.0 * 1024.0
SCALA_SITE = re.compile(r"([A-Za-z0-9_$]+\.scala):\d+")


def per_layer_names():
    names = [(f"{s}.{f}", u) for s in SPANS for f, u in SPAN_FIELDS]
    for layer in SITE_LAYERS:
        names += [(f"site.{layer}.jobs", "count"), (f"site.{layer}.job_s", "s")]
    return names + RATIOS + HOST


# ---- timings -----------------------------------------------------------

def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def highest_percentile(n, candidates=(50, 90, 99, 99.9)):
    """The highest candidate percentile that has at least ten of `n`
    samples beyond it, or None."""
    ok = [p for p in candidates if n - math.ceil(p / 100.0 * n) >= 10]
    return max(ok) if ok else None


def median(values):
    return statistics.median(values)


# ---- spans and jobs ----------------------------------------------------

def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, jobs):
    """A span's wall time minus the part of it its jobs cover. Jobs are
    clipped to the span, so self + union == wall exactly; overlapping
    jobs (a call that runs several at once) count their union once.
    Times in ms; result in s."""
    s0, s1 = span["start"], span["end"]
    clipped = [(max(j["start"], s0), min(j["end"], s1)) for j in jobs]
    covered = union_length([(a, b) for a, b in clipped if b > a])
    return ((s1 - s0) - covered) / 1000.0, covered / 1000.0


def site_layer(site):
    """Layer of a job call site such as 'parquet at TableManifest.scala:410'."""
    m = SCALA_SITE.search(site or "")
    return SITE_FILES.get(m.group(1), "other") if m else "other"


def resolve_sites(jobs, executions):
    """Give a job whose call site is outside Scala code (a query stage or
    broadcast run on a helper thread) the call site of the SQL execution
    it belongs to; `executions` maps execution id -> that site."""
    def site(j):
        if SCALA_SITE.search(j["site"] or ""):
            return j["site"]
        return executions.get(j.get("execution") or "", j["site"])
    return [dict(j, site=site(j)) for j in jobs]


def attribute(spans, jobs, slack_ms=5.0):
    """Map span id -> its jobs. A job belongs to the span named by the
    local property it was submitted with, when that span was open at the
    job's start. A pool thread keeps the property of the span open when
    it was started, so a job naming a span that has closed goes to the
    latest-started span open at the job's start on that span's thread.
    A job with no span property was submitted outside any span and
    belongs to none."""
    by_id = {str(s["id"]): s for s in spans}
    out = {s["id"]: [] for s in spans}

    def is_open(x, t):
        return x["start"] - slack_ms <= t <= x["end"] + slack_ms

    for j in jobs:
        s = by_id.get(j.get("span") or "")
        if s is None:
            continue
        if not is_open(s, j["start"]):
            open_ = [x for x in spans
                     if x["thread"] == s["thread"] and is_open(x, j["start"])]
            s = max(open_, key=lambda x: x["start"]) if open_ else None
        if s is not None:
            out[s["id"]].append(j)
    return out


def layer_metrics(raw, plain_wall_s):
    """Per-layer metrics of a traced run; `plain_wall_s` is the timed
    region of an untraced run of the same workload and seed."""
    tr = raw["trace"]
    spans, jobs = tr["spans"], resolve_sites(tr["jobs"], tr["executions"])
    owned = attribute(spans, jobs)
    metrics = {}
    sums = {}
    for name in SPANS:
        calls = [s for s in spans if s["name"] == name]
        acc = dict.fromkeys([f for f, _ in SPAN_FIELDS], 0.0)
        acc.update(read_records=0.0, written_bytes=0.0, rows_out=0.0,
                   in_bytes=0.0)
        for s in calls:
            js = owned[s["id"]]
            self_s, _ = self_time(s, js)
            acc["wall_s"] += (s["end"] - s["start"]) / 1000.0
            acc["self_s"] += self_s
            acc["jobs"] += len(js)
            acc["tasks"] += sum(j["tasks"] for j in js)
            acc["task_busy_s"] += sum(j["busy_s"] for j in js)
            acc["shuffle_mb"] += sum(j["shuffle_bytes"] for j in js) / MB
            acc["read_mb"] += sum(j["read_bytes"] for j in js) / MB
            acc["written_mb"] += sum(j["written_bytes"] for j in js) / MB
            acc["spill_mb"] += sum(j["spill_bytes"] for j in js) / MB
            acc["read_records"] += sum(j["read_records"] for j in js)
            acc["written_bytes"] += sum(j["written_bytes"] for j in js)
            acc["rows_out"] += s.get("rows_out", 0)
            acc["in_bytes"] += s.get("in_bytes", 0)
        n = len(calls)
        for f, _ in SPAN_FIELDS:
            metrics[f"{name}.{f}"] = acc[f] / n if n else 0.0
        sums[name] = dict(acc, calls=n)

    site_jobs = dict.fromkeys(SITE_LAYERS, 0)
    site_s = dict.fromkeys(SITE_LAYERS, 0.0)
    for s in spans:
        if s["name"] not in SPANS:
            continue
        for j in owned[s["id"]]:
            layer = site_layer(j["site"])
            site_jobs[layer] += 1
            site_s[layer] += (j["end"] - j["start"]) / 1000.0
    for layer in SITE_LAYERS:
        metrics[f"site.{layer}.jobs"] = site_jobs[layer]
        metrics[f"site.{layer}.job_s"] = site_s[layer]

    def ratio(a, b):
        return a / b if b else 0.0
    q, cb = sums["pipeline.query"], sums["streaming.curate_batch"]
    metrics["pipeline.query.jobs_per_request"] = ratio(q["jobs"], q["calls"])
    metrics["pipeline.query.rows_scanned_per_row_returned"] = ratio(
        q["read_records"], q["rows_out"])
    for name in ("pipeline.ingest", "pipeline.metrics"):
        metrics[f"{name}.written_bytes_per_input_byte"] = ratio(
            sums[name]["written_bytes"], sums[name]["in_bytes"])
    metrics["streaming.curate_batch.jobs_per_tick"] = ratio(cb["jobs"], cb["calls"])

    metrics["host.canary_pre_s"] = raw["canary_pre_s"]
    metrics["host.canary_post_s"] = raw["canary_post_s"]
    metrics["host.io_canary_s"] = raw["io_canary_s"]
    metrics["trace.overhead_frac"] = raw["wall_s"] / plain_wall_s - 1.0
    return metrics


# ---- end to end --------------------------------------------------------

def end_to_end(raw):
    """End-to-end metrics of an untraced run. The request metrics need
    a p90 with ten samples beyond it; a workload without a reader has
    none."""
    passes = raw["passes"]
    metrics = {
        "setup_s": raw["session_s"] + raw["prepare_s"] + raw["warmup_s"],
        "wall_s": raw["wall_s"],
        "rows_per_s": raw["rows_total"] / raw["writer_s"],
        "freshness_p50_s": median([p["fresh_s"] for p in passes]),
        "tick_p50_s": median([p["tick_s"] for p in passes]),
        "curated_read_p50_ms": 1000.0 * median([p["read_s"] for p in passes]),
        "space_amp": raw["output_bytes"] / raw["input_bytes"],
    }
    req = raw["requests_ms"]
    if req:
        if (highest_percentile(len(req)) or 0) < 90:
            raise ValueError(f"{len(req)} requests: too few for a p90")
        metrics.update({
            "request_p50_ms": percentile(req, 50),
            "request_p90_ms": percentile(req, 90),
            "requests_per_s": len(req) / raw["reader_s"],
        })
    return metrics


def outcome(raw):
    """(correct, attempted, failed): every operation against the program
    and every output check counts as attempted; a throw or a failed
    check counts as failed."""
    checks = raw["checks"]
    attempted = raw["ops_attempted"] + len(checks)
    failed = raw["ops_failed"] + sum(1 for c in checks if not c["ok"])
    return failed == 0 and attempted > 0, attempted, failed


def summarize(raw, plain_wall_s=None):
    """The result line of a run: end-to-end metrics from an untraced
    record; or, given the timed region of an untraced run of the same
    workload and seed, per-layer metrics from a traced record."""
    correct, attempted, failed = outcome(raw)
    if plain_wall_s is None:
        values, units = end_to_end(raw), dict(END_TO_END)
    else:
        values = layer_metrics(raw, plain_wall_s)
        units = dict(per_layer_names())
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]}
                    for k in units if k in values},
    }


def failed_frac(result):
    return result["failed"] / result["attempted"]
