"""Metric computation for the engine benchmark.

Pure functions over the raw record the JVM side writes (op intervals,
probe results and, for a traced run, Spark listener records and spans).
No Spark or DuckDB here, so the rules are unit-tested directly.

Times in the raw record are epoch milliseconds (floats).
"""
import re
import statistics

PIPELINE, BENCH = "pipeline", "bench"

_FRAME = re.compile(r"^graft\.(\w+)\.(\w+?)\$?\.([\w$]+)\(")


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else None


def tail_percentile(values, q, min_beyond=10):
    """The q-quantile (nearest rank) of `values`, or None when fewer than
    `min_beyond` samples lie beyond it: p80 needs at least 50 samples."""
    n = len(values)
    if n == 0 or n * (1.0 - q) < min_beyond - 1e-9:
        return None
    s = sorted(values)
    k = max(0, min(n - 1, int(-(-q * n // 1)) - 1))  # ceil(q*n) - 1
    return s[k]


def first_engine_frame(call_site):
    """(package, object, method) of the innermost engine frame of a Spark
    long call site, skipping the benchmark's own frames; None if the call
    site holds no engine frame (e.g. a job submitted from a pool thread)."""
    for line in (call_site or "").splitlines():
        m = _FRAME.match(line.strip())
        if m and m.group(1) != "enginebench":
            return m.group(1), m.group(2), m.group(3)
    return None


def attribute(call_site, plan=""):
    """(layer, role) of a Spark job or SQL execution.

    The layer is the engine package of the innermost engine frame in the
    call site (`pipeline`, `queries`, `sources`, ...; `bench` when only the
    benchmark's own frames appear). Inside the pipeline, the role splits
    the op into its steps:
      write        ExtractJob/StreamingLineage extract → shuffle → write
      lineage_agg  the per-pid lineage aggregate over the written docs
      commit       Lineage table write and manifest commit
      stream       other micro-batch work (offset and source bookkeeping)
    Micro-batch jobs all carry the `start` call site of the stream, so for
    them the role comes from the physical plan: a write into `_lineage` is
    the commit, any other file write is the docs write, an md5 digest
    aggregate is the lineage aggregate.
    """
    f = first_engine_frame(call_site)
    if f is None:
        return BENCH, "other"
    pkg, obj, method = f
    if pkg != PIPELINE:
        return pkg, obj
    plan = plan or ""
    if "InsertIntoHadoopFsRelationCommand" in plan:
        return PIPELINE, "commit" if "/_lineage" in plan else "write"
    if "md5(" in plan:
        return PIPELINE, "lineage_agg"
    if obj == "Lineage":
        return PIPELINE, "commit"
    if method in ("lineageAgg", "docs"):
        return PIPELINE, "lineage_agg"
    if obj == "StreamingLineage" and method == "run":
        return PIPELINE, "stream"
    return PIPELINE, "write"


def union_ms(intervals, lo, hi):
    """Length of the union of [start, end] intervals clipped to [lo, hi]."""
    segs = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in segs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Trace:
    """Index over a traced run's listener records."""

    def __init__(self, t):
        ends = {e["job"]: e for e in t.get("job_ends", [])}
        ex = {}
        for e in t.get("executions", []):
            ex.setdefault(e["execution"], {}).update(e)
        self.executions = ex
        self.jobs = []
        for j in t.get("jobs", []):
            e = ex.get(j.get("execution"), {})
            j = dict(j, end=ends.get(j["job"], {}).get("end", j["start"]))
            j["layer"], j["role"] = attribute(e.get("call_site") or j["call_site"], e.get("plan", ""))
            self.jobs.append(j)
        self.stage_job = {s: j for j in self.jobs for s in j["stages"]}
        self.stages = [dict(s, job=self.stage_job.get(s["stage"])) for s in t.get("stages", [])]
        self.tasks = {}
        for k in t.get("tasks", []):
            self.tasks.setdefault(k["stage"], []).append(k["ms"])
        self.progress = t.get("progress", [])
        self.cache = t.get("cache_samples", [])
        self.spans = t.get("spans", [])

    def jobs_in(self, lo, hi):
        return [j for j in self.jobs if lo <= j["start"] <= hi]

    def stages_in(self, lo, hi):
        ids = {j["job"] for j in self.jobs_in(lo, hi)}
        return [s for s in self.stages if s["job"] is not None and s["job"]["job"] in ids]

    def skew(self, stage):
        ms = self.tasks.get(stage["stage"], [])
        med = median(ms)
        return max(ms) / med if ms and med else 1.0


def _dur(s):
    return max(0.0, s["end"] - s["start"])


def pipeline_op(tr, op, files):
    """Pipeline-layer figures of one op (a job or an epoch)."""
    lo, hi = op["start"], op["end"]
    jobs = tr.jobs_in(lo, hi)
    stages = tr.stages_in(lo, hi)
    write_stages = [s for s in stages if s["job"]["role"] == "write"]
    extract = [s for s in write_stages if s["shuffle_write_bytes"] > 0]
    written = [s for s in write_stages if s["output_bytes"] > 0]
    agg_ex = {j["execution"] for j in jobs if j["role"] == "lineage_agg" and j.get("execution") is not None}
    agg = [tr.executions[e] for e in agg_ex if "end" in tr.executions.get(e, {})]
    agg_end = max((e["end"] for e in agg), default=None)
    return {
        "jobs_per_op": len(jobs),
        "stages_per_op": len(stages),
        "tasks_per_op": sum(s["tasks"] for s in stages),
        "files_written": files,
        "extract_stage_ms": sum(_dur(s) for s in extract),
        "extract_task_skew": max((tr.skew(s) for s in extract), default=1.0),
        "shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in stages) / 1e6,
        "write_stage_ms": sum(_dur(s) for s in written),
        "output_mb": sum(s["output_bytes"] for s in stages) / 1e6,
        "lineage_agg_ms": sum(_dur(e) for e in agg),
        "commit_ms": (hi - agg_end) if agg_end is not None else 0.0,
        "driver_gap_ms": (hi - lo) - union_ms([(j["start"], j["end"]) for j in jobs], lo, hi),
        "gc_ms": sum(s["gc_ms"] for s in stages),
        "spill_mb": sum(s["spill_mem"] + s["spill_disk"] for s in stages) / 1e6,
    }


def dedup_op(tr, op):
    """Queries/util-layer figures of one dedup pass."""
    lo, hi = op["start"], op["end"]
    spans = [s for s in tr.spans if s["op"] == op["op"]]
    lsh = [s for s in spans if s["name"] == "d_minhash_lsh"]
    cc = [s for s in spans if s["name"] == "d_components"]
    stages = tr.stages_in(lo, hi)
    heavy = max(stages, key=lambda s: s["run_ms"], default=None)
    task_ms = [m for s in stages for m in tr.tasks.get(s["stage"], [])]
    records = sum(s["shuffle_write_records"] for s in stages)
    pairs = op.get("pairs", 0)
    return {
        "minhash_lsh_ms": sum(_dur(s) for s in lsh),
        "components_ms": sum(_dur(s) for s in cc),
        "components_jobs": sum(len(tr.jobs_in(s["start"], s["end"])) for s in cc),
        "shuffle_mb": sum(s["shuffle_write_bytes"] for s in stages) / 1e6,
        "shuffle_records": records,
        "task_skew": tr.skew(heavy) if heavy else 1.0,
        "max_task_ms": max(task_ms, default=0),
        "pairs_out": pairs,
        "shuffle_records_per_pair": records / max(pairs, 1),
        "cache_peak_mb": max((c["mb"] for c in tr.cache if lo <= c["at"] <= hi), default=0.0),
    }


STREAM_KEYS = {"add_batch_ms": "addBatch", "latest_offset_ms": "latestOffset",
               "query_planning_ms": "queryPlanning", "wal_commit_ms": "walCommit",
               "commit_offsets_ms": "commitOffsets"}


def stream_progress(tr, lo, hi):
    rows = [p for p in tr.progress if lo <= p["at"] <= hi + 5000 and p["rows"] > 0]
    return {k: median(p["duration_ms"].get(v, 0) for p in rows) or 0.0 for k, v in STREAM_KEYS.items()}


def op_rate(op):
    return op["docs"] / ((op["end"] - op["start"]) / 1000.0)


def end_to_end(raw, ops, t0, build_s):
    """The user-facing figures of an untraced run (or of the untraced ops
    of a traced one). `t0` is the epoch-second start of the command;
    set-up excludes only the build."""
    setup = raw["setup"]["first_op"] / 1000.0 - t0 - build_s
    ms = [o["end"] - o["start"] for o in ops]
    return {
        "setup_s": setup,
        "docs_per_s": median(op_rate(o) for o in ops),
        "op_p50_ms": median(ms),
        "op_p80_ms": tail_percentile(ms, 0.8),
        "peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
    }


def _median_of(dicts, key):
    return median(d[key] for d in dicts)


def per_layer(raw, tr, files, rates):
    """Every per-layer metric of a traced run.

    `files` maps op id -> files that op wrote; `rates` holds the
    docs_per_s of the run's untraced and traced ops, which alternate.
    Pipeline, stream and dedup figures come from the traced ops where
    the workload passes through that layer, and from that layer's probe
    over the workload's inputs where it does not (`source` says which).
    """
    w, probes = raw["workload"], raw["probes"]
    traced = [o for o in raw["ops"] if o.get("traced") and "error" not in o]
    out, source = {}, {}

    k = probes["kernel"]
    for name in ("decode_us", "blocks_us", "classify_us", "spans_us", "kernel_us"):
        out[f"extract.{name}"] = k[name]
    out["extract.parallel_eff"] = rates["untraced"] / (4e6 / k["kernel_us"])
    out["functions.scan_extract_docs_per_s"] = probes["scan_extract"]["docs_per_s"]
    out["sources.warc_read_docs_per_s"] = probes["warc_read"]["docs_per_s"]

    if w in ("extract_batch", "crawl_stream"):
        pops, source["pipeline"] = traced, "ops"
    else:
        pops, source["pipeline"] = [probes["pipeline"]], "probe"
    figs = [pipeline_op(tr, o, files.get(o["op"], 0)) for o in pops]
    for key in figs[0]:
        out[f"pipeline.{key}"] = _median_of(figs, key)

    if w == "crawl_stream":
        # progress is recorded during traced drains only
        lo, hi, source["stream"] = raw["setup"]["first_op"], raw["timed_end"], "ops"
    else:
        d = probes["stream"]
        lo, hi, source["stream"] = d["start"], d["end"], "probe"
    for key, v in stream_progress(tr, lo, hi).items():
        out[f"stream.{key}"] = v

    if w == "dedup_hot":
        dops, source["dedup"] = traced, "ops"
    else:
        dops, source["dedup"] = [probes["dedup"]], "probe"
    figs = [dedup_op(tr, o) for o in dops]
    for key in figs[0]:
        name = "util.cache_peak_mb" if key == "cache_peak_mb" else f"dedup.{key}"
        out[name] = _median_of(figs, key)

    out["trace.overhead_ratio"] = rates["untraced"] / rates["traced"]
    return out, source
