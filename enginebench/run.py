#!/usr/bin/env python3
"""Engine benchmark: one command per workload run.

  python3 enginebench/run.py --workload extract_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds the engine and the JVM harness from
source on first use (sbt, offline, output under .bench_build/), generates
the workload's inputs from --seed, runs one JVM at local[4] that stages
the inputs, warms up and runs the workload's ops back to back for
--seconds, checks every op's output, and prints the metrics. The last
line of stdout is one JSON object:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics for --trace 0 and the per-layer metrics for
--trace 1. The command exits non-zero when any op fails or any output
check fails. See enginebench/README.md for the metrics and workloads.
"""
import time

T0 = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

END_TO_END = {
    "setup_s": "s", "docs_per_s": "docs/s", "op_p50_ms": "ms", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "extract.decode_us": "us", "extract.blocks_us": "us", "extract.classify_us": "us",
    "extract.spans_us": "us", "extract.kernel_us": "us", "extract.parallel_eff": "ratio",
    "functions.scan_extract_docs_per_s": "docs/s",
    "pipeline.jobs_per_op": "count", "pipeline.stages_per_op": "count",
    "pipeline.tasks_per_op": "count", "pipeline.files_written": "count",
    "pipeline.extract_stage_ms": "ms", "pipeline.extract_task_skew": "ratio",
    "pipeline.shuffle_write_mb": "MB", "pipeline.write_stage_ms": "ms",
    "pipeline.output_mb": "MB", "pipeline.lineage_agg_ms": "ms", "pipeline.commit_ms": "ms",
    "pipeline.driver_gap_ms": "ms", "pipeline.gc_ms": "ms", "pipeline.spill_mb": "MB",
    "sources.warc_read_docs_per_s": "docs/s",
    "stream.add_batch_ms": "ms", "stream.latest_offset_ms": "ms",
    "stream.query_planning_ms": "ms", "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "dedup.minhash_lsh_ms": "ms", "dedup.components_ms": "ms", "dedup.components_jobs": "count",
    "dedup.shuffle_mb": "MB", "dedup.shuffle_records": "count", "dedup.task_skew": "ratio",
    "dedup.max_task_ms": "ms", "dedup.pairs_out": "count",
    "dedup.shuffle_records_per_pair": "ratio", "util.cache_peak_mb": "MB",
    "trace.overhead_ratio": "ratio",
}

# per-workload JVM settings: pids of the job or stream, warm-up ops before
# the timed section (about as many as op times take to level off)
JVM_ARGS = {
    "extract_batch": {"pids": 16, "warmup_ops": 8},
    "crawl_stream": {"pids": 8, "warmup_ops": 2},
    "dedup_hot": {"pids": 16, "warmup_ops": 6},
}
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"enginebench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_child(cmd, timeout, **kw):
    """Run cmd in its own process group and wait for it; on a timeout, a
    signal or any other way out, kill the whole group (sbt's launcher
    starts a JVM of its own) and wait until it has ended."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        fail(f"{cmd[0]} did not finish within {timeout} s")
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def source_key():
    """Hash of everything the JVM build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    key = source_key()
    stamp = os.path.join(BUILD, "enginebench-classpath.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == key:
            return lines[1]
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "export Runtime/fullClasspath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(BUILD, "enginebench-build.log")
    with open(log, "w") as lf:
        code, out = run_child(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
                              stderr=lf, text=True)
        lf.write(out)
    cps = [ln.strip() for ln in out.splitlines() if "enginebench-target" in ln and ":" in ln]
    if code != 0 or not cps:
        fail(f"build failed (exit {code}); see {log}")
    with open(stamp, "w") as f:
        f.write(f"{key}\n{cps[-1]}\n")
    return cps[-1]


def run_jvm(cp, a, plan, work, out):
    p = JVM_ARGS[a.workload]
    opens = [x for pkg in ADD_OPENS for x in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")]
    # The heap is fixed and pre-touched, so peak_rss_mb reads a constant
    # heap plus native memory. A heap left to grow made it spread by
    # 0.15-0.30 of its median between seeds, with G1's sizing choices.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", *opens, "-Dspark.ui.enabled=false",
           "-cp", cp, "graft.enginebench.EngineBench",
           "--workload", a.workload, "--input", os.path.join(work, "input"),
           "--work", work, "--out", out, "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--seed", str(a.seed), "--chunks", str(plan["params"]["chunks"]),
           "--pids", str(p["pids"]), "--warmup-ops", str(p["warmup_ops"])]
    log = os.path.join(BUILD, f"enginebench-{a.workload}.log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(log, "w") as lf:
        code, _ = run_child(cmd, JVM_TIMEOUT_S, stdout=lf, stderr=subprocess.STDOUT, env=env)
    if code != 0 or not os.path.exists(out):
        with open(log) as lf:
            tail = lf.read()[-3000:]
        fail(f"JVM run failed (exit {code}); log {log}:\n{tail}")


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat"""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, sum(v)


def count_files(d):
    return sum(len([f for f in fs if not f.startswith(".")]) for _, _, fs in os.walk(d))


def check_and_count(raw, plan, work):
    """Run the output checks; return (failures by op id, files by op id)."""
    import checks
    ck = checks.Checker(os.path.join(work, "input"), plan)
    bad, files = {}, {}
    w = raw["workload"]
    probe = raw["probes"].get("pipeline")
    for o in raw["ops"] + ([probe] if probe else []):
        if o["kind"] in ("extract_batch", "probe_pipeline"):
            bad[o["op"]] = [o["error"]] if "error" in o else ck.extract_op(o)
            files[o["op"]] = count_files(o["dir"]) - 1  # minus the lineage_table.tsv dump
    if w == "crawl_stream":
        chunks = plan["params"]["chunks"]
        for d in raw["drains"]:
            if d["kind"] != "crawl_stream":
                continue
            errs = [d["error"]] if "error" in d else ck.drain(d, chunks)
            per_epoch = ck.epoch_docs(d) if not errs else {}
            n_files = count_files(d["dir"]) / max(1, d["epochs"])
            for o in raw["ops"]:
                if o.get("drain") == d["drain"]:
                    bad[o["op"]] = errs
                    o["docs"] = per_epoch.get(o["epoch"], 0)
                    files[o["op"]] = n_files
    if w == "dedup_hot":
        for o in raw["ops"]:
            bad[o["op"]] = [o["error"]] if "error" in o else ck.dedup_op(o)
    return {k: v for k, v in bad.items() if v}, files


def main():
    ap = argparse.ArgumentParser(description="engine benchmark (see enginebench/README.md)")
    ap.add_argument("--workload", required=True, choices=sorted(JVM_ARGS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run unwinds like an error: children killed, scratch removed
    signal.signal(signal.SIGTERM, lambda *_: fail("terminated"))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}/src; run from a full checkout")

    t_build = time.time()
    cp = build()
    build_s = time.time() - t_build

    work = os.path.join(BUILD, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        plan = gen.write(a.workload, a.seed, os.path.join(work, "input"))
        out = os.path.join(work, "result.json")
        steal0 = cpu_ticks()
        run_jvm(cp, a, plan, work, out)
        steal1 = cpu_ticks()
        with open(out) as f:
            raw = json.load(f)
        bad, files = check_and_count(raw, plan, work)
        result, summary = report(a, raw, bad, files, build_s, work)
        stolen = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        summary.insert(1, f"  cpu steal during the JVM run: {100 * stolen:.1f}%")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in summary:
        print(line)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


def report(a, raw, bad, files, build_s, work):
    ops = raw["ops"]
    attempted, failed = len(ops), sum(1 for o in ops if o["op"] in bad)
    untraced = [o for o in ops if not o.get("traced")]
    e2e = metrics.end_to_end(raw, untraced, T0, build_s)
    st = raw["setup"]
    summary = [f"workload {a.workload} seed {a.seed}: {attempted} ops attempted, {failed} failed",
               f"  setup: jvm+session {st['ready'] / 1000 - T0 - build_s:.2f} s, staging "
               f"{st['stage_ms'] / 1000:.2f} s, warm-up "
               f"{', '.join(f'{x / 1000:.2f}' for x in st['warmup_ms'])} s",
               "  op ms: " + " ".join(f"{o['end'] - o['start']:.0f}" for o in ops)]
    for k, v in sorted(bad.items()):
        summary.append(f"  op {k} FAILED: {'; '.join(v)[:400]}")
    p80 = e2e["op_p80_ms"]
    summary.append("  op_p80_ms: " + (f"{p80:.1f} ms" if p80 is not None else
                                      f"missing ({len(untraced)} ops < 50)"))
    if a.trace == 0:
        vals = {k: e2e[k] for k in END_TO_END}
        units = END_TO_END
    else:
        traced = [o for o in ops if o.get("traced")]
        rates = {"untraced": e2e["docs_per_s"],
                 "traced": metrics.median(metrics.op_rate(o) for o in traced)}
        vals, source = metrics.per_layer(raw, metrics.Trace(raw["trace"]), files, rates)
        units = PER_LAYER
        summary.append(f"  layer sources: {json.dumps(source, sort_keys=True)}")
        summary.append(f"  tracing: untraced {rates['untraced']:.1f} docs/s, traced {rates['traced']:.1f} docs/s")
        trace_file = os.path.join(BUILD, f"trace-{a.workload}-{a.seed}.json")
        shutil.copyfile(os.path.join(work, "result.json"), trace_file)
        summary.append(f"  trace written to {os.path.relpath(trace_file, ROOT)}")
    missing = [k for k in units if vals.get(k) is None]
    for k in units:
        if vals.get(k) is not None:
            summary.append(f"  {k}: {vals[k]:.4f} {units[k]}")
    for k in missing:
        summary.append(f"  {k}: missing")
    result = {
        "correct": not bad and not missing and attempted > 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": vals[k], "unit": units[k]} for k in units if k not in missing},
    }
    return result, summary


if __name__ == "__main__":
    main()
