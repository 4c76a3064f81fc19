#!/usr/bin/env python3
"""Benchmark for the graft engine: one workload, one seed, one JVM.

    python3 graftbench/run.py --workload near_dup --seed 7 --seconds 40 --trace 0

Run from the repository root. It builds the engine from source together with
the driver in graftbench/ (sbt, offline; reused while the sources are
unchanged), generates the workload's corpus from the seed, runs the
workload's Catalog queries in one `local[nproc]` JVM for a fixed number of
passes worth about `--seconds` seconds, checks every query run's output
against the generator's ground truth, and prints one JSON line last:

  --trace 0  end-to-end metrics: setup_s, warm_pass_s, ok_frac,
             peak_live_heap_mb
  --trace 1  per-layer metrics from traced passes, a per-layer table, the
             spans file and the tracing overhead

Build output, corpora, spans and logs go under .bench_build/ in the
repository root. Exits non-zero without a result line when the engine
sources are missing, the build fails or the JVM fails.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

# The benchmark's workloads (BENCHMARK.json); text_curate runs only on request.
WORKLOADS = ("topic_model", "near_dup")
EXTRA_WORKLOADS = ("text_curate",)
DEADLINE_S = 170  # the whole run, build excluded
SETUPS = 5
# Nominal (cold first pass, warm pass) seconds on a 4-core x86 VM; they turn
# --seconds into a fixed pass count, so every run of a workload has the same
# schedule whatever the machine's speed on the day. Passes stop early only
# when they outrun OUTRUN x --seconds (a badly contended machine).
NOMINAL_PASS_S = {"topic_model": (15.0, 4.3), "near_dup": (13.0, 3.8),
                  "text_curate": (10.5, 3.5)}
OUTRUN = 1.5


def pass_count(workload, seconds):
    cold, warm = NOMINAL_PASS_S[workload]
    return max(3, 1 + int(round((seconds - cold) / warm)))

END_TO_END = [
    ("setup_s", "s", "lower"),
    ("warm_pass_s", "s", "lower"),
    ("ok_frac", "frac", "higher"),
    ("peak_live_heap_mb", "MiB", "lower"),
]

# (metric, unit, the end-to-end metric and workload it should move)
_Q = "warm_pass_s on the query's workload"
PER_LAYER = [
    ("sources.scan_s", "s", "warm_pass_s on text_curate"),
    ("sources.scan_tasks", "count", "warm_pass_s on text_curate; 1 = single-task scan"),
    ("functions.clean_text_s", "s", "warm_pass_s on text_curate"),
    ("functions.word_tf_pairs_s", "s", "warm_pass_s on text_curate"),
    ("functions.token_stats_s", "s", "warm_pass_s on text_curate"),
    ("functions.shingle_set_s", "s", "warm_pass_s on near_dup"),
    ("functions.minhash_sig_s", "s", "warm_pass_s on near_dup"),
    ("codegen.compile_s", "s", "cold cost (first pass)"),
    ("codegen.classes", "count", "cold cost (first pass)"),
    ("jvm.jit_s", "s", "cold cost (first pass)"),
    ("jvm.first_pass_s", "s", "cold cost (first pass)"),
    ("jvm.first_setup_s", "s", "setup_s (cold JVM)"),
    ("operators.dedup_jaccard_pairs_s", "s", _Q),
    ("operators.dedup_shingle_jaccard_s", "s", _Q),
    ("operators.dedup_minhash_lsh_s", "s", _Q),
    ("lda.lda_topics_s", "s", _Q),
    ("lda.lda_doc_topics_s", "s", _Q),
    ("lda.gibbs_topics_s", "s", _Q),
    ("operators.dedup_candidate_rows", "count", "warm_pass_s on near_dup"),
    ("operators.dedup_result_rows", "count", "warm_pass_s on near_dup"),
    ("operators.dedup_yield", "ratio", "warm_pass_s on near_dup"),
    ("operators.join_bhj", "count", "warm_pass_s, peak_live_heap_mb on near_dup"),
    ("operators.join_smj", "count", "warm_pass_s, peak_live_heap_mb on near_dup"),
    ("lda.fit_s", "s", "warm_pass_s on topic_model"),
    ("lda.fit_jobs", "count", "warm_pass_s on topic_model"),
    ("lda.fit_core_util", "ratio", "warm_pass_s on topic_model"),
    ("lda.infer_s", "s", "warm_pass_s on topic_model"),
    ("lda.gibbs_sweep_s", "s", "warm_pass_s on topic_model"),
    ("lda.gibbs_sweeps", "count", "warm_pass_s on topic_model"),
    ("lda.driver_s", "s", "warm_pass_s on topic_model"),
    ("lda.preprocess_s", "s", "warm_pass_s on topic_model and text_curate"),
    ("planning.analysis_s", "s", "warm_pass_s on text_curate"),
    ("planning.optimization_s", "s", "warm_pass_s on text_curate"),
    ("planning.physical_s", "s", "warm_pass_s on text_curate"),
    ("planning.queries", "count", "warm_pass_s on text_curate"),
    ("exec.jobs", "count", "warm_pass_s on near_dup"),
    ("exec.stages", "count", "warm_pass_s on near_dup"),
    ("exec.tasks", "count", "warm_pass_s on near_dup"),
    ("exec.run_s", "s", "warm_pass_s on near_dup"),
    ("exec.cpu_s", "s", "warm_pass_s on near_dup"),
    ("exec.core_util", "ratio", "warm_pass_s on near_dup and topic_model"),
    ("exec.sched_delay_s", "s", "warm_pass_s on near_dup"),
    ("exec.task_gc_s", "s", "warm_pass_s on near_dup"),
    ("shuffle.write_records", "count", "warm_pass_s on near_dup"),
    ("shuffle.write_mb", "MiB", "warm_pass_s on near_dup"),
    ("shuffle.read_records", "count", "warm_pass_s on near_dup"),
    ("shuffle.fetch_wait_s", "s", "warm_pass_s on near_dup"),
    ("shuffle.spill_mb", "MiB", "warm_pass_s on near_dup"),
    ("cache.put_blocks", "count", "peak_live_heap_mb, warm_pass_s on near_dup"),
    ("cache.mem_mb", "MiB", "peak_live_heap_mb, warm_pass_s on near_dup"),
    ("cache.disk_mb", "MiB", "peak_live_heap_mb, warm_pass_s on near_dup"),
    ("driver.gap_s", "s", "warm_pass_s on topic_model"),
    ("driver.result_mb", "MiB", "warm_pass_s on topic_model"),
    ("jvm.gc_s", "s", "warm_pass_s, peak_live_heap_mb"),
    ("jvm.gc_count", "count", "warm_pass_s, peak_live_heap_mb"),
    ("jvm.cpu_s", "s", "warm_pass_s, peak_live_heap_mb"),
    ("layer.sources_self_s", "s", "self time of the sources layer"),
    ("layer.functions_self_s", "s", "self time of the functions layer"),
    ("layer.operators_self_s", "s", "self time of the operators layer"),
    ("layer.lda_self_s", "s", "self time of the lda layer"),
    ("layer.spark_jobs_s", "s", "time in Spark jobs under the layers"),
    ("trace.overhead_s", "s", "traced minus untraced warm pass"),
]


def log(msg):
    print("[graftbench] " + msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile engine + driver with sbt once per source state; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found under %s/src/main/scala/graft; run from a "
             "repository checkout" % ROOT)
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    stamp_file = os.path.join(BUILD, "classpath-%s.txt" % source_stamp())
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and driver with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.server.autostart=false", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=800)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed (sbt exit %d)" % p.returncode, 1)
    log("built in %.0f s" % (time.time() - t0))
    with open(stamp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def java_cmd():
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not java or not os.path.exists(java):
        fail("java not found")
    # Spark on JDK 17 needs these outside spark-submit (as in build.sbt).
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = [java]
    for o in opens:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % o]
    return cmd


def median(xs):
    return statistics.median(xs) if xs else 0.0


def late(passes):
    """The warm passes that count: every pass after the first, less the
    earlier half of them, where the JIT is still visibly warming up."""
    warm = passes[1:]
    return warm[len(warm) // 2:]


def end_to_end(res, checks):
    passes = res["passes"]
    warm = [p["s"] for p in late(passes)]
    attempted = len(checks)
    failed = sum(1 for c in checks if c[2] is not None)
    return {
        "setup_s": median(res["setup_s"]),
        "warm_pass_s": median(warm),
        "ok_frac": (attempted - failed) / attempted,
        "peak_live_heap_mb": max(p["live_heap_mb"] for p in passes),
    }


def overhead(passes):
    """Traced minus untraced warm pass time: each traced warm pass against
    the mean of its untraced neighbours, which cancels the warm-up drift
    between them; the median over those differences."""
    t = {p["pass"]: p for p in passes}
    diffs = [t[k]["s"] - (t[k - 1]["s"] + t[k + 1]["s"]) / 2 for k in t
             if k > 2 and t[k]["traced"] and k + 1 in t
             and not t[k - 1]["traced"] and not t[k + 1]["traced"]]
    return median(diffs)


def per_layer(res):
    passes = res["passes"]
    first = passes[0]
    traced = ([p for p in late(passes) if p["traced"]] or
              [p for p in passes[1:] if p["traced"]])
    rounds = res["probes"]
    names = [n for n, _, _ in PER_LAYER] + sorted(
        {k for p in traced for k in p["trace"]} - {n for n, _, _ in PER_LAYER})
    out = {}
    for name in names:
        # a layer's self time is its share of a traced pass plus of a probe round
        vals = [p["trace"][name] for p in traced if p["trace"].get(name) is not None]
        probed = [r[name] for r in rounds if r.get(name) is not None]
        out[name] = median(vals) + median(probed)
    out.update({
        "codegen.compile_s": first["codegen_s"],
        "codegen.classes": first["codegen_classes"],
        "jvm.jit_s": first["jit_s"],
        "jvm.first_pass_s": first["s"],
        "jvm.first_setup_s": res["setup_s"][0],
        "jvm.gc_s": median([p["gc_s"] for p in traced]),
        "jvm.gc_count": median([p["gc_count"] for p in traced]),
        "jvm.cpu_s": median([p["cpu_s"] for p in traced]),
        "trace.overhead_s": overhead(passes),
    })
    return out


def main():
    ap = argparse.ArgumentParser(description="graft engine benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=40)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS + EXTRA_WORKLOADS:
        fail("unknown workload %r; one of %s" % (
            a.workload, ", ".join(WORKLOADS + EXTRA_WORKLOADS)))
    cp = build()

    start = time.time()
    tag = "%s-%d-%d-%d" % (a.workload, a.seed, a.trace, os.getpid())
    data = os.path.join(BUILD, "data", tag)
    work = os.path.join(BUILD, "run", tag)
    os.makedirs(work, exist_ok=True)
    try:
        rows, truth = gen.generate(a.workload, a.seed)
        groups = gen.write(rows, a.workload, data, os.cpu_count() or 1)
        sizes = gen.sizes(rows, truth, groups)
        del rows
        print("input %s seed %d: %s" % (a.workload, a.seed, json.dumps(sizes)), flush=True)

        out = os.path.join(work, "result.json")
        spans = os.path.join(BUILD, "trace", "%s-%d.spans.jsonl" % (a.workload, a.seed))
        # A fixed heap: with G1 sizing the heap on the fly, some JVMs settled
        # on a small young generation and stayed ~30% slower (NOISE.md).
        cmd = java_cmd() + ["-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + work]
        if a.trace:
            cmd += ["-Dspark.callstack.depth=60"]
        cmd += ["-cp", cp, "graftbench.Driver", "--workload", a.workload, "--data", data,
                "--passes", str(pass_count(a.workload, a.seconds)),
                "--max-seconds", str(OUTRUN * a.seconds),
                "--trace", str(a.trace), "--out", out,
                "--setups", str(SETUPS)]
        if a.trace:
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            cmd += ["--spans", spans]
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        jvm_log = os.path.join(work, "jvm.log")
        with open(jvm_log, "w") as lf:
            try:
                p = subprocess.run(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                   timeout=max(10, DEADLINE_S - (time.time() - start)))
            except subprocess.TimeoutExpired:
                fail("driver JVM timed out", 1)
        with open(jvm_log) as lf:
            for line in lf:
                if line.startswith("[graftbench]"):
                    sys.stderr.write(line)
        if p.returncode != 0 or not os.path.exists(out):
            with open(jvm_log) as lf:
                sys.stderr.write(lf.read()[-4000:])
            fail("driver JVM failed (exit %d)" % p.returncode, 1)
        with open(out) as f:
            res = json.load(f)

        checks = check.check_runs(a.workload, truth, res["passes"])
        for pa, q, msg in checks:
            if msg is not None:
                log("check failed: %s pass %d %s: %s" % (a.workload, pa, q, msg))
        failed = sum(1 for c in checks if c[2] is not None)
        e2e = end_to_end(res, checks)
        print("passes %s" % " ".join("%.3f" % p["s"] for p in res["passes"]), flush=True)
        print("live heap %s" % " ".join("%.1f" % p["live_heap_mb"] for p in res["passes"]))
        print("setups %s" % " ".join("%.3f" % s for s in res["setup_s"]))
        print("gc s %s" % " ".join("%.2f" % p["gc_s"] for p in res["passes"]))
        print("cpu s %s" % " ".join("%.1f" % p["cpu_s"] for p in res["passes"]))
        print("jit s %s" % " ".join("%.1f" % p["jit_s"] for p in res["passes"]))
        for name, unit, _ in END_TO_END:
            print("%-20s %12.4f %s" % (name, e2e[name], unit), flush=True)
        if a.trace:
            layer = per_layer(res)
            print("per-layer (median of traced warm passes; cold metrics from pass 1):")
            for name, unit, moves in PER_LAYER:
                print("  %-34s %14.4f %-6s -> %s" % (name, layer[name], unit, moves))
            for name in sorted(set(layer) - {n for n, _, _ in PER_LAYER}):
                print("  %-34s %14.4f s      -> %s" % (name, layer[name], _Q))
            print("tracing overhead: %.4f s per warm pass; spans: %s" % (
                layer["trace.overhead_s"], os.path.relpath(spans, ROOT)), flush=True)
            metrics = {n: {"value": layer[n], "unit": u} for n, u, _ in PER_LAYER}
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u, _ in END_TO_END}
        print(json.dumps({"correct": failed == 0, "attempted": len(checks),
                          "failed": failed, "metrics": metrics}), flush=True)
    finally:
        shutil.rmtree(data, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
