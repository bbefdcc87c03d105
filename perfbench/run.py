#!/usr/bin/env python3
"""eventkitspark benchmark: four seeded workloads, end-to-end and per-layer.

Run from the repository root:

  python3 perfbench/run.py --workload event_ops --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --steadiness [--runs 5] [--workloads a,b]

One run builds the program and the benchmark from source (cached in
.bench_build/ by source hash), generates the workload's inputs from the
seed (perfbench/gen.py), runs the workload in one JVM (Spark local[4],
perfbench/src/), checks every output against its reference, writes one
result file under perfbench/results/ and prints a report followed by one
JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones (E2E), with --trace 1 the per-layer
ones (PER_LAYER) from a separate traced run.

--steadiness runs two sets of runs of the same checkout per workload and
reports, per end-to-end metric and workload, whether the two medians
agree within the metric's bound from BENCHMARK.json.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RESULTS = os.path.join(HERE, "results")

# Workload -> (tail percentile of the latency metric, the minimum number of
# latency samples that percentile needs: ten beyond it). event_ops' 40
# samples take three passes of its 16 queries, so pass_s is the median
# of three.
TAIL = {"event_ops": (75, 40), "graph_rounds": (75, 40),
        "corpus_dedup_ann": (75, 40), "event_stream": (99, 1000)}

# End-to-end metrics, reported by every workload (see BENCHMARK.json).
E2E = [
    ("setup_s", "s"), ("pass_s", "s"), ("latency_p50_ms", "ms"),
    ("latency_tail_ms", "ms"), ("throughput_eps", "1/s"),
]

PER_LAYER = [
    ("tables.scan_s", "s"), ("tables.bytes_read_mb", "MB"), ("tables.rows_read", "count"),
    ("queries.build_s", "s"), ("queries.build_jobs", "count"),
    ("plan.analysis_ms", "ms"), ("plan.optimization_ms", "ms"), ("plan.planning_ms", "ms"),
    ("plan.codegen_compile_ms", "ms"), ("plan.codegen_compiles", "count"),
    ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
    ("sched.driver_gap_s", "s"), ("sched.slot_busy_share", "ratio"),
    ("exec.run_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"), ("exec.peak_mem_mb", "MB"),
    ("op.sort_ms", "ms"), ("op.agg_ms", "ms"), ("op.broadcast_build_ms", "ms"),
    ("op.rows_out", "count"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"), ("shuffle.records", "count"),
    ("shuffle.spill_mb", "MB"), ("shuffle.fetch_wait_s", "s"), ("shuffle.skew", "ratio"),
    ("ckpt.rdds_created", "count"), ("ckpt.pinned_mb_peak", "MB"), ("ckpt.left_pinned_mb", "MB"),
    ("kernel.minhash_sigs_ns_row", "ns"), ("kernel.shingle_sids_ns_row", "ns"),
    ("kernel.vec_dot_ns_row", "ns"), ("kernel.topk_by_score_ns_row", "ns"),
    ("kernel.ema_ns_row", "ns"), ("kernel.throttle_admit_ns_row", "ns"),
    ("ann.candidate_pairs", "count"), ("ann.result_pairs", "count"),
    ("ann.candidate_yield", "ratio"), ("dedup.candidate_yield", "ratio"),
    ("stream.batch_ms_p50", "ms"), ("stream.add_batch_ms", "ms"),
    ("stream.query_planning_ms", "ms"), ("stream.wal_commit_ms", "ms"),
    ("stream.commit_offsets_ms", "ms"), ("stream.state_rows", "count"),
    ("stream.state_mem_mb", "MB"), ("stream.late_rows_dropped", "count"),
    ("stream.batches", "count"), ("stream.backlog_rows_max", "count"),
    ("stream.generator_late_ms_max", "ms"),
    ("count_ratio.median", "ratio"), ("count_ratio.max", "ratio"),
    ("trace.overhead", "ratio"), ("fail_ratio", "ratio"),
    ("host.canary_s_pre", "s"), ("host.canary_s_post", "s"),
    ("host.canary_job_s_pre", "s"), ("host.canary_job_s_post", "s"),
    ("host.load_start", "load"), ("host.load_end", "load"),
]

# Per-layer metrics left out of the traced run's final JSON line (they
# stay in the result file and the report): each reads exactly zero on a
# gated workload. Local mode fetches no remote blocks, nothing spills at
# these sizes, event_stream's batch references hold no hash aggregate,
# and the streamed operators set no watermark, so none drops late rows.
NOT_DECLARED = {"shuffle.spill_mb", "shuffle.fetch_wait_s", "op.agg_ms",
                "stream.late_rows_dropped"}
JSON_LAYER = [(n, u) for n, u in PER_LAYER if n not in NOT_DECLARED]

# Input tables whose rows count as a batch workload's work per pass.
WORK_TABLES = {"event_ops": ["events", "lineitem"],
               "graph_rounds": ["orders", "lineitem"],
               "corpus_dedup_ann": ["documents", "embeddings"]}

# A run must end within 180 s of its start, not counting the build.
RUN_BUDGET_S = 175


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark jar directory the program's own build uses."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    fail("no Spark jars: neither build.sbt's unmanagedBase nor $SPARK_HOME/jars exists")


def build():
    """Compiles src/main/scala plus perfbench/src into a class directory
    keyed by the hash of every source file; returns the classpath."""
    main_src = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main_src:
        fail("src/main/scala not found: run from the repository root")
    bench_src = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    jars = spark_jars()
    h = hashlib.sha256()
    for p in main_src + bench_src:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if not os.path.isdir(out):
        tmp = out + f".tmp{os.getpid()}"
        os.makedirs(tmp)
        args = os.path.join(BUILD, f"sources{os.getpid()}.txt")
        with open(args, "w") as f:
            f.write("\n".join(main_src + bench_src))
        t0 = time.time()
        r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
                            "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
                            "@" + args], capture_output=True, text=True)
        os.remove(args)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
            fail("compilation failed")
        os.rename(tmp, out)
        print(f"built {os.path.basename(out)} in {time.time() - t0:.1f}s", file=sys.stderr)
    return out + os.pathsep + os.path.join(jars, "*")


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(cp, run_dir, jvm_args, timeout):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-XX:-UsePerfData", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
        f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.PerfBench"] + jvm_args
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        fail(f"JVM run failed ({rc}); log: {log}")


def oracle_check(data_dir, out_dir, timeout):
    """tools/check.py (the repo's DuckDB oracle gate, used read-only) over
    the warm-up pass outputs; returns {query: error or None}. check.py
    exits 0 even when a query fails, so the per-query lines are parsed."""
    check = os.path.join(ROOT, "tools", "check.py")
    if not os.path.exists(check):
        fail("tools/check.py not found: run from the repository root")
    r = subprocess.run([sys.executable, check, data_dir, out_dir],
                       capture_output=True, text=True, timeout=timeout)
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        names = list(json.load(f))
    verdict = {n: "no verdict from tools/check.py" for n in names}
    for line in r.stdout.splitlines():
        m = re.match(r"(OK|FAIL)\s+(\w+)", line)
        if m and m.group(2) in verdict:
            verdict[m.group(2)] = None if m.group(1) == "OK" else line.strip()[:300]
    return verdict


def pct(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = max(0, min(len(s) - 1, -(-p * len(s) // 100) - 1))
    return s[int(k)]


def batch_metrics(w, raw, rows):
    passes = raw["passes"]
    lat = [(q["build_s"] + q["mat_s"]) * 1000 for p in passes for q in p["queries"]]
    tail_p, _ = TAIL[w]
    work = sum(rows[t] for t in WORK_TABLES[w])
    return {
        "setup_s": raw["setup_s"],
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "latency_p50_ms": statistics.median(lat),
        "latency_tail_ms": pct(lat, tail_p),
        "throughput_eps": work * len(passes) / raw["timed_s"],
    }, len(lat)


def stream_metrics(raw):
    lat = raw["latency_ms_ref"]
    return {
        "setup_s": raw["setup_s"],
        "pass_s": statistics.median(raw["batch_ms"]) / 1000 if raw["batch_ms"] else 0.0,
        "latency_p50_ms": statistics.median(lat) if lat else 0.0,
        "latency_tail_ms": pct(lat, TAIL["event_stream"][0]),
        "throughput_eps": raw["capacity_eps"],
    }, len(lat)


def run_once(a):
    t_start = time.time()
    if a.workload not in gen.WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(gen.WORKLOADS)}")
    os.makedirs(BUILD, exist_ok=True)
    cp = build()
    deadline = time.time() + RUN_BUDGET_S
    data_dir, dims, rows = gen.generate(os.path.join(BUILD, "data"), a.workload, a.seed, a.size)
    run_id = f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-{run_id}")
    os.makedirs(run_dir)
    raw_path = os.path.join(run_dir, "raw.json")
    _, min_samples = TAIL[a.workload]
    t_jvm = time.time()
    run_jvm(cp, run_dir, ["--workload", a.workload, "--data", data_dir, "--run-dir", run_dir,
                          "--out", raw_path, "--seconds", str(a.seconds),
                          "--trace", str(a.trace), "--cpus", str(a.cpus),
                          "--min-samples", str(min_samples), "--seed", str(a.seed)],
            timeout=deadline - time.time() - 10)
    t_jvm = time.time() - t_jvm
    with open(raw_path) as f:
        raw = json.load(f)

    # correctness: every timed or verified execution that threw, every
    # oracle mismatch, every stream sink that differs from its batch
    # counterpart
    errors = {}
    attempted = 0
    for p in raw.get("passes", []) + ([raw["verify"]] if "verify" in raw else []):
        for q in p["queries"]:
            attempted += 1
            if q["error"]:
                errors.setdefault(q["name"], q["error"])
    if a.workload == "event_stream":
        attempted += len(raw["batch_ms"])
        for c in raw["stream_checks"]:
            attempted += 1
            if c["error"]:
                errors[c["name"]] = c["error"]
    else:
        verdicts = oracle_check(data_dir, os.path.join(run_dir, "out"), deadline - time.time())
        for name, err in verdicts.items():
            attempted += 1
            if err:
                errors["oracle:" + name] = err
    failed = len(errors)

    e2e, samples = {}, {}
    if not a.trace:
        if a.workload == "event_stream":
            e2e, n_lat = stream_metrics(raw)
        else:
            e2e, n_lat = batch_metrics(a.workload, raw, rows)
        n_passes = len(raw["batch_ms"] if a.workload == "event_stream" else raw["passes"])
        samples = {"setup_s": 1, "pass_s": n_passes,
                   "latency_p50_ms": n_lat, "latency_tail_ms": n_lat,
                   "throughput_eps": len(raw.get("saturated_batches", [])) or n_passes}
    pre, post = raw["host_pre"], raw["host_post"]
    host = {"host.load_start": pre["load1"], "host.load_end": post["load1"]}
    if a.trace:
        host.update({"host.canary_s_pre": pre["canary_s"], "host.canary_s_post": post["canary_s"],
                     "host.canary_job_s_pre": pre["canary_job_s"],
                     "host.canary_job_s_post": post["canary_job_s"]})

    layer = {}
    if a.trace:
        layer = dict(raw["per_layer"])
        layer.update(host)
        layer["fail_ratio"] = failed / attempted
        metrics = {n: {"value": layer[n], "unit": u} for n, u in JSON_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in E2E}

    os.makedirs(RESULTS, exist_ok=True)
    result = {"workload": a.workload, "seed": a.seed, "cpus": a.cpus, "size": a.size,
              "trace": a.trace, "seconds": a.seconds, "run_id": run_id,
              "tail_percentile": TAIL[a.workload][0], "samples": samples,
              "traffic": dims, "input_rows": rows, "host": host,
              "correct": failed == 0, "attempted": attempted, "failed": failed,
              "fail_ratio": failed / attempted, "errors": errors, "metrics": metrics,
              "per_layer_all": ({n: {"value": layer[n], "unit": u} for n, u in PER_LAYER}
                                if a.trace else None),
              "wall_s": time.time() - t_start, "jvm_s": t_jvm, "raw": raw}
    name = f"{a.workload}-s{a.seed}-c{a.cpus}-t{a.trace}-{run_id}"
    with open(os.path.join(RESULTS, name + ".json"), "w") as f:
        json.dump(result, f, indent=1)
    for spans in ("spans.jsonl", "stream_spans.jsonl"):
        if os.path.exists(os.path.join(run_dir, spans)):
            shutil.copy(os.path.join(run_dir, spans),
                        os.path.join(RESULTS, f"{name}.{spans}"))
    shutil.rmtree(run_dir, ignore_errors=True)

    # report: every metric with its unit and sample count, then the JSON line
    tail_p = TAIL[a.workload][0]
    print(f"workload {a.workload} seed {a.seed} cpus {a.cpus} trace {a.trace} "
          f"run {run_id}: correct={failed == 0} attempted={attempted} failed={failed} "
          f"fail_ratio={failed / attempted:.4f}")
    if not a.trace:
        for n, u in E2E:
            print(f"  {n:18s} {e2e[n]:14.6f} {u:5s} n={samples[n]}")
        if a.workload == "event_stream":
            for r in raw["rungs"]:
                print(f"  rung {r['rate']:6d} ev/s: measured {r['measured_eps']:.1f} "
                      f"p50 {r['p50_ms']:.1f} ms p{tail_p} {r['p99_ms']:.1f} ms "
                      f"backlog max {r['backlog_max']} sustained={r['sustained']}")
            print(f"  ladder: highest sustained rung {raw['ladder_sustained_eps']:.1f} ev/s; "
                  f"capacity {raw['capacity_eps']:.1f} ev/s over "
                  f"{len(raw['saturated_batches'])} saturated micro-batches")
    else:
        print(f"  traced pass {raw['traced_pass_s']:.4f} s vs untraced "
              f"{raw['untraced_pass_s']:.4f} s; spans in perfbench/results/{name}.*spans.jsonl")
        for n, u in PER_LAYER:
            print(f"  {n:32s} {layer[n]:16.4f} {u}")
        for k, v in sorted(raw["count_ratio"].items()):
            print(f"  {k:32s} {v:16.4f} ratio")
    for k, v in errors.items():
        print(f"  FAIL {k}: {v}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def steadiness(a):
    """Two sets of runs of this checkout; per (metric, workload), do the
    medians agree within the metric's bound?"""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    ok_all = True
    for w in workloads:
        sets = []
        for s in range(2):
            vals = {}
            for i in range(a.runs):
                seed = 1000 * (s + 1) + i
                r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                    "--workload", w, "--seed", str(seed),
                                    "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                                   capture_output=True, text=True)
                if r.returncode != 0:
                    fail(f"{w} seed {seed} failed:\n{r.stderr[-2000:]}")
                m = json.loads(r.stdout.strip().splitlines()[-1])["metrics"]
                for k, v in m.items():
                    vals.setdefault(k, []).append(v["value"])
            sets.append(vals)
        for k, bound in bounds.items():
            m1 = statistics.median(sets[0][k])
            m2 = statistics.median(sets[1][k])
            q = statistics.quantiles(sets[0][k] + sets[1][k], n=4)
            spread = (q[2] - q[0]) / statistics.median(sets[0][k] + sets[1][k])
            diff = abs(m2 - m1) / m1 if m1 else float("inf")
            agree = diff <= bound
            ok_all &= agree
            print(f"{w:18s} {k:18s} median1 {m1:12.4f} median2 {m2:12.4f} "
                  f"diff {diff:6.3f} spread {spread:6.3f} bound {bound:5.2f} "
                  f"{'agree' if agree else 'DISAGREE'}")
    sys.exit(0 if ok_all else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--size", choices=sorted(gen.SIZES), default="normal")
    ap.add_argument("--steadiness", action="store_true")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--workloads")
    a = ap.parse_args()
    if a.steadiness:
        steadiness(a)
    elif not a.workload:
        fail("--workload is required")
    else:
        run_once(a)


if __name__ == "__main__":
    main()
