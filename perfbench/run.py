#!/usr/bin/env python3
"""The repository benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload ledger_ops --seed 1 --seconds 20 --trace 0

Run from the repository root. It builds the engine and the harness from
source with the Scala compiler shipped in Spark's jars (cached by a hash of
the sources under .perfbench/build), generates the seeded inputs, runs the
harness JVM against GraftSession.local(nproc), checks the outputs against
DuckDB, and prints one JSON object as its last line. With --trace 0 it
reports the end-to-end metrics; with --trace 1 the per-layer metrics and the
tracing overhead. A `detail` line before it carries the workload-specific
metrics, sample counts, the host record and the known-defect probe.
Notes: perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("ledger_ops", "curation_batch", "stream_ingest")
STATE = ".perfbench"
CORES = len(os.sched_getaffinity(0))
HEAP = "3g"
TIMEOUT_S = 150

# (name, unit, better) of every per-layer metric; a workload that does not
# exercise a layer reports 0 for it.
PER_LAYER = (
    [(f"api.{v}_p50_s", "s", "lower") for v in
     ("oldest", "latest", "count", "overlap_input", "continuity", "overlap_windows")]
    + [("engine.scalar_p50_s", "s", "lower"), ("engine.insert_p50_s", "s", "lower"),
       ("engine.update_p50_s", "s", "lower"), ("engine.plan_s_per_op", "s", "lower"),
       ("engine.jobs_per_op", "count", "lower"), ("engine.stages_per_op", "count", "lower"),
       ("engine.tasks_per_op", "count", "lower"), ("engine.task_s_per_op", "s", "lower"),
       ("sources.files_scanned_per_read", "count", "lower"),
       ("sources.partitions_scanned_per_read", "count", "lower"),
       ("sources.ledger_files_end", "count", "lower"),
       ("sources.ledger_bytes_per_row", "B", "lower"),
       ("sources.update_bytes_rewritten_per_row_changed", "B", "lower"),
       ("sources.append_p50_s", "s", "lower"), ("sources.files_per_batch", "count", "lower")]
    + [(f"operators.{f}_s", "s", "lower") for f in
       ("nb", "bigram", "bpe", "similarity", "build")]
    + [("plans.plan_s", "s", "lower"),
       ("exec.jobs", "count", "lower"), ("exec.stages", "count", "lower"),
       ("exec.tasks", "count", "lower"), ("exec.task_s", "s", "lower"),
       ("exec.utilization", "ratio", "higher"), ("exec.shuffle_write_mb", "MB", "lower"),
       ("exec.spill_mb", "MB", "lower"), ("exec.max_task_share", "ratio", "lower"),
       ("exec.gc_s", "s", "lower"), ("exec.cold_minus_steady_s", "s", "lower")]
    + [(f"streaming.{p}_ms_p50", "ms", "lower") for p in
       ("add_batch", "wal_commit", "commit_offsets", "query_planning", "latest_offset")]
    + [("state.commit_ms_p50", "ms", "lower"), ("state.instances", "count", "lower"),
       ("state.rows_total_end", "count", "lower"), ("state.memory_bytes_end", "B", "lower"),
       ("state.dropped_ratio", "ratio", "higher"),
       ("trace.spans", "count", "lower"), ("trace.unattributed_queries", "count", "lower"),
       ("trace.overhead_round_s", "s", "lower"), ("trace.overhead_round_cpu_s", "s", "lower")])

END_TO_END = [("setup_s", "s"), ("cold_cpu_s", "s"), ("round_cpu_s", "s"), ("peak_rss_mb", "MB")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build ---------------------------------------------------------------

def spark_jars():
    home = os.environ.get("SPARK_HOME") or (
        os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit") or "")))
        if shutil.which("spark-submit") else "")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        fail("no Spark jars found (set SPARK_HOME)")
    return jars


def compile_scala(jars, classpath, sources, out):
    scalac = [j for j in jars if os.path.basename(j).split("-2.13")[0] in
              ("scala-compiler", "scala-library", "scala-reflect")]
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(scalac),
           "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-cp", ":".join(classpath), "-d", out] + sources
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        fail("compile failed:\n" + (r.stdout + r.stderr)[-4000:])


def build(jars):
    """Compile src/main/scala and the harness into a directory keyed by a hash
    of their sources; reuse it when the sources have not changed."""
    main_src = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    harness_src = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    if not main_src:
        fail("src/main/scala not found: run from the repository root")
    resources = sorted(p for p in glob.glob("src/main/resources/**", recursive=True)
                       if os.path.isfile(p))
    h = hashlib.sha256()
    for p in main_src + harness_src + resources:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(STATE, "build", h.hexdigest()[:16])
    if not os.path.isdir(out):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(f"{tmp}/main")
        os.makedirs(f"{tmp}/harness")
        compile_scala(jars, jars, main_src, f"{tmp}/main")
        compile_scala(jars, jars + [f"{tmp}/main"], harness_src, f"{tmp}/harness")
        for p in resources:
            dst = os.path.join(tmp, "main", os.path.relpath(p, "src/main/resources"))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(p, dst)
        os.rename(tmp, out)
    return [f"{out}/harness", f"{out}/main"]


# ---- harness ---------------------------------------------------------------

ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_harness(classpath, args, work, fixture):
    tmp = os.path.abspath(f"{work}/tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.abspath(work)}/warehouse",
            f"-Dspark.local.dir={tmp}"]
           + [x for o in ADD_OPENS for x in ("--add-opens", o)]
           + ["-cp", ":".join(classpath), "perfbench.Harness",
              "--workload", args.workload, "--fixture", os.path.abspath(fixture),
              "--work", os.path.abspath(work), "--cores", str(CORES),
              "--seconds", str(args.seconds), "--trace", str(args.trace)])
    with open(f"{work}/harness.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness timed out after {TIMEOUT_S} s")
        finally:
            if p.poll() is None:   # timed out, or this process is terminating
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(f"{work}/raw.json"):
        with open(f"{work}/harness.log") as f:
            tail = f.read()[-4000:]
        fail(f"harness exited with {rc}:\n{tail}")
    with open(f"{work}/raw.json") as f:
        return json.load(f)


# ---- statistics ------------------------------------------------------------

def pct(xs, q):
    """Nearest-rank percentile (q in 0..100); 0.0 when there are no samples."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, -(-len(s) * q // 100) - 1))]


def rounds(raw, traced):
    """Timed rounds as (round number, wall s, process CPU s); a round is one
    ledger tick, one curation pass or four micro-batches."""
    return [(r, s, c) for r, s, c, t in raw["rounds"] if t == traced]


def end_to_end(raw, traced):
    """The gated metrics, and the wall times of the same rounds."""
    rs = rounds(raw, traced)
    out = raw["out"]
    return {
        "setup_s": out["session_s"] + statistics.median(raw["setup_reps_s"]),
        "cold_cpu_s": out["cold_cpu_s"],
        "round_cpu_s": statistics.median(c for _, _, c in rs) if rs else 0.0,
        "peak_rss_mb": out["peak_rss_mb"],
        "cold_s": out["cold_s"],
        "round_s": statistics.median(s for _, s, _ in rs) if rs else 0.0,
    }


def detail_metrics(workload, raw):
    """The workload's own user-facing metrics, by the names the notes use."""
    ops = [o for o in raw["ops"] if o[0] == "timed" and not o[5] and o[4]]
    rs = rounds(raw, False)
    walls = [s for _, s, _ in rs]
    d = {"cold_s": (raw["out"]["cold_s"], "s"),
         "round_s": (statistics.median(walls) if walls else 0.0, "s"),
         "ops_per_s": (len(ops) / sum(walls) if walls else 0.0, "1/s"),
         "op_p50_s": (pct([o[3] for o in ops], 50), "s"),
         "op_p90_s": (pct([o[3] for o in ops], 90), "s"), "ops": (len(ops), "count")}
    if workload == "ledger_ops":
        rd = [o[3] for o in ops if o[1] == "read"]
        wr = [o[3] for o in ops if o[1] == "write"]
        d.update(read_p50_s=(pct(rd, 50), "s"), read_p90_s=(pct(rd, 90), "s"),
                 write_p50_s=(pct(wr, 50), "s"), write_p90_s=(pct(wr, 90), "s"),
                 reads=(len(rd), "count"), writes=(len(wr), "count"))
    elif workload == "curation_batch":
        d.update(pass_s=(statistics.median(walls) if walls else 0.0, "s"),
                 cold_pass_s=(raw["out"]["cold_s"], "s"), passes=(len(walls), "count"))
    else:
        b = [o[3] for o in ops]
        recs = sum(raw["out"]["round_records"][r] for r, _, _ in rs)
        d.update(batch_p50_s=(pct(b, 50), "s"), batch_p90_s=(pct(b, 90), "s"),
                 records_per_s=(recs / sum(b) if b else 0.0, "1/s"), batches=(len(b), "count"))
    return {k: {"value": v, "unit": u} for k, (v, u) in d.items()}


# ---- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # SIGTERM unwinds like an exception, so the harness JVM is killed and
    # waited for (see run_harness) instead of outliving this process.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    jars = spark_jars()
    classpath = build(jars) + jars
    import checks  # noqa: E402  (needs the repository's tools/check.py)
    work = os.path.join(STATE, "work")
    shutil.rmtree(work, ignore_errors=True)
    fixture = os.path.join(work, "fixture")
    gen.generate(fixture, args.seed, args.workload)
    raw = run_harness(classpath, args, work, fixture)

    results = checks.run(args.workload, raw, fixture, work)
    own = [o for o in raw["ops"] if o[0] != "probe"]
    probe = [o for o in raw["ops"] if o[0] == "probe"]
    failed = sum(1 for o in own if not o[4]) + sum(1 for r in results if not r["ok"])
    attempted = len(own) + len(results)
    probe_failed = sum(1 for o in probe if not o[4])

    detail = {
        "workload": args.workload, "seed": args.seed, "fixture": fixture,
        "host": raw["out"]["host"], "nproc": CORES, "heap": HEAP,
        "fixture_sizes": {"ledger_rows": gen.EVENTS, "documents": gen.DOCS,
                          "embeddings": gen.EMBS},
        "metrics": detail_metrics(args.workload, raw),
        "failed_share": {"value": (failed + probe_failed) / (attempted + len(probe)),
                         "unit": "ratio", "failed": failed + probe_failed,
                         "attempted": attempted + len(probe)},
        "known_defect_probe": [{"verb": o[2], "ok": o[4]} for o in probe],
        "checks": [r for r in results if not r["ok"]] or f"{len(results)} ok",
        "errors": raw["errors"][:20],
    }
    if args.trace:
        t, u = end_to_end(raw, True), end_to_end(raw, False)
        layer = dict(raw["layer"])
        for k in ("round_s", "round_cpu_s"):
            layer[f"trace.overhead_{k}"] = t[k] - u[k]
        detail["traced_minus_untraced"] = {k: t[k] - u[k] for k in t}
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": unit} for n, unit, _ in PER_LAYER}
    else:
        e = end_to_end(raw, False)
        metrics = {n: {"value": e[n], "unit": unit} for n, unit in END_TO_END}
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
