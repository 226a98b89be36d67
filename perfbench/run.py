#!/usr/bin/env python3
"""The repository benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout compiles the
engine (src/main) and the benchmark's JVM side (perfbench/src) with the
Scala compiler that ships with Spark, and computes the reference row
counts of the library queries with DuckDB. Both are cached under
perfbench/.build, keyed by a digest of the sources.

Workloads (see WORKLOADS): two over the query library, run in one warm
Spark session on local[nproc], and two `sql-submit` streaming scripts on
the datagen rate source, an open loop at a fixed offered rate.

With --trace 0 the result carries the end-to-end metrics; with --trace 1
the per-layer metrics, from spans recorded around each call into a layer
and from Spark's listeners. Every run checks its outputs; the last line
of standard output is
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
"""
import argparse
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import spans as spanlib  # noqa: E402

DATA = os.path.join(HERE, "data")
JVM_TIMEOUT_S = 165

# Library workloads run a fixed subset of the query library: one pass over
# all 66 `ext_` queries takes ~25 s at sf0.01 on 4 cores, more than a run
# can spend on each of its passes.
WORKLOADS = {
    # Per-query fixed cost dominates: Catalyst phases, jobs and stages,
    # driver gaps. Barely touches graft.functions or checkpoints. Every
    # 8th non-ext_ name in sorted order, not chosen from measurements;
    # not gated.
    "lib_light": {"kind": "lib", "ext": False, "queries": [
        "q100_dialect_fns", "q108_json_on_error", "q115_over_variance",
        "q14_anti_join", "q21_running_sum", "q29_sessionize", "q36_array_fns",
        "q43_cumulate", "q50_multi_distinct", "q58_tumble_tvf",
        "q65_prev_pattern", "q72_classifier", "q7_string_fns",
        "q87_array_agg", "q94_string_fns2"]},
    # The shuffle- and CPU-bound tail: dedup, vector search, curation,
    # with native aggregates, localCheckpoint materialization and the
    # Graph propagation loop (ext_dedup_rep, ext_embed_cluster).
    # Chosen from a measured full pass (`--all`, README "lib_curation
    # subset"): of each module's queries sorted by measured cost, every
    # 3rd from the costliest.
    "lib_curation": {"kind": "lib", "ext": True, "queries": [
        # Dedup
        "ext_dedup_rep", "ext_band_recall", "ext_minhash_est",
        "ext_dup_spans", "ext_ngram_novelty", "ext_minhash_sig",
        # VectorSearch
        "ext_kmeans_refine", "ext_embed_cluster", "ext_ann_probe",
        "ext_knn_graph", "ext_embed_neardup",
        # TextAnalysis
        "ext_lm_score", "ext_bpe_merge", "ext_token_bpe",
        "ext_quality_funnel", "ext_fingerprint", "ext_quality_score",
        # Curation
        "ext_curation_pipeline", "ext_decontaminate", "ext_chunk_docs",
        # Sampling
        "ext_dsir_weights", "ext_mix_sample", "ext_hash_sample",
        # MultimodalQueries
        "ext_multimodal_features"]},
    # The reference's own pipeline (test.sql) on Spark-native streaming
    # aggregation and HLL state, into the print sink.
    "stream_agg": {"kind": "stream", "script": "sql/stream_agg.sql",
                   "queries": 1, "rate": 20000, "trigger": "1 s", "warm_s": 4,
                   "check": "agg_print", "bounded": True},
    # CUMULATE window TVF and OVER RANGE aggregation on the harness's
    # flatMapGroupsWithState trackers, into filesystem sinks.
    "stream_window": {"kind": "stream", "script": "sql/stream_window.sql",
                      "queries": 2, "rate": 1000, "trigger": "2 s", "warm_s": 8,
                      "check": "window_files", "bounded": False},
}
SETUP_RUNS = 3
# the bounded generator runs this long past the window's end, so the
# window never sees it run dry
STREAM_SLACK_S = 3.0

# -XX:-UsePerfData: no hsperfdata file outside the checkout
JAVA_OPTS = ["-Xmx2g", "-Xss8m", "-XX:-UsePerfData"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def find_spark_jars():
    """The Spark jars the engine builds against: $SPARK_HOME/jars, else the
    `unmanagedBase` directory that build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        d = m.group(1) if m else ""
    if not os.path.isdir(d):
        fail("Spark jars not found: set SPARK_HOME or run from a checkout "
             "of the repository")
    return d


def build():
    """Compile engine + benchmark once per source digest; return
    (classpath, build dir)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found; "
             "run from a checkout of the repository")
    spark_jars = find_spark_jars()
    srcs = sources()
    bdir = os.path.join(HERE, ".build", digest(srcs)[:16])
    classes = os.path.join(bdir, "classes")
    jars = os.path.join(spark_jars, "*")
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"), jars])
    if not os.path.exists(os.path.join(bdir, "ok")):
        shutil.rmtree(bdir, ignore_errors=True)
        os.makedirs(classes)
        scala = [p for p in srcs if p.endswith(".scala")]
        t0 = time.time()
        r = subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars,
             "scala.tools.nsc.Main",
             "-nowarn", "-d", classes, "-classpath", jars] + scala,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail("compilation failed")
        print(f"# built {len(scala)} sources in {time.time() - t0:.1f} s",
              file=sys.stderr)
        with open(os.path.join(bdir, "ok"), "w") as f:
            f.write("ok\n")
    return cp, bdir


def run_jvm(cp, spec, run_dir, timeout=JVM_TIMEOUT_S):
    path = os.path.join(run_dir, "spec.json")
    with open(path, "w") as f:
        json.dump(spec, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(run_dir, "jvm.out"), "w") as o, \
            open(os.path.join(run_dir, "jvm.err"), "w") as e:
        p = subprocess.Popen(
            ["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={tmp}",
                                    "-cp", cp, "graft.perfbench.BenchMain", path],
            stdout=o, stderr=e, cwd=run_dir)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"benchmark JVM timed out after {timeout} s (see {run_dir}/jvm.err)")
    if rc != 0:
        sys.stderr.write(open(os.path.join(run_dir, "jvm.err")).read()[-4000:])
        fail(f"benchmark JVM exited with {rc}")
    with open(spec["out"]) as f:
        return json.load(f)


# ------------------------------------------------------ reference counts

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def catalog(cp, bdir):
    path = os.path.join(bdir, "catalog.json")
    if not os.path.exists(path):
        run_dir = os.path.join(bdir, "catalog-run")
        os.makedirs(run_dir, exist_ok=True)
        run_jvm(cp, {"kind": "catalog", "out": path}, run_dir)
    with open(path) as f:
        return json.load(f)


def reference_counts(cat, bdir, sf, names):
    """Row count per query: DuckDB over the oracle SQL. Every library
    query has one; a query without it has no reference and fails."""
    path = os.path.join(bdir, f"counts-{sf}.json")
    counts = json.load(open(path)) if os.path.exists(path) else {}
    missing = [n for n in names if n not in counts]
    if missing:
        import duckdb
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(DATA, sf, t)}.parquet')")
        for n in missing:
            if n in cat["oracle"]:
                counts[n] = con.execute(
                    f"SELECT count(*) FROM ({cat['oracle'][n]})").fetchone()[0]
        with open(path, "w") as f:
            json.dump(counts, f, indent=1, sort_keys=True)
    return counts


def library_set(cat, w, everything=False):
    family = sorted(n for n in cat["queries"]
                    if n.startswith("ext_") == w["ext"])
    if everything:
        return family
    unknown = [n for n in w["queries"] if n not in family]
    if unknown:
        fail(f"no library queries named {unknown}")
    return list(w["queries"])


# --------------------------------------------------------------- metrics

def pct(values, q):
    """Percentile with linear interpolation between closest ranks."""
    v = sorted(values)
    if not v:
        return 0.0
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def lib_result(raw, expected, plant_wrong):
    ops = raw["ops"]
    failed = 0
    problems = []
    for i, op in enumerate(ops):
        want = expected.get(op["name"])
        if plant_wrong and i == 0:
            want = (want or 0) + 1
        if op["error"] is not None:
            failed += 1
            problems.append(f"{op['name']}: {op['error'][:200]}")
        elif want is None or op["rows"] != want:
            failed += 1
            problems.append(f"{op['name']}: rows={op['rows']} expected={want}")
    # pass 0 is the warm-up: checked, not timed
    timed = [op for op in ops if op["pass"] >= 1]
    per_query = {}
    for op in timed:
        per_query.setdefault(op["name"], []).append(op["ms"])
    times = [op["ms"] for op in timed]
    e2e = {
        "total_s": sum(statistics.median(v) for v in per_query.values()) / 1000.0,
        "op_ms.p50": pct(times, 50),
        "op_ms.p80": pct(times, 80),
    }
    return e2e, len(ops), failed, problems


def window_batches(raw):
    ws, we = raw["window_ms"]
    out = []
    for qid, ps in raw["progress"].items():
        for p in ps:
            s = spanlib.iso_ms(p["timestamp"])
            if ws <= s < we:
                out.append(p)
    return out


def stream_result(raw):
    batches = window_batches(raw)
    trig = [b["durationMs"].get("triggerExecution", 0) for b in batches]
    # a window holds one batch more or less depending on where it falls
    # on the trigger grid, so batch seconds are scaled to the input the
    # window offered (rate x window x queries): seconds of engine work
    # for a fixed amount of input
    rows = sum(b["numInputRows"] for b in batches)
    offered = raw["rate"] * (raw["window_ms"][1] - raw["window_ms"][0]) / 1000.0 \
        * len(raw["progress"])
    e2e = {
        "total_s": sum(trig) / 1000.0 * offered / max(1, rows),
        "op_ms.p50": pct(trig, 50),
        "op_ms.p80": pct(trig, 80),
    }
    problems = [f"query died: {d[:300]}" for d in raw["died"]]
    problems += [f"check {c['name']}: {c['detail']}"
                 for c in raw["checks"] if not c["ok"]]
    attempted = len(batches) + len(raw["checks"])
    failed = len(raw["died"]) + sum(1 for c in raw["checks"] if not c["ok"])
    return e2e, attempted, failed, problems


UNITS = {}


def load_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    for m in b["end_to_end"] + b["per_layer"]:
        UNITS[m["name"]] = m["unit"]
    return b


def metrics_obj(values, names):
    return {n: {"value": float(values[n]), "unit": UNITS[n]} for n in names}


# ------------------------------------------------------------------ main

def cpu_ticks():
    """(steal, total) jiffies of all CPUs; steal is time a virtual CPU
    waited for the host."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def env_stamp(args, cores, raw, load_start, ticks_start):
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True).stdout.strip()
    except OSError:
        commit = ""
    ticks = cpu_ticks()
    return {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "commit": commit or "src-sha256:" + digest(sources())[:16],
        "nproc": os.cpu_count(), "cores_used": cores,
        "loadavg_start": load_start, "loadavg_end": os.getloadavg()[0],
        "steal_share": round((ticks[0] - ticks_start[0])
                             / max(1, ticks[1] - ticks_start[1]), 4),
        "heap_flag": JAVA_OPTS[0], **raw.get("env", {}),
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="Spark local[N] (default: cores available)")
    # self-test knobs (selftest.py): tiny scale, a few queries, a planted
    # wrong expected value (a library count, or a stream output check)
    ap.add_argument("--scale", default="sf0.01", help=argparse.SUPPRESS)
    ap.add_argument("--limit", type=int, default=0, help=argparse.SUPPRESS)
    ap.add_argument("--plant-wrong", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--rate", type=int, default=0, help=argparse.SUPPRESS)
    # every query of a library workload's family, not its subset: the
    # full pass the subset is chosen from (see README); longer than a run
    ap.add_argument("--all", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    load_start = os.getloadavg()[0]
    ticks_start = cpu_ticks()
    bench = load_benchmark_json()
    w = WORKLOADS[args.workload]
    cp, bdir = build()
    run_dir = os.path.join(HERE, ".runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spec = {"workload": args.workload, "kind": w["kind"], "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "cores": args.cores,
            "setup_runs": SETUP_RUNS, "run_dir": run_dir,
            "out": os.path.join(run_dir, "raw.json")}
    if w["kind"] == "lib":
        cat = catalog(cp, bdir)
        names = library_set(cat, w, args.all)
        if args.limit:
            names = names[:args.limit]
        expected = reference_counts(cat, bdir, args.scale, names)
        spec.update(data=os.path.join(DATA, args.scale), queries=names)
    else:
        rate = args.rate or w["rate"]
        spec.update(script=os.path.join(HERE, w["script"]), queries=w["queries"],
                    rate=rate, warm_s=w["warm_s"], slack_s=STREAM_SLACK_S,
                    check=w["check"], bounded=w["bounded"],
                    plant_wrong=args.plant_wrong,
                    vars={"cores": str(args.cores), "rate": str(rate),
                          "trigger": w["trigger"]})
    raw = run_jvm(cp, spec, run_dir, timeout=900 if args.all else JVM_TIMEOUT_S)
    if "fatal" in raw:
        fail(f"workload failed: {raw['fatal']} (see {run_dir}/jvm.err)")

    if w["kind"] == "lib":
        e2e, attempted, failed, problems = lib_result(raw, expected, args.plant_wrong)
    else:
        e2e, attempted, failed, problems = stream_result(raw)
    e2e["setup_s"] = statistics.median(raw["setup_s"])
    e2e["heap_live_mb"] = raw["heap_live_mb"]
    for p in problems[:20]:
        print(f"# FAIL {p}", file=sys.stderr)

    env = env_stamp(args, args.cores, raw, load_start, ticks_start)
    print("# env " + json.dumps(env, sort_keys=True))
    last = os.path.join(HERE, ".runs", f"last-{args.workload}.json")
    if args.trace == 0:
        names = [m["name"] for m in bench["end_to_end"]]
        metrics = metrics_obj(e2e, names)
        with open(last, "w") as f:
            json.dump({"env": env, "e2e": e2e}, f)
    else:
        layers = spanlib.layer_metrics(
            raw, w["kind"], window_batches(raw) if w["kind"] == "stream" else None,
            args.cores)
        for line in spanlib.layer_table(raw, w["kind"]):
            print("# " + line)
        print("# " + spanlib.overhead_line(e2e, last))
        names = [m["name"] for m in bench["per_layer"]]
        metrics = metrics_obj(layers, names)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
