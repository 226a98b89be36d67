#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale (about four minutes on 4 cores):

    python3 perfbench/selftest.py

1. Self-time arithmetic on synthetic spans.
2. Every BENCHMARK.json metric prints with its unit, untraced and traced:
   three library queries at sf0.001 and a few seconds of each stream.
3. A planted wrong library count and a planted wrong stream output
   expectation are caught.
4. A directory holding only the benchmark's own files fails without a
   result line.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import spans  # noqa: E402

failures = []


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        failures.append(what)


def synthetic_spans():
    raw = {"spans": [
        {"id": "w", "kind": "workload", "name": "w", "parent": None,
         "start_ms": 0.0, "end_ms": 200.0},
        {"id": "op", "kind": "op", "name": "q", "parent": "w",
         "start_ms": 0.0, "end_ms": 100.0},
        # overlapping children, one running past the parent's end
        {"id": "j1", "kind": "job", "name": "j1", "parent": "op",
         "start_ms": 10.0, "end_ms": 30.0},
        {"id": "j2", "kind": "job", "name": "j2", "parent": "op",
         "start_ms": 20.0, "end_ms": 50.0},
        {"id": "j3", "kind": "job", "name": "j3", "parent": "op",
         "start_ms": 90.0, "end_ms": 120.0},
        {"id": "s1", "kind": "stage", "name": "s1", "parent": "j2",
         "start_ms": 25.0, "end_ms": 45.0},
        # a phase with no parent lands under the innermost span holding it
        {"id": "p", "kind": "phase", "name": "analysis", "parent": None,
         "start_ms": 60.0, "end_ms": 65.0},
    ]}
    resolved = {s["id"]: s for s in spans.resolve(raw)}
    check(resolved["p"]["parent"] == "op", "phase resolves to the op span")
    selfs = spans.self_times(list(resolved.values()))
    # op covers [0,100]; children cover [10,50] + [60,65] + [90,100] = 55
    check(abs(selfs["op"] - 45.0) < 1e-9, f"op self time 45 (got {selfs['op']})")
    check(abs(selfs["j2"] - 10.0) < 1e-9, f"job self time 10 (got {selfs['j2']})")
    check(abs(selfs["w"] - 100.0) < 1e-9, f"workload self time 100 (got {selfs['w']})")
    check(spans.union_length([(0, 1), (0.5, 2), (3, 4)]) == 3.0, "interval union")


def run(args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py")] + args,
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(p.stderr[-3000:])
        return p.returncode, None


def metrics_complete(result, section, what):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        want = {m["name"]: m["unit"] for m in json.load(f)[section]}
    got = (result or {}).get("metrics", {})
    ok = result is not None and set(got) == set(want) and all(
        got[n]["unit"] == u and isinstance(got[n]["value"], float)
        for n, u in want.items())
    check(ok, f"{what}: every {section} metric printed with its unit")


def runs():
    tiny = ["--workload", "lib_light", "--scale", "sf0.001", "--limit", "3",
            "--seconds", "2"]
    rc, r = run(tiny + ["--seed", "1", "--trace", "0"])
    check(rc == 0 and r and r["correct"] and r["failed"] == 0,
          f"tiny library run is correct ({r and {k: r[k] for k in ('attempted', 'failed')}})")
    metrics_complete(r, "end_to_end", "library, untraced")
    rc, r = run(tiny + ["--seed", "2", "--trace", "1"])
    metrics_complete(r, "per_layer", "library, traced")
    check(r is not None and r["metrics"]["exec.jobs"]["value"] > 0,
          "traced library run records jobs")
    rc, r = run(tiny + ["--seed", "3", "--trace", "0", "--plant-wrong"])
    check(rc == 0 and r is not None and not r["correct"] and r["failed"] >= 1,
          "a planted wrong count is caught")
    rc, r = run(["--workload", "stream_agg", "--seconds", "3", "--rate", "2000",
                 "--seed", "1", "--trace", "0"])
    check(rc == 0 and r and r["correct"], "short stream_agg run is correct")
    # the gated stream: parquet sinks, tracker rewrites, window checks
    stream = ["--workload", "stream_window", "--seconds", "6"]
    rc, r = run(stream + ["--seed", "1", "--trace", "0"])
    check(rc == 0 and r and r["correct"], "short stream_window run is correct")
    metrics_complete(r, "end_to_end", "stream, untraced")
    rc, r = run(stream + ["--seed", "2", "--trace", "1"])
    metrics_complete(r, "per_layer", "stream, traced")
    check(r is not None and r["metrics"]["streaming.batches"]["value"] > 0,
          "traced stream run records batches")
    rc, r = run(stream + ["--seed", "3", "--trace", "0", "--plant-wrong"])
    check(rc == 0 and r is not None and not r["correct"] and r["failed"] >= 1,
          "a planted wrong stream output expectation is caught")


def bare_directory():
    bare = os.path.join(HERE, ".runs", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".build", ".runs", "data"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "lib_light", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=bare, capture_output=True, text=True)
    check(p.returncode != 0 and '"correct"' not in p.stdout,
          "without the engine sources the run fails with no result")
    shutil.rmtree(bare)


if __name__ == "__main__":
    synthetic_spans()
    bare_directory()
    runs()
    print("selftest:", "FAILED " + "; ".join(failures) if failures else "passed")
    sys.exit(1 if failures else 0)
