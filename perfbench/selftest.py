#!/usr/bin/env python3
"""Self-test of the benchmark. Run it from the root of a checkout:

    python3 perfbench/selftest.py

It runs every workload once on the sf0.001 fixture, untraced and
traced, and asserts that each run is correct and prints every metric
BENCHMARK.json names, with its unit. It then asserts that the correctness
gate fails (non-zero exit, "correct": false) on a deliberately corrupted
fact sink, and that the command fails without printing a result in a
directory that holds only BENCHMARK.json and perfbench/. Takes about
fifteen minutes on 4 cores.
"""
import json
import os
import shutil
import subprocess
import sys

SF = os.path.join("perfbench", "data", "sf0.001")
BARE = os.path.join(".perfbench", "selftest-bare")
WORKLOADS = ["backfill_replay", "fact_queries", "live_stream", "analytics_queries"]
failures = []


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def run(args, cwd="."):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), *args]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p, lines, result


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    for w in WORKLOADS:
        for trace in ("0", "1"):
            p, lines, r = run(["--workload", w, "--seed", "1", "--seconds", "2",
                               "--trace", trace, "--sf", SF])
            tag = f"{w} trace={trace}"
            check(p.returncode == 0 and r is not None and r["correct"],
                  f"{tag}: exits 0 with a correct result")
            if r is None:
                sys.stderr.write(p.stderr[-3000:])
                continue
            check(set(r) == {"correct", "attempted", "failed", "metrics"}
                  and r["attempted"] >= 1, f"{tag}: result keys")
            want = bench["end_to_end" if trace == "0" else "per_layer"]
            missing = [m["name"] for m in want
                       if r["metrics"].get(m["name"], {}).get("unit") != m["unit"]]
            check(not missing, f"{tag}: every metric printed with its unit {missing}")
            check(any(l.startswith("# provenance ") for l in lines),
                  f"{tag}: provenance line on stdout")
            if trace == "1":
                spans = [l.split(" ", 2)[2] for l in lines if l.startswith("# spans ")]
                ok = bool(spans) and os.path.isfile(spans[0])
                if ok:
                    with open(spans[0]) as f:
                        art = json.load(f)
                    ok = {"provenance", "metrics", "spans"} <= set(art) and art["spans"]
                check(ok, f"{tag}: span file with provenance and spans")

    p, _, r = run(["--workload", "backfill_replay", "--seed", "1", "--seconds", "2",
                   "--trace", "0", "--sf", SF, "--corrupt-sink"])
    check(p.returncode != 0 and r is not None and not r["correct"] and r["failed"] >= 1,
          "corrupted sink: gate fails and the exit code is non-zero")

    shutil.rmtree(BARE, ignore_errors=True)
    os.makedirs(BARE)
    shutil.copy("BENCHMARK.json", BARE)
    shutil.copytree("perfbench", os.path.join(BARE, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    p, lines, r = run(["--workload", "fact_queries", "--seed", "1", "--seconds", "2",
                       "--trace", "0"], cwd=BARE)
    check(p.returncode != 0 and r is None,
          "bare directory: non-zero exit without a result")
    shutil.rmtree(BARE, ignore_errors=True)

    print(f"\n{'ALL PASSED' if not failures else f'{len(failures)} FAILED'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
