#!/usr/bin/env python3
"""Smoke test of the benchmark: the same command at a tiny size.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json with --size tiny, untraced and
traced, and fails unless each run exits 0, prints every end-to-end (or
per-layer) metric of BENCHMARK.json with its unit, and ran every output
check of its workload. A traced run fails by itself when a metric of a
layer its workload exercises was not measured. The untraced runs use one
seed twice: the first records its modularity, the second runs the same-seed
determinism check against it. Last, it copies only
BENCHMARK.json and perfbench/ to .bench_build/bare and checks that the
benchmark exits non-zero there without printing a result. Takes about ten
minutes on four cores.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CHECKS = {
    "hit_stream": ["hit.invariants", "hit.coverage", "hit.quality"],
    "analytics": ["analytics.sha_violations", "analytics.pagerank_parity",
                  "analytics.cc_parity", "analytics.triangle_parity",
                  "oracle.q_ann_brute",
                  "oracle.q_emb_dedup", "oracle.q_jaccard",
                  "oracle.q_pagerank", "oracle.q_text_stats",
                  "oracle.q_triangles", "rows.q_leiden"],
}


def run(cwd, workload, seed, trace):
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "1",
         "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    # no modularity recorded yet, so the first run of seed 7 records it
    shutil.rmtree(os.path.join(ROOT, ".bench_build", "record"),
                  ignore_errors=True)
    for w in bench["workloads"]:
        name = w["name"]
        for i, (seed, trace) in enumerate(((7, 0), (7, 0), (8, 1))):
            rc, lines, err = run(ROOT, name, seed, trace)
            tag = f"{name} seed={seed} trace={trace}"
            if rc != 0 or len(lines) < 2:
                problems.append(f"{tag}: exit {rc}: {err[-400:]}")
                continue
            hyg, res = json.loads(lines[-2]), json.loads(lines[-1])
            want = bench["per_layer" if trace else "end_to_end"]
            got = res["metrics"]
            for m in want:
                v = got.get(m["name"])
                if v is None or v.get("unit") != m["unit"]:
                    problems.append(f"{tag}: metric {m['name']} missing "
                                    f"or without unit {m['unit']}")
            extra = set(got) - {m["name"] for m in want}
            if extra:
                problems.append(f"{tag}: unexpected metrics {sorted(extra)}")
            ran = {c["name"]: c["ok"] for c in hyg["checks"]}
            expect = CHECKS[name] + (["trace.span_tree"] if trace else []) \
                + (["repeat.modularity"] if i == 1 else [])
            for c in expect:
                if not ran.get(c):
                    problems.append(f"{tag}: check {c} "
                                    f"{'failed' if c in ran else 'did not run'}")
            if i == 0 and "repeat.modularity" in ran:
                problems.append(f"{tag}: first run of a seed ran the "
                                "determinism check")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: result {res}")
            print(f"ok {tag}: {len(got)} metrics, {len(ran)} checks",
                  flush=True)

    bare = os.path.join(ROOT, ".bench_build", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"))
        rc, lines, _ = run(bare, bench["workloads"][0]["name"], 1, 0)
        if rc == 0 or any(l.startswith('{"correct"') for l in lines):
            problems.append("bare directory: expected a failure without result")
        else:
            print(f"ok bare directory: exit {rc}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for p in problems:
        print("FAIL", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
