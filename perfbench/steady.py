"""Steadiness check: run workloads over several seeds and report, per
end-to-end metric, the median and the quartile spread (Q3 - Q1) / median
next to the metric's bound from BENCHMARK.json. With ``--trace`` it runs
each seed traced twice and asserts that every deterministic per-layer
counter repeats exactly, and reports tracing overhead as the traced minus
the untraced end-to-end numbers of the same seeds.

    python3 perfbench/steady.py --workloads search_mix live_ingest --seeds 10
    python3 perfbench/steady.py --workloads search_mix --seeds 2 --trace
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# per-layer metrics that count work rather than time it: identical for
# one seed on one commit
DETERMINISTIC = (
    "index.builder.spark_jobs", "index.builder.tasks",
    "index.builder.shuffle_write_bytes",
    "index.bytes.postings", "index.bytes.lexicon", "index.bytes.doc_stats",
    "index.files.postings", "index.files.postings_after_commit",
    "index.blocks", "index.codecs.decoded_values",
    "index.reader.blocks_calls_per_query",
    "index.reader.blocks_calls_per_distinct_term",
    "query.parser.expanded_terms_per_query",
    "query.searcher.postings_per_query", "query.searcher.vec_share",
    "query.executor_df.spark_jobs", "query.executor_df.tasks",
    "index.merge.spark_jobs", "index.merge.tasks", "index.merge.files_added",
    "index.merge.bytes_added", "index.merge.live_bytes_per_live_doc",
    "index.merge.tombstones",
)


def run_once(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "1" if trace else "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=300)
    wall = time.perf_counter() - t
    if proc.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    out["wall_s"] = wall
    # the summary lines "<workload> <metric> <value> <unit>" carry the
    # end-to-end numbers in traced runs too
    out["e2e"] = {p[1]: float(p[2]) for p in map(str.split, lines[:-1])
                  if len(p) >= 4 and p[0] == workload}
    return out


def spread(values) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    seeds = range(1, 1 + args.seeds)
    ok = True
    for w in args.workloads:
        if args.trace:
            ok &= check_trace(w, seeds, seconds)
            continue
        runs = [run_once(w, s, seconds, False) for s in seeds]
        walls = [r["wall_s"] for r in runs]
        failed = sum(r["failed"] for r in runs)
        print(f"{w}: {len(runs)} runs, wall median {statistics.median(walls):.1f}"
              f" s, max {max(walls):.1f} s, failed ops {failed}")
        ok &= failed == 0
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            sp = spread(vals)
            flag = "" if sp < bound / 3 else "  WIDE"
            ok &= not flag
            print(f"  {name:28s} median {statistics.median(vals):12.4f}  "
                  f"spread {sp:.4f}  bound {bound}{flag}  "
                  + " ".join(f"{v:.4g}" for v in vals))
        # the summary's unbounded figures, for the record
        for name in sorted(set.intersection(*(set(r["e2e"]) for r in runs))
                           - set(bounds)):
            vals = [r["e2e"][name] for r in runs]
            if statistics.median(vals) == 0:
                continue
            print(f"  {name:28s} median {statistics.median(vals):12.4f}  "
                  f"spread {spread(vals):.4f}  (unbounded)")
    return 0 if ok else 1


def check_trace(workload: str, seeds, seconds: int) -> bool:
    ok = True
    for seed in seeds:
        a = run_once(workload, seed, seconds, True)
        b = run_once(workload, seed, seconds, True)
        plain = run_once(workload, seed, seconds, False)
        print(f"{workload} seed {seed}: traced wall {a['wall_s']:.1f} s, "
              f"untraced wall {plain['wall_s']:.1f} s")
        for name in sorted(plain["e2e"].keys() & a["e2e"].keys()):
            v = plain["e2e"][name]
            print(f"  overhead {name:28s} traced {a['e2e'][name]:12.4f} "
                  f"untraced {v:12.4f} diff {a['e2e'][name] - v:+.4f}")
        for name in DETERMINISTIC:
            va, vb = a["metrics"][name]["value"], b["metrics"][name]["value"]
            if va != vb:
                ok = False
                print(f"  NOT REPEATED {name}: {va} vs {vb}")
        for name, m in a["metrics"].items():
            print(f"  {name:44s} {m['value']:14.4f} {m['unit']}")
    return ok


if __name__ == "__main__":
    sys.exit(main())
