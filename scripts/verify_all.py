"""One-command local verification: full test suite, oracle-parity sweep
at sf0.01 AND sf0.1 (the scale sweep catches rounding-boundary and
threshold effects the small gate can't see), then the benchmark.

Run: python scripts/verify_all.py  [--skip-bench] [--jobs N] [--serial]
Exits non-zero if any stage fails.

Parallel layout (VERDICT r7 ask #7 — the single-process suite crossed
9m30s at 885 tests and grows every round): the suite is split into
--jobs weight-balanced file shards, the two scale parity sweeps are
split into hash shards of the key list (BRISTLE_PARITY_SHARD, see
tests/test_oracle_parity.py), and everything runs concurrently as
separate pytest processes with their own Spark JVMs (ephemeral ports,
tempdir Derby/checkpoints — no shared mutable state between shards).
The bench still runs alone at the end so its timings see an idle
machine. --serial restores the old one-at-a-time behavior.

ROUND-8 closing profile (198 keys, 1200+ tests, idle host): wall 1342s.
Suite shards finished 363/1166/1331/1341s; parity shards 185-398s
except sf0.1-shard1 at 1143s (it hash-draws the iterative trainers).
The single-file SUITE_WEIGHTS under-predict ~6x under the 10-way JVM
concurrency — the sweep is CPU-BOUND, so raising --jobs won't cut the
wall; cutting total CPU (e.g. capping the executor pool so suite
shards start after the short parity shards drain, or trimming the
heaviest iterative tests' round counts) is the lever if round 9 needs
the wall back under 15 min.

ROUND-10 profile (209 keys, 1360+ tests): wall 1118s (0.83x of r8 at
+11 keys) after applying exactly that lever — parity shards raised to
6 per scale and submitted FIRST, total process width capped at
--workers 8. Parity shards now finish 276-858s (trainer-heavy sf0.1
shard1 is the tail), suite shards 335-626s.
"""

from __future__ import annotations

import argparse
import glob
import os
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# measured call-time seconds per file (full suite, 2026-08-14, idle
# machine); files not listed get the fallback. Only used to BALANCE
# shards — staleness skews the split, never the coverage (shards are
# built from a live glob of tests/test_*.py).
SUITE_WEIGHTS = {
    # round-14 re-measurement (VERDICT r13 ask #3 — the registry grew
    # 229 -> 292 since these were last taken and the r13 final-tree
    # sweep's 895s suite tail was the stale-weights clump): single-file
    # wall, idle host, 2026-08-16
    "test_oracle_parity.py": 318,
    "test_determinism.py": 197,
    "test_canonicalizer_safety.py": 194,
    "test_scale_shapes.py": 193,
    "test_no_global_windows.py": 149,
    "test_empty_tables.py": 118,
    "test_cli.py": 65,
    "test_streaming.py": 40,
    "test_round14_stats.py": 60,
    "test_ann_pq.py": 19,
    "test_maintenance.py": 16,
    "test_bpe.py": 16,
    "test_plans.py": 15,
    "test_stateful_and_skew.py": 10,
    "test_funnel_single_propagation.py": 9,
    "test_stream_ingest.py": 8,
    "test_boundary_fixtures.py": 7,
    "test_ingest_pipeline.py": 6,
    "test_server_reload.py": 5,
    "test_forwarder.py": 4,
    # round-8 session-2 additions (measured single-file, idle)
    "test_logreg.py": 110,
    "test_pagerank.py": 60,
    "test_pca_project.py": 70,
    # round-10 measurements
    "test_grpc_transport.py": 40,
    "test_backoff.py": 12,
    # round-11 measurements (single-file, idle)
    "test_png_codec.py": 18,
    "test_grpc_tls.py": 12,
}
FALLBACK_WEIGHT = 5
# per scale factor.  8 weight-BALANCED shards (round 11, was 6): at 222
# keys the trainer-heavy sf0.1 shard crossed the ~900s rebalance
# threshold (1223s); with 8 shards the greedy bin-packer places each of
# the 8 heaviest iterative trainers in its own shard, halving the tail.
PARITY_SHARDS = 8


def shard_suite(jobs: int) -> list[list[str]]:
    files = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(ROOT, "tests", "test_*.py"))
    )
    shards: list[tuple[int, list[str]]] = [(0, []) for _ in range(jobs)]
    for f in sorted(files, key=lambda f: -SUITE_WEIGHTS.get(f, FALLBACK_WEIGHT)):
        w, lightest = min(
            ((tot, lst) for tot, lst in shards), key=lambda s: s[0]
        )
        idx = shards.index((w, lightest))
        shards[idx] = (w + SUITE_WEIGHTS.get(f, FALLBACK_WEIGHT), lightest + [f])
    return [lst for _, lst in shards if lst]


def run(label: str, cmd: list[str], env: dict | None = None) -> int:
    t0 = time.time()
    e = dict(os.environ)
    e.update(env or {})
    proc = subprocess.run(cmd, cwd=ROOT, env=e, capture_output=True, text=True)
    took = time.time() - t0
    print(f"=== {label}: rc={proc.returncode} in {took:.0f}s", flush=True)
    if proc.returncode != 0:
        sys.stdout.write(proc.stdout[-6000:])
        sys.stdout.write(proc.stderr[-2000:])
    return proc.returncode


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--skip-bench", action="store_true")
    ap.add_argument("--jobs", type=int, default=4, help="suite file shards")
    ap.add_argument("--workers", type=int, default=8,
                    help="max concurrent pytest processes (round 10: "
                         "capped — uncapped width was pure thrash)")
    ap.add_argument("--serial", action="store_true", help="old sequential mode")
    args = ap.parse_args()
    py = sys.executable
    t0 = time.time()

    if args.serial:
        for label, cmd, env in [
            ("suite", [py, "-m", "pytest", "tests/", "-q"], None),
            ("parity sf0.01", [py, "-m", "pytest", "tests/test_oracle_parity.py", "-q"],
             {"BRISTLE_TEST_SF_DIR": "/root/testdata/sf0.01"}),
            ("parity sf0.1", [py, "-m", "pytest", "tests/test_oracle_parity.py", "-q"],
             {"BRISTLE_TEST_SF_DIR": "/root/testdata/sf0.1"}),
        ]:
            if run(label, cmd, env) != 0:
                sys.exit(1)
    else:
        # parity shards FIRST in submission order, suite shards after:
        # with the worker cap below, the many short parity shards drain
        # while the long suite shards hold the tail — the round-8
        # profile showed the sweep is CPU-bound, so UNCAPPED width
        # (16 concurrent JVMs on 32 CPUs) only adds scheduler thrash
        jobs: list[tuple[str, list[str], dict | None]] = []
        for sf in ("0.01", "0.1"):
            for i in range(PARITY_SHARDS):
                jobs.append((
                    f"parity sf{sf} shard{i}",
                    [py, "-m", "pytest", "tests/test_oracle_parity.py", "-q"],
                    {
                        "BRISTLE_TEST_SF_DIR": f"/root/testdata/sf{sf}",
                        "BRISTLE_PARITY_SHARD": f"{i}/{PARITY_SHARDS}",
                        "BRISTLE_DRIVER_MEM": "8g",
                    },
                ))
        for i, shard in enumerate(shard_suite(args.jobs)):
            jobs.append((
                f"suite-shard{i} ({len(shard)} files)",
                [py, "-m", "pytest", "-q", *[f"tests/{f}" for f in shard]],
                {"BRISTLE_DRIVER_MEM": "8g"},
            ))
        with ThreadPoolExecutor(max_workers=min(args.workers, len(jobs))) as pool:
            rcs = list(pool.map(lambda j: run(*j), jobs))
        if any(rcs):
            print(f"=== FAILED ({sum(1 for r in rcs if r)} stages) "
                  f"after {time.time() - t0:.0f}s")
            sys.exit(1)

    if not args.skip_bench:
        if run("bench", [py, "bench.py"]) != 0:
            sys.exit(1)
    print(f"=== all stages green in {time.time() - t0:.0f}s")


if __name__ == "__main__":
    main()
