#!/usr/bin/env python
"""Benchmark harness.

Default mode (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], plus the full KG-pipeline throughput measured
as the MEDIAN of $SPARK_GRAFT_PIPELINE_ROUNDS (default 3) fresh-JVM runs
over a cached synthetic pages corpus (single runs sit inside the host's
documented ±56% CPU-noise band — see BENCH.md), and prints ONE JSON line:
    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {...}, "sf": ..., "triples_per_sec": ...,
     "pipeline_samples": [...]}

--throughput-only --cpus N : print only the pipeline throughput JSON
    (used by the default mode via subprocesses for clean JVMs).

--cpus defaults to $SPARK_GRAFT_CPUS, else the CPUs this process may
run on.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

HOST_CPUS = len(os.sched_getaffinity(0))
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", HOST_CPUS))

HEADLINE = [
    "q_gap_rule",            # full inference lineage: backlink -> pivot -> fusion -> gap
    "q_evidence_fusion",
    "q_entry_assembly",
    "q_topk_mean_norm",
    "q_window_rank",
    "q_exact_dedup",
    "q_minhash_signature",   # md5-hex oracle-portable shape (shingle-table path)
    "q_minhash_compact",     # xxhash64 production default (bench-only row)
    "q_minhash_inline",      # row-local HOF path: zero shuffles, same values
    "q_language_id",
    "q_ann_topk",
    "q_token_index",          # FTS inverted index with form discount
    "q_fuzzy_search",         # spellfix analog (levenshtein top-k)
    "q_clean_corpus",         # flagship prep chain: quality -> exact -> LSH near-dup
    "q_line_dedup",           # round-5: boilerplate-line removal (single-pass shape)
    "q_pagerank",             # round-5: 3 power iterations, partition-once edges
    "q_bm25",                 # round-5: postings-filtered relevance ranking
    "q_remove_spans",         # round-5b: substring excision (checkpointed gram trunk)
]


def _q_minhash_compact(spark, sf_dir):
    """Bench-only twin of q_minhash_signature on the compact=True
    (xxhash64 long) production path — not oracle-comparable (xxhash64
    isn't portable to DuckDB), so it lives here rather than in
    __spark_entry__.queries(); the headline shows production dedup cost
    next to the md5 oracle shape."""
    from pyspark.sql import functions as F

    from wikdict_gen_spark.operators import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sig = D.minhash_signatures(D.shingles(docs, k=3), num_hashes=4, compact=True)
    return sig.select(
        "doc_id",
        *[F.element_at("minhash", i + 1).alias(f"mh{i}") for i in range(4)],
    )


EXTRA_QUERIES = {"q_minhash_compact": _q_minhash_compact}

# 150k concepts: the smallest corpus where the pipeline's fixed floor
# (JVM+plan+serial stage-materialization latency, ~40-70s) stops dominating
# the reported throughput — 78.8k t/s at 150k vs 80.9k at 300k vs ~29k at
# the floor-bound 40k, measured on local[32]
BENCH_CONCEPTS = int(os.environ.get("SPARK_GRAFT_BENCH_CONCEPTS", "150000"))


def bench_corpus(n_concepts: int | None = None) -> str:
    """Build (or reuse) the deterministic bench pages corpus (parallel gen)."""
    n = n_concepts or BENCH_CONCEPTS
    d = Path(tempfile.gettempdir()) / f"wikdict_bench_corpus_{n}"
    marker = d / "_DONE"
    if not marker.exists():
        from wikdict_gen_spark.fixtures import build_bench_corpus

        if d.exists():
            shutil.rmtree(d)
        build_bench_corpus(d, n_concepts=n, seed=42, workers=HOST_CPUS)
        marker.touch()
    return str(d / "pages.parquet")


def pipeline_throughput(cpus: int) -> dict:
    """Full pipeline (extract -> kg_edges) wall time and triples/sec.

    Fused mode (one lazy lineage, terminal write only: the cluster-job
    shape); the checkpointed shape is measured by perfbench's kg_build.
    """
    from wikdict_gen_spark.pipeline import run_pipeline
    from wikdict_gen_spark.session import get_spark

    pages = bench_corpus()
    work = tempfile.mkdtemp(prefix=f"wikdict_bench_{cpus}_")
    # 4 shuffle partitions per core: the wide aggregations (composition,
    # fusion) have uneven key sizes, and 2/core leaves cores idle behind
    # the longest task (measured 196s -> 161s at 4 cores going 2x -> 4x)
    spark = get_spark(parallelism=cpus, app_name=f"bench{cpus}",
                      shuffle_partitions=cpus * 4)
    # warm the scan path only; a full tiny-corpus warm pass was tried and
    # REGRESSED the measured run 15-60% (leftover block-manager/heap state
    # outweighs the JIT benefit) — keep warmup minimal
    spark.read.parquet(pages).limit(1000).count()
    t0 = time.monotonic()
    out = run_pipeline(spark, pages, work, fused=True)
    out["kg_edges"].write.mode("overwrite").parquet(f"{work}/kg_edges_out")
    triples = spark.read.parquet(f"{work}/kg_edges_out").count()
    wall = time.monotonic() - t0
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    return {"cpus": cpus, "wall_s": round(wall, 2),
            "triples": triples,
            "mode": "fused",
            "triples_per_sec": round(triples / wall, 1)}


def run_headline(sf_dir: str, cpus: int) -> dict:
    import __spark_entry__ as entrymod
    from wikdict_gen_spark.session import get_spark

    spark = get_spark(parallelism=cpus, app_name="bench", shuffle_partitions=cpus)
    queries = {**entrymod.queries(), **EXTRA_QUERIES}
    timings: dict[str, float] = {}
    for name in HEADLINE:
        df = queries[name](spark, sf_dir)
        df.count()  # warm: plan + scan caches, session-shared _memo trunks
        # time a FRESH build, not a recount of the warmed DataFrame: queries
        # that materialize per-call localCheckpoints (clean_corpus,
        # line_dedup, pagerank) would otherwise be timed reading the warm
        # run's cached blocks — reporting the read cost, not the operator.
        # Session-memoized trunks (_memo) are shared by design and stay
        # warm across the rebuild, matching their documented protocol.
        t0 = time.monotonic()
        queries[name](spark, sf_dir).count()
        timings[name] = round(time.monotonic() - t0, 3)
    spark.stop()
    return timings


def host_calibration() -> dict:
    """Fixed-work CPU anchor reported with every bench line.

    The sandbox VM's effective CPU speed swings with hypervisor
    contention (same-code reruns have measured 92.6k-106.5k t/s in one
    hour — PIPELINE_AB.jsonl — and 13k-24k t/s a few hours later with
    zero code change, all trivial scan-bound queries slowed ~10x
    alongside).  Shipping a deterministic calibration with the
    throughput number lets any reader separate host state from plan
    regressions: sha256 over fixed buffers, single-thread and one thread
    per host CPU (hashlib releases the GIL on large buffers, so the MT
    number reflects effective core count).  The MT pass hashes 8x the
    single pass's buffers, split evenly across the threads;
    `effective_cores` is the parallel speedup implied by the pair: about
    the host's CPU count when uncontended (2.5 of 32 during the round-5
    slow window — matching the 4x pipeline-throughput collapse measured
    the same hour on unchanged code).
    """
    import concurrent.futures
    import hashlib

    buf = b"\xab" * (1 << 20)

    def one(n):
        h = hashlib.sha256()
        for _ in range(n):
            h.update(buf)
        return h.hexdigest()

    t0 = time.monotonic()
    one(1200)
    single = round(time.monotonic() - t0, 3)
    per_thread = 1200 * 8 // HOST_CPUS
    t0 = time.monotonic()
    with concurrent.futures.ThreadPoolExecutor(HOST_CPUS) as ex:
        list(ex.map(one, [per_thread] * HOST_CPUS))
    mt = round(time.monotonic() - t0, 3)
    return {
        "threads": HOST_CPUS,
        "sha256_single_s": single,
        "sha256_mt_s": mt,
        "effective_cores": round(single * per_thread * HOST_CPUS / 1200 / mt, 1),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--throughput-only", action="store_true")
    ap.add_argument("--cpus", type=int, default=DEFAULT_CPUS)
    args = ap.parse_args()

    if args.throughput_only:
        print(json.dumps(pipeline_throughput(args.cpus)))
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    timings = run_headline(sf_dir, args.cpus)
    # pipeline row as a MEDIAN of fresh-JVM repetitions: the host's
    # effective CPU speed fluctuates ±56% run to run (BENCH.md), so a
    # single-run headline number confounds host noise with plan changes;
    # each repetition is its own subprocess (back-to-back runs in one JVM
    # contaminate the later measurement), 10s settle between
    rounds = int(os.environ.get("SPARK_GRAFT_PIPELINE_ROUNDS", "3"))
    samples: list[dict] = []
    for i in range(rounds):
        if i:
            time.sleep(10)
        r = subprocess.run(
            [sys.executable, __file__, "--throughput-only",
             "--cpus", str(args.cpus)],
            capture_output=True, text=True, check=True,
        )
        samples.append(json.loads(r.stdout.strip().splitlines()[-1]))
    thr = sorted(samples, key=lambda x: x["triples_per_sec"])[len(samples) // 2]
    print(json.dumps({
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "pipeline_triples": thr["triples"],
        "pipeline_wall_s": thr["wall_s"],
        "pipeline_mode": thr["mode"],
        "triples_per_sec": thr["triples_per_sec"],
        "pipeline_rounds": rounds,
        "pipeline_samples": [s["triples_per_sec"] for s in samples],
        "host_cal": host_calibration(),
        "note": ("headline set grew in round 4 (q_minhash_compact, "
                 "q_clean_corpus) and round 5 (q_line_dedup, q_pagerank, "
                 "q_bm25, q_remove_spans); compare round-over-round on the shared "
                 "queries, not the total; triples_per_sec is the median "
                 "of pipeline_samples (fresh JVMs)"),
    }))


if __name__ == "__main__":
    main()
