#!/usr/bin/env python
"""Extra benchmarks for the optimization round (bench.py is FROZEN for
measurement; everything exploratory lives here).

Modes:
  --headline [names...]   time headline queries exactly like bench.py's
                          run_headline (warm count, then a timed fresh
                          build's count) WITHOUT the pipeline-throughput
                          runs; prints one JSON line per run.
  --noop [names...]       same queries, but timed with the noop sink
                          (guide §1.4): every column of every row is
                          computed and discarded, so the number reflects
                          the full operator, not what count() can prune.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
--cpus defaults to SPARK_GRAFT_CPUS, else the CPUs this process may run on.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from bench import DEFAULT_CPUS  # noqa: E402


def _queries():
    import __spark_entry__ as entrymod
    from bench import EXTRA_QUERIES, HEADLINE

    return {**entrymod.queries(), **EXTRA_QUERIES}, HEADLINE


def run(sf_dir: str, cpus: int, names: list[str], noop: bool) -> dict:
    from bench import host_calibration
    from wikdict_gen_spark.session import get_spark

    queries, _ = _queries()
    spark = get_spark(parallelism=cpus, app_name="bench_extra",
                      shuffle_partitions=cpus)
    timings: dict[str, float] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"{name} warm")
        df = queries[name](spark, sf_dir)
        if noop:
            df.write.format("noop").mode("overwrite").save()
            spark.sparkContext.setJobDescription(f"{name} timed")
            t0 = time.monotonic()
            queries[name](spark, sf_dir).write.format("noop").mode(
                "overwrite").save()
        else:
            df.count()
            spark.sparkContext.setJobDescription(f"{name} timed")
            t0 = time.monotonic()
            queries[name](spark, sf_dir).count()
        timings[name] = round(time.monotonic() - t0, 3)
        spark.sparkContext.setJobDescription(None)
    spark.stop()
    return {
        "metric": "headline_noop" if noop else "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "cpus": cpus,
        "host_cal": host_calibration(),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--cpus", type=int, default=DEFAULT_CPUS)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    queries, headline = _queries()
    names = args.names or headline
    for n in names:
        if n not in queries:
            raise SystemExit(f"unknown query {n}")
    print(json.dumps(run(sf_dir, args.cpus, names, args.noop)))


if __name__ == "__main__":
    main()
