#!/usr/bin/env python
"""Per-stage wall profile of ``text_dedup_retention`` (VERDICT r5 item
6: most expensive catalog entry at both scales — 5.3 s sf0.1 / 19.1 s
sf1 — find where the seconds go).

Each stage is timed by building ITS output and materializing it
(count) inside one timer, after one untimed warm-up run of the full
query, so a stage's number includes its upstream lineage
recomputation and any eager jobs its build runs; the honest per-stage
cost is therefore the DELTA between successive cumulative rows, also
reported. Stages:

  sha_collapse     exact-dup sha256 grouping -> extra table
  signatures       fused MinHash(64) signatures + shingle-hash sets
                   over representatives
  band_candidates  LSH banding + nibble-sketch gate (>= 0.3)
  verify           shuffled exact-Jaccard join, >= 0.5
  cc               connected components over verified pairs
  full_query       the catalog query end-to-end (the bench number)

Results -> .benchmarks/text_dedup_stage_times.json (committed; cited
in docs/SCALE.md).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dirs", nargs="+", default=["/root/testdata/sf0.1", "/tmp/sf1"]
    )
    ap.add_argument("--out", default=".benchmarks/text_dedup_stage_times.json")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from orca_ztbus_python_processor_spark.operators.dedup import (
        candidate_pairs_from_sigs,
        connected_components,
        jaccard_pairs_from_sets,
        minhash_signatures_and_sets,
    )
    from orca_ztbus_python_processor_spark.session import get_spark
    from orca_ztbus_python_processor_spark.sources.parquet import read_table
    from orca_ztbus_python_processor_spark.workloads.base import merged_catalog

    spark = get_spark("dedup-profile")
    spark.sparkContext.setLogLevel("ERROR")
    cat = merged_catalog()

    results = {}
    for sf_dir in args.sf_dirs:
        if not os.path.isdir(sf_dir):
            print(f"skip {sf_dir}: missing", file=sys.stderr)
            continue
        docs = read_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
        hashed = docs.where(F.length("text") > 0).select(
            F.sha2(F.col("text"), 256).alias("h"), "doc_id"
        )
        groups = hashed.groupBy("h").agg(
            F.min("doc_id").alias("rep_id"), F.count("*").alias("n")
        )
        extra = (
            hashed.join(groups.where(F.col("n") > 1), "h")
            .where(F.col("doc_id") != F.col("rep_id"))
            .select("doc_id", "rep_id")
        )
        reps = docs.join(extra.select("doc_id"), "doc_id", "left_anti")

        stages = {}

        def timed(name, build):
            t0 = time.perf_counter()
            df = build()
            n = df.count()
            stages[name] = {"rows": n, "sec_cumulative": round(time.perf_counter() - t0, 3)}
            return df

        # warm-up (JVM, Python workers, codegen): no timed stage pays it
        cat.queries["text_dedup_retention"](spark, sf_dir).count()
        timed("sha_collapse", lambda: extra)
        fused = timed("signatures", lambda: minhash_signatures_and_sets(reps))
        cands = timed("band_candidates", lambda: candidate_pairs_from_sigs(fused, min_est=0.3))
        verified = timed(
            "verify",
            lambda: jaccard_pairs_from_sets(fused.select("_id", "_set"), cands).where(
                F.col("jaccard") >= 0.5
            ),
        )
        timed("cc", lambda: connected_components(verified.select("id_a", "id_b")))

        prev = 0.0
        for cell in stages.values():
            cell["sec_delta_vs_prev_stage"] = round(cell["sec_cumulative"] - prev, 3)
            prev = cell["sec_cumulative"]
        # the catalog query is its own plan, not a stage after cc: no delta
        t0 = time.perf_counter()
        cat.queries["text_dedup_retention"](spark, sf_dir).count()
        stages["full_query"] = {
            "rows": None,
            "sec_cumulative": round(time.perf_counter() - t0, 3),
            "sec_delta_vs_prev_stage": None,
        }
        results[sf_dir] = stages
        print(sf_dir, json.dumps(stages, indent=1))

    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(results, f, indent=2)
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
