#!/usr/bin/env python
"""Explain the ngram_jaccard_pairs sf0.1 -> sf1 slope (VERDICT r5 item
4, steepest non-stream slope at 6.9x for 10x data) by measuring the
quantity the query's cost actually tracks: CANDIDATE-PAIR volume
through each pipeline stage, at both scales.

Stages measured per scale factor:
  - n_docs                      corpus rows
  - banding_pairs               distinct pairs sharing >=1 LSH band
  - gated_pairs                 after the signature-estimate >= 0.2 gate
  - verified_rows               exact-Jaccard output rows (== gated)
  - wall times for (candidates+gate) and the exact verify join

If pair growth is ~linear in docs, the query's super-linear wall slope
is pair-volume law (each pair's verify cost also grows with doc
length), not a plan defect; if pair growth is super-linear, the
banding/gate parameters need tightening. Results ->
.benchmarks/jaccard_pair_counts.json (committed; cited in docs/SCALE.md).

Usage:
  python scripts/measure_pair_counts.py \
      [--sf-dirs /root/testdata/sf0.1 /tmp/sf1]
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
    ap.add_argument("--out", default=".benchmarks/jaccard_pair_counts.json")
    args = ap.parse_args()

    from orca_ztbus_python_processor_spark.operators.dedup import (
        candidate_pairs_from_sigs,
        jaccard_pairs_from_sets,
        minhash_signatures_and_sets,
    )
    from orca_ztbus_python_processor_spark.session import get_spark
    from orca_ztbus_python_processor_spark.sources.parquet import read_table

    spark = get_spark("pair-counts")
    spark.sparkContext.setLogLevel("ERROR")

    results = {}
    for sf_dir in args.sf_dirs:
        if not os.path.isdir(sf_dir):
            print(f"skip {sf_dir}: missing", file=sys.stderr)
            continue
        docs = read_table(spark, sf_dir, "documents")
        n_docs = docs.count()
        fused = minhash_signatures_and_sets(docs)

        t0 = time.perf_counter()
        banding = candidate_pairs_from_sigs(fused).count()
        t_banding = time.perf_counter() - t0

        t0 = time.perf_counter()
        cands = candidate_pairs_from_sigs(fused, min_est=0.2)
        gated = cands.count()
        t_gate = time.perf_counter() - t0

        t0 = time.perf_counter()
        verified = jaccard_pairs_from_sets(fused.select("_id", "_set"), cands).count()
        t_verify = time.perf_counter() - t0

        results[sf_dir] = {
            "n_docs": n_docs,
            "banding_pairs": banding,
            "gated_pairs": gated,
            "verified_rows": verified,
            "sec_banding_pairs": round(t_banding, 3),
            "sec_gated_pairs": round(t_gate, 3),
            "sec_verify_join": round(t_verify, 3),
        }
        print(sf_dir, json.dumps(results[sf_dir]))

    dirs = list(results)
    if len(dirs) == 2:
        a, b = results[dirs[0]], results[dirs[1]]
        results["slopes"] = {
            k: round(b[k] / a[k], 3) if a[k] else None
            for k in ("n_docs", "banding_pairs", "gated_pairs", "verified_rows")
        }
        print("slopes:", json.dumps(results["slopes"]))

    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(results, f, indent=2)
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
