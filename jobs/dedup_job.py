"""spark-submit entry point for bulk near-dup detection over a
documents table — the batch surface for the MinHash-LSH family
(operators/dedup.py).

Cluster usage:

    zip -r tripsu_spark.zip tripsu_spark
    spark-submit --py-files tripsu_spark.zip jobs/dedup_job.py \
        --input  /data/documents \
        --output /data/dedup_out \
        --mode   clusters            # or: pairs
        [--num-hashes 128] [--band-size 8] [--min-est 0.5]

``reuse_sigs`` is ON by default: the plan otherwise recomputes the
signatures for each branch of the band self-join and the verify join,
measured +29% on the benchmark's clustering span (BENCH.md). Output is
identical either way (pinned by tests/test_dedup.py); pass
--no-reuse-sigs for a plan without the executor-local checkpoint
(see ``dedup.dedup_minhash_lsh`` for its executor-loss caveat).

Local smoke:

    python jobs/dedup_job.py --input /root/testdata/sf0.01/documents.parquet \
        --output /tmp/dedup --mode clusters
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tripsu_spark.operators import dedup
from tripsu_spark.session import get_submit_spark


def main() -> int:
    ap = argparse.ArgumentParser(description="bulk MinHash-LSH near-dup detection")
    ap.add_argument("--input", required=True, help="documents table path (parquet)")
    ap.add_argument("--output", required=True, help="output path (parquet)")
    ap.add_argument(
        "--mode", default="clusters", choices=["pairs", "clusters"],
        help="pairs: (a, b, est_jaccard) candidate pairs; "
             "clusters: (doc_id, cluster_id) connected components",
    )
    ap.add_argument("--num-hashes", type=int, default=dedup.NUM_HASHES_PROD)
    ap.add_argument("--band-size", type=int, default=dedup.BAND_SIZE_PROD)
    ap.add_argument("--min-est", type=float, default=0.5)
    ap.add_argument(
        "--no-reuse-sigs", dest="reuse_sigs", action="store_false",
        help="recompute signatures per join branch (slower, identical "
             "output, no executor-local checkpoint)",
    )
    args = ap.parse_args()

    spark = get_submit_spark("tripsu-spark-dedup")

    docs = spark.read.parquet(args.input)
    t0 = time.monotonic()
    if args.mode == "pairs":
        out = dedup.dedup_minhash_lsh(
            docs, args.num_hashes, args.band_size, args.min_est,
            reuse_sigs=args.reuse_sigs,
        )
    else:
        out = dedup.dedup_clusters(
            docs, args.num_hashes, args.band_size, args.min_est,
            reuse_sigs=args.reuse_sigs,
        )
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(json.dumps({
        "mode": args.mode, "rows": n, "reuse_sigs": args.reuse_sigs,
        "num_hashes": args.num_hashes, "band_size": args.band_size,
        "min_est": args.min_est, "wall_sec": round(time.monotonic() - t0, 2),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
