#!/usr/bin/env python
"""Scale-up experiment: materialize an ~sf1 dataset (10 shifted-id copies
of sf0.1) under /tmp and run bench.py against it, giving a measured
scaling curve for SCALE.md (10x data on the same 32 cores).

Usage:
    python tools/scale_experiment.py            # build + print bench cmd
    SPARK_GRAFT_SF_DIR=/tmp/opdspark_sf1 python bench.py

Only PRIMARY keys (and self-contained grouping keys like events.user_id)
are shifted per copy — foreign keys into the unshifted dimension tables
(o_custkey, l_suppkey, l_partkey) keep their values so referential
integrity holds and every join query processes all 10 copies. Each
document text appears 10x — a realistic duplication rate for the dedup
operators. Dimension tables are copied as-is.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT_DIR = "/tmp/opdspark_sf1"
SRC = "/root/testdata/sf0.1"
COPIES = 10
SHIFT = 10_000_000

FACT_TABLES = {
    "lineitem": ["l_orderkey"],          # matches shifted o_orderkey
    "orders": ["o_orderkey"],            # o_custkey stays: FK to customer
    "events": ["event_id", "user_id"],   # user_id is self-contained
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIM_TABLES = ["region", "nation", "customer", "supplier", "part"]


def build(out_dir: str, copies: int, near_dup_docs: bool,
          boilerplate_frac: float) -> None:
    from pyspark.sql import functions as F

    from openpolicedata_spark import get_spark
    from openpolicedata_spark.sources.file import read_parquet_repaired

    spark = get_spark(app_name="opdspark-scaleup")
    for t, idcols in FACT_TABLES.items():
        df = read_parquet_repaired(spark, f"{SRC}/{t}.parquet")
        parts = []
        for k in range(copies):
            shifted = df
            for c in idcols:
                shifted = shifted.withColumn(c, F.col(c) + F.lit(k * SHIFT))
            if t == "documents" and near_dup_docs and k > 0:
                # copies k>0 get a distinct appended token: different digest
                # (survives exact dedup) but shingle-Jaccard ~ (L-k+1)/(L+1)
                # vs the original — a realistic crawl-revision near-dup.
                shifted = shifted.withColumn(
                    "text", F.concat("text", F.lit(f" revision{k} tail{k}")))
            parts.append(shifted)
        copies_df = parts[0]
        for p in parts[1:]:
            copies_df = copies_df.unionByName(p)
        if t == "documents" and boilerplate_frac > 0:
            # give a deterministic slice of docs one shared long preamble —
            # the boilerplate mode that collapses LSH bands into mega-
            # buckets, which is exactly what max_bucket_size must absorb
            boiler = F.lit(" ".join(f"standard disclaimer clause {i}"
                                    for i in range(120)))
            hit = (F.pmod(F.xxhash64(F.col("doc_id")), F.lit(1000))
                   < F.lit(int(boilerplate_frac * 1000)))
            copies_df = copies_df.withColumn(
                "text",
                F.when(hit, F.concat(boiler, F.lit(" "), F.col("text")))
                .otherwise(F.col("text")))
        (copies_df.repartition(32)
         .write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet"))
        print(f"# {t}: x{copies}")
    for t in DIM_TABLES:
        read_parquet_repaired(spark, f"{SRC}/{t}.parquet") \
            .write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")
    print(f"# done. Run: SPARK_GRAFT_SF_DIR={out_dir} python bench.py")


def lsh_run(out_dir: str, max_bucket_size: int | None,
            jaccard_threshold: float = 0.5) -> dict:
    """Measure the LSH wave at the built scale: wall time, bucket-size
    distribution from the same banding the operator uses, and the
    verified-pair count — with the given max_bucket_size guard. Prints one
    JSON line per invocation (a SCALE.md row)."""
    from pyspark.sql import functions as F

    from openpolicedata_spark import get_spark
    from openpolicedata_spark.operators.dedup import (
        minhash_lsh_dup_pairs,
        minhash_signatures,
    )

    spark = get_spark(app_name="opdspark-lsh-scale")
    docs = spark.read.parquet(f"{out_dir}/documents.parquet")
    n_docs = docs.count()

    # bucket-size distribution (diagnostic pass, same banding parameters)
    ms = minhash_signatures(docs)
    banded = ms.select(
        F.posexplode(
            F.transform(F.sequence(F.lit(0), F.lit(15)),
                        lambda b: F.xxhash64(F.slice("minhash",
                                                     b * 4 + 1, 4)))
        ).alias("band_id", "band_hash"))
    sizes = (banded.groupBy("band_id", "band_hash").count()
             .where(F.col("count") > 1)
             .agg(F.count("*").alias("buckets"),
                  F.max("count").alias("max_bucket"),
                  F.expr("percentile_approx(count, 0.99)").alias("p99"),
                  F.sum(F.when(F.col("count") > max_bucket_size, 1)
                        .otherwise(0)).alias("dropped_buckets")
                  if max_bucket_size else
                  F.lit(0).alias("dropped_buckets"))
             .first())

    t0 = time.time()
    pairs = minhash_lsh_dup_pairs(
        docs, jaccard_threshold=jaccard_threshold,
        max_bucket_size=max_bucket_size)
    n_pairs = pairs.count()
    wall = time.time() - t0

    row = {
        "docs": n_docs,
        "max_bucket_size": max_bucket_size,
        "collision_buckets": sizes["buckets"],
        "max_bucket": sizes["max_bucket"],
        "p99_bucket": sizes["p99"],
        "dropped_buckets": int(sizes["dropped_buckets"] or 0),
        "verified_pairs": n_pairs,
        "lsh_wall_sec": round(wall, 2),
    }
    print(json.dumps(row))
    return row


def semdedup_run(out_dir: str, max_cluster_size: int | None,
                 limit: int | None = None) -> dict:
    """Adversarial SemDeDup validation (VERDICT r3 item 9): a DEGENERATE
    single-cluster corpus — one centroid, so every embedding lands in
    the same list — at the built scale. With the cluster above
    `max_cluster_size` the operator must PASS THROUGH (keep=true,
    max_cos_prev=null) in scan time, never attempt the |cluster|²
    pairwise step on one task. Prints one JSON row for SCALE.md."""
    from pyspark.sql import functions as F

    from openpolicedata_spark import get_spark
    from openpolicedata_spark.operators.similarity import semdedup

    spark = get_spark(app_name="opdspark-semdedup-scale")
    emb = spark.read.parquet(f"{out_dir}/embeddings.parquet")
    if limit:
        emb = emb.limit(limit)
    dim = emb.select(F.size("embedding")).first()[0]
    n = emb.count()
    cents = [[1.0] + [0.0] * (dim - 1)]  # ONE centroid: degenerate cluster
    t0 = time.time()
    out = semdedup(emb, cents, threshold=0.95,
                   max_cluster_size=max_cluster_size)
    kept = out.where(F.col("keep")).count()
    wall = time.time() - t0
    passthrough = max_cluster_size is not None and n > max_cluster_size
    row = {
        "mode": "semdedup_degenerate_single_cluster",
        "rows": n,
        "max_cluster_size": max_cluster_size,
        "passthrough_expected": passthrough,
        "kept": kept,
        "wall_sec": round(wall, 2),
    }
    assert not passthrough or kept == n, \
        "pass-through must keep every row (conservative under-dedup)"
    print(json.dumps(row))
    return row


def index_cadence_run(compact: bool, n_batches: int = 200,
                      rows_per_batch: int = 500,
                      max_files: int = 64) -> None:
    """Steady-state cost of the append-per-batch streaming indexes
    (judge r6 task 7): simulate `n_batches` micro-batches, each doing
    the sinks' head-of-batch index READ (recover + full probe scan)
    followed by a one-file append, with `compact_index` at the sinks'
    production cadence (max_files=64) or disabled. Prints one JSON row
    with the tail-window (last 25%) mean/max read latency, file count
    trajectory, and compaction count — the measurement behind
    SCALE.md's streaming-index row."""
    import glob as _glob
    import shutil
    import tempfile

    from openpolicedata_spark import get_spark
    from openpolicedata_spark.publish import aside_of, recover
    from openpolicedata_spark.streaming import compact_index

    spark = get_spark(app_name="opdspark-index-cadence",
                      master="local[8]", shuffle_partitions=8)
    root = tempfile.mkdtemp(prefix="opd_idx_cadence_")
    idx = os.path.join(root, "index")
    reads: list[float] = []
    n_compact = 0
    try:
        for b in range(n_batches):
            recover(idx, aside_of(idx))
            t0 = time.perf_counter()
            if os.path.isdir(idx):
                # the sinks' probe shape: full index scan + filter
                spark.read.parquet(idx).where("hash % 97 = 3").count()
            reads.append(time.perf_counter() - t0)
            (spark.range(rows_per_batch)
             .selectExpr(f"id + {b} * {rows_per_batch} AS hash")
             .coalesce(1).write.mode("append").parquet(idx))
            if compact:
                before = len(_glob.glob(os.path.join(idx, "*.parquet")))
                compact_index(spark, idx, max_files=max_files)
                after = len(_glob.glob(os.path.join(idx, "*.parquet")))
                if after < before:
                    n_compact += 1
        files_end = len(_glob.glob(os.path.join(idx, "*.parquet")))
        tail = reads[-max(1, n_batches // 4):]
        print(json.dumps({
            "mode": "index_cadence",
            "compact": compact,
            "n_batches": n_batches,
            "rows_per_batch": rows_per_batch,
            "max_files": max_files if compact else None,
            "n_compactions": n_compact,
            "files_at_end": files_end,
            "read_tail_mean_s": round(sum(tail) / len(tail), 4),
            "read_tail_max_s": round(max(tail), 4),
            "read_first10_mean_s": round(sum(reads[1:11]) / 10, 4),
        }))
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=COPIES,
                    help="sf0.1 multiples to materialize (10 => ~sf1)")
    ap.add_argument("--out", default=None)
    ap.add_argument("--near-dup-docs", action="store_true",
                    help="perturb each document copy so it survives exact "
                         "dedup and exercises the LSH wave")
    ap.add_argument("--boilerplate-frac", type=float, default=0.0,
                    help="fraction of docs given one shared long preamble "
                         "(mega-bucket stress for max_bucket_size)")
    ap.add_argument("--lsh", action="store_true",
                    help="skip the build; run the timed LSH wave against "
                         "--out and print a JSON row")
    ap.add_argument("--max-bucket-size", type=int, default=None)
    ap.add_argument("--semdedup", action="store_true",
                    help="skip the build; run the degenerate single-"
                         "cluster SemDeDup stress against --out")
    ap.add_argument("--max-cluster-size", type=int, default=65536)
    ap.add_argument("--no-cluster-cap", action="store_true",
                    help="run --semdedup UNCAPPED (the |cluster|^2 "
                         "single-task contrast row; use --limit)")
    ap.add_argument("--limit", type=int, default=None,
                    help="row cap for --semdedup runs")
    ap.add_argument("--index-cadence", action="store_true",
                    help="run the 200-micro-batch streaming-index "
                         "read-latency experiment (with compaction)")
    ap.add_argument("--no-compaction", action="store_true",
                    help="with --index-cadence: disable compact_index "
                         "(the contrast row)")
    ap.add_argument("--batches", type=int, default=200)
    args = ap.parse_args()
    if args.index_cadence:
        index_cadence_run(not args.no_compaction, n_batches=args.batches)
        return
    out = args.out or (OUT_DIR if args.copies == COPIES
                       else f"/tmp/opdspark_sf{args.copies / 10:g}")
    if args.lsh:
        lsh_run(out, args.max_bucket_size)
    elif args.semdedup:
        semdedup_run(out,
                     None if args.no_cluster_cap else args.max_cluster_size,
                     args.limit)
    else:
        build(out, args.copies, args.near_dup_docs, args.boilerplate_frac)


if __name__ == "__main__":
    main()
