"""Join-key discovery over a lake of candidate key columns — which
columns join which (data-lake joinability search, à la Joinable Search
over Multi-Source Datasets, ICDE'25). No reference analog (the reference
is single-table; SURVEY §2.3 stops at Table.merge auto-key inference) —
this is the warehouse-scale generalization of its ID-key sniffing.

Two physical strategies with one logical contract:

- `exact_containment` — every column's distinct values union into a
  tall (src, val) frame; pair intersections come from ONE self-join on
  the value; per-column cardinalities broadcast back. Exact counts, but
  the self-join shuffles every distinct value — right for frames whose
  distinct counts fit comfortably in a shuffle (dimension keys, small
  fact samples).
- `sketch_containment` — bottom-k value-set signatures per column
  (`sketch.bottomk_signature` semantics, portable md5lower64 hash), then
  pairwise Jaccard ESTIMATES from the k-long signatures alone. Each
  table is read once; per-column state is k longs; nothing proportional
  to the data ever shuffles. The only strategy that survives 100 TB.

`join_key_discovery` routes between them: a one-scan-per-table
`approx_count_distinct` probe (HyperLogLog++, map-side partial) checks
every candidate column, and ANY estimate above `exact_max_distinct`
sends the whole discovery to the sketch path — a single oversized
column is enough to make the exact self-join the job's bottleneck.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# (column_id, frame, column_name) triples
ColumnSpec = tuple[str, DataFrame, str]


def _tall_distinct(columns: Sequence[ColumnSpec], value_expr,
                   name: str = "val") -> DataFrame:
    frames = [
        df.select(F.lit(cid).alias("src"), value_expr(F.col(col)).alias(
            name)).distinct()
        for cid, df, col in columns
    ]
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


def exact_containment(columns: Sequence[ColumnSpec]) -> DataFrame:
    """Exact pairwise value-set containment |A∩B|/|A| for every column
    pair with any overlap. Output: (src_a, src_b, n_a, n_b, n_common,
    containment_a, containment_b); PK→FK pairs rank at 1.0."""
    vals = _tall_distinct(columns, lambda c: c.cast("long"))
    card = vals.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    a, b = vals.alias("a"), vals.alias("b")
    inter = (
        a.join(b, on=[F.col("a.val") == F.col("b.val"),
                      F.col("a.src") < F.col("b.src")])
        .groupBy(F.col("a.src").alias("src_a"),
                 F.col("b.src").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(F.broadcast(card.withColumnRenamed("src", "src_a")
                               .withColumnRenamed("n", "n_a")), on="src_a")
        .join(F.broadcast(card.withColumnRenamed("src", "src_b")
                          .withColumnRenamed("n", "n_b")), on="src_b")
        .select(
            "src_a", "src_b", "n_a", "n_b", "n_common",
            F.round(F.col("n_common") / F.col("n_a").cast("double"), 6)
            .alias("containment_a"),
            F.round(F.col("n_common") / F.col("n_b").cast("double"), 6)
            .alias("containment_b"),
        )
    )


def sketch_containment(columns: Sequence[ColumnSpec],
                       k: int = 128) -> DataFrame:
    """Pairwise Jaccard ESTIMATES from bottom-k signatures: per column,
    the k smallest portable hashes of the distinct values; per pair, the
    union bottom-k and the |∩|/min(k,|u|) estimator. Deterministic
    integer/float arithmetic an external SQL oracle replays exactly
    (q123 pins it). Output: (src_a, src_b, u_size, shared,
    est_jaccard).

    The call itself runs Spark jobs: the signature is bound with
    ``localCheckpoint(eager=False)``, and under AQE planning that binding
    runs the shuffle stages below it (the distinct and the per-column
    window sort), before any action on the result."""
    from openpolicedata_spark.functions.text import md5lower64_expr

    vals = _tall_distinct(
        columns,
        lambda c: F.pmod(
            md5lower64_expr(F.concat(F.lit("0:"),
                                     c.cast("long").cast("string"))),
            F.lit(1 << 62)),
        name="h",
    )
    # NULL keys hash to NULL: Spark window-sorts nulls FIRST, DuckDB
    # ROW_NUMBER sorts them LAST — drop them identically on both sides
    vals = vals.where(F.col("h").isNotNull())
    w = Window.partitionBy("src").orderBy(F.asc("h"))
    sig = (vals.withColumn("rn", F.row_number().over(w))
           .where(F.col("rn") <= k)).localCheckpoint(eager=False)
    pairs = (sig.select(F.col("src").alias("src_a")).distinct()
             .join(sig.select(F.col("src").alias("src_b")).distinct(),
                   F.col("src_a") < F.col("src_b")))
    u = (pairs.join(sig.select("src", "h"),
                    (F.col("src") == F.col("src_a"))
                    | (F.col("src") == F.col("src_b")))
         .select("src_a", "src_b", "h").distinct())
    wu = Window.partitionBy("src_a", "src_b").orderBy(F.asc("h"))
    ub = u.withColumn("urn", F.row_number().over(wu)).where(
        F.col("urn") <= k)
    ina = sig.select(F.col("src").alias("src_a"), F.col("h").alias("h"),
                     F.lit(1).alias("__ina__"))
    inb = sig.select(F.col("src").alias("src_b"), F.col("h").alias("h"),
                     F.lit(1).alias("__inb__"))
    marked = (ub.join(ina, on=["src_a", "h"], how="left")
              .join(inb, on=["src_b", "h"], how="left"))
    return (
        marked.groupBy("src_a", "src_b")
        .agg(
            F.max("urn").alias("u_size"),
            F.sum(F.when(F.col("__ina__").isNotNull()
                         & F.col("__inb__").isNotNull(), 1).otherwise(0))
            .alias("shared"),
        )
        .select(
            "src_a", "src_b", "u_size", "shared",
            F.round(F.col("shared")
                    / F.least(F.lit(k), F.col("u_size")).cast("double"), 6)
            .alias("est_jaccard"),
        )
    )


def probe_distinct_counts(columns: Sequence[ColumnSpec],
                          rsd: float = 0.05) -> dict[str, int]:
    """One column-pruned scan per TABLE (not per column): every candidate
    column's approx_count_distinct (HLL++, map-side partial) in a single
    agg over that table. Returns {column_id: estimate}."""
    by_frame: dict[int, tuple[DataFrame, list[tuple[str, str]]]] = {}
    for cid, df, col in columns:
        by_frame.setdefault(id(df), (df, []))[1].append((cid, col))
    out: dict[str, int] = {}
    for df, cols in by_frame.values():
        row = df.agg(*[
            F.approx_count_distinct(col, rsd).alias(cid)
            for cid, col in cols
        ]).first()
        for cid, _col in cols:
            out[cid] = int(row[cid])
    return out


def join_key_discovery(
    columns: Sequence[ColumnSpec],
    mode: str = "auto",
    exact_max_distinct: int = 2_000_000,
    k: int = 128,
) -> DataFrame:
    """Containment/joinability ranking for every candidate-column pair,
    size-routed: `mode='auto'` probes each column's approximate distinct
    count and takes the exact self-join form only when EVERY column fits
    under `exact_max_distinct`; one oversized column routes the whole
    discovery to the k-bounded sketch. `mode='exact'` / `mode='sketch'`
    force a path (the workload's q122/q123 pin each against its own
    oracle). The two paths rank pairs identically; exact additionally
    reports true containment directions. The sketch path runs its
    signature's shuffle stages at call time (`sketch_containment`), and
    `mode='auto'` runs the distinct-count probe (one job per table)."""
    if mode == "exact":
        return exact_containment(columns)
    if mode == "sketch":
        return sketch_containment(columns, k=k)
    if mode != "auto":
        raise ValueError(f"unknown mode {mode!r}")
    counts = probe_distinct_counts(columns)
    if max(counts.values(), default=0) > exact_max_distinct:
        return sketch_containment(columns, k=k)
    return exact_containment(columns)
