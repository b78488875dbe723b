"""Scale techniques: bucketed co-located joins and skew salting.

SURVEY.md §4 maps the reference's hand-coded optimizations onto Catalyst;
these helpers cover the two levers Catalyst does NOT apply automatically:

- **Bucketing**: a join between two tables bucketed on the join key by the
  same bucket count needs NO exchange — at 100 TB this turns the nightly
  "join incidents to subjects" from a multi-TB shuffle into a local merge.
  (`df.write.bucketBy` + saveAsTable; asserted shuffle-free in tests.)
- **Salting**: when one key dominates (one agency = half the data), a
  shuffle sends that key to one task. Salted aggregation computes partial
  aggregates on (key, salt) then merges; salted broadcast-join replicates
  the small side per salt. AQE's skew-join handles *sort-merge* skew at
  runtime; salting is the explicit tool for aggregations and for forcing
  balanced parallelism.
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# bucketing
# ---------------------------------------------------------------------------

def write_bucketed(df: DataFrame, table: str, key: str | Sequence[str],
                   buckets: int = 32, sort: bool = True,
                   mode: str = "overwrite") -> None:
    """Persist as a bucketed (and bucket-sorted) managed table. Joins and
    aggregations on `key` against tables bucketed the same way require no
    exchange; sorting inside buckets additionally removes the Sort below a
    sort-merge join."""
    keys = [key] if isinstance(key, str) else list(key)
    w = df.write.mode(mode).bucketBy(buckets, *keys)
    if sort:
        w = w.sortBy(*keys)
    w.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


# ---------------------------------------------------------------------------
# salting
# ---------------------------------------------------------------------------

def with_salt(df: DataFrame, n_salts: int = 16,
              salt_col: str = "__salt__") -> DataFrame:
    """Uniform random salt in [0, n_salts). Deterministic per task attempt
    (Spark seeds rand per partition), used only as a shuffle-spreading key."""
    return df.withColumn(salt_col, (F.rand(seed=42) * n_salts).cast("int"))


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, Column],
    merges: dict[str, Callable[[Column], Column]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage aggregation for skewed keys.

    Stage 1 groups on (keys, salt) — the hot key spreads over `n_salts`
    tasks; stage 2 merges the partials. `aggs` computes the partial
    (e.g. ``F.sum("x")``), `merges` re-aggregates it (e.g. ``F.sum``).
    Counts merge with sum; min/max are idempotent. Averages must be
    decomposed as sum+count by the caller.
    """
    partial = (
        with_salt(df, n_salts)
        .groupBy(*keys, "__salt__")
        .agg(*[a.alias(name) for name, a in aggs.items()])
    )
    return partial.groupBy(*keys).agg(
        *[merges[name](F.col(name)).alias(name) for name in aggs]
    )


def salted_broadcast_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof join: salt the big side, replicate the (broadcast) small
    side once per salt, join on (key, salt). The hot key's rows land in
    `n_salts` different tasks instead of one.

    Only inner/left semantics are salt-safe: in a right/full outer join
    an unmatched small-side key survives once PER SALT COPY (n_salts
    null-extended duplicates), so those modes are rejected."""
    if how not in ("inner", "left", "left_outer", "leftouter", "left_semi",
                   "leftsemi", "left_anti", "leftanti"):
        raise ValueError(
            f"salted_broadcast_join cannot run how={how!r}: the small "
            "side is replicated n_salts times, so right/full-outer "
            "semantics would emit one duplicate per salt for unmatched "
            "small-side keys")
    salted_big = with_salt(big, n_salts)
    exploded_small = small.withColumn(
        "__salt__", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = salted_big.join(F.broadcast(exploded_small), on=[on, "__salt__"], how=how)
    return out.drop("__salt__")


def bucketed_interval_join(
    facts: DataFrame,
    intervals: DataFrame,
    key: str,
    ts_col: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    bucket_seconds: int = 1800,
    how: str = "inner",
    suffix: str = "_interval",
) -> DataFrame:
    """Range (interval-containment) join that scales: match each fact row
    to every interval of the same key with `start <= ts < end`.

    Spark's native plan for `f.key = i.key AND f.ts >= i.start AND
    f.ts < i.end` is a sort-merge join on the key alone with the range as
    a post-join filter — per-key quadratic when keys have many rows (and
    without an equi-key it degrades to BroadcastNestedLoop). Standard fix
    (the Databricks "bin the range join" trick): quantize time into
    fixed-width buckets, explode each interval into the buckets it covers,
    and equi-join on (key, bucket) before applying the exact predicate.
    Cost: one shuffle each side on (key, bucket); interval replication is
    ceil(span/bucket)+1 rows — pick `bucket_seconds` ≈ median interval
    span.

    Fact rows matching k intervals emit k rows (true join semantics);
    `how='left_outer'` keeps unmatched facts with null interval columns.
    """
    def to_bucket(c: str) -> Column:
        return F.floor(F.unix_timestamp(F.col(c)) / bucket_seconds)

    # explicit aliases: facts and intervals often derive from the SAME
    # source table, and dataset-id disambiguation of f[key] == i[key] is
    # fragile for self-joins
    i = intervals.withColumn(
        "__bucket__",
        F.explode(F.sequence(to_bucket(start_col), to_bucket(end_col))),
    ).alias("__i__")
    f = facts.withColumn("__bucket__", to_bucket(ts_col)).alias("__f__")
    fc = lambda c: F.col(f"__f__.{c}")  # noqa: E731
    ic = lambda c: F.col(f"__i__.{c}")  # noqa: E731
    cond = ((fc(key) == ic(key))
            & (fc("__bucket__") == ic("__bucket__"))
            & (fc(ts_col) >= ic(start_col)) & (fc(ts_col) < ic(end_col)))
    # interval columns colliding with fact columns get `suffix` — both
    # sides often derive from the same table, and duplicate output names
    # make every downstream reference ambiguous
    fact_cols = set(facts.columns)
    out_cols = ([fc(c) for c in facts.columns]
                + [ic(c).alias(c + suffix) if c in fact_cols else ic(c)
                   for c in intervals.columns if c != key])
    return f.join(i, cond, how).select(*out_cols)


def radius_join(
    left: DataFrame,
    right: DataFrame,
    radius_km: float,
    lon_col: str = "lon",
    lat_col: str = "lat",
    how: str = "inner",
    suffix: str = "_r",
) -> DataFrame:
    """Spatial radius join that scales: pair every left row with every
    right row whose point lies within `radius_km` great-circle km.

    The naive plan is a cross join + haversine filter — O(|L|*|R|) and a
    BroadcastNestedLoop at any real size. Same cure as the interval join
    above: bucket space into a fixed grid of `radius_km`-sized cells
    (functions/geo.grid-cell pattern), explode the RIGHT side into the
    neighbor cells that could contain a match, equi-join on the cell id,
    then verify the exact haversine distance. One shuffle per side on
    small integer cell keys; no nested loop.

    Replication math: latitude cells are constant-width, so dy ∈ {-1,0,1}
    always suffices when the cell edge equals the radius in degrees.
    Longitude degrees shrink by cos(lat), so the per-row lon fan-out is
    ceil(1/cos(lat_safe)) cells each way — 3x3 near the equator, wider
    near the poles (rows at |lat| > 89.9 - radius fall back to a wide but
    finite fan-out via the cos floor). Put the SMALLER relation on the
    right: it carries the ~9x explosion.

    Antimeridian wrap (lon ±180 adjacency) is handled: right rows whose
    fan-out reaches the seam get one extra copy shifted ±360°, and the
    exact verify requires the raw lon delta to the *stored* (possibly
    shifted) copy to lie in (-180, 180] — haversine is 360°-periodic, so
    the distance is unchanged, and the half-open band guarantees each
    in-radius pair matches through exactly one copy (no double rows).

    Output: all left columns, right columns (colliding names get
    `suffix`), plus `distance_km`. `how` ∈ inner/left_outer — left_outer
    keeps unmatched left rows with null right columns.
    """
    from ..functions.geo import haversine_km_expr

    cell_deg = radius_km / 111.0  # ≥ true degrees/km on the sphere: safe
    radius_deg = cell_deg

    def cx(lon):
        return F.floor(lon / F.lit(cell_deg)).cast("long")

    def cy(lat):
        return F.floor(lat / F.lit(cell_deg)).cast("long")

    l_ = (left.withColumn("__cx__", cx(F.col(lon_col)))
              .withColumn("__cy__", cy(F.col(lat_col))).alias("__l__"))

    # lon fan-out: enough cells to cover radius_km at this row's latitude
    # (take the latitude nearest the pole reachable within the radius)
    lat_safe = F.least(F.abs(F.col(lat_col)) + F.lit(radius_deg), F.lit(89.9))
    cos_safe = F.greatest(F.cos(F.radians(lat_safe)), F.lit(1e-4))
    # cap at the globe's width in cells: past that the extra cells are
    # empty by construction (lon ∈ [-180, 180)), only join-input bloat
    n_cap = F.lit(int(-(-180.0 // cell_deg)))
    n_lon = F.least(F.ceil(F.lit(1.0) / cos_safe), n_cap).cast("int")
    # antimeridian copies: a row whose lon fan-out crosses ±180 also
    # joins from the far side, stored at lon ± 360 (same physical point)
    reach_deg = (n_lon.cast("double") + 1) * F.lit(cell_deg)
    shifts = F.array_compact(F.array(
        F.lit(0.0),
        F.when(F.col(lon_col) + reach_deg > 180.0, F.lit(-360.0)),
        F.when(F.col(lon_col) - reach_deg < -180.0, F.lit(360.0))))
    r_ = (right
          .withColumn("__shift__", F.explode(shifts))
          .withColumn("__lon__", F.col(lon_col) + F.col("__shift__"))
          .withColumn("__dx__", F.explode(F.sequence(-n_lon, n_lon)))
          .withColumn("__dy__", F.explode(F.sequence(F.lit(-1), F.lit(1))))
          .withColumn("__cx__", cx(F.col("__lon__")) + F.col("__dx__"))
          .withColumn("__cy__", cy(F.col(lat_col)) + F.col("__dy__"))
          .drop("__dx__", "__dy__", "__shift__").alias("__r__"))

    lc = lambda c: F.col(f"__l__.{c}")  # noqa: E731
    rc = lambda c: F.col(f"__r__.{c}")  # noqa: E731
    dist = haversine_km_expr(lc(lon_col), lc(lat_col),
                             rc("__lon__"), rc(lat_col))
    dlon = lc(lon_col) - rc("__lon__")
    cond = ((lc("__cx__") == rc("__cx__")) & (lc("__cy__") == rc("__cy__"))
            & (dlon > F.lit(-180.0)) & (dlon <= F.lit(180.0))
            & (dist <= F.lit(float(radius_km))))
    left_cols = set(left.columns)
    out = ([lc(c) for c in left.columns]
           + [rc(c).alias(c + suffix) if c in left_cols else rc(c)
              for c in right.columns]
           + [dist.alias("distance_km")])
    return l_.join(r_, cond, how).select(*out)


# ---------------------------------------------------------------------------
# file-layout optimization (write-side clustering)
# ---------------------------------------------------------------------------

def range_cluster_layout(df: DataFrame, cols: Sequence[str],
                         num_files: Optional[int] = None) -> DataFrame:
    """Cluster rows so each output file covers a narrow, nearly disjoint
    range of `cols` — the write-side half of predicate pushdown. Parquet
    stores per-file / per-row-group min-max stats; a scan with a filter on
    `cols` skips every file whose range misses the predicate, but ONLY if
    the writer clustered the data. At 100 TB this is the difference
    between reading 3 files and reading 30,000 for a one-day query.

    repartitionByRange samples the keys to build balanced range bounds
    (one shuffle), sortWithinPartitions orders rows inside each file so
    row-group stats (default 128 MB groups) are selective too. Skewed
    keys are fine: the range sampler splits heavy keys across files.
    """
    n = num_files or df.sparkSession.sparkContext.defaultParallelism
    cs = [F.col(c) for c in cols]
    return df.repartitionByRange(n, *cs).sortWithinPartitions(*cs)


def zorder_key_expr(x: Column, y: Column, bits: int = 16) -> Column:
    """Interleave the low `bits` bits of two non-negative ints into one
    Morton (Z-order) key: z = ...y1x1y0x0. Locality in z implies locality
    in BOTH x and y, so range-clustering by z gives every file a bounded
    extent in each dimension — multi-column data skipping from a single
    sort key. Static expression tree (2·bits shift/mask/or terms), fully
    codegen — no interpreted higher-order lambdas (CLAUDE.md gotcha).
    """
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)),
                                 2 * i))
        terms.append(F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)),
                                 2 * i + 1))
    out = terms[0]
    for t in terms[1:]:
        out = out.bitwiseOR(t)
    return out


def zorder_layout(df: DataFrame, col_x: str, col_y: str, bits: int = 16,
                  num_files: Optional[int] = None) -> DataFrame:
    """Two-dimensional layout optimization: rank-free normalization of
    both columns onto a [0, 2^bits) integer grid via width_bucket against
    the observed min/max (one tiny planning aggregate — collected on the
    driver like any range-partitioner bound), then Morton-interleave and
    range-cluster by the z key. Queries filtering on EITHER column skip
    most files; the single-column sort (`range_cluster_layout`) only
    helps its leading column.

    Uniform-width buckets keep the expression codegen-only; heavily
    skewed columns trade some balance for that (the range partitioner on
    z restores file-size balance regardless).
    """
    row = df.select(
        F.min(col_x), F.max(col_x), F.min(col_y), F.max(col_y)
    ).first()
    if row is None or row[0] is None or row[2] is None:
        return df  # empty (or all-null) input: nothing to lay out
    lo_x, hi_x, lo_y, hi_y = row
    if lo_x == hi_x and lo_y == hi_y:
        return df  # both columns constant: every z key identical
    if lo_x == hi_x or lo_y == hi_y:
        # one constant dimension: width_bucket(lo==hi) yields NULL z keys
        # everywhere, silently collapsing the layout to one range — fall
        # back to single-column range clustering on the varying column.
        return range_cluster_layout(
            df, [col_x if lo_x != hi_x else col_y], num_files=num_files)
    n_cells = 1 << bits
    bx = (F.width_bucket(F.col(col_x), F.lit(lo_x), F.lit(hi_x),
                         F.lit(n_cells - 1)) - 1).cast("long")
    by = (F.width_bucket(F.col(col_y), F.lit(lo_y), F.lit(hi_y),
                         F.lit(n_cells - 1)) - 1).cast("long")
    n = num_files or df.sparkSession.sparkContext.defaultParallelism
    z = zorder_key_expr(bx, by, bits)
    return (
        df.withColumn("__z__", z)
        .repartitionByRange(n, F.col("__z__"))
        .sortWithinPartitions("__z__")
        .drop("__z__")
    )


def compact_parquet_dir(spark: SparkSession, path: str,
                        target_mb: int = 128) -> tuple[int, int]:
    """Small-file maintenance for append-mode sinks: streaming writers
    (`near_dedup_sink`, micro-batch appends) accumulate one file per
    batch, and a 100 TB table of kilobyte files dies on open() overhead
    and footer reads long before it dies on data volume. Rewrites the
    directory to ≈`target_mb` files via `coalesce` (NARROW — no shuffle;
    compaction only needs fewer files, not a new distribution) and swaps
    it in with `publish.swap` (crash recovery included: an interrupted
    compaction leaves either the old or the new directory, never
    neither).

    Returns (files_before, files_after). Run it out-of-band on sink
    output directories — the same cadence a lakehouse's OPTIMIZE job
    runs. Concurrent-append guard: the staged copy reads an explicit
    file SNAPSHOT, and the swap is skipped (tmp discarded, input
    untouched) if the directory changed while staging — a sink that
    appended mid-compaction loses nothing; only the tiny final
    check-to-swap window remains unguarded (serialize compaction with
    the sink for hard guarantees). Partitioned layouts (nested
    part dirs) are refused rather than silently skipped."""
    import glob as _glob
    import math
    import os
    import shutil

    from openpolicedata_spark.publish import (
        aside_of,
        fresh_stage,
        recover,
        swap,
    )

    recover(path, aside_of(path))
    files = sorted(_glob.glob(os.path.join(path, "*.parquet")))
    nested = _glob.glob(os.path.join(path, "*", "*.parquet"))
    if nested:
        raise ValueError(
            f"{path} is a partitioned layout ({len(nested)} nested files) "
            "— compact each partition directory individually")
    if not files:
        return (0, 0)
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    if n_out >= len(files):
        return (len(files), len(files))  # already compact enough
    df = spark.read.parquet(*files)     # explicit snapshot, not the dir
    tmp = fresh_stage(path, "compact")
    df.coalesce(n_out).write.mode("overwrite").parquet(tmp)
    if sorted(_glob.glob(os.path.join(path, "*.parquet"))) != files:
        shutil.rmtree(tmp)              # sink appended meanwhile: abort
        return (len(files), len(files))
    swap(tmp, path, aside_of(path))
    return (len(files),
            len(_glob.glob(os.path.join(path, "*.parquet"))))


def profile_columns(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """One-pass data profiling — the scan a pipeline runs before join
    discovery / quality triage on an unfamiliar table (round 9): per
    column, row count, null count, EXACT distinct count, bytewise
    min/max, and the top value with a deterministic tiebreak
    (highest count, then smallest value; NULL never wins top).

    Shape: ONE scan feeds an explode-of-structs unpivot (a single
    Generate node — see the inline comment for why `stack` was
    abandoned) to (col_name, value) rows — every value stringified,
    so heterogeneous column types share one shuffle — then two keyed
    aggregations: (col, value)
    counts (map-side combined; this is also where exact distinct
    becomes a plain COUNT) and the per-column rollup whose top-value
    pick is a `min_by` over the (-count, value) struct key. At 100 TB
    the wire carries (col, value, count) partial aggregates, never
    raw rows twice, and the output is `len(cols)` rows. Stringifying
    integers is exact; floats/timestamps profile on their string
    forms (documented — cast upstream if a numeric min/max is
    needed)."""
    if len(cols) == 0:
        raise ValueError("profile_columns needs at least one column")
    if len(set(cols)) != len(cols):
        # both structs of a repeated name share one col_name group, so
        # n_rows/n_nulls/top_count would silently DOUBLE (ADVICE r9)
        dupes = sorted({c for c in cols if cols.count(c) > 1})
        raise ValueError(f"profile_columns: duplicate column names {dupes}")
    # explode-of-structs rather than a stack() SQL string (review r9):
    # interpolating raw column names into selectExpr broke on exactly
    # the header shapes the CSV/Excel/portal loaders emit — spaces,
    # dots, quotes, reserved words. A backtick-quoted F.col resolves
    # ANY name literally (dots included — bare df[c] still parses '.'
    # as struct nesting) and F.lit(c) needs no escaping; the plan is
    # the same single scan + Generate.
    kv = F.array(*[
        F.struct(F.lit(c).alias("col_name"),
                 F.col("`" + c.replace("`", "``") + "`")
                 .cast("string").alias("value"))
        for c in cols])
    melted = (df.select(F.explode(kv).alias("__kv__"))
              .select("__kv__.col_name", "__kv__.value"))
    counts = melted.groupBy("col_name", "value").agg(
        F.count(F.lit(1)).alias("cnt"))
    nn = F.col("value").isNotNull()
    top_key = F.when(nn, F.struct((-F.col("cnt")).alias("nc"),
                                  F.col("value").alias("v")))
    return counts.groupBy("col_name").agg(
        F.sum("cnt").alias("n_rows"),
        F.sum(F.when(nn, F.lit(0)).otherwise(F.col("cnt")))
        .alias("n_nulls"),
        F.count(F.when(nn, F.lit(1))).alias("n_distinct"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.min_by("value", top_key).alias("top_value"),
        F.max(F.when(nn, F.col("cnt"))).alias("top_count"),
    )
