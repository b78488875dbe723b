"""Deduplication operators for large-scale text pipelines (beyond the
reference; BASELINE.json north star). All designed shuffle-light for 100 TB:

- exact_dedup      : group on a 16-byte md5 digest, not the document text —
                     the shuffle carries the digest + doc_id only.
- minhash_lsh_dup_pairs : tokenize (JVM) → one Arrow pass for shingle set +
                     minhash signature → band → bucket → candidate pairs →
                     exact Jaccard verify. The classic MinHash+LSH pipeline;
                     the only wide ops are the bucket groupBy and the verify
                     join, both fed from one materialized projection.
- simhash_expr     : 64-bit SimHash fingerprint per document.
- ngram_jaccard_pairs : exact Jaccard on character n-grams for given pairs.
- embedding_dup_pairs : near-dup by embedding cosine over LSH buckets.
- dedup_cascade    : exact → MinHash-LSH → connected components, one row
                     per input id with keep/drop attribution.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from openpolicedata_spark.functions.text import (
    char_ngrams_expr,
    fingerprint_md5_expr,
    md5lower64_expr,
    norm_tokens_expr,
    normalize_text_expr,
    tokens_expr,
)


def _token_hash_expr(tok: Column, token_hash: str) -> Column:
    """Per-token 64-bit hash. `xxhash64` (default) is JVM-native and
    fastest; `md5lower64` is engine-portable (DuckDB `md5_number_lower`)
    so an external oracle can replay the whole signature pipeline."""
    if token_hash == "xxhash64":
        return F.xxhash64(tok)
    if token_hash == "md5lower64":
        return md5lower64_expr(tok)
    raise ValueError(f"unknown token_hash {token_hash!r}")

# Universal-hash family h_i(x) = (a_i*x + b_i) mod p with p = 2^31-1 (prime):
# keeps every intermediate product under 2^62, safe for ANSI long arithmetic.
_MERSENNE_31 = (1 << 31) - 1


def check_banding(num_hashes: int, bands: int) -> int:
    """Validate the LSH banding config and return rows_per_band.

    bands > num_hashes would make rows_per_band 0 — every band slice is
    the empty array, every doc hashes into ONE bucket, and the pair
    explosion goes quadratic in the corpus (in the streaming sink it
    instead silently drops every doc after the first batch as a
     'duplicate'). A non-divisor silently ignores the trailing hashes.
    Both are config bugs worth an error, not a degraded run."""
    if bands < 1 or bands > num_hashes:
        raise ValueError(f"bands must be in [1, num_hashes]; got bands="
                         f"{bands}, num_hashes={num_hashes}")
    if num_hashes % bands:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}) — "
            f"otherwise {num_hashes % bands} signature hashes are "
            "silently unused")
    return num_hashes // bands


def band_hash_col(minhash: Column, bands: int, rows_per_band: int) -> Column:
    """(band_id, band_hash) pairs for LSH banding: xxhash64 of each
    rows_per_band slice of the signature. Shared by the batch LSH pair
    generator and the streaming near-dedup sink so live and backfill
    can never disagree on what collides."""
    return F.posexplode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.xxhash64(
                F.slice(minhash, b * rows_per_band + 1, rows_per_band)),
        )
    )


def bucket_pairs(buckets: DataFrame, list_col: str, make_pair) -> DataFrame:
    """All i<j pairs within each bucket's sorted list: the shared
    explosion behind every blocked near-dup operator (minhash, simhash,
    edit-distance, image ahash). `make_pair(x, y)` builds the output
    struct from two list elements; its fields become the columns.
    Buckets are capped upstream (`max_bucket_size`), so the interpreted
    higher-order lambdas stay off the critical path."""
    ms = F.col(list_col)
    return (
        buckets.select(
            F.explode(
                F.flatten(F.transform(
                    ms,
                    lambda x, i: F.transform(
                        F.slice(ms, i + F.lit(2), F.size(ms)),
                        lambda y: make_pair(x, y),
                    ),
                ))
            ).alias("p")
        )
        .select("p.*")
        .distinct()
    )


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep one row (min id) per distinct normalized text, as a single
    min_by aggregation on the md5 digest. The partial (map-side) aggregate
    collapses duplicates BEFORE the shuffle — with duplication rate d the
    wire carries ~unique rows, not all rows; one stage, one shuffle.
    (Measured 2× faster than the groupBy + semi-join formulation at sf0.1,
    which shuffles the full rows through the join anyway under SMJ.)

    Assumes `id_col` is unique and non-null per row (true for doc_id in all
    our tables): min_by ignores null-id rows and keeps one arbitrary row on
    tied minimum ids, where the old semi-join formulation kept all ties.
    NULL text fingerprints as the empty string (all null/empty texts are
    one dup group), so no row can carry a NULL join key downstream."""
    return _exact_dedup_fp(df, text_col, id_col).drop("__fp__")


def _digest(text_col: str) -> Column:
    """The index key: md5 of the text, NULL text hashed as ''."""
    return fingerprint_md5_expr(F.coalesce(F.col(text_col), F.lit("")))


def _exact_dedup_fp(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """exact_dedup retaining the `__fp__` digest column — the single
    implementation of the min-id-wins contract (shared by the
    incremental variant so the semantics can never diverge)."""
    return _collapse_by_fp(df.withColumn("__fp__", _digest(text_col)),
                           df.columns, id_col)


def _collapse_by_fp(tagged: DataFrame, cols: list, id_col: str) -> DataFrame:
    """One min_by collapse per `__fp__` group (map-side combined)."""
    return (
        tagged.groupBy("__fp__")
        .agg(F.min_by(F.struct(*cols), F.col(id_col)).alias("__row__"))
        .select("__fp__", F.col("__row__.*"))
    )


def exact_dup_groups(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Duplicate-group summary: one row per text with >1 occurrence."""
    return (
        df.groupBy(fingerprint_md5_expr(F.col(text_col)).alias("fingerprint"))
        .agg(F.min(id_col).alias("keep_id"),
             F.count(F.lit(1)).alias("n_dups"))
        .where(F.col("n_dups") > 1)
    )


def _hash_coeffs(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, _MERSENNE_31), rng.randrange(0, _MERSENNE_31))
            for _ in range(num_hashes)]


def rebalance(df: DataFrame, parallelism: int | None = None) -> DataFrame:
    """Round-robin repartition before CPU-heavy map work. A small parquet
    file arrives as ONE input partition — without this, expression-heavy
    stages (minhash, simhash) run on a single core regardless of cluster
    size. At real scale the same call evens out skewed file sizes."""
    target = parallelism or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df


def _minhash_shingle_kernel(coeffs: list[tuple[int, int]], shingle_k: int):
    """Vectorized (Arrow/numpy) shingling + minhash over per-token hashes,
    as a mapInArrow batch function over (id, token-hash array) batches.

    Input column 1: one array<long> of xxhash64 token hashes per document.
    The kernel rolls a window of `shingle_k` token hashes into one 64-bit
    shingle hash (odd-multiplier polynomial, bijective per position mod
    2^64, then a splitmix64-style avalanche), dedups with np.unique, and
    takes the `num_hashes` universal-hash minima — all in a handful of
    numpy broadcasts per document.

    Why here and not Catalyst: higher-order `transform` lambdas execute
    interpreted (no codegen, no CSE), so per-shingle `slice`+`concat_ws`+
    `xxhash64` costs O(k) string work per shingle (~3.5 s for 10k docs at
    sf0.1), and the per-hash-function min costs another 64 interpreted
    passes. This kernel replaces both with vectorized integer math, and
    the Arrow transfer carries n_tokens longs instead of n_shingles
    strings.

    Why mapInArrow and not a pandas_udf (r13 session 4, guide §4.2): the
    pandas boundary materializes one python ndarray object per list CELL
    on input and re-infers each cell from a pandas object column on
    output; mapInArrow reads the list column as ONE values buffer + an
    offsets array (zero-copy numpy view) and writes the result the same
    way — identical per-doc math, measured 1.16–1.23× on q28 end-to-end
    at sf0.1 (interleaved min-of-5, twice).

    Output columns: id (passed through untouched), __sh__ (distinct
    shingle set → the exact-Jaccard verify), minhash (signature → LSH
    banding) — one pass, one materialization for both consumers."""
    A = np.array([c[0] for c in coeffs], dtype=np.int64)[:, None]
    B = np.array([c[1] for c in coeffs], dtype=np.int64)[:, None]
    H = A.shape[0]
    k = shingle_k

    # Shingle-less (tiny) docs get the all-sentinel signature instead of a
    # null + filter: ANY predicate on the signature column gets pushed below
    # the exchange and re-evaluates the kernel twice. Sentinel docs collide
    # only with each other and are dropped by the Jaccard verify (0/0 →
    # null similarity).
    sentinel = np.full(H, _MERSENNE_31, dtype=np.int64)
    empty = np.empty(0, dtype=np.int64)
    # odd constant → every power is odd → multiplication is a bijection
    # mod 2^64; numpy uint64 arithmetic wraps, which is exactly mod 2^64.
    P = np.uint64(0x9E3779B97F4A7C15)
    powers = P ** np.arange(k - 1, -1, -1, dtype=np.uint64)
    u30, u27, u31 = np.uint64(30), np.uint64(27), np.uint64(31)
    m1, m2 = np.uint64(0xBF58476D1CE4E5B9), np.uint64(0x94D049BB133111EB)
    uM = np.uint64(_MERSENNE_31)

    def kernel(batches):
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            ids = b.column(0)
            la = b.column(1)
            off = la.offsets.to_numpy()
            vals = la.values.to_numpy(zero_copy_only=False).view(np.uint64)
            # a NULL token array (NULL text) behaves like an empty one:
            # sentinel signature, empty shingle set (the pandas path
            # crashed the stage on NULL — kernel-level hardening, same
            # convention as _simhash_udf's round-9 fix)
            valid = (None if la.null_count == 0
                     else np.asarray(la.is_valid()))
            mh_flat = np.empty(n * H, dtype=np.int64)
            sh_parts = []
            sh_off = np.empty(n + 1, dtype=np.int32)
            sh_off[0] = 0
            for i in range(n):
                t = (vals[off[i]:off[i + 1]]
                     if valid is None or valid[i] else empty)
                n_sh = t.size - (k - 1)
                if n_sh <= 0:
                    sh_parts.append(empty)
                    sh_off[i + 1] = sh_off[i]
                    mh_flat[i * H:(i + 1) * H] = sentinel
                    continue
                acc = t[0:n_sh] * powers[0]
                for j in range(1, k):
                    acc = acc + t[j:j + n_sh] * powers[j]
                # splitmix64 finalizer: spreads the polynomial sums so the
                # later mod-p projection sees uniform bits.
                x = acc.copy()
                x ^= x >> u30
                x *= m1
                x ^= x >> u27
                x *= m2
                x ^= x >> u31
                uniq = np.unique(x)
                # universe [0, p): a < p < 2^31 and h' < p keep
                # a*h'+b < 2^62, no int64 overflow in the universal hashes.
                hv = (uniq % uM).astype(np.int64)
                sh_parts.append(uniq.view(np.int64))
                sh_off[i + 1] = sh_off[i] + uniq.size
                mh_flat[i * H:(i + 1) * H] = ((A * hv + B) % _MERSENNE_31).min(axis=1)
            sh_vals = (np.concatenate(sh_parts) if sh_parts
                       else np.empty(0, np.int64))
            sh_arr = pa.ListArray.from_arrays(
                pa.array(sh_off, type=pa.int32()), pa.array(sh_vals))
            mh_off = np.arange(0, (n + 1) * H, H, dtype=np.int32)
            mh_arr = pa.ListArray.from_arrays(
                pa.array(mh_off, type=pa.int32()), pa.array(mh_flat))
            yield pa.RecordBatch.from_arrays(
                [ids, sh_arr, mh_arr], names=["__id__", "__sh__", "minhash"])

    return kernel


def shingle_minhash(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", num_hashes: int = 64,
                    shingle_k: int = 5, seed: int = 42,
                    token_hash: str = "xxhash64") -> DataFrame:
    """One-pass shingle set + MinHash signature per document:
    (id, __sh__: sorted distinct shingle hashes, minhash: signature).

    Stage split (reference-free design; the reference has no dedup —
    BASELINE.json north star): tokenize + per-token xxhash64 stay JVM-side
    (one interpreted lambda over n_tokens — cheap integer work), then ONE
    Arrow round trip computes shingle rolling-hashes, the distinct shingle
    set, and the signature together (`_minhash_shingle_kernel`, a
    mapInArrow stage: the list columns cross the boundary as values+offsets
    buffers, not per-cell pandas objects). The token projection is
    materialized at the rebalance exchange, so the Python stage reads
    attributes instead of re-evaluating the tokenizer.

    Deterministic: output depends only on (text, num_hashes, k, seed)."""
    toked = rebalance(
        df.select(
            F.col(id_col),
            norm_tokens_expr(F.col(text_col)).alias("__toks__"),
        )
    )
    th = F.transform(F.col("__toks__"),
                     lambda t: _token_hash_expr(t, token_hash))
    thdf = toked.select(F.col(id_col), th.alias("__th__"))
    kernel = _minhash_shingle_kernel(_hash_coeffs(num_hashes, seed),
                                     shingle_k)
    id_dt = thdf.schema[id_col].dataType.simpleString()
    return (
        thdf.mapInArrow(
            kernel,
            f"__id__ {id_dt}, __sh__ array<bigint>, minhash array<bigint>")
        .withColumnRenamed("__id__", id_col)
    )


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 64,
                       shingle_k: int = 5, seed: int = 42) -> DataFrame:
    """Per-document MinHash signature (array<long>) — see shingle_minhash."""
    return shingle_minhash(df, text_col, id_col, num_hashes,
                           shingle_k, seed).select(id_col, "minhash")


def minhash_lsh_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.5,
    seed: int = 42,
    max_bucket_size: Optional[int] = None,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH.

    Plan shape (the thing that matters at 100 TB):
      1. map-side: tokenize → one Arrow pass for shingle set + signature
         (`shingle_minhash`), materialized ONCE    [narrow]
      2. explode signature into `bands` (band_id, band_hash) keys,
         groupBy bucket → collect_list(id)    [ONE shuffle on small keys]
      3. generate i<j pairs inside each bucket (narrow expression), distinct
      4. exact Jaccard verify on the pair's shingle sets, joined back to
         the SAME materialized projection
    Bucketing via collect_list instead of a band self-join evaluates the
    signature pipeline once, not once per join side — measured 8.8s → 3.2s
    cold at sf0.1 with identical output.

    The shingle+signature projection is localCheckpointed so the banding
    and verify branches share one computation instead of each
    recomputing the tokenize→UDF pipeline (measured: the projection costs
    ~3 s at sf0.1, reuse ~0.4 s). localCheckpoint stores MEMORY_AND_DISK on
    the executors; on a real cluster an executor loss forces a recompute
    from the start, so long multi-hour jobs should either accept that or
    set a reliable `spark.sparkContext.setCheckpointDir` and swap in
    `.checkpoint()` — for a dedup pass (minutes per wave) local is right.

    `max_bucket_size`: optional skew guard for real corpora — a bucket of B
    ids emits B(B-1)/2 pairs on one task, so one degenerate bucket (B~10^4
    boilerplate near-identical docs) can stall the stage; oversized buckets
    are dropped (run exact_dedup first so identical docs never form one).
    """
    rows_per_band = check_banding(num_hashes, bands)
    # ONE materialization feeds both the signature and verify branches.
    # (The columnar .persist() cache is NOT used: building the columnar
    # cache for array<long> columns measured 2.4× slower than recompute;
    # localCheckpoint stores serialized rows and avoids that build cost.)
    ms = shingle_minhash(df, text_col, id_col, num_hashes, shingle_k, seed,
                         token_hash=token_hash)
    ms = ms.localCheckpoint(eager=False)
    banded = ms.select(
        F.col(id_col),
        band_hash_col(F.col("minhash"), bands, rows_per_band)
        .alias("band_id", "band_hash"),
    )
    buckets = (
        banded.groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .where(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.where(F.size("ids") <= max_bucket_size)
    # all i<j pairs within a bucket; ids sorted → id_a < id_b by
    # construction (shared bucket_pairs helper).
    cand = bucket_pairs(
        buckets, "ids",
        lambda x, y: F.struct(x.alias("id_a"), y.alias("id_b")))
    # exact verify on HASHED shingles: intersect/union over longs, not
    # strings — cuts the verify-join shuffle to 8 bytes per shingle and the
    # comparison to integer equality (collision probability ~2^-64).
    # Melt form: pairs are exploded to (pair, member-id) rows and joined to
    # the materialized shingle projection ONCE, then regrouped per pair.
    # The two-join alternative evaluates the projection once per join side;
    # here only the candidates' shingle arrays shuffle through the pair
    # regroup — candidates ≪ corpus by construction. Measured 5.1s → 2.6s
    # cold, 1.9s → 1.6s warm at sf0.1 (pre-checkpoint numbers).
    # The melt is ONE explode(array(id_a, id_b)), not a unionByName of two
    # cand projections: cand is NOT materialized, so the union form
    # evaluated the whole banding→buckets→pairs→distinct subtree once per
    # branch (two identical Union arms, 2 extra Exchanges in the plan).
    # Same row multiset, single subtree — measured 1.08-1.11× on q28 at
    # sf0.1 (r13, interleaved min-of-5).
    sh = ms.select(F.col(id_col).alias("__sid__"), F.col("__sh__"))
    melted = (
        cand.select(
            "id_a", "id_b",
            F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("__sid__"))
        .join(sh, on="__sid__")
    )
    per_pair = melted.groupBy("id_a", "id_b").agg(
        F.max(F.when(F.col("__sid__") == F.col("id_a"),
                     F.col("__sh__"))).alias("sh_a"),
        F.max(F.when(F.col("__sid__") == F.col("id_b"),
                     F.col("__sh__"))).alias("sh_b"),
    )
    return (
        per_pair.withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_expr(text: Column, num_bits: int = 64) -> Column:
    """64-bit SimHash over word tokens: per-bit majority vote of token
    hashes, expression-only (aggregate over the token array). Prefer
    `simhash_signatures` for bulk use — its numpy vote kernel measured
    ~2× faster at sf0.1 (0.91 vs 1.94 s warm; was ~40× before round 9
    bound the hashed array below — the 64 interpreted aggregates still
    cost, but no longer re-tokenize)."""
    toks = F.array_distinct(
        F.filter(F.split(normalize_text_expr(text), " "), lambda t: t != "")
    )
    hashed = F.transform(toks, lambda t: F.xxhash64(t))
    # bind the hashed array ONCE as a lambda variable: the 64 per-bit
    # aggregates below each reference their input, and interpreted HOF
    # evaluation re-runs referenced outer expressions per reference —
    # unbound, the normalize+split+xxhash chain executed num_bits
    # times per row (the round-9 CLAUDE.md HOF rule; values identical)
    return F.get(
        F.transform(F.array(hashed),
                    lambda h: _simhash_from_hashed(h, num_bits)), 0)


def _simhash_from_hashed(hashed: Column, num_bits: int = 64) -> Column:
    zero = F.lit(0).cast("long")
    total = zero
    for i in range(num_bits):
        # sum of +1/-1 votes for bit i
        vote = F.aggregate(
            hashed,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        # shiftleft + bitwise OR: a literal 1<<63 would overflow a long
        bit = F.when(vote > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(zero)
        total = total.bitwiseOR(bit)
    return total


def _simhash_udf(num_bits: int = 64):
    """Vectorized per-bit majority vote (same contract as
    `_simhash_from_hashed`, which runs interpreted per element).

    Batch-vectorized (r13 session 4): ONE (total_tokens, num_bits) bit
    expansion over the whole Arrow batch + a single np.add.reduceat per
    document segment replaces the per-doc python loop — np.add.reduceat
    has a real fast path (unlike the minimum.reduceat that sank the
    analogous minhash attempt, r13 session 1). Values bit-identical
    (pinned by the expr==UDF equivalence test); 1.04–1.07× on the
    signature stage at sf0.1, strictly less per-task Python overhead."""
    from pyspark.sql.functions import pandas_udf

    shifts = np.arange(num_bits, dtype=np.uint64)
    powers = np.uint64(1) << shifts

    @pandas_udf("long")
    def sh(hs: pd.Series) -> pd.Series:
        n = len(hs)
        lens = np.zeros(n, dtype=np.int64)
        parts = []
        for i, h in enumerate(hs):
            # NULL text -> NULL token-hash array: signature 0, exactly
            # like an empty token set (the expression spec's no-votes
            # case) — np.asarray(None) used to crash the whole stage
            # (round-9 equivalence test finding)
            if h is None:
                continue
            a = np.asarray(h, dtype=np.int64)
            if a.size:
                lens[i] = a.size
                parts.append(a)
        if not parts:
            return pd.Series(np.zeros(n, dtype=np.int64))
        allh = np.concatenate(parts).view(np.uint64)
        bits = ((allh[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
        # empty docs would alias the next doc's reduceat boundary, so
        # reduceat over the non-empty segments only and scatter back
        # (empty doc = zero votes = signature 0, the spec's no-votes case)
        nz = lens > 0
        off_nz = np.zeros(int(nz.sum()), dtype=np.int64)
        np.cumsum(lens[nz][:-1], out=off_nz[1:])
        votes = np.add.reduceat(2 * bits - 1, off_nz, axis=0)
        # sum of DISTINCT powers of two == the bitwise-OR the per-doc
        # loop built bit by bit; uint64 sum cannot overflow
        sig_nz = ((votes > 0).astype(np.uint64) * powers).sum(axis=1)
        out = np.zeros(n, dtype=np.uint64)
        out[nz] = sig_nz
        return pd.Series(out.view(np.int64))

    return sh


def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_bits: int = 64,
                       token_hash: str = "xxhash64") -> DataFrame:
    """Per-document SimHash: tokenize + 64-bit token hash JVM-side
    (`token_hash`: xxhash64 default, md5lower64 for oracle replay), bit
    votes in one Arrow-batched numpy UDF (the 64 `aggregate` lambdas of
    the expression form run interpreted — ~2× slower at sf0.1 after the
    round-9 HOF binding fix; signatures bit-identical, pinned in
    tests)."""
    sh = _simhash_udf(num_bits)
    return (
        rebalance(df)
        .select(
            F.col(id_col),
            F.transform(
                F.array_distinct(
                    F.filter(F.split(normalize_text_expr(F.col(text_col)), " "),
                             lambda t: t != "")
                ),
                lambda t: _token_hash_expr(t, token_hash),
            ).alias("__h__"),
        )
        .select(F.col(id_col), sh(F.col("__h__")).alias("sim"))
    )


def simhash_dup_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      max_hamming: int = 3,
                      max_bucket_size: Optional[int] = None,
                      token_hash: str = "xxhash64") -> DataFrame:
    """Near-dup pairs by SimHash: block on 4 x 16-bit chunks (pigeonhole —
    any pair within hamming distance 3 shares at least one exact chunk),
    then verify hamming distance on candidates.

    Same bucket-pairs shape as `minhash_lsh_dup_pairs`: groupBy chunk →
    collect_list(struct(id, sim)) → in-bucket i<j pairs, so the signature
    UDF runs once instead of once per self-join side, and the verify needs
    no join at all (`sim` rides along in the bucket, 8 bytes per id).

    `max_bucket_size` (same contract as `minhash_lsh_dup_pairs`):
    boilerplate-heavy corpora collapse into few 16-bit chunks — one
    degenerate bucket of B docs emits B(B-1)/2 pairs on one task;
    oversized buckets are dropped rather than stalling the stage."""
    sh = simhash_signatures(df, text_col, id_col, token_hash=token_hash)
    chunks = sh.select(
        id_col, "sim",
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned(F.col("sim"), k * 16).bitwiseAND(F.lit(0xFFFF))
                for k in range(4)
            ])
        ).alias("chunk_id", "chunk"),
    )
    buckets = (
        chunks.groupBy("chunk_id", "chunk")
        .agg(F.sort_array(
            F.collect_list(F.struct(F.col(id_col).alias("id"), "sim"))
        ).alias("ms"))
        .where(F.size("ms") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.where(F.size("ms") <= max_bucket_size)
    cand = bucket_pairs(
        buckets, "ms",
        lambda x, y: F.struct(
            x["id"].alias("id_a"), y["id"].alias("id_b"),
            F.bit_count(x["sim"].bitwiseXOR(y["sim"])).alias("hamming")))
    return cand.where(F.col("hamming") <= max_hamming)


def ngram_jaccard_pairs(df: DataFrame, pairs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Exact character-n-gram Jaccard similarity for given (id_a, id_b)
    pairs — the verify step of any blocking scheme.

    Melt form (same rationale as the MinHash verify): pairs explode to
    (pair, member) rows and join the n-gram projection ONCE — a two-side
    join would evaluate the corpus-wide n-gram expression once per side;
    here only the candidates' gram arrays shuffle through the regroup.

    Pairs are treated as a SET (duplicates collapse to one output row);
    pairs whose ids are absent from `df` are dropped, matching inner-join
    semantics."""
    pairs = pairs.select("id_a", "id_b").distinct()
    g = df.select(
        F.col(id_col).alias("__sid__"),
        F.array_distinct(char_ngrams_expr(F.col(text_col), n)).alias("__g__"),
    )
    # ONE explode(array(...)) instead of unionByName of two projections:
    # `pairs` (and its .distinct() above) is unmaterialized, so the union
    # form evaluates that subtree once per branch (r13, same rationale as
    # the MinHash verify melt).
    melted = (
        pairs.select(
            "id_a", "id_b",
            F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("__sid__"))
        .join(g, on="__sid__")
    )
    per_pair = melted.groupBy("id_a", "id_b").agg(
        F.max(F.when(F.col("__sid__") == F.col("id_a"),
                     F.col("__g__"))).alias("g_a"),
        F.max(F.when(F.col("__sid__") == F.col("id_b"),
                     F.col("__g__"))).alias("g_b"),
    )
    return (
        per_pair
        .where(F.col("g_a").isNotNull() & F.col("g_b").isNotNull())
        .select(
            "id_a", "id_b",
            (F.size(F.array_intersect("g_a", "g_b"))
             / F.size(F.array_union("g_a", "g_b"))).alias("jaccard"),
        )
    )


def dup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                 max_iterations: int = 20,
                 compress: bool = True) -> DataFrame:
    """Connected components over near-duplicate pairs → (doc_id, cluster_id)
    with cluster_id = min doc id in the component (the canonical survivor).

    Iterative smallest-label propagation with ADAPTIVE POINTER JUMPING
    (round 10, verdict item 3): each round every node adopts the minimum
    label among itself and its neighbors (one shuffle join + groupBy);
    from round 3 onward the round additionally shortcuts through the
    label map itself — ``label ← label(label)`` — one more keyed join.
    Propagation alone moves the component minimum ONE hop per round
    (O(diameter) rounds — the round-8/9 verdicts measured multi-second
    per-round driver-action overhead on q41's graph); the shortcut
    compounds the reach roughly geometrically, so rounds are
    O(log diameter) for the chain/path-shaped components an edit-cascade
    near-dup graph produces (SCALE.md "Pointer jumping": sf1 16-chains
    6 rounds vs 16). The jump is DELAYED two rounds because the common
    near-dup component is a pair/clique/star that converges in ≤2
    propagation rounds — there the shortcut join would be pure overhead
    (dedup_cascade and the streaming dedup sinks ride this default).
    Convergence is checked with a count of changed labels so the loop
    runs no longer than the data needs; ``compress=False`` keeps the
    plain one-hop rounds everywhere (old-vs-new equality is pinned in
    tests).

    Invariant both steps preserve: label(n) ≤ n and label(n) is in n's
    component — so label values are always themselves nodes of the map,
    the shortcut join never drops rows, and at fixpoint (no label fell in
    either step) labels are constant per component and equal to its min.

    If the pairs come from an EQUALITY-key self-join, don't call this at
    all — `dup_clusters_by_key` computes the identical labels with one
    aggregation and no iteration (components are the key groups)."""
    # Edges are loop-invariant but were rebuilt from `pairs` EVERY round
    # (and twice per build — the symmetrization union evaluated the
    # unmaterialized pairs subtree once per branch). r13: symmetrize with
    # ONE explode of the (src,dst)/(dst,src) struct pair and eagerly
    # localCheckpoint — the pairs subtree (often a join/LSH pipeline) now
    # runs exactly once per call instead of 2× per round. Interleaved
    # A/B on q186's chain graph at sf0.1: 1.40× (explode+ckpt) vs 1.25×
    # (union+ckpt) vs 0.96× (explode alone); rows identical.
    edges = (
        pairs.select(F.explode(F.array(
            F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
            F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
        )).alias("__e__"))
        .select("__e__.src", "__e__.dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for it in range(max_iterations):
        neighbor_min = (
            edges.join(labels, on=[edges.dst == labels.node])
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        prop = (
            labels.join(neighbor_min, on=[labels.node == neighbor_min.src],
                        how="left")
            .select(
                F.col("node"),
                F.col("label").alias("__orig__"),
                F.least(F.col("label"),
                        F.coalesce("nmin", F.col("label"))).alias("label"),
            )
        )
        if compress and it >= 2:
            # shortcut: follow the (possibly stale) label one more step
            # through THIS round's map. label(m) ≤ m, so coalesce only
            # fires if a label value somehow weren't a node (it always
            # is — see invariant); least() is unnecessary for the same
            # reason but costs nothing and makes monotonicity textual.
            # prop is BOTH sides of this self-join, so the propagate
            # subtree evaluates twice per round. A localCheckpoint here
            # was A/B-MEASURED on a quiet host (r11, VERDICT r10 note)
            # and is a WASH: q186 chain graph min-of-3, sf0.1 3.6 vs
            # 3.0 s, sf1 6.5 vs 6.6 s — the subtree (one join+groupBy
            # over already-checkpointed labels) costs about what its
            # materialization would. Keeping the simpler no-checkpoint
            # form; re-measure if a heavier propagate stage ever
            # dominates a round.
            lab2 = prop.select(F.col("node").alias("__pn__"),
                               F.col("label").alias("__pl__"))
            prop = (
                prop.join(lab2, on=[prop["label"] == lab2["__pn__"]],
                          how="left")
                .select(
                    "node", "__orig__",
                    F.least(F.col("label"),
                            F.coalesce("__pl__", F.col("label")))
                    .alias("label"),
                )
            )
        new_labels = prop.select(
            "node", "label", (F.col("label") < F.col("__orig__"))
            .alias("changed"))
        # materialize once per round: reused by BOTH the convergence count
        # and the next iteration's join (otherwise lineage doubles per round)
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = new_labels.where(F.col("changed")).count()
        labels = new_labels.drop("changed")
        if changed == 0:
            break
    else:
        # silent non-convergence would hand dedup_cascade WRONG labels: a
        # >max_iterations-diameter chain (long boilerplate families) would
        # keep several 'kept' survivors per component. Fail loudly instead.
        raise RuntimeError(
            f"dup_clusters did not converge in {max_iterations} rounds — "
            "a component's diameter exceeds what the rounds can reach; "
            "raise max_iterations (rounds are O(log diameter) with "
            "compress=True, one extra keyed join each)")
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


def dup_clusters_by_key(keyed: DataFrame, key_col: str,
                        id_col: str = "doc_id") -> DataFrame:
    """Equality-blocking fast path for `dup_clusters`: when candidate
    pairs come from an EQUALITY key (an md5 fingerprint, an exact-dedup
    digest), the pair graph is a disjoint union of key-group cliques —
    components ARE the key groups, so iterative label propagation is
    pure overhead. This computes the identical output — (doc_id,
    cluster_id = min id of the component), restricted to docs that
    appear in at least one pair, i.e. key groups of size ≥ 2 — as ONE
    grouped aggregation plus one join back, zero iterations, zero
    driver actions (round-8 verdict item 1: q41 spent 3.79 s warm and
    q175 14.11 s at sf1 on label-propagation ROUNDS whose answer was
    already determined by the key).

    Input contract: one row per doc (``id_col`` unique); extra columns
    are ignored. NULL keys are dropped — an equality join never matches
    NULL, so such docs never enter the pair graph.

    Scale: the min/count aggregation runs partial map-side, so a
    boilerplate MEGA-group (millions of identical fingerprints — the
    skew class the LSH blockers cap) costs each reducer O(partitions);
    the join back shuffles (key, id) pairs only. Two keyed exchanges
    total vs 2 per ROUND for label propagation."""
    keyed = keyed.select(key_col, id_col).where(F.col(key_col).isNotNull())
    groups = (keyed.groupBy(key_col)
              .agg(F.min(id_col).alias("cluster_id"),
                   F.count(F.lit(1)).alias("__n__"))
              .where(F.col("__n__") >= 2)
              .drop("__n__"))
    return (keyed.join(groups, key_col)
            .select(F.col(id_col).alias("doc_id"), "cluster_id"))


def keep_best(labeled: DataFrame, score_col: str = "quality",
              id_col: str = "doc_id",
              cluster_col: str = "cluster_id") -> DataFrame:
    """Quality-aware survivor selection — the representative step a
    production dedup runs AFTER clustering (SemDeDup §3 / CCNet keep
    the best-scoring member, not the smallest id): for each cluster,
    keep the row with the highest `score_col`, deterministic tiebreak
    on the SMALLEST id. Input is `dup_clusters` output joined with a
    per-doc score column; the output keeps every input column of the
    winning row.

    Plan: for numeric ids this is a `max_by` GROUPED AGGREGATE keyed
    by `(score, -id)` — partial aggregation runs map-side, so a
    boilerplate/template MEGA-cluster (millions of members in one
    component — exactly the skew class every LSH blocker here caps)
    costs each reducer O(partitions), never a single-task full sort.
    Non-numeric ids fall back to a row_number window (one task sorts
    each cluster) — fine for the tiny fuzzy-copy components but
    documented as the skew-exposed path."""
    from pyspark.sql.types import NumericType

    if isinstance(labeled.schema[id_col].dataType, NumericType):
        key = F.struct(F.col(score_col).alias("s"),
                       (-F.col(id_col)).alias("i"))
        row = F.max_by(F.struct(*labeled.columns), key)
        return (labeled.groupBy(cluster_col)
                .agg(row.alias("__best__")).select("__best__.*"))
    w = Window.partitionBy(cluster_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc())
    return (labeled.withColumn("__rk__", F.row_number().over(w))
            .where(F.col("__rk__") == 1).drop("__rk__"))


def dedup_cascade(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.5,
    max_bucket_size: Optional[int] = 4096,
    **lsh_kwargs,
) -> DataFrame:
    """Production dedup cascade — the composition a real corpus runs:

      1. exact dedup (digest groupBy): identical copies drop FIRST, so
         the expensive stages never see them (and no exact-dup bucket can
         blow up the LSH pair generation);
      2. MinHash-LSH near-dup pairs on the exact survivors;
      3. connected components over the pairs; each component keeps its
         minimum id.

    Returns one row per input id: (id_col, status) with status in
    {'kept', 'exact_dup', 'near_dup'} — the keep-list plus drop
    attribution an audit needs. Cost: the exact stage's one digest
    shuffle + the LSH pipeline on the deduplicated (smaller) corpus.

    `max_bucket_size` defaults to 4096 here (unlike the raw pair
    operator): the sf5 boilerplate experiment (SCALE.md "Skew guard")
    measured an uncapped mega-bucket OOMing the wave while a cap ≫ the
    p99 bucket (87) lost no family recall. Pass None for exhaustive
    small-corpus runs.
    """
    ids = df.select(id_col)
    survivors = exact_dedup(df, text_col, id_col)
    exact_dropped = ids.join(survivors.select(id_col), on=id_col,
                             how="left_anti")
    pairs = minhash_lsh_dup_pairs(
        survivors, text_col, id_col,
        jaccard_threshold=jaccard_threshold,
        max_bucket_size=max_bucket_size, **lsh_kwargs)
    near_dropped = (
        dup_clusters(pairs)
        .where(F.col("cluster_id") != F.col("doc_id"))
        .select(F.col("doc_id").alias(id_col))
    )
    dropped = (
        exact_dropped.withColumn("status", F.lit("exact_dup"))
        .unionByName(near_dropped.withColumn("status", F.lit("near_dup")))
    )
    kept = (ids.join(dropped.select(id_col), on=id_col, how="left_anti")
            .withColumn("status", F.lit("kept")))
    return kept.unionByName(dropped)


# --------------------------------------------------------------------------
# winnowing (rolling-hash document fingerprints)
# --------------------------------------------------------------------------


def _winnow_udf(k: int, w: int, base: int, mod: int):
    """Arrow-batched winnowing: char k-gram polynomial rolling hashes +
    sliding window-min selection (Schleimer/Wilkerson/Aiken MOSS scheme).

    Same split as the minhash pipeline above: Spark higher-order functions
    would run this per-character interpreted; here each Arrow batch does
    k vectorized numpy passes for the rolling hashes and one
    sliding_window_view min for the selection. The hash is mod-2^31-1
    polynomial over the stripped [a-z0-9] text — small enough to express
    verbatim in ANSI SQL list lambdas, which is what the q86 DuckDB
    oracle does (the distributed plan must lose no fingerprints)."""
    import re as _re

    from pyspark.sql.functions import pandas_udf

    POW = np.empty(k, dtype=np.int64)
    POW[k - 1] = 1
    for j in range(k - 2, -1, -1):
        POW[j] = (POW[j + 1] * base) % mod

    @pandas_udf("array<long>")
    def _winnow(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append([])
                continue
            s = _re.sub(r"[^a-z0-9]", "", t.lower())
            n = len(s)
            if n < k:
                out.append([])
                continue
            codes = np.frombuffer(
                s.encode("ascii", "ignore"), dtype=np.uint8).astype(np.int64)
            m = n - k + 1
            h = np.zeros(m, dtype=np.int64)
            for j in range(k):
                h = (h + codes[j:j + m] * POW[j]) % mod
            if m >= w:
                sel = np.lib.stride_tricks.sliding_window_view(
                    h, w).min(axis=1)
            else:  # short doc: one window over everything
                sel = h.min(keepdims=True)
            out.append(np.unique(sel).tolist())
        return pd.Series(out)

    return _winnow


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        k: int = 8, w: int = 4,
                        base: int = 257, mod: int = _MERSENNE_31) -> DataFrame:
    """Add `fingerprints: array<long>` — the distinct winnowing-selected
    k-gram rolling hashes of each document. Guarantee (the reason MOSS
    uses it): any shared substring of length >= k + w - 1 between two
    documents produces at least one shared fingerprint, so a fingerprint
    equi-join finds all such overlaps with ~1/w of the k-gram volume.
    Row-local (zero shuffle); join/dedup consumers shuffle only the
    selected longs, never the text."""
    return df.withColumn(
        "fingerprints", _winnow_udf(k, w, base, mod)(F.col(text_col)))


def edit_distance_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_len: int = 24,
    length_bucket: int = 64,
    max_dist: int = 20,
    max_bucket_size: Optional[int] = 1024,
) -> DataFrame:
    """Near-duplicate pairs by bounded edit distance — the character-level
    complement to the token-set (MinHash) and bit-vector (SimHash) paths:
    catches small in-place edits (typo fixes, number bumps) that token
    shingles can over- or under-weight.

    Blocking: two docs within `max_dist` edits share a normalized prefix
    unless the edit touches the first characters, and their lengths
    differ by at most `max_dist` — so candidates are generated per
    (normalized-prefix, ⌊len/length_bucket⌋) block plus the adjacent
    length block, never all-pairs. Same bucket pattern as
    `minhash_lsh_dup_pairs`: collect ids per block, explode i<j pairs,
    `max_bucket_size` drops degenerate blocks (boilerplate prefixes).
    The verify join fetches the two texts and runs the JVM
    `levenshtein` — O(len²) per pair, bounded by candidates, not corpus.
    Levenshtein is engine-portable (DuckDB `levenshtein` agrees), so an
    external oracle can replay the whole operator.

    QUANTIFIED RECALL (tests/test_edit_distance_recall.py): an edit
    inside the first `prefix_len` normalized characters moves the doc to
    a different block, so single-edit recall is exactly
    1 − prefix_len/E[len] for uniform edit positions — measured 0.908 on
    the seeded corpus (prefix 24, len ≈ 200, 109/120 pairs), with every
    miss verified to be an in-prefix edit and zero out-of-prefix misses.
    Mitigation when front edits matter: a second pass over
    `F.reverse(text)` blocks on the suffix; the union reaches 1.0 on
    single-edit pairs (tested) at 2× the blocking cost."""
    norm = normalize_text_expr(F.col(text_col))
    base = df.select(
        F.col(id_col),
        norm.alias("__nt__"),
        F.substring(norm, 1, prefix_len).alias("__pfx__"),
        F.floor(F.length(norm) / length_bucket).alias("__lb__"),
    ).localCheckpoint(eager=False)
    # each doc lands in its own length block AND the next one down, so a
    # pair straddling a block boundary still collides (|len_a - len_b| <=
    # max_dist <= length_bucket required for the guarantee)
    if max_dist > length_bucket:
        raise ValueError("length_bucket must be >= max_dist for the "
                         "adjacent-block guarantee")
    blocked = base.select(
        id_col, "__pfx__",
        F.explode(F.array_distinct(F.array(
            F.col("__lb__"), F.greatest(F.col("__lb__") - 1, F.lit(0))
        ))).alias("__blk__"),
    )
    buckets = (
        blocked.groupBy("__pfx__", "__blk__")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .where(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.where(F.size("ids") <= max_bucket_size)
    cand = bucket_pairs(
        buckets, "ids",
        lambda x, y: F.struct(x.alias("id_a"), y.alias("id_b")))
    ta = base.select(F.col(id_col).alias("id_a"), F.col("__nt__").alias("__ta__"))
    tb = base.select(F.col(id_col).alias("id_b"), F.col("__nt__").alias("__tb__"))
    return (
        cand.join(ta, on="id_a").join(tb, on="id_b")
        # cheap length pre-filter before the O(len^2) distance
        .where(F.abs(F.length("__ta__") - F.length("__tb__")) <= max_dist)
        .select("id_a", "id_b",
                F.levenshtein("__ta__", "__tb__").alias("edit_dist"))
        .where(F.col("edit_dist") <= max_dist)
    )


def _exact_admit(text_col: str, id_col: str):
    """The exact-digest admit step (`streaming._novel_rows`): drop rows
    whose digest is in the index, then collapse the batch to its min id
    per digest — literally `exact_dedup`'s shared implementation."""
    def admit(batch: DataFrame, idx) -> DataFrame:
        tagged = batch.withColumn("__fp__", _digest(text_col))
        if idx is not None:
            tagged = tagged.join(
                idx.select(F.col("fingerprint").alias("__fp__")),
                on="__fp__", how="left_anti")
        return _collapse_by_fp(tagged, batch.columns, id_col)
    return admit


def exact_dedup_incremental(
    batch: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup for a daily/continuous INGEST: drop batch
    rows whose content digest already exists in the persisted index
    (everything ever admitted), dedup within the batch (min-id wins —
    literally `exact_dedup`'s shared implementation), and return the
    admitted rows (localCheckpointed: computed once however many times
    the caller reuses them). The batch counterpart of
    `streaming.near_dedup_sink`'s exact stage: each increment joins only
    a 16-byte-digest index, never the historical corpus.

    Read-only: the index is never written here. `exact_dedup_ingest`
    is the writer — it publishes survivors and their digests together.
    NULL fingerprints in an index (markers an older ingest protocol
    wrote) never match the anti-join. A half-written index directory
    (no parquet files) reads as empty rather than wedging every later
    increment."""
    from openpolicedata_spark.streaming import _novel_rows

    novel, _ = _novel_rows(batch, index_path, None,
                           _exact_admit(text_col, id_col))
    return novel.drop("__fp__")


def exact_dedup_ingest(
    batch: DataFrame,
    index_path: str,
    output_path: str,
    batch_id: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACTLY-ONCE incremental exact dedup: `exact_dedup_incremental`
    with its survivors and their digests published together through the
    index sinks' per-batch step (`streaming._admit_pairs`,
    `streaming._append_step`), for callers that want the function to own
    both writes.

    Protocol (idempotent under redelivery of the same `batch_id`):

    1. roll forward any publish a crash left under `output_path`;
    2. if `output_path/batch=<batch_id>/` exists, the batch already
       committed — its directory appears with one rename, so its
       presence is the replay marker: return the persisted survivors
       without recomputing or rewriting anything;
    3. otherwise admit the batch against `index_path`; publish the
       survivors to `batch=<batch_id>` and their digests to `index_path`
       under tag `batch_id`, then compact the index. A batch with no
       survivors publishes nothing and returns an empty frame.

    A crash before the publish commits leaves nothing visible, and the
    replay recomputes against an unchanged index; a crash after it is
    finished by step 1. The corpus stays one readable dataset:
    `spark.read.parquet(output_path)` sees a `batch` partition column.
    Indexes written by the older marker-row protocol keep working:
    membership reads only `fingerprint`, in either file layout."""
    import os
    import re as _re

    from openpolicedata_spark.streaming import _admit_pairs, _append_step

    if not _re.fullmatch(r"[A-Za-z0-9._-]+", batch_id):
        raise ValueError(f"batch_id {batch_id!r} must be path-safe "
                         "([A-Za-z0-9._-]+)")
    spark = batch.sparkSession
    part_path = os.path.join(output_path, f"batch={batch_id}")
    def body():
        if os.path.isdir(part_path):
            return None
        return _admit_pairs(
            batch, part_path, index_path, None,
            _exact_admit(text_col, id_col),
            lambda novel: (novel.drop("__fp__"),
                           novel.select(F.col("__fp__").alias("fingerprint"))))

    _append_step(spark, output_path, batch_id, body, index_path)
    if not os.path.isdir(part_path):   # nothing novel: nothing published
        return spark.createDataFrame([], batch.schema)
    return spark.read.parquet(part_path)
