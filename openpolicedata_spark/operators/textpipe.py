"""Training-data pipeline operators (beyond the reference — BASELINE.json
north star): as-of joins, document packing, chunking, contamination checks,
and deterministic weighted mixing.

All are DataFrame-native and shuffle-conscious:

- asof_join            : union-merge as-of join — ONE shuffle on the key,
                         no range self-join blowup.
- pack_documents       : greedy sequential packing of docs into
                         ~target-token bins (window cumsum).
- chunk_documents      : overlapping fixed-size token chunks (RAG/pretrain
                         chunking) via sequence + slice — narrow op.
- contamination_pairs  : train docs sharing word-shingles with a benchmark
                         set (decontamination audit) via shingle join.
- repetition_stats     : Gopher-style repetition quality signals
                         (distinct-token ratio, top-bigram fraction).
- weighted_mix         : deterministic per-source sampling by multiplicative
                         id hash — reproducible without RNG state.
"""

from __future__ import annotations

from typing import Optional, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from openpolicedata_spark.functions.text import (
    md5lower64_expr,
    norm_tokens_expr,
    normalize_text_expr,
    token_count_expr,
    tokens_expr,
)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: Optional[Sequence[str]] = None,
    prefix: str = "asof_",
) -> DataFrame:
    """As-of join: each left row gets the payload of the LATEST right row
    with `right_ts <= left_ts` for the same key (backward direction, the
    trade/quote classic; DuckDB's `ASOF JOIN` semantics).

    Spark has no native as-of join. The naive range self-join
    (`l.key = r.key AND r.ts <= l.ts` + max) explodes to O(|matches|)
    intermediate rows. This is the scalable union-merge form instead:

      1. union both sides, right rows carrying a payload struct
      2. ONE shuffle: window over (key) ordered by (ts, side) — right rows
         sort before left rows at equal ts, so `<=` holds
      3. last(payload, ignoreNulls) over rows UNBOUNDED PRECEDING carries
         the latest right payload forward; filter back to left rows

    Cost: one exchange on the key + one in-partition sort — same plan shape
    as any windowed aggregation, independent of match fan-out. Left rows
    with no prior right row get nulls (left-join semantics).
    """
    keys = [on] if isinstance(on, str) else list(on)
    right_cols = list(right_cols if right_cols is not None
                      else [c for c in right.columns
                            if c not in keys and c != right_ts])
    payload = F.struct(
        F.col(right_ts).alias(prefix + right_ts),
        *[F.col(c).alias(prefix + c) for c in right_cols],
    )
    r = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("__ts__"),
        F.lit(0).alias("__side__"),
        payload.alias("__payload__"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns if c not in keys],
    )
    l = left.select(
        *[F.col(k) for k in keys],
        F.col(left_ts).alias("__ts__"),
        F.lit(1).alias("__side__"),
        F.lit(None).cast(
            r.schema["__payload__"].dataType).alias("__payload__"),
        *[F.col(c) for c in left.columns if c not in keys],
    )
    # __payload__ as the final sort key makes ties between right rows with
    # equal (key, ts) deterministic (struct ordering; left rows have null
    # payloads and are unaffected).
    w = (Window.partitionBy(*keys)
         .orderBy(F.col("__ts__"), F.col("__side__"), F.col("__payload__"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = (
        r.unionByName(l)
        .withColumn("__match__", F.last("__payload__", ignorenulls=True).over(w))
        .where(F.col("__side__") == 1)
    )
    out_cols = (
        keys
        + [c for c in left.columns if c not in keys]
        + [F.col("__match__")[prefix + right_ts].alias(prefix + right_ts)]
        + [F.col("__match__")[prefix + c].alias(prefix + c) for c in right_cols]
    )
    return carried.select(*out_cols)


def pack_documents(
    df: DataFrame,
    target_tokens: int = 512,
    by: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy sequential packing: within each `by` group, walk docs in
    id order accumulating token counts; a doc starts at running offset
    `cumsum - n`, and its bin is `floor(offset / target_tokens)` — the
    standard "concat docs to ~N-token training rows" step.

    One window cumsum per group = one shuffle. NOTE the scale caveat: a
    global ordered cumsum serializes within each group, so at 100 TB pack
    per PARTITION (e.g. by = date bucket or shard id), not per corpus —
    the operator takes any `by` column precisely so the caller picks the
    granularity; packing quality only needs local order, not global.
    """
    n = token_count_expr(F.col(text_col))
    w = (Window.partitionBy(by).orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    toks = df.select(by, id_col, n.alias("__n__"))
    return (
        toks.withColumn("__cum__", F.sum("__n__").over(w))
        .select(
            F.col(by),
            F.col(id_col),
            F.floor((F.col("__cum__") - F.col("__n__")) / target_tokens)
            .alias("bin_id"),
            F.col("__n__").alias("n_tokens"),
        )
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 32,
    stride: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping fixed-size token chunks (RAG / pretraining windows):
    doc → (doc_id, chunk_id, n_tokens, chunk_text). Chunks start every
    `stride` tokens; the final partial chunk is kept iff it adds new
    tokens. Narrow op (no shuffle): sequence + slice + posexplode over a
    materialized token array."""
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    toked = df.select(
        F.col(id_col),
        norm_tokens_expr(F.col(text_col)).alias("__toks__"),
    )
    toks = F.col("__toks__")
    n = F.size(toks)
    # start offsets 0, stride, 2*stride, ... while start < n
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.ceil((n - chunk_tokens) / stride) + 1)
    starts = F.sequence(F.lit(0), n_chunks.cast("int") - 1)
    chunks = F.transform(
        starts, lambda s: F.slice(toks, s * stride + 1, chunk_tokens))
    return (
        toked.where(n > 0)
        .select(F.col(id_col), F.posexplode(chunks).alias("chunk_id", "__c__"))
        .select(
            id_col,
            "chunk_id",
            F.size("__c__").alias("n_tokens"),
            F.concat_ws(" ", "__c__").alias("chunk_text"),
        )
    )


def contamination_pairs(
    train: DataFrame,
    benchmark: DataFrame,
    shingle_k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Decontamination audit: per train doc, how many of its distinct word
    k-shingles also occur in ANY benchmark doc. Standard n-gram-overlap
    contamination check (the PaLM/GPT-3 style audit) as a shingle
    equi-join: explode distinct shingle digests per side, inner-join on
    the digest, count per train doc.

    Digests are md5 strings so an external engine can reproduce the join
    exactly; at 100 TB swap fingerprint for xxhash64 (8-byte keys) — the
    plan shape is identical. The benchmark side is typically tiny →
    Catalyst broadcasts the digest set; the train side never shuffles."""
    def shingle_digests(df: DataFrame) -> DataFrame:
        toked = df.select(
            F.col(id_col),
            norm_tokens_expr(F.col(text_col)).alias("__toks__"),
        )
        toks = F.col("__toks__")
        n = F.size(toks)
        idx = F.sequence(F.lit(1), F.greatest(n - (shingle_k - 1), F.lit(0)))
        sh = F.when(
            n >= shingle_k,
            F.transform(idx, lambda i: F.md5(
                F.concat_ws(" ", F.slice(toks, i, shingle_k)))),
        ).otherwise(F.array().cast("array<string>"))
        return toked.select(
            F.col(id_col), F.explode(F.array_distinct(sh)).alias("digest"))

    bench_digests = (shingle_digests(benchmark)
                     .select("digest").distinct())
    return (
        shingle_digests(train)
        .join(F.broadcast(bench_digests), on="digest")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-style repetition quality signals per document:

      n_tokens          total tokens
      distinct_ratio    distinct tokens / total (low → repetitive doc)
      top_bigram_frac   occurrences of the most frequent bigram / (n-1)
                        (high → boilerplate / TTTT-spam)

    Both are standard pretraining quality filters (Gopher rules table A1).
    The bigram mode is computed distributed: explode bigrams → two-level
    groupBy. Partial (map-side) aggregation collapses each doc's repeated
    bigrams before the shuffle, so the wire carries ~distinct bigrams; the
    second agg and the stats join are both on id_col so AQE coalesces
    them into one exchange chain — no driver-side loops anywhere.
    """
    toked = df.select(
        F.col(id_col),
        norm_tokens_expr(F.col(text_col)).alias("__toks__"),
    ).where(F.size("__toks__") > 0)
    toks = F.col("__toks__")
    n = F.size(toks)
    base = toked.select(
        F.col(id_col),
        n.alias("n_tokens"),
        (F.size(F.array_distinct(toks)) / n).alias("__dr__"),
        F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.concat_ws(" ", F.element_at(toks, i),
                                      F.element_at(toks, i + 1)),
            ),
        ).otherwise(F.array().cast("array<string>")).alias("__bgs__"),
    )
    top = (
        base.select(id_col, F.explode("__bgs__").alias("__bg__"))
        .groupBy(id_col, "__bg__").agg(F.count(F.lit(1)).alias("__c__"))
        .groupBy(id_col).agg(F.max("__c__").alias("__top__"))
    )
    return (
        base.join(top, on=id_col, how="left")
        .select(
            id_col,
            "n_tokens",
            F.round("__dr__", 6).alias("distinct_ratio"),
            F.round(
                F.coalesce(F.col("__top__"), F.lit(0))
                / F.greatest(F.col("n_tokens") - 1, F.lit(1)),
                6,
            ).alias("top_bigram_frac"),
        )
    )


def weighted_mix(
    df: DataFrame,
    weights: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
    default_pct: int = 0,
) -> DataFrame:
    """Deterministic per-source downsampling: keep a row iff
    `((id * 2654435761) mod p) mod 100 < pct(source)` with p = 1e9+7 —
    reproducible in any engine with 64-bit arithmetic, no RNG state to
    coordinate across executors. The intermediate prime modulus matters:
    a bare `(id * C) mod 100` is a bijection on Z_100 (C coprime to 100),
    so structured id spaces (all ids multiples of 100, say) would keep
    100% or 0% regardless of pct. Requires ids < ~3.4e9 (the product must
    fit a long under ANSI arithmetic); for wider keyspaces use xxhash64
    and drop oracle portability. A pure narrow filter."""
    for pct in list(weights.values()) + [default_pct]:
        if not 0 <= pct <= 100:
            raise ValueError(f"weights must be percentages in [0,100]: {pct}")
    pct_expr: Column = F.lit(default_pct)
    for src, pct in sorted(weights.items()):
        pct_expr = F.when(F.col(source_col) == src, F.lit(pct)).otherwise(pct_expr)
    keep = F.pmod(
        F.pmod(F.col(id_col).cast("long") * F.lit(2654435761),
               F.lit(1_000_000_007)),
        F.lit(100)) < pct_expr
    return df.where(keep)


def normalize_unicode(
    df: DataFrame,
    text_col: str = "text",
    form: str = "NFC",
    out_col: Optional[str] = None,
) -> DataFrame:
    """Unicode normalization (round 13 — the canonicalization step a
    multilingual dedup pipeline needs BEFORE any exact/minhash
    fingerprint: 'é' as one codepoint and 'e'+combining-acute are the
    same text but different bytes, so unnormalized corpora leak
    duplicates past every digest): rewrite `text_col` to the given
    normalization form (NFC default; NFD/NFKC/NFKD accepted —
    stdlib `unicodedata`, the html.parser sourcing discipline).

    Spark has no normalization expression, so this is ONE vectorized
    Arrow stage — the fold_idn_hosts design: the ASCII fast path is a
    pandas regex mask INSIDE the udf (ASCII is normalized under every
    form by construction; a CASE-gated UDF would extract into an
    unconditional ArrowEvalPython node anyway — the r12 gotcha), and
    only non-ASCII rows pay the per-row C-level normalize call. NULLs
    pass through. Idempotence (normalize∘normalize ≡ normalize) is a
    Unicode guarantee and is property-tested; the q227 oracle replays
    the whole construct through DuckDB's nfc_normalize."""
    import unicodedata

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    out = out_col or text_col

    @F.pandas_udf("string")
    def _norm(texts: pd.Series) -> pd.Series:
        mask = texts.str.contains("[^\x00-\x7f]", regex=True, na=False)
        res = texts.copy()
        for i in texts.index[mask]:
            res[i] = unicodedata.normalize(form, texts[i])
        return res

    return df.withColumn(out, _norm(F.col(text_col)))


def strip_accents(
    df: DataFrame,
    text_col: str = "text",
    out_col: Optional[str] = None,
) -> DataFrame:
    """Accent/diacritic stripping (round 13 — `normalize_unicode`'s
    sibling, the OTHER canonical key a search/dedup pipeline derives:
    'café' and 'cafe' under one key): NFD-decompose, drop every
    combining mark (Unicode category Mn), keep everything else
    byte-for-byte. Same masked-Arrow design as normalize_unicode
    (ASCII rows skip the Python path entirely). Deliberately NOT a
    transliterator: ø/ß/æ carry no combining marks and pass through —
    matching DuckDB's `strip_accents`, which the q234 oracle pins this
    against on composed AND decomposed inputs. NULLs pass through."""
    import unicodedata

    out = out_col or text_col

    @F.pandas_udf("string")
    def _strip(texts: pd.Series) -> pd.Series:
        mask = texts.str.contains("[^\x00-\x7f]", regex=True, na=False)
        res = texts.copy()
        for i in texts.index[mask]:
            res[i] = "".join(
                c for c in unicodedata.normalize("NFD", texts[i])
                if unicodedata.category(c) != "Mn")
        return res

    return df.withColumn(out, _strip(F.col(text_col)))


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "clean_text",
    min_line_chars: int = 1,
) -> DataFrame:
    """Corpus-wide LINE-level exact dedup with first-occurrence
    survivors (the FineWeb-style line dedup; round 10 —
    `remove_boilerplate_lines`'s sibling: that one drops lines FREQUENT
    across documents, this one keeps every distinct line exactly ONCE
    corpus-wide, in its earliest position): split each document on
    newlines, keep a line iff no earlier (doc, position) carries the
    same text, and reassemble each document from its surviving lines in
    original order. Lines with fewer than `min_line_chars`
    non-whitespace characters are ALWAYS kept (pinned rule — blanks
    carry paragraph structure and short lines like "Yes." are
    legitimately common; the FineWeb-style setting dedups only
    substantial lines. The default 1 exempts exactly the blank/
    whitespace-only lines). "Whitespace" is pinned to the EXPLICIT
    class [ \\t\\r\\f] — identical in Java regex and RE2, so the
    operator, the q199 DuckDB oracle, and the hypothesis reference all
    agree on a tab-only or CR-bearing line (Java \\s additionally
    matches \\v, the same divergence the html_to_text fix closed;
    \\n can't appear, lines are split on it).

    Plan shape: one posexplode, ONE hash exchange on the line digest
    for the first-occurrence window (row_number over (digest) ordered
    by (doc, position) — ties impossible), one keyed re-aggregation per
    document whose ordered reassembly is `listagg ... WITHIN GROUP`
    (the deterministic collect). The wire carries (digest, doc,
    position) triples and surviving lines — never documents twice.
    Output: (id, out_col, n_kept, n_dropped); a document whose every
    line was seen earlier comes back as the empty string."""
    if min_line_chars < 1:
        raise ValueError(
            f"min_line_chars must be >= 1, got {min_line_chars}")
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n"))
        .alias("__idx__", "__line__"),
    )
    blank = (F.length(F.regexp_replace(F.col("__line__"), "[ \t\r\f]", ""))
             < min_line_chars)
    w = Window.partitionBy("__dig__").orderBy(id_col, "__idx__")
    ranked = (lines
              .withColumn("__dig__", F.md5("__line__"))
              .withColumn("__keep__",
                          blank | (F.row_number().over(w) == 1)))
    return (ranked.groupBy(id_col).agg(
        F.expr("listagg(CASE WHEN __keep__ THEN __line__ END, '\n') "
               "WITHIN GROUP (ORDER BY __idx__)").alias(out_col),
        F.sum(F.when(F.col("__keep__"), 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("__keep__"), 0).otherwise(1))
        .alias("n_dropped"))
        .withColumn(out_col, F.coalesce(F.col(out_col), F.lit(""))))


def remove_boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_frac: float = 0.2,
    min_line_chars: int = 1,
    out_col: str = "clean_text",
) -> DataFrame:
    """Corpus-level boilerplate-line removal (the CCNet/RefinedWeb step):
    drop every line that appears in more than `max_doc_frac` of the
    documents — cookie banners, nav menus, license footers — and
    reassemble the remaining lines in their original order.

    Distributed shape: posexplode lines (narrow) → line-digest document
    frequency (ONE groupBy on a 16-byte md5, map-side combined — the
    shuffle carries digests, not lines) → broadcast-able frequency join
    back (boilerplate lines are FEW by definition: join against only the
    over-threshold digests, anti-join semantics) → per-doc ordered
    reassembly via sort_array(collect_list(struct(pos, line))). The
    reassembly groupBy reuses the doc key; nothing ever sorts globally.
    Lines are matched on their trimmed form; `min_line_chars` exempts
    short separators from the frequency count (they'd always trip the
    threshold).

    Returns (id_col, out_col) — join back to the source for the payload.
    Docs whose every line is boilerplate yield an empty string.
    """
    n_docs = df.count()
    threshold = max(1, int(max_doc_frac * n_docs))
    # digest projected ONCE: both the frequency groupBy and the anti-join
    # consume the attribute instead of re-hashing every line per use
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("__lt__", F.trim(F.col("line"))) \
     .withColumn("__d__", F.md5(F.col("__lt__")))
    # document frequency per line digest: distinct (doc, digest) first so
    # a line repeated within one doc counts once
    boiler = (
        lines.where(F.length("__lt__") >= min_line_chars)
        .select(id_col, "__d__")
        .distinct()
        .groupBy("__d__").agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > threshold)
        .select(F.col("__d__").alias("__bd__"))
    )
    kept = lines.join(
        F.broadcast(boiler),
        F.col("__d__") == F.col("__bd__"),
        how="left_anti",
    )
    reassembled = (
        kept.groupBy(id_col)
        .agg(F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ), "\n").alias(out_col))
    )
    # a doc whose every line was boilerplate has no kept rows — restore
    # it as an empty string so the output stays one row per input doc
    return (
        df.select(id_col)
        .join(reassembled, on=id_col, how="left")
        .select(id_col, F.coalesce(F.col(out_col), F.lit("")).alias(out_col))
    )


_EMPTY_RUNS = "CAST(array() AS array<struct<s:int,e:int>>)"


def mask_repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_docs: int = 2,
    out_col: str = "clean_text",
    broadcast_cuts: bool = True,
    mode: str = "mask_all",
    within_doc: bool = False,
) -> DataFrame:
    """Approximate cross-document SUBSTRING dedup (the span-level
    counterpart of Lee et al. 2022's suffix-array dedup, arXiv:2107.06499):
    every k-token span that occurs in ≥ `min_docs` distinct documents is
    masked, and the surviving tokens are reassembled in order. Catches
    copied paragraphs inside otherwise unique pages — the case
    document-level MinHash misses.

    mode='mask_all' (default) masks every occurrence — the conservative
    `remove_boilerplate_lines` choice. mode='keep_first' matches
    ExactSubstr's keep-one semantics: each hot span's deterministic
    survivor is the MIN doc_id among documents containing it, and the
    span is cut only from the other documents. The gap to TRUE
    maximal-substring keep-one is measured and EXACTLY characterized
    (tests/test_textpipe.py::test_keep_first_vs_true_exactsubstr_
    quantified, vs a brute-force pairwise-maximal-match oracle;
    SCALE.md table): the approximation is ONE-SIDED — operator cuts
    are always a SUBSET of true cuts (a hot span in doc d with a
    smaller survivor is itself a cross-doc duplicate truth cuts too),
    and the only under-cutting is WITHIN-survivor-doc repeats: the min
    doc keeps ALL its copies of a block (and `min_docs` counts
    distinct docs, so purely internal repetition is never cut) where
    true keep-one keeps only the first occurrence. Cross-document
    behavior matches true keep-one exactly on every measured corpus —
    no distributed suffix array needed for it.

    `within_doc=True` (keep_first only) CLOSES that residual gap: a
    span is hot when its total OCCURRENCE count (not distinct docs)
    reaches `min_docs`, and the survivor is the lexicographically
    first (doc_id, position) occurrence — every other occurrence is
    cut, including later copies inside the survivor document. The
    result equals true maximal-substring keep-one POSITION-EXACTLY
    (proof sketch: a position is truth-cut iff some covering k-span
    has an earlier occurrence, which is exactly "not the (doc, pos)
    minimum"; equality is asserted against the brute-force oracle on
    every scenario corpus including the adversarial random one). Same
    plan shape: the hot aggregate gains one struct-min, nothing else
    changes.

    Per-doc cut-sets are stored as MAXIMAL RUNS [start, end] (adjacent/
    overlapping hot spans coalesce), so a copied paragraph is ONE cut
    struct rather than one entry per covered token — the broadcast in
    step 3 scales with the number of duplicated REGIONS, not their
    length.

    Distributed shape — the corpus itself NEVER shuffles:
    1. shingle digests aggregate by md5 (map-side combined; the wire
       carries 16-byte digests, not text) → the over-threshold `hot`
       set (digest + survivor id) broadcasts (repeated spans are few
       by definition);
    2. hot span START positions per doc survive a broadcast semi-join
       and collapse to per-doc sorted start lists (the only other
       shuffle — proportional to the number of duplicated spans, not
       the corpus), then merge into runs with LINEAR boundary-marking
       HOFs over each doc's start list (every element touched O(1)
       times even when the whole doc is duplicated);
    3. the run-sets broadcast back and each document filters its own
       tokens ROW-LOCALLY. Set `broadcast_cuts=False` on a heavily
       duplicated corpus to turn step 3 into a shuffle join on the id.
    Positions are 1-based over the normalized token stream; the output
    is the kept tokens space-joined (normalized casing/whitespace, like
    every shingle-space operator here).
    """
    if mode not in ("mask_all", "keep_first"):
        raise ValueError(f"unknown mode {mode!r}")
    if within_doc and mode != "keep_first":
        raise ValueError("within_doc=True requires mode='keep_first'")
    from openpolicedata_spark.functions.text import shingles_expr

    toks = norm_tokens_expr(F.col(text_col))
    sh = df.select(
        F.col(id_col),
        F.posexplode(shingles_expr(F.col(text_col), k)).alias("i0", "s"),
    ).select(id_col, "i0", F.md5("s").alias("__d__"))
    if within_doc:
        # exact keep-one: hotness counts OCCURRENCES, the survivor is
        # the lexicographic (doc, pos) minimum (one struct-min in the
        # same map-side-combined aggregate)
        hot = (
            sh.groupBy("__d__")
            .agg(F.count(F.lit(1)).alias("occ"),
                 F.min(F.struct(F.col(id_col).alias("i"),
                                F.col("i0").alias("p"))).alias("__fst__"))
            .where(F.col("occ") >= min_docs)
            .select(F.col("__d__").alias("__hd__"), "__fst__")
        )
        hits = (sh.join(F.broadcast(hot), F.col("__d__") == F.col("__hd__"))
                .where(~((F.col(id_col) == F.col("__fst__.i"))
                         & (F.col("i0") == F.col("__fst__.p")))))
    else:
        hot = (
            sh.select(id_col, "__d__").distinct()
            .groupBy("__d__").agg(F.count(F.lit(1)).alias("df"),
                                  F.min(id_col).alias("__surv__"))
            .where(F.col("df") >= min_docs)
            .select(F.col("__d__").alias("__hd__"), "__surv__")
        )
        hits = sh.join(F.broadcast(hot),
                       F.col("__d__") == F.col("__hd__"))
        if mode == "keep_first":
            hits = hits.where(F.col(id_col) != F.col("__surv__"))
    starts = (
        hits.groupBy(id_col)
        .agg(F.sort_array(F.collect_set(F.col("i0") + 1)).alias("__ss__"))
    )
    # merge sorted span starts into maximal runs — TRULY linear form:
    # since all spans are k long and starts ascend, run ends are
    # monotone, so a start OPENS a run iff its gap to the previous
    # start exceeds k, and CLOSES one iff the next start's gap does
    # (or it is last). Two boundary filters zipped positionally (each
    # run has exactly one opener and one closer, in order). zip_with
    # is load-bearing: its lambda references only its OWN arguments
    # plus materialized column attributes, so nothing re-evaluates.
    # The round-8 form paired boundaries via F.get(bnd, j+1) INSIDE
    # transform(bnd, ...) — interpreted HOFs do no CSE, so every
    # element re-evaluated the whole bnd filter: O(starts x runs)
    # hidden in what read as a linear pass (round-9 rig: 84 s at 500
    # non-adjacent runs/doc x 200 docs; seconds after this rewrite —
    # SCALE.md).
    ss = F.col("__ss__")
    n_ss = F.size(ss)
    opens = F.filter(
        F.sequence(F.lit(1), n_ss),
        lambda i: F.get(ss, i - 2).isNull()  # i == 1 (0-based -1 -> null)
        | (F.element_at(ss, i) > F.get(ss, i - 2) + k))
    closes = F.filter(
        F.sequence(F.lit(1), n_ss),
        lambda i: F.get(ss, i).isNull()      # i == n_ss (0-based i)
        | (F.get(ss, i) > F.element_at(ss, i) + k))
    runs_expr = F.zip_with(
        opens, closes,
        lambda b, e: F.struct(
            F.element_at(ss, b).alias("s"),
            (F.element_at(ss, e) + (k - 1)).alias("e")))
    cov = starts.select(
        F.col(id_col),
        F.when(n_ss > 0, runs_expr)
        .otherwise(F.expr(_EMPTY_RUNS)).alias("__cuts__"),
    )
    if broadcast_cuts:
        cov = F.broadcast(cov)
    n = F.size(F.col("__toks__"))
    runs = F.coalesce(F.col("__cuts__"), F.expr(_EMPTY_RUNS))
    # kept indices = the COMPLEMENT of the cut runs, built as the gap
    # sequences between consecutive runs — O(runs + kept tokens), not
    # the old O(tokens x runs) per-position `exists` scan (round-8
    # verdict carried note; the adversarial corpus — hundreds of
    # non-coalescing hot runs per doc — measured quadratic: 6.1 s at
    # 50 runs/doc -> 84 s at 500 over 200 docs; seconds after this
    # rewrite, SCALE.md table). Gap j spans [end_{j-1}+1, start_j - 1]
    # with lo defaulting to 1 before the first run and hi to n after
    # the last; interior gaps are non-empty by maximality but edge
    # gaps can be empty, hence the per-gap guard (and the least(n)
    # clamp is pure defense — runs never exceed the token count).
    # zip_with on purpose: its lambda sees only its own arguments, so
    # the gap arrays evaluate ONCE per row; indexing a transform()'d
    # array with F.get inside another HOF would re-evaluate it per
    # element (no CSE in interpreted HOFs — the trap the run-merge
    # above documents). Output order (ascending) and values are
    # IDENTICAL to the filter form — pinned by the brute-force
    # equivalence tests.
    gap_lo = F.concat(F.array(F.lit(1)),
                      F.transform(runs, lambda r: r["e"] + 1))
    gap_hi = F.concat(F.transform(runs, lambda r: r["s"] - 1),
                      F.array(n))
    kept_idx = F.when(
        n > 0,
        F.flatten(F.zip_with(
            gap_lo, gap_hi,
            lambda lo, hi: F.when(
                lo <= F.least(hi, n), F.sequence(lo, F.least(hi, n)))
            .otherwise(F.array().cast("array<int>")))),
    ).otherwise(F.array().cast("array<int>"))
    return (
        df.select(F.col(id_col), toks.alias("__toks__"))
        .join(cov, on=id_col, how="left")
        .select(
            id_col,
            F.concat_ws(
                " ",
                F.transform(kept_idx,
                            lambda i: F.element_at(F.col("__toks__"), i)),
            ).alias(out_col),
            F.size(kept_idx).cast("long").alias("n_kept"),
        )
    )


def extract_html_text(df: DataFrame, html_col: str = "html",
                      id_col: str = "doc_id") -> DataFrame:
    """Boilerplate-stripping HTML → text over a corpus column (the
    FineWeb/trafilatura extraction step between crawl and
    quality/dedup): `sources.htmltable.html_to_text` per row —
    script/style/head dropped, block boundaries become newlines,
    inline whitespace collapsed, entities decoded. One
    `multimodal.map_rows` pass (the parse is genuinely imperative — the
    sanctioned escape); output is (id, text, n_blocks). Embarrassingly
    parallel, bytes never leave the executor; NULL html → NULL text.
    q176 pins the extractor against a generative SQL replay."""
    from openpolicedata_spark.operators.multimodal import map_rows
    from openpolicedata_spark.sources.htmltable import html_to_text

    def extract(_key, h):
        if h is None:
            return [(None, None)]
        t = html_to_text(h)
        return [(t, len(t.split("\n")) if t else 0)]

    return map_rows(df.select(id_col, html_col), extract,
                    "text string, n_blocks long")


def chunk_chars(
    df: DataFrame,
    chunk_size: int = 200,
    overlap: int = 40,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CHARACTER-window sliding chunker — the byte/char-budget sibling
    of `chunk_documents` above (that one windows by TOKEN count over
    the normalized token array, q51): embedding APIs and splitters that
    cap by characters/bytes need exact char offsets on the RAW text,
    with `overlap` characters shared between neighbors so sentences
    straddling a boundary stay findable from both sides.

    Chunk starts are 1, 1+stride, ... with stride = chunk_size -
    overlap; a document of length <= chunk_size is one chunk; the last
    chunk may be shorter but always reaches the end of the document.
    Pure expression pipeline (sequence + posexplode + substring — zero
    Python, zero shuffles beyond the explode's natural partitioning),
    so a 100 TB corpus chunks at scan speed and the SQL replays
    engine-portably (q166). Emits (id, chunk_id 0-based, chunk_text,
    chunk_len)."""
    if not (0 <= overlap < chunk_size):
        raise ValueError(f"need 0 <= overlap < chunk_size, got "
                         f"{overlap}/{chunk_size}")
    stride = chunk_size - overlap
    n = F.length(F.col(text_col))
    # ceil((len - chunk_size)/stride) + 1 via floor-div (engine-portable
    # integer arithmetic, no double rounding)
    n_chunks = F.when(n <= chunk_size, F.lit(1)).otherwise(
        (F.floor((n - chunk_size + stride - 1) / stride) + 1).cast("int"))
    return (
        df.select(
            F.col(id_col),
            F.col(text_col).alias("__t__"),
            F.posexplode(F.sequence(F.lit(0), n_chunks - 1))
            .alias("chunk_id", "__k__"),
        )
        .select(
            id_col,
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.expr(f"substring(__t__, chunk_id * {stride} + 1, "
                   f"{chunk_size})").alias("chunk_text"),
        )
        .withColumn("chunk_len",
                    F.length("chunk_text").cast("long"))
    )


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 4,
    mask_bits: int = 4,
) -> DataFrame:
    """CONTENT-DEFINED chunking (FastCDC/rsync's boundary idea at the
    token level — round 10, beyond-reference): a chunk boundary falls
    AFTER token j+window-1 whenever the hash of the window ending
    there ≡ 0 (mod 2^mask_bits), so boundaries are a function of local
    CONTENT, not of position. Insert a sentence into a document and
    only the chunks touching the edit change — every downstream chunk
    keeps its text and hash — which is exactly what fixed-stride
    chunkers (`chunk_documents`/`chunk_chars`) cannot give an
    incremental dedup/embedding pipeline: there one insertion shifts
    every later window and re-embeds the whole tail. Expected chunk
    length ≈ 2^mask_bits grams (+ window-1 tokens).

    Pure expression pipeline (zero Python, zero shuffles beyond the
    explode): tokens → window grams → portable md5lower64 gram hashes
    → cut positions → zip_with start/end pairs → one posexplode. Every
    multiply-referenced array is BOUND as a lambda variable (the
    interpreted-HOF re-evaluation gotcha), and the modulus is a power
    of two so `pmod(signed, 2^k)` replays as DuckDB's unsigned
    `md5_number_lower(...) % 2^k` (q189's oracle). Emits (id,
    chunk_idx, n_tokens, chunk_text, chunk_hash); a document shorter
    than `window` tokens is one chunk; an empty/whitespace document
    emits no rows."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if not (1 <= mask_bits <= 62):
        raise ValueError(f"mask_bits must be in 1..62, got {mask_bits}")
    mod = 1 << mask_bits
    toks = tokens_expr(F.col(text_col))

    def chunks_of(t: Column) -> Column:
        n = F.size(t)
        idx = F.sequence(F.lit(1), F.greatest(n - (window - 1), F.lit(0)))
        grams = F.when(
            n >= window,
            F.transform(idx,
                        lambda j: F.concat_ws(" ", F.slice(t, j, window))),
        ).otherwise(F.array().cast("array<string>"))
        hashes = F.transform(
            grams, lambda g: F.pmod(md5lower64_expr(g), F.lit(mod)))

        def with_hashes(h: Column) -> Column:
            # gram j (1-based) covers tokens j-1..j+window-2 (0-based);
            # a zero hash cuts after that gram, so the NEXT chunk
            # starts at 0-based token j+window-1. A cut at the very
            # last gram would start an empty chunk at n — filtered.
            cuts = F.filter(F.sequence(F.lit(1), F.size(h)),
                            lambda j: F.get(h, j - 1) == 0)
            starts = F.filter(
                F.concat(F.array(F.lit(0)),
                         F.transform(cuts, lambda j: j + (window - 1))),
                lambda s: s < n)

            def with_starts(s: Column) -> Column:
                ends = F.transform(
                    F.sequence(F.lit(1), F.size(s)),
                    lambda i: F.coalesce(F.get(s, i), n))
                return F.zip_with(
                    s, ends,
                    lambda a, b: F.struct(
                        (b - a).cast("long").alias("n_tokens"),
                        F.concat_ws(" ", F.slice(t, a + 1, b - a))
                        .alias("chunk_text")))

            # size(starts) >= 1 here (n > 0 keeps the 0 start), so the
            # inner sequence(1, size) never runs descending
            return F.get(F.transform(F.array(starts), with_starts), 0)

        return F.when(n > 0,
                      F.get(F.transform(F.array(hashes), with_hashes), 0)) \
            .otherwise(F.array().cast(
                "array<struct<n_tokens:bigint,chunk_text:string>>"))

    bound = F.get(F.transform(F.array(toks), chunks_of), 0)
    return (
        df.select(F.col(id_col), F.posexplode(bound)
                  .alias("chunk_idx", "__c__"))
        .select(
            id_col,
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.col("__c__.n_tokens").alias("n_tokens"),
            F.col("__c__.chunk_text").alias("chunk_text"),
            F.md5("__c__.chunk_text").alias("chunk_hash"),
        )
    )


def pack_fixed_sequences(
    df: DataFrame,
    seq_len: int,
    weight_col: str,
    key_col: str,
    seed: str = "",
    n_buckets: int = 64,
) -> DataFrame:
    """GPT-style pretraining layout: conceptually concatenate every
    document (in deterministic hash order) into one token stream and cut
    it every `seq_len` tokens — each document becomes one or more
    FRAGMENT rows (doc_id × sequence) a loader can slice tokens with:

      seq_id         which fixed-length sequence the fragment lands in
      doc_offset     first token of the fragment within ITS document
      frag_len       fragment length (a doc spanning a cut yields
                     several rows; Σ frag_len per doc = its token count)
      seq_offset     where the fragment starts within the sequence

    Unlike `pack_documents` (greedy per-shard bins, no doc splitting),
    this is the exact concat-then-chunk layout: zero padding waste,
    documents split across sequence boundaries. Distributed shape: the
    global token offset comes from `sampling.global_running_total`
    (bucketed prefix sum — no single-task window); the fragment explode
    is ROW-LOCAL (each doc knows its [cum, cum+n) interval and emits
    ceil-bounded fragments). Deterministic: order is the portable hash
    of `key_col`, so every rerun and engine cuts identical sequences."""
    from openpolicedata_spark.operators.sampling import (
        _hash_domain_bounds,
        budget_hash_expr,
        global_running_total,
    )

    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    d = (df.where(F.col(weight_col) > 0)
         .withColumn("__h__", budget_hash_expr(F.col(key_col), seed)))
    # hash-ordered → equal-width domain cuts, no percentile planning job
    # (see token_budget_sample; output invariant to cut placement)
    cum = global_running_total(
        d, weight_col, "__h__", tiebreak_cols=(key_col,),
        n_buckets=n_buckets, out_col="__cum__",
        bounds=_hash_domain_bounds(n_buckets))
    n = F.col(weight_col).cast("long")
    c = F.col("__cum__").cast("long")
    L = F.lit(seq_len).cast("long")
    first_seq = F.floor(c / L)
    last_seq = F.floor((c + n - 1) / L)
    out = cum.select(
        *df.columns,
        F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"),
        c.alias("__c__"),
    )
    gstart = F.greatest(F.col("__c__"), F.col("seq_id") * L)
    gend = F.least(F.col("__c__") + n, (F.col("seq_id") + 1) * L)
    return out.select(
        *df.columns,
        "seq_id",
        (gstart - F.col("__c__")).alias("doc_offset"),
        (gend - gstart).alias("frag_len"),
        (gstart - F.col("seq_id") * L).alias("seq_offset"),
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 100,
    text_col: str = "text",
    max_vocab: int = 50_000,
) -> list[tuple[str, str]]:
    """Train a byte-pair-encoding merge list (Sennrich et al. 2016) the
    way production tokenizer trainers do: ONE distributed pass collapses
    the corpus to its word-frequency table (the only corpus-sized work —
    map-side-combined groupBy), the driver keeps the `max_vocab` most
    frequent words (TakeOrdered; the standard RAM-bounding cap), and the
    merge loop runs driver-side over that bounded table — n_merges
    iterations of weighted adjacent-pair counting + lexicographic-
    tiebroken argmax, exactly q110's statistic applied iteratively.
    Returns the ordered merge list for `bpe_apply`. Deterministic:
    frequency ties break on the word / pair text."""
    from openpolicedata_spark.functions.text import norm_tokens_expr

    rows = (
        df.select(F.explode(norm_tokens_expr(F.col(text_col))).alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(max_vocab)
        .collect()
    )
    vocab = {tuple(r["w"]): r["c"] for r in rows}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for word, c in vocab.items():
            for a, b in zip(word, word[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        best = max(pairs.items(), key=lambda kv: (kv[1], kv[0][0], kv[0][1]))
        if best[1] < 2:
            break   # nothing repeats: further merges are memorization
        (a, b), _ = best
        merges.append((a, b))
        merged = a + b
        new_vocab: dict[tuple, int] = {}
        for word, c in vocab.items():
            out, i = [], 0
            while i < len(word):
                if i + 1 < len(word) and word[i] == a and word[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(word[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + c
        vocab = new_vocab
    return merges


def bpe_apply(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Segment text with a trained merge list: per word, apply the
    merges in training order (the standard greedy BPE encoder). Runs as
    ONE Arrow-batched pandas UDF with a per-batch word cache — word
    frequency follows Zipf, so the cache hits for almost every token
    and the per-word merge loop runs once per DISTINCT word per batch,
    not per occurrence. Row-local: no shuffle at any corpus size."""
    from pyspark.sql.functions import pandas_udf

    ranks = {pair: i for i, pair in enumerate(merges)}

    @pandas_udf("array<string>")
    def encode(texts: pd.Series) -> pd.Series:
        import re as _re

        # EXACTLY tokens_expr's whitespace: Java \s is ASCII-only,
        # while python str.split() splits on Unicode whitespace — an
        # NBSP would make apply see words the trainer never learned
        ws = _re.compile("[ \t\n\x0b\f\r]+")
        cache: dict[str, list[str]] = {}

        def enc_word(w: str) -> list[str]:
            got = cache.get(w)
            if got is not None:
                return got
            sym = list(w)
            while len(sym) > 1:
                cand = [(ranks.get((sym[i], sym[i + 1])), i)
                        for i in range(len(sym) - 1)]
                cand = [(r, i) for r, i in cand if r is not None]
                if not cand:
                    break
                _, i = min(cand)
                sym = sym[:i] + [sym[i] + sym[i + 1]] + sym[i + 2:]
            cache[w] = sym
            return sym

        out = []
        for t in texts:
            toks = [] if t is None else ws.split(t.lower().strip())
            flat: list[str] = []
            for w in toks:
                if w:
                    flat.extend(enc_word(w))
            out.append(flat)
        return pd.Series(out)

    return df.withColumn(out_col, encode(F.col(text_col)))
