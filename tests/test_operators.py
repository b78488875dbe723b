"""Operator tests: merge key inference, expand mismatch modes, dedup
(exact/minhash/simhash), similarity search."""

import pytest
from pyspark.sql import functions as F

from openpolicedata_spark.operators.dedup import (
    exact_dedup,
    exact_dup_groups,
    minhash_lsh_dup_pairs,
    ngram_jaccard_pairs,
    simhash_dup_pairs,
)
from openpolicedata_spark.operators.expand import expand
from openpolicedata_spark.operators.merge import find_id_column, merge_tables
from openpolicedata_spark.operators.similarity import (
    ann_index,
    ann_topk,
    brute_force_topk,
    knn_join,
    make_random_planes,
)


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today again"),
        (2, "The quick brown fox jumps over the lazy dog today again"),  # case dup
        (3, "the quick brown fox jumps over the lazy cat today again"),  # near dup
        (4, "completely unrelated text about catalytic converters and alloys"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


class TestMerge:
    def test_find_id_column(self, spark):
        a = spark.createDataFrame([(1, "x")], "incident_id int, a string")
        b = spark.createDataFrame([(1, "y")], "incident_id int, b string")
        assert find_id_column(a, b) == "incident_id"

    def test_merge_suffixes_overlap(self, spark):
        a = spark.createDataFrame([(1, "x")], "case_number int, v string")
        b = spark.createDataFrame([(1, "y")], "case_number int, v string")
        out = merge_tables(a, b)
        assert set(out.columns) == {"case_number", "v", "v_FromMerged"}
        assert out.count() == 1

    def test_merge_std_id(self, spark):
        a = spark.createDataFrame([(1, "x")], "case_number int, v string")
        b = spark.createDataFrame([(1, "y")], "case_number int, w string")
        out = merge_tables(a, b, std_id=True)
        assert "INCIDENT_ID" in out.columns

    def test_merge_how_modes(self, spark):
        a = spark.createDataFrame([(1,), (2,)], "incident_id int")
        b = spark.createDataFrame([(2,), (3,)], "incident_id int")
        assert merge_tables(a, b, how="inner").count() == 1
        assert merge_tables(a, b, how="outer").count() == 3
        assert merge_tables(a, b, how="left").count() == 2
        assert merge_tables(a, b, how="cross").count() == 4


class TestExpand:
    def test_nan_mode(self, spark):
        df = spark.createDataFrame(
            [(1, ["W", "B"], ["M"])], "id int, race array<string>, g array<string>")
        out = expand(df, mismatch="nan").collect()
        assert len(out) == 2
        assert out[1].race == "B" and out[1].g is None

    def test_splitsingle_mode(self, spark):
        df = spark.createDataFrame(
            [(1, ["W", "B"], ["M"])], "id int, race array<string>, g array<string>")
        out = expand(df, mismatch="splitsingle").collect()
        assert [r.g for r in out] == ["M", "M"]

    def test_error_mode(self, spark):
        from py4j.protocol import Py4JJavaError

        df = spark.createDataFrame(
            [(1, ["W", "B"], ["M", "F", "X"])],
            "id int, race array<string>, g array<string>")
        with pytest.raises(Exception):
            expand(df, mismatch="error").collect()

    def test_empty_arrays_keep_row(self, spark):
        df = spark.createDataFrame([(1, [])], "id int, race array<string>")
        out = expand(df).collect()
        assert len(out) == 1 and out[0].race is None


class TestDedup:
    def test_exact(self, docs):
        out = exact_dedup(docs)
        ids = sorted(r.doc_id for r in out.select("doc_id").collect())
        assert ids == [1, 3, 4]  # 2 is a case-dup of 1

    def test_dup_groups(self, docs):
        g = exact_dup_groups(docs).collect()
        assert len(g) == 1 and g[0].keep_id == 1 and g[0].n_dups == 2

    def test_minhash_finds_near_dup(self, docs):
        pairs = minhash_lsh_dup_pairs(docs, num_hashes=32, bands=16,
                                      shingle_k=2, jaccard_threshold=0.5)
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        assert (1, 2) in got  # exact dup always survives
        assert all(4 not in p for p in got)  # unrelated never pairs

    def test_simhash(self, docs):
        pairs = simhash_dup_pairs(docs, max_hamming=10)
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        assert (1, 2) in got
        assert (1, 4) not in got

    def test_simhash_expr_equals_udf_path(self, spark, docs):
        """The expression SPEC form (64 per-bit aggregate votes, now
        with the hashed array bound as a lambda variable — round-9 HOF
        rule) equals the production numpy-UDF signatures bit for bit,
        including empty and NULL text (both land at signature 0)."""
        from openpolicedata_spark.operators.dedup import (
            simhash_expr,
            simhash_signatures,
        )

        extra = docs.unionByName(spark.createDataFrame(
            [(90, ""), (91, None)], "doc_id int, text string"))
        exp = {r.doc_id: r.sim for r in extra.select(
            "doc_id", simhash_expr(F.col("text")).alias("sim")).collect()}
        udf = {r.doc_id: r.sim
               for r in simhash_signatures(extra).collect()}
        assert exp == udf and exp[90] == 0 and exp[91] == 0

    def test_shingle_minhash_arrow_boundary(self, spark, docs):
        """r13 session 4: the signature stage crosses the Python boundary
        via mapInArrow (values+offsets buffers), NOT a pandas_udf —
        exactly one MapInArrow node, zero ArrowEvalPython/MapInPandas —
        with the sentinel/NULL conventions preserved: a doc with fewer
        than k tokens gets the all-sentinel signature + empty shingle
        set, NULL text behaves like the empty token set, and identical
        docs get identical (shingles, signature)."""
        from openpolicedata_spark.operators.dedup import (
            _MERSENNE_31,
            shingle_minhash,
        )
        from openpolicedata_spark.plans import _n_nodes, formatted_plan

        extra = docs.unionByName(spark.createDataFrame(
            [(90, "tiny"), (91, None)], "doc_id int, text string"))
        ms = shingle_minhash(extra, num_hashes=8, shingle_k=3)
        t = formatted_plan(ms)
        assert _n_nodes(t, "MapInArrow") == 1
        assert _n_nodes(t, "ArrowEvalPython") == 0
        assert _n_nodes(t, "MapInPandas") == 0
        rows = {r["doc_id"]: (list(r["__sh__"]), list(r["minhash"]))
                for r in ms.collect()}
        assert rows[1] == rows[2]  # exact dup: identical shingles+sig
        assert rows[90] == ([], [_MERSENNE_31] * 8)  # < k tokens
        assert rows[91] == ([], [_MERSENNE_31] * 8)  # NULL text
        # real docs: 8 signature values, each in [0, p); distinct shingles
        # (np.unique sorts in the uint64 domain, so the int64 view is
        # distinct but not int64-ascending)
        sh1, mh1 = rows[1]
        assert len(mh1) == 8 and all(0 <= v < _MERSENNE_31 for v in mh1)
        assert len(sh1) > 0 and len(set(sh1)) == len(sh1)

    def test_ngram_jaccard(self, spark, docs):
        pairs = spark.createDataFrame([(1, 2), (1, 4)], "id_a int, id_b int")
        out = {(r.id_a, r.id_b): r.jaccard
               for r in ngram_jaccard_pairs(docs, pairs, n=3).collect()}
        assert out[(1, 2)] == 1.0  # normalization removes the case diff
        assert out[(1, 4)] < 0.3


class TestSimilarity:
    def test_brute_force_self_first(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = emb.where(F.col("vec_id") == 5).first().embedding
        top = brute_force_topk(emb, q, k=3).collect()
        assert top[0].vec_id == 5
        assert top[0].score == pytest.approx(1.0)
        assert top[0].score >= top[1].score >= top[2].score

    def test_ann_recall_vs_exact(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = emb.where(F.col("vec_id") == 5).first().embedding
        exact = {r.vec_id for r in brute_force_topk(emb, q, k=5).collect()}
        planes = make_random_planes(len(q), num_planes=4)
        idx = ann_index(emb, planes)
        approx = {r.vec_id for r in
                  ann_topk(idx, q, planes, k=5, multiprobe_hamming=2).collect()}
        # multiprobe over 4 planes scans most buckets → high recall
        assert len(exact & approx) >= 3

    def test_knn_join(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        qs = (emb.where(F.col("vec_id") < 3)
              .select(F.col("vec_id").alias("q_id"),
                      F.col("embedding").alias("q_vec")))
        out = knn_join(qs, emb, k=2)
        rows = out.collect()
        assert len(rows) == 6  # 3 queries × 2
        # each query's best match is itself
        best = {r.q_id: r.vec_id for r in rows if r.score > 0.999}
        assert best == {0: 0, 1: 1, 2: 2}


def test_dup_clusters_connected_components(spark):
    """Chained pairs (a-b, b-c) must land in ONE cluster labeled by the
    min id; disjoint pairs stay separate."""
    from openpolicedata_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain → cluster 1
         (10, 11),                    # pair → cluster 10
         (20, 21), (21, 22)],         # chain → cluster 20
        "id_a long, id_b long")
    got = {r.doc_id: r.cluster_id for r in dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_dup_clusters_by_key_equals_pair_path(spark):
    """The equality-key fast path (one aggregation, zero iterations)
    is label-identical to running `dup_clusters` over the pairs the
    same key's self-join would generate — on a randomized keyed corpus
    covering singleton keys (never in the pair graph), big groups, and
    NULL keys (never match an equality join, so never clustered)."""
    import random

    from openpolicedata_spark.operators.dedup import (dup_clusters,
                                                      dup_clusters_by_key)

    rnd = random.Random(41)
    rows = [(i, rnd.choice([None, "k0", "k1", "k2", "k3", "k4", "k5",
                            f"solo{i}"]))
            for i in range(80)]
    keyed = spark.createDataFrame(rows, "doc_id long, fp string")

    fast = {(r.doc_id, r.cluster_id)
            for r in dup_clusters_by_key(keyed, "fp").collect()}

    a, b = keyed.alias("a"), keyed.alias("b")
    pairs = (a.join(b, on=[F.col("a.fp") == F.col("b.fp"),
                           F.col("a.doc_id") < F.col("b.doc_id")])
             .select(F.col("a.doc_id").alias("id_a"),
                     F.col("b.doc_id").alias("id_b")))
    slow = {(r.doc_id, r.cluster_id)
            for r in dup_clusters(pairs).collect()}
    assert fast == slow and len(fast) > 0

    # no NULL-keyed or singleton doc leaks into the labels
    null_or_solo = {i for i, k in rows if k is None or k.startswith("solo")}
    assert not null_or_solo & {d for d, _ in fast}


def test_ivf_full_probe_equals_brute_force(spark, sf_dir):
    from openpolicedata_spark.operators.similarity import (
        brute_force_topk, ivf_assign, ivf_topk, train_ivf_centroids)
    from openpolicedata_spark.sources.file import read_parquet_repaired

    emb = read_parquet_repaired(spark, f"{sf_dir}/embeddings.parquet")
    qvec = emb.where(emb.vec_id == 0).first()["embedding"]
    corpus = emb.where(emb.vec_id != 0)
    cents = train_ivf_centroids(corpus, n_lists=8)
    idx = ivf_assign(corpus, cents)
    exact = [(r.vec_id, round(r.score, 6)) for r in
             brute_force_topk(corpus, qvec, k=10).collect()]
    full = [(r.vec_id, round(r.score, 6)) for r in
            ivf_topk(idx, cents, qvec, k=10, nprobe=8).collect()]
    assert full == exact
    # partial probe: scans a fraction of lists, keeps decent recall
    part = {r.vec_id for r in ivf_topk(idx, cents, qvec, k=10, nprobe=3).collect()}
    assert len(part & {v for v, _ in exact}) >= 5


def test_ngram_jaccard_pairs_inner_join_and_set_semantics(spark):
    """Pairs referencing ids absent from the corpus are dropped (inner-join
    semantics) and duplicate input pairs collapse to one output row."""
    from openpolicedata_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(1, "abcdef"), (2, "abcdxy")], "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 2), (1, 2), (1, 99)], "id_a long, id_b long")
    rows = ngram_jaccard_pairs(docs, pairs, n=3).collect()
    assert len(rows) == 1
    assert (rows[0].id_a, rows[0].id_b) == (1, 2)
    assert rows[0].jaccard is not None


def test_dedup_cascade_statuses(spark):
    """Cascade attribution: identical copies drop as exact_dup, fuzzy
    copies as near_dup (min id survives each group), the rest keep."""
    from openpolicedata_spark.operators.dedup import dedup_cascade

    base = " ".join(f"tok{i}" for i in range(40))
    near = " ".join(f"tok{i}" for i in range(39)) + " changed"
    rows = [
        (1, base), (2, base),          # 2 is an exact dup of 1
        (3, near),                     # near dup of 1 (39/41 shingles)
        (4, " ".join(f"other{i}" for i in range(40))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.status
           for r in dedup_cascade(docs, jaccard_threshold=0.5).collect()}
    assert got == {1: "kept", 2: "exact_dup", 3: "near_dup", 4: "kept"}
    # exactly one row per input id
    assert len(got) == 4


def test_kmeans_fit_recovers_separated_clusters(spark):
    """Distributed Lloyd over three well-separated blobs must place one
    centroid near each true center, deterministically."""
    import numpy as np

    from openpolicedata_spark.operators.similarity import (
        ivf_assign,
        kmeans_fit,
    )

    rng = np.random.RandomState(7)
    centers = np.array([[0.0, 0.0], [10.0, 10.0], [-10.0, 8.0]])
    pts = [(i, (centers[i % 3] + rng.normal(0, 0.3, 2)).tolist())
           for i in range(300)]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")

    cent = kmeans_fit(df, k=3, iters=6)
    got = sorted(tuple(round(x) for x in c) for c in cent)
    assert got == [(-10, 8), (0, 0), (10, 10)], cent
    # determinism
    assert kmeans_fit(df, k=3, iters=6) == cent
    # every point lands with its own blob
    a = {r.vec_id: r.list_id for r in ivf_assign(df, cent).collect()}
    blobs = {}
    for i, lid in a.items():
        blobs.setdefault(i % 3, set()).add(lid)
    assert all(len(s) == 1 for s in blobs.values())


def test_mmr_select_balances_relevance_and_diversity(spark):
    """MMR: lam=1 equals plain top-k by query similarity; lam<1 must skip
    a near-duplicate of an already-selected item in favor of a diverse
    one; selection is deterministic."""
    from openpolicedata_spark.operators.similarity import (
        brute_force_topk,
        mmr_select,
    )

    rows = [
        (1, [1.0, 0.0, 0.0]),      # relevant, redundant with 2
        (2, [0.999, 0.01, 0.0]),   # most relevant, near-dup of 1
        (3, [0.0, 1.0, 0.0]),      # equally relevant to q, diverse from 2
        (4, [-1.0, 0.2, 0.0]),     # anti-relevant
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [1.0, 1.0, 0.0]

    top = [r.vec_id for r in brute_force_topk(df, q, k=2).collect()]
    lam1 = [i for i, _ in mmr_select(df, q, k=2, lam=1.0)]
    assert lam1 == top == [2, 1]

    lam5 = [i for i, _ in mmr_select(df, q, k=2, lam=0.5)]
    assert lam5[0] == 2 and lam5[1] == 3   # near-dup 1 penalized away
    assert lam5 == [i for i, _ in mmr_select(df, q, k=2, lam=0.5)]

    # k > corpus: selects everything, no crash
    assert len(mmr_select(df, q, k=10, lam=0.5)) == 4


def test_expand_maptype_dict_columns(spark):
    """MapType person columns (the reference's dict encoding) expand like
    arrays: key-ordered values, one row per person, scalars replicated."""
    from openpolicedata_spark.operators import expand

    df = spark.createDataFrame(
        [(1, {0: "WHITE", 1: "BLACK"}, "x"), (2, {0: "ASIAN"}, "y")],
        "id long, race map<int,string>, note string")
    out = expand(df).orderBy("id", "PERSON_INDEX").collect()
    assert [(r.id, r.PERSON_INDEX, r.race, r.note) for r in out] == [
        (1, 0, "WHITE", "x"), (1, 1, "BLACK", "x"), (2, 0, "ASIAN", "y")]


def test_merge_tables_list_keys(spark):
    """left_on/right_on as LISTS (the pd.merge parity case that used to
    crash on an operator-precedence bug in key normalization)."""
    from openpolicedata_spark.operators.merge import merge_tables

    l = spark.createDataFrame([(1, "x", 10), (2, "y", 20)],
                              "a long, b string, v long")
    r = spark.createDataFrame([(1, "x", "m1"), (2, "z", "m2")],
                              "c long, d string, w string")
    out = merge_tables(l, r, left_on=["a", "b"], right_on=["c", "d"])
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["v"] == 10 and rows[0]["w"] == "m1"
    # same-name list keys
    r2 = spark.createDataFrame([(1, "x", "m1")], "a long, b string, w string")
    assert merge_tables(l, r2, left_on=["a", "b"]).count() == 1
    import pytest as _pt
    with _pt.raises(ValueError, match="mismatch"):
        merge_tables(l, r, left_on=["a", "b"], right_on=["c"])


def test_lsh_banding_validation(spark):
    from openpolicedata_spark.operators.dedup import (
        check_banding,
        minhash_lsh_dup_pairs,
    )
    import pytest as _pt

    assert check_banding(64, 16) == 4
    with _pt.raises(ValueError, match="bands must be in"):
        check_banding(64, 100)
    with _pt.raises(ValueError, match="divide"):
        check_banding(64, 24)
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pt.raises(ValueError):
        minhash_lsh_dup_pairs(df, num_hashes=32, bands=33).count()


def test_dup_clusters_raises_on_non_convergence(spark):
    from openpolicedata_spark.operators.dedup import dup_clusters
    import pytest as _pt

    # a 6-node chain has diameter 5 > max_iterations=2
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "id_a long, id_b long")
    with _pt.raises(RuntimeError, match="did not converge"):
        dup_clusters(chain, max_iterations=2)
    # enough rounds: one component labeled by its minimum
    ok = dup_clusters(chain, max_iterations=10)
    assert {r["cluster_id"] for r in ok.collect()} == {1}


def test_dup_clusters_pointer_jumping_equivalence_and_rounds(spark):
    """Round 10 (verdict item 3): the label(label) shortcut computes
    IDENTICAL labels to plain propagation on a mixed graph (chain +
    triangle clique + star + pair), and cuts rounds from O(diameter)
    to O(log diameter): 5 rounds resolve a 12-chain only WITH the
    shortcut (plain propagation needs 11 propagate rounds + confirm,
    so max_iterations=5 must raise)."""
    import pytest as _pt
    from openpolicedata_spark.operators.dedup import dup_clusters

    edges = ([(i, i + 1) for i in range(1, 12)]            # 12-chain
             + [(100, 101), (101, 102), (100, 102)]        # triangle
             + [(200, 201), (200, 202), (200, 203)]        # star
             + [(300, 301)])                               # pair
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {(r.doc_id, r.cluster_id)
            for r in dup_clusters(pairs, compress=True).collect()}
    slow = {(r.doc_id, r.cluster_id)
            for r in dup_clusters(pairs, compress=False,
                                  max_iterations=30).collect()}
    want = ({(i, 1) for i in range(1, 13)}
            | {(100 + i, 100) for i in range(3)}
            | {(200 + i, 200) for i in range(4)}
            | {(300, 300), (301, 300)})
    assert fast == slow == want
    with _pt.raises(RuntimeError, match="did not converge"):
        dup_clusters(pairs, compress=False, max_iterations=5)
    assert {(r.doc_id, r.cluster_id)
            for r in dup_clusters(pairs, compress=True,
                                  max_iterations=5).collect()} == want


class TestSemDeDup:
    CENTROIDS = [[1.0, 0.0], [0.0, 1.0]]

    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_keeps_one_representative_per_near_dup_set(self, spark):
        from openpolicedata_spark.operators.similarity import semdedup

        rows = [
            (1, [1.0, 0.05]),    # cluster 0
            (2, [1.0, 0.05]),    # exact dup of 1 -> dropped
            (3, [1.0, -0.9]),    # cluster 0 but far from 1 -> kept
            (4, [0.1, 1.0]),     # cluster 1, alone -> kept
        ]
        out = {r["vec_id"]: (r["keep"], r["max_cos_prev"], r["list_id"])
               for r in semdedup(self._df(spark, rows), self.CENTROIDS,
                                 threshold=0.95).collect()}
        assert out[1][0] and out[1][1] is None
        assert not out[2][0] and abs(out[2][1] - 1.0) < 1e-9
        assert out[3][0] and out[3][1] < 0.95
        assert out[4][0] and out[4][1] is None
        assert out[1][2] == out[2][2] == out[3][2] == 0
        assert out[4][2] == 1

    def test_smallest_id_wins_and_chunking(self, spark):
        from openpolicedata_spark.operators.similarity import semdedup

        rows = [(i, [1.0, 0.0]) for i in range(7, 0, -1)]
        out = semdedup(self._df(spark, rows), self.CENTROIDS,
                       threshold=0.99, chunk_rows=2)
        kept = sorted(r["vec_id"] for r in out.collect() if r["keep"])
        assert kept == [1]

    def test_oversized_cluster_passes_through(self, spark):
        from openpolicedata_spark.operators.similarity import semdedup

        rows = [(i, [1.0, 0.0]) for i in range(5)]
        out = semdedup(self._df(spark, rows), self.CENTROIDS,
                       threshold=0.9, max_cluster_size=3).collect()
        assert all(r["keep"] for r in out)
        assert all(r["max_cos_prev"] is None for r in out)

    def test_zero_vectors_no_nan(self, spark):
        from openpolicedata_spark.operators.similarity import semdedup

        rows = [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [1.0, 0.0])]
        out = {r["vec_id"]: r for r in
               semdedup(self._df(spark, rows), self.CENTROIDS,
                        threshold=0.5).collect()}
        # zero vectors have cosine 0 to everything (guarded norm) -> kept
        assert out[1]["keep"] and out[2]["keep"]


class TestKnnGraph:
    def test_topk_edges_within_buckets(self, spark):
        from openpolicedata_spark.operators.similarity import (
            knn_graph,
            make_random_planes,
        )

        # two tight clusters far apart: edges stay within a cluster
        rows = ([(i, [1.0, 0.01 * i]) for i in range(4)]
                + [(10 + i, [-1.0, -0.01 * i]) for i in range(4)])
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        g = knn_graph(df, make_random_planes(2, 4), k=2).collect()
        assert all(
            (r["src"] < 10) == (r["dst"] < 10) for r in g), g
        by_src = {}
        for r in g:
            by_src.setdefault(r["src"], []).append(r)
        for src, edges in by_src.items():
            assert len(edges) <= 2
            assert [e["rank"] for e in sorted(edges, key=lambda e: e["rank"])] \
                == list(range(1, len(edges) + 1))

    def test_symmetrization_and_cap(self, spark):
        from openpolicedata_spark.operators.similarity import (
            knn_graph,
            make_random_planes,
        )

        rows = [(i, [1.0, 0.0]) for i in range(5)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        g = knn_graph(df, make_random_planes(2, 4), k=10).collect()
        # identical vectors: complete graph, both directions present
        assert len(g) == 5 * 4
        # max_bucket_size below the cluster: no edges at all
        g2 = knn_graph(df, make_random_planes(2, 4), k=10,
                       max_bucket_size=3).collect()
        assert g2 == []


def test_semdedup_operator_matches_q109_keep_set(spark, sf_dir):
    """The production Arrow path (ivf_assign argmin + chunked matmul) and
    q109's DECIMAL expression formulation must agree on the keep set for
    the same centroids/threshold on the real testdata subset."""
    import numpy as np

    from openpolicedata_spark import workload
    from openpolicedata_spark.operators.similarity import semdedup

    sf = sf_dir
    ref = {r["vec_id"]: r["keep"]
           for r in workload.queries()["q109_semantic_dedup"](spark, sf).collect()}

    emb = (spark.read.parquet(f"{sf}/embeddings.parquet")
           .where(F.col("vec_id") % 5 == 0))
    rows = emb.select("vec_id", "label", "embedding").collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(
            np.array(r["embedding"], dtype=np.float64))
    labels = sorted(by_label)
    cents = [np.mean(np.stack(by_label[l]), axis=0).tolist() for l in labels]
    got_rows = semdedup(emb, cents, threshold=0.9).collect()
    # semdedup's list_id indexes into cents == position in sorted labels
    got = {r["vec_id"]: r["keep"] for r in got_rows}
    assert got == ref


class TestFrequentDirections:
    def test_error_bound_and_energy(self, spark):
        import numpy as np

        from openpolicedata_spark.operators.similarity import (
            frequent_directions,
        )

        rng = np.random.RandomState(7)
        A = rng.randn(300, 16) * np.array([10.0] * 4 + [1.0] * 12)
        df = spark.createDataFrame(
            [(i, row.tolist()) for i, row in enumerate(A)],
            "vec_id long, embedding array<double>").repartition(4)
        ell = 8
        B = frequent_directions(df, ell=ell)
        assert B.shape == (ell, 16)
        err = np.linalg.norm(A.T @ A - B.T @ B, 2)
        bound = (np.linalg.norm(A, "fro") ** 2) / ell
        assert err <= bound + 1e-6
        # the sketch keeps the dominant subspace: top-4 energy mostly there
        top = np.linalg.svd(B, full_matrices=False)[2][:4]
        proj = np.linalg.norm(A @ top.T, "fro") ** 2
        assert proj > 0.8 * np.linalg.norm(A, "fro") ** 2

    def test_exact_when_rank_fits(self, spark):
        import numpy as np

        from openpolicedata_spark.operators.similarity import (
            frequent_directions,
        )

        # rows <= ell per the whole corpus: BᵀB must equal AᵀA exactly
        A = np.arange(12, dtype=np.float64).reshape(4, 3)
        df = spark.createDataFrame(
            [(i, row.tolist()) for i, row in enumerate(A)],
            "vec_id long, embedding array<double>")
        B = frequent_directions(df, ell=6)
        assert np.allclose(A.T @ A, B.T @ B, atol=1e-8)

    def test_empty_raises(self, spark):
        import pytest as _pytest

        from openpolicedata_spark.operators.similarity import (
            frequent_directions,
        )

        df = spark.createDataFrame([], "vec_id long, embedding array<double>")
        with _pytest.raises(ValueError):
            frequent_directions(df, ell=4)


def test_frequent_directions_terminates_when_dim_le_ell(spark):
    """dim <= ell regression: the shrink must rank-compact (never return
    the buffer unchanged) or the driver merge loop spins forever."""
    import numpy as np

    from openpolicedata_spark.operators.similarity import frequent_directions

    rng = np.random.RandomState(3)
    A = rng.randn(200, 8)
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(A)],
        "vec_id long, embedding array<double>").repartition(4)
    B = frequent_directions(df, ell=16)   # ell > dim
    assert B.shape[0] <= 16
    # nothing to subtract in this regime: BᵀB is exact
    assert np.allclose(A.T @ A, B.T @ B, atol=1e-6)


class TestExactDedupIncremental:
    def test_increments_never_readmit(self, spark, tmp_path):
        from openpolicedata_spark.operators.dedup import (
            exact_dedup_incremental,
            exact_dedup_ingest,
        )

        idx = str(tmp_path / "digest_index")
        out = str(tmp_path / "out")
        b1 = spark.createDataFrame(
            [(1, "alpha beta"), (2, "alpha beta"), (3, "gamma")],
            "doc_id long, text string")
        k1 = exact_dedup_incremental(b1, idx)
        assert sorted(r["doc_id"] for r in k1.collect()) == [1, 3]
        # read-only: admitting is exact_dedup_ingest's job
        exact_dedup_ingest(b1, idx, out, "b1")
        b2 = spark.createDataFrame(
            [(10, "alpha beta"), (11, "delta")],
            "doc_id long, text string")
        k2 = exact_dedup_incremental(b2, idx)
        assert sorted(r["doc_id"] for r in k2.collect()) == [11]
        exact_dedup_ingest(b2, idx, out, "b2")
        # third increment repeats everything: nothing admitted
        assert exact_dedup_incremental(b1.unionByName(b2), idx).count() == 0
        assert spark.read.parquet(idx).distinct().count() == 3

    def test_default_leaves_index_and_null_text_collapses(self, spark,
                                                          tmp_path):
        from openpolicedata_spark.operators.dedup import (
            exact_dedup_incremental,
            exact_dedup_ingest,
        )

        idx = str(tmp_path / "idx2")
        b = spark.createDataFrame(
            [(1, None), (2, ""), (3, "x")], "doc_id long, text string")
        k = exact_dedup_incremental(b, idx)   # never writes the index
        # NULL and empty text share one dup group (min id 1 wins)
        assert sorted(r["doc_id"] for r in k.collect()) == [1, 3]
        import os

        assert not os.path.isdir(idx)
        exact_dedup_ingest(b, idx, str(tmp_path / "out"), "b")
        # null-text content is now indexed: never re-admitted
        again = exact_dedup_incremental(b, idx)
        assert again.count() == 0

    def test_half_written_index_reads_as_empty(self, spark, tmp_path):
        import os

        from openpolicedata_spark.operators.dedup import (
            exact_dedup_incremental,
        )

        idx = str(tmp_path / "idx3")
        os.makedirs(idx)                      # dir exists, no data files
        b = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        assert exact_dedup_incremental(b, idx).count() == 1


class TestExactDedupIngest:
    """Exactly-once ingest: survivors and digests publish together
    (crash cases: tests/test_sink_publication.py)."""

    def _batch(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_redelivery_is_exactly_once(self, spark, tmp_path):
        from openpolicedata_spark.operators.dedup import exact_dedup_ingest

        idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
        b1 = self._batch(spark, [(1, "alpha"), (2, "alpha"), (3, "beta")])
        k1 = exact_dedup_ingest(b1, idx, out, "day1")
        assert sorted(r["doc_id"] for r in k1.collect()) == [1, 3]
        # full redelivery of the SAME batch id: the published partition
        # short-circuits — output unchanged, index digests not duplicated
        k1b = exact_dedup_ingest(b1, idx, out, "day1")
        assert sorted(r["doc_id"] for r in k1b.collect()) == [1, 3]
        corpus = spark.read.parquet(out)
        assert corpus.count() == 2
        idx_rows = spark.read.parquet(idx)
        assert idx_rows.where("fingerprint IS NOT NULL").count() == 2
        assert idx_rows.where("fingerprint IS NULL").count() == 0
        # a later batch with overlapping content dedups against day1
        b2 = self._batch(spark, [(10, "alpha"), (11, "gamma")])
        k2 = exact_dedup_ingest(b2, idx, out, "day2")
        assert sorted(r["doc_id"] for r in k2.collect()) == [11]
        assert spark.read.parquet(out).count() == 3
        assert set(r["batch"] for r in
                   spark.read.parquet(out).select("batch").collect()) \
            == {"day1", "day2"}

    def test_interop_with_legacy_single_column_index(self, spark,
                                                     tmp_path):
        from openpolicedata_spark.functions.text import fingerprint_md5_expr
        from openpolicedata_spark.operators.dedup import (
            exact_dedup_incremental,
            exact_dedup_ingest,
        )

        idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
        legacy = self._batch(spark, [(1, "alpha")])
        legacy.select(fingerprint_md5_expr(F.col("text"))
                      .alias("fingerprint")).write.parquet(idx)
        k = exact_dedup_ingest(
            self._batch(spark, [(2, "alpha"), (3, "beta")]),
            idx, out, "day1")
        assert sorted(r["doc_id"] for r in k.collect()) == [3]
        # and the incremental reader sees both writers' digests
        k2 = exact_dedup_incremental(
            self._batch(spark, [(4, "beta"), (5, "delta")]), idx)
        assert sorted(r["doc_id"] for r in k2.collect()) == [5]

    def test_rejects_path_unsafe_batch_id(self, spark, tmp_path):
        from openpolicedata_spark.operators.dedup import exact_dedup_ingest

        with pytest.raises(ValueError, match="path-safe"):
            exact_dedup_ingest(self._batch(spark, [(1, "x")]),
                               str(tmp_path / "i"), str(tmp_path / "o"),
                               "../escape")


def test_pq_trained_recall_and_code_compression(spark):
    """PQ end-to-end on planted clusters: train codebooks, encode to m
    byte-range codes, ADC-search — the true nearest neighbors (same
    planted cluster as the query) dominate the top-k, and codes stay
    within 1..k (byte-compressible)."""
    import numpy as np

    from openpolicedata_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(4, 32))
    rows = []
    for i in range(200):
        c = centers[i % 4]
        rows.append((i, (c + 0.05 * rng.normal(size=32)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    books = pq_train(df, m=4, k=8, iters=3)
    assert len(books) == 4 and all(len(b) == 8 for b in books)
    assert all(len(c) == 8 for b in books for c in b)

    codes = pq_encode(df, books)
    stats = codes.selectExpr(
        *[f"min(code_{s}) as lo_{s}" for s in range(4)],
        *[f"max(code_{s}) as hi_{s}" for s in range(4)]).head()
    assert all(stats[f"lo_{s}"] >= 1 and stats[f"hi_{s}"] <= 8
               for s in range(4))

    qvec = rows[0][1]  # a cluster-0 member
    got = pq_adc_topk(codes.where("vec_id <> 0"), books, qvec, topk=20)
    ids = [r.vec_id for r in got.collect()]
    same_cluster = sum(1 for i in ids if i % 4 == 0)
    # ADC over quantized codes keeps most true neighbors in the top-20
    assert same_cluster >= 15, (same_cluster, ids)
    # and the distances are monotone non-decreasing
    dists = [r.adc_dist for r in got.collect()]
    assert dists == sorted(dists)


def test_ivfpq_residual_beats_raw_at_equal_budget(spark):
    """FAISS's by_residual claim, measured: on a clustered corpus with
    coarse structure ~20x the local noise, residual-encoded PQ
    (codebooks trained on v - coarse_centroid[list]) must recall more
    true neighbors than raw-vector PQ at the SAME m x k budget — the
    raw codebooks waste their dynamic range re-encoding the cluster
    geometry that IVF routing already captured (round-6 verdict item 5)."""
    import numpy as np

    from openpolicedata_spark.operators.similarity import (
        adc_residual_score_sql,
        adc_score_sql,
        ivf_residual_corpus,
        ivfpq_residual_encode,
        pq_encode,
        pq_train,
    )

    rng = np.random.default_rng(11)
    centers = 20.0 * rng.normal(size=(4, 16))
    vecs = []
    for i in range(240):
        vecs.append(centers[i % 4] + 0.5 * rng.normal(size=16))
    qv = centers[0] + 0.5 * rng.normal(size=16)
    X = np.array(vecs)
    true10 = set(np.argsort(((X - qv) ** 2).sum(1))[:10].tolist())

    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    coarse = [c.tolist() for c in centers]
    qvec = qv.tolist()

    raw_books = pq_train(df, m=8, k=8, iters=3)
    res_books = pq_train(ivf_residual_corpus(df, coarse),
                         m=8, k=8, iters=3)

    raw_codes = pq_encode(df, raw_books)
    raw_ids = [r.vec_id for r in raw_codes.selectExpr(
        "vec_id", f"({adc_score_sql(raw_books, qvec)}) AS d")
        .orderBy("d", "vec_id").limit(10).collect()]

    res_codes = ivfpq_residual_encode(df, res_books, coarse)
    res_ids = [r.vec_id for r in res_codes.selectExpr(
        "vec_id",
        f"({adc_residual_score_sql(res_books, coarse, qvec)}) AS d")
        .orderBy("d", "vec_id").limit(10).collect()]

    recall_raw = len(true10 & set(raw_ids)) / 10.0
    recall_res = len(true10 & set(res_ids)) / 10.0
    # measured with this seed: raw 0.3, residual 0.6 — the structural
    # gap, not a marginal tie (all inputs deterministic)
    assert recall_res > recall_raw, (recall_res, recall_raw)
    assert recall_res >= 0.5, recall_res


def test_ivfpq_residual_multiprobe_recall_curve(spark):
    """The nprobe knob FAISS users tune first, measured on the residual
    path (round-7 verdict item 6): on OVERLAPPING clusters (separation
    ~2x the local noise, so true neighbors spill across coarse lists)
    recall@10 must be monotone non-decreasing in nprobe and strictly
    better at nprobe=4 than nprobe=1 — probing more lists recovers the
    spilled neighbors. At this seed the true top-10 sits 5/8/10 in the
    probe order's first 1/2/4 lists (the routing-side ceiling; ADC
    quantization can only lower it). Numbers recorded in SCALE.md
    ("Multi-probe recall")."""
    import numpy as np

    from openpolicedata_spark.operators.similarity import (
        adc_residual_score_sql,
        ivf_residual_corpus,
        pq_encode_arrow,
        pq_train,
    )

    rng = np.random.default_rng(7)
    centers = 6.0 * rng.normal(size=(4, 16))
    vecs = [centers[i % 4] + 6.0 * rng.normal(size=16)
            for i in range(240)]
    qv = centers[0] + 6.0 * rng.normal(size=16)
    X = np.array(vecs)
    true10 = set(np.argsort(((X - qv) ** 2).sum(1))[:10].tolist())

    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    coarse = [c.tolist() for c in centers]
    qvec = qv.tolist()
    books = pq_train(ivf_residual_corpus(df, coarse), m=8, k=8, iters=3)
    codes = pq_encode_arrow(df, books, coarse=coarse,
                            residual=True).cache()
    score = adc_residual_score_sql(books, coarse, qvec)

    # probe order = query's coarse distances, the q151/q156 rule
    qd = sorted((sum((qv[d] - centers[li][d]) ** 2 for d in range(16)),
                 li + 1) for li in range(4))
    order = [li for _d, li in qd]

    recall = {}
    for nprobe in (1, 2, 4):
        probe = order[:nprobe]
        ids = [r.vec_id for r in codes
               .where(F.col("list_id").isin(probe))
               .selectExpr("vec_id", f"({score}) AS d")
               .orderBy("d", "vec_id").limit(10).collect()]
        recall[nprobe] = len(true10 & set(ids)) / 10.0
    codes.unpersist()
    assert recall[1] <= recall[2] <= recall[4], recall
    assert recall[4] > recall[1], recall
    assert recall[4] >= 0.5, recall


def test_ivfpq_residual_encode_shape_and_python_free(spark):
    from openpolicedata_spark.operators.similarity import (
        ivfpq_residual_encode,
    )
    from openpolicedata_spark.workload import _ivf_coarse, _pq_codebooks
    from tests.test_plans import assert_no_python_in_plan

    df = spark.range(8).selectExpr(
        "id as vec_id",
        "transform(sequence(1, 64), x -> cast(x * (id + 1) % 7 AS double)"
        ") as embedding")
    out = ivfpq_residual_encode(df, _pq_codebooks(), _ivf_coarse())
    rows = out.collect()
    assert out.columns == ["vec_id", "list_id"] + [
        f"code_{s}" for s in range(8)]
    assert all(1 <= r.list_id <= 4 for r in rows)
    assert all(1 <= r[f"code_{s}"] <= 16 for r in rows for s in range(8))
    # deterministic under repartitioning, and all-JVM
    again = ivfpq_residual_encode(df.repartition(3), _pq_codebooks(),
                                  _ivf_coarse()).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    assert_no_python_in_plan(out)


def test_pq_encode_arrow_matches_expression_encoders(spark):
    """The Arrow kernel is bit-equal to the expression spec in all
    three modes — raw PQ, IVF route + raw encode (q151), and residual
    IVFPQ (q156) — including the first-minimum argmin tiebreak and the
    in-kernel probe prune. This is the contract that lets the DuckDB
    oracles keep replaying the SQL form while Spark runs the kernel."""
    from openpolicedata_spark.operators.similarity import (
        ivf_route_sql,
        ivfpq_residual_encode,
        pq_encode,
        pq_encode_arrow,
    )
    from openpolicedata_spark.workload import _ivf_coarse, _pq_codebooks

    books = _pq_codebooks()
    coarse = _ivf_coarse()
    # row 40 carries a NULL embedding: the kernel must null-propagate
    # (NULL list_id + NULL codes) exactly like the expression form —
    # review finding: np.stack over a None crashed the whole stage
    df = spark.range(41).selectExpr(
        "id as vec_id",
        "CASE WHEN id = 40 THEN NULL ELSE "
        "transform(sequence(1, 64), x -> cast(pmod(x * (id + 3), 13) - 6"
        " AS double) / 4.0d) END as embedding")

    key = lambda rows: sorted(  # noqa: E731
        map(tuple, rows), key=lambda t: tuple((v is None, v) for v in t))

    # raw PQ (q149 path)
    assert key(pq_encode_arrow(df, books).collect()) == \
        key(pq_encode(df, books).collect())

    # IVF route + raw encode (q151 path)
    routed = df.selectExpr(
        "vec_id",
        ivf_route_sql("CAST(embedding AS ARRAY<DOUBLE>)", coarse)
        + " AS list_id")
    sql_151 = routed.join(pq_encode(df, books), "vec_id").select(
        "vec_id", "list_id", *[f"code_{s}" for s in range(len(books))])
    got_151 = pq_encode_arrow(df, books, coarse=coarse, residual=False)
    assert got_151.columns == sql_151.columns
    assert key(got_151.collect()) == key(sql_151.collect())

    # residual IVFPQ (q156 path), plus the in-kernel probe prune
    sql_156 = ivfpq_residual_encode(df, books, coarse)
    got_156 = pq_encode_arrow(df, books, coarse=coarse, residual=True)
    assert key(got_156.collect()) == key(sql_156.collect())
    probe = [1, 3]
    pruned = pq_encode_arrow(df, books, coarse=coarse, residual=True,
                             probe=probe)
    want = [t for t in map(tuple, sql_156.collect()) if t[1] in probe]
    assert key(pruned.collect()) == sorted(want)

    # an embedding with a null ELEMENT (NaN after Arrow): the kernel
    # nulls the WHOLE row (documented as stricter than the expression
    # form's per-subspace nulls — argmin over NaN used to return
    # definite garbage codes), and under probe pruning the row drops
    # exactly like the expression form's NULL-list `isin`
    dfn = spark.createDataFrame(
        [(0, [1.0] * 64), (1, [1.0] * 32 + [None] + [1.0] * 31)],
        "vec_id long, embedding array<double>")
    rows_n = {r.vec_id: r for r in
              pq_encode_arrow(dfn, books, coarse=coarse).collect()}
    assert rows_n[0].list_id is not None
    assert rows_n[1].list_id is None
    assert all(rows_n[1][f"code_{s}"] is None for s in range(len(books)))
    assert [r.vec_id for r in pq_encode_arrow(
        dfn, books, coarse=coarse, probe=[1, 2, 3, 4]).collect()] == [0]

    # a WRONG-LENGTH embedding is a schema/model mismatch, not data
    # corruption: the kernel names the offender instead of crashing
    # np.stack with an opaque ragged-array error (ADVICE r8), and a
    # coarse model whose dimension disagrees with the codebooks is
    # refused at construction
    import pytest as _pytest

    dfr = spark.createDataFrame(
        [(0, [1.0] * 64), (1, [1.0] * 63)],
        "vec_id long, embedding array<double>")
    with _pytest.raises(Exception, match="embedding length 63"):
        pq_encode_arrow(dfr, books).collect()
    with _pytest.raises(ValueError, match="coarse centroid dimension"):
        pq_encode_arrow(df, books, coarse=[[0.0] * 63] * 4)


def test_pq_encode_is_deterministic_and_python_free(spark):
    from openpolicedata_spark.operators.similarity import pq_encode
    from openpolicedata_spark.workload import _pq_codebooks
    from tests.test_plans import assert_no_python_in_plan

    df = spark.range(6).selectExpr(
        "id as vec_id",
        "transform(sequence(1, 64), x -> cast(x * (id + 1) % 7 AS double)"
        ") as embedding")
    books = _pq_codebooks()
    a = pq_encode(df, books).collect()
    b = pq_encode(df.repartition(3), books).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert_no_python_in_plan(pq_encode(df, books))


def test_keep_best_survivor_selection(spark):
    """keep_best keeps the highest-score member per cluster with a
    deterministic id tiebreak — NOT the smallest id (the min-id
    convention dup_clusters' cluster_id uses)."""
    from openpolicedata_spark.operators.dedup import keep_best

    labeled = spark.createDataFrame(
        [(1, 10, 0.3), (2, 10, 0.9), (3, 10, 0.9),   # tie: min id wins
         (7, 70, 0.5),                               # singleton
         (8, 80, 0.1), (9, 80, 0.7)],
        "doc_id long, cluster_id long, quality double")
    got = {r.cluster_id: (r.doc_id, r.quality)
           for r in keep_best(labeled).collect()}
    assert got == {10: (2, 0.9), 70: (7, 0.5), 80: (9, 0.7)}
    # numeric ids take the skew-safe max_by aggregate (no Window node)
    assert "Window" not in keep_best(labeled)._jdf.queryExecution() \
        .optimizedPlan().toString()

    # string ids fall back to the window path with identical semantics
    s = labeled.selectExpr("concat('d', doc_id) AS doc_id",
                           "cluster_id", "quality")
    got_s = {r.cluster_id: (r.doc_id, r.quality)
             for r in keep_best(s).collect()}
    assert got_s == {10: ("d2", 0.9), 70: ("d7", 0.5), 80: ("d9", 0.7)}


class TestGapFill:
    def _events(self, spark):
        # user 1: observations in hours 0, 3 (two rows in hour 3), 4
        # user 2: single observation (degenerate grid)
        rows = [
            (1, "2024-01-01 00:10:00", 1.0),
            (1, "2024-01-01 03:20:00", 2.0),
            (1, "2024-01-01 03:50:00", 5.0),
            (1, "2024-01-01 04:05:00", 3.0),
            (2, "2024-01-02 07:59:59", 9.0),
        ]
        return spark.createDataFrame(
            rows, "user_id int, t string, value double",
        ).select("user_id",
                 F.col("t").cast("timestamp_ntz").alias("ts"), "value")

    def test_grid_fill_and_gap_flags(self, spark):
        from openpolicedata_spark.operators.events import gap_fill

        out = gap_fill(self._events(spark), key_col="user_id",
                       ts_col="ts", value_col="value",
                       step_seconds=3600)
        rows = {(r.user_id, str(r.bucket_ts)): (r.value, r.is_gap)
                for r in out.collect()}
        # user 1: hours 0..4 — gaps at 1 and 2 carry hour 0's value;
        # hour 3 takes the bucket MAX of its two rows
        assert rows[(1, "2024-01-01 00:00:00")] == (1.0, False)
        assert rows[(1, "2024-01-01 01:00:00")] == (1.0, True)
        assert rows[(1, "2024-01-01 02:00:00")] == (1.0, True)
        assert rows[(1, "2024-01-01 03:00:00")] == (5.0, False)
        assert rows[(1, "2024-01-01 04:00:00")] == (3.0, False)
        # user 2: one bucket, no gaps
        assert rows[(2, "2024-01-02 07:00:00")] == (9.0, False)
        assert len(rows) == 6
        # no leading NULL anywhere: every value is filled
        assert all(v is not None for v, _ in rows.values())

    def test_step_validation(self, spark):
        from openpolicedata_spark.operators.events import gap_fill

        with pytest.raises(ValueError, match="step_seconds"):
            gap_fill(self._events(spark), step_seconds=0)

    def test_interp_mode_linear_between_neighbors(self, spark):
        from openpolicedata_spark.operators.events import gap_fill

        rows = [(1, "2024-01-01 00:10:00", 1.0),
                (1, "2024-01-01 04:20:00", 9.0)]   # 4-bucket gap span
        df = spark.createDataFrame(
            rows, "user_id int, t string, value double",
        ).select("user_id",
                 F.col("t").cast("timestamp_ntz").alias("ts"), "value")
        out = gap_fill(df, key_col="user_id", ts_col="ts",
                       value_col="value", step_seconds=3600,
                       mode="interp")
        got = {str(r.bucket_ts): (r.value, r.is_gap)
               for r in out.collect()}
        assert got == {
            "2024-01-01 00:00:00": (1.0, False),
            "2024-01-01 01:00:00": (3.0, True),
            "2024-01-01 02:00:00": (5.0, True),
            "2024-01-01 03:00:00": (7.0, True),
            "2024-01-01 04:00:00": (9.0, False),
        }
        with pytest.raises(ValueError, match="mode"):
            gap_fill(df, mode="cubic")

    def test_max_span_buckets_drops_corrupted_epoch_key(self, spark):
        from openpolicedata_spark.operators.events import gap_fill

        rows = [(1, "2024-01-01 00:10:00", 1.0),
                (1, "2024-01-01 02:10:00", 2.0),
                (2, "1970-01-01 00:00:01", 5.0),   # corrupted epoch...
                (2, "2024-01-01 00:00:00", 6.0)]   # ...against 2024
        df = spark.createDataFrame(
            rows, "user_id int, t string, value double",
        ).select("user_id",
                 F.col("t").cast("timestamp_ntz").alias("ts"), "value")
        out = gap_fill(df, key_col="user_id", ts_col="ts",
                       value_col="value", step_seconds=3600,
                       max_span_buckets=1000)
        got = {(r.user_id) for r in out.collect()}
        assert got == {1}   # the 470k-bucket key dropped entirely
        assert out.count() == 3
        with pytest.raises(ValueError, match="max_span_buckets"):
            gap_fill(df, max_span_buckets=0)

    def test_null_values_are_non_observations(self, spark):
        from openpolicedata_spark.operators.events import gap_fill

        rows = [(1, "2024-01-01 00:30:00", None),   # NULL-only bucket
                (1, "2024-01-01 01:30:00", 7.0),
                (1, "2024-01-01 03:30:00", None)]   # NULL-only tail
        df = spark.createDataFrame(
            rows, "user_id int, t string, value double",
        ).select("user_id",
                 F.col("t").cast("timestamp_ntz").alias("ts"), "value")
        out = gap_fill(df, key_col="user_id", ts_col="ts",
                       value_col="value", step_seconds=3600)
        got = sorted((str(r.bucket_ts), r.value, r.is_gap)
                     for r in out.collect())
        # NULL rows anchor nothing: span is the single real observation
        assert got == [("2024-01-01 01:00:00", 7.0, False)]

    def test_q192_null_injection_is_present_and_exercised(self, spark,
                                                          sf_dir):
        """The q192/q198 oracles pin gap_fill's NULL-pre-filter only if
        the generative injection really produces NULLs (VERDICT r10:
        the testdata carries none natively, so the rule was vacuously
        green): assert the event_id % 19 junking yields NULLs at
        sf0.001 AND that it changes the filled output vs the
        uninjected input — the rule is exercised, not decorative."""
        from openpolicedata_spark.operators.events import gap_fill
        from openpolicedata_spark.sources.file import read_parquet_repaired

        e = read_parquet_repaired(spark, f"{sf_dir}/events.parquet")
        inj = e.withColumn(
            "value", F.when(F.col("event_id") % 19 == 0, F.lit(None))
            .otherwise(F.col("value")))
        assert inj.where(F.col("value").isNull()).count() > 0

        def gaps(frame):
            out = gap_fill(frame, key_col="user_id", ts_col="ts",
                           value_col="value", step_seconds=3600)
            return out.agg(
                F.sum(F.col("is_gap").cast("long"))).first()[0]

        # every injected NULL removes an observation: the injected run
        # must see strictly more gap buckets than the raw run
        assert gaps(inj) > gaps(e)


class TestScd2Intervals:
    def test_compression_and_intervals(self, spark):
        from openpolicedata_spark.operators.merge import scd2_intervals

        rows = [
            # key 1: A, A (noop), B, B (noop), A  -> 3 versions
            (1, 10, "2024-01-01 00:00:00", "A"),
            (1, 11, "2024-01-02 00:00:00", "A"),
            (1, 12, "2024-01-03 00:00:00", "B"),
            (1, 13, "2024-01-04 00:00:00", "B"),
            (1, 14, "2024-01-05 00:00:00", "A"),
            # key 2: NULL first (kept), NULL again (noop), then X
            (2, 20, "2024-01-01 00:00:00", None),
            (2, 21, "2024-01-02 00:00:00", None),
            (2, 22, "2024-01-03 00:00:00", "X"),
        ]
        df = spark.createDataFrame(
            rows, "k int, cid int, t string, v string"
        ).select("k", "cid",
                 F.col("t").cast("timestamp_ntz").alias("ts"), "v")
        out = scd2_intervals(df, "k", "ts", ["v"], tiebreak_col="cid")
        got = sorted(
            ((r.k, str(r.valid_from)[:10], r.v,
              None if r.valid_to is None else str(r.valid_to)[:10],
              r.is_current) for r in out.collect()))
        assert got == [
            (1, "2024-01-01", "A", "2024-01-03", False),
            (1, "2024-01-03", "B", "2024-01-05", False),
            (1, "2024-01-05", "A", None, True),
            (2, "2024-01-01", None, "2024-01-03", False),
            (2, "2024-01-03", "X", None, True),
        ]

    def test_tiebreak_orders_same_timestamp_changes(self, spark):
        from openpolicedata_spark.operators.merge import scd2_intervals

        rows = [(1, 2, "2024-01-01 00:00:00", "B"),
                (1, 1, "2024-01-01 00:00:00", "A")]
        df = spark.createDataFrame(
            rows, "k int, cid int, t string, v string"
        ).select("k", "cid",
                 F.col("t").cast("timestamp_ntz").alias("ts"), "v")
        out = scd2_intervals(df, "k", "ts", ["v"], tiebreak_col="cid")
        got = sorted((r.v, r.is_current) for r in out.collect())
        # cid orders A before B: A closes, B is current
        assert got == [("A", False), ("B", True)]

    def test_needs_value_cols(self, spark):
        from openpolicedata_spark.operators.merge import scd2_intervals

        df = spark.createDataFrame([(1,)], "k int")
        with pytest.raises(ValueError, match="value column"):
            scd2_intervals(df, "k", "ts", [])

    def test_delete_aware_cdc_log(self, spark):
        from openpolicedata_spark.operators.merge import scd2_intervals

        rows = [
            # A, delete (closes), delete (noop, junk payload differs),
            # A again (NEW version despite equal value), B, trailing
            # delete (closes, key ends with no current version)
            (1, 10, "2024-01-01", "U", "A"),
            (1, 11, "2024-01-02", "D", "zz"),
            (1, 12, "2024-01-03", "D", "yy"),
            (1, 13, "2024-01-04", "U", "A"),
            (1, 14, "2024-01-05", "U", "B"),
            (1, 15, "2024-01-06", "D", None),
            # key 2: starts with a delete (emits nothing), then X
            (2, 20, "2024-01-01", "D", None),
            (2, 21, "2024-01-02", "U", "X"),
        ]
        df = spark.createDataFrame(
            rows, "k int, cid int, t string, op string, v string"
        ).select("k", "cid", "op",
                 F.col("t").cast("timestamp_ntz").alias("ts"), "v")
        out = sorted((r.k, str(r.valid_from)[:10], r.v,
                      None if r.valid_to is None else str(r.valid_to)[:10],
                      r.is_current)
                     for r in scd2_intervals(
                         df, "k", "ts", ["v"], tiebreak_col="cid",
                         op_col="op").collect())
        assert out == [
            (1, "2024-01-01", "A", "2024-01-02", False),
            (1, "2024-01-04", "A", "2024-01-05", False),
            (1, "2024-01-05", "B", "2024-01-06", False),
            (2, "2024-01-02", "X", None, True),
        ]

    def test_null_op_is_an_upsert(self, spark):
        """A NULL op is an UPSERT, pinned (ADVICE r11): without the
        coalesce, three-valued logic masked the row's values to NULL
        (breaking run compression) AND dropped it from versions (a
        delete-like ghost). The log must fold exactly as if op='U'."""
        from openpolicedata_spark.operators.merge import scd2_intervals

        rows = [
            (1, 10, "2024-01-01", None, "A"),   # NULL-op open
            (1, 11, "2024-01-02", "U", "A"),    # no-op vs NULL-op row
            (1, 12, "2024-01-03", None, "B"),   # NULL-op real change
            (1, 13, "2024-01-04", "D", "zz"),   # delete closes it
            (2, 20, "2024-01-01", None, "X"),   # NULL-op only key
        ]
        df = spark.createDataFrame(
            rows, "k int, cid int, t string, op string, v string"
        ).select("k", "cid", "op",
                 F.col("t").cast("timestamp_ntz").alias("ts"), "v")
        out = scd2_intervals(df, "k", "ts", ["v"], tiebreak_col="cid",
                             op_col="op")
        got = sorted((r.k, str(r.valid_from)[:10], r.v,
                      None if r.valid_to is None else str(r.valid_to)[:10],
                      r.is_current) for r in out.collect())
        upserted = scd2_intervals(
            df.withColumn("op", F.coalesce("op", F.lit("U"))),
            "k", "ts", ["v"], tiebreak_col="cid", op_col="op")
        want = sorted((r.k, str(r.valid_from)[:10], r.v,
                       None if r.valid_to is None else str(r.valid_to)[:10],
                       r.is_current) for r in upserted.collect())
        assert got == want == [
            (1, "2024-01-01", "A", "2024-01-03", False),
            (1, "2024-01-03", "B", "2024-01-04", False),
            (2, "2024-01-01", "X", None, True),
        ]


class TestRadiusPairs:
    def _pts(self, spark, rows):
        return spark.createDataFrame(rows, "id long, lon double, lat double")

    def test_degree_metric_blocks_and_verifies(self, spark):
        from openpolicedata_spark.operators.geo import radius_pairs

        rows = [(1, 0.0, 0.0), (2, 0.3, 0.4),     # dist 0.5
                (3, 10.0, 10.0), (4, 10.6, 10.8),  # dist 1.0 > r
                (5, -0.2, -0.2)]                   # near 1 across cells
        out = radius_pairs(self._pts(spark, rows), "id", "lon", "lat",
                           radius=0.6, metric="degree")
        got = {(r.id_a, r.id_b): round(r.dist, 6) for r in out.collect()}
        assert set(got) == {(1, 2), (1, 5)}
        assert got[(1, 2)] == 0.5
        # neighbor-cell candidates found the cross-cell pair (1,5)
        assert abs(got[(1, 5)] - 0.282843) < 1e-6

    def test_haversine_metric_and_symmetric_single_match(self, spark):
        from openpolicedata_spark.functions.geo import haversine_km_expr
        from openpolicedata_spark.operators.geo import radius_pairs

        # ~111 km per degree of latitude at any longitude
        rows = [(1, 12.0, 45.0), (2, 12.0, 45.5), (3, 12.0, 47.0)]
        out = radius_pairs(self._pts(spark, rows), "id", "lon", "lat",
                           radius=60.0, metric="haversine")
        got = {(r.id_a, r.id_b): r.dist for r in out.collect()}
        assert set(got) == {(1, 2)}   # each pair exactly once
        assert 55.0 < got[(1, 2)] < 56.0

    def test_cell_cap_drops_degenerate_cells(self, spark):
        from openpolicedata_spark.operators.geo import radius_pairs

        # 10 co-located points (one hot cell) + a normal pair far away
        rows = ([(i, 0.01, 0.01) for i in range(10)]
                + [(100, 50.0, 50.0), (101, 50.1, 50.1)])
        df = self._pts(spark, rows)
        capped = radius_pairs(df, "id", "lon", "lat", radius=0.5,
                              metric="degree", max_cell_size=5)
        got = {(r.id_a, r.id_b) for r in capped.collect()}
        assert got == {(100, 101)}   # hot cell dropped, contract kept
        full = radius_pairs(df, "id", "lon", "lat", radius=0.5,
                            metric="degree")
        assert len(full.collect()) == 45 + 1

    def test_degree_metric_wraps_antimeridian(self, spark):
        """Round 11: the degree metric's longitude grid is a ring and
        the verify wraps Δlon modulo 360 — a ±180°-crossing pair is
        found with the wrapped distance (the r10 pinned limitation,
        deleted)."""
        from openpolicedata_spark.operators.geo import radius_pairs

        rows = [(1, 179.9, 0.0), (2, -179.9, 0.0),    # 0.2° across seam
                (3, 179.0, 50.0), (4, -179.5, 50.0),  # 1.5° across seam
                (5, 0.0, 0.0), (6, 170.0, 0.0)]       # in range of none
        out = radius_pairs(self._pts(spark, rows), "id", "lon", "lat",
                           radius=2.0, metric="degree")
        got = {(r.id_a, r.id_b): r.dist for r in out.collect()}
        assert set(got) == {(1, 2), (3, 4)}
        assert abs(got[(1, 2)] - 0.2) < 1e-12
        assert abs(got[(3, 4)] - 1.5) < 1e-12

    def test_polar_and_antimeridian_pairs_via_radius_join(self, spark):
        """The haversine branch delegates to scale.radius_join, so it
        inherits the latitude-adaptive fan-out (polar pairs) and the
        antimeridian wrap (seam pairs) for free."""
        from openpolicedata_spark.operators.geo import radius_pairs

        rows = [(1, 0.0, 80.0), (2, 0.3, 80.05),      # polar, ~8 km
                (3, 179.99, 0.0), (4, -179.99, 0.0),  # seam, ~2.2 km
                (5, 90.0, 0.0)]                       # far from both
        out = radius_pairs(self._pts(spark, rows), "id", "lon", "lat",
                           radius=10.0, metric="haversine")
        got = {(r.id_a, r.id_b) for r in out.collect()}
        assert got == {(1, 2), (3, 4)}

    def test_validation(self, spark):
        from openpolicedata_spark.operators.geo import radius_pairs

        df = self._pts(spark, [(1, 0.0, 0.0)])
        with pytest.raises(ValueError, match="radius"):
            radius_pairs(df, "id", "lon", "lat", radius=0.0)
        with pytest.raises(ValueError, match="metric"):
            radius_pairs(df, "id", "lon", "lat", radius=1.0,
                         metric="euclid")
        with pytest.raises(ValueError, match="max_cell_size"):
            radius_pairs(df, "id", "lon", "lat", radius=1.0,
                         max_cell_size=0)
