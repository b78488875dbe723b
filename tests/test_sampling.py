"""Deterministic sampling / splitting / compaction operators
(operators/sampling.py) and the int8 quantization expression."""

import hashlib

import pytest
from pyspark.sql import functions as F

from openpolicedata_spark.operators.sampling import (
    hash_split,
    latest_per_key,
    shuffle_key_expr,
    train_shuffle,
)
from openpolicedata_spark.operators.similarity import int8_quantize_cols


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"doc number {i}", 100 + i) for i in range(400)]
    return spark.createDataFrame(rows, "doc_id long, text string, n_chars int")


class TestHashSplit:
    def test_assignment_matches_python_md5(self, spark, docs):
        out = {r["doc_id"]: r["split"]
               for r in hash_split(docs, "doc_id", seed="v1").collect()}
        for i in range(400):
            b = hashlib.md5(f"v1{i}".encode()).hexdigest()[:2]
            want = "train" if b < "cd" else ("val" if b < "e6" else "test")
            assert out[i] == want

    def test_proportions_roughly_weighted(self, spark, docs):
        counts = {r["split"]: r["n"] for r in
                  hash_split(docs, "doc_id").groupBy("split")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
        assert counts["train"] > counts["val"]
        assert counts["train"] > counts["test"]
        assert sum(counts.values()) == 400

    def test_stable_under_corpus_growth(self, spark, docs):
        full = {r["doc_id"]: r["split"]
                for r in hash_split(docs, "doc_id").collect()}
        half = {r["doc_id"]: r["split"]
                for r in hash_split(docs.where(F.col("doc_id") < 200),
                                    "doc_id").collect()}
        assert all(full[k] == v for k, v in half.items())

    def test_custom_splits_and_seed(self, spark, docs):
        two = hash_split(docs, "doc_id", splits=("a", "b"), weights=(1, 1),
                         seed="s2")
        vals = {r["split"] for r in two.select("split").distinct().collect()}
        assert vals <= {"a", "b"} and len(vals) == 2
        # different seed reassigns some documents
        a = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id", seed="x").collect()}
        b = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id", seed="y").collect()}
        assert any(a[k] != b[k] for k in a)

    def test_mismatched_weights_raise(self, docs):
        with pytest.raises(ValueError):
            hash_split(docs, "doc_id", splits=("a", "b"), weights=(1, 1, 1))


class TestTrainShuffle:
    def test_order_is_md5_order_and_deterministic(self, spark, docs):
        got = [r["doc_id"] for r in
               train_shuffle(docs, "doc_id", seed="e1").limit(50).collect()]
        want = sorted(range(400),
                      key=lambda i: hashlib.md5(f"e1:{i}".encode()).hexdigest())[:50]
        assert got == want

    def test_seed_changes_order(self, spark, docs):
        k1 = docs.select(shuffle_key_expr(F.col("doc_id"), "e1").alias("k"))
        k2 = docs.select(shuffle_key_expr(F.col("doc_id"), "e2").alias("k"))
        assert k1.collect() != k2.collect()


class TestLatestPerKey:
    def test_keeps_max_order_row(self, spark):
        rows = [
            (1, 10, "a"), (1, 30, "c"), (1, 20, "b"),
            (2, 5, "x"),
        ]
        df = spark.createDataFrame(rows, "k int, ts int, v string")
        out = {r["k"]: r["v"]
               for r in latest_per_key(df, ["k"], ["ts"]).collect()}
        assert out == {1: "c", 2: "x"}

    def test_tiebreak_by_second_order_col(self, spark):
        rows = [(1, 10, 1, "first"), (1, 10, 2, "second")]
        df = spark.createDataFrame(rows, "k int, ts int, seq int, v string")
        out = latest_per_key(df, ["k"], ["ts", "seq"]).collect()
        assert len(out) == 1 and out[0]["v"] == "second"

    def test_all_columns_survive(self, spark):
        df = spark.createDataFrame([(1, 2, 3, 4)], "k int, a int, b int, c int")
        out = latest_per_key(df, ["k"], ["a"])
        assert set(out.columns) == {"k", "a", "b", "c"}


class TestInt8Quantize:
    def test_known_vector(self, spark):
        df = spark.createDataFrame([(1, [1.0, -2.0, 0.5])],
                                   "id int, v array<double>")
        q = int8_quantize_cols(F.col("v"))
        row = df.select(*[v.alias(k) for k, v in q.items()]).collect()[0]
        # scale = 127/2; q = [64, -127, 32] (63.5 rounds half-up to 64)
        assert row["q_min"] == -127 and row["q_max"] == 64
        assert row["q_sum"] == 64 - 127 + 32
        assert abs(row["scale"] - 63.5) < 1e-9

    def test_zero_vector_no_nan(self, spark):
        df = spark.createDataFrame([(1, [0.0, 0.0])], "id int, v array<double>")
        q = int8_quantize_cols(F.col("v"))
        row = df.select(*[v.alias(k) for k, v in q.items()]).collect()[0]
        assert row["scale"] == 0.0 and row["q_sum"] == 0

    def test_codes_bounded(self, spark, docs):
        emb = docs.select(
            F.array(*[(F.col("doc_id") * i % 17 - 8).cast("double")
                      for i in range(1, 9)]).alias("v"))
        q = int8_quantize_cols(F.col("v"))
        bad = emb.select(q["q_min"].alias("mn"), q["q_max"].alias("mx")) \
                 .where((F.col("mn") < -127) | (F.col("mx") > 127)).count()
        assert bad == 0


def test_hash_split_zero_weight_gets_nothing(spark):
    """weights=(1, 0): the 0xff md5 bucket must NOT leak into the
    zero-weight split (the boundary saturates past 'ff')."""
    from openpolicedata_spark.operators.sampling import hash_split

    df = spark.range(4000).withColumnRenamed("id", "doc_id")
    out = hash_split(df, "doc_id", splits=("train", "test"),
                     weights=(1.0, 0.0))
    counts = {r["split"]: r["count"]
              for r in out.groupBy("split").count().collect()}
    assert counts.get("test", 0) == 0
    assert counts["train"] == 4000


class TestTokenBudgetSample:
    @staticmethod
    def _py_hash(key, seed=""):
        import hashlib

        d = hashlib.md5(f"{seed}:{key}".encode()).digest()
        return int.from_bytes(d[8:16], "little") % (1 << 62)

    def test_matches_single_order_cumsum(self, spark):
        from openpolicedata_spark.operators.sampling import token_budget_sample

        rows = [(i, 10 + (i * 7) % 50) for i in range(300)]
        df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
        budget = 3000
        out = token_budget_sample(df, budget, "n_tokens", "doc_id",
                                  seed="e0", n_buckets=7)
        got = {r["doc_id"]: r["cum_before"] for r in out.collect()}
        # reference: plain python cumsum in hash order
        order = sorted(rows, key=lambda r: (self._py_hash(r[0], "e0"), r[0]))
        cum, want = 0, {}
        for doc_id, w in order:
            if cum < budget:
                want[doc_id] = cum
            cum += w
        assert got == want

    def test_bucket_count_invariance_and_edges(self, spark):
        from openpolicedata_spark.operators.sampling import token_budget_sample

        df = spark.createDataFrame([(i, 5) for i in range(100)],
                                   "doc_id long, w long")
        a = {(r["doc_id"], r["cum_before"]) for r in
             token_budget_sample(df, 200, "w", "doc_id", n_buckets=1).collect()}
        b = {(r["doc_id"], r["cum_before"]) for r in
             token_budget_sample(df, 200, "w", "doc_id", n_buckets=16).collect()}
        assert a == b and len(a) == 40
        assert token_budget_sample(df, 0, "w", "doc_id").count() == 0
        assert token_budget_sample(df, 10**9, "w", "doc_id").count() == 100

    def test_membership_stable_under_corpus_growth(self, spark):
        """Hash-ordered prefix: adding docs can only push the tail out —
        kept docs that remain under budget keep their relative order."""
        from openpolicedata_spark.operators.sampling import token_budget_sample

        small = spark.createDataFrame([(i, 10) for i in range(50)],
                                      "doc_id long, w long")
        big = spark.createDataFrame([(i, 10) for i in range(100)],
                                    "doc_id long, w long")
        ks = sorted(r["doc_id"] for r in
                    token_budget_sample(small, 200, "w", "doc_id").collect())
        kb = {r["doc_id"] for r in
              token_budget_sample(big, 200, "w", "doc_id").collect()}
        # every id kept from the bigger corpus that also exists in the
        # smaller one was kept there too (prefix property)
        assert all(i in ks for i in kb if i < 50)

    def test_no_single_task_window(self, spark):
        """The full-data Window must be partitioned by the bucket key —
        NOT the SinglePartition global window `SUM() OVER (ORDER BY …)`
        plans. (A SinglePartition exchange still exists for the one-row
        percentile/offset aggregates; those carry bytes, not the data.)"""
        from openpolicedata_spark.operators.sampling import global_running_total
        from openpolicedata_spark.plans import formatted_plan

        df = spark.createDataFrame([(i, 1) for i in range(100)],
                                   "doc_id long, w long")
        out = global_running_total(df, "w", F.col("doc_id").cast("double"),
                                   tiebreak_cols=("doc_id",), n_buckets=8)
        t = formatted_plan(out)
        assert "hashpartitioning(__bucket__" in t, t
        # the naive single-task formulation for contrast: its window input
        # exchange IS SinglePartition
        from pyspark.sql import Window

        naive = df.withColumn("c", F.sum("w").over(
            Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)))
        assert "SinglePartition" in formatted_plan(naive)


def test_global_running_total_explicit_bounds_identical(spark):
    """r13 fast path: caller-provided monotone cut points must give
    byte-identical output to the approx_percentile planning path (the
    documented invariant: offsets come from real per-bucket totals, so
    ANY monotone cut is correct), including degenerate cuts that leave
    buckets empty."""
    from openpolicedata_spark.operators.sampling import (
        _hash_domain_bounds,
        global_running_total,
    )

    df = spark.createDataFrame([(i, 1 + (i * 13) % 9) for i in range(200)],
                               "doc_id long, w long")
    oc = F.col("doc_id").cast("double")
    base = {r["doc_id"]: r["cum_before"]
            for r in global_running_total(
                df, "w", oc, tiebreak_cols=("doc_id",), n_buckets=8).collect()}
    for bounds in ([25.0, 50.0, 100.0, 150.0],    # uneven cuts
                   [500.0, 600.0],                # all rows in bucket 1
                   [-5.0, -1.0],                  # all rows in the last
                   _hash_domain_bounds(8)):       # way out of range too
        got = {r["doc_id"]: r["cum_before"]
               for r in global_running_total(
                   df, "w", oc, tiebreak_cols=("doc_id",),
                   bounds=bounds).collect()}
        assert got == base, bounds


def test_token_budget_sample_skips_percentile_planning(spark):
    """token_budget_sample's order key is uniform by construction, so
    its plan must NOT contain an approx_percentile planning pass (the
    r13 fast path) — while still bucketing the window."""
    from openpolicedata_spark.operators.sampling import token_budget_sample
    from openpolicedata_spark.plans import formatted_plan

    df = spark.createDataFrame([(i, 10) for i in range(100)],
                               "doc_id long, w long")
    out = token_budget_sample(df, 200, "w", "doc_id", n_buckets=8)
    t = formatted_plan(out)
    assert "approx_percentile" not in t
    assert "hashpartitioning(__bucket__" in t


def test_global_running_total_float_weights_not_truncated(spark):
    """Offsets collected from float weights must keep their fraction —
    int() truncation would shift every later bucket's cumsum."""
    from openpolicedata_spark.operators.sampling import global_running_total

    df = spark.createDataFrame([(i, 0.5) for i in range(40)],
                               "doc_id long, w double")
    out = global_running_total(df, "w", F.col("doc_id").cast("double"),
                               tiebreak_cols=("doc_id",), n_buckets=4)
    got = {r["doc_id"]: r["cum_before"] for r in out.collect()}
    assert got == {i: i * 0.5 for i in range(40)}


class TestWriteTrainingShards:
    def test_shards_deterministic_and_ordered(self, spark, tmp_path):
        from openpolicedata_spark.operators.sampling import (
            shuffle_key_expr,
            write_training_shards,
        )

        df = spark.createDataFrame(
            [(i, f"text {i}", 10 + i % 7) for i in range(200)],
            "doc_id long, text string, n_tok long")
        out = str(tmp_path / "shards")
        man = write_training_shards(df, out, "n_tok", "doc_id",
                                    seed="e1", n_shards=8).collect()
        assert sorted(r["shard"] for r in man) == sorted(
            set(r["shard"] for r in man))
        assert sum(r["n_docs"] for r in man) == 200
        assert sum(r["n_tokens"] for r in man) == sum(
            10 + i % 7 for i in range(200))
        # written layout: partition dirs, manifest parquet matches
        back = spark.read.parquet(out)
        assert back.count() == 200
        man_back = {r["shard"]: (r["n_docs"], r["n_tokens"])
                    for r in spark.read.parquet(out + "/_manifest").collect()}
        assert man_back == {r["shard"]: (r["n_docs"], r["n_tokens"])
                            for r in man}
        # within-shard file order is the epoch shuffle order
        import glob

        for d in glob.glob(out + "/shard=*"):
            rows = spark.read.parquet(d).collect()
            keys = [r["doc_id"] for r in rows]
            ordered = [r["doc_id"] for r in
                       spark.createDataFrame([(k,) for k in keys], "doc_id long")
                       .withColumn("sk", shuffle_key_expr(F.col("doc_id"), "e1"))
                       .orderBy("sk").collect()]
            assert keys == ordered

    def test_reshuffle_changes_order_not_assignment(self, spark, tmp_path):
        from openpolicedata_spark.operators.sampling import write_training_shards

        df = spark.createDataFrame([(i, 5) for i in range(100)],
                                   "doc_id long, n_tok long")
        a = str(tmp_path / "a")
        b = str(tmp_path / "b")
        write_training_shards(df, a, "n_tok", "doc_id", seed="e1", n_shards=4)
        write_training_shards(df, b, "n_tok", "doc_id", seed="e2", n_shards=4)
        any_reordered = False
        for s in range(4):
            ra = [r["doc_id"] for r in
                  spark.read.parquet(f"{a}/shard={s}").collect()]
            rb = [r["doc_id"] for r in
                  spark.read.parquet(f"{b}/shard={s}").collect()]
            assert set(ra) == set(rb)   # membership is seed-independent
            any_reordered = any_reordered or ra != rb
        assert any_reordered            # ...but the epoch order changed


class TestWeightedSample:
    @staticmethod
    def _pri(key, w, seed="s"):
        import hashlib
        import math

        d = hashlib.md5(f"{seed}:{key}".encode()).digest()
        h = int.from_bytes(d[8:16], "little") % (1 << 62)
        return -math.log((h + 1) / float(1 << 62)) / w

    def test_matches_python_model_and_weight_bias(self, spark):
        from openpolicedata_spark.operators.sampling import weighted_sample

        rows = ([(i, 100.0) for i in range(50)]        # heavy
                + [(100 + i, 1.0) for i in range(50)])  # light
        df = spark.createDataFrame(rows, "doc_id long, w double")
        out = weighted_sample(df, 20, "w", "doc_id", seed="s")
        got = [r["doc_id"] for r in out.collect()]
        want = sorted(rows, key=lambda r: (self._pri(r[0], r[1]), r[0]))[:20]
        assert got == [d for d, _ in want]
        # heavy items dominate a weight-proportional draw
        heavy = sum(1 for d in got if d < 100)
        assert heavy >= 15

    def test_zero_weight_never_sampled_and_deterministic(self, spark):
        from openpolicedata_spark.operators.sampling import weighted_sample

        df = spark.createDataFrame(
            [(1, 0.0), (2, 5.0), (3, 5.0)], "doc_id long, w double")
        got = {r["doc_id"] for r in
               weighted_sample(df, 10, "w", "doc_id").collect()}
        assert got == {2, 3}
        again = {r["doc_id"] for r in
                 weighted_sample(df, 10, "w", "doc_id").collect()}
        assert got == again

    def test_null_keys_excluded(self, spark):
        from openpolicedata_spark.operators.sampling import weighted_sample

        df = spark.createDataFrame(
            [(None, 5.0), (1, 5.0), (2, 5.0)], "doc_id long, w double")
        got = {r["doc_id"] for r in
               weighted_sample(df, 1, "w", "doc_id").collect()}
        assert None not in got and len(got) == 1

    def test_same_rows_after_repartition(self, spark, sf_dir):
        """Priorities derive from the key hash, never the physical row
        stream, so the Efraimidis-Spirakis draw selects the identical
        rows under any layout (unlike a seeded Bernoulli TABLESAMPLE)."""
        from openpolicedata_spark.operators.sampling import weighted_sample

        base = spark.read.parquet(f"{sf_dir}/orders.parquet")
        w1 = {r[0] for r in weighted_sample(
            base, 50, "o_totalprice",
            "o_orderkey").select("o_orderkey").collect()}
        w2 = {r[0] for r in weighted_sample(
            base.repartition(13), 50, "o_totalprice",
            "o_orderkey").select("o_orderkey").collect()}
        assert w1 == w2 and len(w1) == 50


def test_write_training_shards_rejects_null_keys(spark, tmp_path):
    """ADVICE r3: a NULL key hashes to a NULL shard, which partitionBy
    silently diverts into __HIVE_DEFAULT_PARTITION__ — invisible to the
    manifest. The exporter must fail loudly instead."""
    from openpolicedata_spark.operators.sampling import write_training_shards

    df = spark.createDataFrame(
        [(1, 10), (None, 11), (3, 12)], "doc_id long, n_tok long")
    with pytest.raises(ValueError, match="NULL"):
        write_training_shards(df, str(tmp_path / "s"), "n_tok", "doc_id",
                              n_shards=4)


def test_cap_per_key_deterministic_survivors(spark):
    """Per-key cap keeps exactly the first max_n by the given order
    (desc expression + unique tiebreak), is partitioning-invariant, and
    validates max_n."""
    import pytest
    from pyspark.sql import functions as F

    from openpolicedata_spark.operators.sampling import cap_per_key

    rows = [(i, f"d{i % 3}", (i * 7) % 5) for i in range(30)]
    df = spark.createDataFrame(rows, "id long, domain string, w long")
    out = cap_per_key(df, "domain", 4,
                      [F.col("w").desc(), F.col("id")], keep_rank=True)
    got = sorted((r.domain, r.key_rank, r.id) for r in out.collect())
    # independent reference
    import collections
    by = collections.defaultdict(list)
    for i, d, wv in rows:
        by[d].append((-wv, i))
    want = sorted((d, k + 1, i)
                  for d, vs in by.items()
                  for k, (_, i) in enumerate(sorted(vs)[:4]))
    assert got == want
    again = cap_per_key(df.repartition(7), "domain", 4,
                        [F.col("w").desc(), F.col("id")], keep_rank=True)
    assert sorted((r.domain, r.key_rank, r.id)
                  for r in again.collect()) == want
    assert "key_rank" not in cap_per_key(
        df, "domain", 4, ["w", "id"]).columns
    with pytest.raises(ValueError):
        cap_per_key(df, "domain", 0, ["id"])
