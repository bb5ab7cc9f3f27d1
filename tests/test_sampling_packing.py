"""Training-data prep ops beyond the reference: deterministic global
shuffle, exact/stratified sampling."""

from __future__ import annotations

import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from opentelemetry_collector_contrib_spark.functions import sampling  # noqa: E402
from opentelemetry_collector_contrib_spark.sources import documents as docsrc  # noqa: E402


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return docsrc.documents_df(spark, sf_dir)


def test_global_shuffle_deterministic_and_permutation(docs):
    a = [r["doc_id"] for r in sampling.global_shuffle(docs, "doc_id", seed=7).select("doc_id").collect()]
    b = [r["doc_id"] for r in sampling.global_shuffle(docs, "doc_id", seed=7).select("doc_id").collect()]
    c = [r["doc_id"] for r in sampling.global_shuffle(docs, "doc_id", seed=8).select("doc_id").collect()]
    assert a == b                      # retry/replan stable
    assert sorted(a) == sorted(c)      # permutation, nothing lost
    assert a != c                      # seeds give independent orders
    assert a != sorted(a)              # actually shuffled


def test_global_shuffle_order_survives_partitioning(docs):
    # same order at different parallelism: the north-rule shape
    a = [r["doc_id"] for r in sampling.global_shuffle(docs, "doc_id", seed=1, num_partitions=2).select("doc_id").collect()]
    b = [r["doc_id"] for r in sampling.global_shuffle(docs, "doc_id", seed=1, num_partitions=8).select("doc_id").collect()]
    assert a == b


def test_exact_sample_k_and_determinism(docs):
    s1 = {r["doc_id"] for r in sampling.exact_sample(docs, 37, "doc_id", seed=3).collect()}
    s2 = {r["doc_id"] for r in sampling.exact_sample(docs, 37, "doc_id", seed=3).collect()}
    assert len(s1) == 37 and s1 == s2
    plan = sampling.exact_sample(docs, 37, "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # no full sort of the corpus


def test_stratified_sample_exact_k(docs):
    out = sampling.stratified_sample(docs, "lang", k=5, key="doc_id", seed=2)
    per = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    avail = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, n in per.items():
        assert n == min(5, avail[lang])


def test_stratified_sample_fractions_no_shuffle(docs):
    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    fr = {langs[0]: 0.5}
    out = sampling.stratified_sample(docs, "lang", fractions=fr, key="doc_id", seed=2)
    got = out.groupBy("lang").count().collect()
    assert {r["lang"] for r in got} == {langs[0]}  # absent strata dropped
    n_all = docs.filter(F.col("lang") == langs[0]).count()
    n_got = got[0]["count"]
    assert 0.3 * n_all < n_got < 0.7 * n_all  # hash-uniformity, loose band
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # narrow filter: zero shuffle
    # deterministic under re-run
    again = sampling.stratified_sample(docs, "lang", fractions=fr, key="doc_id", seed=2)
    assert {r["doc_id"] for r in out.collect()} == {r["doc_id"] for r in again.collect()}


def test_exact_sample_large_k_matches_small_k(docs):
    """The scale path (hash pre-filter + range-partitioned exact trim)
    must select the identical sample as the TakeOrdered path, and its
    plan must contain no TakeOrderedAndProject (the k·partitions driver
    merge it exists to avoid)."""
    small = {r["doc_id"] for r in sampling.exact_sample(docs, 120, "doc_id", seed=5).collect()}
    big_df = sampling.exact_sample(
        docs, 120, "doc_id", seed=5, large_k=True, num_partitions=8
    )
    big = {r["doc_id"] for r in big_df.collect()}
    assert big == small
    plan = big_df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" not in plan
    # deterministic across replans
    again = {
        r["doc_id"]
        for r in sampling.exact_sample(
            docs, 120, "doc_id", seed=5, large_k=True, num_partitions=8
        ).collect()
    }
    assert again == big


def test_exact_sample_large_k_edge_cases(docs):
    n = docs.count()
    # k >= N returns everything
    allr = sampling.exact_sample(docs, n + 10, "doc_id", large_k=True, est_total=n)
    assert allr.count() == n
    # est_total skips the count job but still yields exact k
    got = sampling.exact_sample(
        docs, 50, "doc_id", seed=9, large_k=True, est_total=n, num_partitions=4
    )
    assert got.count() == 50


def test_exact_sample_large_k_sweep(docs):
    """large-k equals small-k across k/seed/partition combinations,
    including k near the corpus size (pre-filter saturates to p=1)."""
    n = docs.count()
    for k, seed, parts in [(7, 0, 2), (250, 11, 8), (n - 3, 4, 4)]:
        small = {
            r["doc_id"]
            for r in sampling.exact_sample(docs, k, "doc_id", seed=seed).collect()
        }
        big = {
            r["doc_id"]
            for r in sampling.exact_sample(
                docs, k, "doc_id", seed=seed, large_k=True, num_partitions=parts
            ).collect()
        }
        assert big == small, (k, seed, parts)


def test_exact_sample_materialize_small_k_is_eager_boundary(spark):
    # regression: materialize=True used to be silently ignored on the
    # default small-k path — the returned frame must be checkpointed
    # (lineage cut), not a lazy orderBy/limit over the input
    df = spark.range(1000).select(F.col("id").alias("conv_id"))
    out = sampling.exact_sample(df, 10, "conv_id", seed=3, materialize=True)
    assert out.count() == 10
    # a localCheckpoint-ed frame scans an ExistingRDD, not the range
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan, plan
    lazy = sampling.exact_sample(df, 10, "conv_id", seed=3)
    assert sorted(r["conv_id"] for r in out.collect()) == sorted(
        r["conv_id"] for r in lazy.collect()
    )
