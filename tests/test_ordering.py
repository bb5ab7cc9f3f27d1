"""Ordering/salting invariants: digest stability across partitioning,
salted == unsalted aggregation, bucketed table join without exchange."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opentelemetry_collector_contrib_spark.plans import ordering  # noqa: E402
from opentelemetry_collector_contrib_spark.sources import transcripts as src  # noqa: E402


@pytest.fixture(scope="module")
def turns(spark, sf_dir):
    # released at teardown: Spark's cache manager would otherwise swap the
    # cached source into every later build over the same input
    df = src.transcripts_df(spark, sf_dir).cache()
    yield df
    df.unpersist()


def test_digest_invariant_to_partitioning_and_order(turns):
    base = {r["conv_id"]: r["digest"] for r in ordering.conv_text_digest(turns).collect()}
    # scramble physical layout: random repartition + reverse sort
    scrambled = turns.repartition(17, "role").sortWithinPartitions(
        F.desc("turn_idx")
    )
    got = {
        r["conv_id"]: r["digest"]
        for r in ordering.conv_text_digest(scrambled).collect()
    }
    assert got == base


def test_salted_count_equals_plain(turns):
    plain = {r["role"]: r["n"] for r in
             turns.groupBy("role").agg(F.count(F.lit(1)).alias("n")).collect()}
    for n_salt in (2, 16, 64):
        salted = {
            r["role"]: r["n"]
            for r in ordering.salted_count(turns, ["role"], n_salt=n_salt).collect()
        }
        assert salted == plain


def test_salt_is_deterministic(turns):
    a = ordering.with_salt(turns, n_salt=8).select("conv_id", "turn_idx", "_salt")
    b = ordering.with_salt(turns, n_salt=8).select("conv_id", "turn_idx", "_salt")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    vals = {r["_salt"] for r in a.select("_salt").distinct().collect()}
    assert vals <= set(range(8)) and len(vals) > 1


def test_sorted_conv_partitions_orders_within_partition(turns):
    out = ordering.sorted_conv_partitions(turns, num_partitions=8)

    def check(it):
        last = {}
        for row in it:
            prev = last.get(row.conv_id)
            assert prev is None or row.turn_idx > prev
            last[row.conv_id] = row.turn_idx
        return iter([])

    out.rdd.mapPartitions(lambda it: check(it)).count()


def test_bucketed_join_has_no_exchange_on_bucketed_side(spark, turns, tmp_path):
    ordering.bucketed_table(
        turns, "turns_bucketed", buckets=8, path=str(tmp_path / "tb")
    )
    t = spark.table("turns_bucketed")
    agg = t.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"))
    plan = agg._sc._jvm.PythonSQLUtils.explainString(
        agg._jdf.queryExecution(), "formatted"
    )
    # groupBy on the bucket key must not reshuffle the bucketed table
    assert "Exchange hashpartitioning(conv_id" not in plan
    spark.sql("DROP TABLE IF EXISTS turns_bucketed")


def test_hier_digest_same_invariant_and_partition_proof(turns):
    from pyspark.sql import functions as F

    base = {r["conv_id"]: (r["n_turns"], r["digest"])
            for r in ordering.conv_text_digest_hier(turns, block=8).collect()}
    scrambled = turns.repartition(13, "tool").sortWithinPartitions(F.desc("ts"))
    got = {r["conv_id"]: (r["n_turns"], r["digest"])
           for r in ordering.conv_text_digest_hier(scrambled, block=8).collect()}
    assert got == base
    # sensitivity: editing one turn's text changes that conv's digest
    edited = turns.withColumn(
        "text",
        F.when((F.col("turn_idx") == 0), F.concat(F.col("text"), F.lit("!")))
        .otherwise(F.col("text")),
    )
    changed = {r["conv_id"]: r["digest"]
               for r in ordering.conv_text_digest_hier(edited, block=8).collect()}
    assert all(changed[c] != base[c][1] for c in changed)


def test_salted_digest_equals_plain(turns):
    plain = {r["conv_id"]: (r["n_turns"], r["digest"])
             for r in ordering.conv_text_digest(turns).collect()}
    for kwargs in ({}, {"hot_keys": ["conv-00000001", "nope"]}):
        salted = {r["conv_id"]: (r["n_turns"], r["digest"])
                  for r in ordering.salted_conv_text_digest(turns, n_salt=4, **kwargs).collect()}
        assert salted == plain
