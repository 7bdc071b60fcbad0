"""Incremental aggregate maintenance: batched merge == full recompute,
replay of an applied batch is a no-op."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_extractor_spark.sinks.incremental import apply_batch, read_state
from etl_extractor_spark.sources.parquet import load_table

MEASURES = {
    "revenue": ("sum", "o_totalprice"),
    "n_orders": ("count", "*"),
    "first_order": ("min", "o_orderdate"),
    "last_order": ("max", "o_orderdate"),
}


def _snapshot(df):
    return sorted(
        (r["o_custkey"], r["revenue"], r["n_orders"], r["first_order"], r["last_order"])
        for r in df.collect()
    )


@pytest.fixture()
def orders(spark, sf_dir):
    # money as DECIMAL(18,2): exact, summation-order-independent — the
    # same rule every oracle-matched query here follows. Double sums
    # would differ between the incremental merge tree and the one-shot
    # recompute.
    return load_table(spark, sf_dir, "orders").withColumn(
        "o_totalprice", F.col("o_totalprice").cast("decimal(18,2)")
    )


def test_batched_merge_equals_full_recompute(spark, orders, tmp_path):
    state = str(tmp_path / "agg_state")
    batches = [
        orders.filter(F.year("o_orderdate") <= 1996),
        orders.filter(F.year("o_orderdate").isin(1997, 1998)),
        orders.filter(F.year("o_orderdate") >= 1999),
    ]
    for i, b in enumerate(batches):
        final = apply_batch(spark, state, b, ["o_custkey"], MEASURES, batch_id=i)

    full = orders.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
    )
    assert _snapshot(final) == _snapshot(full)
    # batches were disjoint and covered everything
    assert sum(b.count() for b in batches) == orders.count()


def test_replay_is_noop(spark, orders, tmp_path):
    state = str(tmp_path / "agg_state")
    b0 = orders.filter(F.year("o_orderdate") <= 1996)
    apply_batch(spark, state, b0, ["o_custkey"], MEASURES, batch_id=0)
    once = _snapshot(read_state(spark, state))
    # at-least-once upstream delivers batch 0 again — must not double-count
    apply_batch(spark, state, b0, ["o_custkey"], MEASURES, batch_id=0)
    assert _snapshot(read_state(spark, state)) == once


def test_non_mergeable_aggregate_rejected(spark, orders, tmp_path):
    with pytest.raises(ValueError, match="non-mergeable"):
        apply_batch(
            spark,
            str(tmp_path / "s"),
            orders,
            ["o_custkey"],
            {"bad": ("avg", "o_totalprice")},
            batch_id=0,
        )


def test_returned_state_equals_bare_read_of_swapped_in_data(spark, orders, tmp_path):
    """apply_batch reads the swapped-in state back with the schema it
    wrote; that must be the schema and rows a schema-inferring read of
    the same files gives, both for the first batch and after a merge."""
    state = str(tmp_path / "agg_state")
    batches = [
        orders.filter(F.year("o_orderdate") <= 1996),
        orders.filter(F.year("o_orderdate") > 1996),
    ]
    for i, b in enumerate(batches):
        got = apply_batch(spark, state, b, ["o_custkey"], MEASURES, batch_id=i)
        bare = spark.read.parquet(str(tmp_path / "agg_state" / "data"))
        assert got.schema == bare.schema
        assert _snapshot(got) == _snapshot(bare)
