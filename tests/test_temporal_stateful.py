"""Temporal operators: as-of forward, range join and the pandas as-of
variant."""

from pyspark.sql import functions as F

from cloudfabric_eventsourcing_spark.operators import temporal
from cloudfabric_eventsourcing_spark.sources import load_table


def test_asof_join_forward(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    clicks = events.where("event_type = 'click'").select("event_id", "user_id", "ts")
    purchases = events.where("event_type = 'purchase'").select("user_id", "ts", "value")
    out = temporal.asof_join(
        clicks, purchases, on="ts", by="user_id",
        right_cols=["ts"], direction="forward", suffix="_next",
    ).collect()
    # differential: pandas merge_asof per user
    import pandas as pd

    cl = clicks.toPandas().sort_values("ts")
    pu = purchases.toPandas().sort_values("ts")
    expected = pd.merge_asof(
        cl, pu[["user_id", "ts"]].assign(ts_next=lambda d: d["ts"]),
        on="ts", by="user_id", direction="forward",
    )
    exp = {r.event_id: r.ts_next for r in expected.itertuples()}
    for row in out:
        e = exp[row["event_id"]]
        got = row["ts_next"]
        assert (pd.isna(e) and got is None) or (e.to_pydatetime() == got), row


def test_range_join_matches_cartesian(spark, sf_dir):
    events = load_table(spark, sf_dir, "events").limit(300).cache()
    # intervals derived from per-type value spans (testdata-only inputs)
    intervals = (
        events.groupBy("event_type")
        .agg(
            (F.min("value") + 5).alias("lo"),
            (F.min("value") + 45).alias("hi"),
        )
        .withColumnRenamed("event_type", "bucket_type")
    )
    fast = temporal.range_join(
        events.select("event_id", "value"), intervals, "value", "lo", "hi", 10.0
    )
    slow = (
        events.select("event_id", "value")
        .crossJoin(intervals)
        .where((F.col("value") >= F.col("lo")) & (F.col("value") <= F.col("hi")))
    )
    fast_set = {(r["event_id"], r["bucket_type"]) for r in fast.collect()}
    slow_set = {(r["event_id"], r["bucket_type"]) for r in slow.collect()}
    assert fast_set == slow_set and fast_set
    events.unpersist()


def test_asof_pandas_variant_matches_window_variant(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    clicks = events.where("event_type = 'click'").select("event_id", "user_id", "ts")
    purchases = events.where("event_type = 'purchase'").select("user_id", "ts", "value")
    fast = temporal.asof_join(
        clicks, purchases, on="ts", by="user_id",
        right_cols=["ts", "value"], direction="backward", suffix="_p",
    )
    slow = temporal.asof_join_pandas(
        clicks, purchases, on="ts", by="user_id",
        right_cols=["ts", "value"], direction="backward", suffix="_p",
    )
    f = {r["event_id"]: (r["ts_p"], r["value_p"]) for r in fast.collect()}
    s = {r["event_id"]: (r["ts_p"], r["value_p"]) for r in slow.collect()}
    assert f == s and f
