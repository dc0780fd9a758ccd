"""operators.prefix_sum — the distributed running sum must be OUTPUT-
IDENTICAL to the single-partition global window it replaces (VERDICT r4
#1), and the registered token-shard query must not contain any window
with an empty partition spec."""

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from osm_addr_tools_spark.operators.prefix_sum import running_sum

SF_DIR = "/root/testdata/sf0.001"


def _single_window(df, order_cols, value_col, out_col):
    if isinstance(order_cols, str):
        order_cols = [order_cols]
    w = Window.orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn(out_col, F.sum(value_col).over(w))


def test_running_sum_equals_global_window_unique_keys(spark):
    import random

    rng = random.Random(7)
    keys = list(range(-2500, 2500))
    rng.shuffle(keys)
    pdf = pd.DataFrame(
        {"k": keys, "v": [rng.randint(-50, 50) for _ in keys]}
    )
    df = spark.createDataFrame(pdf).repartition(16)
    got = running_sum(df, "k", "v", out_col="r", num_buckets=37)
    want = _single_window(df, "k", "v", "r")
    g = {(r.k, r.v, r.r) for r in got.collect()}
    w = {(r.k, r.v, r.r) for r in want.collect()}
    assert g == w


def test_running_sum_duplicate_keys_group_boundaries_match(spark):
    # within a tie group the two forms may order rows differently (both
    # arbitrary-but-valid); the running value at each group BOUNDARY
    # (offset + full group sum) is order-independent and must agree
    pdf = pd.DataFrame(
        {"k": [i % 40 for i in range(1000)], "v": [(i * 13) % 17 - 8 for i in range(1000)]}
    )
    df = spark.createDataFrame(pdf).repartition(8)
    got = (
        running_sum(df, "k", "v", out_col="r", num_buckets=11)
        .groupBy("k").agg(F.max("r").alias("end"))
    )
    want = _single_window(df, "k", "v", "r").groupBy("k").agg(F.max("r").alias("end"))
    assert {(r.k, r.end) for r in got.collect()} == {
        (r.k, r.end) for r in want.collect()
    }


def test_running_sum_explicit_boundaries_and_floats(spark):
    pdf = pd.DataFrame({"k": list(range(300)), "v": [0.25 * i for i in range(300)]})
    df = spark.createDataFrame(pdf).repartition(4)
    got = running_sum(df, "k", "v", out_col="r", boundaries=[50, 111, 200, 280])
    want = _single_window(df, "k", "v", "r")
    g = sorted((r.k, r.r) for r in got.collect())
    w = sorted((r.k, r.r) for r in want.collect())
    assert len(g) == 300
    for (gk, gr), (wk, wr) in zip(g, w):
        assert gk == wk and gr == pytest.approx(wr, abs=1e-9)


def test_running_sum_empty_and_single_bucket(spark):
    empty = spark.createDataFrame(pd.DataFrame({"k": [], "v": []}), "k long, v long")
    out = running_sum(empty, "k", "v", out_col="r")
    assert out.columns == ["k", "v", "r"] and out.count() == 0
    one = spark.createDataFrame(pd.DataFrame({"k": [5], "v": [3]}))
    assert running_sum(one, "k", "v", out_col="r").collect()[0].r == 3


def test_token_shards_query_has_no_global_window(spark):
    import re

    from osm_addr_tools_spark import queries as Q

    df = Q.QUERIES["docs_token_shards"](spark, SF_DIR)
    # every window spec in the analyzed plan must carry the bucket column
    # as its partition head — an empty partition spec would be the
    # all-rows-to-one-task WindowExec r4 shipped
    analyzed = df._jdf.queryExecution().analyzed().toString()
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", analyzed)
    assert specs, "expected a (partitioned) window in the token-shard plan"
    for inner in specs:
        assert "_psb" in inner, f"global (unpartitioned) window in plan: {inner}"


def test_token_shards_matches_r4_single_window_form(spark):
    # output-identity with the exact r4 formulation, at test scale
    from osm_addr_tools_spark import queries as Q

    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = (
        docs.select("doc_id", n_tok.alias("n_tok"))
        .withColumn(
            "shard_id",
            F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / 4096.0).cast("bigint"),
        )
    )
    got = Q.QUERIES["docs_token_shards"](spark, SF_DIR)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_running_sum_timestamp_key(spark):
    # bucketing must handle non-numeric-but-ordered keys (timestamps →
    # epoch-seconds double view); output identical to the global window
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(((pd.Series(range(400)) * 37) % 400), unit="m"),
            "v": [(i * 7) % 23 for i in range(400)],
        }
    )
    df = spark.createDataFrame(pdf).repartition(8)
    got = running_sum(df, "ts", "v", out_col="r", num_buckets=13)
    want = _single_window(df, "ts", "v", "r")
    assert sorted((r.ts, r.v, r.r) for r in got.collect()) == sorted(
        (r.ts, r.v, r.r) for r in want.collect()
    )


def test_global_row_number_matches_window(spark):
    from osm_addr_tools_spark.operators.prefix_sum import global_row_number

    import random

    rng = random.Random(3)
    keys = list(range(1000))
    rng.shuffle(keys)
    df = spark.createDataFrame(pd.DataFrame({"k": keys})).repartition(8)
    got = {(r.k, r.row_num) for r in global_row_number(df, "k", num_buckets=17).collect()}
    w = Window.orderBy("k")
    want = {
        (r.k, r.rn)
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert got == want


def test_running_sum_null_order_key_raises(spark):
    """ADVICE r5 (medium): a null order key has no per-bucket equivalent of
    the global NULLS FIRST window order — must raise, never drop rows or
    misplace offsets. Covers both bucketing paths."""
    df = spark.createDataFrame(
        [(1, 10), (None, 20), (3, 30)], "k long, v long"
    )
    with pytest.raises(ValueError, match="contains nulls"):
        running_sum(df, "k", "v", out_col="r", num_buckets=8)
    with pytest.raises(ValueError, match="contains nulls"):
        running_sum(df, "k", "v", out_col="r", boundaries=[2.0])
    all_null = spark.createDataFrame([(None, 1), (None, 2)], "k long, v long")
    with pytest.raises(ValueError, match="null"):
        running_sum(all_null, "k", "v", out_col="r", num_buckets=8)


def test_grouped_row_number_equals_partitioned_window(spark):
    import random

    from osm_addr_tools_spark.operators.prefix_sum import grouped_row_number

    rng = random.Random(23)
    keys = list(range(-1500, 1500))
    rng.shuffle(keys)
    pdf = pd.DataFrame({"k": keys, "g": [k % 7 for k in keys]})
    df = spark.createDataFrame(pdf).repartition(16)
    got = grouped_row_number(df, "g", "k", out_col="rn", num_buckets=29)
    w = Window.partitionBy("g").orderBy("k")
    want = df.withColumn("rn", F.row_number().over(w))
    assert {(r.k, r.g, r.rn) for r in got.collect()} == {
        (r.k, r.g, r.rn) for r in want.collect()
    }


def test_grouped_row_number_guards(spark):
    from osm_addr_tools_spark.operators.prefix_sum import grouped_row_number

    many = spark.createDataFrame(
        [(i, i) for i in range(50)], "k long, g long"
    )
    with pytest.raises(ValueError, match="max_groups"):
        grouped_row_number(many, "g", "k", max_groups=10).collect()

    null_key = spark.createDataFrame(
        [(1, "a"), (None, "a")], "k long, g string"
    )
    with pytest.raises(ValueError, match="contains nulls"):
        grouped_row_number(null_key, "g", "k")

    null_group = spark.createDataFrame(
        [(1, "a"), (2, None)], "k long, g string"
    )
    with pytest.raises(ValueError, match="group column"):
        grouped_row_number(null_group, "g", "k")


def test_running_sum_explicit_boundaries_timestamp_key(spark):
    """ADVICE r6: boundary literals are doubles (epoch seconds for a
    timestamp key), so the bucket filter must compare the DOUBLE view of
    the key — a raw timestamp key would miscast or fail under ANSI. The
    running sum over a timestamp order key, bucketed by an explicit
    ascending cut list in epoch seconds (cuts equal to some keys), must
    match the single-window reference."""
    import datetime as dt

    from pyspark.sql import Window

    t0 = dt.datetime(2024, 1, 1)
    rows = [(t0 + dt.timedelta(hours=i * 7 % 101), i % 5 - 2) for i in range(101)]
    df = spark.createDataFrame(rows, "ts timestamp, v long").repartition(8)
    # naive datetimes are local time on both sides: PySpark converts them
    # with the same local-time rule as ``datetime.timestamp``
    cuts = [(t0 + dt.timedelta(hours=h)).timestamp() for h in (25, 50, 75)]
    got = running_sum(df, "ts", "v", out_col="r", boundaries=cuts)
    w = Window.orderBy("ts").rowsBetween(Window.unboundedPreceding, 0)
    want = df.withColumn("r", F.sum("v").over(w))
    assert {(r.ts, r.v, r.r) for r in got.collect()} == {
        (r.ts, r.v, r.r) for r in want.collect()
    }
