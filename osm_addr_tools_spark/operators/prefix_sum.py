"""Distributed prefix sum — running aggregate ordered by a global key
(VERDICT r4 #1; generalizes the two-pass shape sources/osm_sink.py uses
for dense negative-id assignment).

``Window.orderBy(key)`` with NO ``partitionBy`` routes the ENTIRE input
through one WindowExec task — the canonical Spark scale-killer (an empty
partition spec is an all-to-one-partition plan, and Spark itself logs a
"No Partition Defined for Window operation" warning). The distributed
shape implemented here:

1. bucket every row MONOTONICALLY in the order key (bucket ids
   non-decreasing in the key), via a pure Column expression;
2. one hash aggregate computes each bucket's partial sum;
3. collect the ≤ ``num_buckets`` partials — bounded METADATA, not data
   (the same bounded-collect contract as osm_sink.py's id buckets and
   manifest.py's partition keys);
4. prefix-sum the partials on the driver, broadcast the per-bucket
   cumulative offsets back;
5. run the running-sum window PER BUCKET (bounded window partitions) and
   add the bucket's offset.

Monotone bucketing is a deterministic EXPRESSION — uniform range buckets
over [min, max] of the key (one min/max aggregate; parquet footer stats
make it near-free under aggregate pushdown) — NOT ``repartitionByRange``:
range-partition boundaries come from sampling and are resolved
independently in each consuming stage, so the partials pass and the
window pass could silently disagree on bucket assignment, while a pure
function of the key cannot. Correctness never depends on bucket
boundaries (any monotone bucketing yields the identical running sum —
property-tested); skewed keys only IMBALANCE buckets. For heavy skew,
pass an explicit ascending cut list (equi-depth buckets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _uniform_bucket(key, kmin: float, kmax: float, nb: int):
    """Monotone non-decreasing bucket id in [0, nb): uniform split of
    [kmin, kmax]. Double rounding is monotone non-decreasing, * and /
    by positive constants are monotone, floor is monotone — ties that
    collapse across a boundary merely merge buckets, which the offset
    pass absorbs."""
    span = float(kmax) - float(kmin) + 1.0
    raw = F.floor((key.cast("double") - F.lit(float(kmin))) * F.lit(float(nb)) / F.lit(span))
    return F.greatest(F.lit(0), F.least(F.lit(nb - 1), raw)).cast("int")


def _boundary_bucket(key, boundaries: list):
    """Equi-depth bucket id = #boundaries ≤ key (boundaries sorted
    ascending). O(len(boundaries)) JVM array
    filter per row — fine for the ≤ few-thousand boundaries that make
    sense here."""
    arr = F.array(*[F.lit(b) for b in sorted(boundaries)])
    return F.size(F.filter(arr, lambda x: x <= key)).cast("int")


def _resolve_bucket(df: DataFrame, order_col: str, num_buckets: int, boundaries):
    """Monotone bucket-id Column for ``order_col`` (shared by running_sum
    and grouped_row_number). ``boundaries``: None → uniform range buckets
    over one min/max aggregate; a list → explicit ascending cuts (doubles,
    compared against the double view of the key). Null keys yield
    a NULL bucket (never clamp into a valid one): F.least/F.greatest skip
    nulls and the boundary filter drops null comparisons, so without the
    final guard null keys would silently land in a bucket with wrong
    offsets — the partials pass raises on them instead."""
    key = F.col(order_col)
    if boundaries is not None:
        # compare against the DOUBLE view of the key (ADVICE r6): the
        # boundary literals are doubles (timestamps as epoch seconds), so
        # a raw timestamp/date key would miscast or fail under ANSI — the
        # same view the uniform path already uses, and double casting is
        # monotone, which is all bucketing needs
        bucket = _boundary_bucket(key.cast("double"), boundaries)
    else:
        # min/max over the DOUBLE view of the key: keeps the driver-side
        # arithmetic type-free (timestamps become epoch seconds, ints/
        # floats pass through); double rounding of an int64 key is
        # monotone non-decreasing, which is all bucketing needs
        kd = key.cast("double")
        bounds = df.agg(F.min(kd), F.max(kd), F.count(F.lit(1))).first()
        if bounds is None or bounds[2] == 0:  # empty input: single bucket
            bucket = F.lit(0).cast("int")
        elif bounds[0] is None:  # rows exist but every key is null
            raise ValueError(
                f"prefix_sum: order key {order_col!r} is null on all rows"
            )
        else:
            bucket = _uniform_bucket(kd, bounds[0], bounds[1], num_buckets)

    return F.when(key.isNotNull(), bucket)


def running_sum(
    df: DataFrame,
    order_cols,
    value_col: str,
    out_col: str = "running",
    num_buckets: int | None = None,
    boundaries: list | None = None,
) -> DataFrame:
    """``df`` + ``out_col`` = inclusive running SUM of ``value_col`` over
    rows ordered globally by ``order_cols`` — the distributed equivalent
    of ``F.sum(v).over(Window.orderBy(*order_cols).rowsBetween(
    unboundedPreceding, currentRow))`` without the single-partition
    window (identical output, property-tested).

    ``order_cols``: str or list; the FIRST column is the bucketing key
    and must be numeric (ids, timestamps) and NON-NULL: ``Window.orderBy``
    sorts nulls globally (NULLS FIRST), which no per-bucket decomposition
    on a null key can reproduce, so null keys raise ValueError instead of
    silently dropping rows or misplacing offsets (ADVICE r5). The check is
    free — null keys surface as a null bucket in the partials pass.

    ``boundaries``: explicit ascending cut points for equi-depth
    bucketing (heavily skewed keys starve uniform range buckets;
    equi-depth keeps every stage balanced); None → uniform range buckets.
    Output is identical under ANY monotone bucketing (property-tested).

    The ``df`` subtree is evaluated twice (partials pass + window pass) —
    at scale, read it from columnar storage or persist it upstream; both
    passes push the same pruned schema to the scan.
    """
    if isinstance(order_cols, str):
        order_cols = [order_cols]
    spark = df.sparkSession
    key = F.col(order_cols[0])
    if num_buckets is None:
        try:
            parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        except ValueError:  # e.g. "auto" under some AQE configs
            parts = 200
        num_buckets = max(64, min(4096, parts * 4))

    integral = isinstance(df.schema[value_col].dataType, _INTEGRAL)
    sum_type = "long" if integral else "double"

    bucket = _resolve_bucket(df, order_cols[0], num_buckets, boundaries)

    b = df.withColumn("_psb", bucket)
    partials = (
        b.groupBy("_psb")
        .agg(F.sum(value_col).cast(sum_type).alias("_n"))
        .collect()  # bounded: ≤ num_buckets tiny rows (metadata, not data)
    )
    if any(r._psb is None for r in partials):
        raise ValueError(
            f"running_sum: order key {order_cols[0]!r} contains nulls — "
            "a global NULLS FIRST order cannot be decomposed per-bucket; "
            "filter or impute null keys upstream"
        )
    acc = 0 if integral else 0.0
    offsets = []
    for r in sorted(partials, key=lambda r: r._psb):
        offsets.append((r._psb, acc))
        acc += r._n if r._n is not None else (0 if integral else 0.0)
    if not offsets:
        return df.withColumn(out_col, F.col(value_col).cast(sum_type))
    off = spark.createDataFrame(offsets, f"_psb int, _psoff {sum_type}")
    w = (
        Window.partitionBy("_psb")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        b.join(F.broadcast(off), "_psb")
        .withColumn(out_col, (F.col("_psoff") + F.sum(value_col).over(w)).cast(sum_type))
        .drop("_psb", "_psoff")
    )


def global_row_number(
    df: DataFrame,
    order_cols,
    out_col: str = "row_num",
    **kwargs,
) -> DataFrame:
    """1-based global row number ordered by ``order_cols`` — the
    distributed replacement for ``F.row_number().over(Window.orderBy(...))``
    (same single-task WindowExec hazard as the running sum). Implemented
    as the running sum of 1; same contract as running_sum (first order
    column numeric/timestamp; ties get an arbitrary-but-valid order).
    The sequential-example-id assignment a training manifest needs."""
    one = "_ps_one"
    return running_sum(
        df.withColumn(one, F.lit(1).cast("long")), order_cols, one,
        out_col=out_col, **kwargs,
    ).drop(one)


def grouped_row_number(
    df: DataFrame,
    group_col: str,
    order_cols,
    out_col: str = "row_num",
    num_buckets: int | None = None,
    boundaries: list | None = None,
    max_groups: int = 256,
) -> DataFrame:
    """1-based row number WITHIN each ``group_col`` value, rows ordered by
    ``order_cols`` — the distributed replacement for
    ``F.row_number().over(Window.partitionBy(group).orderBy(...))`` when
    groups are FEW but HUGE (length buckets, train/val splits, languages):
    the plain window shuffles each entire group through ONE task, so a
    12-bucket corpus runs on 12 tasks no matter how many executors exist.

    Same two-pass shape as ``running_sum``, with the partials keyed on
    (bucket, group): monotone bucket on the order key → one hash aggregate
    of per-(bucket, group) counts → bounded collect (≤ num_buckets ×
    |groups| tiny rows — metadata, not data) → driver prefix-sums each
    group's counts across buckets → broadcast offsets → row_number per
    (bucket, group) window partition + the group's offset. Every stage
    runs at full parallelism; window partitions are bucket-bounded.

    Contract: ``group_col`` must be LOW-cardinality — more than
    ``max_groups`` distinct values raises (the bounded-collect contract;
    for high-cardinality groups the plain per-group window is already
    parallel and should be used instead). Order-key contract as
    ``running_sum``: first order column numeric/timestamp, non-null
    (raises); null GROUP values raise too — a null group is partition-key
    semantics (NULLS grouped together) that the caller should make
    explicit upstream."""
    if isinstance(order_cols, str):
        order_cols = [order_cols]
    spark = df.sparkSession
    if num_buckets is None:
        try:
            parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        except ValueError:
            parts = 200
        num_buckets = max(64, min(4096, parts * 4))

    bucket = _resolve_bucket(df, order_cols[0], num_buckets, boundaries)
    b = df.withColumn("_psb", bucket)
    partials = (
        b.groupBy("_psb", group_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()  # bounded: ≤ num_buckets × max_groups tiny rows
    )
    if any(r._psb is None for r in partials):
        raise ValueError(
            f"grouped_row_number: order key {order_cols[0]!r} contains nulls — "
            "a global NULLS FIRST order cannot be decomposed per-bucket; "
            "filter or impute null keys upstream"
        )
    if any(r[group_col] is None for r in partials):
        raise ValueError(
            f"grouped_row_number: group column {group_col!r} contains nulls — "
            "make null-group semantics explicit upstream (filter or impute)"
        )
    groups = {r[group_col] for r in partials}
    if len(groups) > max_groups:
        raise ValueError(
            f"grouped_row_number: {len(groups)} distinct groups exceeds "
            f"max_groups={max_groups} — the per-(bucket, group) partials "
            "collect is only bounded for low-cardinality groups; use a "
            "plain per-group window for high-cardinality groups"
        )
    if not partials:
        return df.withColumn(out_col, F.lit(1).cast("long"))
    acc: dict = {g: 0 for g in groups}
    offsets = []
    for r in sorted(partials, key=lambda r: r._psb):
        g = r[group_col]
        offsets.append((r._psb, g, acc[g]))
        acc[g] += r._n
    gtype = df.schema[group_col].dataType.simpleString()
    off = spark.createDataFrame(
        offsets, f"_psb int, {group_col} {gtype}, _psoff long"
    )
    w = Window.partitionBy("_psb", group_col).orderBy(*order_cols)
    return (
        b.join(F.broadcast(off), ["_psb", group_col])
        .withColumn(out_col, (F.col("_psoff") + F.row_number().over(w)).cast("long"))
        .drop("_psb", "_psoff")
    )
