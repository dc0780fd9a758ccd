"""S5 kill-resume gate (SURVEY.md §5.5): a killed conflate stage resumes
recomputing only missing partitions; completed re-runs recompute zero;
final bytes identical to the one-shot run."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_addr_tools_spark.plans.conflate import run_conflate
from osm_addr_tools_spark.plans.extract import run_extract
from osm_addr_tools_spark.plans.manifest import (
    config_hash,
    read_manifest,
    read_output,
    with_part_col,
    write_resumable,
)
from osm_addr_tools_spark.sources import synth as S

N = 100
CONF = {"stage": "conflate", "n": N, "d_max": 10.0}


@pytest.fixture(scope="module")
def matches(spark):
    addrs = run_extract(spark, S.synth_pages(spark, N), S.synth_gazetteer(spark, N))
    m = run_conflate(
        spark, addrs, S.synth_buildings(spark, N), S.synth_existing(spark, N)
    )
    return with_part_col(m.drop("tags"), level=6).cache()


def _canon(df):
    pdf = df.toPandas().sort_values(["addr_key", "url"]).reset_index(drop=True)
    return pdf[sorted(pdf.columns)]


def test_resume_recomputes_only_missing(spark, matches, tmp_path):
    full_dir = str(tmp_path / "full")
    resume_dir = str(tmp_path / "resumed")

    # one-shot reference run
    s1 = write_resumable(
        spark, matches, full_dir, "conflate", CONF,
        matched_pred=F.col("match_kind") != "create",
    )
    assert s1["skipped"] == 0 and s1["written"] == s1["planned"] >= 2

    # simulated kill: only half the partitions got written+recorded
    parts = sorted(r.cell_p for r in matches.select("cell_p").distinct().collect())
    half = parts[: len(parts) // 2]
    s2 = write_resumable(
        spark, matches.where(F.col("cell_p").isin(half)), resume_dir, "conflate", CONF,
        matched_pred=F.col("match_kind") != "create",
    )
    assert s2["written"] == len(half)

    # resume with the full input: must recompute exactly the missing ones
    s3 = write_resumable(
        spark, matches, resume_dir, "conflate", CONF,
        matched_pred=F.col("match_kind") != "create",
    )
    assert s3["skipped"] == len(half)
    assert s3["written"] == len(parts) - len(half)

    # re-run after completion: zero recomputation (the BASELINE gate)
    s4 = write_resumable(
        spark, matches, resume_dir, "conflate", CONF,
        matched_pred=F.col("match_kind") != "create",
    )
    assert s4["written"] == 0 and s4["skipped"] == len(parts)

    # one manifest row per partition (the resume rewrote no completed
    # partition), each counting that partition's rows as read back
    man = read_manifest(spark, resume_dir).toPandas()
    assert sorted(man.part) == parts
    back = read_output(spark, resume_dir).groupBy("cell_p").count().toPandas()
    assert dict(zip(man.part, man.rows)) == dict(zip(back.cell_p, back["count"]))

    # outputs identical
    pd.testing.assert_frame_equal(
        _canon(read_output(spark, full_dir)), _canon(read_output(spark, resume_dir))
    )


def test_config_change_invalidates_resume(spark, matches, tmp_path):
    out = str(tmp_path / "cfg")
    write_resumable(spark, matches, out, "conflate", CONF)
    s = write_resumable(spark, matches, out, "conflate", {**CONF, "d_max": 20.0})
    assert s["skipped"] == 0  # different config_hash → full recompute

    # a third config writing a subset of the partitions records only that
    # subset, not the other configs' partitions left in the directory
    conf3 = {**CONF, "d_max": 30.0}
    parts = sorted(r.cell_p for r in matches.select("cell_p").distinct().collect())
    sub = parts[:2]
    s = write_resumable(
        spark, matches.where(F.col("cell_p").isin(sub)), out, "conflate", conf3
    )
    assert (s["skipped"], s["written"], s["planned"]) == (0, len(sub), len(sub))
    assert s["rows"] == matches.where(F.col("cell_p").isin(sub)).count()
    man = read_manifest(spark, out).where(F.col("config_hash") == config_hash(conf3))
    assert sorted(r.part for r in man.collect()) == sub


def test_write_evaluates_input_once(spark, tmp_path):
    """A fresh half-key write and the full resume each evaluate every
    input row exactly once: the partition key comes from a fenced pandas
    UDF that counts the rows it sees."""
    n = 100
    seen = spark.sparkContext.accumulator(0)

    def key(v: pd.Series) -> pd.Series:
        seen.add(len(v))
        return v % 8

    key_udf = F.pandas_udf(key, "long").asNondeterministic()
    frame = spark.range(n).withColumn("part", key_udf("id"))
    out = str(tmp_path / "once")
    low = sum(i % 8 < 4 for i in range(n))

    s = write_resumable(
        spark, frame.where(F.col("part") < 4), out, "once", CONF, part_col="part"
    )
    assert s["written"] == 4 and s["rows"] == low
    assert seen.value == n

    s = write_resumable(spark, frame, out, "once", CONF, part_col="part")
    assert (s["skipped"], s["written"], s["rows"]) == (4, 4, n - low)
    assert seen.value == 2 * n
    assert read_output(spark, out).count() == n


def test_manifest_records_metrics(spark, matches, tmp_path):
    out = str(tmp_path / "metrics")
    write_resumable(
        spark, matches, out, "conflate", CONF,
        matched_pred=F.col("match_kind") != "create",
    )
    m = read_manifest(spark, out).toPandas()
    assert (m.rows > 0).all()
    assert m.matched.sum() > 0
    assert set(m.stage) == {"conflate"}
    total = m.rows.sum()
    assert total == matches.count()
