"""End-to-end golden conflation test (SURVEY.md §5.2): EP1→EP2 on the
deterministic 100-page two-towns scenario, compared row-for-row against the
independent pure-Python oracle, under two different partitionings."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_addr_tools_spark.plans.conflate import run_conflate
from osm_addr_tools_spark.plans.extract import run_extract
from osm_addr_tools_spark.sources import synth as S
from tests.oracle import oracle_matches

N_PAGES = 100
CMP = ["url", "addr_key", "match_kind", "matched_ref"]


def _run_engine(spark, n_pages, salt=False, repartition=None):
    pages = S.synth_pages(spark, n_pages)
    if repartition:
        pages = pages.repartition(repartition)
    addrs = run_extract(spark, pages, S.synth_gazetteer(spark, n_pages))
    m = run_conflate(
        spark,
        addrs,
        S.synth_buildings(spark, n_pages),
        S.synth_existing(spark, n_pages),
        salt=salt,
        # tiny thresholds so the salted path actually executes in the test
        **({"hot_threshold": 5, "rows_per_task": 3} if salt else {}),
    )
    pdf = m.toPandas().sort_values(["addr_key", "url"]).reset_index(drop=True)
    return pdf


@pytest.fixture(scope="module")
def golden():
    return oracle_matches(N_PAGES)


def _assert_matches_equal(got: pd.DataFrame, exp: pd.DataFrame):
    assert len(got) == len(exp)
    g = got[CMP].reset_index(drop=True)
    e = exp[CMP].reset_index(drop=True)
    g["matched_ref"] = g.matched_ref.astype("float64")
    e["matched_ref"] = e.matched_ref.astype("float64")
    pd.testing.assert_frame_equal(g.fillna(-1), e.fillna(-1))
    # distances agree to well under a millimeter
    diff = (got.dist_m.fillna(-1) - exp.dist_m.fillna(-1)).abs().max()
    assert diff < 1e-6


def test_conflate_matches_oracle(spark, golden):
    got = _run_engine(spark, N_PAGES)
    _assert_matches_equal(got, golden)
    # scenario exercises every match kind
    assert set(golden.match_kind) == {"duplicate", "update", "attach", "nearest", "create"}
    # ... including the F3 fuzzy-street path (typo nodes have id = 10a+4):
    fuzzy = golden[
        golden.match_kind.isin(["duplicate", "update"])
        & (golden.matched_ref.fillna(0).astype("int64") % 10 == 4)
    ]
    assert len(fuzzy) > 0, "golden scenario must exercise the fuzzy tie-breaker"
    got_fuzzy = got[
        got.match_kind.isin(["duplicate", "update"])
        & (got.matched_ref.fillna(0).astype("int64") % 10 == 4)
    ]
    assert len(got_fuzzy) == len(fuzzy)


def test_conflate_deterministic_under_parallelism(spark, golden):
    got = _run_engine(spark, N_PAGES, repartition=13)
    _assert_matches_equal(got, golden)


def test_conflate_salted_equals_unsalted(spark, golden):
    got = _run_engine(spark, N_PAGES, salt=True)
    _assert_matches_equal(got, golden)


def test_update_tags_merge(spark, golden):
    pages = S.synth_pages(spark, N_PAGES)
    addrs = run_extract(spark, pages, S.synth_gazetteer(spark, N_PAGES))
    m = run_conflate(
        spark, addrs, S.synth_buildings(spark, N_PAGES), S.synth_existing(spark, N_PAGES)
    )
    upd = m.where(F.col("match_kind") == "update").limit(5).collect()
    assert upd
    for r in upd:
        assert "addr:postcode" in r.tags  # the merged-in key
        assert r.tags["addr:postcode"] == r.postcode
    dup = m.where(F.col("match_kind") == "duplicate").limit(5).collect()
    for r in dup:
        # duplicate = existing already complete; tags are the existing node's
        assert "source:addr" not in r.tags


def test_run_conflate_pins_are_released(spark):
    """run_conflate's eager pins (``a`` and ``ex`` under the default
    pin_inputs=True) are registered for release_persisted_fp(), so a
    long-lived session does not keep them cached after the run."""
    from osm_addr_tools_spark.operators import dedup as D

    D.release_persisted_fp()
    n = 20
    addrs = run_extract(spark, S.synth_pages(spark, n), S.synth_gazetteer(spark, n))
    run_conflate(spark, addrs, S.synth_buildings(spark, n), S.synth_existing(spark, n))
    pins = list(D._PERSISTED_FP)
    assert len(pins) == 2 and all(p.is_cached for p in pins)
    assert D.release_persisted_fp() == 2
    assert not any(p.is_cached for p in pins)
