"""EP2 — conflate: extracted address points × buildings × existing OSM-style
nodes → match decisions (SURVEY.md §3 EP2; the reference family's merge
semantics re-expressed as Catalyst-planned joins).

Match kinds, in precedence order (pinned normative semantics — FIXTURES.md §2;
the pure-Python oracle in tests/oracle.py implements the same rules
independently):

  duplicate  same addr_key exists among existing nodes AND the existing node
             already carries every tag the import would add (i.e. it has
             addr:postcode, or the import has none) → drop, no edit.
  update     same addr_key exists but the import adds addr:postcode →
             emit merged tags (existing ⊕ postcode).
  (fuzzy)    no exact key match, but an existing node in the SAME city with
             the SAME normalized housenumber has a street name whose F3
             similarity ≥ FUZZY_TAU (a typo / missing diacritic) → treated
             as duplicate/update by the same postcode rule; best candidate
             = (max similarity, min node_id).
  attach     no key match; point lies inside an UNADDRESSED building
             footprint (no addr:housenumber tag) → attach to the building
             with the smallest id containing it.
  nearest    no key match, not inside a building; nearest existing node
             within d_max meters (k=1, ties broken on node_id).
  create     none of the above → new address node.

Key matching is an equi-join on the normalized addr_key (duplicate-node
detection, J6); the fuzzy tie-breaker is an equi-join on (city_norm,
hn_norm) — candidates bounded by streets-per-housenumber-per-city — with
the F3 ratio as a batch-vectorized post-filter; containment is the
cell-bucketed PIP join (J4); nearest is the neighborhood kNN join (J5).
All shuffles are on int64/short-string keys; hot-cell salting is available
on the spatial joins (J3).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from osm_addr_tools_spark.functions import geo as G
from osm_addr_tools_spark.functions import normalize as N
from osm_addr_tools_spark.operators.joins import knn_join, pip_join

D_MAX_M = 10.0
# F3 fuzzy-street acceptance threshold. 0.75 admits single-char edits and
# diacritic folds on short names ("długa" vs "dluga" = 0.80) while the
# cross-street ratios in any realistic street inventory stay far below
# (gated by tests/test_normalize.py + the conflate golden).
FUZZY_TAU = 0.75
# Containment-join bucket level sized to building-footprint scale (~12 m
# cells): the candidate count per point stays O(buildings overlapping one
# cell) even inside deliberately hot urban micro-boxes. Coarser levels
# collapse a hot block into one cell and the candidate join goes quadratic
# (measured 12.5 candidates/point at level 16 vs ~1.4 at 19 on the 20k-page
# fixture). Cover ⊇ containment holds at every level, so results are
# level-invariant; only candidate volume changes.
CONTAINMENT_LEVEL = 19


def norm_tags_udf():
    """Vectorized normalization of (city, street, place, housenumber) raw
    strings → (addr_key, city_norm, street_norm, hn_norm). The map access
    that used to happen per-row inside the UDF is now JVM-side
    ``element_at`` Columns (see keyed_existing); this UDF only runs the
    batch pandas string kernels (F1/F2/F4). Lazy factory: pandas_udf needs
    an active SparkContext."""

    @pandas_udf(
        "struct<addr_key:string,city_norm:string,street_norm:string,hn_norm:string>"
    )
    def norm(
        city: pd.Series, street: pd.Series, place: pd.Series, hn: pd.Series
    ) -> pd.DataFrame:
        city_n = city.fillna("").astype(str).str.strip().str.lower()
        street_or_place = street.where(street.fillna("") != "", place)
        street_n = N.norm_street(street_or_place)
        hn_n = N.norm_housenumber(hn)
        return pd.DataFrame(
            {
                "addr_key": city_n + "|" + street_n + "|" + hn_n,
                "city_norm": city_n,
                "street_norm": street_n,
                "hn_norm": hn_n,
            }
        )

    # asNondeterministic: optimizer fence only (the kernel is pure) — the
    # key join otherwise pushes inferred isnotnull(addr_key) below the
    # projection and evaluates this 100k-row normalization twice per
    # branch (paired ArrowEvalPython[norm] nodes, measured; guide §4.4)
    return norm.asNondeterministic()


def street_similarity_udf(tau: float | None = None):
    """F3 ratio as a batch UDF (bounded candidate pairs only — off the
    hot path by construction). ``tau`` enables the char-multiset
    upper-bound fast path: blocked pairs provably score < tau."""

    @pandas_udf("double")
    def sim(a: pd.Series, b: pd.Series) -> pd.Series:
        return N.street_similarity(a, b, tau=tau)

    # asNondeterministic: the ≥ tau acceptance filter otherwise pushes
    # below the _ratio projection and the difflib matcher runs twice over
    # the whole pair table (guide §4.4; the fence halves the fuzzy stage)
    return sim.asNondeterministic()


def keyed_existing(existing: DataFrame) -> DataFrame:
    """Existing nodes → normalized key columns (F4 over the tag map;
    street falls back to addr:place per OSM usage).

    Tag-map access is pure Column ops (``element_at`` / ``map_contains_key``
    — JVM-side, codegen); only the normalize kernels run in Python, fed
    vectorized strings (input_hint: no per-row Python)."""
    t = F.col("tags")
    get = lambda k: F.coalesce(F.element_at(t, F.lit(k)), F.lit(""))
    k = norm_tags_udf()(
        get("addr:city"), get("addr:street"), get("addr:place"), get("addr:housenumber")
    )
    return existing.withColumn("_k", k).select(
        "node_id",
        F.col("lon").alias("e_lon"),
        F.col("lat").alias("e_lat"),
        F.col("tags").alias("e_tags"),
        F.col("_k.addr_key").alias("addr_key"),
        F.col("_k.city_norm").alias("city_norm"),
        F.col("_k.street_norm").alias("street_norm"),
        F.col("_k.hn_norm").alias("hn_norm"),
        F.map_contains_key(t, F.lit("addr:postcode")).alias("has_postcode"),
    )


def _import_tags_col():
    """The tag map a created/attached node would carry (nulls dropped)."""
    m = F.create_map(
        F.lit("addr:city"), F.col("city"),
        F.lit("addr:street"), F.col("street"),
        F.lit("addr:housenumber"), F.col("housenumber"),
        F.lit("addr:postcode"), F.col("postcode"),
        F.lit("source:addr"), F.lit("webextract"),
    )
    return F.map_filter(m, lambda k, v: v.isNotNull())


_OUT_COLS = [
    "url", "addr_key", "city", "street", "housenumber", "postcode",
    "street_norm", "hn_norm", "lon", "lat",
    "match_kind", "matched_ref", "dist_m", "tags",
]


def run_conflate(
    spark,
    addrs: DataFrame,
    buildings: DataFrame,
    existing: DataFrame,
    d_max_m: float = D_MAX_M,
    containment_level: int = CONTAINMENT_LEVEL,
    fuzzy_tau: float | None = FUZZY_TAU,
    salt: bool = False,
    pin_inputs: bool = True,
    **salt_kw,
) -> DataFrame:
    """addrs = EP1 output (geocoded rows are used; ungecoded are ignored).

    Returns the matches table (one row per geocoded extracted address):
    (url, addr_key, city, street, housenumber, postcode, street_norm,
    hn_norm, lon, lat, match_kind, matched_ref, dist_m, tags).

    Plan shape: a SINGLE linear dataflow — the four evidence joins (exact
    key, fuzzy street, containment, nearest) are LEFT joins onto the
    address set and one ``when``-chain projection applies the precedence.
    The alternative (union of branches carved out by anti-joins) evaluates
    the shared upstream once per branch; inside one action the concurrent
    branch stages race to populate caches and the extraction DAG runs
    multiple times (measured ~2× wall on the 20k-page fixture).

    ``pin_inputs``: when the inputs are expensive UDF subtrees (the live
    extract→conflate pipeline), the two shared frontiers (address set,
    keyed existing set) are persisted — the production shape is the
    checkpoint-manifest parquet write (plans/manifest.py) at exactly these
    cuts. When the inputs are ALREADY stored tables (resumed stage /
    benchmark over parquet), pass ``pin_inputs=False``: re-scanning
    columnar storage per evidence join is cheaper than a cache pass, keeps
    the whole conflation ONE job, and removes the per-job serial floor that
    capped N→4N scaling efficiency in round 1 (VERDICT r1 #2).
    """
    from pyspark import StorageLevel

    from osm_addr_tools_spark.operators.dedup import _PERSISTED_FP

    def pin(df: DataFrame) -> DataFrame:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        df.count()  # eager: prevents concurrent duplicate-evaluation races
        _PERSISTED_FP.append(df)  # released via release_persisted_fp()
        return df

    a = addrs.where(F.col("geocoded")).drop("geocoded")
    if pin_inputs:
        a = pin(a)

    # --- existing side: normalized key columns (JVM map access + one
    # vectorized normalize UDF) ----------------------------------------------
    # ex is pinned on BOTH paths (r8): unlike `a`, whose pin_inputs=False
    # re-scan is a bare parquet read, ex is a UDF subtree feeding three
    # plan branches (key join, fuzzy vocab/candidates, nearest) — without
    # the pin the 100k-row normalization runs once per branch and the
    # branches race. The eager count is one bounded job; every pin is
    # released through the operators.dedup release registry, which
    # bench.py already drains after every timed run.
    ex = pin(keyed_existing(existing))
    # min-node-per-key is an argmin, not a rank (r8): one partial-
    # aggregating min/min_by replaces the row_number window — map-side
    # combine shrinks the shuffle and the per-key sort disappears.
    # Deterministically identical to the rn=1 pick because node_id is
    # unique (verified row-identical on the 100k bench table).
    ex_best = ex.groupBy("addr_key").agg(
        F.min("node_id").alias("k_node"),
        F.min_by("has_postcode", "node_id").alias("has_postcode"),
        F.min_by("e_lon", "node_id").alias("e_lon"),
        F.min_by("e_lat", "node_id").alias("e_lat"),
        F.min_by("e_tags", "node_id").alias("e_tags"),
    )

    # --- evidence 1b: fuzzy street tie-breaker (F3) --------------------------
    # Candidates: same (city_norm, hn_norm), different street_norm, ratio ≥
    # τ. Bounded per key by the number of distinct streets sharing a
    # housenumber in one city. The difflib ratio runs ONCE PER DISTINCT
    # STREET-NAME PAIR derived from the per-city street VOCABULARIES — two
    # cheap distinct aggregates and a per-city vocabulary join, never the
    # full candidate table (computing ratios per candidate row burned ~4×
    # conflate wall at 600k pages, and deriving the pair table from the
    # candidate join executed that join twice). The surviving
    # above-threshold pair table is tiny; AQE broadcasts it from its real
    # size.
    fuzzy_best = None
    if fuzzy_tau is not None:
        va = a.select("city_norm", F.col("street_norm").alias("_a_street")).distinct()
        ve = ex.select("city_norm", F.col("street_norm").alias("_e_street")).distinct()
        # JVM-side length-band block (VERDICT r2 #2): matched chars ≤
        # min(la,lb), so ratio ≥ τ requires 2·min(la,lb) ≥ τ·(la+lb) — a
        # pure codegen predicate that discards most of a vocabulary
        # cross-product before any Python runs. The UDF adds a second
        # provable block (char-multiset ∩ bound) before the O(n²) matcher.
        la, lb = F.length("_a_street"), F.length("_e_street")
        pair_ratio = (
            va.join(ve, "city_norm")
            .where(F.col("_e_street") != F.col("_a_street"))
            .select("_a_street", "_e_street")
            .distinct()
            .where(2.0 * F.least(la, lb) >= F.lit(float(fuzzy_tau)) * (la + lb))
            .withColumn(
                "_ratio",
                street_similarity_udf(float(fuzzy_tau))(
                    F.col("_a_street"), F.col("_e_street")
                ),
            )
            .where(F.col("_ratio") >= F.lit(float(fuzzy_tau)))
        )
        # pre-join the pair table onto the existing side: the big join then
        # keys on (city, hn, the similar street) and only nodes with an
        # above-threshold counterpart street flow through the shuffle
        exp = ex.select(
            F.col("node_id").alias("f_node"),
            F.col("e_lon").alias("f_lon"),
            F.col("e_lat").alias("f_lat"),
            F.col("e_tags").alias("f_tags"),
            F.col("has_postcode").alias("f_has_pc"),
            "city_norm", "hn_norm",
            F.col("street_norm").alias("_e_street"),
        ).join(pair_ratio.hint("shuffle_hash"), "_e_street")
        f_cand = a.select(
            "url", "addr_key", "city_norm", "hn_norm",
            F.col("street_norm").alias("_a_street"),
        ).join(exp.hint("shuffle_hash"), ["city_norm", "hn_norm", "_a_street"])
        w_fuzzy = Window.partitionBy("url", "addr_key").orderBy(
            F.col("_ratio").desc(), F.col("f_node").asc()
        )
        fuzzy_best = (
            f_cand.withColumn("_rn", F.row_number().over(w_fuzzy))
            .where(F.col("_rn") == 1)
            .select("url", "addr_key", "f_node", "f_has_pc", "f_lon", "f_lat", "f_tags")
        )

    # --- evidence 2: containment (J4) → smallest containing building --------
    unaddressed = buildings.where(
        ~F.map_contains_key(F.col("tags"), F.lit("addr:housenumber"))
    ).select("building_id", "rings")
    best_building = (
        pip_join(a.select("url", "addr_key", "lon", "lat"), unaddressed,
                 containment_level, salt=salt, **salt_kw)
        .groupBy("url", "addr_key")
        .agg(F.min("building_id").alias("b_ref"))
    )

    # --- evidence 3: nearest existing node within d_max (J5, k=1) -----------
    # ring_r=2: one level finer than the classic 3×3, 25 cells of 1/4 the
    # area ≈ 0.7× candidate volume — measured 14-15 s → 8-10 s for this
    # stage at 100k pages local[32] (r=3 ties within noise). Exactness
    # unchanged: the plan-build assertion r·min_edge ≥ d_max carries over.
    # expand="candidates" (r8): the ring explode rides the NARROW existing
    # side (node_id + two doubles, one evaluation as the salted join's
    # build input) instead of the address side, whose rows carry url +
    # addr_key strings AND which the salted join's hot-key histogram
    # evaluates a second time — the probe subtree is now a single-cell
    # encode over 85k rows instead of a 25× explode computed twice. Pair
    # set identical either way (Chebyshev ring symmetry, property-tested).
    near1 = knn_join(
        a.select("url", "addr_key", "lon", "lat"),
        ex.select("node_id", F.col("e_lon").alias("c_lon"),
                  F.col("e_lat").alias("c_lat")),
        query_id=["url", "addr_key"],
        cand_id="node_id",
        d_max_m=d_max_m,
        k=1,
        ring_r=2,
        salt=salt,
        expand="candidates",
        **salt_kw,
    ).select("url", "addr_key", F.col("node_id").alias("n_node"),
             F.col("dist_m").alias("n_dist"))

    # --- evidence 1 (key equi-join, J6) + one-pass precedence projection ----
    # shuffle_hash hints: these right sides come from UDF subtrees with
    # unreliable static size estimates; a misestimated initial broadcast
    # would serialize them through the driver. AQE converts back to
    # broadcast at runtime where genuinely small.
    j = a.join(ex_best.hint("shuffle_hash"), "addr_key", "left")
    if fuzzy_best is not None:
        j = j.join(fuzzy_best.hint("shuffle_hash"), ["url", "addr_key"], "left")
    else:  # fuzzy disabled: null evidence columns, same projection below
        for c, t in (("f_node", "long"), ("f_has_pc", "boolean"),
                     ("f_lon", "double"), ("f_lat", "double"),
                     ("f_tags", "map<string,string>")):
            j = j.withColumn(c, F.lit(None).cast(t))
    j = (
        j.join(best_building.hint("shuffle_hash"), ["url", "addr_key"], "left")
        .join(near1.hint("shuffle_hash"), ["url", "addr_key"], "left")
    )
    exact = F.col("k_node").isNotNull()
    fuzzy = ~exact & F.col("f_node").isNotNull()
    exact_complete = F.col("has_postcode") | F.col("postcode").isNull()
    fuzzy_complete = F.col("f_has_pc") | F.col("postcode").isNull()
    is_dup = (exact & exact_complete) | (fuzzy & fuzzy_complete)
    is_upd = (exact & ~exact_complete) | (fuzzy & ~fuzzy_complete)
    is_attach = ~exact & ~fuzzy & F.col("b_ref").isNotNull()
    is_near = (
        ~exact & ~fuzzy & F.col("b_ref").isNull() & F.col("n_node").isNotNull()
    )
    key_node = F.when(exact, F.col("k_node")).otherwise(F.col("f_node"))
    key_lon = F.when(exact, F.col("e_lon")).otherwise(F.col("f_lon"))
    key_lat = F.when(exact, F.col("e_lat")).otherwise(F.col("f_lat"))
    key_tags = F.when(exact, F.col("e_tags")).otherwise(F.col("f_tags"))
    key_dist = G.haversine_m(F.col("lon"), F.col("lat"), key_lon, key_lat)
    out = j.select(
        *[c for c in a.columns],
        F.when(is_dup, "duplicate")
        .when(is_upd, "update")
        .when(is_attach, "attach")
        .when(is_near, "nearest")
        .otherwise("create")
        .alias("match_kind"),
        F.when(is_dup | is_upd, key_node)
        .when(is_attach, F.col("b_ref"))
        .when(is_near, F.col("n_node"))
        .alias("matched_ref"),
        F.when(is_dup | is_upd, key_dist)
        .when(is_attach, F.lit(0.0))
        .when(is_near, F.col("n_dist"))
        .alias("dist_m"),
        F.when(is_dup, key_tags)
        .when(
            is_upd,
            F.map_concat(
                key_tags,
                F.create_map(F.lit("addr:postcode"), F.col("postcode")),
            ),
        )
        .otherwise(_import_tags_col())
        .alias("tags"),
    )
    return out.select(*_OUT_COLS)


def match_metrics(matches: DataFrame) -> DataFrame:
    """A1/A5 reporting: counts + match rate by kind with rollup."""
    return (
        matches.rollup("match_kind")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("match_kind").asc_nulls_last())
    )
