"""Operator-level join properties (SURVEY.md §5.4): salted ≡ unsalted,
kNN exactness (salted and unsalted) vs a naive cross-join, PIP exactness
vs brute force."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_addr_tools_spark.functions import geo as G
from osm_addr_tools_spark.operators.joins import knn_join, pip_join, salted_join, with_cell
from osm_addr_tools_spark.sources import synth as S


def _points(spark, n, salt_base=0, town_frac_hot=0.5):
    ids = np.arange(n)
    lon = 21.0 + (S.h01(ids, 100 + salt_base) - 0.5) * 0.01
    lat = 52.2 + (S.h01(ids, 200 + salt_base) - 0.5) * 0.006
    # concentrate half the rows into a hot micro-box
    hot = S.h01(ids, 300 + salt_base) < town_frac_hot
    lon = np.where(hot, 21.0 + (S.h01(ids, 400 + salt_base) - 0.5) * 0.0004, lon)
    lat = np.where(hot, 52.2 + (S.h01(ids, 500 + salt_base) - 0.5) * 0.0003, lat)
    return pd.DataFrame({"pid": ids + salt_base * 10**6, "lon": lon, "lat": lat})


def _knn_bruteforce(q, c, d_max, k):
    """Sorted (pid, cid) pairs: each query's k nearest candidates within
    ``d_max`` meters (all of them for k=None), ties broken on cid."""
    d = G.haversine_np(
        q.lon.to_numpy()[:, None], q.lat.to_numpy()[:, None],
        c.c_lon.to_numpy()[None, :], c.c_lat.to_numpy()[None, :],
    )
    cids = c.cid.to_numpy()
    expect = []
    for i in range(len(q)):
        within = np.flatnonzero(d[i] <= d_max)
        order = np.lexsort((cids[within], d[i][within]))[:k]
        expect += [(int(q.pid[i]), int(cids[within[j]])) for j in order]
    return sorted(expect)


def test_salted_join_equals_unsalted(spark):
    a = spark.createDataFrame(_points(spark, 800))
    b = spark.createDataFrame(
        _points(spark, 300, salt_base=1).rename(
            columns={"pid": "cid", "lon": "c_lon", "lat": "c_lat"}
        )
    )
    a = with_cell(a, 15)
    b = with_cell(b, 15, "c_lon", "c_lat")
    plain = a.join(b, "cell").select("pid", "cid").toPandas()
    salted = salted_join(
        a, b, "cell", F.col("pid"), hot_threshold=10, rows_per_task=7, max_salt=8
    ).select("pid", "cid").toPandas()
    key = lambda d: sorted(map(tuple, d.to_numpy()))
    assert key(plain) == key(salted)
    assert len(plain) > 0


def test_knn_join_exact_vs_bruteforce(spark):
    q = _points(spark, 400)
    c = _points(spark, 400, salt_base=1).rename(
        columns={"pid": "cid", "lon": "c_lon", "lat": "c_lat"}
    )
    d_max, k = 25.0, 3
    got = (
        knn_join(
            spark.createDataFrame(q),
            spark.createDataFrame(c),
            query_id="pid", cand_id="cid", d_max_m=d_max, k=k,
        )
        .select("pid", "cid", "dist_m")
        .toPandas()
    )
    expect = _knn_bruteforce(q, c, d_max, k)
    got_set = sorted(map(tuple, got[["pid", "cid"]].to_numpy()))
    assert got_set == expect
    assert len(expect) > 50  # scenario non-trivial


def test_pip_join_exact_vs_bruteforce(spark):
    n = 300
    pts = _points(spark, n)
    b = S.buildings_pdf(np.arange(400), 200)
    import json

    polys = [(int(r.building_id), json.loads(r.rings_json)) for r in b.itertuples()]
    bdf = S.synth_buildings(spark, 200, include_special=False).select("building_id", "rings")
    got = (
        pip_join(spark.createDataFrame(pts), bdf, level=16)
        .select("pid", "building_id")
        .toPandas()
    )
    expect = []
    for i in range(n):
        for bid, rings in polys:
            if G.points_in_polygon(
                np.array([pts.lon[i]]), np.array([pts.lat[i]]),
                [np.array(r) for r in rings],
            )[0]:
                expect.append((int(pts.pid[i]), bid))
    assert sorted(map(tuple, got.to_numpy())) == sorted(expect)


def test_pip_join_salted_equals_plain(spark):
    pts = spark.createDataFrame(_points(spark, 300))
    bdf = S.synth_buildings(spark, 200, include_special=False).select("building_id", "rings")
    plain = pip_join(pts, bdf, 16).select("pid", "building_id").toPandas()
    salted = pip_join(
        pts, bdf, 16, salt=True, hot_threshold=5, rows_per_task=3
    ).select("pid", "building_id").toPandas()
    key = lambda d: sorted(map(tuple, d.to_numpy()))
    assert key(plain) == key(salted)


@pytest.mark.parametrize("expand", ["queries", "candidates"])
@pytest.mark.parametrize("k", [1, None], ids=["k1", "band"])
def test_knn_join_salted_hot_cell_equals_bruteforce(spark, expand, k):
    """The salted kNN path on a planted hot cell (half of the queries in a
    ~30 m box): with a tiny ``hot_threshold`` the query side's hot cell is
    salted ×S > 1, and the pairs must equal brute force and the unsalted
    join, with the ring explode on either side, for the argmin (k=1) and
    the distance band (k=None)."""
    from osm_addr_tools_spark.functions import cells as C

    q = _points(spark, 300)
    c = _points(spark, 300, salt_base=1).rename(
        columns={"pid": "cid", "lon": "c_lon", "lat": "c_lat"}
    )
    d_max, hot_threshold, rows_per_task = 25.0, 5, 3
    qdf, cdf = spark.createDataFrame(q), spark.createDataFrame(c)
    hottest = (
        with_cell(qdf, C.level_for_max_distance(d_max))
        .groupBy("cell").count().agg(F.max("count")).first()[0]
    )
    assert hottest > hot_threshold > rows_per_task, hottest  # salt factor ≥ 2

    kw = dict(query_id="pid", cand_id="cid", d_max_m=d_max, k=k, expand=expand)
    salted = knn_join(
        qdf, cdf, salt=True, hot_threshold=hot_threshold,
        rows_per_task=rows_per_task, **kw,
    ).select("pid", "cid").toPandas()
    plain = knn_join(qdf, cdf, **kw).select("pid", "cid").toPandas()

    expect = _knn_bruteforce(q, c, d_max, k)
    key = lambda df: sorted(map(tuple, df.to_numpy()))
    assert key(salted) == expect == key(plain)
    assert len(expect) > (50 if k == 1 else 1000), len(expect)


def test_knn_join_ring_variants_equal_bruteforce(spark):
    """Ring generalization (VERDICT r2 #1): (2r+1)×(2r+1) at the finer
    level picked by d_max/r, with the explode on either side, must return
    the identical pair set as r=1 and as brute force."""
    q = _points(spark, 250)
    c = _points(spark, 250, salt_base=1).rename(
        columns={"pid": "cid", "lon": "c_lon", "lat": "c_lat"}
    )
    d_max, k = 25.0, 2
    expect = _knn_bruteforce(q, c, d_max, k)
    assert len(expect) > 30
    for ring_r, expand in ((2, "queries"), (3, "candidates"), (1, "candidates")):
        got = (
            knn_join(
                spark.createDataFrame(q), spark.createDataFrame(c),
                query_id="pid", cand_id="cid", d_max_m=d_max, k=k,
                ring_r=ring_r, expand=expand,
            )
            .select("pid", "cid")
            .toPandas()
        )
        assert sorted(map(tuple, got.to_numpy())) == expect, (ring_r, expand)


def test_knn_join_exact_at_face_corner(spark):
    """Regression (ADVICE r1): the min-cell-width bound must hold at cube-face
    corners, where quadratic-projection cells are narrowest. Points straddle
    the face-0/1/2 corner (lon 45, lat atan(1/sqrt(2)) = 35.2644), d_max in
    the top band of the level the sizing rule picks."""
    ids = np.arange(300)
    q = pd.DataFrame({
        "pid": ids,
        "lon": 45.0 + (S.h01(ids, 700) - 0.5) * 0.004,
        "lat": 35.2644 + (S.h01(ids, 701) - 0.5) * 0.003,
    })
    c = pd.DataFrame({
        "cid": ids,
        "c_lon": 45.0 + (S.h01(ids, 702) - 0.5) * 0.004,
        "c_lat": 35.2644 + (S.h01(ids, 703) - 0.5) * 0.003,
    })
    from osm_addr_tools_spark.functions import cells as C
    # 95 m sits between the TRUE level-16 min width (91.7 m) and the old
    # over-estimated bound (101.8 m): the pre-fix sizing picked level 16
    # here and could miss corner-area neighbors; the fix picks 15.
    d_max = 95.0
    assert C.level_for_max_distance(d_max) == 15
    got = (
        knn_join(
            spark.createDataFrame(q), spark.createDataFrame(c),
            query_id="pid", cand_id="cid", d_max_m=d_max, k=1,
        )
        .select("pid", "cid")
        .toPandas()
    )
    d = G.haversine_np(
        q.lon.to_numpy()[:, None], q.lat.to_numpy()[:, None],
        c.c_lon.to_numpy()[None, :], c.c_lat.to_numpy()[None, :],
    )
    want = {}
    for i in range(len(q)):
        within = np.flatnonzero(d[i] <= d_max)
        if len(within):
            j = within[np.lexsort((c.cid.to_numpy()[within], d[i][within]))][0]
            want[int(q.pid[i])] = int(c.cid[j])
    got_map = dict(zip(got.pid, got.cid))
    assert got_map == want
    assert len(want) > 10  # the scenario actually exercises matches
    # the ring generalization must stay exact in the same worst-case
    # corner geometry, both explode sides (VERDICT r2 #1)
    for ring_r, expand in ((3, "candidates"), (2, "queries")):
        got_r = (
            knn_join(
                spark.createDataFrame(q), spark.createDataFrame(c),
                query_id="pid", cand_id="cid", d_max_m=d_max, k=1,
                ring_r=ring_r, expand=expand,
            )
            .select("pid", "cid")
            .toPandas()
        )
        assert dict(zip(got_r.pid, got_r.cid)) == want, (ring_r, expand)


def test_asof_latest_deterministic_on_duplicate_ts(spark):
    """Duplicate (key, ts) rows must resolve to the same winner on every
    run/partitioning (VERDICT r2 #5)."""
    import datetime

    from osm_addr_tools_spark.operators.joins import asof_latest

    t = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t, "b"), (1, t, "a"), (1, t - datetime.timedelta(1), "z"),
        (2, t, "y"), (2, t, "x"),
    ]
    df = spark.createDataFrame(rows, "key int, ts timestamp, val string")
    for parts in (1, 7):
        got = (
            asof_latest(df.repartition(parts), "key", "ts")
            .orderBy("key").toPandas()
        )
        assert list(got.val) == ["a", "x"], got


def test_band_join_matches_naive(spark):
    """J8 band join == brute-force |l-r| <= band, including boundary-exact
    pairs (values chosen to land exactly band apart)."""
    import pandas as pd

    from osm_addr_tools_spark.operators.joins import band_join

    vals = [0.0, 0.25, 0.5, 1.0, 1.25, 3.0, 3.25, 100.0, -0.25, -1.0, 7.75, 8.0]
    pdf = pd.DataFrame({"id": range(len(vals)), "v": vals})
    df = spark.createDataFrame(pdf)
    lhs = df.select(F.col("id").alias("a"), F.col("v").alias("va"))
    rhs = df.select(F.col("id").alias("b"), F.col("v").alias("vb"))
    band = 0.25
    got = {
        (r.a, r.b)
        for r in band_join(lhs, rhs, "va", "vb", band).collect()
    }
    want = {
        (i, j)
        for i, vi in enumerate(vals)
        for j, vj in enumerate(vals)
        if abs(vi - vj) <= band
    }
    assert got == want
    plan = band_join(lhs, rhs, "va", "vb", band)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_band_join_requires_dyadic_band(spark):
    from osm_addr_tools_spark.operators.joins import band_join

    df = spark.range(3).select(F.col("id"), F.col("id").cast("double").alias("v"))
    with pytest.raises(ValueError, match="power of two"):
        band_join(df, df, "v", "v", 0.1)


def test_knn_ring_sufficiency_raises_not_asserts(monkeypatch):
    """The ring-sufficiency proof must survive `python -O` (VERDICT r3 #4):
    a level too fine for the ring radius raises ValueError at plan-build
    time, before any DataFrame is touched."""
    from osm_addr_tools_spark.functions import cells as C

    monkeypatch.setattr(C, "level_for_max_distance", lambda d: C.MAX_LEVEL)
    with pytest.raises(ValueError, match="sufficiency violated"):
        knn_join(None, None, "qid", "cid", d_max_m=5000.0)


def _poly_df(spark, items):
    """items: [(id, [[(lon,lat), ...] ring, ...])] → (id, rings) DataFrame."""
    data = [
        (pid, [[{"lon": float(x), "lat": float(y)} for (x, y) in ring] for ring in rings])
        for pid, rings in items
    ]
    return spark.createDataFrame(
        data, "id long, rings array<array<struct<lon:double,lat:double>>>"
    )


def test_polygon_join_concave_holes_vs_geometry_truth(spark):
    """J9 on the shapes a bbox join gets WRONG: a rect in an L-shape's
    concave notch (bbox overlaps, no shared interior), a bar properly
    crossing the arm (no vertex containment either way), a rect inside a
    hole (covered by the outer bbox, inside no-man's land), and a rect
    straddling the hole edge."""
    from osm_addr_tools_spark.operators.joins import polygon_join

    u = 0.0004
    b = lambda x0, y0, x1, y1: [
        (10 + x0 * u, 50 + y0 * u), (10 + x1 * u, 50 + y0 * u),
        (10 + x1 * u, 50 + y1 * u), (10 + x0 * u, 50 + y1 * u),
    ]
    L = [[(10, 50), (10 + 3 * u, 50), (10 + 3 * u, 50 + u),
          (10 + u, 50 + u), (10 + u, 50 + 3 * u), (10, 50 + 3 * u)]]
    holed = [b(5, 5, 9, 9), b(6, 6, 8, 8)]
    left = _poly_df(spark, [(1, L), (2, holed)])
    right = _poly_df(spark, [
        (10, [b(1.5, 1.5, 2.5, 2.5)]),   # in the notch: bbox hit, no interior
        (11, [b(-0.5, 1.8, 1.5, 2.2)]),  # bar crossing the vertical arm
        (12, [b(1.5, 0.25, 2.5, 0.75)]), # inside the bottom arm
        (13, [b(10, 10, 11, 11)]),       # far away
        (14, [b(6.5, 6.5, 7.5, 7.5)]),   # fully inside the hole
        (15, [b(5.5, 6.5, 6.5, 7.5)]),   # straddles the hole edge
    ])
    left = left.withColumnRenamed("id", "lid")
    right = right.withColumnRenamed("id", "rid")
    got = polygon_join(left, right, "lid", "rid", level=18).toPandas()
    pairs = set(zip(got.lid, got.rid))
    assert pairs == {(1, 11), (1, 12), (2, 15)}, pairs

    salted = polygon_join(
        left, right, "lid", "rid", level=18, salt=True,
        hot_threshold=2, rows_per_task=1,
    ).toPandas()
    assert set(zip(salted.lid, salted.rid)) == pairs


def test_polygons_intersect_kernel_vs_convex_clip_reference(spark):
    """Property gate for the J9 refine kernel: on random CONVEX polygon
    pairs, shared-interior truth is computable independently by
    Sutherland–Hodgman clipping (intersection area > 0). The kernel must
    agree exactly away from degenerate boundary-touch configurations
    (random reals: measure zero)."""
    import numpy as np

    from osm_addr_tools_spark.operators.joins import polygons_intersect_udf

    def convex(rng, cx, cy, r, k):
        # distinct angles on a circle, in order -> always strictly convex
        # (random radii would give a star-shaped polygon, which breaks the
        # Sutherland–Hodgman convexity precondition)
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        return np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1)

    def clip_area(subject, clipper):
        # Sutherland–Hodgman: clip subject by each clipper half-plane
        def inside(p, a, b):
            return (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (p[0] - a[0]) >= 0
        def line_isect(p, q, a, b):
            x1, y1, x2, y2 = p[0], p[1], q[0], q[1]
            x3, y3, x4, y4 = a[0], a[1], b[0], b[1]
            den = (x1 - x2) * (y3 - y4) - (y1 - y2) * (x3 - x4)
            t = ((x1 - x3) * (y3 - y4) - (y1 - y3) * (x3 - x4)) / den
            return (x1 + t * (x2 - x1), y1 + t * (y2 - y1))
        # ensure ccw clipper
        cp = clipper
        if np.cross(cp[1] - cp[0], cp[2] - cp[0]) < 0:
            cp = cp[::-1]
        out = [tuple(p) for p in subject]
        for i in range(len(cp)):
            a, b = cp[i], cp[(i + 1) % len(cp)]
            inp, out = out, []
            if not inp:
                break
            for j in range(len(inp)):
                p, q = inp[j], inp[(j + 1) % len(inp)]
                pi, qi = inside(p, a, b), inside(q, a, b)
                if pi and qi:
                    out.append(q)
                elif pi and not qi:
                    out.append(line_isect(p, q, a, b))
                elif not pi and qi:
                    out.append(line_isect(p, q, a, b))
                    out.append(q)
        if len(out) < 3:
            return 0.0
        v = np.array(out)
        x, y = v[:, 0], v[:, 1]
        return 0.5 * abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))

    def edges_flat(v):
        nxt = np.roll(v, -1, axis=0)
        return np.concatenate([v, nxt], axis=1).ravel().tolist()

    rng = np.random.default_rng(17)
    kernel = polygons_intersect_udf().func  # unwrap the pandas_udf
    import pandas as pd

    ea, eb, want = [], [], []
    for _ in range(250):
        a = convex(rng, rng.uniform(-1, 1), rng.uniform(-1, 1), rng.uniform(0.2, 1.0), int(rng.integers(3, 9)))
        b = convex(rng, rng.uniform(-1, 1), rng.uniform(-1, 1), rng.uniform(0.2, 1.0), int(rng.integers(3, 9)))
        ea.append(edges_flat(a))
        eb.append(edges_flat(b))
        want.append(clip_area(a, b) > 1e-12)
    got = kernel(pd.Series(ea), pd.Series(eb)).tolist()
    assert got == want


_HOLED = [
    [(21.0, 52.2), (21.004, 52.2), (21.004, 52.203), (21.0, 52.203)],
    [(21.0015, 52.2011), (21.0025, 52.2011), (21.0025, 52.2019), (21.0015, 52.2019)],
]
_SEAM = [[(44.9998, 10.0), (45.0002, 10.0), (45.0002, 10.0003), (44.9998, 10.0003)]]
_SUBCELL = [[(21.00001, 52.20001), (21.00002, 52.20001), (21.00002, 52.20002)]]
_KERNEL_CASES = {1: None, 2: [], 3: _HOLED, 4: _SEAM, 5: _SUBCELL}


@pytest.mark.parametrize("udf", ["cover_polygon", "rings_to_edges", "cover_and_edges"])
def test_polygon_udfs_match_cell_kernel_and_edge_reference(spark, udf):
    """The three polygon UDFs share one ring/edge/cover kernel; each must
    agree row for row with cells.cover_polygon (cover) and a per-edge
    closed-ring reference (edges) on NULL rings, empty rings, a holed
    polygon, a face-seam polygon and a polygon smaller than one cell."""
    from osm_addr_tools_spark.functions import cells as C
    from osm_addr_tools_spark.operators import joins as J

    level = 19
    df = spark.createDataFrame(
        [
            (pid, None if rings is None else [
                [{"lon": x, "lat": y} for (x, y) in ring] for ring in rings
            ])
            for pid, rings in _KERNEL_CASES.items()
        ],
        "id long, rings array<array<struct<lon:double,lat:double>>>",
    )
    rings = F.col("rings")
    if udf == "cover_polygon":
        out = df.select("id", J.cover_polygon_udf(level)(rings).alias("cover"))
    elif udf == "rings_to_edges":
        out = df.select("id", J.rings_to_edges_udf()(rings).alias("edges"))
    else:
        out = df.select("id", J.cover_and_edges_udf(level)(rings).alias("ce")).select(
            "id", "ce.cover", "ce.edges"
        )
    got = {r.id: r.asDict() for r in out.collect()}
    assert sorted(got) == sorted(_KERNEL_CASES)
    for pid, poly in _KERNEL_CASES.items():
        poly = poly or []
        if "cover" in got[pid]:
            assert got[pid]["cover"] == C.cover_polygon(poly, level).tolist(), pid
        if "edges" in got[pid]:
            ref = [
                c
                for ring in poly
                for k in range(len(ring))
                for c in (*ring[k], *ring[(k + 1) % len(ring)])
            ]
            assert list(got[pid]["edges"]) == ref, pid
    seam_faces = {c >> 61 for c in C.cover_polygon(_SEAM, level).tolist()}
    assert seam_faces == {0, 1}
    assert len(C.cover_polygon(_SUBCELL, level)) >= 1
    assert set(C.cover_polygon(_HOLED, level).tolist()) < set(
        C.cover_polygon(_HOLED[:1], level).tolist()
    )
