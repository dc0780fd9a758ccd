"""Composite spatial join operators (SURVEY.md §2.4, J1–J8).

Everything is expressed as DataFrame-level plan construction — equi-joins on
int64 cell keys plus residual Column predicates — so Catalyst keeps full
control of physical strategy (broadcast vs sort-merge vs shuffled-hash) and
AQE can re-plan at runtime. No RDDs, no collect() on data paths, no custom
Strategy: the scale story (BASELINE north_rule: explicit partitioning /
shuffle / skew handling at 10^12 docs) lives in:

  * cell-bucketed candidate generation (J1/J4/J5) — turns every spatial
    predicate into an equi-join Catalyst can shuffle-plan;
  * two-pass salting (J3) — hot-cell histogram job → per-key salt factors
    broadcast back, bounding task size under urban skew. AQE also splits
    skewed sort-merge and shuffled-hash partitions, but only from runtime
    statistics and its own thresholds; the north rule asks for explicit
    hot-cell handling, so this is deliberate app-level logic;
  * exactness assertions carried at plan-build time (kNN level sizing).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from osm_addr_tools_spark.functions import cells as C
from osm_addr_tools_spark.functions import geo as G

# ---------------------------------------------------------------------------
# pandas-UDF wrappers over the cell kernels (Arrow-batched, never per-row)
# ---------------------------------------------------------------------------


def cell_encode_udf(level: int):
    @pandas_udf("long")
    def enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        out = C.cell_encode(lon.to_numpy(np.float64), lat.to_numpy(np.float64), level)
        return pd.Series(out)

    # asNondeterministic (guide §4.4 pattern): the kernel IS deterministic;
    # the marker only fences the optimizer, which otherwise pushes inferred
    # join-key predicates (isnotnull(_cell)) BELOW the projection and
    # re-evaluates the UDF once under the filter and once above it —
    # measured as paired ArrowEvalPython[enc] nodes in every spatial-join
    # plan. The blocked pushdowns all reference the UDF output itself, so
    # nothing that could reach the parquet scan is lost.
    return enc.asNondeterministic()


def cell_parent_udf(level: int):
    """cell → ancestor id at ``level`` (C2; pure id arithmetic kernel)."""

    @pandas_udf("long")
    def parent(cell: pd.Series) -> pd.Series:
        out = C.cell_parent(cell.to_numpy(np.int64).astype(np.uint64), level)
        return pd.Series(out.astype(np.int64))

    return parent


def cell_ring_udf(r: int):
    """cell → array of all same-level cells within Chebyshev distance r,
    including the cell itself ((2r+1)² block, face-wrap correct)."""

    @pandas_udf("array<long>")
    def ring(cell: pd.Series) -> pd.Series:
        return pd.Series(C.cell_ring(cell.to_numpy(np.int64), r))

    # see cell_encode_udf: optimizer fence against duplicate evaluation
    return ring.asNondeterministic()


def cell_center_udf():
    """cell → struct(lon, lat) of the cell center (C1 inverse)."""

    @pandas_udf("struct<lon:double,lat:double>")
    def center(cell: pd.Series) -> pd.DataFrame:
        lon, lat = C.cell_center_lonlat(cell.to_numpy(np.int64))
        return pd.DataFrame({"lon": lon, "lat": lat})

    return center


def _ring_vertices(ring) -> np.ndarray:
    """One ring of struct<lon,lat> → (n, 2) float64 vertices."""
    return np.array([(p["lon"], p["lat"]) for p in ring], dtype=np.float64)


def _ring_edges(v: np.ndarray) -> np.ndarray:
    """(n, 2) vertices → the closed ring's flat edges [xa,ya,xb,yb]×n."""
    return np.concatenate([v, np.roll(v, -1, axis=0)], axis=1).ravel()


def _cover_ids(triples_per_row: list[list[tuple[int, int, int]]], level: int) -> list[list[int]]:
    """Per-row (face, i, j) cover triples → per-row sorted unique cell ids
    at ``level``, with ONE vectorized Hilbert encode for the whole Arrow
    batch (encode dominated cost when done cell-at-a-time: 0.9 ms →
    ~0.1 ms per building)."""
    flat = [t for row in triples_per_row for t in row]
    ids = np.empty(0, dtype=np.int64)  # all-empty batch: no covers at all
    if flat:
        arr = np.asarray(flat, dtype=np.int64)
        leaf = C.cell_from_face_ij(arr[:, 0], arr[:, 1], arr[:, 2])
        ids = C.cell_parent(leaf, level).astype(np.int64)
    out, pos = [], 0
    for row in triples_per_row:
        out.append(sorted(set(ids[pos : pos + len(row)].tolist())))
        pos += len(row)
    return out


def cover_polygon_udf(level: int):
    """rings (array<array<struct<lon,lat>>>) → array<long> cover cells."""

    @pandas_udf("array<long>")
    def cov(rings: pd.Series) -> pd.Series:
        triples = [
            C.cover_polygon_ij([_ring_vertices(r) for r in poly], level)
            if poly is not None and len(poly) else []
            for poly in rings
        ]
        return pd.Series(_cover_ids(triples, level))

    # see cell_encode_udf: optimizer fence against duplicate evaluation
    # (the tile explode otherwise pushes size(cover) > 0 below this)
    return cov.asNondeterministic()


def rings_to_edges_udf():
    """rings → flat edge array [xa,ya,xb,yb]×n over ALL rings (outer +
    holes). Downstream containment uses even-odd parity over every edge,
    which IS outer-minus-holes semantics; and array<double> crosses
    Arrow→pandas as plain numpy (no per-vertex dict unpacking)."""

    @pandas_udf("array<double>")
    def to_edges(rings: pd.Series) -> pd.Series:
        return pd.Series([
            np.concatenate([_ring_edges(_ring_vertices(r)) for r in poly])
            if poly is not None and len(poly) else []
            for poly in rings
        ])

    return to_edges


def cover_and_edges_udf(level: int):
    """rings → struct(cover array<long>, edges array<double>): ONE Arrow
    pass and ONE nested-struct unpack per polygon feeds both the candidate
    generator (cover cells) and the exact refine kernel (flat edges)."""

    @pandas_udf("struct<cover:array<long>,edges:array<double>>")
    def both(rings: pd.Series) -> pd.Series:
        covers: list[list[tuple[int, int, int]]] = []
        edges_out = []
        for poly in rings:
            if poly is None or len(poly) == 0:
                covers.append([])
                edges_out.append([])
                continue
            verts = [_ring_vertices(r) for r in poly]
            covers.append(C.cover_polygon_ij(verts, level))
            edges_out.append(np.concatenate([_ring_edges(v) for v in verts]))
        return pd.DataFrame({"cover": _cover_ids(covers, level), "edges": edges_out})

    # see cell_encode_udf: without the fence, the explode's inferred
    # size(cover) > 0 predicate is pushed below the projection and THE
    # HEAVIEST UDF OF THE CONTAINMENT JOIN runs twice per polygon
    # (stacked ArrowEvalPython[both] nodes in one stage, measured)
    return both.asNondeterministic()


def pip_udf():
    """(lon, lat, edges) → bool exact even-odd ray cast (J4 refine).

    Fully batch-vectorized: all candidate rows' edges concatenate into one
    (total_edges, 4) array; crossings count per row via bincount; parity
    decides containment. Zero per-row Python — this replaced a per-row
    loop that dominated the containment join at scale.
    """

    @pandas_udf("boolean")
    def pip(lon: pd.Series, lat: pd.Series, edges: pd.Series) -> pd.Series:
        n = len(lon)
        px = lon.to_numpy(np.float64)
        py = lat.to_numpy(np.float64)
        counts = np.fromiter(
            ((len(e) // 4) if e is not None else 0 for e in edges),
            dtype=np.int64, count=n,
        )
        total = int(counts.sum())
        if total == 0:
            return pd.Series(np.zeros(n, dtype=bool))
        flat = np.concatenate(
            [np.asarray(e, dtype=np.float64) for e in edges if e is not None and len(e)]
        ).reshape(-1, 4)
        row_idx = np.repeat(np.arange(n), counts)
        xa, ya, xb, yb = flat[:, 0], flat[:, 1], flat[:, 2], flat[:, 3]
        pyr = py[row_idx]
        pxr = px[row_idx]
        crosses = (ya > pyr) != (yb > pyr)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = xa + (pyr - ya) * (xb - xa) / (yb - ya)
        hit = crosses & (pxr < xint)
        parity = np.bincount(row_idx[hit], minlength=n) & 1
        return pd.Series(parity.astype(bool))

    return pip


def with_cell(df: DataFrame, level: int, lon: str = "lon", lat: str = "lat",
              out: str = "cell") -> DataFrame:
    return df.withColumn(out, cell_encode_udf(level)(F.col(lon), F.col(lat)))


# ---------------------------------------------------------------------------
# J3 — two-pass salted skew-safe join
# ---------------------------------------------------------------------------

DEFAULT_HOT_THRESHOLD = 50_000
DEFAULT_ROWS_PER_TASK = 25_000
MAX_SALT = 64


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    probe_salt_col: Column,
    how: str = "inner",
    hot_threshold: int = DEFAULT_HOT_THRESHOLD,
    rows_per_task: int = DEFAULT_ROWS_PER_TASK,
    max_salt: int = MAX_SALT,
) -> DataFrame:
    """Equi-join on ``key`` with per-key salting for hot keys (J3).

    Pass 1 computes the hot-key histogram on the probe (big) side; keys above
    ``hot_threshold`` get salt factor ceil(cnt/rows_per_task) ≤ max_salt.
    Probe rows get ``salt = pmod(hash(probe_salt_col), S)``; build rows for
    hot keys are replicated ×S via ``sequence``+``explode``. Non-hot keys
    keep salt 0 on both sides, so the result is row-identical to the
    unsalted join (property-tested).

    The histogram job is a cheap partial-agg scan; the factors table is tiny
    (only hot keys) and broadcast. AQE's skew split (sort-merge and
    shuffled-hash joins) acts on its own runtime thresholds; this path is
    the explicit hot-cell handling the north rule asks for, with the hot
    keys and salt factors fixed by ``hot_threshold`` and ``rows_per_task``.
    Callers: ``salt=True`` on the spatial cell joins (``pip_join``,
    ``knn_join``, ``polygon_join``); ``run_conflate`` forwards its ``salt``
    to the first two.

    Only inner/left are supported: right/full would emit each UNMATCHED
    replicated build row once per salt value after ``_salt`` is dropped.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how in ('inner','left'); got {how!r} — "
            "replicated build rows would duplicate unmatched output under "
            "right/full semantics"
        )
    hot = (
        probe.groupBy(key)
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .where(F.col("_cnt") > hot_threshold)
        .select(
            key,
            F.least(
                F.ceil(F.col("_cnt") / F.lit(rows_per_task)), F.lit(max_salt)
            ).cast("int").alias("_sf"),
        )
    )
    p = (
        probe.join(F.broadcast(hot), key, "left")
        .withColumn(
            "_salt",
            F.when(F.col("_sf").isNull(), F.lit(0)).otherwise(
                F.pmod(F.xxhash64(probe_salt_col), F.col("_sf")).cast("int")
            ),
        )
        .drop("_sf")
    )
    b = (
        build.join(F.broadcast(hot), key, "left")
        .withColumn(
            "_salt",
            F.explode(
                F.when(
                    F.col("_sf").isNull(), F.array(F.lit(0))
                ).otherwise(F.sequence(F.lit(0), F.col("_sf") - 1))
            ),
        )
        .drop("_sf")
    )
    # shuffle_hash hint: the build side flows from UDF-heavy subtrees whose
    # static size estimates are unreliable — a wrong initial broadcast
    # serializes hundreds of MB through the driver (measured 58 s at 600k
    # rows). Forcing shuffle keeps it distributed; AQE still downgrades to
    # broadcast at runtime when the ACTUAL size is small.
    return p.join(b.hint("shuffle_hash"), [key, "_salt"], how).drop("_salt")


# ---------------------------------------------------------------------------
# J4 — point-in-polygon containment join
# ---------------------------------------------------------------------------


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    level: int,
    lon: str = "lon",
    lat: str = "lat",
    rings: str = "rings",
    salt: bool = False,
    **salt_kw,
) -> DataFrame:
    """Pair each point with every polygon containing it (J4).

    Candidates: polygon cover cells at ``level`` (C4 cover ⊇ every cell that
    contains an interior point ⇒ no false negatives) equi-joined against
    point cells at the same level; refined by the exact ray-cast test.
    Output: points' columns + the polygons' columns (inner join).
    """
    pts = with_cell(points, level, lon, lat, "_cell")
    # one Arrow pass over polygons computes cover cells AND the flat edge
    # array; rings never travel through the join (smaller shuffle payload,
    # no nested-struct unpacking in the refine kernel)
    polys = polygons.withColumn("_ce", cover_and_edges_udf(level)(F.col(rings))).drop(rings)
    polys = polys.select("*", F.col("_ce.cover").alias("_cover"),
                         F.col("_ce.edges").alias("_edges")).drop("_ce")
    polys = polys.withColumn("_cell", F.explode("_cover")).drop("_cover")
    if salt:
        cand = salted_join(pts, polys, "_cell", F.col(lon), **salt_kw)
    else:
        # see salted_join: never let a static misestimate broadcast the
        # cover-exploded polygon side through the driver
        cand = pts.join(polys.hint("shuffle_hash"), "_cell")
    return (
        cand.where(pip_udf()(F.col(lon), F.col(lat), F.col("_edges")))
        .drop("_cell", "_edges")
    )


# ---------------------------------------------------------------------------
# J9 — polygon-polygon intersection join
# ---------------------------------------------------------------------------


def polygons_intersect_udf(touch: str = "fast"):
    """(edges_a, edges_b) → bool: do two polygons (with holes, even-odd)
    share interior? Strict-interior semantics: boundary-touching polygons
    (shared edge or corner, no shared interior) do NOT pair — mirroring
    the oracle's strict interval inequalities.

    ``touch="fast"`` (default): True iff (1) any edge pair PROPERLY
    crosses, or (2) the FIRST vertex of one lies strictly inside the
    other. Batch shape: per candidate pair, the edge sets broadcast to an
    (m × k) orientation grid — all-numpy inner math, bounded by polygon
    vertex counts (≤ ~240 in the stress fixtures), so the per-pair Python
    overhead is constant like the F3 similarity refine.

    PRECONDITION of the fast mode — general position (ADVICE r4):
    boundary-degenerate pairs (collinear overlapping edges, a vertex
    lying exactly on the other polygon's edge, two axis-aligned
    rectangles sharing an exact extent) have no PROPER crossing, so the
    decision falls to a ray cast through a boundary point —
    ordering-dependent, can classify either way. Such configurations are
    measure-zero for float inputs and are scoped out of the convex-clip
    property suite.

    ``touch="strict"`` (VERDICT r5 #7): deterministic strict-interior
    semantics on exact-touch configurations too. Pairs decided by a
    proper crossing or by a reliably-off-boundary vertex probe take the
    same vectorized path as fast mode; only pairs exhibiting an exact
    boundary degeneracy (some orientation in the grid is exactly 0 with
    overlapping extents) enter the tie-break, which is COMPLETE for
    bit-exactly-representable degeneracies:

    * split every edge of one polygon at all its intersections with the
      other's boundary (point touches and collinear-overlap interval
      endpoints included) — each resulting open sub-segment lies entirely
      inside, outside, or on the other boundary, so its midpoint decides
      membership; any sub-segment midpoint strictly interior ⇒ shared
      interior (and symmetrically);
    * if neither boundary enters the other's interior, the interiors are
      nested-or-disjoint: probe a constructed strictly-interior point of
      each polygon (lowest scanline interval through an x strictly
      between two distinct vertex x's — never through a vertex) against
      the other. Handles identical polygons / shared-extent rectangles.

    Exactness caveat: orientation signs are float; degeneracies are
    detected when the cross product is EXACTLY zero (true for integer or
    dyadic coordinates of modest magnitude — the adversarial inputs this
    mode exists for). Near-degenerate coordinates within float rounding
    remain undefined in either mode, as with any non-exact-arithmetic
    kernel. Fixtures pin the policy: tests/test_polygon_touch.py
    (shared edge → False, shared corner → False, identical → True,
    T-touch → False, contained-sharing-an-edge → True, partial edge
    overlap with interior overlap → True).
    """
    if touch not in ("fast", "strict"):
        raise ValueError(f"touch must be 'fast' or 'strict'; got {touch!r}")
    strict = touch == "strict"

    def _cross(ox, oy, ax, ay, bx, by):
        return (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)

    def _point_in(px, py, e):
        xa, ya, xb, yb = e[:, 0], e[:, 1], e[:, 2], e[:, 3]
        crosses = (ya > py) != (yb > py)
        if not crosses.any():
            return False
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = xa + (py - ya) * (xb - xa) / (yb - ya)
        return bool((crosses & (px < xint)).sum() & 1)

    def _on_boundary(px, py, e):
        xa, ya, xb, yb = e[:, 0], e[:, 1], e[:, 2], e[:, 3]
        cr = (xb - xa) * (py - ya) - (yb - ya) * (px - xa)
        inbox = (
            (np.minimum(xa, xb) <= px)
            & (px <= np.maximum(xa, xb))
            & (np.minimum(ya, yb) <= py)
            & (py <= np.maximum(ya, yb))
        )
        return bool(((cr == 0) & inbox).any())

    def _strictly_in(px, py, e):
        """True iff strictly interior; False if outside OR on boundary."""
        return (not _on_boundary(px, py, e)) and _point_in(px, py, e)

    def _interior_point(e):
        """A point strictly inside the polygon (holes respected): lowest
        even-odd scanline interval through an x strictly between two
        distinct vertex x's — the line passes through no vertex, so every
        crossing is transversal."""
        xs = np.unique(np.concatenate([e[:, 0], e[:, 2]]))
        xa, ya, xb, yb = e[:, 0], e[:, 1], e[:, 2], e[:, 3]
        for i in range(len(xs) - 1):
            x = (xs[i] + xs[i + 1]) / 2.0
            hit = (xa < x) != (xb < x)
            if hit.sum() < 2:
                continue
            with np.errstate(divide="ignore", invalid="ignore"):
                ys = ya[hit] + (x - xa[hit]) * (yb[hit] - ya[hit]) / (xb[hit] - xa[hit])
            ys = np.sort(ys)
            return x, (ys[0] + ys[1]) / 2.0
        return None

    def _boundary_probe(src, other):
        """Does ∂src enter the strict interior of ``other``? Split each
        src edge at every intersection with ∂other; probe sub-segment
        midpoints. Python loop over src edges (slow path only), numpy
        over other's edges inside."""
        oxa, oya, oxb, oyb = other[:, 0], other[:, 1], other[:, 2], other[:, 3]
        for px, py, qx, qy in src:
            dex, dey = qx - px, qy - py
            if dex == 0 and dey == 0:
                continue
            dfx, dfy = oxb - oxa, oyb - oya
            denom = dex * dfy - dey * dfx
            apx, apy = oxa - px, oya - py
            ts = [0.0, 1.0]
            with np.errstate(divide="ignore", invalid="ignore"):
                t = (apx * dfy - apy * dfx) / denom
                u = (apx * dey - apy * dex) / denom
                cross_hit = (denom != 0) & (t >= 0) & (t <= 1) & (u >= 0) & (u <= 1)
            ts.extend(t[cross_hit].tolist())
            # collinear overlaps: project the other edge's endpoints onto e
            col = (denom == 0) & (apx * dey - apy * dex == 0)
            if col.any():
                ee = dex * dex + dey * dey
                ta = ((oxa[col] - px) * dex + (oya[col] - py) * dey) / ee
                tb = ((oxb[col] - px) * dex + (oyb[col] - py) * dey) / ee
                for v in np.concatenate([ta, tb]).tolist():
                    if 0.0 < v < 1.0:
                        ts.append(v)
            ts = sorted(set(ts))
            for t0, t1 in zip(ts, ts[1:]):
                tm = (t0 + t1) / 2.0
                if _strictly_in(px + tm * dex, py + tm * dey, other):
                    return True
        return False

    def _strict_decide(A, B):
        """Tie-break for pairs with an exact boundary degeneracy and no
        proper crossing: complete strict-interior decision (see docstring)."""
        if _boundary_probe(A, B) or _boundary_probe(B, A):
            return True
        # neither boundary enters the other's interior ⇒ nested or disjoint
        for src, other in ((A, B), (B, A)):
            ip = _interior_point(src)
            if ip is not None and _strictly_in(ip[0], ip[1], other):
                return True
        return False

    @pandas_udf("boolean")
    def isect(ea: pd.Series, eb: pd.Series) -> pd.Series:
        out = np.zeros(len(ea), dtype=bool)
        for i, (a, b) in enumerate(zip(ea, eb)):
            if a is None or b is None or len(a) == 0 or len(b) == 0:
                continue
            A = np.asarray(a, dtype=np.float64).reshape(-1, 4)
            B = np.asarray(b, dtype=np.float64).reshape(-1, 4)
            # (1) proper crossing on the (m × k) orientation grid
            p1x, p1y, p2x, p2y = (A[:, j, None] for j in range(4))
            q1x, q1y, q2x, q2y = (B[None, :, j] for j in range(4))
            d1 = _cross(q1x, q1y, q2x, q2y, p1x, p1y)
            d2 = _cross(q1x, q1y, q2x, q2y, p2x, p2y)
            d3 = _cross(p1x, p1y, p2x, p2y, q1x, q1y)
            d4 = _cross(p1x, p1y, p2x, p2y, q2x, q2y)
            # STRICT straddling: a zero orientation (endpoint exactly on
            # the other segment's line) is a touch, not a proper crossing
            # — `(d1>0)!=(d2>0)` would lump 0 with negative and call an
            # endpoint-on-segment contact "proper"
            proper = (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0))) & (
                ((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0))
            )
            if proper.any():
                out[i] = True
                continue
            if not strict:
                # (2) vertex containment, cheap: first vertex each way
                out[i] = _point_in(A[0, 0], A[0, 1], B) or _point_in(
                    B[0, 0], B[0, 1], A
                )
                continue
            # strict mode: reliable vertex probe (off-boundary only)
            pa = (A[0, 0], A[0, 1])
            pb = (B[0, 0], B[0, 1])
            a_on, b_on = _on_boundary(*pa, B), _on_boundary(*pb, A)
            if (not a_on and _point_in(*pa, B)) or (
                not b_on and _point_in(*pb, A)
            ):
                out[i] = True
                continue
            # exact degeneracy anywhere? (zero orientation AND the edge
            # bboxes overlap — a zero orientation against a faraway
            # collinear line is not a contact) — only then pay the
            # tie-break
            zero = (d1 == 0) | (d2 == 0) | (d3 == 0) | (d4 == 0)
            boxes = (
                (np.minimum(p1x, p2x) <= np.maximum(q1x, q2x))
                & (np.minimum(q1x, q2x) <= np.maximum(p1x, p2x))
                & (np.minimum(p1y, p2y) <= np.maximum(q1y, q2y))
                & (np.minimum(q1y, q2y) <= np.maximum(p1y, p2y))
            )
            if a_on or b_on or (zero & boxes).any():
                out[i] = _strict_decide(A, B)
            # else: no crossing, no contact, probes outside ⇒ disjoint
        return pd.Series(out)

    return isect


def polygon_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    level: int,
    left_rings: str = "rings",
    right_rings: str = "rings",
    salt: bool = False,
    touch: str = "fast",
    **salt_kw,
) -> DataFrame:
    """Polygon-polygon intersection join (J9): (left_id, right_id) for
    every pair whose polygons share interior. ``touch="strict"`` enables
    the deterministic exact-touch tie-break in the refine kernel (see
    polygons_intersect_udf) for inputs with adversarially exact
    coordinates — integer grids, shared parcel borders.

    Candidates: BOTH sides' C4 cover cells at ``level`` equi-joined — a
    shared interior region touches ≥1 cell, and the cover contains every
    cell the polygon touches, so that cell is in both covers ⇒ 100%
    recall. Candidate pairs travel light as bare (left_id, right_id)
    through the cell join and pair dedup; the flat edge arrays re-join by
    id for the exact refine (the minhash r2 #8 payload treatment —
    a polygon covering many cells would otherwise drag its edges through
    every duplicate). ``salt=True`` routes the cell join through J3 (a
    metro-area cell shared by thousands of polygons is the hot key).
    """
    ce = cover_and_edges_udf(level)
    lpre = left.select(F.col(left_id).alias("_lid"), ce(F.col(left_rings)).alias("_ce"))
    rpre = right.select(F.col(right_id).alias("_rid"), ce(F.col(right_rings)).alias("_ce"))
    ledges = lpre.select("_lid", F.col("_ce.edges").alias("_le"))
    redges = rpre.select("_rid", F.col("_ce.edges").alias("_re"))
    lcov = lpre.select("_lid", F.explode("_ce.cover").alias("_cell"))
    rcov = rpre.select("_rid", F.explode("_ce.cover").alias("_cell"))
    if salt:
        cand = salted_join(lcov, rcov, "_cell", F.col("_lid"), **salt_kw)
    else:
        cand = lcov.join(rcov.hint("shuffle_hash"), "_cell")
    pairs = cand.select("_lid", "_rid").dropDuplicates(["_lid", "_rid"])
    refined = (
        pairs.join(ledges.hint("shuffle_hash"), "_lid")
        .join(redges.hint("shuffle_hash"), "_rid")
        .where(polygons_intersect_udf(touch)(F.col("_le"), F.col("_re")))
    )
    return refined.select(
        F.col("_lid").alias(left_id), F.col("_rid").alias(right_id)
    )


# ---------------------------------------------------------------------------
# J5 — distance-threshold kNN join
# ---------------------------------------------------------------------------


def knn_join(
    queries: DataFrame,
    candidates: DataFrame,
    query_id: str | list[str],
    cand_id: str,
    d_max_m: float,
    k: int | None = 1,
    q_lon: str = "lon",
    q_lat: str = "lat",
    c_lon: str = "c_lon",
    c_lat: str = "c_lat",
    salt: bool = False,
    ring_r: int = 1,
    expand: str = "queries",
    **salt_kw,
) -> DataFrame:
    """For each query point: the k nearest candidates within ``d_max_m``
    meters (haversine), deterministic tie-break on candidate id (J5).
    ``k=None`` returns ALL candidates within the distance band — no
    ranking window, so the per-query sort is skipped entirely (a
    distance-band join, not a kNN).

    Exactness: the join level is the finest whose minimum cell edge ≥
    d_max / ring_r, hence the (2r+1)×(2r+1) Chebyshev ring of a point's
    cell provably contains every point within d_max (crossing to a cell at
    graph distance ≥ r+1 traverses ≥ r full cell widths ≥ d_max; the
    assertion below is the plan-build-time proof obligation from SURVEY
    §7.4.2). ``ring_r=1`` is the classic 3×3; larger r uses finer cells —
    candidate volume shrinks toward the exact 2d_max disk (e.g. r=3 probes
    49 cells of 1/16 the area ≈ 0.34× the r=1 candidate volume) at the
    price of a (2r+1)² explode on the ``expand`` side.

    ``expand`` picks which side carries the ring explode ("queries" or
    "candidates" — pass the SMALLER side; the pair set is identical either
    way because Chebyshev adjacency is symmetric, property-tested). The
    other side joins on its single cell. Distance math is pure Column
    expressions (whole-stage codegen); only the cell encode/ring are
    pandas UDFs.
    """
    if expand not in ("queries", "candidates"):
        raise ValueError(f"expand must be 'queries' or 'candidates', got {expand!r}")
    level = C.level_for_max_distance(d_max_m / ring_r)
    # plan-build-time proof obligation (SURVEY §7.4.2); a raise, not an
    # assert, so `python -O` cannot strip the exactness guarantee (r3 #4)
    if ring_r * C.min_cell_edge_meters(level) < d_max_m:
        raise ValueError(
            f"kNN sufficiency violated: ring {ring_r} × level-{level} edge "
            f"{C.min_cell_edge_meters(level):.1f} m < d_max {d_max_m} m"
        )
    qid_cols = [query_id] if isinstance(query_id, str) else list(query_id)
    q = with_cell(queries, level, q_lon, q_lat, "_cell")
    c = with_cell(candidates, level, c_lon, c_lat, "_cell")
    ring = cell_ring_udf(ring_r)
    if expand == "queries":
        q = q.withColumn("_cell", F.explode(ring(F.col("_cell"))))
    else:
        c = c.withColumn("_cell", F.explode(ring(F.col("_cell"))))
    if salt:
        cand = salted_join(q, c, "_cell", F.col(qid_cols[0]), **salt_kw)
    else:
        cand = q.join(c.hint("shuffle_hash"), "_cell")
    cand = cand.drop("_cell").withColumn(
        "dist_m", G.haversine_m(F.col(q_lon), F.col(q_lat), F.col(c_lon), F.col(c_lat))
    )
    cand = cand.where(F.col("dist_m") <= F.lit(float(d_max_m)))
    if k is None:
        return cand
    from pyspark.sql.types import MapType

    orderable = not any(
        isinstance(f.dataType, MapType) for f in cand.schema.fields
    )
    if k == 1 and orderable:
        # k=1 is an argmin, not a rank: one partial-aggregating min over
        # struct(dist_m, cand_id, rest) replaces the ranking window —
        # map-side combine collapses candidates before the shuffle and the
        # per-key sort disappears. Row-identical to the window pick:
        # (dist_m, cand_id) is unique per query — each (query, candidate)
        # pair occurs once post-ring-dedup — so the lexicographic struct
        # min IS "ORDER BY dist_m ASC, cand_id ASC LIMIT 1" with that
        # row's remaining columns carried along. Falls back to the window
        # when a column type is not orderable (maps).
        out_cols = cand.columns
        rest = [c for c in out_cols if c not in qid_cols]
        ordered = ["dist_m", cand_id] + [
            c for c in rest if c not in ("dist_m", cand_id)
        ]
        best = cand.groupBy(*qid_cols).agg(
            F.min(F.struct(*ordered)).alias("_best")
        )
        return best.select(
            *[
                F.col(c) if c in qid_cols else F.col(f"_best.{c}").alias(c)
                for c in out_cols
            ]
        )
    w = Window.partitionBy(*qid_cols).orderBy(
        F.col("dist_m").asc(), F.col(cand_id).asc()
    )
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# J7 — as-of latest snapshot per key
# ---------------------------------------------------------------------------


def asof_latest(df: DataFrame, key: str, ts: str) -> DataFrame:
    """Latest row per ``key`` by ``ts``, deterministic under duplicate
    timestamps: ties break on every remaining column ascending (a total
    order as long as no two rows are fully identical — VERDICT r2 #5; the
    docstring used to promise this without implementing it)."""
    tie_cols = [F.col(c).asc() for c in df.columns if c not in (key, ts)]
    w = Window.partitionBy(key).orderBy(F.col(ts).desc(), *tie_cols)
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


# ---------------------------------------------------------------------------
# J8 — generic 1-D numeric range (band) join
# ---------------------------------------------------------------------------


def band_join(
    left: DataFrame,
    right: DataFrame,
    left_val: str,
    right_val: str,
    band: float,
) -> DataFrame:
    """Pairs with ``|left_val - right_val| <= band`` — the J8 theta→equi
    rule as a reusable operator (the 1-D analogue of the cell kNN join):
    candidates via an equi-join on ``bucket = floor(val / band)`` with a
    3-bucket probe ring on the left side, then the exact residual filter.
    Catalyst would plan the raw theta predicate as a
    BroadcastNestedLoopJoin; this never does.

    Exactness: |l - r| <= band ⇒ floor(r/band) ∈ {floor(l/band)-1, ·, +1}.
    That real-arithmetic argument survives floating point ONLY when the
    division is exact, so ``band`` must be a power of two (x/2^k is a pure
    exponent shift — no rounding, floors exact); asserted below. A
    non-dyadic band can round x/band across an integer boundary and drop a
    boundary-equal pair that the residual (computed on the raw values)
    would keep.
    """
    m, e = np.frexp(band)
    if not (band > 0 and m == 0.5):
        raise ValueError(
            f"band must be a positive power of two for exact bucketing, got {band!r}"
        )
    lb = left.withColumn(
        "_bucket",
        F.explode(
            F.array(
                *[
                    (F.floor(F.col(left_val) / F.lit(float(band))) + F.lit(d)).cast("long")
                    for d in (-1, 0, 1)
                ]
            )
        ),
    )
    rb = right.withColumn(
        "_bucket", F.floor(F.col(right_val) / F.lit(float(band))).cast("long")
    )
    pairs = lb.join(rb.hint("shuffle_hash"), "_bucket")
    return pairs.where(
        F.abs(F.col(left_val) - F.col(right_val)) <= F.lit(float(band))
    ).drop("_bucket")
