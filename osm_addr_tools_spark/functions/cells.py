"""From-scratch S2-style hierarchical cell index (SURVEY.md §2.3, C1–C5).

Implements the public S2 geometry scheme — cube-face projection, quadratic
(u,v)→(s,t) warp, Hilbert-curve position, 64-bit packed cell ID with level
encoded by the trailing-1 bit — as vectorized NumPy kernels suitable for
Arrow-batched pandas UDFs. No external geo library is used (none is
installed; BASELINE.json north_rule mandates a from-scratch index).

Everything here is public knowledge: the S2 cell-id layout and the
face/uv/st formulas are documented in the published S2 geometry spec
(s2geometry.io). The reference repo itself was unavailable (SURVEY.md §0);
its spatial role (rtree containment/nearest lookups) is replaced wholesale
by this cell index used as a Spark join/partition key.

Cell-ID layout (64 bits, stored as signed int64 two's-complement in Spark):

    [face:3][hilbert position: 2*level bits][1][0...]

level 30 is the leaf; the lsb of a level-L id is ``1 << (2*(30-L))``.

All kernels take/return ``np.ndarray``; pandas-UDF wrappers live at the
bottom. Ids are computed in uint64 and reinterpreted as int64 for Spark
``LongType`` columns.
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 30
POS_BITS = 2 * MAX_LEVEL + 1  # 61
MAX_SIZE = 1 << MAX_LEVEL  # ij coordinate range [0, 2^30)

_LOOKUP_BITS = 4
_SWAP = 1
_INVERT = 2

# Hilbert sub-cell traversal tables (public S2 spec values).
_POS_TO_IJ = (
    (0, 1, 3, 2),  # canonical order
    (0, 2, 3, 1),  # axes swapped
    (3, 2, 0, 1),  # bits inverted
    (3, 1, 0, 2),  # swapped & inverted
)
_POS_TO_ORIENTATION = (_SWAP, 0, 0, _INVERT | _SWAP)


def _build_lookup_tables() -> tuple[np.ndarray, np.ndarray]:
    lookup_pos = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.uint64)
    lookup_ij = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.uint64)

    def init(level: int, i: int, j: int, orig: int, pos: int, orientation: int) -> None:
        if level == _LOOKUP_BITS:
            ij = (i << _LOOKUP_BITS) + j
            lookup_pos[(ij << 2) + orig] = (pos << 2) + orientation
            lookup_ij[(pos << 2) + orig] = (ij << 2) + orientation
            return
        level += 1
        i <<= 1
        j <<= 1
        pos <<= 2
        r = _POS_TO_IJ[orientation]
        for index in range(4):
            init(
                level,
                i + (r[index] >> 1),
                j + (r[index] & 1),
                orig,
                pos + index,
                orientation ^ _POS_TO_ORIENTATION[index],
            )

    for orientation in (0, _SWAP, _INVERT, _SWAP | _INVERT):
        init(0, 0, 0, orientation, 0, orientation)
    return lookup_pos, lookup_ij


_LOOKUP_POS, _LOOKUP_IJ = _build_lookup_tables()


# ---------------------------------------------------------------------------
# lon/lat <-> face/u/v <-> s/t <-> i/j
# ---------------------------------------------------------------------------

def lonlat_to_xyz(lon_deg: np.ndarray, lat_deg: np.ndarray):
    lon = np.radians(np.asarray(lon_deg, dtype=np.float64))
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    cos_lat = np.cos(lat)
    return cos_lat * np.cos(lon), cos_lat * np.sin(lon), np.sin(lat)


def xyz_to_face_uv(x: np.ndarray, y: np.ndarray, z: np.ndarray):
    """Largest-absolute-component face selection + gnomonic (u,v)."""
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= ay, np.where(ax >= az, 0, 2), np.where(ay >= az, 1, 2))
    major = np.choose(face, (x, y, z))
    face = np.where(major < 0, face + 3, face).astype(np.int64)
    u = np.empty_like(x)
    v = np.empty_like(x)
    for f, (ue, ve) in _FACE_UV_EXPRS.items():
        m = face == f
        if m.any():
            u[m] = ue(x[m], y[m], z[m])
            v[m] = ve(x[m], y[m], z[m])
    return face, u, v


_FACE_UV_EXPRS = {
    0: (lambda x, y, z: y / x, lambda x, y, z: z / x),
    1: (lambda x, y, z: -x / y, lambda x, y, z: z / y),
    2: (lambda x, y, z: -x / z, lambda x, y, z: -y / z),
    3: (lambda x, y, z: z / x, lambda x, y, z: y / x),
    4: (lambda x, y, z: z / y, lambda x, y, z: -x / y),
    5: (lambda x, y, z: -y / z, lambda x, y, z: -x / z),
}


def face_uv_to_xyz(face: np.ndarray, u: np.ndarray, v: np.ndarray):
    face = np.asarray(face)
    one = np.ones_like(u)
    xs = (one, -u, -u, -one, v, v)
    ys = (u, one, -v, -v, -one, u)
    zs = (v, v, one, -u, -u, -one)
    x = np.select([face == f for f in range(6)], xs)
    y = np.select([face == f for f in range(6)], ys)
    z = np.select([face == f for f in range(6)], zs)
    return x, y, z


def uv_to_st(u: np.ndarray) -> np.ndarray:
    """Quadratic warp (public S2 'quadratic projection')."""
    # np.maximum guards: np.where evaluates both branches, and the unused
    # branch would see a negative radicand for |u| > 1/3
    return np.where(
        u >= 0.0,
        0.5 * np.sqrt(np.maximum(1.0 + 3.0 * u, 0.0)),
        1.0 - 0.5 * np.sqrt(np.maximum(1.0 - 3.0 * u, 0.0)),
    )


def st_to_uv(s: np.ndarray) -> np.ndarray:
    return np.where(
        s >= 0.5,
        (1.0 / 3.0) * (4.0 * s * s - 1.0),
        (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s)),
    )


def st_to_ij(s: np.ndarray) -> np.ndarray:
    return np.clip(
        np.floor(MAX_SIZE * np.asarray(s, dtype=np.float64)), 0, MAX_SIZE - 1
    ).astype(np.int64)


# ---------------------------------------------------------------------------
# Hilbert encode/decode
# ---------------------------------------------------------------------------

def cell_from_face_ij(face: np.ndarray, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Leaf cell id (uint64) from face and leaf ij coordinates. Vectorized."""
    face = np.asarray(face, dtype=np.uint64)
    i = np.asarray(i, dtype=np.uint64)
    j = np.asarray(j, dtype=np.uint64)
    n = face << np.uint64(POS_BITS - 1)
    bits = face & np.uint64(_SWAP)
    mask = np.uint64((1 << _LOOKUP_BITS) - 1)
    for k in range(7, -1, -1):
        kk = np.uint64(k * _LOOKUP_BITS)
        bits += ((i >> kk) & mask) << np.uint64(_LOOKUP_BITS + 2)
        bits += ((j >> kk) & mask) << np.uint64(2)
        bits = _LOOKUP_POS[bits]
        n |= (bits >> np.uint64(2)) << np.uint64(k * 2 * _LOOKUP_BITS)
        bits &= np.uint64(_SWAP | _INVERT)
    return n * np.uint64(2) + np.uint64(1)


def cell_to_face_ij(cell: np.ndarray):
    """Inverse of :func:`cell_from_face_ij` for any-level ids.

    Returns (face, i, j) where (i, j) are leaf coordinates of the cell's
    min corner... more precisely of some leaf within the cell (matching the
    public spec: the returned ij is the cell's ij at leaf resolution along
    the Hilbert curve entry). For level-L cells use ``i & -size`` to get the
    lower-left corner.
    """
    cell = np.asarray(cell, dtype=np.uint64)
    face = (cell >> np.uint64(POS_BITS)).astype(np.uint64)
    bits = face & np.uint64(_SWAP)
    i = np.zeros_like(cell)
    j = np.zeros_like(cell)
    for k in range(7, -1, -1):
        nbits = (MAX_LEVEL - 7 * _LOOKUP_BITS) if k == 7 else _LOOKUP_BITS
        bits += (
            (cell >> np.uint64(k * 2 * _LOOKUP_BITS + 1))
            & np.uint64((1 << (2 * nbits)) - 1)
        ) << np.uint64(2)
        bits = _LOOKUP_IJ[bits]
        i += (bits >> np.uint64(_LOOKUP_BITS + 2)) << np.uint64(k * _LOOKUP_BITS)
        j += ((bits >> np.uint64(2)) & np.uint64((1 << _LOOKUP_BITS) - 1)) << np.uint64(
            k * _LOOKUP_BITS
        )
        bits &= np.uint64(_SWAP | _INVERT)
    return face.astype(np.int64), i.astype(np.int64), j.astype(np.int64)


# ---------------------------------------------------------------------------
# id arithmetic
# ---------------------------------------------------------------------------

def lsb_for_level(level: int) -> int:
    return 1 << (2 * (MAX_LEVEL - level))


def cell_lsb(cell: np.ndarray) -> np.ndarray:
    cell = np.asarray(cell, dtype=np.uint64)
    return cell & (~cell + np.uint64(1))


def cell_level(cell: np.ndarray) -> np.ndarray:
    lsb = cell_lsb(cell).astype(np.float64)  # exact powers of two ≤ 2^60
    return (MAX_LEVEL - (np.log2(lsb) / 2.0)).astype(np.int64)


def cell_parent(cell: np.ndarray, level: int) -> np.ndarray:
    """Ancestor of ``cell`` at ``level`` (caller must ensure level ≤ cell level)."""
    cell = np.asarray(cell, dtype=np.uint64)
    lsb = np.uint64(lsb_for_level(level))
    return ((cell & (~lsb + np.uint64(1))) | lsb).astype(np.uint64)


def cell_children(cell: np.ndarray) -> np.ndarray:
    """C2: the 4 direct children of each cell, shape (n, 4).

    Pure id arithmetic (public S2 layout): children are consecutive along
    the Hilbert curve — ``child_k = c - λ + (2k+1)·λ'`` where λ is the
    cell's lsb and λ' = λ >> 2 the child lsb. Callers must not pass leaf
    (level-30) cells.
    """
    cell_u = np.asarray(cell, dtype=np.uint64)
    lsb = cell_lsb(cell_u)
    if (lsb == np.uint64(1)).any():
        raise ValueError("leaf cells have no children")
    child_lsb = lsb >> np.uint64(2)
    base = cell_u - lsb + child_lsb
    ks = np.arange(4, dtype=np.uint64) * np.uint64(2)
    return (base[:, None] + ks[None, :] * child_lsb[:, None]).astype(np.int64)


def cell_range_min(cell: np.ndarray) -> np.ndarray:
    cell = np.asarray(cell, dtype=np.uint64)
    return cell - (cell_lsb(cell) - np.uint64(1))


def cell_range_max(cell: np.ndarray) -> np.ndarray:
    cell = np.asarray(cell, dtype=np.uint64)
    return cell + (cell_lsb(cell) - np.uint64(1))


def cell_contains(parent: np.ndarray, child: np.ndarray) -> np.ndarray:
    child = np.asarray(child, dtype=np.uint64)
    return (cell_range_min(parent) <= child) & (child <= cell_range_max(parent))


# ---------------------------------------------------------------------------
# encode / decode API (C1, C2)
# ---------------------------------------------------------------------------

def cell_encode(lon: np.ndarray, lat: np.ndarray, level: int) -> np.ndarray:
    """C1: lon/lat degrees → int64 cell id at ``level``. Vectorized."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_LEVEL}], got {level}")
    x, y, z = lonlat_to_xyz(lon, lat)
    face, u, v = xyz_to_face_uv(x, y, z)
    i = st_to_ij(uv_to_st(u))
    j = st_to_ij(uv_to_st(v))
    leaf = cell_from_face_ij(face, i, j)
    if level < MAX_LEVEL:
        leaf = cell_parent(leaf, level)
    return leaf.astype(np.int64)


def cell_center_lonlat(cell: np.ndarray):
    """Center lon/lat (degrees) of each cell. Inverse-ish of cell_encode."""
    cell_u = np.asarray(cell, dtype=np.uint64)
    face, i, j = cell_to_face_ij(cell_u)
    # lower-left leaf corner of the cell, then offset by half its ij size
    size_ij = np.sqrt(cell_lsb(cell_u).astype(np.float64)).astype(np.int64)
    i0 = i & ~(size_ij - 1)
    j0 = j & ~(size_ij - 1)
    s = (i0.astype(np.float64) + size_ij * 0.5) / MAX_SIZE
    t = (j0.astype(np.float64) + size_ij * 0.5) / MAX_SIZE
    u = st_to_uv(s)
    v = st_to_uv(t)
    x, y, z = face_uv_to_xyz(face, u, v)
    lon = np.degrees(np.arctan2(y, x))
    lat = np.degrees(np.arctan2(z, np.sqrt(x * x + y * y)))
    return lon, lat


# ---------------------------------------------------------------------------
# neighbors (C3)
# ---------------------------------------------------------------------------

def _cell_from_face_ij_wrap(face: np.ndarray, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Leaf id for possibly-out-of-range (i, j), wrapping onto adjacent faces.

    Public-spec technique: convert the out-of-range leaf coordinate to a
    point just beyond the face boundary using the *linear* projection, snap
    onto the correct adjacent face, and convert back.
    """
    i = np.clip(np.asarray(i, dtype=np.int64), -1, MAX_SIZE)
    j = np.clip(np.asarray(j, dtype=np.int64), -1, MAX_SIZE)
    scale = 1.0 / MAX_SIZE
    limit = np.nextafter(1.0, 2.0)
    u = np.clip(scale * (2.0 * (i - MAX_SIZE // 2) + 1.0), -limit, limit)
    v = np.clip(scale * (2.0 * (j - MAX_SIZE // 2) + 1.0), -limit, limit)
    x, y, z = face_uv_to_xyz(np.asarray(face), u, v)
    nface, nu, nv = xyz_to_face_uv(x, y, z)
    ni = st_to_ij(0.5 * (nu + 1.0))
    nj = st_to_ij(0.5 * (nv + 1.0))
    return cell_from_face_ij(nface, ni, nj)


def cell_neighbors(cell: np.ndarray) -> np.ndarray:
    """C3: all 8 edge+corner neighbors at the same level, shape (n, 8).

    Correct across cube-face boundaries (wrap); at the 8 cube corners the
    diagonal "neighbor" is the wrap image (a superset-safe stand-in — used
    only for candidate generation, duplicates are harmless).
    """
    cell_u = np.asarray(cell, dtype=np.uint64)
    level = cell_level(cell_u)
    if level.size and not (level == level[0]).all():
        raise ValueError("cell_neighbors requires uniform level per batch")
    lvl = int(level[0]) if level.size else MAX_LEVEL
    size = 1 << (MAX_LEVEL - lvl)
    face, i, j = cell_to_face_ij(cell_u)
    i &= ~(size - 1)
    j &= ~(size - 1)
    out = np.empty((cell_u.size, 8), dtype=np.int64)
    k = 0
    for di in (-1, 0, 1):
        for dj in (-1, 0, 1):
            if di == 0 and dj == 0:
                continue
            leaf = _cell_from_face_ij_wrap(face, i + di * size, j + dj * size)
            out[:, k] = cell_parent(leaf, lvl).astype(np.int64)
            k += 1
    return out


def cell_ring(cell: np.ndarray, r: int) -> list:
    """All same-level cells within graph distance ``r`` of each cell under
    8-connectivity (Chebyshev ring), INCLUDING the cell itself — the
    (2r+1)×(2r+1) block, face-wrap correct. Returns a list of sorted unique
    int64 arrays (ragged: boundary cells wrap onto adjacent faces and may
    collapse duplicates).

    Fast path: cells whose whole block stays inside their cube face get the
    block by direct vectorized ij arithmetic. Cells within ``r`` of a face
    boundary (rare at fine levels) fall back to ``r`` iterated
    ``cell_neighbors`` dilations — each single step uses the tested
    one-cell wrap, so multi-cell cross-face adjacency is never computed
    directly (its linear-extension geometry is only exact one cell out).

    ``r = 1`` reproduces {cell} ∪ cell_neighbors(cell) exactly
    (property-tested).
    """
    cell_i = np.asarray(cell, dtype=np.int64)
    n = cell_i.size
    if n == 0:
        return []
    cell_u = cell_i.astype(np.uint64)
    level = cell_level(cell_u)
    if not (level == level[0]).all():
        raise ValueError("cell_ring requires uniform level per batch")
    lvl = int(level[0])
    size = 1 << (MAX_LEVEL - lvl)
    face, i, j = cell_to_face_ij(cell_u)
    i &= ~(size - 1)
    j &= ~(size - 1)
    interior = (
        (i >= r * size)
        & (i + (r + 1) * size <= MAX_SIZE)
        & (j >= r * size)
        & (j + (r + 1) * size <= MAX_SIZE)
    )
    out: list = [None] * n
    idx_int = np.nonzero(interior)[0]
    if idx_int.size:
        m = 2 * r + 1
        offs = np.arange(-r, r + 1, dtype=np.int64) * size
        ii = (i[idx_int, None] + offs[None, :])[:, :, None]  # (k, m, 1)
        jj = (j[idx_int, None] + offs[None, :])[:, None, :]  # (k, 1, m)
        ii = np.broadcast_to(ii, (idx_int.size, m, m)).reshape(-1)
        jj = np.broadcast_to(jj, (idx_int.size, m, m)).reshape(-1)
        ff = np.repeat(face[idx_int], m * m)
        leaf = cell_from_face_ij(ff, ii, jj)
        ids = cell_parent(leaf, lvl).astype(np.int64).reshape(idx_int.size, m * m)
        ids = np.sort(ids, axis=1)
        for row_out, row in zip(idx_int, ids):
            out[row_out] = row  # interior block: m*m distinct cells, sorted
    idx_bnd = np.nonzero(~interior)[0]
    if idx_bnd.size:
        cur = cell_i[idx_bnd][:, None]  # (k, 1)
        for _ in range(r):
            nb = cell_neighbors(cur.reshape(-1))  # (k*m, 8)
            k, m = cur.shape
            cur = np.concatenate([cur, nb.reshape(k, m * 8)], axis=1)
        cur = np.sort(cur, axis=1)
        keep = np.concatenate(
            [np.ones((cur.shape[0], 1), dtype=bool), cur[:, 1:] != cur[:, :-1]],
            axis=1,
        )
        for row_out, row, krow in zip(idx_bnd, cur, keep):
            out[row_out] = row[krow]
    return out


# ---------------------------------------------------------------------------
# polygon cover / uncover (C4, C5)
# ---------------------------------------------------------------------------

def _ring_to_face_ij_float(face: int, lon: np.ndarray, lat: np.ndarray):
    """Project ring vertices onto one face's (i,j) float plane (may exceed
    the [0, MAX_SIZE] range when the ring spills over the face edge)."""
    x, y, z = lonlat_to_xyz(lon, lat)
    # compute u,v for this specific face regardless of which face each point
    # is nearest to (gnomonic projection extends past the face boundary)
    uexpr, vexpr = _FACE_UV_EXPRS[face]
    u = uexpr(x, y, z)
    v = vexpr(x, y, z)
    i = MAX_SIZE * uv_to_st(u)
    j = MAX_SIZE * uv_to_st(v)
    return i, j





def _boundary_supercover(cx: np.ndarray, cy: np.ndarray):
    """Cells (unit grid) a closed ring's boundary passes through.

    Fully vectorized over ALL grid-line crossings of ALL edges at once:
    every cell the boundary enters is entered through a ring vertex (the
    endpoint registration) or through a vertical/horizontal grid line (each
    crossing registers both adjacent cells) — the classic supercover
    argument, with zero per-cell Python (VERDICT r1 #8: the per-cell
    rect-vs-ring loop crawled on fine-level covers of large polygons)."""
    x1, y1 = np.roll(cx, -1), np.roll(cy, -1)
    ci = [np.floor(cx).astype(np.int64)]
    cj = [np.floor(cy).astype(np.int64)]
    for a0, a1, b0, b1, swap in ((cx, x1, cy, y1, False), (cy, y1, cx, x1, True)):
        da = a1 - a0
        lo = np.ceil(np.minimum(a0, a1))
        hi = np.floor(np.maximum(a0, a1))
        cnt = np.maximum(0, hi - lo + 1).astype(np.int64)
        cnt = np.where(da == 0, 0, cnt)  # axis-parallel: covered by the other
        total = int(cnt.sum())
        if total == 0:
            continue
        eidx = np.repeat(np.arange(len(cnt)), cnt)
        offs = np.concatenate([[0], np.cumsum(cnt)[:-1]])
        m = np.arange(total) - np.repeat(offs, cnt) + np.repeat(lo, cnt)
        t = (m - a0[eidx]) / da[eidx]
        b = np.floor(b0[eidx] + t * (b1[eidx] - b0[eidx])).astype(np.int64)
        mi = m.astype(np.int64)
        if not swap:
            ci.extend([mi - 1, mi])
            cj.extend([b, b])
        else:
            ci.extend([b, b])
            cj.extend([mi - 1, mi])
    return np.concatenate(ci), np.concatenate(cj)


def _center_fill(cx: np.ndarray, cy: np.ndarray):
    """Cells (unit grid) whose CENTER is inside the ring (even-odd).

    Scanline over row bands: per band, the edge crossings of the band's
    center line are computed vectorized; centers between alternate sorted
    crossings fill. Python loops only over bands and spans (grid rows ×
    interior spans — tiny next to the cell count)."""
    n_lo = int(np.floor(cy.min()))
    n_hi = int(np.floor(cy.max()))
    x1, y1 = np.roll(cx, -1), np.roll(cy, -1)
    out_i: list[np.ndarray] = []
    out_j: list[np.ndarray] = []
    for n in range(n_lo, n_hi + 1):
        yc = n + 0.5
        cross = (cy > yc) != (y1 > yc)
        if not cross.any():
            continue
        xint = np.sort(
            cx[cross] + (yc - cy[cross]) * (x1[cross] - cx[cross]) / (y1[cross] - cy[cross])
        )
        for k in range(0, len(xint) - 1, 2):
            m0 = int(np.floor(xint[k] - 0.5)) + 1      # smallest m: m+0.5 > x_lo
            m1 = int(np.ceil(xint[k + 1] - 0.5)) - 1   # largest m: m+0.5 < x_hi
            if m1 >= m0:
                ms = np.arange(m0, m1 + 1, dtype=np.int64)
                out_i.append(ms)
                out_j.append(np.full(len(ms), n, dtype=np.int64))
    if not out_i:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    return np.concatenate(out_i), np.concatenate(out_j)


def cover_polygon_ij(rings, level: int) -> list[tuple[int, int, int]]:
    """C4 core: the (face, i, j) lower corners of cells at ``level``
    intersecting the polygon — WITHOUT encoding to ids, so callers can
    batch the Hilbert encode across many polygons (the encode dominated
    per-polygon cost when done cell-at-a-time).

    Cover = boundary supercover ∪ center-inside fill, minus each hole's
    (center-inside fill − its own boundary supercover): every cell whose
    interior meets the polygon either has the boundary passing through it
    or lies entirely inside (center inside) — so cover ⊇ containment holds
    (property-tested at multiple levels); cells touching only at a
    measure-zero point may or may not be included."""
    if not rings:
        return []
    outer = np.asarray(rings[0], dtype=np.float64)
    lon, lat = outer[:, 0], outer[:, 1]
    x, y, z = lonlat_to_xyz(lon, lat)
    vfaces = np.unique(xyz_to_face_uv(x, y, z)[0])
    size = 1 << (MAX_LEVEL - level)
    ncell = 1 << level
    out: set[tuple[int, int, int]] = set()
    for face in vfaces.tolist():

        def ring_cell_coords(arr: np.ndarray):
            xs, ys = _ring_to_face_ij_float(face, arr[:, 0], arr[:, 1])
            return xs / size, ys / size

        cx, cy = ring_cell_coords(outer)
        bi, bj = _boundary_supercover(cx, cy)
        fi, fj = _center_fill(cx, cy)
        ii = np.concatenate([bi, fi])
        jj = np.concatenate([bj, fj])
        keep = (ii >= 0) & (ii < ncell) & (jj >= 0) & (jj < ncell)
        cells = set(zip(ii[keep].tolist(), jj[keep].tolist()))
        for hole in rings[1:]:
            hx, hy = ring_cell_coords(np.asarray(hole, dtype=np.float64))
            hbi, hbj = _boundary_supercover(hx, hy)
            hfi, hfj = _center_fill(hx, hy)
            strict_inside = set(zip(hfi.tolist(), hfj.tolist())) - set(
                zip(hbi.tolist(), hbj.tolist())
            )
            cells -= strict_inside
        out |= {(face, int(i) * size, int(j) * size) for i, j in cells}
    return sorted(out)


def cover_ij_to_cells(triples, level: int) -> np.ndarray:
    """Batch-encode (face, i, j) cover triples (possibly from MANY polygons)
    to sorted unique int64 cell ids at ``level`` in one vectorized pass."""
    if not triples:
        return np.empty(0, dtype=np.int64)
    arr = np.asarray(triples, dtype=np.int64)
    leaf = cell_from_face_ij(arr[:, 0], arr[:, 1], arr[:, 2])
    return np.unique(cell_parent(leaf, level).astype(np.int64))


def cover_polygon(rings, level: int) -> np.ndarray:
    """C4: cells at ``level`` intersecting the polygon (outer ring; a cell
    strictly inside a hole is excluded, boundary-straddlers retained).
    Returns sorted unique int64 ids. ``rings``: list of rings, each a
    sequence of (lon, lat) pairs, outer first, holes after. Intended for
    building-footprint-sized polygons (projected straight-edge
    approximation — exact at that scale for candidate-superset purposes;
    SURVEY §2.3 C4)."""
    return cover_ij_to_cells(cover_polygon_ij(rings, level), level)


def cells_to_boxes(cells: np.ndarray):
    """C5 helper: per-cell (face, i0, j0, i1, j1) leaf-ij boxes."""
    cell_u = np.asarray(cells, dtype=np.uint64)
    face, i, j = cell_to_face_ij(cell_u)
    size = np.sqrt(cell_lsb(cell_u).astype(np.float64)).astype(np.int64)
    i0 = i & ~(size - 1)
    j0 = j & ~(size - 1)
    return face, i0, j0, i0 + size, j0 + size


def cells_to_polygon(cells: np.ndarray):
    """C5: union of cell boxes → boundary rings (raster→vector).

    Boundary tracing on the union of axis-aligned leaf-ij boxes. A set
    spanning multiple cube faces (seam features) is traced per face and
    the rings concatenated: the pieces share the seam edge geometrically,
    and every per-face ring is a valid boundary of the union restricted to
    that face — downstream even-odd containment over ALL rings is exact.
    Returns a list of rings, each a list of (lon, lat) vertex pairs, outer
    boundaries counter-clockwise in ij space.
    """
    cells = np.asarray(cells)
    if cells.size == 0:
        return []
    face_of = (cells.astype(np.uint64) >> np.uint64(POS_BITS)).astype(np.int64)
    if not (face_of == face_of[0]).all():
        out = []
        for f in np.unique(face_of):
            out.extend(cells_to_polygon(cells[face_of == f]))
        return out
    face, i0, j0, i1, j1 = cells_to_boxes(cells)
    f = int(face[0])
    # collect directed boundary edges (edges not shared by two boxes)
    edge_count: dict[tuple, int] = {}
    for a, b, c, d in zip(i0.tolist(), j0.tolist(), i1.tolist(), j1.tolist()):
        # CCW: (a,b)->(c,b)->(c,d)->(a,d)->(a,b)
        for p, q in (((a, b), (c, b)), ((c, b), (c, d)), ((c, d), (a, d)), ((a, d), (a, b))):
            if (q, p) in edge_count:
                edge_count[(q, p)] -= 1
                if edge_count[(q, p)] == 0:
                    del edge_count[(q, p)]
            else:
                edge_count[(p, q)] = edge_count.get((p, q), 0) + 1
    # chain directed edges into rings
    nxt: dict[tuple, list] = {}
    for (p, q) in edge_count:
        nxt.setdefault(p, []).append(q)
    for v in nxt.values():
        v.sort()
    rings_ij = []
    while nxt:
        start = min(nxt)
        ring = [start]
        cur = start
        while True:
            succs = nxt[cur]
            q = succs.pop(0)
            if not succs:
                del nxt[cur]
            ring.append(q)
            cur = q
            if cur == start:
                break
        rings_ij.append(ring[:-1])
    # ij -> lon/lat via st (corner coordinates are exact grid lines)
    out = []
    for ring in rings_ij:
        ij = np.asarray(ring, dtype=np.float64)
        u = st_to_uv(ij[:, 0] / MAX_SIZE)
        v = st_to_uv(ij[:, 1] / MAX_SIZE)
        x, y, z = face_uv_to_xyz(np.full(len(ij), f), u, v)
        lon = np.degrees(np.arctan2(y, x))
        lat = np.degrees(np.arctan2(z, np.sqrt(x * x + y * y)))
        out.append(list(zip(lon.tolist(), lat.tolist())))
    return out


# ---------------------------------------------------------------------------
# geometry sizing (exactness proof obligations, SURVEY §7.4.2)
# ---------------------------------------------------------------------------

_EARTH_RADIUS_M = 6371008.8


def min_cell_edge_meters(level: int) -> float:
    """Conservative lower bound on the width of any level-``level`` cell,
    in meters.

    Public S2 metric for the quadratic projection: kMinWidth deriv =
    2·√2/3 ≈ 0.9428 radians, scaled by 2^-level — the true minimum width,
    attained by cells at the cube-face corners. (An earlier bound used
    (π/2)·(2/3) ≈ 1.047, which is ~11% ABOVE the true minimum: near face
    corners a 3×3 neighborhood sized by it could miss neighbors in the top
    distance band of a level. Gated by the face-corner test in
    tests/test_joins.py.)
    """
    return _EARTH_RADIUS_M * (2.0 * np.sqrt(2.0) / 3.0) * (2.0 ** -level)


def level_for_max_distance(d_max_m: float) -> int:
    """Largest (finest) level whose min cell edge still ≥ d_max — guarantees
    a 3×3 neighborhood at that level covers every point within d_max."""
    level = MAX_LEVEL
    while level > 0 and min_cell_edge_meters(level) < d_max_m:
        level -= 1
    if min_cell_edge_meters(level) < d_max_m:
        raise ValueError(f"d_max {d_max_m} exceeds level-0 cell size")
    return level
