"""The benchmark workloads: set-up, one repetition, and the traced layers.

Each workload keeps its stored inputs under its own work directory. A
repetition builds a fresh plan over the stored tables, calls the engine's
public entry point and forces the result through one aggregate action that
also computes the output checksum.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

from osm_addr_tools_spark.functions import cells as C
from osm_addr_tools_spark.functions.tokenize import bpe_token_count_col, learn_bpe_from_df
from osm_addr_tools_spark.operators import dedup as D
from osm_addr_tools_spark.operators import joins as J
from osm_addr_tools_spark.operators.decontam import ngram_overlap
from osm_addr_tools_spark.operators.packing import pack_by_length_bucket
from osm_addr_tools_spark.operators.quality import hashed_score
from osm_addr_tools_spark.oracle_support import BPE_MAX_VOCAB, BPE_N_MERGES
from osm_addr_tools_spark.plans import conflate as CF
from osm_addr_tools_spark.plans.extract import run_extract
from osm_addr_tools_spark.plans.manifest import (
    MANIFEST_DIR,
    read_output,
    with_part_col,
    write_resumable,
)
from osm_addr_tools_spark.plans.tile import run_tile_polygons
from osm_addr_tools_spark.plans.training import training_manifest

from perfbench import inputs as I

ORACLE_COLS = ["url", "addr_key", "match_kind", "matched_ref"]


class CheckFailed(Exception):
    """An output check did not hold."""


# --- shared helpers ----------------------------------------------------------


def _canonical(df: DataFrame) -> list:
    """Every column in a hashable, order-free form (maps as sorted entries)."""
    return [
        F.array_sort(F.map_entries(F.col(f.name))) if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in df.schema.fields
    ]


def checksum_aggs(df: DataFrame) -> list:
    """Row count and an order-insensitive hash over every output column."""
    return [
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.xxhash64(*_canonical(df)).cast("decimal(38,0)")), F.lit(0))
        .cast("string")
        .alias("hash"),
    ]


def release_caches(spark) -> int:
    """Drop every cache the repetition left behind; returns how many
    persisted RDDs were still held before the release."""
    left = spark.sparkContext._jsc.getPersistentRDDs().size()
    D.release_persisted_fp()
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    return left


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def compare_matches(got: pd.DataFrame, exp: pd.DataFrame) -> None:
    """Conflation output ``got`` must hold the oracle's rows ``exp``: the
    same (url, addr_key) set, match decisions and distances."""
    key = ["addr_key", "url"]
    got = got.sort_values(key).reset_index(drop=True)
    exp = exp.sort_values(key).reset_index(drop=True)
    if len(got) != len(exp):
        raise CheckFailed(f"oracle: {len(got)} rows, expected {len(exp)}")
    g, e = got[ORACLE_COLS].copy(), exp[ORACLE_COLS].copy()
    g["matched_ref"] = g.matched_ref.astype("float64")
    e["matched_ref"] = e.matched_ref.astype("float64")
    if not g.fillna(-1).equals(e.fillna(-1)):
        raise CheckFailed("oracle: match decisions differ")
    if (got.dist_m.fillna(-1) - exp.dist_m.fillna(-1)).abs().max() >= 1e-6:
        raise CheckFailed("oracle: distances differ")


def _conflate_probe(addrs: DataFrame) -> DataFrame:
    """The address columns run_conflate hands to its spatial joins."""
    return addrs.where(F.col("geocoded")).select("url", "addr_key", "lon", "lat")


def _unaddressed(buildings: DataFrame) -> DataFrame:
    return buildings.where(
        ~F.map_contains_key(F.col("tags"), F.lit("addr:housenumber"))
    ).select("building_id", "rings")


def _knn_candidates(existing: DataFrame) -> DataFrame:
    return CF.keyed_existing(existing).select(
        "node_id", F.col("e_lon").alias("c_lon"), F.col("e_lat").alias("c_lat")
    )


def _knn(probe: DataFrame, cands: DataFrame, **kw) -> DataFrame:
    """knn_join exactly as run_conflate calls it (salted)."""
    args = dict(query_id=["url", "addr_key"], cand_id="node_id", d_max_m=CF.D_MAX_M,
                k=1, ring_r=2, salt=True, expand="candidates")
    args.update(kw)
    return J.knn_join(probe, cands, **args)


def conflate_spans(tracer, spark, addrs, buildings, existing) -> dict:
    """Spans and ratios of the conflate layers on one set of inputs."""
    probe = _conflate_probe(addrs)
    polys = _unaddressed(buildings)
    tracer.span("conflate.keyed_existing", lambda: CF.keyed_existing(existing), noop)
    cands = _knn_candidates(existing)
    tracer.span(
        "joins.pip_join",
        lambda: J.pip_join(probe, polys, CF.CONTAINMENT_LEVEL, salt=True),
        noop,
    )
    tracer.span("joins.knn_join", lambda: _knn(probe, cands), noop)
    tracer.span(
        "conflate.run_conflate",
        lambda: CF.run_conflate(spark, addrs, buildings, existing, salt=True),
        noop,
    )
    release_caches(spark)
    with tracer.group("probe.conflate"):
        level = CF.CONTAINMENT_LEVEL
        pts = J.with_cell(probe, level, out="_cell")
        cover = polys.select(
            F.explode(J.cover_polygon_udf(level)(F.col("rings"))).alias("_cell")
        )
        pip_cand = pts.join(cover, "_cell").count()
        pip_hit = J.pip_join(probe, polys, level).count()
        klevel = C.level_for_max_distance(CF.D_MAX_M / 2)
        q = J.with_cell(probe, klevel, out="_cell")
        ring = J.with_cell(cands, klevel, "c_lon", "c_lat", "_cell").select(
            F.explode(J.cell_ring_udf(2)(F.col("_cell"))).alias("_cell")
        )
        knn_cand = q.join(ring, "_cell").count()
        knn_hit = _knn(probe, cands, k=None, salt=False).count()
        cell_counts = pts.groupBy("_cell").count()
        hot = cell_counts.where(F.col("count") > J.DEFAULT_HOT_THRESHOLD).agg(
            F.coalesce(F.sum("count"), F.lit(0))
        ).first()[0]
        total = probe.count()
    return {
        "joins.pip_join.candidates_per_hit": pip_cand / max(pip_hit, 1),
        "joins.knn_join.candidates_per_hit": knn_cand / max(knn_hit, 1),
        "joins.salted_join.hot_row_share": hot / max(total, 1),
    }


def done_half():
    """The partition keys a simulated kill leaves complete: half of them,
    by key hash."""
    return F.pmod(F.xxhash64("cell_p"), F.lit(2)) == 0


def write_matches(spark, df: DataFrame, out: str, conf: dict) -> dict:
    """The conflate stage's ``write_resumable`` call in tools/submit_job.py."""
    return write_resumable(spark, df, out, "conflate", conf,
                           matched_pred=F.col("match_kind") != "create")


def parts_rewritten(spark, out: str) -> int:
    """Partitions the manifest under ``out`` records more than once."""
    man = spark.read.parquet(os.path.join(out, MANIFEST_DIR))
    return man.groupBy("part").count().where(F.col("count") > 1).count()


def writer_spans(tracer, spark, frame, out: str, conf: dict) -> dict:
    """``manifest.write_resumable`` of ``frame()`` restricted to half its
    partition keys (by key hash) into ``out``: the state of a job killed
    after those partitions. Then, with every cache dropped, the resume of
    the full job from a fresh plan, which must write exactly the missing
    partitions. Returns the resume's wall and the partitions it rewrote."""
    tracer.span("manifest.write_resumable",
                lambda: write_matches(spark, frame().where(done_half()), out, conf),
                lambda s: None)
    release_caches(spark)
    done = spark.read.parquet(os.path.join(out, MANIFEST_DIR)).count()
    with tracer.group("manifest.resume"):
        t0 = time.perf_counter()
        s = write_matches(spark, frame(), out, conf)
        resume_s = time.perf_counter() - t0
    release_caches(spark)
    if s["skipped"] != done or s["written"] != s["planned"] - done:
        raise CheckFailed(f"resume wrote {s['written']} and skipped {s['skipped']} of "
                          f"{s['planned']} partitions, {done} done before the kill")
    rewritten = parts_rewritten(spark, out)
    if rewritten:
        raise CheckFailed(f"the resume rewrote {rewritten} completed partitions")
    shutil.rmtree(out, ignore_errors=True)
    return {"manifest.write_resumable.resume_s": resume_s,
            "manifest.write_resumable.parts_rewritten": float(rewritten)}


def extract_span(tracer, spark, pages: DataFrame, gazetteer: DataFrame) -> dict:
    """``extract.run_extract`` materialized by counting its rows; returns
    the addresses per distinct page url."""
    n = []
    tracer.span("extract.run_extract", lambda: run_extract(spark, pages, gazetteer),
                lambda df: n.append(df.count()))
    with tracer.group("probe.extract"):
        n_pages = pages.select("url").distinct().count()
    return {"extract.run_extract.addrs_per_page": n[0] / max(n_pages, 1)}


# --- workloads ---------------------------------------------------------------


class Workload:
    name = ""
    WARMUP = 1  # untimed repetitions before timing
    SETUP_REPEATS = 3  # input generations per run; set-up reports the median

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.dir = work_dir
        self.seed = seed
        self.inputs_dir = ""
        self.props: dict = {}
        self.setup_failures: list[str] = []

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.inputs_dir, name))

    def store(self, df, name: str) -> None:
        """Write one stored input table (a DataFrame, or an Arrow table
        generated in the driver) as a single file: each is a few MB, and
        every further file is one more task in each Python stage that scans
        it."""
        path = os.path.join(self.inputs_dir, name)
        if isinstance(df, DataFrame):
            df.coalesce(1).write.parquet(path)
        else:
            I.write_table(df, path)

    def setup(self) -> float:
        """Generate and store the inputs ``SETUP_REPEATS`` times, each into
        a fresh directory, while ``expected()`` computes the reference
        output; returns the median generation time."""
        times = []
        with ThreadPoolExecutor(max_workers=1) as pool:
            expected = pool.submit(self.expected)
            for i in range(self.SETUP_REPEATS):
                if self.inputs_dir:
                    shutil.rmtree(self.inputs_dir)
                self.inputs_dir = self.path(f"inputs{i}")
                t0 = time.perf_counter()
                self.generate()
                times.append(time.perf_counter() - t0)
            self.oracle = expected.result()
        return statistics.median(times)

    def expected(self):
        """The reference output the checks compare against (driver only)."""
        return None

    def generate(self) -> None:
        raise NotImplementedError

    def warm_up(self, loop) -> None:
        for _ in range(self.WARMUP):
            loop.once(record=False)

    def rep(self) -> dict:
        """One repetition → {"rows", "hash"} (plus workload extras)."""
        raise NotImplementedError

    def trace(self, tracer) -> dict:
        """Spans of the layers this workload calls; returns ratios."""
        raise NotImplementedError


class ConflateHot(Workload):
    """Salted conflation over stored inputs whose address table carries one
    popular address repeated under many distinct urls."""

    name = "conflate_hot"
    SETUP_REPEATS = 1  # generation runs the engine's extraction
    N_PAGES = 500
    COPIES = 51_000  # > operators.joins.DEFAULT_HOT_THRESHOLD rows in one cell

    def expected(self) -> pd.DataFrame:
        from tests.oracle import oracle_matches

        return oracle_matches(self.N_PAGES)

    def generate(self) -> None:
        spark, seed, n = self.spark, self.seed, self.N_PAGES
        for name, table in I.synth_tables(n).items():
            self.store(table, name)
        addrs = run_extract(spark, self.read("pages"), self.read("gazetteer"))
        self.store(addrs.where("geocoded"), "extracted")
        base = pq.read_table(os.path.join(self.inputs_dir, "extracted"))
        # the popular address sits inside an unaddressed building, so every
        # copy reaches the containment refine whatever the seed picks
        self.pick, table = I.popular_copies(base, I.in_unaddressed_building(n), self.COPIES, seed)
        self.store(table, "addrs")
        if self.read("addrs").schema != self.read("extracted").schema:
            raise CheckFailed("the stored address table changed column types")
        self.props = {
            "pages": n,
            "popular_addresses": 1,
            "copies": self.COPIES,
            "address_rows": table.num_rows,
        }

    def inputs(self):
        addrs = self.read("addrs").withColumn("geocoded", F.lit(True))
        return addrs, self.read("buildings"), self.read("existing")

    def conflate(self) -> DataFrame:
        return CF.run_conflate(self.spark, *self.inputs(), d_max_m=CF.D_MAX_M, salt=True)

    def rep(self) -> dict:
        """run_conflate forced through one aggregate that also returns the
        checksum, the decision for every page address and a summary of the
        popular address's copies; all are checked against the oracle."""
        own = self.oracle[
            (self.oracle.url == self.pick["url"]) & (self.oracle.addr_key == self.pick["addr_key"])
        ]
        if len(own) != 1:
            raise CheckFailed(f"the oracle has {len(own)} rows for the popular address")
        own = own.iloc[0]
        m = self.conflate()
        footer = F.col("url").startswith(I.FOOTER_URL)
        same = F.col("match_kind").eqNullSafe(F.lit(own.match_kind)) & F.col(
            "matched_ref"
        ).cast("double").eqNullSafe(F.lit(own.matched_ref).cast("double"))
        row = m.agg(
            *checksum_aggs(m),
            F.collect_list(F.when(~footer, F.struct(*ORACLE_COLS, "dist_m"))).alias("pages"),
            F.sum(footer.cast("int")).alias("footer_rows"),
            F.sum((footer & ~same).cast("int")).alias("footer_off"),
        ).first().asDict()
        pages = pd.DataFrame([r.asDict() for r in row.pop("pages")], columns=ORACLE_COLS + ["dist_m"])
        compare_matches(pages, self.oracle)
        # one output row per geocoded address; every copy of the popular
        # address gets the oracle's decision for the original
        if row["footer_rows"] != self.COPIES or row["footer_off"]:
            raise CheckFailed(f"{row['footer_off']} of {row['footer_rows']} copies decided differently")
        return row

    PART_LEVEL = 10  # partition cells of the traced writer spans
    TILE_LEVEL = 16

    def trace(self, tracer) -> dict:
        """The conflate layers, then the layers of the production job
        around them on this workload's own tables: extraction of the stored
        pages, the partitioned writer with a resume after a simulated kill,
        and the tile stage."""
        spark = self.spark
        ratios = conflate_spans(tracer, spark, *self.inputs())
        ratios.update(extract_span(tracer, spark, self.read("pages"), self.read("gazetteer")))
        ratios.update(writer_spans(
            tracer, spark, lambda: with_part_col(self.conflate(), self.PART_LEVEL),
            self.path("traced"), {"n_pages": self.N_PAGES, "part_level": self.PART_LEVEL},
        ))
        tracer.span("tile.run_tile_polygons",
                    lambda: run_tile_polygons(self.read("buildings"), self.TILE_LEVEL), noop)
        return ratios


class CorpusManifest(Workload):
    """training_manifest over a seeded subset of the stored documents with
    seeded exact and near plants, BPE merges learned first (the
    docs_training_manifest query)."""

    name = "corpus_manifest"
    N_DOCS = 1_000

    def generate(self) -> None:
        docs = I.documents_pdf(self.N_DOCS, self.seed)
        base, corpus, bench = I.corpus_tables(docs, self.seed)
        for name, pdf in (("base", base), ("corpus", corpus), ("bench", bench)):
            self.store(pa.Table.from_pandas(pdf, preserve_index=False), name)
        exact_ids, near_ids = I.plant_ids(docs["doc_id"].to_numpy(), self.seed)
        # every exact plant (dedup keeps the base copy) and every base
        # document a near plant contaminates must be gone from the output
        self.forbidden = [int(i) for i in exact_ids + I.EXACT_PLANT_OFFSET] + [
            int(i) for i in near_ids
        ]
        self.props = {
            "documents": self.N_DOCS,
            "exact_plants": len(exact_ids),
            "near_plants": len(near_ids),
            "corpus_rows": len(corpus),
        }

    def _merges(self):
        return learn_bpe_from_df(self.read("base"), n_merges=BPE_N_MERGES, max_vocab=BPE_MAX_VOCAB)

    def _manifest(self, merges) -> DataFrame:
        # arguments of the docs_training_manifest query
        return training_manifest(
            self.read("corpus"), self.read("bench"), merges,
            dedup_threshold=0.5, contam_n=5, quality_dim=1 << 16,
            capacity=128, min_bucket=16,
        )

    def rep(self) -> dict:
        m = self._manifest(self._merges())
        row = m.agg(
            *checksum_aggs(m),
            F.sum(F.col("doc_id").isin(self.forbidden).cast("int")).alias("planted"),
        ).first().asDict()
        if row["planted"]:
            raise CheckFailed(f"{row['planted']} planted documents survived the manifest")
        return row

    def trace(self, tracer) -> dict:
        corpus, bench = self.read("corpus"), self.read("bench")
        merges = tracer.span("tokenize.learn_bpe_from_df", self._merges, lambda m: None)
        pairs = tracer.span(
            "dedup.minhash_lsh_pairs",
            lambda: D.minhash_lsh_pairs(corpus, threshold=0.5),
            noop,
        )
        ckpts = []
        df_cls = type(corpus)
        local_checkpoint = df_cls.localCheckpoint

        def counted_checkpoint(df, *a, **kw):
            ckpts.append(1)
            return local_checkpoint(df, *a, **kw)

        # the in-memory path checkpoints once per label-propagation round;
        # counting the calls reads the round count from outside the engine
        df_cls.localCheckpoint = counted_checkpoint
        try:
            comp = tracer.span(
                "dedup.connected_components",
                lambda: D.connected_components(pairs.select("a", "b")),
                noop,
            )
        finally:
            df_cls.localCheckpoint = local_checkpoint
        drops = comp.where(F.col("v") != F.col("component")).select(F.col("v").alias("doc_id"))
        retained = corpus.join(drops, "doc_id", "left_anti")
        hits = tracer.span(
            "decontam.ngram_overlap", lambda: ngram_overlap(retained, bench, n=5), noop
        )
        clean = retained.join(hits.select("doc_id"), "doc_id", "left_anti")
        scored = tracer.span(
            "quality.hashed_score", lambda: hashed_score(clean, dim=1 << 16), noop
        )
        kept = clean.join(scored.where("keep").select("doc_id"), "doc_id", "left_semi")
        counted = kept.select("doc_id", bpe_token_count_col(merges).alias("n_tok_bpe")).localCheckpoint()
        tracer.span(
            "packing.pack_by_length_bucket",
            lambda: pack_by_length_bucket(counted, n_tok_col="n_tok_bpe", capacity=128, min_bucket=16),
            noop,
        )
        tracer.span("training.training_manifest", lambda: self._manifest(merges), noop)
        release_caches(self.spark)
        with tracer.group("probe.corpus"):
            n_pairs = pairs.count()
            sig = corpus.select(
                F.col("doc_id").alias("_id"), D.minhash_udf(5, 64, 42)(F.col("text")).alias("_sig")
            )
            b = D._band_buckets(sig, 16, 4)
            n_cand = (
                b.select(F.col("_id").alias("a"), "band", "bucket")
                .join(b.select(F.col("_id").alias("b"), "band", "bucket"), ["band", "bucket"])
                .where(F.col("a") < F.col("b"))
                .select("a", "b")
                .distinct()
                .count()
            )
        return {
            "dedup.connected_components.rounds": float(len(ckpts)),
            "dedup.minhash_lsh_pairs.candidates_per_pair": n_cand / max(n_pairs, 1),
        }




class PagesToParquet(Workload):
    """Stored pages → extract → salted conflate → partitioned parquet with
    the checkpoint manifest, then the tile stage; then the resume of a job
    killed after half the match partitions."""

    name = "pages_to_parquet"
    N_PAGES = 400
    PART_LEVEL = 10  # ~10 km cells: a few partition keys per town
    TILE_LEVEL = 16

    def expected(self) -> pd.DataFrame:
        from tests.oracle import oracle_matches

        return oracle_matches(self.N_PAGES)

    def generate(self) -> None:
        self.runs = 0
        self.killed = None
        for name, table in I.synth_tables(self.N_PAGES).items():
            self.store(table, name)
        self.props = {"pages": self.N_PAGES, "page_rows": self.read("pages").count()}

    def conf(self) -> dict:
        return {"n_pages": self.N_PAGES, "salt": True, "part_level": self.PART_LEVEL}

    def matches(self) -> DataFrame:
        addrs = run_extract(self.spark, self.read("pages"), self.read("gazetteer"))
        m = CF.run_conflate(
            self.spark, addrs, self.read("buildings"), self.read("existing"), salt=True
        )
        return with_part_col(m, self.PART_LEVEL)

    def tiles(self) -> DataFrame:
        return run_tile_polygons(self.read("buildings"), self.TILE_LEVEL).withColumn(
            "cell_p", F.lit(0)
        )

    def write_matches(self, df: DataFrame, out: str) -> dict:
        return write_matches(self.spark, df, os.path.join(out, "matches"), self.conf())

    def job(self, out: str) -> tuple[dict, dict]:
        """The submit_job conflate and tile stages into ``out``."""
        s1 = self.write_matches(self.matches(), out)
        s2 = write_resumable(
            self.spark, self.tiles(), os.path.join(out, "tiles"), "tile", self.conf(),
            part_col="cell_p",
        )
        return s1, s2

    def kill(self) -> tuple[str, list]:
        """A job killed after completing half the match partition keys (by
        key hash) and before the tile stage: the conflate stage written on
        the frame restricted to those keys. Returns (directory, done keys)."""
        self.runs += 1
        out = self.path(f"killed{self.runs}")
        self.write_matches(self.matches().where(done_half()), out)
        release_caches(self.spark)
        man = self.spark.read.parquet(os.path.join(out, "matches", MANIFEST_DIR))
        return out, [r.part for r in man.select("part").collect()]

    def warm_up(self, loop) -> None:
        """The killed job runs the timed plan shape cold; the first
        repetition resumes it."""
        try:
            self.killed = self.kill()
        except Exception as e:  # noqa: BLE001 — reported as a set-up failure
            self.setup_failures.append(f"killed job: {e!r}")

    def check_output(self, out: str) -> dict:
        """Manifest row sums must equal the rows read back, per stage, and
        the matches must equal the oracle's; returns their checksum."""
        for stage in ("matches", "tiles"):
            d = os.path.join(out, stage)
            man = self.spark.read.parquet(os.path.join(d, MANIFEST_DIR))
            want = man.agg(F.sum("rows")).first()[0]
            got = read_output(self.spark, d).count()
            if want != got:
                raise CheckFailed(f"{stage}: manifest counts {want} rows, read back {got}")
        m = read_output(self.spark, os.path.join(out, "matches"))
        compare_matches(m.toPandas(), self.oracle)
        return m.agg(*checksum_aggs(m)).first().asDict()

    def rep(self) -> dict:
        """The job into a fresh directory, then the resume of the killed
        job from a fresh plan with every cache dropped; both timed."""
        killed, done = self.killed or self.kill()
        self.killed = None
        self.runs += 1
        out = self.path(f"out{self.runs}")
        t0 = time.perf_counter()
        s1, s2 = self.job(out)
        job_s = time.perf_counter() - t0
        rdds_left = release_caches(self.spark)
        digest = self.check_output(out)
        t0 = time.perf_counter()
        r1, r2 = self.job(killed)
        resume_s = time.perf_counter() - t0
        release_caches(self.spark)
        missing = s1["planned"] - len(done)
        if r1["written"] != missing or r1["skipped"] != len(done) or r2["written"] != s2["planned"]:
            raise CheckFailed(
                f"resume wrote {r1['written']} of {missing} missing partitions, "
                f"skipped {r1['skipped']} of {len(done)}"
            )
        if self.check_output(killed) != digest:
            raise CheckFailed("resumed output differs from the uninterrupted job's")
        rewritten = parts_rewritten(self.spark, os.path.join(killed, "matches"))
        if rewritten:
            raise CheckFailed(f"the resume rewrote {rewritten} completed partitions")
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(killed, ignore_errors=True)
        return dict(digest, rows=s1["rows"], wall_s=job_s + resume_s, job_s=job_s,
                    resume_s=resume_s, rdds_left=rdds_left, parts_rewritten=rewritten)

    def trace(self, tracer) -> dict:
        pages, gaz = self.read("pages"), self.read("gazetteer")
        ratios = extract_span(tracer, self.spark, pages, gaz)
        with tracer.group("probe.extract"):
            # pinned, so the conflate-layer spans below do not re-extract
            addrs = run_extract(self.spark, pages, gaz).persist()
            addrs.count()
        ratios.update(conflate_spans(
            tracer, self.spark, addrs, self.read("buildings"), self.read("existing")
        ))
        out = self.path("traced")
        m = self.matches()
        tracer.span("manifest.write_resumable", lambda: self.write_matches(m, out), lambda s: None)
        release_caches(self.spark)
        tracer.span(
            "tile.run_tile_polygons",
            lambda: run_tile_polygons(self.read("buildings"), self.TILE_LEVEL),
            noop,
        )
        shutil.rmtree(out, ignore_errors=True)
        return ratios


WORKLOADS = {w.name: w for w in (ConflateHot, CorpusManifest, PagesToParquet)}
