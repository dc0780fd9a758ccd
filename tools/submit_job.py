"""spark-submit entry point (BASELINE north_rule: "run via spark-submit
--py-files").

Packages the engine and runs a full resumable pipeline stage:

    zip -r engine.zip osm_addr_tools_spark/
    spark-submit --py-files engine.zip tools/submit_job.py \\
        --stage conflate --n-pages 100000 --out /data/matches \\
        [--pages parquet:/data/pages] [--salt]

Re-running with the same arguments resumes: the manifest's config hash is
taken over the arguments, so the re-run skips the partitions the killed
run completed (any changed argument starts the stage over).

Stages:
  extract   pages → geocoded address points (EP1)
  conflate  EP1 + EP2 → matches, written resumable with the manifest (S5)
  tile      buildings → (feature_id, tile_id) assignments (EP3)

With --pages parquet:<path> the pages table is read from parquet (an
Iceberg table reference, table:<name>, is the production binding); without
it the deterministic synthetic generator supplies the input.
"""

from __future__ import annotations

import argparse


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--stage", required=True, choices=["extract", "conflate", "tile"])
    p.add_argument("--n-pages", type=int, default=10_000)
    p.add_argument("--pages", default=None, help="parquet:<path> | table:<name>")
    p.add_argument("--out", required=True)
    p.add_argument("--salt", action="store_true", help="enable hot-cell salting (J3)")
    p.add_argument("--d-max-m", type=float, default=10.0)
    p.add_argument("--tile-level", type=int, default=16)
    p.add_argument("--part-level", type=int, default=6, help="manifest partition cell level")
    return p


def read_pages(spark, ref: str):
    kind, _, loc = ref.partition(":")
    if kind == "parquet":
        return spark.read.parquet(loc)
    if kind == "table":
        return spark.read.table(loc)  # Iceberg catalog binding (production)
    raise ValueError(f"unknown pages reference {ref!r} (use parquet:<path> or table:<name>)")


def main() -> int:
    args = build_parser().parse_args()
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from osm_addr_tools_spark.plans.conflate import run_conflate
    from osm_addr_tools_spark.plans.extract import run_extract
    from osm_addr_tools_spark.plans.manifest import with_part_col, write_resumable
    from osm_addr_tools_spark.plans.tile import run_tile_polygons
    from osm_addr_tools_spark.sources import synth as S

    spark = SparkSession.builder.appName(f"osm-addr-{args.stage}").getOrCreate()
    n = args.n_pages
    pages = read_pages(spark, args.pages) if args.pages else S.synth_pages(spark, n)
    conf = vars(args)

    if args.stage == "extract":
        out = run_extract(spark, pages, S.synth_gazetteer(spark, n))
        out = with_part_col(out.where("geocoded"), args.part_level)
        stats = write_resumable(spark, out, args.out, "extract", conf)
    elif args.stage == "conflate":
        addrs = run_extract(spark, pages, S.synth_gazetteer(spark, n))
        m = run_conflate(
            spark, addrs, S.synth_buildings(spark, n), S.synth_existing(spark, n),
            d_max_m=args.d_max_m, salt=args.salt,
        )
        m = with_part_col(m, args.part_level)
        stats = write_resumable(
            spark, m, args.out, "conflate", conf,
            matched_pred=F.col("match_kind") != "create",
        )
    else:
        tiles = run_tile_polygons(S.synth_buildings(spark, n), args.tile_level)
        tiles = tiles.withColumn("cell_p", F.lit(0))  # single logical partition
        stats = write_resumable(spark, tiles, args.out, "tile", conf, part_col="cell_p")

    print(stats)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
