"""S4 — OSM-change-style sink (SURVEY.md §2.1 S4, optional).

Serializes the conflation matches table as OsmChange-style XML payloads —
the output format the reference family emits for JOSM/upload tooling [R].
Spark-first shape: one ``mapInPandas`` pass renders an XML fragment column
(never ``toPandas()`` on the driver) that the standard text sink writes as
one shard per partition; a tiny driver-side wrapper adds the document
envelope when a single file is requested.

Semantics (pinned here):
  create  → <create><node id="-k" .../></create> (fresh negative ids,
            deterministic: -(dense rank of (url, addr_key)))
  update  → <modify><node id="{matched_ref}" .../></modify> with merged tags
  attach  → <modify><way id="{matched_ref}"/></modify> carrying the address
            tags onto the building
  duplicate → omitted (no edit)
  nearest → emitted as <create> with a fixme tag pointing at the nearby node
            (conservative: the reference family flags rather than merges
            ambiguous nearest matches)
"""

from __future__ import annotations

from collections.abc import Iterator
from xml.sax.saxutils import escape, quoteattr

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _node_xml(el_id: int, lon: float, lat: float, tags: dict) -> str:
    tag_xml = "".join(
        f"<tag k={quoteattr(str(k))} v={quoteattr(str(v))}/>"
        for k, v in sorted((tags or {}).items())
    )
    return (
        f'<node id="{el_id}" lon="{lon:.7f}" lat="{lat:.7f}" version="1">'
        f"{tag_xml}</node>"
    )


N_ID_BUCKETS = 1 << 10


def _with_negative_ids(df: DataFrame) -> DataFrame:
    """Deterministic dense negative ids WITHOUT a global single-partition
    window (VERDICT r1 #3 — ``Window.orderBy`` with no partitionBy pulls
    every row through one task; at 10^12 docs that is THE sink bottleneck).

    Two-pass shape: rows hash into ``N_ID_BUCKETS`` deterministic buckets
    (xxhash64 of the sort key — independent of physical partitioning);
    row_number runs per-bucket (bounded window partitions), and a tiny
    per-bucket count aggregate (≤ N_ID_BUCKETS rows, driver cumsum,
    broadcast back) turns per-bucket ranks into globally dense ids. The
    ordering is (bucket, addr_key, url) — deterministic, not globally
    lexicographic; OsmChange consumers only need stable uniqueness.
    """
    spark = df.sparkSession
    bucket = F.pmod(F.xxhash64("addr_key", "url"), F.lit(N_ID_BUCKETS)).cast("int")
    df = df.withColumn("_bucket", bucket)
    counts = (
        df.groupBy("_bucket").agg(F.count(F.lit(1)).alias("_n"))
        .orderBy("_bucket")
        .collect()  # bounded: ≤ N_ID_BUCKETS tiny rows (metadata, not data)
    )
    offsets, acc = [], 0
    for r in counts:
        offsets.append((r._bucket, acc))
        acc += r._n
    off = spark.createDataFrame(offsets, "_bucket int, _off long")
    w = Window.partitionBy("_bucket").orderBy("addr_key", "url")
    return (
        df.join(F.broadcast(off), "_bucket")
        .withColumn("new_id", -(F.col("_off") + F.row_number().over(w)))
        .drop("_bucket", "_off")
    )


def matches_to_osmchange(matches: DataFrame) -> DataFrame:
    """matches → (kind string, xml string) fragments, one row per edit."""
    df = _with_negative_ids(matches.where(F.col("match_kind") != "duplicate"))

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            kinds, xmls = [], []
            for r in b.itertuples():
                tags = dict(r.tags or {})
                if r.match_kind == "create":
                    kinds.append("create")
                    xmls.append(_node_xml(int(r.new_id), r.lon, r.lat, tags))
                elif r.match_kind == "nearest":
                    tags["fixme"] = f"verify near node {int(r.matched_ref)} ({r.dist_m:.1f} m)"
                    kinds.append("create")
                    xmls.append(_node_xml(int(r.new_id), r.lon, r.lat, tags))
                elif r.match_kind == "update":
                    kinds.append("modify")
                    xmls.append(_node_xml(int(r.matched_ref), r.lon, r.lat, tags))
                elif r.match_kind == "attach":
                    tag_xml = "".join(
                        f"<tag k={quoteattr(str(k))} v={quoteattr(str(v))}/>"
                        for k, v in sorted(tags.items())
                    )
                    kinds.append("modify")
                    xmls.append(
                        f'<way id="{int(r.matched_ref)}" version="1">{tag_xml}</way>'
                    )
            yield pd.DataFrame({"kind": kinds, "xml": xmls})

    return df.mapInPandas(render, schema="kind string, xml string")


def osmchange_document(matches: DataFrame) -> str:
    """Small-output convenience: the full OsmChange document as one string
    (test/fixture scale only — collects the fragments; canonical order is
    the sorted fragment text, independent of partition arrival order)."""
    rows = sorted(matches_to_osmchange(matches).collect(), key=lambda r: r.xml)
    create = "".join(r.xml for r in rows if r.kind == "create")
    modify = "".join(r.xml for r in rows if r.kind == "modify")
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<osmChange version="0.6" generator="osm_addr_tools_spark">'
        f"<create>{create}</create><modify>{modify}</modify></osmChange>"
    )
