"""EP1 — extract: pages → geocoded address points (SURVEY.md §3 EP1).

Plan shape (and why):

  scan(pages)
  → as-of latest per url (J7 window; re-crawled urls keep newest snapshot)
  → X1 extract_text (ONE ArrowEvalPython stage)
  → X2 parse + F1/F2/F4 normalize fused into ONE pandas UDF returning
    array<struct> (SURVEY §4: fuse UDF stages, codegen breaks at each
    ArrowEvalPythonExec) → explode
  → X3 geocode = left equi-join against the gazetteer (NOT a UDF —
    keeps it a Catalyst-planned join; un-hinted, so AQE picks broadcast
    or shuffle from the gazetteer's size)

`html` is pruned immediately after X1 (never carried through a shuffle —
SURVEY §7.4.4 Arrow-batch memory rule).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from osm_addr_tools_spark.functions import normalize as N
from osm_addr_tools_spark.functions import text as T
from osm_addr_tools_spark.operators.joins import asof_latest

_ADDR_STRUCT = (
    "array<struct<street:string,housenumber:string,postcode:string,city:string,"
    "street_norm:string,hn_norm:string,city_norm:string,addr_key:string>>"
)


def extract_text_udf():
    # UDFs are built lazily: pandas_udf with a DDL return type needs an
    # active SparkContext, which doesn't exist at import time
    @pandas_udf("string")
    def x1(html: pd.Series) -> pd.Series:
        return T.extract_text(html)

    # asNondeterministic: optimizer fence only (X1 is a pure function of
    # the bytes — that determinism is the pinned spec). Chained below X2,
    # whose explode-inferred predicate otherwise duplicates the whole
    # X1+X2 Python stage (guide §4.4).
    return x1.asNondeterministic()


def parse_and_normalize_udf():
    """X2 + F1/F2/F4 fused: one Arrow stage computes raw candidates AND
    their normalized forms/key, batch-vectorized over the flattened
    candidate list."""

    @pandas_udf(_ADDR_STRUCT)
    def x2(text: pd.Series) -> pd.Series:
        per_row = [T.parse_addresses_one(t) for t in text]
        flat = [a for row in per_row for a in row]
        if flat:
            fpdf = pd.DataFrame(flat)
            fpdf["street_norm"] = N.norm_street(fpdf["street"])
            fpdf["hn_norm"] = N.norm_housenumber(fpdf["housenumber"])
            fpdf["city_norm"] = fpdf["city"].fillna("").str.strip().str.lower()
            fpdf["addr_key"] = (
                fpdf["city_norm"] + "|" + fpdf["street_norm"] + "|" + fpdf["hn_norm"]
            )
            recs = fpdf.to_dict("records")
        else:
            recs = []
        out, pos = [], 0
        for row in per_row:
            out.append(recs[pos : pos + len(row)])
            pos += len(row)
        return pd.Series(out)

    # see extract_text_udf: fence against explode-predicate duplication
    return x2.asNondeterministic()


def run_extract(spark, pages: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) × gazetteer → address points.

    Returns (url, warc_ts, addr_key, city, street, housenumber, postcode,
    street_norm, hn_norm, lon, lat, geocoded). Ungecoded rows (gazetteer
    miss) carry null lon/lat and geocoded=false.
    """
    # ``lang`` rides along only as asof_latest's last tie-break column
    df = asof_latest(pages.select("url", "warc_ts", "html", "lang"), "url", "warc_ts")
    df = df.withColumn("text", extract_text_udf()("html")).drop("html", "lang")
    df = df.withColumn("addr", F.explode(parse_and_normalize_udf()("text"))).drop("text")
    df = df.select(
        "url",
        "warc_ts",
        F.col("addr.addr_key").alias("addr_key"),
        F.col("addr.city").alias("city"),
        F.col("addr.street").alias("street"),
        F.col("addr.housenumber").alias("housenumber"),
        F.col("addr.postcode").alias("postcode"),
        F.col("addr.city_norm").alias("city_norm"),
        F.col("addr.street_norm").alias("street_norm"),
        F.col("addr.hn_norm").alias("hn_norm"),
    )
    gaz = gazetteer.select(
        F.col("city").alias("city_norm"),
        F.col("street_norm"),
        F.col("hn_norm"),
        F.col("lon"),
        F.col("lat"),
    )
    # no hint: Catalyst/AQE broadcasts under the size threshold and
    # shuffle-joins otherwise (measured faster for multi-100k-row gazetteers)
    out = df.join(gaz, ["city_norm", "street_norm", "hn_norm"], "left")
    return out.withColumn("geocoded", F.col("lon").isNotNull())
