"""Seeded input tables for the benchmark workloads.

The engine's generators in ``osm_addr_tools_spark.sources.synth`` read the
module constant ``SEED``. The benchmark sets it in the driver
(``set_seed``) and calls the pandas generators there, on the same id range
the engine's Spark wrappers use, so no Python worker ever generates input
and the pure-Python oracle sees the same universe. The tables are written
to parquet with the column types of the engine's wrappers; the workloads
read the stored copies, so the engine receives only generated tables.

The documents come from ``data/documents.parquet``: the ``doc_id`` and
``text`` columns of the scale-0.1 ``documents`` table that the
``docs_training_manifest`` query reads (5 000 documents of 10-100 words).
A run uses a seeded subset of it.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from osm_addr_tools_spark.sources import synth as S

DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")
EXACT_PLANT_OFFSET = 2_000_000
NEAR_PLANT_OFFSET = 1_000_000
FOOTER_URL = "https://footer"  # url prefix of the popular-address copies


def set_seed(seed: int) -> int:
    """Point the engine's generators at ``seed``; returns the value used."""
    S.SEED = int(seed) % (1 << 31)
    return S.SEED


_STR, _F64, _I64 = pa.string(), pa.float64(), pa.int64()
_TAGS = pa.map_(_STR, _STR)
# the Spark schemas of synth.synth_pages / synth_gazetteer / synth_buildings
# / synth_existing
SCHEMAS = {
    "pages": pa.schema(
        [("url", _STR), ("warc_ts", pa.timestamp("us", tz="UTC")), ("html", pa.binary()),
         ("text", _STR), ("lang", _STR)]
    ),
    "gazetteer": pa.schema(
        [("city", _STR), ("street_norm", _STR), ("hn_norm", _STR), ("lon", _F64), ("lat", _F64)]
    ),
    "buildings": pa.schema(
        [("building_id", _I64), ("tags", _TAGS),
         ("rings", pa.list_(pa.list_(pa.struct([("lon", _F64), ("lat", _F64)]))))]
    ),
    "existing": pa.schema([("node_id", _I64), ("lon", _F64), ("lat", _F64), ("tags", _TAGS)]),
}


def synth_tables(n_pages: int) -> dict[str, pa.Table]:
    """pages, gazetteer, buildings and existing nodes for ``n_pages`` pages
    under the current ``synth.SEED``: the rows ``synth.synth_*`` generate,
    with their column types."""
    ids = np.arange(2 * n_pages)
    pages = S.pages_pdf(ids, n_pages)
    # naive UTC timestamps, stored as UTC instants (Spark's timestamp)
    pages["warc_ts"] = pd.to_datetime(pages["warc_ts"]).dt.tz_localize("UTC")
    bld = pd.concat([S.buildings_pdf(ids, n_pages), S.special_buildings_pdf()], ignore_index=True)
    bld["rings"] = [
        [[{"lon": x, "lat": y} for x, y in ring] for ring in json.loads(r)] for r in bld["rings_json"]
    ]
    pdfs = {
        "pages": pages,
        "gazetteer": S.gazetteer_pdf(ids, n_pages),
        "buildings": bld,
        "existing": S.existing_pdf(ids, n_pages),
    }
    out = {}
    for name, pdf in pdfs.items():
        schema = SCHEMAS[name]
        if "tags" in pdf:
            pdf = pdf.assign(tags=[list(t.items()) for t in pdf["tags"]])
        out[name] = pa.Table.from_pandas(pdf[schema.names], schema=schema, preserve_index=False)
    return out


def write_table(table: pa.Table, path: str) -> None:
    """``table`` as a one-file parquet directory Spark reads back. Naive
    timestamps (Spark's INT96 columns as Arrow reads them) are stored as the
    UTC instants they are, so Spark reads them as ``timestamp`` again."""
    schema = pa.schema(
        [
            f.with_type(pa.timestamp("us", tz="UTC"))
            if pa.types.is_timestamp(f.type) and f.type.tz is None
            else f
            for f in table.schema
        ]
    )
    os.makedirs(path)
    pq.write_table(table.cast(schema), os.path.join(path, "part-00000.parquet"))


def in_unaddressed_building(n_pages: int) -> list[str]:
    """addr_keys of the rendered addresses whose point lies inside a building
    footprint without an address (``buildings_pdf``: h6 < 0.25, h12 ≥ 0.3)."""
    uni = S.addr_universe_pdf(S.realized_addr_ids(n_pages), n_pages)
    a = uni["addr_id"].to_numpy()
    inside = (S.h01(a, 6) < 0.25) & (S.h01(a, 12) >= 0.3)
    return uni.loc[inside, "addr_key"].tolist()


def popular_copies(addrs: pa.Table, keys: list[str], copies: int, seed: int):
    """One address of ``addrs`` among ``keys``, picked by ``seed``, repeated
    under ``copies`` distinct urls: an address in a site-wide footer.
    Returns the picked row (a dict) and ``addrs`` with the copies added."""
    df = addrs.select(["url", "addr_key"]).to_pandas()
    rows = np.flatnonzero(df["addr_key"].isin(keys).to_numpy())
    rows = rows[np.lexsort((df["addr_key"].to_numpy()[rows], df["url"].to_numpy()[rows]))]
    row = int(rows[np.random.default_rng(seed).integers(len(rows))])
    rep = addrs.take(np.full(copies, row))
    urls = pa.array([f"{FOOTER_URL}.example/page/{i}" for i in range(copies)], pa.string())
    rep = rep.set_column(rep.schema.get_field_index("url"), "url", urls)
    return addrs.slice(row, 1).to_pylist()[0], pa.concat_tables([addrs, rep])


def documents_pdf(n_docs: int, seed: int) -> pd.DataFrame:
    """(doc_id, text): ``n_docs`` documents of the stored table, chosen by
    ``seed``, under their own ids."""
    docs = pd.read_parquet(DOCUMENTS, columns=["doc_id", "text"])
    pick = np.random.default_rng(seed).choice(len(docs), size=n_docs, replace=False)
    return docs.iloc[np.sort(pick)].reset_index(drop=True)


def plant_ids(doc_ids: np.ndarray, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Ids of the documents copied as exact plants and as near plants, one
    in ten each, chosen by ``seed`` (disjoint sets)."""
    perm = np.random.default_rng(seed + 1).permutation(np.asarray(doc_ids))
    k = len(perm) // 10
    return np.sort(perm[:k]), np.sort(perm[k : 2 * k])


def corpus_tables(docs: pd.DataFrame, seed: int) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame]:
    """(base, corpus, benchmark) the way the ``docs_training_manifest`` query
    builds them: exact plants (base text under id + 2M) join the corpus,
    near plants (base text plus two words, id + 1M) form the benchmark."""
    exact_ids, near_ids = plant_ids(docs["doc_id"].to_numpy(), seed)
    base = docs.set_index("doc_id")
    exact = pd.DataFrame(
        {"doc_id": exact_ids + EXACT_PLANT_OFFSET, "text": base.loc[exact_ids, "text"].to_numpy()}
    )
    bench = pd.DataFrame(
        {
            "doc_id": near_ids + NEAR_PLANT_OFFSET,
            "text": base.loc[near_ids, "text"].to_numpy() + " trailing mutation",
        }
    )
    return docs, pd.concat([docs, exact], ignore_index=True), bench
