"""Spark orchestration of the STAC -> GeoCore translation (compat layer).

Reference lifecycle (app.py:36-170) is a single-threaded loop: per record it
re-fetches the null template from S3, mutates it, uploads one JSON. Here the
same semantics run as a distributed dataflow:

  collections_df (small dim)  --driver build--> broadcast coll-meta dict
        (the reference's create_coll_dict, stac_to_geocore.py:553-566)
  items_df --mapInPandas(batch translate)--> (key, json) rows
        J1 broadcast probe happens inside the batch against the broadcast
        meta (equivalent to items ⟕ broadcast(colls) since the probe is
        get(coll_id, {}) — ref :589)
  collections_df --mapInPandas--> (key, json) rows
  root --driver (1 record)--> (key, json)

Both DataFrames carry each STAC entity as its JSON text in the column
`stac_json` (sources/harvest.STAC_JSON); json.loads gives back the dict the
API served, which the rules take exactly as the reference does.

Byte parity: per-record assembly + json.dumps(indent=4, ensure_ascii=False)
happens in Python inside Arrow batches (F.to_json cannot produce the
reference's serialization — SURVEY.md §1.4).
"""

from __future__ import annotations

import json
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

from stac_to_geocore_spark.compat import rules

OUT_SCHEMA = "key string, json string"

DEFAULT_SOURCE = "ccmeo"
DEFAULT_ROOT_NAME = "CCMEO Datacube/ CCCOT Cube de données"
DEFAULT_SOURCE_SYSTEM = "ccmeo-datacube"


def _coll_dict(row) -> dict:
    """A collections_df row (Row or record dict) -> the STAC collection."""
    return json.loads(row["stac_json"])


def _translate_each(df: DataFrame, translate: Callable[[dict], tuple[str, str]]) -> DataFrame:
    """stac_json rows -> (key, json) rows, one `translate(entity)` call each."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame([translate(json.loads(t)) for t in b["stac_json"]], columns=["key", "json"])

    return df.mapInPandas(run, OUT_SCHEMA)


def build_coll_meta(colls: list[dict]) -> dict:
    """The reference's create_coll_dict (stac_to_geocore.py:553-566): the
    broadcast build side of the item ⟕ collection join."""
    meta = {}
    for c in colls:
        f = rules.collection_fields(c)
        meta[f["id"]] = {
            "title": {"en": f["title_en"], "fr": f["title_fr"]},
            "description": {"en": f["desc_en"], "fr": f["desc_fr"]},
            "keywords": {"en": f["kw_en"], "fr": f["kw_fr"]},
        }
    return meta


def translate_items(
    items_df: DataFrame,
    colls_df: DataFrame,
    source: str = DEFAULT_SOURCE,
    root_name: str = DEFAULT_ROOT_NAME,
    source_system: str = DEFAULT_SOURCE_SYSTEM,
) -> DataFrame:
    """items -> (key, json) GeoCore docs. Collections are a small dim by
    contract (one HTTP GET in the reference), collected once and broadcast."""
    colls = [_coll_dict(r) for r in colls_df.collect()]
    meta_bc = items_df.sparkSession.sparkContext.broadcast(build_coll_meta(colls))

    def translate(item: dict) -> tuple[str, str]:
        coll_id = item["collection"]
        props = rules.item_properties(
            item, meta_bc.value.get(coll_id, {}), source, root_name, source_system
        )
        doc = rules.assemble_doc(props, rules.bbox_geometry(item["bbox"]))
        return f"{source}-{coll_id}-{item['id']}.geojson", rules.serialize(doc)

    return _translate_each(items_df, translate)


def translate_collections(
    colls_df: DataFrame,
    source: str = DEFAULT_SOURCE,
    root_id: str = "CCMEO-Datacube",
    root_name: str = DEFAULT_ROOT_NAME,
    source_system: str = DEFAULT_SOURCE_SYSTEM,
) -> DataFrame:
    def translate(coll: dict) -> tuple[str, str]:
        props = rules.coll_properties(coll, source, root_id, root_name, source_system)
        bbox = (coll.get("extent") or {}).get("spatial", {}).get("bbox", [None])[0]
        doc = rules.assemble_doc(props, rules.bbox_geometry(bbox))
        return f"{source}-{coll['id']}.geojson", rules.serialize(doc)

    return _translate_each(colls_df, translate)


def translate_root(
    root: dict,
    colls: list[dict],
    source: str = DEFAULT_SOURCE,
    root_name: str = DEFAULT_ROOT_NAME,
    source_system: str = DEFAULT_SOURCE_SYSTEM,
) -> tuple[str, str]:
    """Single-record root translation (driver-side, like the reference's
    app.py:72-116). Preserves the collections[1] bbox-borrow quirk
    (app.py:82) and the space->dash id normalization (app.py:74-75)."""
    root_id = root["id"]
    if not root_id.isspace():
        root_id = root_id.replace(" ", "-")
    root_bbox = colls[1]["extent"]["spatial"]["bbox"][0]
    normalized = dict(root, id=root_id)
    props = rules.root_properties(normalized, root_bbox, source, root_name, source_system)
    geom = rules.bbox_geometry(root_bbox)
    doc = rules.assemble_doc(props, geom)
    return f"{source}-root-{root_id}.geojson", rules.serialize(doc)
