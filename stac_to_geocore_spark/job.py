"""The end-to-end harvest job — the engine's lambda_handler (app.py:36-170).

A user of the reference runs one daily Lambda that: deletes the previous
run, harvests root/collections/items, translates each to GeoCore JSON, and
uploads everything plus lastRun.txt. `run_harvest` is that job as one Spark
application:

    root, colls_df, items_df = harvest(spark, api_root, fetch)   # S1-S3
    docs = root_doc ∪ translate_collections ∪ translate_items    # R1-R5
    run_harvest_sink(docs, store)                                # K1-K3
      (or snapshot_overwrite for atomic replace semantics)

Collections and items travel as their JSON text (one `stac_json` column)
from the page fetch to the translation, which decodes each back to the dict
the API served.

Differences from the reference, by design:
- item fetch + translation are distributed (the reference is one thread);
- the null template is a constant, not an S3 GET per record;
- `atomic=True` swaps the output directory instead of delete-then-write.
Outputs are byte-identical either way (golden tests).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from stac_to_geocore_spark.compat.translate import (
    DEFAULT_ROOT_NAME,
    DEFAULT_SOURCE,
    DEFAULT_SOURCE_SYSTEM,
    _coll_dict,
    translate_collections,
    translate_items,
    translate_root,
)
from stac_to_geocore_spark.sources.harvest import Fetch, harvest, http_fetch
from stac_to_geocore_spark.sources.sinks import run_harvest_sink, snapshot_overwrite


def run_harvest(
    spark: SparkSession,
    api_root: str,
    store_root: str,
    fetch: Fetch = http_fetch,
    source: str = DEFAULT_SOURCE,
    root_name: str = DEFAULT_ROOT_NAME,
    source_system: str = DEFAULT_SOURCE_SYSTEM,
    atomic: bool = False,
) -> list[str]:
    """Full harvest -> translate -> sink. Returns the manifest key list."""
    root, colls_df, items_df = harvest(spark, api_root, fetch)

    colls = [_coll_dict(r) for r in colls_df.collect()]
    root_key, root_json = translate_root(root, colls, source, root_name, source_system)
    root_id = root_key[len(source) + len("-root-") : -len(".geojson")]

    coll_docs = translate_collections(colls_df, source, root_id, root_name, source_system)
    item_docs = translate_items(items_df, colls_df, source, root_name, source_system)
    root_df = spark.createDataFrame([(root_key, root_json)], "key string, json string")
    docs = root_df.unionByName(coll_docs).unionByName(item_docs)

    if atomic:
        return snapshot_overwrite(docs, store_root)
    return run_harvest_sink(docs, store_root)
