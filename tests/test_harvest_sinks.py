"""Harvest sources (pagination planner, distributed page fetch) and sinks
(object puts, lastRun manifest protocol, snapshot overwrite, CSV export)."""

from __future__ import annotations

import copy
import json
import math
import os

from stac_to_geocore_spark.compat import rules, translate_items
from stac_to_geocore_spark.fixtures import API_ROOT, make_fake_stac_fetch, stac_items_fixture
from stac_to_geocore_spark.job import run_harvest
from stac_to_geocore_spark.sources.harvest import fetch_items_df, harvest, plan_pages
from stac_to_geocore_spark.sources.sinks import (
    LocalObjectStore,
    MANIFEST_KEY,
    delete_previous_run,
    export_csv,
    run_harvest_sink,
    snapshot_overwrite,
)


def test_plan_pages_stops_despite_trailing_next_link():
    fetch = make_fake_stac_fetch(n_items=95, page_size=30)
    pages = plan_pages(fetch, f"{API_ROOT}/search")
    # 95 items / 30 per page = 4 non-empty pages; page 5 exists (rel=next on
    # the last page — the Franklin quirk) but must never be fetched into the plan
    assert len(pages) == 4
    assert pages[-1].endswith("page=4")


def test_plan_pages_non_200_stops():
    fetch = make_fake_stac_fetch(n_items=10)
    pages = plan_pages(fetch, f"{API_ROOT}/bogus-route")
    assert pages == []


def test_plan_pages_max_pages_bounds_fetches():
    """An API without the context extension reads returned=0 on every page;
    if it always links rel=next, only max_pages may stop the walk."""
    calls = []

    def fetch(url):
        calls.append(url)
        if len(calls) > 1_000:
            raise RuntimeError("page walk did not stop")
        page = len(calls)
        return 200, {"features": [{"id": f"i{page}"}],
                     "links": [{"rel": "next", "href": f"{API_ROOT}/search?page={page + 1}"}]}

    assert plan_pages(fetch, f"{API_ROOT}/search", max_pages=100) == []
    assert len(calls) == 100


def test_distributed_fetch_items(spark):
    fetch = make_fake_stac_fetch(n_items=95, page_size=30)
    pages = plan_pages(fetch, f"{API_ROOT}/search")
    df = fetch_items_df(spark, pages, fetch)
    assert df.columns == ["stac_json"]
    got = sorted(json.loads(r.stac_json)["id"] for r in df.collect())
    assert got == sorted(item["id"] for item in stac_items_fixture(95))


def test_full_harvest_to_sink_roundtrip(spark, tmp_path):
    fetch = make_fake_stac_fetch(n_items=60)
    root, colls_df, items_df = harvest(spark, API_ROOT, fetch)
    assert root["id"] == "CCMEO Datacube"
    assert colls_df.count() == 8
    docs = translate_items(items_df, colls_df)
    store_root = str(tmp_path / "run1")
    keys = run_harvest_sink(docs, store_root)
    store = LocalObjectStore(store_root)
    assert len(keys) == 60
    listed = store.list()
    assert MANIFEST_KEY in listed and len(listed) == 61
    # second run with fewer items must delete ALL previous keys first (K3)
    fetch2 = make_fake_stac_fetch(n_items=30)
    _, colls2, items2 = harvest(spark, API_ROOT, fetch2)
    keys2 = run_harvest_sink(translate_items(items2, colls2), store_root)
    listed2 = store.list()
    assert len(keys2) == 30 and len(listed2) == 31
    assert not set(keys) - set(keys2) & set(listed2)  # stale keys gone


def _integer_and_null_fetch(n_items: int):
    """The fake STAC API with served values a struct schema would rewrite:
    integer coordinates in one collection extent and in every third item
    bbox, "title": null on an asset of item 4 and "created": null on item 5."""
    base = make_fake_stac_fetch(n_items=n_items, page_size=15)
    ids = [item["id"] for item in stac_items_fixture(n_items)]
    int_bbox = set(ids[::3])

    def fetch(url: str) -> tuple[int, dict]:
        status, body = base(url)
        body = copy.deepcopy(body)
        for coll in body.get("collections", []):
            if coll["id"] == "monthly-vegetation-parameters-20m-v1":  # the root borrows this bbox
                coll["extent"]["spatial"]["bbox"] = [[-120, 50, -110, 60]]
        for item in body.get("features", []):
            if item["id"] in int_bbox:
                w, s, e, n = item["bbox"]
                item["bbox"] = [math.floor(w), math.floor(s), math.ceil(e), math.ceil(n)]
            if item["id"] == ids[4]:
                item["assets"]["data"]["title"] = None
            if item["id"] == ids[5]:
                item["properties"]["created"] = None
        return status, body

    return fetch


def _served_docs(fetch, source, root_name, system) -> dict:
    """key -> rules.assemble_doc/serialize of the dicts the API serves."""
    _, root = fetch(API_ROOT)
    colls = fetch(f"{API_ROOT}/collections/")[1]["collections"]
    items = [f for url in plan_pages(fetch, f"{API_ROOT}/search") for f in fetch(url)[1]["features"]]
    root_id = root["id"].replace(" ", "-")
    root_bbox = colls[1]["extent"]["spatial"]["bbox"][0]
    props = rules.root_properties(dict(root, id=root_id), root_bbox, source, root_name, system)
    docs = {f"{source}-root-{root_id}.geojson": rules.assemble_doc(props, rules.bbox_geometry(root_bbox))}
    meta = {}
    for coll in colls:
        f = rules.collection_fields(coll)
        meta[f["id"]] = {"title": {"en": f["title_en"], "fr": f["title_fr"]},
                         "description": {"en": f["desc_en"], "fr": f["desc_fr"]},
                         "keywords": {"en": f["kw_en"], "fr": f["kw_fr"]}}
        props = rules.coll_properties(coll, source, root_id, root_name, system)
        geom = rules.bbox_geometry(coll["extent"]["spatial"]["bbox"][0])
        docs[f"{source}-{coll['id']}.geojson"] = rules.assemble_doc(props, geom)
    for item in items:
        props = rules.item_properties(item, meta.get(item["collection"], {}), source, root_name, system)
        key = f"{source}-{item['collection']}-{item['id']}.geojson"
        docs[key] = rules.assemble_doc(props, rules.bbox_geometry(item["bbox"]))
    return {k: rules.serialize(d) for k, d in docs.items()}


def test_run_harvest_bytes_equal_rules_on_served_dicts(spark, tmp_path):
    """Every stored document is byte-equal to the rules applied to the dict
    the API served: integer coordinates stay integers, a null asset title
    reads as absent, and "created": null still sets the date struct."""
    from stac_to_geocore_spark.compat.translate import (
        DEFAULT_ROOT_NAME, DEFAULT_SOURCE, DEFAULT_SOURCE_SYSTEM,
    )

    fetch = _integer_and_null_fetch(45)
    store_root = str(tmp_path / "parity")
    keys = run_harvest(spark, API_ROOT, store_root, fetch=fetch)
    want = _served_docs(fetch, DEFAULT_SOURCE, DEFAULT_ROOT_NAME, DEFAULT_SOURCE_SYSTEM)
    assert sorted(keys) == sorted(want)
    store = LocalObjectStore(store_root)
    for key, doc in want.items():
        assert store.get(key) == doc, key

    def feature(key: str) -> dict:
        return json.loads(store.get(key))["features"][0]

    root = feature("ccmeo-root-CCMEO-Datacube.geojson")
    assert root["geometry"]["coordinates"][0][0] == [-120, 50]
    assert root["properties"]["geometry"].startswith("POLYGON((-120 50, -110 50,")
    item_key = [f"ccmeo-{i['collection']}-{i['id']}.geojson" for i in stac_items_fixture(45)]
    assert all(isinstance(c, int) for pt in feature(item_key[3])["geometry"]["coordinates"][0] for c in pt)
    names = [o["name"]["en"] for o in feature(item_key[4])["properties"]["options"]]
    assert names.count("Asset - Unknown") == 2  # the null title and the absent one
    created = feature(item_key[5])["properties"]["date"]["created"]
    assert created == {"text": "creation; création", "date": None}


def test_delete_previous_run_without_manifest(tmp_path):
    assert delete_previous_run(LocalObjectStore(str(tmp_path / "empty"))) == 0


def test_object_keys_cannot_escape_store_root(tmp_path):
    import pytest

    store = LocalObjectStore(str(tmp_path / "a" / "b" / "store"))
    outside = tmp_path / "a" / "escaped.geojson"
    outside.write_text("keep")
    for key in ("ccmeo-coll-x/../../../escaped.geojson", "../escaped.geojson",
                "..", str(outside)):
        with pytest.raises(ValueError, match="escapes the store root"):
            store.put(key, "{}")
        with pytest.raises(ValueError, match="escapes the store root"):
            store.get(key)
        with pytest.raises(ValueError, match="escapes the store root"):
            store.delete(key)
    assert outside.read_text() == "keep"
    assert not (tmp_path / "a" / "b" / "escaped.geojson").exists()
    # ordinary prefixed keys, including ones that normalise inside the root
    store.put("_manifest_parts/part-00000.txt", "k\n")
    store.put("ccmeo-coll-x/../item.geojson", "{}")
    assert store.get("_manifest_parts/part-00000.txt") == "k\n"
    assert store.list() == ["_manifest_parts/part-00000.txt", "item.geojson"]
    store.delete("item.geojson")
    assert store.list() == ["_manifest_parts/part-00000.txt"]


def test_snapshot_overwrite_atomic_swap(spark, tmp_path):
    fetch = make_fake_stac_fetch(n_items=30)
    _, colls_df, items_df = harvest(spark, API_ROOT, fetch)
    docs = translate_items(items_df, colls_df)
    store_root = str(tmp_path / "snap")
    keys = snapshot_overwrite(docs, store_root)
    assert len(LocalObjectStore(store_root).list()) == 31
    # overwrite with a second snapshot: no .staging/.old residue, fresh keys only
    keys2 = snapshot_overwrite(docs, store_root)
    assert sorted(keys) == sorted(keys2)
    assert not os.path.exists(store_root + ".staging")
    assert not os.path.exists(store_root + ".old")


def test_export_csv(spark, tmp_path):
    src = "/root/testdata/sf0.001/region.parquet"
    out = str(tmp_path / "region_csv")
    export_csv(spark, src, out)
    got = spark.read.option("header", True).csv(out)
    assert got.count() == 5


def test_stac_python_data_source(spark):
    """The STAC Python Data Source must plan one partition per non-empty
    page and produce exactly the rows the mapInPandas harvest path does."""
    from stac_to_geocore_spark.sources.stac_source import StacDataSource

    spark.dataSource.register(StacDataSource)
    df = (
        spark.read.format("stac")
        .option("api_root", API_ROOT)
        .option("fetch", "stac_to_geocore_spark.fixtures:fake_fetch_factory")
        .option("n_items", "95")
        .load()
    )
    assert df.count() == 95
    assert df.columns == ["stac_json"]
    # row-for-row identical to the harvest path (same fake API)
    fetch = make_fake_stac_fetch(n_items=95, page_size=30)
    pages = plan_pages(fetch, f"{API_ROOT}/search")
    want = fetch_items_df(spark, pages, fetch)
    assert sorted(r.stac_json for r in df.collect()) == sorted(r.stac_json for r in want.collect())


def test_stac_streaming_source_available_now(spark, tmp_path):
    """Incremental harvest as a stream: availableNow drains all pages in
    page-sized micro-batches through the checkpointed offset, landing the
    same 95 items the batch path reads (4 pages, 2 per micro-batch)."""
    from stac_to_geocore_spark.sources.stac_source import StacDataSource

    spark.dataSource.register(StacDataSource)
    stream = (
        spark.readStream.format("stac")
        .option("api_root", API_ROOT)
        .option("fetch", "stac_to_geocore_spark.fixtures:fake_fetch_factory")
        .option("n_items", "95")
        .option("pages_per_batch", "2")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("stac_stream_items")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # drains in 2-page micro-batches until read() stops advancing the
        # offset (pages_done == 4), then processAllAvailable unblocks
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT get_json_object(stac_json, '$.id') AS id FROM stac_stream_items").toPandas()
    assert len(got) == 95
    assert got["id"].is_unique


def test_stale_manifest_parts_not_merged(spark, tmp_path):
    """Part files left by a crashed previous run must not leak into the new
    run's manifest (they would list keys this run never wrote)."""
    from stac_to_geocore_spark.sources.sinks import PARTS_PREFIX

    store_root = str(tmp_path / "stale")
    store = LocalObjectStore(store_root)
    store.put(f"{PARTS_PREFIX}/part-99999.txt", "ghost-key.geojson\n")
    docs = spark.createDataFrame([("a.geojson", "{}"), ("b.geojson", "{}")], "key string, json string")
    keys = run_harvest_sink(docs, store_root)
    assert sorted(keys) == ["a.geojson", "b.geojson"]  # no ghost-key
