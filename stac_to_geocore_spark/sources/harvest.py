"""STAC harvest sources (SURVEY.md §2.1 S1-S3).

The reference fetches everything sequentially on one thread: root GET
(app.py:54), collections GET (app.py:80), then pages of /search walked one
by one (pagination.py:5-61) with every item translated inline. Here the page
walk stays on the driver — it IS partition planning, each page URL becomes a
unit of parallel work — and the per-page item fetch fans out via
mapInPandas.

A harvested STAC entity travels as its JSON text in the single string
column `stac_json` (STAC_JSON) from fetch to translate, where the rules
decode it back to the same dict the API served: no struct schema, so no
property is dropped and no integer coordinate is widened to a double.

The fetch function is injectable (signature url -> (status_code, json_dict))
so tests run against a deterministic in-process fake API; `http_fetch` is
the requests-backed implementation for real clusters.
"""

from __future__ import annotations

import json
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

Fetch = Callable[[str], tuple[int, dict]]

STAC_JSON = "stac_json string"


def http_fetch(url: str) -> tuple[int, dict]:
    import requests

    r = requests.get(url)
    return r.status_code, (r.json() if r.status_code == 200 else {})


def _next_link(links: list[dict]) -> str | None:
    """rel=next extraction (ref pagination.py:63-69)."""
    for link in links or []:
        if link.get("rel") == "next":
            return link.get("href")
    return None


def stac_json_df(spark: SparkSession, entities: list[dict]) -> DataFrame:
    """STAC entity dicts -> one `stac_json` row each."""
    return spark.createDataFrame([(json.dumps(e),) for e in entities], STAC_JSON)


def read_page(fetch: Fetch, url: str) -> list[str]:
    """One /search page -> the JSON text of each feature. A non-200 page
    contributes no rows (ref app.py P9)."""
    status, body = fetch(url)
    if status != 200:
        return []
    return [json.dumps(feat) for feat in body.get("features", [])]


def plan_pages(fetch: Fetch, search_url: str, max_pages: int = 10_000) -> list[str]:
    """Walk /search pagination and return the page-URL list (the partition
    plan). Reproduces the reference planner's semantics (pagination.py:5-61):

    - accumulate context.returned, compare against context.matched
    - keep only non-empty pages (returned > 0)
    - follow rel=next; stop on non-200, empty page list, or returned>=matched
      (Franklin emits a next link even on the last page — the whole reason
      the planner exists, ref docstring :9-11)

    `max_pages` bounds the pages fetched, kept or not, so an API that omits
    the context extension (returned reads 0) yet always links rel=next still
    stops.
    """
    pages: list[str] = []
    url: str | None = search_url
    returned_total = 0
    matched = None
    for _ in range(max_pages):
        if not url:
            break
        status, body = fetch(url)
        if status != 200:
            break
        ctx = body.get("context", {})
        returned = ctx.get("returned", 0)
        matched = ctx.get("matched", matched)
        returned_total += returned
        if returned > 0:
            pages.append(url)
        if matched is not None and returned_total >= matched:
            break
        url = _next_link(body.get("links"))
    return pages


def fetch_items_df(spark: SparkSession, pages: list[str], fetch: Fetch) -> DataFrame:
    """Distributed page fetch: one `stac_json` row per STAC item.

    Page URLs become a tiny DataFrame, repartitioned so each executor pulls
    its own pages and emits each feature's JSON text as served.
    """
    if not pages:
        return stac_json_df(spark, [])
    n = min(len(pages), spark.sparkContext.defaultParallelism * 2)
    pages_df = spark.createDataFrame([(u,) for u in pages], "url string").repartition(n)

    def pull(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame({"stac_json": [t for url in b["url"] for t in read_page(fetch, url)]})

    return pages_df.mapInPandas(pull, STAC_JSON)


def harvest(
    spark: SparkSession, api_root: str, fetch: Fetch = http_fetch
) -> tuple[dict, DataFrame, DataFrame]:
    """Full harvest (ref lambda_handler app.py:36-170 minus the sinks):
    returns (root_dict, collections_df, items_df)."""
    status, root = fetch(api_root)
    if status != 200:
        raise ConnectionError(f"root api returned {status} for {api_root}")
    status, colls_body = fetch(f"{api_root}/collections/")
    colls = colls_body.get("collections", []) if status == 200 else []
    colls_df = stac_json_df(spark, colls)
    pages = plan_pages(fetch, f"{api_root}/search")
    items_df = fetch_items_df(spark, pages, fetch)
    return root, colls_df, items_df
