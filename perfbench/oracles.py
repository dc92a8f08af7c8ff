"""Engine-free oracles: numpy brute force and driver-side rule calls.

Nothing here builds a DataFrame. Inputs come from the fixture generators
(the numpy twins of the tables the engine reads), expected outputs from
brute force, and outputs under test are read from disk with pyarrow or
plain file reads.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd

from stac_to_geocore_spark.cells.h3x import h3_encode_np
from stac_to_geocore_spark.cells.s2 import s2_encode_np
from stac_to_geocore_spark.cells.tiles import tile_xy_np
from stac_to_geocore_spark.compat import rules
from stac_to_geocore_spark.fixtures import gen_images_pdf

POLY_STRIDE = 1 << 16  # pair key = image index * POLY_STRIDE + polygon index
_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _mix64(x: np.ndarray) -> np.ndarray:
    z = x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return (z ^ (z >> np.uint64(31))) & _M64


def checksum(keys: np.ndarray) -> int:
    """Order-independent checksum of a multiset of pair keys."""
    with np.errstate(over="ignore"):
        return int(np.sum(_mix64(np.asarray(keys, dtype=np.int64)), dtype=np.uint64))


def image_index(image_ids) -> np.ndarray:
    """'img-000000001234' -> 1234."""
    return pd.Series(image_ids).str.slice(4).astype(np.int64).to_numpy()


def poly_index(poly_ids) -> np.ndarray:
    """'poly-00042' -> 42."""
    return pd.Series(poly_ids).str.slice(5).astype(np.int64).to_numpy()


class Check:
    """Outcome of one oracle comparison; `failures` lists what differed."""

    def __init__(self, name: str):
        self.name = name
        self.failures: list[str] = []

    def expect(self, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append(what)

    @property
    def ok(self) -> bool:
        return not self.failures


# ------------------------------------------------------------- assignments


def image_points(n: int, seed: int) -> pd.DataFrame:
    return gen_images_pdf(np.arange(n), seed, bytes_mode="none")[["image_id", "lon", "lat"]]


def bbox_pairs(lon: np.ndarray, lat: np.ndarray, polys: pd.DataFrame) -> np.ndarray:
    """Brute-force inclusive bbox containment: sorted pair keys."""
    idx = np.arange(len(lon), dtype=np.int64)
    keys = []
    for j, p in zip(poly_index(polys["poly_id"]), polys.itertuples(index=False)):
        inside = (lon >= p.west) & (lon <= p.east) & (lat >= p.south) & (lat <= p.north)
        keys.append(idx[inside] * POLY_STRIDE + j)
    return np.sort(np.concatenate(keys)) if keys else np.zeros(0, np.int64)


def expected_pairs(n: int, seed: int, polys: pd.DataFrame, cover_res: int) -> tuple[np.ndarray, np.ndarray]:
    """Sorted oracle pair keys and the cover-resolution cell of each pair."""
    pts = image_points(n, seed)
    lon, lat = pts["lon"].to_numpy(), pts["lat"].to_numpy()
    keys = bbox_pairs(lon, lat, polys)
    img = keys // POLY_STRIDE
    return keys, h3_encode_np(lat[img], lon[img], cover_res)


def check_assignments(out: pd.DataFrame, points: pd.DataFrame, polys: pd.DataFrame,
                      res: int = 7, cover_res: int = 5, s2_level: int = 12, zoom: int = 12) -> Check:
    """Flagship output (every row, every column) against brute force."""
    c = Check("assign.pairs")
    want = bbox_pairs(points["lon"].to_numpy(), points["lat"].to_numpy(), polys)
    ii = image_index(out["image_id"])
    got = np.sort(ii * POLY_STRIDE + poly_index(out["poly_id"]))
    c.expect(len(got) == len(want), f"pair count {len(got)} != oracle {len(want)}")
    c.expect(checksum(got) == checksum(want), "pair checksum differs from oracle")
    c.expect(len(got) == len(want) and bool(np.array_equal(got, want)), "pair sets differ")
    if len(out) == 0:
        return c
    lon = points["lon"].to_numpy()[ii]
    lat = points["lat"].to_numpy()[ii]
    c.expect(np.array_equal(out["lon"].to_numpy(), lon) and np.array_equal(out["lat"].to_numpy(), lat),
             "lon/lat differ from the input rows")
    c.expect(np.array_equal(out[f"h3_r{res}"].to_numpy(), h3_encode_np(lat, lon, res)), f"h3_r{res} mismatch")
    c.expect(np.array_equal(out["cell_p5"].to_numpy(), h3_encode_np(lat, lon, cover_res)), "cell_p5 mismatch")
    c.expect(np.array_equal(out[f"s2_l{s2_level}"].to_numpy(), s2_encode_np(lat, lon, s2_level)),
             f"s2_l{s2_level} mismatch")
    tx, ty = tile_xy_np(lon, lat, zoom)
    c.expect(np.array_equal(out[f"tile_z{zoom}_x"].to_numpy(), tx)
             and np.array_equal(out[f"tile_z{zoom}_y"].to_numpy(), ty), f"tile z{zoom} mismatch")
    return c


# ----------------------------------------------------------------- harvest


def _coll_meta(colls: list[dict]) -> dict:
    meta = {}
    for coll in colls:
        f = rules.collection_fields(coll)
        meta[f["id"]] = {
            "title": {"en": f["title_en"], "fr": f["title_fr"]},
            "description": {"en": f["desc_en"], "fr": f["desc_fr"]},
            "keywords": {"en": f["kw_en"], "fr": f["kw_fr"]},
        }
    return meta


def expected_harvest(root: dict, colls: list[dict], items: list[dict], source: str,
                     root_name: str, source_system: str) -> tuple[dict, list[str]]:
    """(key -> zero-arg function returning the expected document, item keys)."""
    root_id = root["id"] if root["id"].isspace() else root["id"].replace(" ", "-")
    root_bbox = colls[1]["extent"]["spatial"]["bbox"][0]

    def root_doc():
        props = rules.root_properties(dict(root, id=root_id), root_bbox, source, root_name, source_system)
        return rules.serialize(rules.assemble_doc(props, rules.bbox_geometry(root_bbox)))

    def coll_doc(coll):
        props = rules.coll_properties(coll, source, root_id, root_name, source_system)
        bbox = (coll.get("extent") or {}).get("spatial", {}).get("bbox", [None])[0]
        return lambda: rules.serialize(rules.assemble_doc(props, rules.bbox_geometry(bbox)))

    meta = _coll_meta(colls)

    def item_doc(item):
        def build():
            props = rules.item_properties(item, meta.get(item["collection"], {}), source, root_name, source_system)
            return rules.serialize(rules.assemble_doc(props, rules.bbox_geometry(item["bbox"])))
        return build

    docs = {f"{source}-root-{root_id}.geojson": root_doc}
    for coll in colls:
        docs[f"{source}-{coll['id']}.geojson"] = coll_doc(coll)
    item_keys = []
    for item in items:
        key = f"{source}-{item['collection']}-{item['id']}.geojson"
        docs[key] = item_doc(item)
        item_keys.append(key)
    return docs, item_keys


def check_harvest(store_root: str, manifest_key: str, docs: dict, item_keys: list[str],
                  n_sample: int, seed: int) -> Check:
    """Manifest key set == root + collections + items; the store holds those
    objects and the manifest only; sampled documents are byte-equal."""
    c = Check("harvest.docs")
    with open(os.path.join(store_root, manifest_key), encoding="utf-8") as f:
        manifest = [k for k in f.read().splitlines() if k]
    c.expect(len(manifest) == len(set(manifest)), "manifest lists a key twice")
    c.expect(set(manifest) == set(docs), f"manifest keys differ from oracle "
             f"({len(set(manifest) - set(docs))} extra, {len(set(docs) - set(manifest))} missing)")
    stored = set()
    for dirpath, _, files in os.walk(store_root):
        stored.update(os.path.relpath(os.path.join(dirpath, fn), store_root) for fn in files)
    c.expect(stored == set(docs) | {manifest_key}, "store objects differ from manifest + documents")
    rng = np.random.default_rng(seed)
    item_set = set(item_keys)
    sample = [k for k in docs if k not in item_set]
    sample += list(rng.choice(item_keys, size=min(n_sample, len(item_keys)), replace=False))
    for key in sample:
        try:
            with open(os.path.join(store_root, key), encoding="utf-8") as f:
                got = f.read()
        except OSError:
            c.expect(False, f"{key} missing")
            continue
        c.expect(got == docs[key](), f"{key} differs from the rules translation")
    return c


# ---------------------------------------------------------- lineage + kNN


def read_committed(data_dir: str, partition_col: str = "cell_p5") -> pd.DataFrame:
    """Committed rows read straight from the parquet files (no Spark)."""
    import pyarrow.dataset as ds

    dataset = ds.dataset(data_dir, format="parquet", partitioning="hive")
    return dataset.to_table(columns=["image_id", "poly_id", "lon", "lat", partition_col]).to_pandas()


def check_lineage(path: str, committed: pd.DataFrame, want_keys: np.ndarray,
                  want_cells: np.ndarray, partition_col: str = "cell_p5") -> Check:
    """Every partition committed exactly once across kill and resume; row
    counts per partition and in total match brute force; the committed
    pairs are the oracle pairs."""
    c = Check("checkpoint.lineage")
    with open(os.path.join(path, "_lineage", "manifest.jsonl")) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    parts = [r["partition"] for r in rows if r.get("status") == "committed"]
    c.expect(len(parts) == len(set(parts)), "a partition committed more than once")
    cells, counts = np.unique(want_cells, return_counts=True)
    want_counts = {str(k): int(v) for k, v in zip(cells, counts)}
    got_counts = {r["partition"]: int(r["row_count"]) for r in rows if r.get("status") == "committed"}
    c.expect(got_counts == want_counts, "per-partition row counts differ from oracle")
    c.expect(sum(got_counts.values()) == len(want_keys),
             f"committed rows {sum(got_counts.values())} != oracle pairs {len(want_keys)}")
    got = np.sort(image_index(committed["image_id"]) * POLY_STRIDE + poly_index(committed["poly_id"]))
    c.expect(len(got) == len(want_keys) and bool(np.array_equal(got, want_keys)),
             "committed pairs differ from oracle")
    return c


def brute_knn(points: pd.DataFrame, queries: pd.DataFrame, k: int) -> dict:
    """query_id -> [(point_id, dist2)] by brute force, same metric and tie
    order as the engine (squared scaled degrees, then point id)."""
    plon = points["lon"].to_numpy(np.float64)
    plat = points["lat"].to_numpy(np.float64)
    pid = points["image_id"].to_numpy()
    out = {}
    for q in queries.itertuples(index=False):
        mid = np.radians((q.lat + plat) / 2.0)
        dx = (q.lon - plon) * np.cos(mid)
        dy = q.lat - plat
        d2 = dx * dx + dy * dy
        order = np.lexsort((pid, d2))[: min(k, len(d2))]
        out[q.query_id] = [(pid[i], float(d2[i])) for i in order]
    return out


def check_knn(rows: list, want: dict) -> Check:
    c = Check("checkpoint.knn")
    got: dict = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append((r["point_id"], float(r["dist2"])))
    c.expect(set(got) == set(want), "query ids differ")
    for qid, expect in want.items():
        have = got.get(qid, [])
        c.expect([p for p, _ in have] == [p for p, _ in expect], f"{qid}: top-k ids differ")
        c.expect(all(math.isclose(a, b, rel_tol=0, abs_tol=1e-9) for (_, a), (_, b) in zip(have, expect)),
                 f"{qid}: distances differ")
    return c
