"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of ``seed`` and a size, so the same seed
gives byte-identical inputs. The program under test only ever sees the
files written here (or, for the image table, rows of its own generator).
"""

from __future__ import annotations

import json
import math
import os
import random

import numpy as np

# ---------------------------------------------------------------------------
# image table (sources.images)
# ---------------------------------------------------------------------------


def image_frame(spark, first_id: int, n: int, partitions: int):
    """``generate_images(skew=True)`` rows for ids ``first_id .. first_id+n-1``.

    ``generate_images`` always starts at id 0; the seed moves the id range
    instead, through the same per-batch generator it uses."""
    from geojson_spark.schema import IMAGE_SCHEMA
    from geojson_spark.sources.images import _gen_batch

    def gen(it):
        for pdf in it:
            ids = pdf["id"].to_numpy(np.int64)
            for lo in range(0, ids.size, 4096):
                yield _gen_batch(ids[lo : lo + 4096], True)

    return spark.range(first_id, first_id + n, numPartitions=partitions).mapInPandas(
        gen, schema=IMAGE_SCHEMA
    )


# ---------------------------------------------------------------------------
# star-schema tables read by the headline queries
# ---------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "large", "new", "old", "small", "red", "green"]
_NOUNS = ["widget", "bolt", "rod", "anvil", "ring", "gear", "valve", "spring"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "fr", "es", "zh", "de"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
_EPOCH_1995_US = 788918400 * 10**6
_DAY_US = 86400 * 10**6


def _write(path: str, table) -> None:
    import pyarrow.parquet as pq

    pq.write_table(table, path)


def write_star_schema(out_dir: str, seed: int, rows: dict[str, int]) -> None:
    """TPC-H-like tables plus ``events``, ``documents`` and ``embeddings``,
    with the column names and types the headline queries read.

    ``rows`` gives the row count per table (region and nation are fixed)."""
    import pyarrow as pa

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    p = lambda name: os.path.join(out_dir, f"{name}.parquet")  # noqa: E731

    def i64(a):
        return pa.array(np.asarray(a, dtype=np.int64))

    def i32(a):
        return pa.array(np.asarray(a, dtype=np.int32))

    def money(lo, hi, n):
        return pa.array(np.round(rng.uniform(lo, hi, n), 2))

    def pick(values, n):
        return pa.array([values[k] for k in rng.integers(0, len(values), n)])

    def dates(n, days):
        return pa.array(
            _EPOCH_1995_US + rng.integers(0, days, n) * _DAY_US, type=pa.timestamp("us")
        )

    _write(p("region"), pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(_REGIONS)}))
    _write(
        p("nation"),
        pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
                "n_regionkey": i32([k % 5 for k in range(25)]),
            }
        ),
    )
    n = rows["customer"]
    _write(
        p("customer"),
        pa.table(
            {
                "c_custkey": i64(range(n)),
                "c_name": pa.array([f"Customer#{k:09d}" for k in range(n)]),
                "c_nationkey": i32(rng.integers(0, 25, n)),
                "c_acctbal": money(-999.99, 9999.99, n),
                "c_mktsegment": pick(_SEGMENTS, n),
            }
        ),
    )
    n = rows["supplier"]
    _write(
        p("supplier"),
        pa.table(
            {
                "s_suppkey": i64(range(n)),
                "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n)]),
                "s_nationkey": i32(rng.integers(0, 25, n)),
                "s_acctbal": money(-999.99, 9999.99, n),
            }
        ),
    )
    n = rows["part"]
    _write(
        p("part"),
        pa.table(
            {
                "p_partkey": i64(range(n)),
                "p_name": pa.array(
                    [f"{_ADJ[a]} {_NOUNS[b]}" for a, b in rng.integers(0, 8, (n, 2))]
                ),
                "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n)]),
                "p_type": pick(_PART_TYPES, n),
                "p_size": i32(rng.integers(1, 51, n)),
                "p_retailprice": pa.array(np.round(900.0 + np.arange(n) * 0.1, 2)),
            }
        ),
    )
    n_orders = rows["orders"]
    _write(
        p("orders"),
        pa.table(
            {
                "o_orderkey": i64(range(n_orders)),
                "o_custkey": i64(rng.integers(0, rows["customer"], n_orders)),
                "o_orderstatus": pick(["F", "O", "P"], n_orders),
                "o_totalprice": money(1000.0, 500000.0, n_orders),
                "o_orderdate": dates(n_orders, 7 * 365),
                "o_orderpriority": pick(_PRIORITIES, n_orders),
            }
        ),
    )
    n = rows["lineitem"]
    _write(
        p("lineitem"),
        pa.table(
            {
                "l_orderkey": i64(rng.integers(0, n_orders, n)),
                "l_partkey": i64(rng.integers(0, rows["part"], n)),
                "l_suppkey": i64(rng.integers(0, rows["supplier"], n)),
                "l_linenumber": i32(rng.integers(1, 8, n)),
                "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
                "l_extendedprice": money(900.0, 105000.0, n),
                "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
                "l_returnflag": pick(["A", "N", "R"], n),
                "l_linestatus": pick(["F", "O"], n),
                "l_shipdate": dates(n, 7 * 365),
            }
        ),
    )
    n = rows["events"]
    gaps_us = (rng.exponential(43 * 60, n) * 1e6).astype(np.int64) + 1
    _write(
        p("events"),
        pa.table(
            {
                "event_id": i64(range(n)),
                "ts": pa.array(1704067200 * 10**6 + np.cumsum(gaps_us), type=pa.timestamp("us")),
                "user_id": i64(rng.integers(0, max(5, n // 66), n)),
                "event_type": pick(_EVENT_TYPES, n),
                "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
            }
        ),
    )
    n = rows["documents"]
    texts: list[str] = []
    for k in range(n):
        if k > 10 and rng.random() < 0.05:
            # a near-duplicate of an earlier document, for the dedup queries
            texts.append(texts[int(rng.integers(0, k))] + " dup")
        else:
            texts.append(" ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), rng.integers(10, 100))))
    _write(
        p("documents"),
        pa.table(
            {
                "doc_id": i64(range(n)),
                "text": pa.array(texts),
                "lang": pa.array([_LANGS[k] for k in rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]),
                "source": pa.array([f"src{k % 20}" for k in range(n)]),
                "n_chars": i64([len(t) for t in texts]),
            }
        ),
    )
    n = rows["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.standard_normal((10, 64))
    vecs = centers[labels] + 1.5 * rng.standard_normal((n, 64))
    near = rng.random(n) < 0.05
    src = rng.integers(0, n, n)
    vecs[near] = vecs[src[near]] + 0.01 * rng.standard_normal((int(near.sum()), 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(
        p("embeddings"),
        pa.table(
            {
                "vec_id": i64(range(n)),
                "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                "label": i32(labels),
            }
        ),
    )


def star_schema_rows(lineitem: int) -> dict[str, int]:
    """Row counts in TPC-H proportions, keyed off the lineitem count
    (6,000 lineitems match the shape of an sf0.001 table set)."""
    f = lineitem / 6000
    return {
        "customer": max(40, int(150 * f)),
        "supplier": max(5, int(10 * f)),
        "part": max(20, int(200 * f)),
        "orders": max(50, int(1500 * f)),
        "lineitem": lineitem,
        "events": max(100, int(1000 * f)),
        "documents": max(50, int(500 * f)),
        "embeddings": max(50, int(500 * f)),
    }


# ---------------------------------------------------------------------------
# GeoJSON corpus (sources.geojson + functions.geojson_codec)
# ---------------------------------------------------------------------------


def _ring(rng: random.Random, cx: float, cy: float, r: float, n: int) -> list:
    ang = sorted(rng.uniform(0, 2 * math.pi) for _ in range(n))
    pts = [[round(cx + r * math.cos(a), 6), round(cy + r * math.sin(a), 6)] for a in ang]
    return pts + [pts[0]]


def _geometry(rng: random.Random, kind: str) -> dict:
    cx, cy = rng.uniform(-170, 170), rng.uniform(-80, 80)
    pt = lambda: [round(cx + rng.uniform(-1, 1), 6), round(cy + rng.uniform(-1, 1), 6)]  # noqa: E731
    line = lambda: [pt() for _ in range(rng.randint(2, 11))]  # noqa: E731

    def poly(holes: bool):
        rings = [_ring(rng, cx, cy, 1.0, rng.randint(4, 15))]
        if holes:
            rings.append(list(reversed(_ring(rng, cx, cy, 0.3, rng.randint(3, 7)))))
        return rings

    if kind == "Point":
        return {"type": "Point", "coordinates": pt()}
    if kind == "LineString":
        return {"type": "LineString", "coordinates": line()}
    if kind == "Polygon":
        return {"type": "Polygon", "coordinates": poly(rng.random() < 0.5)}
    if kind == "MultiPoint":
        return {"type": "MultiPoint", "coordinates": [pt() for _ in range(rng.randint(1, 5))]}
    if kind == "MultiLineString":
        return {"type": "MultiLineString", "coordinates": [line() for _ in range(rng.randint(1, 3))]}
    if kind == "MultiPolygon":
        return {"type": "MultiPolygon", "coordinates": [poly(k == 0) for k in range(rng.randint(1, 3))]}
    return {
        "type": "GeometryCollection",
        "geometries": [_geometry(rng, "Point"), _geometry(rng, "LineString"), _geometry(rng, "Polygon")],
    }


_KINDS = ["Point", "LineString", "Polygon", "MultiPoint", "MultiLineString", "MultiPolygon",
          "GeometryCollection"]


def _feature(rng: random.Random, seed: int, k: int) -> dict:
    f: dict = {"type": "Feature"}
    # the string|number id union: even ids are numbers, odd ones strings
    f["id"] = k if k % 2 == 0 else f"f-{seed}-{k}"
    geom = _geometry(rng, _KINDS[k % len(_KINDS)])
    if k % 11 == 0:
        geom["source"] = {"survey": rng.randint(0, 99)}  # geometry foreign member
    f["geometry"] = geom
    if k % 10 == 3:
        f["properties"] = None
    else:
        f["properties"] = {
            "name": f"feature {k}",
            "pop": rng.randint(0, 10**6),
            "score": round(rng.random(), 6),
            "tags": [f"t{rng.randint(0, 49)}" for _ in range(rng.randint(0, 3))],
            "meta": {"ok": rng.random() < 0.5, "note": None},
        }
    if k % 5 == 0:
        f["bbox"] = [round(rng.uniform(-180, 0), 6), -10.5, round(rng.uniform(0, 180), 6), 10.5]
    if k % 7 == 0:
        f["custom"] = {"rank": k % 13, "flags": [True, False]}  # feature foreign member
    return f


def write_geojson_corpus(out_dir: str, seed: int, n_features: int, n_files: int) -> int:
    """FeatureCollection files holding ``n_features`` features in all; returns
    the corpus size in bytes. Geometry kinds rotate through all seven, with
    holes, bbox, foreign members at every level and null properties."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    per_file = -(-n_features // n_files)
    total = 0
    for fi in range(n_files):
        ks = range(fi * per_file, min(n_features, (fi + 1) * per_file))
        doc = {
            "type": "FeatureCollection",
            "name": f"corpus-{seed}-{fi}",  # collection foreign member
            "features": [_feature(rng, seed, k) for k in ks],
        }
        text = json.dumps(doc)
        with open(os.path.join(out_dir, f"corpus-{fi:03d}.geojson"), "w", encoding="utf-8") as fh:
            fh.write(text)
        total += len(text.encode("utf-8"))
    return total
