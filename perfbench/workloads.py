"""The benchmark's workloads. Each is a closed loop with one client: an
operation starts when the previous one has finished.

A workload stages its inputs (``stage``), computes the expected results in
a process of their own (``expect``, not part of set-up time), runs one
untimed warm pass (``warm``), then timed passes (``timed_pass``), and
afterwards verifies every output it produced (``check``). ``traced_pass``
forces each layer's output in turn, with that layer's input cached, and
returns per-layer metrics.
"""

from __future__ import annotations

import math
import os
import pickle
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

import numpy as np

from datagen import image_frame, star_schema_rows, write_geojson_corpus, write_star_schema
from host import nproc

# An operation slower than this counts as failed (a timeout).
OP_TIMEOUT_S = 120.0


class Ledger:
    """Every operation attempted: its wall time and whether it failed.

    A failure is an exception, a timeout or a wrong output."""

    def __init__(self):
        self.ops: list[dict] = []

    @contextmanager
    def op(self, name: str, *, timed: bool = False):
        rec = {"name": name, "timed": timed, "ok": True, "error": None, "s": None}
        self.ops.append(rec)
        t0 = time.perf_counter()
        try:
            yield rec
        except Exception as exc:  # a failed operation is counted; the run goes on
            self.fail(rec, "".join(traceback.format_exception_only(exc)).strip()[-2000:])
        rec["s"] = time.perf_counter() - t0
        if rec["s"] > OP_TIMEOUT_S:
            self.fail(rec, f"timeout: {rec['s']:.1f}s > {OP_TIMEOUT_S}s")

    @staticmethod
    def fail(rec: dict, reason: str) -> None:
        rec["ok"] = False
        rec["error"] = rec["error"] or reason

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(not r["ok"] for r in self.ops)


@contextmanager
def layer(tracer, store, name: str, *, task_skew: bool = False):
    """A span around one call into a layer, with the Spark work it ran.

    The status store is read after the span closes, in a span of its own,
    so that reading is not charged to the layer."""
    w = store.begin(name, task_skew=task_skew)
    rec = {}
    try:
        with tracer.span(name) as rec:
            yield w
    finally:
        with tracer.span("trace.status_store"):
            store.end(w)
        w.seconds = rec["end"] - rec["start"]
        rec["spark"] = w.summary()


def isolated(fn, *args):
    """``fn(*args)`` in a fresh Python process, so the memory and CPU of the
    benchmark's own reference computations stay out of the measured tree.
    ``fn`` must be a module-level function of this directory; the process
    has ended when this returns."""
    child = (
        "import pickle, sys\n"
        "sys.path[:0] = sys.argv[1:]\n"
        "out, sys.stdout = sys.stdout.buffer, sys.stderr\n"
        "fn, args = pickle.load(sys.stdin.buffer)\n"
        "pickle.dump(fn(*args), out)\n"
    )
    here = os.path.dirname(os.path.abspath(__file__))
    done = subprocess.run(
        [sys.executable, "-c", child, here, os.path.dirname(here)],
        input=pickle.dumps((fn, args)), stdout=subprocess.PIPE, check=True,
    )
    return pickle.loads(done.stdout)


def _noop(df) -> None:
    """Force every column of ``df`` (``count()`` would prune UDF columns)."""
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    unit = ""  # what one pass's items are

    def __init__(self, spark, work: str, seed: int, ledger: Ledger):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.ledger = ledger
        self.items = 0

    def stage(self) -> None:
        raise NotImplementedError

    def expect(self) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        raise NotImplementedError

    def timed_pass(self) -> None:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def traced_pass(self, tracer, store) -> dict:
        raise NotImplementedError

    def e2e_extra(self, pass_s: list[float]) -> dict:
        """Workload-specific end-to-end figures for the record file."""
        return {}


# ---------------------------------------------------------------------------
# tiling: the north-star pipeline over a skewed image table
# ---------------------------------------------------------------------------

# the tiling pipeline joins to squares of this half-width around each hotspot
HOTSPOT_HALF_DEG = 0.25
TILE_LEVEL = 7
_EDGE_EPS = 1e-9


def _s2_face_ij(lon: np.ndarray, lat: np.ndarray, level: int):
    """(face, i, j) of the level-``level`` S2 cell holding each point.

    Written here from the S2 definition (cube face, quadratic projection),
    not taken from the program, so the tile count is an independent check.
    Distinct (face, i, j) triples are distinct cells whatever curve orders
    them."""
    la, lo = np.radians(lat), np.radians(lon)
    xyz = np.stack([np.cos(la) * np.cos(lo), np.cos(la) * np.sin(lo), np.sin(la)])
    axis = np.argmax(np.abs(xyz), axis=0)
    major = xyz[axis, np.arange(lon.size)]
    face = np.where(major < 0, axis + 3, axis)
    x, y, z = xyz
    u = np.choose(face, [y, -x, -x, z, z, -y]) / major
    v = np.choose(face, [z, z, -y, y, -x, -x]) / major

    def st(w):
        return np.where(w >= 0, 0.5 * np.sqrt(np.abs(1 + 3 * w)), 1 - 0.5 * np.sqrt(np.abs(1 - 3 * w)))

    n = 1 << level
    i = np.clip(np.floor(st(u) * n), 0, n - 1).astype(np.int64)
    j = np.clip(np.floor(st(v) * n), 0, n - 1).astype(np.int64)
    return face, i, j


def expected_tiling(lon: np.ndarray, lat: np.ndarray, hotspots) -> dict:
    """Hotspot matches and level-7 tiles, recomputed from the input rows.

    A point within ``_EDGE_EPS`` of a square's edge may fall either way in
    the engine's ray cast; those are counted as ``ambiguous``."""
    hot = amb = 0
    for cx, cy in hotspots:
        x0, x1 = cx - HOTSPOT_HALF_DEG, cx + HOTSPOT_HALF_DEG
        y0, y1 = cy - HOTSPOT_HALF_DEG, cy + HOTSPOT_HALF_DEG
        inner = (lon > x0 + _EDGE_EPS) & (lon < x1 - _EDGE_EPS) & (lat > y0 + _EDGE_EPS) & (lat < y1 - _EDGE_EPS)
        outer = (lon >= x0 - _EDGE_EPS) & (lon <= x1 + _EDGE_EPS) & (lat >= y0 - _EDGE_EPS) & (lat <= y1 + _EDGE_EPS)
        hot += int(inner.sum())
        amb += int((outer & ~inner).sum())
    face, i, j = _s2_face_ij(lon, lat, TILE_LEVEL)
    tiles = np.unique((face << 2 * TILE_LEVEL) | (i << TILE_LEVEL) | j).size
    return {"hotspot_rows": hot, "ambiguous_rows": amb, "tiles": int(tiles)}


def expected_tiling_at(path: str, hotspots) -> dict:
    """``expected_tiling`` over the staged table at ``path``."""
    return expected_tiling(_parquet_rows(path, "lon"), _parquet_rows(path, "lat"), hotspots)


def _hotspot_polygons(spark):
    """The polygon side of the tiling pipeline: one square per hotspot."""
    import pandas as pd

    from geojson_spark.sources.images import HOTSPOTS

    rows = []
    for k, (cx, cy) in enumerate(HOTSPOTS):
        x0, y0 = cx - HOTSPOT_HALF_DEG, cy - HOTSPOT_HALF_DEG
        x1, y1 = cx + HOTSPOT_HALF_DEG, cy + HOTSPOT_HALF_DEG
        rows.append({"poly_id": f"hotspot{k}", "coords": [x0, y0, x1, y0, x1, y1, x0, y1, x0, y0],
                     "ring_offsets": [0, 5], "part_offsets": [0, 1], "dim": 2,
                     "bbox": [x0, y0, x1, y1]})
    return spark.createDataFrame(pd.DataFrame(rows))


def _parquet_rows(path: str, column: str) -> np.ndarray:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=[column]).column(column).to_numpy()


def tiling_pipeline(spark, images_path: str, lineage_dir: str) -> dict:
    """The north-star pipeline in one action: per-row invariants (decode,
    PSNR, caption, phash), S2 level-13 assignment, PIP join to the hotspot
    squares, salted per-square aggregation and the level-7 tile rollup; then
    the per-partition lineage of the assignment stage. Returns the rows
    that violated an invariant, the hotspot matches and the level-7 tiles."""
    from pyspark.sql import functions as F

    from geojson_spark.functions.spark_funcs import s2_cell_udf, s2_parent_col
    from geojson_spark.operators.agg import salted_agg
    from geojson_spark.operators.joins import pip_join
    from geojson_spark.plans.checkpoint import partition_metrics
    from geojson_spark.sources.images import verify_invariants

    full = spark.read.parquet(images_path)
    # cached so the S2 UDF runs once for the join, the rollup and the lineage
    assigned = full.select("image_id", "lon", "lat").withColumn(
        "cell13", s2_cell_udf(13)(F.col("lon"), F.col("lat"))
    ).cache()
    joined = pip_join(assigned, _hotspot_polygons(spark), index="s2")
    hot = salted_agg(joined, "poly_id", {"n_images": ("count", "image_id")}).select(
        F.lit("hotspot_rows").alias("metric"), F.col("n_images").cast("bigint").alias("value")
    )
    tiles = (
        assigned.withColumn("tile7", s2_parent_col(F.col("cell13"), TILE_LEVEL))
        .groupBy("tile7").agg(F.count("*").alias("n"))
        .agg(F.count("*").alias("value"))
        .select(F.lit("tiles").alias("metric"), F.col("value").cast("bigint"))
    )
    bad = (
        verify_invariants(full)
        .where(~F.col("psnr_ok") | ~F.col("caption_ok") | ~F.col("phash_ok"))
        .agg(F.count("*").alias("value"))
        .select(F.lit("bad_rows").alias("metric"), F.col("value").cast("bigint"))
    )
    out = {"bad_rows": 0, "hotspot_rows": 0, "tiles": 0}
    for r in bad.unionByName(hot).unionByName(tiles).collect():
        out[r["metric"]] += r["value"]
    partition_metrics(assigned, "s2_assign").write.mode("append").parquet(
        os.path.join(lineage_dir, "lineage_s2_assign")
    )
    assigned.unpersist()
    return out


class Tiling(Workload):
    """``tiling_pipeline`` over a skewed image table (30% of rows in three
    hotspots)."""

    name = "tiling"
    unit = "images"
    N_BUCKETS = 8

    def __init__(self, spark, work, seed, ledger, n_images: int = 30000):
        super().__init__(spark, work, seed, ledger)
        self.items = n_images
        self.first_id = (seed % 1_000_000) * n_images
        self.path = os.path.join(work, "images")
        self.passes: list[tuple[dict, str]] = []

    def stage(self) -> None:
        frame = image_frame(self.spark, self.first_id, self.items, nproc())
        frame.write.mode("overwrite").parquet(self.path)

    def expect(self) -> None:
        from geojson_spark.sources.images import HOTSPOTS

        self.expected = isolated(expected_tiling_at, self.path, list(HOTSPOTS))

    def _pass(self, tag: str, timed: bool) -> None:
        lineage = os.path.join(self.work, f"lineage-{tag}")
        with self.ledger.op("tiling", timed=timed) as rec:
            rec["value"] = tiling_pipeline(self.spark, self.path, lineage)
        self.passes.append((rec, lineage))

    def warm(self) -> None:
        self._pass("warm", timed=False)

    def timed_pass(self) -> None:
        self._pass(str(len(self.passes)), timed=True)

    def check(self) -> None:
        e = self.expected
        for rec, lineage in self.passes:
            if not rec["ok"]:
                continue
            got = rec["value"]
            if got["bad_rows"]:
                self.ledger.fail(rec, f"{got['bad_rows']} rows violated image invariants")
            if not e["hotspot_rows"] <= got["hotspot_rows"] <= e["hotspot_rows"] + e["ambiguous_rows"]:
                self.ledger.fail(rec, f"{got['hotspot_rows']} hotspot matches, expected {e['hotspot_rows']}")
            if got["tiles"] != e["tiles"]:
                self.ledger.fail(rec, f"{got['tiles']} level-7 tiles, expected {e['tiles']}")
            rows = int(_parquet_rows(os.path.join(lineage, "lineage_s2_assign"), "rows").sum())
            if rows != self.items:
                self.ledger.fail(rec, f"lineage counts {rows} rows, input has {self.items}")

    def e2e_extra(self, pass_s):
        return {"images_per_s": {"value": self.items / statistics.median(pass_s), "unit": "images/s"}}

    def traced_pass(self, tracer, store) -> dict:
        from pyspark.sql import functions as F

        from geojson_spark.functions.spark_funcs import s2_cell_udf, s2_parent_col
        from geojson_spark.operators.agg import salted_agg
        from geojson_spark.operators.joins import pip_join
        from geojson_spark.plans.checkpoint import partition_metrics
        from geojson_spark.sources.images import verify_invariants

        m: dict = {}
        decisions: list[dict] = []
        task_skew: dict = {}
        polys = _hotspot_polygons(self.spark)
        with self.ledger.op("traced_tiling") as rec:
            with tracer.span("pass") as root:
                with layer(tracer, store, "input.cache"):
                    full = self.spark.read.parquet(self.path).cache()
                    full.count()
                with layer(tracer, store, "images.verify") as verify:
                    bad = (
                        verify_invariants(full)
                        .where(~F.col("psnr_ok") | ~F.col("caption_ok") | ~F.col("phash_ok"))
                        .agg(F.count("*").alias("n"))
                        .first()["n"]
                    )
                with layer(tracer, store, "cells.s2_assign") as assign:
                    assigned = (
                        full.select("image_id", "lon", "lat")
                        .withColumn("cell13", s2_cell_udf(13)(F.col("lon"), F.col("lat")))
                        .cache()
                    )
                    # an aggregate over the UDF output: count() alone would prune it
                    assigned.agg(F.max("cell13")).first()
                with layer(tracer, store, "joins.pip_plan") as probe:
                    joined = pip_join(assigned, polys, index="s2").cache()
                with layer(tracer, store, "joins.pip_exec") as pip:
                    matches = {r["poly_id"]: r["count"] for r in joined.groupBy("poly_id").count().collect()}
                with layer(tracer, store, "agg.salted", task_skew=True) as agg:
                    salted = salted_agg(joined, "poly_id", {"n_images": ("count", "image_id")}).collect()
                with layer(tracer, store, "cells.rollup7"):
                    tiles = (
                        assigned.withColumn("tile7", s2_parent_col(F.col("cell13"), TILE_LEVEL))
                        .select("tile7").distinct().count()
                    )
                with layer(tracer, store, "checkpoint.lineage_write") as lineage:
                    partition_metrics(assigned, "s2_assign").write.mode("overwrite").parquet(
                        os.path.join(self.work, "lineage-traced")
                    )
                for df in (joined, assigned, full):
                    df.unpersist()
            e = self.expected
            n_match = sum(matches.values())
            if bad:
                self.ledger.fail(rec, f"{bad} rows violated image invariants")
            if {r["poly_id"]: r["n_images"] for r in salted} != matches:
                self.ledger.fail(rec, "salted_agg counts differ from the joined rows")
            if not e["hotspot_rows"] <= n_match <= e["hotspot_rows"] + e["ambiguous_rows"]:
                self.ledger.fail(rec, f"{n_match} hotspot matches, expected {e['hotspot_rows']}")
            if tiles != e["tiles"]:
                self.ledger.fail(rec, f"{tiles} level-7 tiles, expected {e['tiles']}")
            skew = max(agg.stage_skew, key=lambda s: s["rows"], default={"max_over_median": 0.0})
            m.update({
                "images.verify_s": verify.seconds,
                "cells.s2_assign_s": assign.seconds,
                "joins.pip_s": probe.seconds + pip.seconds,
                "joins.pip_candidates": pip.join_rows,
                "joins.pip_matches": n_match,
                "joins.pip_yield": n_match / pip.join_rows if pip.join_rows else 0.0,
                "joins.pip_broadcast": int(pip.broadcast_join),
                "joins.probe_jobs": probe.jobs,
                "agg.salted_s": agg.seconds,
                "agg.task_rows_max_over_median": skew["max_over_median"],
                "checkpoint.lineage_write_s": lineage.seconds,
            })
            decisions.append({"call": "pip_join", "span": "joins.pip_exec",
                              "strategy": "broadcast" if pip.broadcast_join else "shuffle",
                              "aqe_skew_split": pip.skew_split, "probe_jobs": probe.jobs})
            task_skew["agg.salted"] = agg.stage_skew
        with tracer.span("resume") as resume_root:
            m.update(self._resume(tracer, store, polys))
        return {"root": root, "metrics": m, "decisions": decisions, "task_skew": task_skew,
                "extra_roots": [resume_root]}

    def _resume(self, tracer, store, polys) -> dict:
        """plans.checkpoint: resumable_apply stops after half its buckets and
        a second call with a fresh checkpoint handle resumes it."""
        from pyspark.sql import functions as F

        from geojson_spark.functions.spark_funcs import grid_cell, s2_cell_udf
        from geojson_spark.operators.joins import pip_join
        from geojson_spark.plans.checkpoint import CheckpointTable, resumable_apply

        root_dir = os.path.join(self.work, "resume-ckpt")
        shutil.rmtree(root_dir, ignore_errors=True)
        df = self.spark.read.parquet(self.path).select(
            "image_id", "lon", "lat", grid_cell(F.col("lon"), F.col("lat"), 1).alias("prefix")
        )

        def stage_fn(part):
            cells = part.withColumn("cell13", s2_cell_udf(13)(F.col("lon"), F.col("lat")))
            return pip_join(cells, polys, index="s2").select("image_id", "poly_id", "cell13")

        def apply(**kw):
            return resumable_apply(self.spark, df, stage_fn, CheckpointTable(root_dir), stage="s2_pip",
                                   bucket_col="prefix", n_buckets=self.N_BUCKETS, **kw)

        key = lambda rows: sorted((r["image_id"], r["poly_id"], r["cell13"]) for r in rows)  # noqa: E731
        with self.ledger.op("resume") as rec:
            with layer(tracer, store, "checkpoint.first_run"):
                try:
                    apply(fail_after=self.N_BUCKETS // 2)
                    raise AssertionError("fail_after did not stop the first run")
                except RuntimeError as exc:
                    if "simulated failure" not in str(exc):
                        raise
            before = {r["bucket"]: r for r in CheckpointTable(root_dir).lineage()}
            with layer(tracer, store, "checkpoint.resume") as resumed:
                got = key(apply().collect())
            ckpt = CheckpointTable(root_dir)
            after = {r["bucket"]: r for r in ckpt.lineage()}
            commits = len(ckpt.read_manifest()["buckets"])
            rework = sum(r["rows_in"] for b, r in before.items() if after.get(b) != r)
            if got != key(stage_fn(df).collect()):
                self.ledger.fail(rec, "resumed output differs from an uninterrupted run")
            if commits != self.N_BUCKETS:
                self.ledger.fail(rec, f"manifest holds {commits} commits, expected {self.N_BUCKETS}")
            return {
                "checkpoint.resume_s": resumed.seconds,
                "checkpoint.bucket_s": statistics.median(r["wall_ms"] for r in after.values()) / 1000,
                "checkpoint.commits": commits,
                "checkpoint.jobs": resumed.jobs,
                "checkpoint.rework_rows": rework,
            }
        return {}


# ---------------------------------------------------------------------------
# headline: __spark_entry__ queries and a GeoJSON round trip, as short actions
# ---------------------------------------------------------------------------

# A subset of the 40 headline queries small enough that a run's set-up, a
# warm pass and a timed pass fit the benchmark's time budget: the three
# joins on uniform points (pip_join, knn_join, distance_join), then one query
# each for rasterize, dedup and similarity. Name -> the module it mostly
# exercises.
HEADLINE_QUERIES = {
    "pip_holes": "joins",
    "knn": "joins",
    "distance_join": "joins",
    "density_tiles": "rasterize",
    "exact_dedup": "dedup",
    "embedding_near_dups": "similarity",
}
GEOJSON_OP = "geojson_roundtrip"

_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
           "events", "documents", "embeddings"]


def _normalize(rows: list[dict], cols: list[str]) -> list[tuple]:
    """Rows as sorted tuples of comparable values. A float compares by its
    exact repr (a 1-ulp drift is a mismatch) and a bool stays distinct from
    an int."""
    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else repr(v)
            elif isinstance(v, bool):
                v = repr(v)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return out


def oracle_frames(tables: str, sql: dict[str, str]) -> dict:
    """Each query's oracle result, run by DuckDB over the staged tables."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in _TABLES:
            path = os.path.join(tables, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {q: con.execute(text).fetchdf() for q, text in sql.items()}
    finally:
        con.close()


def oracle_mismatch(spdf, odf) -> str | None:
    """The oracle gate's rules: same columns, row count, dtype kind and
    exact value reprs, order-insensitive. None when they agree."""
    cols = sorted(spdf.columns)
    if cols != sorted(odf.columns):
        return f"columns {cols} vs {sorted(odf.columns)}"
    if len(spdf) != len(odf):
        return f"rows {len(spdf)} vs {len(odf)}"

    def kind(d):
        return "i" if d.kind in ("i", "u") else d.kind

    flips = [c for c in cols if kind(spdf[c].dtype) != kind(odf[c].dtype)]
    if flips:
        return f"dtype kind differs on {flips}"
    a = _normalize(spdf.to_dict("records"), cols)
    b = _normalize(odf.to_dict("records"), cols)
    if a != b:
        diff = next(k for k, (x, y) in enumerate(zip(a, b)) if x != y)
        return f"values differ at sorted row {diff}: {a[diff]} vs {b[diff]}"
    return None


def tail_stat(samples: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    n = len(samples)
    if n < 11:
        return {"value": max(samples), "percentile": 100.0, "samples": n}
    return {"value": sorted(samples)[n - 11], "percentile": 100.0 * (n - 10) / n, "samples": n}


# every FEATURE_SCHEMA field except those naming a row's file and position
_FEATURE_FIELDS = ["geometry", "bbox", "id_json", "properties", "foreign_members"]


class GeojsonRoundtrip:
    """A seeded FeatureCollection corpus through ``read_geojson`` ->
    ``write_geojson`` -> ``read_geojson``: the parse/serialize path that is
    the reference's whole surface. It writes as much as it reads."""

    def __init__(self, spark, work: str, seed: int, ledger: Ledger, n_features: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.ledger = ledger
        self.n_features = n_features
        self.corpus = os.path.join(work, "corpus")
        self.outputs: list[tuple[dict, str]] = []

    def stage(self) -> None:
        self.corpus_bytes = write_geojson_corpus(self.corpus, self.seed, self.n_features, 2 * nproc())

    def run(self, rec: dict) -> None:
        from geojson_spark.sources.geojson import read_geojson, write_geojson

        out = os.path.join(self.work, f"geojson-out-{len(self.outputs)}")
        self.outputs.append((rec, out))
        write_geojson(read_geojson(self.spark, self.corpus), out)
        _noop(read_geojson(self.spark, out))

    def verify(self, outputs: list[tuple[dict, str]], first=None) -> None:
        """Field-by-field equality of each reread with the first read (id
        union, foreign members, ring offsets, collection children), as
        multisets: one job compares the count and two independent hash sums
        over every field of every feature."""
        from pyspark.sql import functions as F

        from geojson_spark.sources.geojson import read_geojson

        def tagged(df, tag):
            return df.select(*_FEATURE_FIELDS).withColumn("_src", F.lit(tag))

        if first is None:
            first = read_geojson(self.spark, self.corpus)
        frames = [tagged(first, -1)] + [
            tagged(read_geojson(self.spark, out), k) for k, (_, out) in enumerate(outputs)
        ]
        union = frames[0]
        for f in frames[1:]:
            union = union.unionByName(f)
        prints = {
            r["_src"]: (r["n"], r["h1"], r["h2"])
            for r in union.groupBy("_src").agg(
                F.count("*").alias("n"),
                F.sum(F.xxhash64(*_FEATURE_FIELDS).cast("decimal(38,0)")).alias("h1"),
                F.sum(F.hash(*_FEATURE_FIELDS).cast("decimal(38,0)")).alias("h2"),
            ).collect()
        }
        ref = prints.get(-1, (0, None, None))
        for k, (rec, _) in enumerate(outputs):
            if ref[0] != self.n_features:
                self.ledger.fail(rec, f"read {ref[0]} features, corpus holds {self.n_features}")
            elif prints.get(k) != ref:
                want, got = frames[0].drop("_src"), frames[k + 1].drop("_src")
                lost, gained = want.exceptAll(got).count(), got.exceptAll(want).count()
                self.ledger.fail(rec, f"reread lost {lost} and gained {gained} features")

    def check(self) -> None:
        self.verify([(rec, out) for rec, out in self.outputs if rec["ok"]])

    def traced(self, tracer, store):
        """The round trip with each step forced on its own; returns the
        per-layer figures, the cached first read and the output path."""
        from geojson_spark.sources.geojson import read_geojson, write_geojson

        out = os.path.join(self.work, "geojson-out-traced")
        with layer(tracer, store, "geojson.read") as read:
            first = read_geojson(self.spark, self.corpus).cache()
            first.count()
        with layer(tracer, store, "geojson.write") as write:
            write_geojson(first, out)
        with layer(tracer, store, "geojson.reread") as reread:
            _noop(read_geojson(self.spark, out))
        out_bytes = sum(os.path.getsize(os.path.join(out, f)) for f in os.listdir(out)
                        if f.endswith(".geojson"))
        return {
            "geojson.read_s": read.seconds,
            "geojson.write_s": write.seconds,
            "geojson.reread_s": reread.seconds,
            "geojson.parse_mb_per_s": self.corpus_bytes / 1e6 / read.seconds,
            "geojson.serialize_mb_per_s": out_bytes / 1e6 / write.seconds,
        }, first, out


class Headline(Workload):
    """Headline queries from ``__spark_entry__.queries()``, each forced with
    a noop-sink write, plus one GeoJSON read -> write -> reread round trip,
    in a seeded order. Query outputs are checked once against
    ``oracle_sql()`` run by DuckDB on the same tables; every round trip's
    output is checked against the first read."""

    name = "headline"
    unit = "operations"

    def __init__(self, spark, work, seed, ledger, lineitem_rows: int = 6000, n_features: int = 3000):
        super().__init__(spark, work, seed, ledger)
        self.tables = os.path.join(work, "tables")
        self.rows = star_schema_rows(lineitem_rows)
        self.geo = GeojsonRoundtrip(spark, work, seed, ledger, n_features)
        self.order = random.Random(seed)
        self.items = len(HEADLINE_QUERIES) + 1
        self.latencies: list[float] = []

    def stage(self) -> None:
        write_star_schema(self.tables, self.seed, self.rows)
        self.geo.stage()

    def _order(self) -> list[str]:
        names = [*HEADLINE_QUERIES, GEOJSON_OP]
        self.order.shuffle(names)
        return names

    def expect(self) -> None:
        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        self.expected = isolated(oracle_frames, self.tables, {q: sql[q] for q in HEADLINE_QUERIES})

    def warm(self) -> None:
        """The warm pass fetches each query's output and compares it with the
        oracle after the operation's clock has stopped."""
        import __spark_entry__ as entry

        qs = entry.queries()
        for q in self._order():
            out = None
            with self.ledger.op(q) as rec:
                if q == GEOJSON_OP:
                    self.geo.run(rec)
                else:
                    out = qs[q](self.spark, self.tables).toPandas()
            if out is not None:
                why = oracle_mismatch(out, self.expected[q])
                if why:
                    self.ledger.fail(rec, f"{q}: {why}")

    def _pass(self, timed: bool) -> None:
        import __spark_entry__ as entry

        qs = entry.queries()
        for q in self._order():
            with self.ledger.op(q, timed=timed) as rec:
                if q == GEOJSON_OP:
                    self.geo.run(rec)
                else:
                    _noop(qs[q](self.spark, self.tables))
            if timed and rec["ok"]:
                self.latencies.append(rec["s"])

    def timed_pass(self) -> None:
        self._pass(timed=True)

    def check(self) -> None:
        """Query outputs were compared with the oracle in the warm pass; a
        noop sink keeps no output, so the timed passes' queries are checked
        for errors and timeouts only. Every round trip's output, timed or
        not, is compared here."""
        self.geo.check()

    def e2e_extra(self, pass_s):
        out = {}
        if self.latencies:
            out["query_s.p50"] = {"value": statistics.median(self.latencies), "unit": "s"}
            out["query_s.tail"] = {**tail_stat(self.latencies), "unit": "s"}
        geo_s = [r["s"] for r, _ in self.geo.outputs if r["timed"] and r["ok"]]
        if geo_s:
            out["features_per_s"] = {"value": self.geo.n_features / statistics.median(geo_s),
                                     "unit": "features/s"}
        return out

    def traced_pass(self, tracer, store) -> dict:
        import __spark_entry__ as entry

        qs = entry.queries()
        m: dict = {}
        decisions = []
        geo_check = None
        with tracer.span("pass") as root:
            for q in self._order():
                if q == GEOJSON_OP:
                    with self.ledger.op(q) as rec, tracer.span(f"query.{q}"):
                        geo, first, out = self.geo.traced(tracer, store)
                        m.update(geo)
                        m[f"query.{q}_s"] = geo["geojson.read_s"] + geo["geojson.write_s"] + geo["geojson.reread_s"]
                        geo_check = (rec, out, first)
                    continue
                with self.ledger.op(q) as rec, layer(tracer, store, f"query.{q}") as w:
                    _noop(qs[q](self.spark, self.tables))
                if not rec["ok"]:
                    continue
                m[f"query.{q}_s"] = w.seconds
                if q == "pip_holes":
                    m.update({"joins.pip_s": w.seconds, "joins.pip_candidates": w.join_rows,
                              "joins.pip_broadcast": int(w.broadcast_join)})
                    decisions.append({"call": "pip_join", "span": f"query.{q}",
                                      "strategy": "broadcast" if w.broadcast_join else "shuffle",
                                      "aqe_skew_split": w.skew_split})
        if geo_check:
            rec, out, first = geo_check
            self.geo.verify([(rec, out)], first)
            first.unpersist()
        return {"root": root, "metrics": m, "decisions": decisions,
                "modules": {**HEADLINE_QUERIES, GEOJSON_OP: "sources.geojson"}}


WORKLOADS = {w.name: w for w in (Tiling, Headline)}
