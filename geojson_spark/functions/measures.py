"""Planar geometry measures as pure Column expressions over the geometry
struct: shoelace area, perimeter, vertex centroid.

All three are single-row folds over the flat coords array
(``F.transform`` terms + ``F.aggregate`` left-to-right sum), so they run
inside whole-stage codegen with no UDF and — crucially for the DuckDB
oracle — a DETERMINISTIC float-addition order (per-row fold, never a
cross-row float aggregate). The reference crate carries no geometry
math; these serve the engine's tiling/join surface (e.g. area-weighted
tile stats) and give the oracle gate a geometry-measure query.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves pandas-UDF type hints
from pyspark.sql import Column
from pyspark.sql import functions as F


def _xy(coords: Column, i):
    """1-based position i → (x, y) for dim-2 coords."""
    return (
        F.element_at(coords, (i - 1) * 2 + 1),
        F.element_at(coords, (i - 1) * 2 + 2),
    )


def _fold_sum(terms: Column) -> Column:
    """Left-to-right float sum of a terms array — ((0+t1)+t2)+…, the same
    association a SQL list_reduce over a 0-prepended list produces."""
    return F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t)


def _first_ring_n(geometry: Column) -> Column:
    """Position count of the FIRST ring — ``ring_offsets[1]`` when the
    offsets are present (polygons with holes / multi-part geometries must
    not fold across ring boundaries), else the whole coords array."""
    ro = geometry["ring_offsets"]
    whole = (F.size(geometry["coords"]) / 2).cast("int")
    return F.when(F.size(ro) >= 2, F.element_at(ro, 2).cast("int")).otherwise(whole)


def _ring_seq(geometry: Column) -> Column:
    """Edge indices 1..n-1 of the first closed dim-2 ring (position n
    repeats position 1, so edges don't wrap).

    Degenerate geometries (Point: n = 1; empty LineString/ring: n ≤ 0)
    yield an EMPTY sequence — ``F.sequence(1, 0)`` steps DOWNWARD in
    Spark, and the resulting indices 0 and 2·n+… drove ``element_at``
    out of bounds, aborting the whole job on one degenerate feature.
    Measures over the empty sequence fold to 0.0 (area/perimeter) or
    NaN (centroid of nothing)."""
    n = _first_ring_n(geometry)
    return F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.expr("array()").cast("array<int>")
    )


def st_area(geometry: Column) -> Column:
    """Shoelace area of the first (closed) ring: |Σ xᵢ·yᵢ₊₁ − xᵢ₊₁·yᵢ|/2."""
    c = geometry["coords"]

    def term(i):
        x1, y1 = _xy(c, i)
        x2, y2 = _xy(c, i + 1)
        return x1 * y2 - x2 * y1

    return F.abs(_fold_sum(F.transform(_ring_seq(geometry), term))) / 2.0


def st_perimeter(geometry: Column) -> Column:
    """Perimeter of the first (closed) ring: Σ √(Δx² + Δy²) — sqrt is
    IEEE-correctly-rounded, so the value is engine-independent given the
    same fold order."""
    c = geometry["coords"]

    def term(i):
        x1, y1 = _xy(c, i)
        x2, y2 = _xy(c, i + 1)
        dx, dy = x2 - x1, y2 - y1
        return F.sqrt(dx * dx + dy * dy)

    return _fold_sum(F.transform(_ring_seq(geometry), term))


def st_centroid_xy(geometry: Column) -> tuple[Column, Column]:
    """Vertex-mean centroid of the first ring's distinct vertices (the
    closing duplicate excluded): (Σxᵢ/(n−1), Σyᵢ/(n−1)). Degenerate
    geometries (no edges) yield NULL — the divisor is nulled when the
    edge sequence is empty, since ANSI mode (Spark 4's default) turns a
    0.0 divisor into a job-aborting DIVIDE_BY_ZERO."""
    c = geometry["coords"]
    seq = _ring_seq(geometry)
    n1 = F.size(seq).cast("double")
    den = F.when(n1 > 0, n1)  # NULL divisor → NULL centroid, never an error
    cx = _fold_sum(F.transform(seq, lambda i: _xy(c, i)[0])) / den
    cy = _fold_sum(F.transform(seq, lambda i: _xy(c, i)[1])) / den
    return cx, cy


def st_simplify(geometry: Column, tolerance: float) -> Column:
    """Douglas–Peucker simplification of every ring of a (Multi)LineString
    / Polygon geometry struct — Arrow-batched pandas UDF over the flat
    coords encoding (offsets recomputed per ring; parts preserved).
    Closed rings keep their closing duplicate. Point/MultiPoint/GC pass
    through unchanged."""
    import numpy as np

    from geojson_spark.functions.geometry import simplify_ring
    from geojson_spark.schema import GEOMETRY_STRUCT

    names = [f.name for f in GEOMETRY_STRUCT.fields]

    @F.pandas_udf(GEOMETRY_STRUCT)
    def _simp(s: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for g in s.to_dict("records"):
            gt = g.get("geom_type")
            if gt not in ("LineString", "MultiLineString", "Polygon", "MultiPolygon"):
                rows.append({k: g.get(k) for k in names})
                continue
            dim = int(g["dim"]) if g.get("dim") is not None else 2
            coords = np.asarray(
                [] if g.get("coords") is None else g["coords"], dtype=np.float64
            )
            n_pos = len(coords) // dim
            ro_raw = g.get("ring_offsets")
            # missing/degenerate offsets ⇒ ONE ring spanning all coords
            # (the old [0] fallback iterated zero rings and silently
            # ERASED the geometry); offsets that stop short of the coords
            # array get a final ring appended so trailing positions are
            # simplified instead of dropped
            ro = (
                [0, n_pos]
                if ro_raw is None or len(ro_raw) < 2
                else [int(v) for v in ro_raw]
            )
            if ro[-1] < n_pos:
                ro.append(n_pos)
            new_coords: list[float] = []
            new_ro = [0]
            for r in range(len(ro) - 1):
                ring = coords[ro[r] * dim : ro[r + 1] * dim].reshape(-1, dim)
                mask = simplify_ring(ring[:, :2].copy(), tolerance)
                kept = ring[mask]
                # a closed ring must keep ≥ 4 positions (spec minimum for
                # a valid Polygon ring); when the tolerance would collapse
                # it below that, keep the original ring unsimplified
                closed = (
                    len(ring) >= 2
                    and ring[0, 0] == ring[-1, 0]
                    and ring[0, 1] == ring[-1, 1]
                )
                if closed and len(kept) < 4:
                    kept = ring
                new_coords.extend(kept.ravel().tolist())
                new_ro.append(new_ro[-1] + len(kept))
            out = dict(g)
            out["coords"] = new_coords
            out["ring_offsets"] = new_ro
            rows.append({k: out.get(k) for k in names})
        return pd.DataFrame(rows, columns=names)

    return _simp(geometry)
