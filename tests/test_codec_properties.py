"""Property-based round-trip tests for the GeoJSON codec (hypothesis).

The reference pins fidelity with 16 canonical fixtures
(/root/reference/tests/roundtrip.rs:28-65); these properties generalize
that: for ANY spec-valid document, parse → serialize must be semantically
lossless (same normalization rules the reference applies: `properties`
always emitted, empty foreign-member maps dropped, `type` first) and the
serializer must be idempotent (serialize∘parse∘serialize == serialize).
"""

from __future__ import annotations

import json
import math

from hypothesis import given, settings
from hypothesis import strategies as st

from geojson_spark.functions.geojson_codec import parse_geojson, serialize_geojson

# finite floats that survive json round-trips exactly (shortest-repr)
coord = st.one_of(
    st.integers(min_value=-1000, max_value=1000).map(float),
    st.floats(
        min_value=-180.0, max_value=180.0, allow_nan=False, allow_infinity=False
    ),
)
position = st.lists(coord, min_size=2, max_size=3).map(list)


def _ring():
    # closed ring with >= 4 positions
    return st.lists(position, min_size=3, max_size=5).map(lambda ps: ps + [ps[0]])


point = st.fixed_dictionaries({"type": st.just("Point"), "coordinates": position})
multipoint = st.fixed_dictionaries(
    {"type": st.just("MultiPoint"), "coordinates": st.lists(position, max_size=4)}
)
linestring = st.fixed_dictionaries(
    {"type": st.just("LineString"), "coordinates": st.lists(position, min_size=2, max_size=5)}
)
multilinestring = st.fixed_dictionaries(
    {
        "type": st.just("MultiLineString"),
        "coordinates": st.lists(st.lists(position, min_size=2, max_size=4), max_size=3),
    }
)
polygon = st.fixed_dictionaries(
    {"type": st.just("Polygon"), "coordinates": st.lists(_ring(), max_size=3)}
)
multipolygon = st.fixed_dictionaries(
    {
        "type": st.just("MultiPolygon"),
        "coordinates": st.lists(st.lists(_ring(), min_size=1, max_size=2), max_size=2),
    }
)
simple_geometry = st.one_of(point, multipoint, linestring, multilinestring, polygon, multipolygon)
geometry = st.one_of(
    simple_geometry,
    st.fixed_dictionaries(
        {
            "type": st.just("GeometryCollection"),
            "geometries": st.lists(simple_geometry, max_size=3),
        }
    ),
)

json_scalar = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**31), max_value=2**31),
    st.text(max_size=12),
)
properties = st.one_of(
    st.none(),
    st.dictionaries(st.text(min_size=1, max_size=8), json_scalar, max_size=4),
)
feature_id = st.one_of(st.text(max_size=8), st.integers(min_value=-(2**31), max_value=2**31))

feature = st.builds(
    lambda geom, props, fid, with_id: {
        "type": "Feature",
        "geometry": geom,
        "properties": props,
        **({"id": fid} if with_id else {}),
    },
    st.one_of(st.none(), geometry),
    properties,
    feature_id,
    st.booleans(),
)
feature_collection = st.builds(
    lambda feats: {"type": "FeatureCollection", "features": feats},
    st.lists(feature, max_size=4),
)
document = st.one_of(geometry, feature, feature_collection)


def _normalize(o):
    """Expected output-side normalization (matches the reference: Feature
    always emits `properties`; numbers compare by value)."""
    if isinstance(o, dict):
        out = {k: _normalize(v) for k, v in o.items()}
        if o.get("type") == "Feature" and "properties" not in o:
            out["properties"] = None
        return out
    if isinstance(o, list):
        return [_normalize(v) for v in o]
    if isinstance(o, float) and o == int(o) and not math.isinf(o):
        return o  # json round-trips floats exactly; 1.0 stays 1.0 by value
    return o


@settings(max_examples=200, deadline=None)
@given(document)
def test_roundtrip_semantic_and_idempotent(doc):
    src = json.dumps(doc)
    kind, obj = parse_geojson(src)
    out1 = serialize_geojson(kind, obj)
    kind2, obj2 = parse_geojson(out1)
    out2 = serialize_geojson(kind2, obj2)
    assert out2 == out1, "serializer must be idempotent"
    assert json.loads(out1) == _normalize(doc), "round-trip must be semantically lossless"
    # spec shape: `type` is the first key of every serialized object
    assert out1.startswith('{"type":')


@settings(max_examples=100, deadline=None)
@given(feature, st.dictionaries(st.text(min_size=1, max_size=6), json_scalar, min_size=1, max_size=3))
def test_foreign_members_roundtrip(feat, extras):
    reserved = {"type", "geometry", "properties", "id", "bbox", "features", "coordinates", "geometries"}
    extras = {k: v for k, v in extras.items() if k not in reserved}
    doc = {**feat, **extras}
    kind, obj = parse_geojson(json.dumps(doc))
    back = json.loads(serialize_geojson(kind, obj))
    for k, v in extras.items():
        assert back[k] == v, f"foreign member {k!r} must survive"


def test_whitespace_class_consistent_across_engine_and_oracles():
    """Every tokenizing split in the engine and every DuckDB oracle must
    use the ONE canonical whitespace set (text.WS_CLASS) — Python \\s,
    Java \\s, and RE2 \\s disagree on \\x0B/NBSP, which silently breaks
    Spark↔DuckDB parity. The oracle strings may spell the class with
    backslash escapes or literal control characters; normalize both."""
    import re as _re

    import __spark_entry__ as E
    from geojson_spark.functions.text import WS_CLASS

    def charset(cls_text: str) -> frozenset:
        # interpret backslash escapes if present, then collect the chars
        body = cls_text[1:-1]
        body = body.encode().decode("unicode_escape")
        return frozenset(body)

    canon = charset(WS_CLASS)
    assert canon == frozenset(" \t\n\x0b\f\r")
    seen = 0
    for name, sql in E.oracle_sql().items():
        # the first argument may contain nested parens/commas/quotes
        # (e.g. coalesce(text, '')); match any split-class literal that
        # follows a string_split_regex call on the same statement
        for m in _re.finditer(
            r"string_split_regex\((?:[^,']|'[^']*'|\([^()]*\))+,\s*'(\[[^]]*\])\+'",
            sql,
        ):
            seen += 1
            assert charset(m.group(1)) == canon, (name, repr(m.group(1)))
    assert seen >= 8  # minhash, simhash, contamination, lang×2, corpus×2, jaccard…


# --- round-4 additions: fuzz the paths hardened this round ---------------

# floats whose repr uses exponent form (1e16 / 1e-07) — exercises _fmt_f's
# serde-exponent normalization on every serialization path
wild_coord = st.one_of(
    coord,
    st.floats(min_value=1e15, max_value=1e18, allow_nan=False, allow_infinity=False),
    st.floats(min_value=1e-9, max_value=1e-5, allow_nan=False, allow_infinity=False),
    st.floats(min_value=-1e18, max_value=-1e15, allow_nan=False, allow_infinity=False),
)
wild_position = st.lists(wild_coord, min_size=2, max_size=3).map(list)
# deliberately RAGGED: per-position dims drawn independently, so many
# samples mix 2-D and 3-D and take the raw-fallback path
ragged_multipoint = st.fixed_dictionaries(
    {"type": st.just("MultiPoint"),
     "coordinates": st.lists(wild_position, min_size=1, max_size=5)}
)
ragged_linestring = st.fixed_dictionaries(
    {"type": st.just("LineString"),
     "coordinates": st.lists(wild_position, min_size=2, max_size=5)}
)


@settings(max_examples=150, deadline=None)
@given(st.one_of(ragged_multipoint, ragged_linestring))
def test_ragged_and_exponent_geometries_roundtrip(doc):
    """Mixed-dim coordinates (raw-fallback path) and exponent-formatted
    floats must round-trip semantically, idempotently, and with serde's
    exponent spelling (never Python's e+NN / e-0N)."""
    src = json.dumps(doc)
    kind, obj = parse_geojson(src)
    out1 = serialize_geojson(kind, obj)
    kind2, obj2 = parse_geojson(out1)
    out2 = serialize_geojson(kind2, obj2)
    assert out2 == out1
    assert json.loads(out1) == _normalize(doc)
    assert "e+" not in out1
    # no zero-padded exponents anywhere (Python prints 1e-05, serde 1e-5)
    import re

    assert not re.search(r"e-0\d", out1)


@settings(max_examples=100, deadline=None)
@given(document)
def test_pretty_print_matches_compact_values(doc):
    """The token-level pretty printer must (a) reparse to exactly the
    compact form's value and (b) agree with json.dumps(indent=2) shape."""
    from geojson_spark.functions.geojson_codec import serialize_geojson_pretty

    kind, obj = parse_geojson(json.dumps(doc))
    compact = serialize_geojson(kind, obj)
    pretty = serialize_geojson_pretty(kind, obj)
    assert json.loads(pretty) == json.loads(compact)
    # shape check against the stdlib (valid when no exponent text differs)
    if "e" not in compact and "E" not in compact:
        assert pretty == json.dumps(
            json.loads(compact), indent=2, ensure_ascii=False
        )


@settings(max_examples=60, deadline=None)
@given(st.lists(feature, min_size=1, max_size=5), st.integers(min_value=3, max_value=64))
def test_streaming_scanner_equals_whole_doc_parse(feats, chunk):
    """iter_feature_strings over a BYTE stream in tiny chunks must yield
    exactly the features the whole-document parser sees — including
    multibyte text straddling chunk boundaries."""
    import io

    from geojson_spark.functions.geojson_codec import parse_feature_obj
    from geojson_spark.sources.geojson import iter_feature_strings

    # inject some non-ASCII property text to stress the chunk decoder
    for i, f in enumerate(feats):
        props = f.get("properties") or {}
        f["properties"] = {**props, "näme": f"züri-{i}"}
    doc = json.dumps({"type": "FeatureCollection", "features": feats},
                     ensure_ascii=False).encode("utf-8")
    scanned = [
        parse_feature_obj(json.loads(s))
        for s in iter_feature_strings(io.BytesIO(doc), chunk_size=chunk)
    ]
    kind, obj = parse_geojson(doc.decode("utf-8"))
    assert kind == "FeatureCollection"
    assert scanned == obj["features"]


@given(
    st.integers(min_value=1, max_value=200),  # number of tiles
    st.integers(min_value=4, max_value=40),  # h (sub-8: duplicate block bounds)
    st.integers(min_value=4, max_value=40),  # w
    st.integers(min_value=0, max_value=2**31 - 1),
    st.booleans(),  # gray = mean of 3 random channels (non-integer values)
)
@settings(max_examples=60, deadline=None)
def test_average_phash_batch_bit_identical_to_scalar(t, h, w, seed, rgb_mean):
    """The (T,h,w) batched phash must reproduce the scalar per-image hash
    bit-for-bit — rasterize's render path switched to the batch kernel and
    hamming-dedup compatibility depends on exact equality."""
    import numpy as np

    from geojson_spark.sources.images import average_phash, average_phash_batch

    rng = np.random.default_rng(seed)
    if rgb_mean:
        rgbs = rng.integers(0, 256, size=(t, h * w * 3), dtype=np.uint8)
        gray = rgbs.reshape(t, h, w, 3).astype(np.float64).mean(axis=3)
    else:
        gray = rng.integers(0, 256, size=(t, h, w), dtype=np.uint8)
        rgbs = np.repeat(gray.reshape(t, -1), 3, axis=1)
    got = average_phash_batch(gray)
    for i in range(t):
        assert int(got[i]) == average_phash(rgbs[i], w, h)


def test_average_phash_batch_block_mean_order():
    """Tile 53 of this stack has a block mean within one rounding step of
    the mean of block means: averaging the 64 block means in any order but
    the scalar path's contiguous one flips a bit."""
    import numpy as np

    from geojson_spark.sources.images import average_phash, average_phash_batch

    rng = np.random.default_rng(21)
    h, w = int(rng.integers(8, 33)), int(rng.integers(8, 33))
    gray = rng.integers(0, 256, (64, h, w), np.uint8)
    got = average_phash_batch(gray)
    want = [average_phash(np.repeat(g.reshape(-1), 3), w, h) for g in gray]
    assert (h, w) == (15, 27)
    assert [int(v) for v in got] == want
