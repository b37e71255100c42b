"""Synthetic image+caption table — the north-rule input, generated in Spark.

Schema per BASELINE.json ``input_hint``: (image_id string, bytes binary,
w int32, h int32, fmt string, caption string, phash int64) plus derived
lon/lat (FIXTURES.md §1). Deterministic in ``image_id`` (splitmix64 mixing),
generated distributed via mapInPandas over ``spark.range`` — no driver-side
materialization, so the same code generates 10^4 or 10^12 rows.

Codecs (all pure NumPy, no PIL/cv2 in this container — SURVEY.md §7.1):
  raw  — w·h·3 uint8 pixels, little-endian scanline order
  rle  — byte-pair run-length encoding (count uint8 ≤ 255, value uint8)
  q8   — lossy: step-5 mid-bin quantization (|error| ≤ 2 per pixel) →
         worst-case PSNR ≈ 42.1 dB ≥ the 40 dB invariant by construction
         for every image, not just in expectation.

phash — 64-bit average-hash: mean of each 8×8 block grid vs global mean.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from geojson_spark.schema import IMAGE_SCHEMA

# 3 "city" hotspot centers for the skew fixture (lon, lat)
HOTSPOTS = [(-74.006, 40.7128), (2.3522, 48.8566), (139.6917, 35.6895)]
HOTSPOT_FRACTION = 0.3
_WORDS = (
    "ochre delta crane lattice ember quartz salt fjord plume cedar "
    "onyx tundra marble comet wharf prism basalt sable umber reed"
).split()
_WORD_ARR = np.array(_WORDS, dtype=object)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Deterministic 64-bit mix (public splitmix64 constants) of a uint64
    array. One new array; every later step works in place, and ``x`` is
    left unmodified."""
    x = x + np.uint64(0x9E3779B97F4A7C15)
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x


def _ragged_pixels(ids: np.ndarray, n: np.ndarray) -> np.ndarray:
    """Concatenated deterministic pixel buffers: ``n[k]`` bytes for image
    ``ids[k]`` (uint64), counter-mode hash RNG over ``(id << 24) + offset``
    — one ragged arange and one splitmix64 for any number of images."""
    first = np.cumsum(n) - n
    base = (ids << np.uint64(24)) - first.astype(np.uint64)  # wraps mod 2**64
    idx = np.arange(int(n.sum()), dtype=np.uint64)
    idx += np.repeat(base, n)
    return _splitmix64(idx).astype(np.uint8)


def _pixels_for(i: int, w: int, h: int) -> np.ndarray:
    """Deterministic pixel buffer for image index i."""
    return _ragged_pixels(np.array([i], dtype=np.uint64), np.array([w * h * 3]))


def rle_encode(px: np.ndarray) -> bytes:
    """Byte-pair RLE: (count≤255, value) over the flat pixel stream."""
    if px.size == 0:
        return b""
    change = np.flatnonzero(np.diff(px)) + 1
    starts = np.concatenate(([0], change))
    ends = np.concatenate((change, [px.size]))
    counts = ends - starts
    values = px[starts]
    # split runs longer than 255
    reps = (counts + 254) // 255
    if (reps == 1).all():  # fast path: no long runs (typical for noise)
        out_vals = values
        out_counts = counts
    else:
        out_vals = np.repeat(values, reps)
        out_counts = np.empty(out_vals.size, dtype=np.int64)
        pos = 0
        for c, r in zip(counts, reps):
            if r == 1:
                out_counts[pos] = c
                pos += 1
            else:
                out_counts[pos : pos + r - 1] = 255
                out_counts[pos + r - 1] = c - 255 * (r - 1)
                pos += r
    pairs = np.empty(out_vals.size * 2, dtype=np.uint8)
    pairs[0::2] = out_counts.astype(np.uint8)
    pairs[1::2] = out_vals
    return pairs.tobytes()


def rle_decode(buf: bytes) -> np.ndarray:
    pairs = np.frombuffer(buf, dtype=np.uint8)
    counts = pairs[0::2].astype(np.int64)
    values = pairs[1::2]
    return np.repeat(values, counts)


def q8_quantize(px: np.ndarray) -> np.ndarray:
    """Step-5 mid-bin quantization: |error| ≤ 2 per pixel, so even the
    worst-case image has PSNR ≥ 20·log10(255) − 10·log10(4) ≈ 42.1 dB — a
    hard guarantee, not an expectation (step 8 averaged 40.7 dB but tiny
    8×8 images sampled below 40)."""
    v = (px.astype(np.int16) // 5) * 5 + 2  # wide dtype: 255 → 257 pre-clamp
    return np.minimum(v, 255).astype(np.uint8)


def encode_image(px: np.ndarray, fmt: str) -> bytes:
    if fmt == "raw":
        return px.tobytes()
    if fmt == "rle":
        return rle_encode(px)
    if fmt == "q8":
        return q8_quantize(px).tobytes()
    raise ValueError(f"unknown fmt {fmt!r}")


def encode_with_phash(px: np.ndarray, fmt: str, w: int, h: int) -> tuple[bytes, int]:
    """Encode pixels AND hash what the stored bytes will decode to — for
    lossy codecs (q8) the phash must describe the post-quantization
    pixels a decoder sees, or recompute-from-bytes checks and hamming
    dedup silently disagree. One definition so every image producer
    (resize, tiling, rasterize) keeps the invariant in lockstep; a new
    lossy codec added to ``encode_image`` must be mirrored HERE only."""
    hp = q8_quantize(px) if fmt == "q8" else px
    return encode_image(px, fmt), average_phash(hp, w, h)


def decode_image(buf: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    """bytes → flat uint8 pixel array of length w·h·3."""
    if fmt == "raw" or fmt == "q8":
        px = np.frombuffer(buf, dtype=np.uint8)
    elif fmt == "rle":
        px = rle_decode(buf)
    else:
        raise ValueError(f"unknown fmt {fmt!r}")
    if px.size != w * h * 3:
        raise ValueError(f"decoded {px.size} bytes, expected {w * h * 3}")
    return px


def psnr_db(orig: np.ndarray, decoded: np.ndarray) -> float:
    """Peak signal-to-noise ratio; inf for exact match."""
    diff = orig.astype(np.float64) - decoded.astype(np.float64)
    mse = float((diff * diff).mean()) if diff.size else 0.0
    if mse == 0.0:
        return float("inf")
    return 20.0 * np.log10(255.0) - 10.0 * np.log10(mse)


def average_phash(px: np.ndarray, w: int, h: int) -> int:
    """64-bit average hash: 8×8 grid of block mean luminance, each bit =
    block mean > the MEAN OF BLOCK MEANS (not the global pixel mean —
    they differ when w or h is not a multiple of 8, because blocks carry
    unequal pixel counts but equal weight). Vectorized via an integral
    image: no per-block Python loop (this runs once per row on the
    generate AND verify paths, so it dominated CPU before)."""
    img = px.reshape(h, w, 3).astype(np.float64).mean(axis=2)
    ys = (np.arange(9) * h) // 8
    xs = (np.arange(9) * w) // 8
    # w,h ≥ 8 for all engine-generated images → boundaries strictly increase
    S = np.zeros((h + 1, w + 1), dtype=np.float64)
    S[1:, 1:] = img.cumsum(axis=0).cumsum(axis=1)
    y0, y1 = ys[:-1], np.maximum(ys[:-1] + 1, ys[1:])
    x0, x1 = xs[:-1], np.maximum(xs[:-1] + 1, xs[1:])
    sums = (
        S[np.ix_(y1, x1)] - S[np.ix_(y0, x1)] - S[np.ix_(y1, x0)] + S[np.ix_(y0, x0)]
    )
    counts = (y1 - y0)[:, None] * (x1 - x0)[None, :]
    blocks = sums / counts
    bits = (blocks > blocks.mean()).ravel()
    val = int.from_bytes(np.packbits(bits).tobytes(), "big")
    return val - (1 << 64) if val >= (1 << 63) else val


def average_phash_batch(gray: np.ndarray) -> np.ndarray:
    """Vectorized :func:`average_phash` over a (T, h, w) GRAYSCALE stack —
    bit-identical to ``average_phash(repeat(gray[t], 3), w, h)`` for every
    t (the per-image path means the 3 identical channels, which is the
    gray value). One cumsum over the stack instead of T integral images;
    rasterize's render loop was spending ~0.1 ms/tile here."""
    T, h, w = gray.shape
    return _phash_stack(
        gray.astype(np.float64), np.full(T, h, dtype=np.int64), np.full(T, w, dtype=np.int64)
    )


def _phash_stack(img: np.ndarray, h: np.ndarray, w: np.ndarray) -> np.ndarray:
    """:func:`average_phash` of every ``img[t, :h[t], :w[t]]`` in a
    zero-padded (T, H, W) float64 gray stack, as int64. Bit-identical to
    the scalar path: the integral-image entries image t reads lie in rows
    ≤ h[t] and columns ≤ w[t], whose sequential cumsums never reach the
    padding; and the 64 block means are averaged as one contiguous row,
    the scalar ``blocks.mean()`` summation order (a strided mean over
    axes (1, 2) adds them in another order and flips ~1 bit in 10^4)."""
    T, H, W = img.shape
    S = np.zeros((T, H + 1, W + 1), dtype=np.float64)
    S[:, 1:, 1:] = img.cumsum(axis=1).cumsum(axis=2)
    k = np.arange(9)
    ys = (k * h[:, None]) // 8
    xs = (k * w[:, None]) // 8
    y0, y1 = ys[:, :-1], np.maximum(ys[:, :-1] + 1, ys[:, 1:])
    x0, x1 = xs[:, :-1], np.maximum(xs[:, :-1] + 1, xs[:, 1:])
    t = np.arange(T)[:, None, None]
    yi0, yi1 = y0[:, :, None], y1[:, :, None]
    xi0, xi1 = x0[:, None, :], x1[:, None, :]
    sums = S[t, yi1, xi1] - S[t, yi0, xi1] - S[t, yi1, xi0] + S[t, yi0, xi0]
    counts = (y1 - y0)[:, :, None] * (x1 - x0)[:, None, :]
    blocks = np.ascontiguousarray(sums / counts).reshape(T, 64)
    bits = blocks > blocks.mean(axis=1, keepdims=True)
    # big-endian bytes read as signed == the scalar path's `val - 2**64`
    return np.packbits(bits, axis=1).view(">i8").ravel().astype(np.int64)


def _captions(num: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    """Captions of images whose decimal ids are ``num`` (an object array
    of str) and whose id hashes are ``hashes``: four words, one per low
    nibble of the hash."""
    caps = "caption " + num
    for k in range(4):
        word = (hashes >> np.uint64(4 * k)) % np.uint64(len(_WORDS))
        caps = caps + " " + _WORD_ARR[word.astype(np.intp)]
    return caps


def _regen_dims(hashes: np.ndarray):
    """(w, h) of the images whose id hashes are ``hashes``: 8..32 each."""
    w = (8 + hashes % np.uint64(25)).astype(np.int64)
    h = (8 + (hashes >> np.uint64(8)) % np.uint64(25)).astype(np.int64)
    return w, h


def lonlat_for(hashes: np.ndarray, skew: bool):
    """Derived lon/lat per FIXTURES.md §1; skew puts 30% in 3 hotspots."""
    lon = (hashes % np.uint64(360000)).astype(np.float64) / 1000.0 - 180.0
    h2 = _splitmix64(hashes)
    lat = (h2 % np.uint64(170000)).astype(np.float64) / 1000.0 - 85.0
    if skew:
        h3 = _splitmix64(h2)
        in_hot = (h3 % np.uint64(1000)).astype(np.float64) < HOTSPOT_FRACTION * 1000
        which = (_splitmix64(h3) % np.uint64(3)).astype(np.int64)
        jitter_lon = ((h3 >> np.uint64(10)) % np.uint64(2000)).astype(np.float64) / 100000.0 - 0.01
        jitter_lat = ((h3 >> np.uint64(24)) % np.uint64(2000)).astype(np.float64) / 100000.0 - 0.01
        hot_lon = np.choose(which, [c[0] for c in HOTSPOTS]) + jitter_lon
        hot_lat = np.choose(which, [c[1] for c in HOTSPOTS]) + jitter_lat
        lon = np.where(in_hot, hot_lon, lon)
        lat = np.where(in_hot, hot_lat, lat)
    return lon, lat


def _gen_batch(ids: np.ndarray, skew: bool) -> pd.DataFrame:
    hashes = _splitmix64(ids.astype(np.uint64))
    ws, hs = _regen_dims(hashes)
    captions = _captions(ids.astype(str).astype(object), hashes)
    fmts = np.array(["raw", "rle", "q8"])[ids % 3]
    lon, lat = lonlat_for(hashes, skew)
    rows = []
    for k in range(ids.size):
        i = int(ids[k])
        w, h = int(ws[k]), int(hs[k])
        px = _pixels_for(i, w, h)
        fmt = str(fmts[k])
        buf = encode_image(px, fmt)
        decoded = decode_image(buf, fmt, w, h)
        rows.append(
            {
                "image_id": f"img{i:012d}",
                "bytes": buf,
                "w": w,
                "h": h,
                "fmt": fmt,
                "caption": captions[k],
                "phash": average_phash(decoded, w, h),
                "lon": float(lon[k]),
                "lat": float(lat[k]),
            }
        )
    return pd.DataFrame(rows, columns=IMAGE_SCHEMA.names)


def generate_images(
    spark: SparkSession, n: int, skew: bool = True, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic image table: same rows at any parallelism."""
    rng_df = spark.range(0, n, numPartitions=partitions or spark.sparkContext.defaultParallelism)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf["id"].to_numpy(np.int64)
            for lo in range(0, ids.size, 4096):
                yield _gen_batch(ids[lo : lo + 4096], skew)

    return rng_df.mapInPandas(gen, schema=IMAGE_SCHEMA)


# Padded gray pixels in one verify chunk. Every per-chunk array (the
# regenerated pixels, the decoded bytes, the float64 integral image)
# scales with it, so it bounds a Python worker's memory whatever the Arrow
# batch size: a few MB, cache-sized, for ~50 images per NumPy pass. Larger
# chunks measured slower, not faster.
VERIFY_CHUNK_PX = 1 << 15


def _ids_and_captions(image_ids: pd.Series):
    """Parse image ids → (ok, ids uint64, hashes, captions object array;
    None where the id cannot be regenerated). ``img`` + 1-19 ASCII digits
    parse in one pass; any other id goes through the per-row
    ``int(s[3:])`` rule (which also accepts ``img+12``, ``img 12``,
    ``img-5``, …) so the set of accepted ids is unchanged."""
    n = len(image_ids)
    canon = image_ids.str.fullmatch(r"img[0-9]{1,19}", na=False).to_numpy(bool)
    ids = np.zeros(n, dtype=np.uint64)
    ids[canon] = image_ids[canon].str.slice(3).to_numpy(str).astype(np.uint64)
    num = ids.astype(str).astype(object)
    ok = canon.copy()
    for k in np.flatnonzero(~canon):
        try:
            i = int(image_ids.iat[k][3:])
        except (TypeError, ValueError):  # null id, no digits
            continue
        # the range np.array([i], dtype=np.uint64) accepts: negatives wrap
        if -(1 << 63) <= i < (1 << 64):
            ids[k], num[k], ok[k] = i % (1 << 64), str(i), True
    hashes = _splitmix64(ids)
    caps = _captions(num, hashes)
    caps[~ok] = None
    return ok, ids, hashes, caps


def _int_column(col: pd.Series):
    """(valid, int64 values) of an integer column; Arrow hands a column
    with nulls over as float64, where the per-row path's ``int(x)`` raised
    on NaN and was exact otherwise."""
    v = col.to_numpy()
    if v.dtype.kind in "iu":
        return np.ones(v.size, dtype=bool), v.astype(np.int64)
    valid = ~np.isnan(v) & (v < 2.0**63)
    return valid, np.where(valid, v, 0).astype(np.int64)


def _verify_chunk(bufs, rle, ids, n, fmt_q8, h, w, stored):
    """(psnr ok, phash ok) of one chunk of rows sorted by stored (h, w); a
    row whose bytes do not decode to exactly its ``n`` regenerated bytes
    fails both."""
    # decode from one buffer: each raw/q8 byte is one pixel byte, each rle
    # (count, value) pair repeats its value byte — one np.repeat in all
    blen = np.fromiter(map(len, bufs), dtype=np.int64, count=len(bufs))
    data = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    reps = np.ones(data.size, dtype=np.uint8)
    pairs = blen[rle] // 2
    pair_end = np.cumsum(pairs)
    at = (np.cumsum(blen) - blen)[rle] - 2 * (pair_end - pairs)
    cpos = np.repeat(at, pairs) + 2 * np.arange(pairs.sum())
    cnt = data[cpos]
    reps[cpos] = 0
    reps[cpos + 1] = cnt
    cs = np.concatenate(([0], np.cumsum(cnt, dtype=np.int64)))
    dlen = blen.copy()
    dlen[rle] = cs[pair_end] - cs[pair_end - pairs]
    dec = np.repeat(data, reps)
    good = dlen == n  # decoded length per row, never per group
    psnr_ok = np.zeros(good.size, dtype=bool)
    phash_ok = np.zeros(good.size, dtype=bool)
    if not good.any():
        return psnr_ok, phash_ok
    if not good.all():
        dec = dec[np.repeat(good, dlen)]
        ids, n, fmt_q8 = ids[good], n[good], fmt_q8[good]
        h, w, stored = h[good], w[good], stored[good]
    # PSNR: exact int32 SSE per row → the per-row path's mse and dB test
    d = dec.astype(np.int32) - _ragged_pixels(ids, n)
    sse = np.add.reduceat(d * d, np.cumsum(n) - n)
    with np.errstate(divide="ignore"):
        p = 20.0 * np.log10(255.0) - 10.0 * np.log10(sse / n)
    psnr_ok[good] = (sse == 0) | (fmt_q8 & (p >= 40.0))
    # phash on the stored shape: the rows' scanlines fill a zero-padded
    # (T, H, W) stack through a mask of each image's corner, in C order
    gray = dec[0::3].astype(np.uint16)
    gray += dec[1::3]
    gray += dec[2::3]
    H, W = int(h.max()), int(w.max())
    img = np.zeros((ids.size, H, W), dtype=np.float64)
    corner = (np.arange(H) < h[:, None])[:, :, None] & (np.arange(W) < w[:, None])[:, None, :]
    img[corner] = gray / 3.0
    phash_ok[good] = _phash_stack(img, h, w) == stored
    return psnr_ok, phash_ok


def _verify_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Invariant flags of one Arrow batch, row for row what decoding,
    PSNR-checking and phashing each row on its own gives — damaged rows
    included. Rows that can decode to their regenerated size are sorted
    by stored (h, w) and cut into chunks of ≤ VERIFY_CHUNK_PX padded gray
    pixels; each chunk is one NumPy pass (:func:`_verify_chunk`)."""
    nrow = len(pdf)
    ok, ids, hashes, caps = _ids_and_captions(pdf["image_id"])
    wr, hr = _regen_dims(hashes)
    fmt = pdf["fmt"].to_numpy(object)
    bufs = pdf["bytes"].to_numpy(object)
    null = pd.isna(bufs)
    if null.any():
        bufs = np.where(null, b"", bufs)
    blen = np.fromiter(map(len, bufs), dtype=np.int64, count=nrow)
    n = wr * hr * 3
    rle = fmt == "rle"
    fmt_q8 = fmt == "q8"
    cand = ok & ~null & (((fmt == "raw") | fmt_q8) & (blen == n) | rle & (blen % 2 == 0))
    ph_valid, stored = _int_column(pdf["phash"])
    cand &= ph_valid
    w, h = pdf["w"].to_numpy(), pdf["h"].to_numpy()
    # the stored shape must describe the decoded bytes (w·h·3) and so
    # equal the regenerated size; a float (null-bearing) w or h made the
    # per-row phash's reshape raise on every row of the batch
    if w.dtype.kind in "iu" and h.dtype.kind in "iu":
        w, h = w.astype(np.int64), h.astype(np.int64)
        cand &= (w > 0) & (h > 0) & (w * h == wr * hr)
    else:
        cand[:] = False
    psnr_ok = np.zeros(nrow, dtype=bool)
    phash_ok = np.zeros(nrow, dtype=bool)
    rows = np.flatnonzero(cand)
    rows = rows[np.lexsort((w[rows], h[rows]))] if rows.size else rows
    a = 0
    while a < rows.size:
        # rows past a are at least h[a]·w[a] padded pixels each
        r = rows[a : a + 1 + VERIFY_CHUNK_PX // int(h[rows[a]] * w[rows[a]])]
        padded = np.arange(1, r.size + 1) * h[r] * np.maximum.accumulate(w[r])
        r = r[: max(1, int(np.searchsorted(padded, VERIFY_CHUNK_PX, side="right")))]
        a += r.size
        psnr_ok[r], phash_ok[r] = _verify_chunk(
            bufs[r], rle[r], ids[r], n[r], fmt_q8[r], h[r], w[r], stored[r]
        )
    return pd.DataFrame(
        {
            "image_id": pdf["image_id"].to_numpy(object),
            "psnr_ok": psnr_ok,
            "caption_ok": pdf["caption"].to_numpy(object) == caps,
            "phash_ok": phash_ok,
        }
    )


def verify_invariants(images_df):
    """Per-row invariant check (north rule): decode bytes → PSNR vs
    regenerated pixels (exact for raw/rle, ≥40 dB for q8), caption
    byte-equality, phash recompute. Returns DataFrame(image_id, psnr_ok,
    caption_ok, phash_ok) via mapInPandas — run it after any shuffle and
    assert zero failures. Size-corrupting damage (truncated bytes, wrong
    w/h) and unregenerable image ids are COUNTED as failed rows, not
    raised — an invariant checker that crashes on the damage it exists to
    detect reports nothing. Each Arrow batch is checked by the batched
    kernel :func:`_verify_batch`, no per-row Python."""

    def check(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _verify_batch(pdf)

    # pandas-UDF stages run one task per input partition; a small parquet
    # arrives as 1 partition and would serialize the (expensive) decode
    # loop on one core (CLAUDE.md small-parquet rule). Plan-aware so an
    # expensive upstream pipeline is never executed twice just to count
    # partitions under AQE.
    from geojson_spark.functions.spark_funcs import ensure_min_partitions

    images_df = ensure_min_partitions(images_df)
    return images_df.mapInPandas(
        check, schema="image_id string, psnr_ok boolean, caption_ok boolean, phash_ok boolean"
    )


def regen_caption_and_pixels(image_ids: pd.Series):
    """Recompute (caption, pixels) from image_id — the invariant oracle
    (caption byte-equality + PSNR after every shuffle, BASELINE.json).
    Raises ValueError on an id that cannot be regenerated."""
    ok, ids, hashes, caps = _ids_and_captions(pd.Series(image_ids, dtype=object))
    if not ok.all():
        raise ValueError(f"unregenerable image_id {image_ids.iloc[int(np.argmin(ok))]!r}")
    w, h = _regen_dims(hashes)
    n = w * h * 3
    return list(caps), np.split(_ragged_pixels(ids, n), np.cumsum(n)[:-1])
