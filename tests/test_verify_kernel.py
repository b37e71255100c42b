"""Spark-free equivalence of the batched image-verify kernel
(``images._verify_batch``) with the per-row check it replaced.

The oracle below is a frozen copy of that per-row loop (and of the
per-row pixel and caption regeneration it called): every row — valid or damaged —
must get exactly the (psnr_ok, caption_ok, phash_ok) it gives.
"""

import numpy as np
import pandas as pd
import pytest

from geojson_spark.sources import images
from geojson_spark.sources.images import (
    _WORDS,
    _gen_batch,
    _verify_batch,
    average_phash,
    decode_image,
    psnr_db,
)

COLS = ["image_id", "psnr_ok", "caption_ok", "phash_ok"]
# the oracle keeps the old NumPy conversion of negative ids (img-5), which
# NumPy deprecates; the kernel reproduces its result without it
pytestmark = pytest.mark.filterwarnings(
    "ignore:NumPy will stop allowing conversion:DeprecationWarning"
)


# ---- frozen per-row oracle ------------------------------------------------


def _oracle_splitmix64(x):
    x = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    x ^= x >> np.uint64(30)
    x = (x * np.uint64(0xBF58476D1CE4E5B9)).astype(np.uint64)
    x ^= x >> np.uint64(27)
    x = (x * np.uint64(0x94D049BB133111EB)).astype(np.uint64)
    x ^= x >> np.uint64(31)
    return x


def _oracle_pixels_for(i, w, h):
    n = w * h * 3
    idx = np.arange(n, dtype=np.uint64) + (np.uint64(i) << np.uint64(24))
    return (_oracle_splitmix64(idx) & np.uint64(0xFF)).astype(np.uint8)


def _oracle_caption_for(i, h):
    words = [_WORDS[(h >> (4 * k)) % len(_WORDS)] for k in range(4)]
    return f"caption {i} " + " ".join(words)


def _oracle_regen(image_ids):
    out_cap, out_px = [], []
    for s in image_ids:
        i = int(s[3:])
        h = int(_oracle_splitmix64(np.array([i], dtype=np.uint64))[0])
        out_cap.append(_oracle_caption_for(i, h))
        out_px.append(_oracle_pixels_for(i, 8 + (h % 25), 8 + ((h >> 8) % 25)))
    return out_cap, out_px


def _oracle_check(pdf):
    try:
        caps, pixels = _oracle_regen(pdf["image_id"])
    except Exception:
        caps, pixels = [], []
        for s in pdf["image_id"]:
            try:
                c, px = _oracle_regen(pd.Series([s]))
                caps.append(c[0])
                pixels.append(px[0])
            except Exception:
                caps.append(None)
                pixels.append(None)
    out = {c: [] for c in COLS}
    for k in range(len(pdf)):
        row = pdf.iloc[k]
        orig = pixels[k]
        try:
            if orig is None:
                raise ValueError("unregenerable image_id")
            decoded = decode_image(row["bytes"], row["fmt"], row["w"], row["h"])
            p = psnr_db(orig, decoded)
            psnr_ok = (
                bool(p == float("inf")) if row["fmt"] in ("raw", "rle") else bool(p >= 40.0)
            )
            phash_ok = int(row["phash"]) == average_phash(decoded, row["w"], row["h"])
        except Exception:
            psnr_ok = False
            phash_ok = False
        out["image_id"].append(row["image_id"])
        out["psnr_ok"].append(psnr_ok)
        out["caption_ok"].append(row["caption"] == caps[k])
        out["phash_ok"].append(phash_ok)
    return pd.DataFrame(out)


# ---- fixtures ---------------------------------------------------------------


def _rows(first, n):
    """Generated rows (raw/rle/q8 by id % 3, 625 (w, h) shapes), shuffled
    so the kernel's shape sort and chunk cuts do real work."""
    pdf = _gen_batch(np.arange(first, first + n, dtype=np.int64), skew=False)
    order = np.random.default_rng(first).permutation(n)
    return pdf.iloc[order].reset_index(drop=True)


def _flip(buf, pos):
    b = bytearray(buf)
    b[pos] ^= 0x5A
    return bytes(b)


def _damaged(pdf):
    """One row per damage kind, each built from a valid row."""
    rows = []

    def take(kind, **change):
        src = pdf[pdf["fmt"] == kind].iloc[len(rows) % 50].to_dict()
        src.update({k: (v(src) if callable(v) else v) for k, v in change.items()})
        rows.append(src)

    take("raw", bytes=lambda r: r["bytes"][: len(r["bytes"]) // 2])  # truncated
    take("q8", bytes=lambda r: r["bytes"][:-3])  # truncated by one pixel
    take("rle", bytes=lambda r: r["bytes"][:-1])  # odd-length rle
    take("rle", bytes=lambda r: r["bytes"][:-2])  # one pair short
    take("rle", bytes=lambda r: r["bytes"][:1])  # one lone count byte
    take("rle", bytes=b"")  # empty rle
    take("raw", fmt="png")  # unknown fmt
    take("raw", w=lambda r: r["h"], h=lambda r: r["w"])  # swapped w/h
    take("rle", w=lambda r: r["h"], h=lambda r: r["w"])
    take("raw", w=1, h=lambda r: len(r["bytes"]) // 3)  # shape matches byte length
    take("q8", w=lambda r: len(r["bytes"]) // 3, h=1)
    take("raw", w=lambda r: -r["w"], h=lambda r: -r["h"])  # negative shape
    take("raw", w=0)
    take("raw", w=lambda r: r["w"] + 1)  # wrong shape
    take("raw", bytes=lambda r: _flip(r["bytes"], 7))  # flipped byte each
    take("rle", bytes=lambda r: _flip(r["bytes"], 5))  # a flipped value
    take("rle", bytes=lambda r: _flip(r["bytes"], 4))  # a flipped count
    take("q8", bytes=lambda r: _flip(r["bytes"], 11))
    take("q8", bytes=lambda r: bytes([(b // 5) * 5 + 4 if b < 250 else b for b in r["bytes"]]))
    take("raw", phash=lambda r: r["phash"] ^ 1)  # wrong phash
    take("q8", phash=lambda r: r["phash"] ^ (1 << 40))
    take("raw", caption=lambda r: r["caption"] + " ")  # tampered caption
    take("rle", caption="tampered")
    take("raw", bytes=lambda r: r["bytes"] + b"\x00\x00\x00")  # one pixel too many
    for bad_id in ("imgXYZ", "img+12", "img 12", "img-5", "img", "img1_2", "abc12",
                   "img00000000000000000001", "img18446744073709551615",
                   "img18446744073709551616", "img-9223372036854775809", "img٣"):
        take("raw", image_id=bad_id)
    # aliases that regenerate a real image: same caption and pixels, so valid
    take("raw", image_id="img-5", caption=_oracle_regen(["img-5"])[0][0])
    take("rle", image_id=lambda r: "img+" + r["image_id"][3:])
    take("q8", image_id=lambda r: "img " + r["image_id"][3:].lstrip("0"))
    return pd.DataFrame(rows, columns=pdf.columns)


def _assert_same(pdf):
    want = _oracle_check(pdf)
    got = _verify_batch(pdf)
    assert list(got.columns) == COLS
    assert got["image_id"].tolist() == pdf["image_id"].tolist()  # input row order
    for c in COLS[1:]:
        bad = np.flatnonzero(got[c].to_numpy(bool) != want[c].to_numpy(bool))
        assert bad.size == 0, (c, pdf.iloc[bad[:5]][["image_id", "fmt", "w", "h"]])
    return got


@pytest.fixture(scope="module")
def valid_rows():
    return _rows(10_000, 6000)


# ---- tests ------------------------------------------------------------------


def test_kernel_matches_per_row_oracle_on_valid_rows(valid_rows):
    assert set(valid_rows["fmt"]) == {"raw", "rle", "q8"}
    assert len(set(zip(valid_rows["w"], valid_rows["h"]))) > 600
    got = _assert_same(valid_rows)
    assert got[COLS[1:]].all().all()


def test_kernel_matches_per_row_oracle_on_damage(valid_rows):
    bad = _damaged(valid_rows.iloc[:600])
    pdf = pd.concat([valid_rows.iloc[:400], bad], ignore_index=True)
    pdf = pdf.iloc[np.random.default_rng(5).permutation(len(pdf))].reset_index(drop=True)
    got = _assert_same(pdf).set_index("image_id")
    # the damage really is detected (not just "both sides agree on True")
    assert (~got[COLS[1:]].all(axis=1)).sum() >= len(bad) - 5


@pytest.mark.parametrize("budget", [1, 3000, 40_000])
def test_kernel_chunk_cuts_do_not_change_flags(valid_rows, monkeypatch, budget):
    """Chunks of one row, of a few rows and of many rows give the same
    flags, damaged rows included."""
    monkeypatch.setattr(images, "VERIFY_CHUNK_PX", budget)
    pdf = pd.concat([valid_rows.iloc[:300], _damaged(valid_rows.iloc[:300])], ignore_index=True)
    _assert_same(pdf)


def test_kernel_matches_oracle_with_nulls(valid_rows):
    """Null cells: a null bytes/fmt/caption/image_id fails its own row; a
    null phash (float column) or null w (float column) follows the per-row
    path's int()/reshape behaviour for the whole batch."""
    base = valid_rows.iloc[:40].copy().reset_index(drop=True)
    obj = base.astype({"bytes": object, "fmt": object, "caption": object, "image_id": object})
    obj.loc[0, "bytes"] = None
    obj.loc[1, "fmt"] = None
    obj.loc[2, "caption"] = None
    obj.loc[3, "image_id"] = None
    obj.loc[4, ["image_id", "caption"]] = None
    _assert_same(obj)
    ph = base.copy()
    ph["phash"] = ph["phash"].astype(np.float64)
    ph.loc[5, "phash"] = np.nan
    _assert_same(ph)
    w = base.copy()
    w["w"] = w["w"].astype(np.float64)
    w.loc[6, "w"] = np.nan
    _assert_same(w)


def test_kernel_handles_empty_batch(valid_rows):
    got = _verify_batch(valid_rows.iloc[:0])
    assert list(got.columns) == COLS and len(got) == 0


def test_regen_caption_and_pixels_matches_per_row_regen():
    ids = pd.Series(["img000000000007", "img000000123456", "img+12", "img-5"])
    caps, px = images.regen_caption_and_pixels(ids)
    want_caps, want_px = _oracle_regen(ids)
    assert caps == want_caps
    for a, b in zip(px, want_px):
        np.testing.assert_array_equal(a, b)
    with pytest.raises(ValueError):
        images.regen_caption_and_pixels(pd.Series(["img000000000007", "imgXYZ"]))


def test_splitmix64_bit_identical_and_leaves_input_alone():
    x = np.random.default_rng(3).integers(0, 2**63, 10_000, dtype=np.uint64) * np.uint64(2)
    before = x.copy()
    np.testing.assert_array_equal(images._splitmix64(x), _oracle_splitmix64(x))
    np.testing.assert_array_equal(x, before)
