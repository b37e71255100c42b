"""Text-analysis kernels for the training-data pipeline operators.

All functions operate on pandas Series / NumPy arrays inside Arrow-batched
UDFs. Hash functions are plain polynomial/xor mixes (no external deps), and
every operator that feeds a DuckDB oracle keeps to SQL-reproducible
primitives (md5, regexp, length arithmetic) — see __spark_entry__.py.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

# The engine-wide word-boundary definition: the explicit Java-\s set,
# spelled so the SAME backslash text is a valid class in Python re, Java
# regex, and RE2 (DuckDB). Every tokenizing split/count in the engine and
# every DuckDB oracle must use these (guarded by a pytest consistency
# check).
WS_CLASS = r"[ \t\n\x0B\f\r]"
WS_SPLIT_RE = WS_CLASS + "+"
WORD_RE = r"[^ \t\n\x0B\f\r]+"

_WORD_RE = re.compile(WORD_RE)
# the ONE punctuation class (quality_score's oracle replays it in SQL —
# a second inline spelling could silently drift)
PUNCT_CLASS = r"[.,!?;:]"

# tiny per-language stopword profiles for the n-gram/stopword language-ID
# heuristic (public common-word lists)
_LANG_MARKERS = {
    "en": {"the", "and", "of", "to", "in", "is", "that", "it", "was", "for"},
    "de": {"der", "die", "und", "das", "ist", "nicht", "ein", "mit", "von", "zu"},
    "fr": {"le", "la", "et", "les", "des", "est", "un", "une", "du", "que"},
    "es": {"el", "la", "de", "que", "los", "es", "un", "una", "las", "por"},
}


def token_count(texts: pd.Series) -> np.ndarray:
    return texts.fillna("").str.count(WORD_RE).to_numpy(np.int64)


def punct_count(texts: pd.Series) -> np.ndarray:
    return texts.fillna("").str.count(PUNCT_CLASS).to_numpy(np.int64)


def quality_score(texts: pd.Series) -> np.ndarray:
    """Length/punctuation/word-shape heuristic in [0,1] — floor-rounded to
    1e-3 so Spark and any SQL oracle agree bit-exactly."""
    t = texts.fillna("")
    n_chars = t.str.len().to_numpy(np.float64)
    n_tok = token_count(t).astype(np.float64)
    n_punct = punct_count(t).astype(np.float64)
    mean_wlen = np.where(n_tok > 0, (n_chars - (n_tok - 1).clip(0)) / np.maximum(n_tok, 1), 0.0)
    len_term = np.minimum(n_chars / 200.0, 1.0)
    punct_term = np.minimum(n_punct / np.maximum(n_tok, 1.0) * 5.0, 1.0)
    wlen_term = np.clip(1.0 - np.abs(mean_wlen - 5.0) / 10.0, 0.0, 1.0)
    score = 0.4 * len_term + 0.3 * punct_term + 0.3 * wlen_term
    return np.floor(score * 1000.0) / 1000.0


def lang_id(texts: pd.Series) -> list[str]:
    """Stopword-profile language ID: argmax marker-hit rate, 'und' if none."""
    out = []
    for t in texts.fillna(""):
        words = set(w.lower() for w in _WORD_RE.findall(t)[:200])
        best, best_n = "und", 0
        for lang, markers in _LANG_MARKERS.items():
            n = len(words & markers)
            if n > best_n:
                best, best_n = lang, n
        out.append(best)
    return out


def shingles(text: str, k: int = 5) -> set[str]:
    """Word k-shingles (lowercased)."""
    words = [w.lower() for w in _WORD_RE.findall(text)]
    if len(words) < k:
        return {" ".join(words)} if words else set()
    return {" ".join(words[i : i + k]) for i in range(len(words) - k + 1)}


def _hash64_str(s: str, seed: int = 0) -> int:
    """64-bit string hash: md5 prefix (C speed, process-stable) + seed mix."""
    import hashlib

    h = int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "little")
    if seed:
        h = (h ^ (seed * 0x9E3779B97F4A7C15)) & 0xFFFFFFFFFFFFFFFF
    return h


def minhash_signature(text: str, n_hashes: int = 64, k: int = 5) -> list[int]:
    """MinHash over word shingles: one base hash per shingle + n_hashes
    universal-hash remixes (a·x+b mod p) — vectorized over shingles."""
    sh = shingles(text, k)
    if not sh:
        return [0] * n_hashes
    base = np.array([_hash64_str(s) for s in sh], dtype=np.uint64)
    idx = np.arange(1, n_hashes + 1, dtype=np.uint64)
    a = idx * np.uint64(0x9E3779B97F4A7C15) | np.uint64(1)
    b = idx * np.uint64(0xC2B2AE3D27D4EB4F)
    remix = base[:, None] * a[None, :] + b[None, :]  # wraps mod 2^64
    return remix.min(axis=0).astype(np.int64).tolist()


def minhash_bands(sig: list[int], n_bands: int = 16) -> list[int]:
    """LSH band keys: hash of each band of the signature (rows = len/bands)."""
    arr = np.asarray(sig, dtype=np.uint64)
    rows = len(sig) // n_bands
    out = []
    with np.errstate(over="ignore"):  # uint64 wraparound is the hash
        for bnd in range(n_bands):
            chunk = arr[bnd * rows : (bnd + 1) * rows]
            h = np.uint64(0xCBF29CE484222325 + bnd)
            for v in chunk:
                h = (h ^ v) * np.uint64(0x100000001B3)
            out.append(
                int(np.int64((h & np.uint64(0x7FFFFFFFFFFFFFFF)) | (np.uint64(bnd) << np.uint64(56))))
            )
    return out


def simhash64(text: str) -> int:
    """64-bit SimHash over word unigrams+bigrams."""
    words = [w.lower() for w in _WORD_RE.findall(text)]
    feats = words + [a + " " + b for a, b in zip(words, words[1:])]
    if not feats:
        return 0
    hs = np.array([_hash64_str(f) for f in feats], dtype=np.uint64)
    bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(np.int32)
    v = (2 * bits - 1).sum(axis=0)
    out = int(((v > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum())
    return out - (1 << 64) if out >= (1 << 63) else out


def jaccard(a: set, b: set) -> float:
    if not a and not b:
        return 1.0
    return len(a & b) / max(1, len(a | b))


def _mod_pow_table(base: int, n: int, mod: int, block: int = 1024) -> np.ndarray:
    """[base^0, base^1, …, base^(n-1)] mod ``mod``, built from a
    block-decomposed product base^(q·B) · base^r so the only Python loops
    are O(B) + O(n/B) instead of O(n). Products fit int64: both factors
    < mod < 2^31."""
    small = np.empty(min(block, n), dtype=np.int64)
    acc = 1
    for r in range(len(small)):
        small[r] = acc
        acc = acc * base % mod
    if n <= block:
        return small
    big_step = pow(base, block, mod)
    big = np.empty((n + block - 1) // block, dtype=np.int64)
    acc = 1
    for q in range(len(big)):
        big[q] = acc
        acc = acc * big_step % mod
    t = np.arange(n, dtype=np.int64)
    return big[t // block] * small[t % block] % mod


def rolling_fingerprint(text: str, window: int = 64, mod: int = (1 << 31) - 1) -> int:
    """Document fingerprint: min of a rolling polynomial hash
    (winnowing-lite).

    Vectorized via modular prefix products: with inv = 257^-1 mod p,
    S[t] = Σ_{u<t} data[u]·inv^u, the window hash is
    h[i] = (S[i+w] − S[i]) · 257^(i+w−1) mod p — all NumPy element-wise
    ops; no per-byte Python loop, so long documents run at memory
    bandwidth."""
    data = text.encode("utf-8")
    if len(data) <= window:
        h = 0
        for c in data:
            h = (h * 257 + c) % mod
        return h
    arr = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
    n = len(arr) - window + 1
    inv = pow(257, -1, mod)
    invpow = _mod_pow_table(inv, len(arr), mod)
    # terms < 2^39; an int64 cumsum overflows only past ~2^32 bytes
    S = np.concatenate([[0], np.cumsum(arr * invpow % mod) % mod])
    pows = _mod_pow_table(257, len(arr), mod)
    diff = (S[window:] - S[:-window]) % mod
    hashes = diff * pows[window - 1 :] % mod
    assert len(hashes) == n
    return int(hashes.min())


def minhash_signatures_batch(
    texts, n_hashes: int = 64, k: int = 5, chunk: int = 16
) -> np.ndarray:
    """Batch MinHash: same values as ``minhash_signature`` per text, but
    vectorized across the whole Arrow batch — shingles of all docs are
    flattened, unique shingles hashed once, and the per-doc column minima
    come from ``np.minimum.reduceat`` over segment bounds. ``chunk`` bounds
    the remix matrix to (total_shingles × chunk) to cap memory."""
    all_sh: list[str] = []
    bounds = [0]
    for t in texts:
        all_sh.extend(shingles(t or "", k))
        bounds.append(len(all_sh))
    n_docs = len(texts)
    out = np.zeros((n_docs, n_hashes), dtype=np.int64)
    if not all_sh:
        return out
    uniq, inv = np.unique(np.asarray(all_sh, dtype=object), return_inverse=True)
    base = np.array([_hash64_str(s) for s in uniq], dtype=np.uint64)[inv]
    starts = np.asarray(bounds[:-1], dtype=np.int64)
    sizes = np.diff(bounds)
    nonempty = sizes > 0
    idx_all = np.arange(1, n_hashes + 1, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for c0 in range(0, n_hashes, chunk):
            idx = idx_all[c0 : c0 + chunk]
            a = idx * np.uint64(0x9E3779B97F4A7C15) | np.uint64(1)
            b = idx * np.uint64(0xC2B2AE3D27D4EB4F)
            remix = base[:, None] * a[None, :] + b[None, :]
            mins = np.minimum.reduceat(remix, starts[nonempty], axis=0)
            out[nonempty, c0 : c0 + len(idx)] = mins.astype(np.int64)
    return out


def minhash_bands_batch(sigs: np.ndarray, n_bands: int = 16) -> np.ndarray:
    """Batch LSH band keys: same values as ``minhash_bands`` row-wise, FNV
    fold vectorized over (n_docs, n_bands) with the rows-per-band loop as
    the only Python iteration (rows = n_hashes // n_bands, typically 4)."""
    S = np.asarray(sigs, dtype=np.uint64)
    n, n_hashes = S.shape
    rows = n_hashes // n_bands
    chunks = S[:, : n_bands * rows].reshape(n, n_bands, rows)
    with np.errstate(over="ignore"):
        h = np.broadcast_to(
            np.uint64(0xCBF29CE484222325) + np.arange(n_bands, dtype=np.uint64),
            (n, n_bands),
        ).copy()
        for r in range(rows):
            h = (h ^ chunks[:, :, r]) * np.uint64(0x100000001B3)
        tagged = (h & np.uint64(0x7FFFFFFFFFFFFFFF)) | (
            np.arange(n_bands, dtype=np.uint64)[None, :] << np.uint64(56)
        )
    return tagged.astype(np.int64)


def compression_ratio(texts: pd.Series) -> np.ndarray:
    """zlib-compressed size / raw size per document — the classic
    boilerplate/spam signal (highly repetitive text compresses far below
    typical prose ~0.4-0.6). Deterministic for a fixed zlib level."""
    import zlib

    out = np.ones(len(texts), dtype=np.float64)
    for i, t in enumerate(texts.fillna("")):
        raw = t.encode("utf-8")
        if raw:
            out[i] = len(zlib.compress(raw, 6)) / len(raw)
    return out
