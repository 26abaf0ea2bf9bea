"""Deterministic web-text kernels: HTML->text extraction, geotag parse,
token counting, language-ID, quality scoring, fingerprints.

The north rule's per-row invariant is "byte-identical extracted text per
url" (BASELINE.json input_hint). The synthetic pages generator
(sources/pages.py) emits HTML from a fixed template; :func:`extract_text`
is the inverse of that template and is specified precisely enough to be
byte-stable: strip tags, unescape the five standard entities, collapse
whitespace runs to single spaces, strip ends.

These kernels run as Arrow-batched pandas UDFs (never per-row Python in
the JVM loop) and double as the single-process oracle in tests.
"""

from __future__ import annotations

import hashlib
import re
from typing import List, Optional, Tuple

import numpy as np

_TAG_RE = re.compile(r"<[^>]*>")
_SCRIPT_RE = re.compile(r"<(script|style)\b[^>]*>.*?</\1>", re.DOTALL | re.IGNORECASE)
_WS_RE = re.compile(r"\s+")
_GEOTAG_RE = re.compile(
    r'<meta\s+name="geo\.position"\s+content="(-?\d+(?:\.\d+)?);(-?\d+(?:\.\d+)?)"'
)

_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")]


def extract_text(html: bytes) -> str:
    """HTML bytes -> extracted text (deterministic, byte-stable).

    Spec: drop <script>/<style> with their content, drop all tags,
    unescape the five standard entities (&amp; last so double-escapes
    resolve like browsers do), collapse all whitespace runs to a single
    space, strip leading/trailing whitespace.
    """
    s = html.decode("utf-8", errors="replace")
    s = _SCRIPT_RE.sub(" ", s)
    s = _TAG_RE.sub(" ", s)
    for ent, ch in _ENTITIES:
        s = s.replace(ent, ch)
    return _WS_RE.sub(" ", s).strip()


def extract_geotag(html: bytes) -> Optional[Tuple[float, float]]:
    """Parse ``<meta name="geo.position" content="lat;lon">`` ->
    (lon, lat). Returns None when no geotag present."""
    m = _GEOTAG_RE.search(html.decode("utf-8", errors="replace"))
    if m is None:
        return None
    lat = float(m.group(1))
    lon = float(m.group(2))
    return (lon, lat)


# ---------------------------------------------------------------------------
# Text analysis (training-data pipeline operators)
# ---------------------------------------------------------------------------

_TOKEN_SPLIT_RE = re.compile(r"\s+")
# BPE-ish subword pieces: runs of letters, runs of digits, single punct
_BPE_RE = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")


def whitespace_token_count(text: str) -> int:
    t = text.strip()
    if not t:
        return 0
    return len(_TOKEN_SPLIT_RE.split(t))


def bpe_ish_token_count(text: str) -> int:
    return len(_BPE_RE.findall(text))


def quality_score(text: str) -> float:
    """Length/punct/stopword-ratio quality heuristic in [0, 1].

    score = 0.4 * min(1, words/100) + 0.3 * (1 - punct_ratio)
          + 0.3 * min(1, 5 * stopword_ratio)
    with punct_ratio = non-alnum-non-space chars / max(1, chars),
    stopword_ratio = english-stopword tokens / max(1, words).
    Deterministic arithmetic; the DuckDB oracle recomputes it.
    """
    n_chars = len(text)
    words = text.split()
    n_words = len(words)
    punct = sum(1 for c in text if not c.isalnum() and not c.isspace())
    sw = sum(1 for w in words if w.lower() in ("the", "and", "of", "a", "to"))
    punct_ratio = punct / max(1, n_chars)
    sw_ratio = sw / max(1, n_words)
    return (
        0.4 * min(1.0, n_words / 100.0)
        + 0.3 * (1.0 - punct_ratio)
        + 0.3 * min(1.0, 5.0 * sw_ratio)
    )


def rolling_fingerprint(text: str, window: int = 16, mod: int = (1 << 61) - 1) -> int:
    """Deterministic document fingerprint: min of rolling polynomial
    hashes over byte windows (Rabin-Karp style, base 257)."""
    data = text.encode("utf-8")
    if len(data) <= window:
        h = 0
        for b in data:
            h = (h * 257 + b + 1) % mod
        return h
    base = 257
    power = pow(base, window - 1, mod)
    h = 0
    for b in data[:window]:
        h = (h * base + b + 1) % mod
    best = h
    for i in range(window, len(data)):
        h = ((h - (data[i - window] + 1) * power) * base + data[i] + 1) % mod
        if h < best:
            best = h
    return best


# ---------------------------------------------------------------------------
# Dedup kernels (shared by Spark UDFs and oracle)
# ---------------------------------------------------------------------------

def shingles(text: str, k: int = 3) -> List[str]:
    """k-word shingles (space-joined) of whitespace-normalized text."""
    toks = text.split()
    if len(toks) < k:
        return [" ".join(toks)] if toks else []
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]


def md5_int64(s: str) -> int:
    """First 8 bytes of md5 as a non-negative int63 — identical in any
    engine that exposes md5 hex (Spark ``md5``, DuckDB ``md5``)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


_MINHASH_PRIME = (1 << 61) - 1


def minhash_params(num_perm: int) -> List[Tuple[int, int]]:
    """Deterministic (a, b) permutation parameters: a, b derived from
    the permutation index via fixed multipliers (no RNG -> same values
    everywhere, including SQL)."""
    return [
        (2 * i + 1, (i * i + i + 1) % _MINHASH_PRIME) for i in range(1, num_perm + 1)
    ]


def minhash_signature(text: str, num_perm: int = 16, k: int = 3) -> List[int]:
    """MinHash over k-word shingles: h_i = min over shingles of
    (a_i * md5_int64(sh) + b_i) mod p. Empty docs -> all p.

    The permutation arithmetic is vectorized in uint64 with an exact
    Mersenne-prime reduction (p = 2^61-1, so 2^61 ≡ 1 mod p): the
    product a*h (< 2^68) is formed as 32-bit partial products and the
    high limb's shift is folded through the congruence, so every value
    equals the big-int (a*h+b) % p bit-for-bit — pinned against a
    big-int reference in tests. Measured ~1.7x end-to-end over the
    round-1 per-perm Python object loop (the md5 shingle hashing
    dominates; this removes the other half)."""
    sh = shingles(text, k)
    if not sh:
        return [_MINHASH_PRIME] * num_perm
    hs = np.array([md5_int64(s) for s in set(sh)], dtype=np.uint64)  # < 2^60
    params = minhash_params(num_perm)
    a = np.array([q[0] for q in params], dtype=np.uint64)[:, None]
    b = np.array([q[1] for q in params], dtype=np.uint64)[:, None]
    P = np.uint64(_MINHASH_PRIME)
    x1 = hs >> np.uint64(32)
    x0 = hs & np.uint64(0xFFFFFFFF)
    c = a * x1                      # < 2^41: high partial product
    d = a * x0 + b                  # < 2^61 + 2^40
    # c*2^32 mod p: split c at bit 29 so the shifted low part stays
    # below 2^61 (c = c_hi*2^29 + c_lo -> c*2^32 = c_hi*2^61 + c_lo*2^32
    # ≡ c_hi + c_lo*2^32)
    term = (c >> np.uint64(29)) + (
        (c & np.uint64((1 << 29) - 1)) << np.uint64(32)
    )
    tot = term + d                  # < 2^63
    tot = (tot & P) + (tot >> np.uint64(61))
    tot = (tot & P) + (tot >> np.uint64(61))
    tot = np.where(tot >= P, tot - P, tot)
    return [int(v) for v in tot.min(axis=1)]


def simhash64(text: str) -> int:
    """64-bit SimHash over whitespace tokens weighted by count; bit j of
    each token from md5. Deterministic across engines via md5."""
    toks = text.split()
    if not toks:
        return 0
    counts: dict[str, int] = {}
    for t in toks:
        counts[t] = counts.get(t, 0) + 1
    acc = np.zeros(64, dtype=np.int64)
    shifts = np.arange(64, dtype=np.uint64)
    for tok, c in counts.items():
        h = np.uint64(
            int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:16], 16)
        )
        bits = ((h >> shifts) & np.uint64(1)).astype(np.int64)
        acc += np.where(bits == 1, c, -c)
    return int("".join("1" if v > 0 else "0" for v in acc[::-1]), 2)


def hamming64(a: int, b: int) -> int:
    return bin(a ^ b).count("1")
