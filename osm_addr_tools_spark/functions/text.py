"""Text kernels: X1 deterministic HTML→text extraction (SURVEY.md §7.5),
X2 address parsing, and the text-analysis family for training-data
pipelines (language-ID, quality scoring, token counting, fingerprinting).

X1 is the per-row invariant from BASELINE.json input_hint: byte-identical
extracted text per url, across runs, configs and parallelism. It is a pure
function of the html bytes — no library whose version could drift (the spec
is pinned in SURVEY §7.5 and the goldens in tests/test_text.py).
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd

# --- X1: deterministic HTML -> text ---------------------------------------

_DROP_SPANS = re.compile(
    r"<script\b.*?</script\s*>|<style\b.*?</style\s*>|<!--.*?-->",
    re.IGNORECASE | re.DOTALL,
)
# unterminated script/style/comment: drop to end of document
_DROP_OPEN = re.compile(r"<script\b.*$|<style\b.*$|<!--.*$", re.IGNORECASE | re.DOTALL)
_BLOCK_TAGS = re.compile(r"</?(?:p|div|br|li|tr|h[1-6])\b[^>]*>", re.IGNORECASE)
_ANY_TAG = re.compile(r"<[^>]*>")
_ENTITY = re.compile(r"&(#x[0-9a-fA-F]+|#[0-9]+|amp|lt|gt|quot|apos|nbsp);")
_NAMED = {"amp": "&", "lt": "<", "gt": ">", "quot": '"', "apos": "'", "nbsp": " "}
_HSPACE = re.compile(r"[ \t]+")
_NLRUN = re.compile(r"[ \t]*\n[ \t\n]*")


def _decode_entity(m: re.Match) -> str:
    body = m.group(1)
    if body.startswith("#x") or body.startswith("#X"):
        cp = int(body[2:], 16)
    elif body.startswith("#"):
        cp = int(body[1:])
    else:
        return _NAMED[body.lower()]
    if 0 < cp <= 0x10FFFF and not (0xD800 <= cp <= 0xDFFF):
        return chr(cp)
    return "�"


def extract_text_one(html: bytes) -> str:
    """X1 — pinned spec (SURVEY §7.5), pure function of the bytes:

    1. decode UTF-8 with errors="replace"
    2. drop <script>…</script>, <style>…</style>, <!-- … --> spans
       (case-insensitive, non-greedy; unterminated spans drop to EOF)
    3. block-level tags (p div br li tr h1–h6, open or close, with attrs)
       → "\\n"; every other <…> tag → ""; an unterminated "<" stays literal
    4. entities: the five XML names, &nbsp; → space, decimal/hex numeric
       (single pass — "&amp;lt;" yields the literal "&lt;")
    5. collapse runs of spaces/tabs → one space; runs of newlines (with any
       surrounding horizontal whitespace) → one "\\n"; strip ends
    """
    text = (html or b"").decode("utf-8", errors="replace")
    text = _DROP_SPANS.sub("", text)
    text = _DROP_OPEN.sub("", text)
    text = _BLOCK_TAGS.sub("\n", text)
    text = _ANY_TAG.sub("", text)
    text = _ENTITY.sub(_decode_entity, text)
    text = _HSPACE.sub(" ", text)
    text = _NLRUN.sub("\n", text)
    return text.strip()


def extract_text(html: pd.Series) -> pd.Series:
    """X1 batch kernel (binary Series → string Series)."""
    return html.map(extract_text_one).astype("object")


# --- X2: address-candidate parsing -----------------------------------------

# Pinned grammar: one candidate per text line shaped like
#   "<street words> <housenumber>, [<postcode> ]<city>"
# housenumber: digits + optional letter suffix + optional /digits
# postcode: NN-NNN (optional)
_ADDR_LINE = re.compile(
    r"^(?P<street>\S(?:[^,\n]*?))\s+"
    r"(?P<hn>\d+(?:\s?[A-Za-z])?(?:\s*/\s*\d+)?)\s*,\s*"
    r"(?:(?P<postcode>\d{2}-\d{3})\s+)?"
    r"(?P<city>[^\d,\n][^,\n]*?)\s*$",
    re.MULTILINE,
)


def parse_addresses_one(text: str) -> list[dict]:
    """X2 — 0..n address candidates per page text (pinned regex grammar)."""
    out = []
    for m in _ADDR_LINE.finditer(text or ""):
        out.append(
            {
                "street": m.group("street"),
                "housenumber": m.group("hn"),
                "postcode": m.group("postcode"),
                "city": m.group("city"),
            }
        )
    return out


# --- text-analysis family (documents table; SURVEY driver mandate) ---------

# Tiny deterministic stopword profiles for the n-gram language heuristic.
_LANG_PROFILES: dict[str, frozenset[str]] = {
    "en": frozenset("the and of to in is that it for was with as his on be at by".split()),
    "de": frozenset("der die und das ist von zu mit den nicht sich des auf für".split()),
    "pl": frozenset("się nie jest na do że z w i o po jak ale przez dla".split()),
    "fr": frozenset("le la les et de des un une est dans pour que sur avec".split()),
}

_WORD_RE = re.compile(r"[^\W\d_]+", re.UNICODE)
# BPE-ish tokenizer: word pieces, numbers, or single non-space symbols
_TOKEN_RE = re.compile(r"[^\W\d_]+|\d+|[^\w\s]", re.UNICODE)


def lang_id(text: pd.Series) -> pd.Series:
    """Stopword-overlap language ID; 'und' when nothing matches."""

    def one(t: str) -> str:
        words = [w.lower() for w in _WORD_RE.findall(t or "")[:500]]
        if not words:
            return "und"
        best, best_score = "und", 0
        for lang in sorted(_LANG_PROFILES):
            score = sum(1 for w in words if w in _LANG_PROFILES[lang])
            if score > best_score:
                best, best_score = lang, score
        return best

    return text.map(one).astype("object")


_STOPWORDS_ALL = frozenset().union(*_LANG_PROFILES.values())


def quality_components(text: pd.Series) -> pd.DataFrame:
    """Deterministic quality components (driver mandate: length / punct /
    stopword ratios). Raw float64 — callers round JVM/SQL-side so both
    engines round the SAME bits with the SAME half-up rule:

    - len_score     = min(len/1000, 1)
    - alpha_ratio   = letters/len           (0 when empty)
    - punct_score   = 1 - min(punct/len*4, 1)
    - stopword_ratio= stopword words / words (0 when no words)
    - quality       = (len_score + alpha_ratio + punct_score
                       + min(stopword_ratio*5, 1)) / 4
    """
    t = text.fillna("")
    n = t.str.len().astype("float64")
    alpha = t.str.count(r"[^\W\d_]").astype("float64")
    punct = t.str.count(r"[^\w\s]").astype("float64")

    def stop_ratio(s: str) -> float:
        words = [w.lower() for w in _WORD_RE.findall(s)]
        if not words:
            return 0.0
        return sum(1 for w in words if w in _STOPWORDS_ALL) / len(words)

    stop = t.map(stop_ratio).astype("float64")
    len_score = np.clip(n / 1000.0, 0.0, 1.0)
    alpha_ratio = np.where(n > 0, alpha / n, 0.0)
    punct_score = 1.0 - np.clip(np.where(n > 0, punct / n, 0.0) * 4.0, 0.0, 1.0)
    quality = (len_score + alpha_ratio + punct_score + np.clip(stop * 5.0, 0.0, 1.0)) / 4.0
    return pd.DataFrame(
        {
            "len_score": len_score,
            "alpha_ratio": alpha_ratio,
            "punct_score": punct_score,
            "stopword_ratio": stop,
            "quality": quality,
        },
        index=text.index,
    )


def token_count(text: pd.Series) -> pd.Series:
    """BPE-ish regex token count (word pieces + numbers + symbols)."""
    return text.fillna("").map(lambda t: len(_TOKEN_RE.findall(t))).astype("int64")


def fingerprint64(text: pd.Series) -> pd.Series:
    """Stable 64-bit document fingerprint (first 8 bytes of sha256),
    as signed int64 (two's complement)."""

    def one(t: str) -> int:
        h = hashlib.sha256((t or "").encode("utf-8")).digest()
        v = int.from_bytes(h[:8], "big")
        return v - (1 << 64) if v >= (1 << 63) else v

    return text.map(one).astype("int64")


_WINNOW_B = np.uint64(257)


def winnow_fingerprints(text: str, k: int = 8, w: int = 16) -> list[tuple[int, int]]:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003 —
    public algorithm): a polynomial ROLLING hash over every k-byte gram
    (base 257, natural uint64 wraparound), then in every window of ``w``
    consecutive gram hashes keep the minimum, rightmost on ties. The
    selected (position, hash) set is shift-resistant — an insertion far
    from a passage leaves that passage's fingerprints intact, which exact
    whole-document hashing (fingerprint64) cannot do.

    Windows are FULL windows only (s ∈ [0, n_grams-w]); documents with
    fewer than ``w`` grams fall back to one truncated window (global
    rightmost min); documents shorter than ``k`` bytes have no grams and
    no fingerprints. Returns sorted (pos, fp) with pos 0-based and fp the
    uint64 hash two's-complemented into int64.
    """
    from numpy.lib.stride_tricks import sliding_window_view

    data = np.frombuffer((text or "").encode("utf-8"), dtype=np.uint8).astype(np.uint64)
    n = data.size
    if n < k:
        return []
    grams = sliding_window_view(data, k)
    powers = np.power(_WINNOW_B, np.arange(k - 1, -1, -1, dtype=np.uint64))
    h = (grams * powers[None, :]).sum(axis=1, dtype=np.uint64)
    g = h.size
    if g <= w:
        rev = h[::-1]
        positions = np.array([g - 1 - int(np.argmin(rev))])
    else:
        n_windows = g - w + 1
        win = sliding_window_view(h, w)[:n_windows]
        pos_in_win = (w - 1) - np.argmin(win[:, ::-1], axis=1)
        positions = np.unique(pos_in_win + np.arange(n_windows))
    out = []
    for p in positions:
        v = int(h[int(p)])
        out.append((int(p), v - (1 << 64) if v >= (1 << 63) else v))
    return sorted(out)


def shingles(text: str, k: int = 5) -> set[str]:
    """Word k-shingles of lowercase word tokens (for MinHash/Jaccard)."""
    words = [w.lower() for w in _WORD_RE.findall(text or "")]
    if len(words) < k:
        return {" ".join(words)} if words else set()
    return {" ".join(words[i : i + k]) for i in range(len(words) - k + 1)}
