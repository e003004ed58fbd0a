"""The one Python tokenizer: the pinned ASCII ``\\S+`` word split.

Every Python-side kernel tokenizes through this module (the JVM twin is
``functions/text.words``, the DuckDB twin spells the class out, and
``testing/oracle.py`` keeps its own inline ``re.findall`` as the
independent reference). Semantics: token = maximal run of chars outside
the 6 ASCII whitespace chars ``[ \\t\\n\\x0b\\f\\r]`` (Java regex ``\\s``;
``\\x1c-\\x1f``, ``\\x85``, ``\\xa0``, U+2028 are NOT whitespace), over
``str.lower(text)`` (the batch form can keep case with ``lower=False``);
null text has no tokens.

Two shapes:

- :func:`words` — one document's token list (per-doc kernels that need
  token order and n-grams: repetition, dsir/lm bigrams, winnowing);
- :func:`token_codes` / :func:`distinct_pairs` — the batch form: Arrow
  ``ascii_split_whitespace`` + ``dictionary_encode`` turn a whole batch
  into integer (row, code) arrays plus the batch's unique tokens, so a
  kernel does its Python work once per UNIQUE token (memoised across
  batches by :func:`lru_map`) and aggregates with numpy/pandas.
"""

from __future__ import annotations

import itertools
import re
from collections.abc import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pa_compute

# ASCII flag: match Java regex \s semantics exactly
_TOKEN_RE = re.compile(r"\S+", re.ASCII)

_CACHE_CAP = 4_000_000  # per-worker memory bound per (fn, config) cache


def words(t: str | None) -> list[str]:
    """One document's lowercased ``\\S+`` tokens in order; ``[]`` for
    null text."""
    if not isinstance(t, str):
        return []
    return _TOKEN_RE.findall(t.lower())


def token_codes(
    texts: pd.Series, lower: bool = True
) -> tuple[np.ndarray, np.ndarray, list[str]]:
    """(rows, codes, uniques): every token OCCURRENCE of the batch in
    document order — ``rows`` are batch positions 0..n-1, ``codes``
    index ``uniques``. Null text contributes no tokens.

    ``pc.ascii_split_whitespace`` splits on exactly the 6 ASCII
    whitespace chars and collapses interior runs, but emits EMPTY
    strings at leading/trailing boundaries (and ``['']`` for an
    all-whitespace doc) — a real ``\\S+`` match can never be empty, so
    dropping empty tokens restores the exact match list (pinned by
    tests/test_whitespace_semantics.py). Lowercasing stays Python
    ``str.lower`` (the pinned case semantics)."""
    s = texts.fillna("")
    if lower:
        s = s.str.lower()
    arr = pa.Array.from_pandas(s, type=pa.string())
    toks = pa_compute.ascii_split_whitespace(arr)
    flat = pa_compute.list_flatten(toks)
    lens = pa_compute.list_value_length(toks).to_numpy(zero_copy_only=False)
    rows = np.repeat(np.arange(len(texts), dtype=np.int64), lens)
    nonempty = np.asarray(pa_compute.not_equal(flat, ""))
    if not nonempty.all():
        flat = flat.filter(pa.array(nonempty))
        rows = rows[nonempty]
    if len(flat) == 0:
        return rows, rows, []
    enc = pa_compute.dictionary_encode(flat)
    codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    return rows, codes, enc.dictionary.to_pylist()


def distinct_pairs(
    rows: np.ndarray, codes: np.ndarray, n_uniques: int
) -> tuple[np.ndarray, np.ndarray]:
    """The distinct (row, code) pairs, sorted by row then code — integer
    work on the dictionary codes, no string re-hash."""
    if n_uniques == 0:
        return rows, codes
    return np.divmod(np.unique(rows * n_uniques + codes), n_uniques)


def _lru_get(cache: dict, key: str):
    """Cache lookup that refreshes recency: python dicts are
    insertion-ordered, so re-inserting a hit moves it to the back and
    eviction from the front becomes least-recently-USED, not merely
    least-recently-inserted."""
    v = cache.get(key)
    if v is not None:
        del cache[key]
        cache[key] = v
    return v


def _lru_evict(cache: dict) -> None:
    """Evict from the front (least recent) down to 3/4 of the cap —
    smooth recency eviction instead of a clear-all valve, which would
    drop the whole Zipf head (hundreds of MB re-hashed) at once."""
    if len(cache) <= _CACHE_CAP:
        return
    drop = len(cache) - (_CACHE_CAP * 3) // 4
    for k in list(itertools.islice(iter(cache), drop)):
        del cache[k]


def lru_map(cache: dict, uniques: list[str], fn: Callable[[str], object]) -> list:
    """``[fn(u) for u in uniques]`` memoised in a per-worker LRU
    ``cache`` (evicted at batch entry, so it may overshoot the cap by one
    batch's new tokens). Web-text vocabulary is Zipfian: the hit rate
    dominates and ``fn`` runs only for batch-NEW tokens."""
    _lru_evict(cache)
    pop = cache.pop
    out = []
    for u in uniques:
        v = pop(u, None)  # pop + re-insert = the _lru_get recency refresh
        if v is None:
            v = fn(u)
        cache[u] = v
        out.append(v)
    return out
