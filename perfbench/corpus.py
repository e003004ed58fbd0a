"""Seeded web-text corpus generator for the end-to-end benchmark.

Two profiles share one generator:

- ``rules``: every document is distinct. Each document has a *kind*. Clean
  documents pass every rule of ``recipes/webtext_quality.toml``, and each
  failure kind is built to fail exactly one drop rule of that recipe, in
  recipe order. So every drop rule fires on a share of the corpus fixed by
  ``RULE_SHARES``. One document is longer than the recipe's
  ``max_length``.
- ``curation``: the same kinds (less the ``max_length`` document), plus
  what ``recipes/full_curation.toml``'s ``[global]`` pre-passes act on.
  Two documents carry the recipe's blocklisted urls. About half of the
  documents get a header or footer line drawn from a shared boilerplate
  pool. A fifth of the clean documents embed a paragraph drawn from a
  shared pool. ``NEAR_DUP_FRAC`` of all documents are edited copies of a
  clean original, with the (copy, original) pairs kept as ground truth.
  The ``category`` column is Zipf-headed.

Words come from a Zipfian vocabulary with a long tail of pseudo-words. Its
head is English function words, so clean text reads as English to the
stopword language-id. Pseudo-words never coincide with a function word of
any language the recipes' language-id knows. Paragraphs are separated by
blank lines.

Output is a pure function of ``(profile, n_docs, seed)``:
``test_corpus.py`` pins the digest for each seed.
"""

from __future__ import annotations

import datetime as dt
import functools
import hashlib
import os
import random

import numpy as np
import pandas as pd

# English function words, most frequent first. They are the Zipf head.
EN_FUNCTION = (
    "the and of to in is that it for was on are as with his they at be "
    "this have from or had by not but what some we can out other were all "
    "there when up your how said an each she"
).split()

# Function words of the other languages the stopword language-id scores.
# Pseudo-words must not coincide with any of them.
FOREIGN_FUNCTION = {
    "de": "der die das und ist nicht ein eine mit von sich auch".split(),
    "fr": "le la les et est que une pour dans qui pas vous".split(),
    "es": "el los las una por con para como pero sus este".split(),
    "it": "il gli della che per una sono del nel alla come".split(),
}

BLOCKLIST = ["http://spam.example/landing", "http://ads.example/click"]

# Share of documents per failure kind; "clean" takes the rest. The kinds
# are named after the rule of webtext_quality.toml each one fails.
RULE_SHARES = {
    "has_text": 0.02,
    "min_length": 0.04,
    "word_count_between": 0.04,
    "mean_word_length_between": 0.04,
    "symbol_ratio_below": 0.04,
    "line_repetition_below": 0.04,
    "word_repetition_below": 0.04,
    "lang_is": 0.06,
    "stopword_ratio_above": 0.05,
}
NEAR_DUP_FRAC = 0.15
PII_FRAC = 0.15  # of clean documents
N_CATEGORIES = 40
MAX_LENGTH = 1_000_000  # webtext_quality.toml's max_length

_CONS = "bcdfghjklmnprstvwz"
_VOWELS = "aeiou"
_SYMBOLS = list("#$%^&*{}[]|<>~`=+_")
_BOILERPLATE_POOL = 40
_PARAGRAPH_POOL = 150


@functools.lru_cache(maxsize=1)
def _vocabulary() -> tuple[str, ...]:
    """Function words, then pseudo-words in a fixed pseudo-random order.
    Independent of the seed: the seed only drives sampling."""
    rng = np.random.default_rng(20240301)
    banned = set(EN_FUNCTION)
    for ws in FOREIGN_FUNCTION.values():
        banned.update(ws)
    n = 60000
    n_syl = rng.integers(1, 4, n)
    cons = rng.integers(0, len(_CONS), (n, 3))
    vows = rng.integers(0, len(_VOWELS), (n, 3))
    coda = rng.integers(0, len(_CONS), (n, 3))
    has_coda = rng.random((n, 3)) < 0.4
    seen: set[str] = set()
    words: list[str] = []
    for i in range(n):
        w = "".join(
            _CONS[cons[i, s]] + _VOWELS[vows[i, s]] + (_CONS[coda[i, s]] if has_coda[i, s] else "")
            for s in range(n_syl[i])
        )
        if len(w) < 3 or w in banned or w in seen:
            continue
        seen.add(w)
        words.append(w)
        if len(words) == 30000:
            break
    return tuple(EN_FUNCTION + words)


class _Words:
    """Zipf sampler over the vocabulary. Word draws come from large
    pre-drawn blocks; scalar draws (lengths, choices) from ``self.r``."""

    _BLOCK = 1 << 18

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.r = random.Random(seed)
        self.vocab = np.array(_vocabulary(), dtype=object)
        ranks = np.arange(1, len(self.vocab) + 1, dtype=np.float64)
        p = 1.0 / (ranks + 1.7) ** 1.05
        self.cdf = np.cumsum(p / p.sum())
        self.content = list(self.vocab[len(EN_FUNCTION):])
        self.long = [w for w in self.content if len(w) >= 9]
        self._zipf: list[str] = []
        self._zpos = 0

    def zipf(self, n: int) -> list[str]:
        if self._zpos + n > len(self._zipf):
            idx = np.searchsorted(self.cdf, self.rng.random(self._BLOCK), side="right")
            self._zipf = list(self.vocab[np.minimum(idx, len(self.vocab) - 1)])
            self._zpos = 0
        out = self._zipf[self._zpos : self._zpos + n]
        self._zpos += n
        return out

    def content_words(self, n: int) -> list[str]:
        """Tail words only: no function word of any language."""
        return self.r.choices(self.content, k=n)

    def sentence(self, lo: int = 8, hi: int = 18) -> str:
        return " ".join(self.zipf(self.r.randint(lo, hi))).capitalize() + "."

    def paragraph(self) -> str:
        return "\n".join(self.sentence() for _ in range(self.r.randint(2, 4)))


def _pii(w: _Words) -> str:
    r = w.r
    a, b, c = r.randint(100, 9999), r.randint(100, 9999), r.randint(100, 9999)
    name = w.content_words(1)[0]
    return r.choice(
        [
            f"write to {name}.{a}@mail{b}.example.com for details",
            f"call +1-555-{a % 1000:03d}-{b:04d} during office hours",
            f"my ssn is {a % 900 + 100:03d}-{b % 90 + 10:02d}-{c % 9000 + 1000:04d} keep it safe",
            f"the host at 10.{a % 256}.{b % 256}.{c % 256} was rebooted",
        ]
    )


def _clean(w: _Words, pii: bool) -> str:
    paras = [w.paragraph() for _ in range(w.r.randint(2, 5))]
    if pii:
        i = w.r.randrange(len(paras))
        paras[i] = paras[i] + "\n" + _pii(w).capitalize() + "."
    return "\n\n".join(paras)


def _failing(kind: str, w: _Words, j: int) -> str:
    """The ``j``-th document of ``kind``: it passes every rule of
    webtext_quality.toml before the rule ``kind`` and fails that one."""
    r = w.r
    if kind == "has_text":
        return "" if j == 0 else " \n\t"[j % 3] * j
    if kind == "min_length":
        return w.sentence(3, 12)[:140]
    if kind == "word_count_between":
        return " ".join(r.choices(w.long, k=r.randint(16, 20))).capitalize() + "."
    if kind == "mean_word_length_between":
        return " ".join(
            "".join(w.content_words(2)) + r.choice(w.long)
            for _ in range(r.randint(25, 59))
        )
    if kind == "symbol_ratio_below":
        out = []
        for word in w.zipf(r.randint(40, 99)):
            out.append(word)
            if r.random() < 0.5:
                out.append("".join(r.choices(_SYMBOLS, k=r.randint(2, 4))))
        return " ".join(out)
    if kind == "line_repetition_below":
        lines = [w.sentence() for _ in range(3)]
        order = [0, 1, 0, 1, 0, 2, 0, 1, 0, 2]
        return "\n".join(lines[k] for k in order) + "\n" + w.sentence()
    if kind == "word_repetition_below":
        pool = w.zipf(40)[:14]
        return "\n".join(
            " ".join(r.choices(pool, k=12)) for _ in range(r.randint(12, 17))
        )
    if kind == "lang_is":
        markers = FOREIGN_FUNCTION[("fr", "de")[j % 2]]
        out = [
            r.choice(markers) if r.random() < 0.35 else w.content_words(1)[0]
            for _ in range(r.randint(40, 99))
        ]
        return " ".join(out).capitalize() + "."
    if kind == "stopword_ratio_above":
        words = w.content_words(r.randint(60, 139))
        words.insert(r.randrange(len(words)), "the")
        return " ".join(words).capitalize() + "."
    raise ValueError(kind)


def _long_document(w: _Words) -> str:
    paras: list[str] = []
    size = 0
    while size <= MAX_LENGTH:
        p = w.paragraph()
        paras.append(p)
        size += len(p) + 2
    return "\n\n".join(paras)


def _near_dup(text: str, w: _Words) -> str:
    """Substitute ~5% of the words, keeping line and paragraph breaks."""
    out = []
    for line in text.split("\n"):
        ws = line.split(" ")
        for i in range(len(ws)):
            if ws[i] and w.r.random() < 0.05:
                ws[i] = w.zipf(1)[0]
        out.append(" ".join(ws))
    return "\n".join(out)


def generate(profile: str, n_docs: int, seed: int) -> tuple[pd.DataFrame, dict]:
    """Return ``(docs, truth)``. ``docs`` has columns url, warc_ts, text,
    lang, category. ``truth["kind"]`` maps url -> kind; for the curation
    profile ``truth["near_dups"]`` lists ``[copy_url, original_url]``."""
    if profile not in ("rules", "curation"):
        raise ValueError(f"unknown profile {profile!r}")
    w = _Words(seed)
    r = w.r

    kinds = ["clean"] * n_docs
    pos = 0
    for kind, share in RULE_SHARES.items():
        k = int(round(share * n_docs))
        kinds[pos : pos + k] = [kind] * k
        pos += k
    if profile == "rules":
        kinds[pos] = "max_length"
    r.shuffle(kinds)

    cat_w = [1.0 / k**2.5 for k in range(1, N_CATEGORIES + 1)]
    categories = [
        f"cat{c:02d}" for c in r.choices(range(N_CATEGORIES), weights=cat_w, k=n_docs)
    ]

    seen_kind: dict[str, int] = {}
    texts: list[str] = []
    for kind in kinds:
        j = seen_kind.get(kind, 0)
        seen_kind[kind] = j + 1
        if kind == "clean":
            texts.append(_clean(w, r.random() < PII_FRAC))
        elif kind == "max_length":
            texts.append(_long_document(w))
        else:
            texts.append(_failing(kind, w, j))

    urls = [f"https://{categories[i]}.example/doc/{i:07d}.html" for i in range(n_docs)]
    truth: dict = {"kind": dict(zip(urls, kinds))}
    if profile == "curation":
        clean = [i for i, k in enumerate(kinds) if k == "clean"]
        paragraphs = [w.paragraph() for _ in range(_PARAGRAPH_POOL)]
        for i in clean:
            if r.random() < 0.2:
                paras = texts[i].split("\n\n")
                paras.insert(r.randint(0, len(paras)), r.choice(paragraphs))
                texts[i] = "\n\n".join(paras)
        # near-dup copies overwrite clean documents with an edited copy of
        # another clean document, in clusters of 2 to 5
        n_dups = int(round(NEAR_DUP_FRAC * n_docs))
        order = clean[:]
        r.shuffle(order)
        pairs: list[list[str]] = []
        lo, hi = 0, len(order) - 1
        while len(pairs) < n_dups and lo < hi:
            orig = order[lo]
            lo += 1
            for _ in range(r.randint(1, 4)):
                if len(pairs) == n_dups or hi <= lo:
                    break
                copy = order[hi]
                hi -= 1
                texts[copy] = _near_dup(texts[orig], w)
                pairs.append([urls[copy], urls[orig]])
        truth["near_dups"] = pairs
        boiler = [w.sentence(6, 10) for _ in range(_BOILERPLATE_POOL)]
        bp_w = [1.0 / k for k in range(1, _BOILERPLATE_POOL + 1)]
        for i in range(n_docs):
            if not texts[i].strip():
                continue
            if r.random() < 0.5:
                texts[i] = r.choices(boiler, weights=bp_w)[0] + "\n" + texts[i]
            if r.random() < 0.5:
                texts[i] = texts[i] + "\n" + r.choices(boiler, weights=bp_w)[0]
        in_pairs = set(order[:lo]) | set(order[hi + 1 :])
        spare = [i for i in clean if i not in in_pairs]
        for u, i in zip(BLOCKLIST, r.sample(spare, len(BLOCKLIST))):
            truth["kind"][u] = truth["kind"].pop(urls[i])
            urls[i] = u
    # every document is distinct: a rare collision of two short texts
    # gets the row number appended
    seen: set[str] = set()
    for i, t in enumerate(texts):
        if t in seen:
            texts[i] = f"{t} ref{i}"
        seen.add(texts[i])

    base_ts = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    docs = pd.DataFrame(
        {
            "url": urls,
            "warc_ts": pd.Series(
                [base_ts + dt.timedelta(minutes=r.randrange(30 * 24 * 60)) for _ in urls],
                dtype="datetime64[us, UTC]",
            ),
            "text": texts,
            "lang": ["fr" if k == "lang_is" else "en" for k in kinds],
            "category": categories,
        }
    )
    return docs, truth


def digest(docs: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for col in docs.columns:
        for v in docs[col]:
            h.update(repr(v).encode())
            h.update(b"\x00")
    return h.hexdigest()[:16]


def write_parquet(docs: pd.DataFrame, path: str, n_files: int) -> int:
    """Write ``docs`` as ``n_files`` parquet files, so that a scan splits
    into several tasks; returns the bytes written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(docs, preserve_index=False)
    n = table.num_rows
    total = 0
    for k in range(n_files):
        lo, hi = k * n // n_files, (k + 1) * n // n_files
        f = os.path.join(path, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), f)
        total += os.path.getsize(f)
    return total
