"""Seeded web-page corpus and query generator for the benchmark.

Pages are `(doc_id, url, warc_ts, text, lang)`. Every page's text is
lowercase `[a-z0-9 ]` joined by single spaces, so the engine's `default`
tokenizer and DuckDB's `string_split(text, ' ')` produce the same token
stream (the property the DuckDB oracle relies on). A page is three runs
of tokens:

- a head run drawn uniformly from the 31-word vocabulary of the
  engine's gate corpus: every head word occurs in most pages, so head
  terms are the hot postings lists;
- a long-tail suffix drawn Zipf-weighted from 1,500 generated words,
  so scores do not tie across pages and rare terms exist;
- two slice-local tokens from the vocabulary of the page's crawl slice.
  Pages are ordered by `warc_ts` and slice `s` holds a contiguous time
  range, so a slice word lives in one slice's segments only.

Queries are drawn by the seed from document-frequency bands of the
generated corpus. The program only ever receives the generated pages
and queries; the seed stays here.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

HEAD_WORDS = (
    "a agg batch big column customer data fast filter group hash index join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
TAIL_VOCAB = 1_500
TAIL_ZIPF_S = 1.1
SLICE_VOCAB = 50
LANGS = ("en", "de", "fr", "es", "zh", "ja", "ru", "pt")
LANG_P = (0.40, 0.14, 0.12, 0.10, 0.09, 0.06, 0.05, 0.04)
TS0 = dt.datetime(2024, 1, 1)
TS_STEP_S = 97

CLASSES = (
    "term_hot",
    "term_rare",
    "or",
    "and",
    "bool",
    "time_filter",
    "wildcard",
    "phrase",
    "count",
    "agg_terms",
)


def tail_word(i: int) -> str:
    """Tail word `i`: 'z' + four base-26 letters (never a head word;
    each 4-letter stem `zXYZ*` covers 26 word ids)."""
    out = []
    for _ in range(4):
        out.append(chr(97 + i % 26))
        i //= 26
    return "z" + "".join(reversed(out))


def slice_word(s: int, j: int) -> str:
    return f"c{s}v{j}"


@dataclass
class Corpus:
    doc_id: np.ndarray  # int64, ascending, == warc_ts order
    texts: list[str]
    lang: list[str]
    slice_of: np.ndarray  # int32 slice index per page
    # term -> document frequency over the whole corpus
    df: dict = field(default_factory=dict)

    @property
    def num_docs(self) -> int:
        return len(self.texts)

    @property
    def text_bytes(self) -> int:
        return sum(len(t) for t in self.texts)

    def warc_ts(self, doc_id) -> dt.datetime:
        return TS0 + dt.timedelta(seconds=int(doc_id) * TS_STEP_S)

    def table(self, rows: slice | None = None) -> pa.Table:
        rows = rows or slice(0, self.num_docs)
        ids = self.doc_id[rows]
        return pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "url": pa.array(
                    [f"https://site{i % 997}.example/p/{i}" for i in ids]
                ),
                "warc_ts": pa.array(
                    [self.warc_ts(i) for i in ids], pa.timestamp("us")
                ),
                "text": pa.array(self.texts[rows], pa.string()),
                "lang": pa.array(self.lang[rows], pa.string()),
            }
        )

    def slice_rows(self, s: int) -> slice:
        idx = np.flatnonzero(self.slice_of == s)
        return slice(int(idx[0]), int(idx[-1]) + 1)


def make_corpus(seed: int, num_docs: int, num_slices: int) -> Corpus:
    rng = np.random.default_rng([seed, 1])
    head = np.array(HEAD_WORDS, dtype=object)
    ranks = np.arange(1, TAIL_VOCAB + 1, dtype=np.float64)
    p_tail = ranks ** -TAIL_ZIPF_S
    p_tail /= p_tail.sum()
    # which tail word is hot depends on the seed
    tail_ids = rng.permutation(TAIL_VOCAB)
    n_head = rng.integers(8, 90, num_docs)
    n_tail = rng.integers(2, 10, num_docs)
    head_toks = rng.integers(0, len(head), int(n_head.sum()))
    tail_toks = tail_ids[rng.choice(TAIL_VOCAB, int(n_tail.sum()), p=p_tail)]
    slice_toks = rng.integers(0, SLICE_VOCAB, (num_docs, 2))
    slice_of = (np.arange(num_docs) * num_slices // num_docs).astype(np.int32)
    langs = rng.choice(len(LANGS), num_docs, p=LANG_P)
    texts: list[str] = []
    df: dict[str, int] = {}
    hpos = tpos = 0
    for d in range(num_docs):
        h = head[head_toks[hpos : hpos + n_head[d]]]
        hpos += n_head[d]
        t = [tail_word(int(i)) for i in tail_toks[tpos : tpos + n_tail[d]]]
        tpos += n_tail[d]
        s = int(slice_of[d])
        sl = [slice_word(s, int(j)) for j in slice_toks[d]]
        toks = [*h, *t, *sl]
        texts.append(" ".join(toks))
        for w in set(toks):
            df[w] = df.get(w, 0) + 1
    return Corpus(
        doc_id=np.arange(num_docs, dtype=np.int64),
        texts=texts,
        lang=[LANGS[i] for i in langs],
        slice_of=slice_of,
        df=df,
    )


@dataclass(frozen=True)
class Query:
    """One benchmark query: `cls` is one of CLASSES; `spec` is a plain
    description both the engine adapters and the oracle read."""

    cls: str
    spec: tuple

    def describe(self) -> str:
        return f"{self.cls}:{'|'.join(map(str, self.spec))}"


def _band(corpus: Corpus, lo: float, hi: float, pred=None) -> list[str]:
    n = corpus.num_docs
    out = [
        w
        for w, d in corpus.df.items()
        if lo * n <= d <= hi * n and (pred is None or pred(w))
    ]
    return sorted(out)


def _zipf_pick(rng, items: list[str], s: float = 1.2) -> str:
    """Zipf-weighted draw over a fixed item order, so a few terms repeat
    (and hit the engine's per-term doc-freq cache) while the tail
    misses it."""
    w = np.arange(1, len(items) + 1, dtype=np.float64) ** -s
    return items[int(rng.choice(len(items), p=w / w.sum()))]


def _time_cut(corpus: Corpus, frac: float) -> str:
    i = int(corpus.doc_id[int(frac * (corpus.num_docs - 1))])
    return corpus.warc_ts(i).strftime("%Y-%m-%dT%H:%M:%S")


class QueryGen:
    """Seeded query generator over one corpus's document-frequency
    bands. `draw(cls)` returns a Query of that class."""

    def __init__(self, corpus: Corpus, seed: int):
        self.c = corpus
        self.rng = np.random.default_rng([seed, 2])
        is_tail = lambda w: w.startswith("z")  # noqa: E731
        self.hot = [w for w in HEAD_WORDS if w in corpus.df]
        self.rng.shuffle(self.hot)
        # the bands are narrow, so that a class asks for about the same
        # amount of work whatever terms the seed draws for it
        self.mid = _band(corpus, 0.005, 0.015, is_tail)
        self.rng.shuffle(self.mid)
        self.rare = [w for w in _band(corpus, 0.0, 1.0, is_tail) if 5 <= corpus.df[w] <= 12]
        self.rng.shuffle(self.rare)
        # wildcard stems whose expansions' document frequencies sum to
        # 2-5 % of the pages
        stems: dict[str, int] = {}
        for w, d in corpus.df.items():
            if is_tail(w):
                stems[w[:4]] = stems.get(w[:4], 0) + d
        n = corpus.num_docs
        self.stems = sorted(s for s, d in stems.items() if 0.02 * n <= d <= 0.05 * n)
        self.rng.shuffle(self.stems)

    def _hot(self, k: int = 1) -> list[str]:
        return [str(w) for w in self.rng.choice(self.hot, k, replace=False)]

    def draw(self, cls: str, mid: str | None = None) -> Query:
        """A query of class `cls`. `mid` replaces the mid-band term of
        the `or`, `and`, `bool`, `count` and `agg_terms` classes (e.g.
        with a slice word, so the query asks for freshly indexed
        pages)."""
        r = self.rng

        def pick_mid() -> str:
            return mid if mid is not None else _zipf_pick(r, self.mid)

        if cls == "term_hot":
            spec = (self._hot()[0],)
        elif cls == "term_rare":
            spec = (_zipf_pick(r, self.rare),)
        elif cls == "or":
            spec = (self._hot()[0], pick_mid(), _zipf_pick(r, self.rare))
        elif cls == "and":
            spec = (self._hot()[0], pick_mid())
        elif cls == "bool":
            a, b, c = self._hot(3)
            spec = (pick_mid(), a, b, c)  # must, should×2, must_not
        elif cls == "time_filter":
            spec = (_zipf_pick(r, self.mid), _time_cut(self.c, float(r.uniform(0.4, 0.6))))
        elif cls == "wildcard":
            spec = (_zipf_pick(r, self.stems) + "*",)
        elif cls == "phrase":
            spec = tuple(self._hot(2))
        elif cls in ("count", "agg_terms"):
            spec = (pick_mid(),)
        else:
            raise ValueError(f"unknown query class {cls!r}")
        return Query(cls, spec)

    def slice_term(self, s: int) -> str:
        """One word of slice `s`'s own vocabulary (present in the corpus)."""
        words = [slice_word(s, j) for j in range(SLICE_VOCAB)]
        words = [w for w in words if w in self.c.df]
        return str(self.rng.choice(words))

    def slice_query(self, s: int) -> Query:
        """A `term_rare` query for one word of slice `s`'s own vocabulary."""
        return Query("term_rare", (self.slice_term(s),))
