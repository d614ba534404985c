"""DuckDB oracle for benchmark answers, and the answer checker.

Exact oracle-mode top-k reuses the repository's gate SQL
(`__spark_entry__._bm25_sql`: full BM25 with global statistics, scores
rounded to 6 places); positional phrases get the same formula with the
phrase frequency as tf and the rarest component term's document
frequency, which is how the engine's oracle mode scores them. Parity
mode answers (f32, per-segment statistics) are checked against the
oracle's match sets instead: a top-k answer must hold min(k, matches)
distinct true matches, counts and aggregations must be exact.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

from corpus import Query
from queries import K, TOPK_CLASSES

# rounding modes differ between Spark (HALF_UP), DuckDB and Python at
# the 6th decimal; two scores that agree to 6 places may print one unit
# apart there
SCORE_TOL = 1.000001e-6


def _q(t: str) -> str:
    return "'" + t.replace("'", "''") + "'"


class Oracle:
    """DuckDB over the generated pages. `upto` arguments restrict the
    corpus to doc_id < upto (the prefix indexed so far: pages arrive in
    doc_id order)."""

    def __init__(self, pages: pa.Table, threads: int = 2):
        self.db = duckdb.connect()
        self.db.execute(f"SET threads={int(threads)}")
        self.db.execute("SET TimeZone='UTC'")
        self.db.register("pages", pages)
        self.db.execute("CREATE TABLE documents AS SELECT * FROM pages")
        self.db.unregister("pages")
        self.db.execute(
            """
            CREATE TABLE ptoks AS
            SELECT doc_id, unnest(l) AS term, unnest(range(1, len(l) + 1)) AS pos
            FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
            """
        )

    def close(self) -> None:
        self.db.close()

    # ---------------------------------------------------------- match sets

    def _match_sql(self, q: Query) -> str:
        s = q.spec

        def has(t):
            return f"SELECT doc_id FROM ptoks WHERE term = {_q(t)}"

        if q.cls in ("term_hot", "term_rare", "count", "agg_terms", "or"):
            return f"SELECT doc_id FROM ptoks WHERE term IN ({', '.join(map(_q, s))})"
        if q.cls == "and":
            return " INTERSECT ".join(has(t) for t in s)
        if q.cls == "bool":
            return f"({has(s[0])}) EXCEPT ({has(s[3])})"
        if q.cls == "time_filter":
            cut = s[1].replace("T", " ")
            return (
                f"({has(s[0])}) INTERSECT (SELECT doc_id FROM documents "
                f"WHERE warc_ts < TIMESTAMPTZ '{cut}+00')"
            )
        if q.cls == "wildcard":
            return f"SELECT doc_id FROM ptoks WHERE term LIKE {_q(s[0].rstrip('*') + '%')}"
        if q.cls == "phrase":
            return (
                "SELECT a.doc_id FROM ptoks a JOIN ptoks b ON a.doc_id = b.doc_id "
                f"AND b.pos = a.pos + 1 WHERE a.term = {_q(s[0])} AND b.term = {_q(s[1])}"
            )
        raise ValueError(q.cls)

    def match_set(self, q: Query, upto: int | None = None) -> frozenset:
        lim = f" WHERE doc_id < {int(upto)}" if upto is not None else ""
        rows = self.db.execute(
            f"SELECT DISTINCT doc_id FROM ({self._match_sql(q)}){lim}"
        ).fetchall()
        return frozenset(r[0] for r in rows)

    def agg(self, q: Query, upto: int | None = None) -> list:
        lim = f" AND d.doc_id < {int(upto)}" if upto is not None else ""
        rows = self.db.execute(
            f"""
            SELECT d.lang AS key, COUNT(*) AS doc_count FROM documents d
            WHERE d.doc_id IN ({self._match_sql(q)}){lim}
            GROUP BY d.lang ORDER BY doc_count DESC, key ASC LIMIT {K}
            """
        ).fetchall()
        return [(k, int(c)) for k, c in rows]

    def expected(self, q: Query, upto: int | None = None):
        """What a parity-mode answer is checked against: the match set
        (top-k classes, count) or the exact agg buckets."""
        if q.cls == "agg_terms":
            return self.agg(q, upto)
        return self.match_set(q, upto)

    # ------------------------------------------------- exact oracle top-k

    def topk_exact(self, q: Query, upto: int | None = None) -> list:
        from __spark_entry__ import _bm25_sql, _toks_cte

        corpus = (
            f"(SELECT * FROM documents WHERE doc_id < {int(upto)})"
            if upto is not None
            else "documents"
        )
        s = q.spec
        if q.cls in ("term_hot", "term_rare", "or"):
            sql = _bm25_sql([(t, 1.0) for t in s], corpus_sql=corpus)
        elif q.cls == "and":
            sql = _bm25_sql([(t, 1.0) for t in s], must=list(s), corpus_sql=corpus)
        elif q.cls == "bool":
            sql = _bm25_sql(
                [(s[0], 1.0), (s[1], 1.0), (s[2], 1.0)],
                must=[s[0]],
                must_not=[s[3]],
                corpus_sql=corpus,
            )
        elif q.cls == "time_filter":
            cut = s[1].replace("T", " ")
            sql = _bm25_sql(
                [(s[0], 1.0)],
                must=[s[0]],
                filter_sql=f"warc_ts < TIMESTAMPTZ '{cut}+00'",
                corpus_sql=corpus,
            )
        elif q.cls == "wildcard":
            sql = _bm25_sql(
                [], term_pred=f"term LIKE {_q(s[0].rstrip('*') + '%')}", corpus_sql=corpus
            )
        elif q.cls == "phrase":
            sql = self._phrase_sql(s[0], s[1], corpus, _toks_cte(corpus))
        else:
            raise ValueError(f"no exact top-k oracle for {q.cls}")
        return [(int(d), float(sc)) for d, sc, _r in self.db.execute(sql).fetchall()]

    @staticmethod
    def _phrase_sql(a: str, b: str, corpus: str, toks_cte: str) -> str:
        return f"""
WITH {toks_cte},
pt AS (
  SELECT doc_id, unnest(l) AS term, unnest(range(1, len(l) + 1)) AS pos
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM {corpus} AS corpus)
),
pf AS (
  SELECT x.doc_id, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM pt x JOIN pt y ON x.doc_id = y.doc_id AND y.pos = x.pos + 1
  WHERE x.term = {_q(a)} AND y.term = {_q(b)}
  GROUP BY x.doc_id
),
df AS (
  SELECT CAST(MIN(c) AS DOUBLE) AS df FROM (
    SELECT term, COUNT(DISTINCT doc_id) AS c FROM toks
    WHERE term IN ({_q(a)}, {_q(b)}) GROUP BY term
  )
),
scored AS (
  SELECT pf.doc_id,
         ROUND(ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5)) * 2.2
           * pf.tf / (pf.tf + 1.2 * (0.25 + 0.75 * dl.dl / (s.total / s.n))), 9) AS s9
  FROM pf JOIN dl ON pf.doc_id = dl.doc_id CROSS JOIN stats s CROSS JOIN df
)
SELECT doc_id AS doc_key, ROUND(s9, 6) AS score,
       ROW_NUMBER() OVER (ORDER BY s9 DESC, doc_id DESC) AS rank
FROM scored ORDER BY s9 DESC, doc_id DESC LIMIT {K}
"""


# ------------------------------------------------------------ the checker


def check_exact(got: list, want: list) -> str | None:
    """Oracle-mode top-k: same doc_keys in the same order, scores equal
    to 6 places. Returns None when correct, else the reason."""
    if [d for d, _ in got] != [d for d, _ in want]:
        return f"doc_keys {[d for d, _ in got]} != oracle {[d for d, _ in want]}"
    for (d, a), (_, b) in zip(got, want):
        if abs(round(a, 6) - b) > SCORE_TOL:
            return f"doc {d}: score {a:.9f} != oracle {b:.6f}"
    return None


def check_parity(cls: str, got, expected) -> str | None:
    """A parity-mode answer against the oracle: `expected` is the match
    set (top-k classes, count) or the agg buckets (agg_terms). For ES
    top-k answers `got` is (hits, (total, relation))."""
    if cls == "count":
        n = len(expected)
        return None if got == n else f"count {got} != oracle {n}"
    if cls == "agg_terms":
        return None if list(got) == list(expected) else f"agg {got} != oracle {expected}"
    if cls not in TOPK_CLASSES:
        raise ValueError(cls)
    total = None
    if isinstance(got, tuple):
        got, total = got
    keys = [d for d, _ in got]
    want_n = min(K, len(expected))
    if len(keys) != want_n:
        return f"{len(keys)} hits, oracle has {len(expected)} matches (k={K})"
    if len(set(keys)) != len(keys):
        return f"duplicate hits {keys}"
    wrong = [d for d in keys if d not in expected]
    if wrong:
        return f"non-matching hits {wrong}"
    if total is not None:
        value, relation = total
        n = len(expected)
        ok = value == n if relation == "eq" else min(K, n) <= value <= n
        if not ok:
            return f"total {value} ({relation}) vs oracle {n}"
    return None
