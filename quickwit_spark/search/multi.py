"""Multi-index search — the reference's index-pattern fan-out.

The reference's root search accepts several indexes per request (ES
`_search` on `idx-a,logs-*`; index-pattern resolution and the
per-index leaf-search metadata map at
`quickwit-search/src/root.rs:162-168,561`), runs leaf searches per
index, and merges partial hits WITHOUT score renormalization — BM25
statistics stay per-split, exactly like the single-index case.

Spark shape: each member index's top-k plan (pushed term scan →
per-segment kernel → per-index TakeOrderedAndProject) is a separate
DataFrame; the federation layer unions the ≤ k-row winner frames and
re-ranks once — per-index work stays fully distributed, only k×I rows
meet at the merge.
"""

from __future__ import annotations

import fnmatch
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from quickwit_spark.search.engine import IndexSearcher


def resolve_index_patterns(root_dir: str, patterns) -> list[str]:
    """Expand comma-separated index patterns (`idx-a,logs-*`) against
    the subdirectories of `root_dir` that hold an index manifest —
    the ES index-pattern resolution analog. Deterministic (sorted)."""
    if isinstance(patterns, str):
        patterns = [p.strip() for p in patterns.split(",") if p.strip()]
    names = sorted(
        d
        for d in os.listdir(root_dir)
        if os.path.isdir(os.path.join(root_dir, d, "_manifest"))
    )
    out = []
    for name in names:
        if any(fnmatch.fnmatch(name, p) for p in patterns):
            out.append(os.path.join(root_dir, name))
    return out


class MultiIndexSearcher:
    """Federated searcher over several indexes (same or different
    configs). Scores are each index's own BM25 (per-split statistics,
    no renormalization — reference semantics); ties across indexes
    break on (score desc, _index asc, doc_key asc)."""

    def __init__(self, spark: SparkSession, index_dirs: list[str]):
        if not index_dirs:
            raise ValueError("no index matched the given patterns")
        self.spark = spark
        self.searchers = [(d, IndexSearcher(spark, d)) for d in index_dirs]

    @classmethod
    def resolve(cls, spark: SparkSession, root_dir: str, patterns="*"):
        return cls(spark, resolve_index_patterns(root_dir, patterns))

    def refresh(self) -> None:
        for _, s in self.searchers:
            s.refresh()

    def count(self, query, time_range=None) -> int:
        return sum(s.count(query, time_range=time_range) for _, s in self.searchers)

    def search(
        self,
        query,
        k: int = 10,
        mode: str = "parity",
        time_range=None,
        fetch: list[str] | None = None,
    ) -> DataFrame:
        """Global top-k across all member indexes: union of per-index
        ≤ k-row winner frames, one final rank. Adds an `_index` column
        (the index directory basename, like ES `_index` in hits)."""
        parts = []
        for d, s in self.searchers:
            df = s.search(query, k=k, mode=mode, time_range=time_range, fetch=fetch)
            parts.append(
                df.drop("rank").withColumn(
                    "_index", F.lit(os.path.basename(d.rstrip("/")))
                )
            )
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p, allowMissingColumns=True)
        # ≤ k×I rows: a single-partition rank window here is bounded by
        # construction (never corpus-sized), same shape as the engine's
        # own winner ranking
        w = Window.orderBy(
            F.col("score").desc(), F.col("_index").asc(), F.col("doc_key").asc()
        )
        return (
            u.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .orderBy("rank")
        )

    def matches(self, query, time_range=None, columns=None) -> DataFrame:
        """Union of every member index's matching docs joined to their
        fast-field columns — the input frame for cross-index
        aggregations (the reference root merges per-index aggregation
        partials, `root.rs` merge_fruits across indexes; here ONE
        distributed agg plan runs over the union instead)."""
        from quickwit_spark.search import aggs as _aggs

        parts = [
            _aggs.matches(s, query, time_range=time_range, columns=columns)
            for _, s in self.searchers
        ]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p, allowMissingColumns=True)
        return u

    def es_search(self, body: dict, mode: str = "parity") -> dict:
        """ES `_search` across the member indexes (the reference's ES
        handler accepts index patterns in the URL): hits are the merged
        per-index top-k (per-index BM25 stats, no renormalization);
        aggregations run once over the union of match frames. The query
        is resolved against EACH index's own field config, like the
        reference's per-index doc-mapper resolution."""
        from quickwit_spark.search.es_aggs import run_es_aggs

        out: dict = {}
        size = int(body.get("size", 10))
        # one resolved plan per member serves its hits, total and aggs
        plans = [
            (d, s, s._resolve(s._es_ast(body), None)) for d, s in self.searchers
        ]

        if size > 0:
            parts = []
            for d, s, plan in plans:
                df = s.search(None, k=size, mode=mode,
                              fetch=list(body.get("_source") or []),
                              _resolved=plan)
                parts.append(
                    df.drop("rank").withColumn(
                        "_index", F.lit(os.path.basename(d.rstrip("/")))
                    )
                )
            u = parts[0]
            for p in parts[1:]:
                u = u.unionByName(p, allowMissingColumns=True)
            w = Window.orderBy(
                F.col("score").desc(), F.col("_index").asc(), F.col("doc_key").asc()
            )
            out["hits"] = (
                u.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= size)
                .orderBy("rank")
            )
        out["total"] = sum(s.count(None, _resolved=plan) for _, s, plan in plans)
        if body.get("aggs"):
            from quickwit_spark.search.es_aggs import _validate_aggs

            agg_body = body["aggs"]
            _validate_aggs(None, agg_body)
            # one frame per index (resolved per index config), one
            # distributed agg plan over the union
            mparts = [s._match_frame(plan) for _, s, plan in plans]
            mu = mparts[0]
            for p in mparts[1:]:
                mu = mu.unionByName(p, allowMissingColumns=True)
            # engine parity: a field unmapped on EVERY member aggregates
            # over all-null (empty buckets / null metrics, never an
            # error) — same convention as _agg_frame_and_body. This
            # facade resolves PHYSICAL column names only; dynamic
            # dot-path fields with per-member field_options resolve
            # through the ES wire's federated path (_aggs_shaped_many),
            # which runs each member's own field resolution.
            derived: list[str] = []
            cols = set(mu.columns)

            def rewrite(node: dict) -> dict:
                res = {}
                for name, spec in node.items():
                    res[name] = {}
                    for k, v in spec.items():
                        if k in ("aggs", "aggregations"):
                            res[name][k] = rewrite(v)
                        elif (
                            isinstance(v, dict)
                            and isinstance(v.get("field"), str)
                            and v["field"] not in cols
                        ):
                            alias = f"__qw_multi_{len(derived)}"
                            derived.append(alias)
                            res[name][k] = {**v, "field": alias}
                        else:
                            res[name][k] = v
                return res

            body2 = rewrite(agg_body)
            for alias in derived:
                mu = mu.withColumn(alias, F.lit(None).cast("double"))
            out["aggregations"] = run_es_aggs(mu, body2)
        return out
