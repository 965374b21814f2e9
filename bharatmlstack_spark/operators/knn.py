"""VectorSearch: skye's KNN / scoring / filtered retrieval, Spark-first.

Reference surface (go-sdk/pkg/clients/skye/client/proto/skye.proto:7-83,
skye/internal/repositories/vector/qdrant.go:351-412, filters.go:54-191):
- GetSimilarCandidates: per-query KNN with payload filters + global filters
- GetEmbedding / dot-product scoring for explicit candidate id lists
- distances: DOT / COSINE / EUCLIDEAN (skye/README.md:17)
- filter operators (skye.proto:27-46): IN NIN EX SEARCH LT LTE GT GTE BTW
  BTWE LAST_X_DAYS WTHN — BTW is exclusive, BTWE inclusive (filters.go:
  118-127); values arrive as strings and coerce by field schema
  (filters.go:163-191).

Spark shapes:
- exact KNN = broadcast the (small) query set against the candidate table,
  score JVM-side, per-query top-k via window row_number — one shuffle on
  query_id sized k×queries, no full sort of candidates.
- at 100-TB scale the exact path stays viable because the candidate side
  never shuffles (scores reduce map-side to k per partition under AQE);
  the sub-linear path is LSH bucketing (operators/lsh.py) which replaces
  the cross product with a bucket equi-join.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bharatmlstack_spark.functions.sqltext import sql_in, sql_literal
from bharatmlstack_spark.functions.vector import cosine_similarity, dot, euclidean_distance

_OPS = (
    "IN", "NIN", "EX", "SEARCH", "LT", "LTE", "GT", "GTE", "BTW", "BTWE",
    "LAST_X_DAYS", "WTHN",
)


@dataclass
class FilterSpec:
    """One payload filter (skye.proto Filter: field, operator, values)."""

    field: str
    op: str
    values: list[Any]

    def to_column(self, now: Column | None = None) -> Column:
        """Compile to a boolean Column (P6). Mirrors filters.go:54-191."""
        c = F.col(self.field)
        op = self.op.upper()
        if op == "IN":
            return c.isin(self.values)
        if op == "NIN":
            return ~c.isin(self.values)
        if op == "EX":
            return c.isNotNull()
        if op == "SEARCH":
            return c.contains(str(self.values[0]))
        if op == "LT":
            return c < F.lit(self.values[0])
        if op == "LTE":
            return c <= F.lit(self.values[0])
        if op == "GT":
            return c > F.lit(self.values[0])
        if op == "GTE":
            return c >= F.lit(self.values[0])
        if op == "BTW":  # exclusive (filters.go:118-121)
            return (c > F.lit(self.values[0])) & (c < F.lit(self.values[1]))
        if op == "BTWE":  # inclusive (filters.go:123-127)
            return (c >= F.lit(self.values[0])) & (c <= F.lit(self.values[1]))
        if op == "LAST_X_DAYS":
            base = now if now is not None else F.current_timestamp()
            return c >= (base - F.make_interval(days=F.lit(int(self.values[0]))))
        if op == "WTHN":
            # geo-within: values = [lon, lat, radius_meters]; field is a
            # struct/prefix with <field>_lon / <field>_lat columns
            lon, lat, radius = (float(v) for v in self.values[:3])
            return _haversine_m(
                F.col(f"{self.field}_lat"), F.col(f"{self.field}_lon"),
                F.lit(lat), F.lit(lon),
            ) <= F.lit(radius)
        raise ValueError(f"unsupported filter operator {self.op!r} (want one of {_OPS})")


def _haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    r = 6371000.0
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) ** 2
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon / 2) ** 2
    )
    return F.lit(2 * r) * F.asin(F.sqrt(a))


def compile_filters(
    filters: list[FilterSpec] | None,
    global_filters: list[FilterSpec] | None = None,
    now: Column | None = None,
) -> Column | None:
    """P7: per-query filters AND global filters, one conjunction
    (qdrant.go:393-412 merges globals into every query)."""
    specs = list(filters or []) + list(global_filters or [])
    if not specs:
        return None
    return reduce(lambda a, b: a & b, (s.to_column(now) for s in specs))


def score_column(metric: str, emb: Column | str, query: Column | str) -> Column:
    m = metric.upper()
    if m in ("DOT", "DOT_PRODUCT"):
        return dot(emb, query)
    if m == "COSINE":
        return cosine_similarity(emb, query)
    if m in ("EUCLID", "EUCLIDEAN", "L2"):
        return euclidean_distance(emb, query)
    raise ValueError(f"unknown distance metric {metric!r}")


class VectorSearch:
    """Candidate collection = DataFrame(id, embedding, payload columns…)."""

    def __init__(self, id_col: str = "candidate_id", emb_col: str = "embedding"):
        self.id_col = id_col
        self.emb_col = emb_col

    def knn(
        self,
        candidates: DataFrame,
        queries: DataFrame,
        k: int,
        metric: str = "DOT",
        filters: list[FilterSpec] | None = None,
        global_filters: list[FilterSpec] | None = None,
        query_id_col: str = "query_id",
        query_emb_col: str = "query_embedding",
        now: Column | None = None,
    ) -> DataFrame:
        """J6/W4/T3: exact top-k per query under filters.

        Euclidean ranks ascending (nearer is better); DOT/COSINE descending
        — matching qdrant distance ordering.
        """
        pred = compile_filters(filters, global_filters, now)
        cand = candidates.filter(pred) if pred is not None else candidates
        joined = cand.crossJoin(F.broadcast(queries.select(query_id_col, query_emb_col)))
        score = score_column(metric, F.col(self.emb_col), F.col(query_emb_col))
        scored = joined.withColumn("score", score)
        ascending = metric.upper() in ("EUCLID", "EUCLIDEAN", "L2")
        order = [F.asc("score") if ascending else F.desc("score"), F.asc(self.id_col)]
        w = Window.partitionBy(query_id_col).orderBy(*order)
        return (
            scored.withColumn("__rank", F.row_number().over(w))
            .filter(F.col("__rank") <= k)
            .withColumnRenamed("__rank", "rank")
            .drop(query_emb_col)
        )

    def knn_per_query(
        self,
        candidates: DataFrame,
        queries: DataFrame,
        k: int,
        query_filters: dict[Any, list[FilterSpec]],
        metric: str = "DOT",
        global_filters: list[FilterSpec] | None = None,
        query_id_col: str = "query_id",
        query_emb_col: str = "query_embedding",
        now: Column | None = None,
    ) -> DataFrame:
        """J6 with PER-QUERY filters (skye.proto:7-16 — each candidate
        request carries its own filters; globals merge into every one,
        qdrant.go:393-412).

        The per-query predicate compiles to one disjunction
        ``OR_q (query_id == q AND preds_q)`` applied after the broadcast
        cross join — still a single plan, no per-query job fan-out.
        """
        joined = candidates.crossJoin(
            F.broadcast(queries.select(query_id_col, query_emb_col))
        )
        branches = []
        for qid, specs in query_filters.items():
            pred = compile_filters(specs, global_filters, now)
            qmatch = F.col(query_id_col) == F.lit(qid)
            branches.append(qmatch & pred if pred is not None else qmatch)
        # queries absent from the dict get only the global filters
        listed = list(query_filters.keys())
        rest = ~F.col(query_id_col).isin(listed) if listed else F.lit(True)
        gpred = compile_filters(None, global_filters, now)
        branches.append(rest & gpred if gpred is not None else rest)
        joined = joined.filter(reduce(lambda a, b: a | b, branches))

        score = score_column(metric, F.col(self.emb_col), F.col(query_emb_col))
        scored = joined.withColumn("score", score)
        ascending = metric.upper() in ("EUCLID", "EUCLIDEAN", "L2")
        order = [F.asc("score") if ascending else F.desc("score"), F.asc(self.id_col)]
        w = Window.partitionBy(query_id_col).orderBy(*order)
        return (
            scored.withColumn("__rank", F.row_number().over(w))
            .filter(F.col("__rank") <= k)
            .withColumnRenamed("__rank", "rank")
            .drop(query_emb_col)
        )

    def score_ids(
        self,
        candidates: DataFrame,
        ids_df: DataFrame,
        query_embedding: list[float],
        metric: str = "DOT",
    ) -> DataFrame:
        """J7/F17: dot-product scoring for an explicit candidate id list
        (skye.proto:67-83; adapter.go:68). The list is request-sized: it is
        collected to the driver (no job for a local frame) and filters the
        candidate scan as one literal IN list, then each row is scored."""
        ids = sql_in(self.id_col, (r[0] for r in ids_df.select(self.id_col).collect()))
        if ids is None:  # an id type without a SQL literal form
            cand = candidates.join(F.broadcast(ids_df), on=self.id_col, how="left_semi")
        else:
            cand = candidates.filter(ids)
        # one parsed array literal: F.lit(list) builds a Column per element
        q = F.expr(f"array({', '.join(sql_literal(float(v)) for v in query_embedding)})")
        return cand.withColumn("score", score_column(metric, F.col(self.emb_col), q))

    def get_embeddings(self, candidates: DataFrame, ids_df: DataFrame) -> DataFrame:
        """Bulk embedding retrieval (GetEmbedding): key semi-join."""
        return candidates.join(F.broadcast(ids_df), on=self.id_col, how="left_semi")
