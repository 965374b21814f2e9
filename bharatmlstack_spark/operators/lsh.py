"""Approximate nearest neighbor over embedding columns — the scale path.

Brute-force KNN (operators/knn.py) is exact and fine up to ~10^6 candidates
per executor; at 100 TB the cross product dies. Two sub-linear variants:

- Random-hyperplane LSH (signed projections -> bit signature -> band
  equi-join): candidates = rows sharing a band with the query; exact score
  only on candidates. Cost ~ (rows x bands) map-side + a bucket-local join.
- IVF (inverted file): k coarse centroids (sampled + refined driver-side on
  a tiny sample — NOT a full kmeans over the data), each row assigned to
  its nearest centroid map-side; queries probe the nprobe nearest cells.
  The probe join is an equi-join on cell id.

Projection vectors / centroids are deterministic (seeded numpy) and enter
the plan as broadcast scalars. Both index classes default to Arrow-batched
pandas UDFs for the per-row hot loops (signature / cell assignment — one
numpy GEMM per batch) and keep a pure-JVM expression fallback behind
``use_arrow=False`` for Arrow-less clusters; pandas is only imported
inside the Arrow paths, so the module imports cleanly without it.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bharatmlstack_spark.functions.vector import dot
from bharatmlstack_spark.operators.knn import score_column


def _lit_vec(v: np.ndarray) -> Column:
    # ONE py4j call (array literal), not dim lit() calls + array() — the
    # per-element form costs ~dim*2 driver round-trips per vector (guide
    # §5: driver work); the literal's double values are identical
    return F.lit([float(x) for x in v])


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def signature_bits(emb_col: Column | str, planes: np.ndarray) -> Column:
    """Sign-bit signature: bit i = 1 iff emb . plane_i >= 0 — one long per
    <=64 planes, computed entirely JVM-side."""
    emb = F.col(emb_col) if isinstance(emb_col, str) else emb_col
    sig = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    for i, p in enumerate(planes):
        bit = F.when(dot(emb, _lit_vec(p)) >= 0, F.shiftleft(one, i)).otherwise(
            F.lit(0).cast("long")
        )
        sig = sig + bit
    return sig


def band_columns(sig: Column, n_bands: int, band_bits: int) -> list[Column]:
    mask = (1 << band_bits) - 1
    return [
        F.shiftright(sig, i * band_bits).bitwiseAND(F.lit(mask)).alias(f"band_{i}")
        for i in range(n_bands)
    ]


class LshIndex:
    """Random-hyperplane LSH ANN index as a pure DataFrame plan."""

    def __init__(
        self,
        dim: int,
        n_planes: int = 16,
        n_bands: int = 4,
        seed: int = 42,
        id_col: str = "vec_id",
        emb_col: str = "embedding",
        use_arrow: bool = True,
    ):
        if n_planes % n_bands:
            raise ValueError("n_planes must divide into n_bands evenly")
        self.planes = random_hyperplanes(dim, n_planes, seed)
        self.n_bands = n_bands
        self.band_bits = n_planes // n_bands
        self.id_col = id_col
        self.emb_col = emb_col
        # Arrow path: one numpy matmul per batch instead of n_planes nested
        # aggregate expressions — ~2x faster and the shape that scales with
        # n_planes. Index and search MUST use the same path (sign of a
        # near-zero projection can differ between fold orders).
        self.use_arrow = use_arrow

    def _signature(self, emb_col: str) -> Column:
        if not self.use_arrow:
            return signature_bits(emb_col, self.planes)
        import pandas as pd  # lazy: only the Arrow path needs it
        from pyspark.sql.functions import pandas_udf

        planes = self.planes
        weights = (1 << np.arange(planes.shape[0])).astype(np.int64)

        def _sig(s):
            m = np.stack(s.to_numpy())
            bits = (m @ planes.T) >= 0
            return pd.Series(bits @ weights, index=s.index)

        # no type hints: pandas is imported locally, so string annotations
        # would not resolve at decoration time
        return pandas_udf(_sig, "long")(F.col(emb_col))

    def index(self, candidates: DataFrame) -> DataFrame:
        """(id, embedding, band_idx, band_hash) exploded — persist/bucket
        this by (band_idx, band_hash) at scale for a shuffle-free probe."""
        sig = self._signature(self.emb_col).alias("__sig")
        with_sig = candidates.select(self.id_col, self.emb_col, sig)
        bands = band_columns(F.col("__sig"), self.n_bands, self.band_bits)
        return with_sig.select(
            self.id_col,
            self.emb_col,
            F.posexplode(F.array(*[b for b in bands])).alias("band_idx", "band_hash"),
        )

    def search(
        self,
        indexed: DataFrame,
        queries: DataFrame,
        k: int,
        metric: str = "DOT",
        query_id_col: str = "query_id",
        query_emb_col: str = "query_embedding",
    ) -> DataFrame:
        """Probe: band the queries identically, equi-join on
        (band_idx, band_hash), dedup candidates, exact-score, top-k."""
        qsig = self._signature(query_emb_col).alias("__sig")
        q = queries.select(query_id_col, query_emb_col, qsig)
        qbands = q.select(
            query_id_col,
            query_emb_col,
            F.posexplode(
                F.array(*band_columns(F.col("__sig"), self.n_bands, self.band_bits))
            ).alias("band_idx", "band_hash"),
        )
        cands = (
            indexed.join(F.broadcast(qbands), on=["band_idx", "band_hash"])
            .dropDuplicates([query_id_col, self.id_col])
        )
        scored = cands.withColumn(
            "score", score_column(metric, F.col(self.emb_col), F.col(query_emb_col))
        )
        ascending = metric.upper() in ("EUCLID", "EUCLIDEAN", "L2")
        order = [F.asc("score") if ascending else F.desc("score"), F.asc(self.id_col)]
        w = Window.partitionBy(query_id_col).orderBy(*order)
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id_col, self.id_col, "score", "rank")
        )


class IvfIndex:
    """IVF coarse-quantizer ANN: nearest-centroid cells + nprobe search.

    Centroids are fit on a driver-side SAMPLE (a few k rows) with a few
    Lloyd iterations in numpy — the data-scale work (assignment) stays in
    the cluster plan.
    """

    def __init__(
        self,
        n_cells: int = 16,
        seed: int = 42,
        id_col: str = "vec_id",
        emb_col: str = "embedding",
        use_arrow: bool = True,
    ):
        self.n_cells = n_cells
        self.seed = seed
        self.id_col = id_col
        self.emb_col = emb_col
        self.use_arrow = use_arrow
        self.centroids: np.ndarray | None = None

    def fit(self, candidates: DataFrame, sample_size: int = 4096, iters: int = 5) -> "IvfIndex":
        # deterministic hash-threshold sample: no count() pre-pass (a full
        # scan job at 100 TB just to size a fraction), no rand() (seeded
        # but partition-order-sensitive). xxhash64(id) % 256 < 26 keeps
        # ~10%; when the thinned set still exceeds sample_size, ORDER the
        # rows by the same hash before limiting — a bare limit() takes
        # whichever partitions answer first, so the sample (and hence the
        # centroids and every probe result) would shift across
        # repartitionings. orderBy+limit compiles to TakeOrderedAndProject
        # (global top-k, no full sort). If the input is tiny and the
        # thinned sample can't seed n_cells centroids, take the hash-least
        # rows of the full input instead.
        thinned = (
            candidates.filter(
                F.pmod(F.xxhash64(F.col(self.id_col)), F.lit(256)) < 26
            )
            .orderBy(F.xxhash64(F.col(self.id_col)), F.col(self.id_col))
            .select(self.emb_col)
            .limit(sample_size)
            .collect()
        )
        if len(thinned) < max(self.n_cells, sample_size // 8):
            thinned = (
                candidates.orderBy(
                    F.xxhash64(F.col(self.id_col)), F.col(self.id_col)
                )
                .select(self.emb_col)
                .limit(sample_size)
                .collect()
            )
        sample = np.array([r[0] for r in thinned], dtype=np.float64)
        # retained so composed quantizers (IvfPqIndex) can train their
        # residual codebooks on the SAME sample without re-collecting
        self._fit_sample = sample
        rng = np.random.default_rng(self.seed)
        cents = sample[rng.choice(len(sample), size=min(self.n_cells, len(sample)), replace=False)]
        for _ in range(iters):
            d = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            assign = d.argmin(1)
            for c in range(len(cents)):
                pts = sample[assign == c]
                if len(pts):
                    cents[c] = pts.mean(0)
        self.centroids = cents
        return self

    def _cell_col(self, emb: Column) -> Column:
        """argmin over centroid distances, as ONE Arrow-batched matmul.

        An expression-chain argmin (n_cells aggregates of zip_with per
        row) is interpreted, not codegen'd — higher-order functions fall
        out of whole-stage codegen — and costs n_cells*dim lambda evals
        per row. The vectorized form computes the whole batch's distance
        matrix with |x|^2 - 2 x·C + |c|^2 (one GEMM), the same shape
        FAISS uses for coarse assignment; ties break to the lowest cell
        id on both forms (np.argmin returns the first minimum; the JVM
        fallback's struct sort orders by (dist, cell))."""
        assert self.centroids is not None, "call fit() first"
        if not self.use_arrow:
            return self._cell_col_jvm(emb)
        import pandas as pd  # lazy: only the Arrow path needs it
        from pyspark.sql.functions import pandas_udf

        cents = np.asarray(self.centroids, dtype=np.float64)
        c_sq = (cents**2).sum(1)

        def assign(batch):
            if batch.empty:
                return pd.Series([], dtype="int32")
            x = np.array([np.asarray(v, dtype=np.float64) for v in batch])
            d = (x**2).sum(1)[:, None] - 2.0 * (x @ cents.T) + c_sq[None, :]
            return pd.Series(d.argmin(1).astype(np.int32))

        return pandas_udf(assign, "int")(emb)

    def _dist_structs(self, emb: Column) -> Column:
        """array<struct<d,cell>> of squared distances to every centroid,
        pure JVM (zip_with + aggregate per centroid) — the Arrow-less
        fallback. Interpreted higher-order functions, so ~n_cells*dim
        lambda evals per row; fine for small n_cells, slow at 1024."""
        assert self.centroids is not None
        structs = []
        for c, cent in enumerate(np.asarray(self.centroids, dtype=np.float64)):
            d = F.aggregate(
                F.zip_with(emb, _lit_vec(cent), lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            structs.append(F.struct(d.alias("d"), F.lit(c).alias("cell")))
        return F.array(*structs)

    def _cell_col_jvm(self, emb: Column) -> Column:
        # struct sort is lexicographic (d, then cell): ties break to the
        # lowest cell id, matching np.argmin's first-minimum rule
        return F.array_sort(self._dist_structs(emb))[0]["cell"]

    def index(self, candidates: DataFrame) -> DataFrame:
        return candidates.withColumn("cell", self._cell_col(F.col(self.emb_col)))

    def search(
        self,
        indexed: DataFrame,
        queries: DataFrame,
        k: int,
        nprobe: int = 4,
        metric: str = "DOT",
        query_id_col: str = "query_id",
        query_emb_col: str = "query_embedding",
    ) -> DataFrame:
        assert self.centroids is not None, "call fit() first"
        # nprobe nearest cells per query, one Arrow batch: the former
        # crossJoin(centroid-literal table) + window formulation paid a
        # 1000+-literal plan and two extra jobs for what is a (batch x
        # n_cells) argsort; ties still break to the lowest cell id
        # (stable argsort == the old ORDER BY cdist, cell). The JVM
        # fallback sorts the same (d, cell) struct array and slices.
        if self.use_arrow:
            import pandas as pd  # lazy: only the Arrow path needs it
            from pyspark.sql.functions import pandas_udf

            cents = np.asarray(self.centroids, dtype=np.float64)
            c_sq = (cents**2).sum(1)

            def probe_cells(batch):
                if batch.empty:
                    return pd.Series([], dtype=object)
                x = np.array([np.asarray(v, dtype=np.float64) for v in batch])
                d = (x**2).sum(1)[:, None] - 2.0 * (x @ cents.T) + c_sq[None, :]
                order = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
                return pd.Series(list(order.astype(np.int32)))

            probe_col = pandas_udf(probe_cells, "array<int>")(
                F.col(query_emb_col)
            )
        else:
            probe_col = F.transform(
                F.slice(
                    F.array_sort(self._dist_structs(F.col(query_emb_col))),
                    1,
                    nprobe,
                ),
                lambda s: s["cell"],
            )

        probes = queries.select(
            query_id_col,
            query_emb_col,
            F.explode(probe_col).alias("cell"),
        )
        # join on a NON-NULL key: on the nullable UDF output the join's
        # inferred isnotnull(cell) filter is pushed below the projection
        # and the cell-assignment UDF runs twice (two ArrowEvalPython).
        # Probe cells are >= 0, so the -1 stand-in matches nothing.
        indexed = indexed.withColumn("cell", F.coalesce("cell", F.lit(-1)))
        cands = indexed.join(F.broadcast(probes), on="cell")
        scored = cands.withColumn(
            "score", score_column(metric, F.col(self.emb_col), F.col(query_emb_col))
        )
        ascending = metric.upper() in ("EUCLID", "EUCLIDEAN", "L2")
        order = [F.asc("score") if ascending else F.desc("score"), F.asc(self.id_col)]
        w2 = Window.partitionBy(query_id_col).orderBy(*order)
        return (
            scored.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select(query_id_col, self.id_col, "score", "rank")
        )
