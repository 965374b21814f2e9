"""The workloads. Each one builds its inputs from the seed in ``setup``,
runs untimed warm-up operations in ``warmup``, and then serves one
operation per ``step`` call, timing only the calls into the engine and
checking every result against a Python/NumPy model afterwards.

- ``serve``: batch point lookups, feature store -> RPN -> pipeline scoring
  -> dot scoring of candidates, on a table that set-up persists and then
  rewrites through every write path. Driver planning and per-job overhead
  dominate.
- ``corpus``: SimHash and MinHash-LSH dedup plus IVF ANN top-k over a
  generated document/embedding corpus. Executor and shuffle bound; no
  feature store.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import gen
from spans import Tracer, file_sizes, new_files, write_amp

from bharatmlstack_spark.functions.expressions import ExpressionEngine
from bharatmlstack_spark.operators.feature_store import FeatureStore
from bharatmlstack_spark.operators.knn import VectorSearch
from bharatmlstack_spark.pipeline import Pipeline, ScoringComponent
from bharatmlstack_spark.registry import DataType, Entity, Feature, FeatureGroup, SchemaRegistry

DEFAULTS = (0, 0.0, 0.0, "NA", False, np.zeros(gen.VEC_DIM, np.float32), False)
SELECTIONS = {
    "demo_int32": ["age"],
    "demo_fp": ["acct_bal", "ctr@DataTypeFP16"],
    "demo_str": ["location"],
    "demo_bool": ["is_active"],
    "demo_vec": ["taste_vec"],
}
RPN = "demo_fp__ctr 10 * demo_int32__age 0.01 * + demo_fp__acct_bal 0.0001 * +"
RANK_WEIGHTS = (1.0, 0.5)
FLOAT_RTOL = 1e-9


@dataclass
class OpResult:
    kind: str  # "read", "write" or "job"
    seconds: float
    rows: int
    wrong: list[str] = field(default_factory=list)
    op: str = ""


def user_registry() -> SchemaRegistry:
    reg = SchemaRegistry()
    reg.register(
        Entity(
            label="user",
            key_columns=["user_id"],
            feature_groups={
                "demo_int32": FeatureGroup(
                    "demo_int32", 1, DataType.INT32, {1: [Feature("age", 0, default=0)]}
                ),
                "demo_fp": FeatureGroup(
                    "demo_fp",
                    2,
                    DataType.FP32,
                    {1: [Feature("acct_bal", 0, default=0.0), Feature("ctr", 1, default=0.0)]},
                ),
                "demo_str": FeatureGroup(
                    "demo_str",
                    3,
                    DataType.STRING,
                    {1: [Feature("location", 0, default="NA", string_length=16)]},
                ),
                "demo_bool": FeatureGroup(
                    "demo_bool", 4, DataType.BOOL, {1: [Feature("is_active", 0, default=False)]}
                ),
                "demo_vec": FeatureGroup(
                    "demo_vec",
                    5,
                    DataType.FP32_VECTOR,
                    {1: [Feature("taste_vec", 0, default=0.0, vector_length=gen.VEC_DIM)]},
                ),
            },
        )
    )
    return reg


def model_score(row: tuple) -> tuple[float, float]:
    """(RPN score, pipeline score) of one model row, in the order the RPN
    evaluates, with the fp16 projection of ``ctr``."""
    age, bal, ctr, _loc, active, _vec, _exp = row
    ctr16 = float(np.float16(np.float32(ctr)))
    score = (ctr16 * 10.0 + float(age) * 0.01) + float(np.float32(bal)) * 0.0001
    rank = (0.0 + score * RANK_WEIGHTS[0]) + (1.0 if active else 0.0) * RANK_WEIGHTS[1]
    return score, rank


def close(a: float, b: float, rtol: float = FLOAT_RTOL) -> bool:
    return abs(a - b) <= rtol * max(1.0, abs(a), abs(b))


def check_lookup(rows, model: dict[int, tuple], keys: np.ndarray) -> list[str]:
    """Compare collected lookup rows (one per request key, any order)
    against the model: missing and expired keys get defaults."""
    wrong: list[str] = []
    if len(rows) != len(keys):
        return [f"lookup returned {len(rows)} rows for {len(keys)} keys"]
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(r["user_id"], []).append(r)
    want_keys, want_counts = np.unique(keys, return_counts=True)
    for k, c in zip(want_keys.tolist(), want_counts.tolist()):
        rs = got.get(k, [])
        if len(rs) != c:
            wrong.append(f"key {k}: {len(rs)} rows, want {c}")
            continue
        m = model.get(k)
        exp = DEFAULTS if m is None or m[6] else m
        score, rank = model_score(exp)
        r = rs[0]
        if (
            r["demo_int32__age"] != exp[0]
            or r["demo_fp__acct_bal"] != float(np.float32(exp[1]))
            or r["demo_fp__ctr"] != float(np.float16(np.float32(exp[2])))
            or r["demo_str__location"] != exp[3]
            or r["demo_bool__is_active"] != exp[4]
            or not np.array_equal(np.asarray(r["demo_vec__taste_vec"], np.float32), exp[5])
            or not close(r["score"], score)
            or not close(r["model_score"], rank)
        ):
            wrong.append(f"key {k}: {r} != model {exp[:5]}")
    return wrong


class FeatureTable:
    """The generated user table, its FeatureStore, the latest-wins model of
    its rows and the lookup path."""

    def __init__(self, spark: SparkSession, work: str, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.fs = FeatureStore(spark, user_registry(), base_path=os.path.join(work, "fs"), n_buckets=16)
        self.table_path = os.path.join(work, "fs", "user", "store_0")
        self.engine = ExpressionEngine()
        self.engine.register("serve_score", RPN)
        self.pipeline = Pipeline().add(
            ScoringComponent(
                "rank", ["score", "demo_bool__is_active"], "model_score", list(RANK_WEIGHTS)
            )
        )
        self.now = F.lit(gen.NOW.replace(tzinfo=None).isoformat(sep=" ")).cast("timestamp")
        self.model: dict[int, tuple] = {}

    def build(self, rows: gen.UserRows) -> None:
        raw = os.path.join(self.work, "users_raw.parquet")
        rows.write(raw)
        with self.tracer.span("feature_store.persist.build"):
            self.fs.persist("user", self.spark.read.parquet(raw))
        self.model = {int(rows.user_id[i]): rows.row(i) for i in range(len(rows))}

    def lookup(self, keys: np.ndarray) -> list:
        t = self.tracer
        keys_df = self.spark.createDataFrame(pd.DataFrame({"user_id": keys}))
        with t.span("feature_store.retrieve.plan"):
            df = self.fs.retrieve("user", SELECTIONS, keys_df, now=self.now)
        with t.span("expressions.plan"):
            df = self.engine.apply(df, "serve_score")
        with t.span("pipeline.run.plan"):
            df = self.pipeline.run(df)
        # retrieve, RPN and scoring compose into one plan; its single
        # action is the feature-store execution (the other two only add
        # projections to it)
        with t.span("feature_store.retrieve.exec"):
            return df.collect()


class Serve:
    """Closed-loop batch lookups — feature store -> RPN -> pipeline scoring
    -> candidate dot scores — against one table. Set-up persists the table
    and then runs one write of every kind through it (upsert delta of
    mostly hot-key updates plus inserts, key delete, streaming micro-batch,
    event merge/trim), so every lookup reads a table that has been
    rewritten and is checked against the latest-wins model of all writes.
    Writes stay out of the timed phase: at 3-5 s each on four cores, a
    short run holds too few of them for a steady median."""

    WRITES = ("upsert", "delete", "stream", "merge_trim")
    N_USERS = 100_000
    # the reference quotes its lookup throughput for batches of 100 ids
    # (BASELINE.md). The traffic shape below — Zipf a=1.2 keys, 2 % each of
    # misses, expired and recently written keys, 5 % expired rows, 64
    # candidates per request, 90/10 hot-update/insert deltas — is an
    # assumption: the reference publishes no key distribution
    KEYS_PER_REQUEST = 100
    N_CANDIDATES = 2000
    IDS_PER_REQUEST = 64
    DELTA_ROWS = 500
    DELETE_KEYS = 40
    STREAM_ROWS = 200
    EVENT_ROWS = 2000
    MAX_EVENTS_PER_WEEK = 50
    WARMUP_LOOKUPS = 2

    def __init__(self, spark, work, tracer, seed):
        from bharatmlstack_spark.operators.event_store import EventStore

        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)
        self.table = FeatureTable(spark, work, tracer)
        self.vs = VectorSearch()
        self.events = EventStore(max_per_week=self.MAX_EVENTS_PER_WEEK, tiebreak_cols=["event_id"])
        self.next_id = 2 * self.N_USERS  # inserts; keys in [N_USERS, 2 N_USERS) stay misses
        self.touched: list[int] = []
        self.persist_stats: list[tuple[int, int, int]] = []  # (files, bytes, delta bytes)
        self.batches = 0
        self.trim_ratios: list[float] = []

    def setup(self) -> None:
        rng = self.rng
        rows = gen.user_rows(rng, np.arange(self.N_USERS), expired_share=0.05)
        self.table.build(rows)
        self.expired_ids = rows.user_id[rows.expired]
        self.perm = rng.permutation(self.N_USERS)
        emb_path = os.path.join(self.work, "embeddings.parquet")
        self.emb = gen.write_embeddings(rng, self.N_CANDIDATES, emb_path, "candidate_id")
        self.candidates = self.spark.read.parquet(emb_path)
        self.src = os.path.join(self.work, "stream_src")
        self.ckpt = os.path.join(self.work, "stream_ckpt")
        os.makedirs(self.src)
        ev = gen.events(rng, self.perm, self.EVENT_ROWS * 5, first_id=0)
        self.next_event = len(ev["event_id"])
        self.state_version = 0
        self.state = os.path.join(self.work, "events_v0")
        os.makedirs(self.state)
        gen.write_events(os.path.join(self.state, "part-0.parquet"), ev)
        self.event_model = self._trim(ev)
        self.n_state_rows = len(ev["event_id"])

    def warmup(self) -> list[OpResult]:
        """One write of every kind, then lookups: first calls of each plan
        shape run 2-3x slower than warm ones, and lookups keep speeding up
        over their first several calls while the JVM compiles the planner."""
        out = [getattr(self, op)() for op in self.WRITES]
        return out + [self.lookup() for _ in range(self.WARMUP_LOOKUPS)]

    def step(self) -> OpResult:
        return self.lookup()

    # -- reads -------------------------------------------------------------

    def request(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Zipf keys plus misses, expired rows and recently written keys;
        duplicates come with the skew."""
        rng = self.rng
        n = self.KEYS_PER_REQUEST
        n_miss = n_exp = n_recent = max(1, n // 50)
        recent = np.array(self.touched[:n_recent], dtype=np.int64)
        keys = np.concatenate(
            [
                gen.zipf_keys(rng, self.perm, n - n_miss - n_exp - len(recent)),
                rng.integers(self.N_USERS, 2 * self.N_USERS, n_miss),
                rng.choice(self.expired_ids, n_exp),
                recent,
            ]
        ).astype(np.int64)
        rng.shuffle(keys)
        ids = rng.choice(self.N_CANDIDATES, self.IDS_PER_REQUEST, replace=False).astype(np.int64)
        query = rng.standard_normal(gen.EMB_DIM).astype(np.float32)
        return keys, ids, query

    def lookup(self) -> OpResult:
        keys, ids, query = self.request()
        t = self.tracer
        t0 = time.perf_counter()
        rows = self.table.lookup(keys)
        ids_df = self.spark.createDataFrame(pd.DataFrame({"candidate_id": ids}))
        with t.span("knn.score.plan"):
            scored = self.vs.score_ids(self.candidates, ids_df, query.tolist())
        with t.span("knn.score.exec"):
            cand = scored.select("candidate_id", "score").collect()
        seconds = time.perf_counter() - t0
        wrong = check_lookup(rows, self.table.model, keys)
        wrong += check_scores(cand, self.emb, ids, query)
        return OpResult("read", seconds, len(keys), wrong, "lookup")

    # -- write models --------------------------------------------------------

    def _trim(self, ev: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
        """Newest ``max_events_per_week`` events per (user, Monday week),
        ties broken by the larger event id — EventStore.merge_trim's rule."""
        week = (ev["ts_us"] // 86_400_000_000 + 3) // 7
        order = np.lexsort((-ev["event_id"], -ev["ts_us"], week, ev["user_id"]))
        u, w = ev["user_id"][order], week[order]
        start = np.r_[True, (u[1:] != u[:-1]) | (w[1:] != w[:-1])]
        group_start = np.maximum.accumulate(np.where(start, np.arange(len(u)), 0))
        keep = order[(np.arange(len(u)) - group_start) < self.MAX_EVENTS_PER_WEEK]
        return {k: v[keep] for k, v in ev.items()}

    def _hot(self, n: int) -> np.ndarray:
        """``n`` distinct Zipf-hot existing keys."""
        out: list[int] = []
        seen: set[int] = set()
        while len(out) < n:
            for k in gen.zipf_keys(self.rng, self.perm, 2 * n).tolist():
                if k not in seen:
                    seen.add(k)
                    out.append(k)
        return np.array(out[:n], dtype=np.int64)

    def _delta(self, n: int) -> gen.UserRows:
        n_new = n // 10
        ids = np.concatenate([self._hot(n - n_new), np.arange(self.next_id, self.next_id + n_new)])
        self.next_id += n_new
        return gen.user_rows(self.rng, ids, expired_share=0.0)

    def _apply(self, rows: gen.UserRows) -> None:
        for i in range(len(rows)):
            self.table.model[int(rows.user_id[i])] = rows.row(i)
        self.touched = rows.user_id.tolist()[:10] + self.touched[:40]

    # -- writes --------------------------------------------------------------

    def upsert(self) -> OpResult:
        rows = self._delta(self.DELTA_ROWS)
        path = os.path.join(self.work, "delta.parquet")
        delta_bytes = rows.write(path)
        before = file_sizes(self.table.table_path)
        t0 = time.perf_counter()
        with self.tracer.span("feature_store.persist"):
            self.table.fs.persist("user", self.spark.read.parquet(path))
        seconds = time.perf_counter() - t0
        files, written = new_files(before, file_sizes(self.table.table_path))
        self.persist_stats.append((files, written, delta_bytes))
        self._apply(rows)
        os.remove(path)
        return OpResult("write", seconds, len(rows), [], "upsert")

    def delete(self) -> OpResult:
        n_missing = self.DELETE_KEYS // 8
        keys = np.concatenate(
            [self._hot(self.DELETE_KEYS - n_missing), self.rng.integers(self.N_USERS, 2 * self.N_USERS, n_missing)]
        ).astype(np.int64)
        want = sum(1 for k in keys.tolist() if k in self.table.model)
        keys_df = self.spark.createDataFrame(pd.DataFrame({"user_id": keys}))
        t0 = time.perf_counter()
        with self.tracer.span("feature_store.delete"):
            removed = self.table.fs.delete("user", keys_df)
        seconds = time.perf_counter() - t0
        for k in keys.tolist():
            self.table.model.pop(k, None)
        self.touched = keys.tolist()[:10] + self.touched[:40]
        wrong = [] if removed == want else [f"delete removed {removed} rows, model has {want}"]
        return OpResult("write", seconds, 0, wrong, "delete")

    def stream(self) -> OpResult:
        from bharatmlstack_spark.streaming.ingest import await_stream, feature_upsert_sink

        rows = self._delta(self.STREAM_ROWS)
        rows.write(os.path.join(self.src, f"batch_{self.batches}.parquet"))
        source = self.spark.readStream.schema(gen.USER_DDL).parquet(self.src)
        t0 = time.perf_counter()
        with self.tracer.span("streaming.microbatch"):
            q = feature_upsert_sink(source, self.table.fs, "user", self.ckpt, trigger_once=True)
            await_stream(q, 120, "feature_upsert_sink")
        seconds = time.perf_counter() - t0
        # numInputRows counts every scan of the batch (the sink reads it more
        # than once), so check the batch count here and the rows through
        # the lookups that follow
        fed = {p["batchId"] for p in q.recentProgress if p["numInputRows"]}
        self.batches += len(fed)
        self._apply(rows)
        wrong = [] if len(fed) == 1 else [f"stream ran {len(fed)} data batches for one new file"]
        return OpResult("write", seconds, len(rows), wrong, "stream")

    def merge_trim(self) -> OpResult:
        ev = gen.events(self.rng, self.perm, self.EVENT_ROWS, first_id=self.next_event)
        self.next_event += self.EVENT_ROWS
        path = os.path.join(self.work, "events_new.parquet")
        gen.write_events(path, ev)
        self.state_version += 1
        out = os.path.join(self.work, f"events_v{self.state_version}")
        t0 = time.perf_counter()
        with self.tracer.span("event_store.merge_trim"):
            merged = self.events.merge_trim(self.spark.read.parquet(self.state), self.spark.read.parquet(path))
            merged.write.parquet(out)
        seconds = time.perf_counter() - t0
        n_in = self.n_state_rows + self.EVENT_ROWS
        self.event_model = self._trim({k: np.concatenate([self.event_model[k], ev[k]]) for k in ev})
        got = self.spark.read.parquet(out).agg(F.count("*"), F.sum("event_id")).first()
        want = (len(self.event_model["event_id"]), int(self.event_model["event_id"].sum()))
        shutil.rmtree(self.state)
        os.remove(path)
        self.state = out
        self.n_state_rows = got[0]
        self.trim_ratios.append(got[0] / n_in)
        wrong = [] if tuple(got) == want else [f"merge_trim (rows, id sum) {tuple(got)} != model {want}"]
        return OpResult("write", seconds, 0, wrong, "merge_trim")

    def extras(self) -> dict:
        files = sum(f for f, _, _ in self.persist_stats)
        written = sum(b for _, b, _ in self.persist_stats)
        delta = sum(d for _, _, d in self.persist_stats)
        return {
            "streaming.batches": (self.batches, "count"),
            "feature_store.persist.write_amp": (write_amp(written, delta), "ratio"),
            "feature_store.persist.files_written": (files / len(self.persist_stats), "count"),
            "event_store.merge_trim.rows_out_per_in": (float(np.median(self.trim_ratios)), "ratio"),
        }


def check_scores(rows, emb: np.ndarray, ids: np.ndarray, query: np.ndarray) -> list[str]:
    want = emb[ids].astype(np.float64) @ query.astype(np.float64)
    got = {r["candidate_id"]: r["score"] for r in rows}
    if sorted(got) != sorted(ids.tolist()):
        return [f"scored ids {sorted(got)[:5]}... != requested {sorted(ids.tolist())[:5]}..."]
    return [
        f"candidate {i}: score {got[i]} != {w}"
        for i, w in zip(ids.tolist(), want.tolist())
        if not close(got[i], w)
    ]


def popcount64(x: np.ndarray) -> np.ndarray:
    """Set bits per uint64 element (SWAR; the multiply wraps mod 2**64)."""
    x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    x = (x & np.uint64(0x3333333333333333)) + ((x >> np.uint64(2)) & np.uint64(0x3333333333333333))
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return (x * np.uint64(0x0101010101010101)) >> np.uint64(56)


def near_pairs(ids: np.ndarray, fps: np.ndarray, max_hamming: int) -> set[tuple[int, int, int]]:
    """All (id_a < id_b, hamming) with hamming <= max_hamming, brute force."""
    u = fps.astype(np.int64).view(np.uint64)
    out = set()
    for i in range(len(u)):
        h = popcount64(u[i + 1 :] ^ u[i])
        for j in np.nonzero(h <= max_hamming)[0].tolist():
            a, b = int(ids[i]), int(ids[i + 1 + j])
            out.add((min(a, b), max(a, b), int(h[j])))
    return out


def shingles(text: str, n: int = 3) -> set[tuple[str, ...]]:
    w = text.split()
    return {tuple(w[i : i + n]) for i in range(len(w) - n + 1)} if len(w) >= n else {tuple(w)}


class Corpus:
    """Repeated corpus passes: SimHash near pairs, MinHash-LSH dedup and an
    IVF fit + top-10 search, over a fixed generated corpus whose injected
    exact and near copies every pass must find. The seed picks the order of
    the input documents and the query vectors; the corpus itself is the
    same for every seed, so seeds do not change how much work a pass is."""

    CONTENT_SEED = 0
    N_DOCS = 1500
    N_VECTORS = 2000
    N_QUERIES = 8
    K = 10
    NPROBE = 8
    N_CELLS = 16
    MAX_HAMMING = 3
    THRESHOLD = 0.8

    def __init__(self, spark, work, tracer, seed):
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)
        self.verified: list[int] = []
        self.probed: list[float] = []

    def setup(self) -> None:
        from bharatmlstack_spark.operators import dedup as DD

        content = np.random.default_rng(self.CONTENT_SEED)
        ids, texts = gen.documents(content, self.N_DOCS)
        order = self.rng.permutation(len(ids))
        ids, texts = [ids[i] for i in order], [texts[i] for i in order]
        path = os.path.join(self.work, "documents.parquet")
        gen.write_documents(path, ids, texts)
        self.docs = self.spark.read.parquet(path)
        self.text = dict(zip(ids, texts))
        self.exact = {(d, d + 100_000) for d in ids if d < 100_000 and d % 25 == 0}
        emb_path = os.path.join(self.work, "embeddings.parquet")
        self.emb = gen.write_embeddings(content, self.N_VECTORS, emb_path, "vec_id")
        self.cands = self.spark.read.parquet(emb_path)
        # the fingerprints are deterministic; every pass's pairs must equal
        # the brute-force popcount replay over them
        fp = DD.simhash(self.docs, id_col="doc_id", text_col="text").collect()
        self.sim_ref = near_pairs(
            np.array([r["id"] for r in fp]), np.array([r["simhash"] for r in fp]), self.MAX_HAMMING
        )

    def warmup(self) -> list[OpResult]:
        """One pass: the first runs 2-3x slower than warm ones. The next is
        still ~1.15x slower; the median of the timed passes absorbs it."""
        return [self.step()]

    def step(self) -> OpResult:
        from bharatmlstack_spark.operators import dedup as DD
        from bharatmlstack_spark.operators.lsh import IvfIndex
        from bharatmlstack_spark.query_registry import drain_pending_unpersist

        q = self.emb[self.rng.choice(self.N_VECTORS, self.N_QUERIES, replace=False)]
        q = (q + 0.05 * self.rng.standard_normal(q.shape)).astype(np.float32)
        queries = self.spark.createDataFrame(
            pd.DataFrame({"query_id": np.arange(self.N_QUERIES, dtype=np.int64), "query_embedding": list(q)}),
            "query_id long, query_embedding array<float>",
        )
        t = self.tracer
        t0 = time.perf_counter()
        with t.span("dedup.simhash"):
            fp = DD.simhash(self.docs, id_col="doc_id", text_col="text")
            sim = DD.simhash_near_pairs(fp, max_hamming=self.MAX_HAMMING).collect()
        with t.span("dedup.minhash"):
            mh = DD.minhash_lsh_dedup_pairs(
                self.docs, id_col="doc_id", text_col="text", num_hashes=64, bands=16,
                threshold=self.THRESHOLD,
            ).collect()
        with t.span("lsh.ivf.fit"):
            idx = IvfIndex(n_cells=self.N_CELLS).fit(self.cands, sample_size=512, iters=3)
        with t.span("lsh.ivf.search"):
            top = idx.search(idx.index(self.cands), queries, k=self.K, nprobe=self.NPROBE).collect()
        seconds = time.perf_counter() - t0
        drain_pending_unpersist()
        wrong = self.check_simhash(sim) + self.check_minhash(mh) + self.check_ivf(top, idx.centroids, q)
        return OpResult("job", seconds, len(self.text), wrong, "pass")

    def check_simhash(self, rows) -> list[str]:
        got = {(r["id_a"], r["id_b"], r["hamming"]) for r in rows}
        if len(got) != len(rows) or got != self.sim_ref:
            return [f"simhash pairs: {len(got ^ self.sim_ref)} differ from the popcount replay"]
        return []

    def check_minhash(self, rows) -> list[str]:
        wrong = []
        found = set()
        for r in rows:
            a, b = sorted((r["id_a"], r["id_b"]))
            found.add((a, b))
            sa, sb = shingles(self.text[a]), shingles(self.text[b])
            j = len(sa & sb) / len(sa | sb)
            if j < self.THRESHOLD or not close(j, r["jaccard"]):
                wrong.append(f"minhash pair ({a}, {b}): jaccard {r['jaccard']} vs {j}")
        missing = self.exact - found
        if missing:
            wrong.append(f"minhash missed {len(missing)} exact duplicates, e.g. {sorted(missing)[:3]}")
        self.verified.append(len(rows))
        return wrong

    def check_ivf(self, rows, centroids: np.ndarray, q: np.ndarray) -> list[str]:
        """Replay cell assignment, probing and exact top-k within the probed
        cells in NumPy from the fitted centroids."""
        c = np.asarray(centroids, np.float64)
        x = self.emb.astype(np.float64)
        c_sq = (c**2).sum(1)
        cell = ((x**2).sum(1)[:, None] - 2.0 * (x @ c.T) + c_sq[None, :]).argmin(1)
        qd = q.astype(np.float64)
        probe = np.argsort((qd**2).sum(1)[:, None] - 2.0 * (qd @ c.T) + c_sq[None, :], axis=1, kind="stable")
        got: dict[int, list] = {}
        for r in rows:
            got.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["score"]))
        wrong = []
        for qi in range(len(q)):
            pool = np.nonzero(np.isin(cell, probe[qi, : self.NPROBE]))[0]
            self.probed.append(len(pool) / self.K)
            scores = x[pool] @ qd[qi]
            order = np.lexsort((pool, -scores))[: self.K]
            want = [(int(pool[o]), float(scores[o])) for o in order]
            have = [(v, s) for _, v, s in sorted(got.get(qi, []))]
            if len(have) != len(want) or any(
                not close(hs, ws) or (hv != wv and not close(hs, float(x[hv] @ qd[qi])))
                for (hv, hs), (wv, ws) in zip(have, want)
            ):
                wrong.append(f"ivf query {qi}: {have[:3]} != replay {want[:3]}")
        return wrong

    def extras(self) -> dict:
        from bharatmlstack_spark.operators import dedup as DD

        sets = self.docs.select(F.col("doc_id").alias("id"), DD.hashed_word_shingles("text", 3).alias("sh"))
        n_cand = DD.lsh_candidate_pairs(DD.minhash_signatures_from_hashes(sets, "id", "sh", 64), 16).count()
        return {
            "dedup.minhash.precision": (float(np.median(self.verified)) / n_cand, "ratio"),
            "lsh.ivf.probed_per_result": (float(np.median(self.probed)), "ratio"),
        }


def make(name: str, spark, work: str, tracer: Tracer, seed: int):
    return {"serve": Serve, "corpus": Corpus}[name](spark, work, tracer, seed)
