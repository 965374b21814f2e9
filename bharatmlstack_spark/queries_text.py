"""Text-analysis + deduplication query-oracle pairs over `documents` /
`embeddings` — the training-data-pipeline operator family.

The dedup corpus injects deterministic duplicates (exact copies and
suffix-mutated near-copies) so exact dedup, Jaccard, MinHash-LSH, and
SimHash all have known-positive pairs at every scale factor.

MinHash/SimHash plans hash with Spark's xxhash64 (seed-stable, JVM-side) —
not expressible in DuckDB, so those two entries are declared rows-only; the
n-gram-Jaccard verifier (same pair universe) carries the exact-match oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bharatmlstack_spark.query_registry import (
    RETIRED_ORACLES,
    defer_unpersist,
    query,
    scratch_dir,
)
from bharatmlstack_spark.sources.events import load_events_ms, load_events_raw
from bharatmlstack_spark.functions import text as TX
from bharatmlstack_spark.operators import dedup as DD
from bharatmlstack_spark.operators import sampling as SP
from bharatmlstack_spark.streaming.ingest import await_stream

# ---------------------------------------------------------------------------
# corpus fixture: documents + exact copies (id+10000) + near copies (id+20000)
# ---------------------------------------------------------------------------

CORPUS_SQL = """
corpus AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, text, lang FROM documents WHERE doc_id % 25 = 0
  UNION ALL
  SELECT doc_id + 20000 AS doc_id, text || ' zz9' AS text, lang FROM documents WHERE doc_id % 25 = 0
)
"""


def corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text", "lang")
    exact = d.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text", "lang"
    )
    near = d.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz9")).alias("text"),
        "lang",
    )
    return d.unionAll(exact).unionAll(near)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle=f"""
WITH {CORPUS_SQL.strip()}
SELECT c.doc_id, c.lang FROM corpus c
SEMI JOIN (SELECT MIN(doc_id) AS doc_id FROM corpus GROUP BY text) k
  ON c.doc_id = k.doc_id
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-aggregate on text, keep lowest doc_id — one
    shuffle on the content key."""
    return DD.exact_dedup(corpus(spark, sf_dir), on=["text"], id_col="doc_id").select(
        "doc_id", "lang"
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (also the LSH verifier) — full SQL oracle
# ---------------------------------------------------------------------------

_SHINGLE_SQL = """
wordlists AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM corpus
),
shingles AS (
  SELECT doc_id, unnest(list_distinct(
    [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] FOR i IN generate_series(1, len(ws) - 2)]
  )) AS shingle
  FROM wordlists WHERE len(ws) >= 3
),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
  FROM shingles a JOIN shingles b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
"""


RETIRED_ORACLES["dedup_ngram_jaccard"] = f"""
WITH {CORPUS_SQL.strip()},
{_SHINGLE_SQL.strip()}
SELECT id_a, id_b,
       ROUND(CAST(ni AS DOUBLE) / CAST(sa.set_size + sb.set_size - ni AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(ni AS DOUBLE) / CAST(sa.set_size + sb.set_size - ni AS DOUBLE) >= 0.8
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram shingle Jaccard >= 0.8 via prefix filtering (AllPairs) —
    exact same pairs as the naive shingle self-join (tested equivalent),
    with candidate generation bounded by the (1-t) prefix instead of every
    shared shingle.

    RETIRED from the driver registry in r15 (head of the second-
    generation retirement order): document dedup stays driver-attested
    by dedup_exact + dedup_minhash_lsh + dedup_simhash +
    dedup_embedding_cosine, and the prefix-filtered AllPairs core by
    span_dedup_exact's inverted-index cousin; the freed slot registers
    ann_ivfpq_topk — the composed IVF+PQ ANN shape, exactly as the r14
    verdict's task 2 prescribed. Still verified every pytest run
    against its DuckDB oracle (tests/test_staged_retired.py)."""
    out = DD.ngram_jaccard_pairs_prefix(
        corpus(spark, sf_dir), id_col="doc_id", text_col="text", n=3, threshold=0.8
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


# ---------------------------------------------------------------------------
# MinHash + LSH and SimHash — rows-only (xxhash64 is not DuckDB-expressible)
# ---------------------------------------------------------------------------


@query(
    "dedup_minhash_lsh",
    oracle=f"""
WITH {CORPUS_SQL.strip()},
{_SHINGLE_SQL.strip()}
SELECT id_a, id_b,
       ROUND(CAST(ni AS DOUBLE) / CAST(sa.set_size + sb.set_size - ni AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(ni AS DOUBLE) / CAST(sa.set_size + sb.set_size - ni AS DOUBLE) >= 0.8
""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shingle -> 64-slot MinHash -> 16 bands -> bucket-join -> Jaccard
    verify. The banded candidate step is engine-specific (seeded
    xxhash64), but the VERIFY step computes the exact shingle Jaccard on
    every candidate — so the output is a subset of the exact >= 0.8 pair
    set, and the oracle is that exact set itself: a hash match proves the
    16-band probe recovered EVERY true pair (recall 1.0; the expected
    miss rate at J = 0.8 with 4-row bands is 1-(1-0.8^4)^16 ~ 2e-4).
    A missed pair turns the row red — the honest failure mode for LSH.
    pytest additionally pins recovery of the injected duplicates."""
    out = DD.minhash_lsh_dedup_pairs(
        corpus(spark, sf_dir),
        id_col="doc_id",
        text_col="text",
        num_hashes=64,
        bands=16,
        threshold=0.8,
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@query(
    "stream_dedup_minhash",
    oracle=f"""
WITH {CORPUS_SQL.strip()},
{_SHINGLE_SQL.strip()}
SELECT id_a, id_b,
       ROUND(CAST(ni AS DOUBLE) / CAST(sa.set_size + sb.set_size - ni AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(ni AS DOUBLE) / CAST(sa.set_size + sb.set_size - ni AS DOUBLE) >= 0.8
""",
)
def stream_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash-LSH near-dup detection — the incremental form
    of dedup_minhash_lsh (reference analog: skye's realtime indexer
    consumers, skye/internal/consumers/handler/indexer/). The corpus
    splits into 3 micro-batches, so every pair class exercises: pairs
    INSIDE one batch (band self-join) and pairs SPANNING batches (the
    later doc's bands probe the accumulated append-only band index, then
    exact-Jaccard-verify against the accumulated shingle store). The
    ENTIRE topic then replays under a fresh checkpoint — at-least-once
    redelivery of every batch — which only re-emits already-found pairs;
    the readout dedups on (id_a, id_b). Because banding collisions are
    pairwise and deterministic, the deduped union of emissions equals
    the one-shot batch LSH pair set, so the oracle is the SAME exact
    shingle-Jaccard >= 0.8 set that checks the batch row (recall-1.0
    claim included: a pair the stream never surfaced turns the row
    red). See streaming/ingest.stream_neardup_minhash_sink."""
    from bharatmlstack_spark.streaming.ingest import stream_neardup_minhash_sink

    work = scratch_dir("bmls_neardup_")
    topic = f"{work}/topic"
    corpus(spark, sf_dir).repartition(3).write.parquet(topic)
    schema = "doc_id bigint, text string, lang string"
    for replay in ("ckpt1", "ckpt2"):  # second pass = full redelivery
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(topic)
        )
        q = stream_neardup_minhash_sink(
            stream,
            state_dir=f"{work}/state",
            out_path=f"{work}/pairs",
            checkpoint_dir=f"{work}/{replay}",
            spark=spark,
            id_col="doc_id",
            text_col="text",
            num_hashes=64,
            bands=16,
            shingle_n=3,
            threshold=0.8,
            trigger_once=True,
        )
        await_stream(q, 300)
    return (
        spark.read.parquet(f"{work}/pairs")
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


@query(
    "dedup_simhash",
    oracle=f"""
WITH {CORPUS_SQL.strip()},
{_SHINGLE_SQL.strip()}
SELECT id_a, id_b,
       ROUND(CAST(ni AS DOUBLE) / CAST(sa.set_size + sb.set_size - ni AS DOUBLE), 6) AS jaccard,
       TRUE AS simhash_recall_ok
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(ni AS DOUBLE) / CAST(sa.set_size + sb.set_size - ni AS DOUBLE) >= 0.9
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash + banded hamming<=3 candidate pairs.

    Invariant-check form (SimHash hamming pairs are not a Jaccard pair
    set, so no equality oracle exists): the deliverable rows are the
    EXACT Jaccard >= 0.9 near-dup pairs — DuckDB recomputes them — and
    ``simhash_recall_ok`` asserts the hamming<=3 SimHash probe covered
    >= 55% of them overall (measured 0.69-0.72 at sf0.001-sf0.01; the
    banding is pigeonhole-complete for hamming<=3, the loss is SimHash's
    own similarity distortion). The exact side exists only for
    verification; pytest pins recall on injected duplicates."""
    from pyspark import StorageLevel

    docs = corpus(spark, sf_dir)
    # ONE tokenize for both branches (r16 verdict item 3): the SimHash
    # fingerprint and the exact PPJoin side each re-tokenized the corpus
    # (regex split is the shared expensive prefix of both maps). Spread
    # the raw text once (same §2.5 conditional the operators would each
    # apply), split once, persist the (id, words) frame, derive the
    # fingerprint (per-word xxhash64 + packed votes) and the hashed
    # shingle sets (per-span concat + xxhash64) from the one cache.
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    toks = defer_unpersist(
        docs.select("doc_id", DD.tokenize("text").alias("__toks")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    fp = DD.simhash(toks, id_col="doc_id", tokens_col="__toks")
    sh_pairs = DD.simhash_near_pairs(fp, max_hamming=3).select("id_a", "id_b")
    # exact is referenced three times (deliverable rows, denominator,
    # hit join) — persist it or the whole prefix join runs three times
    exact = defer_unpersist(
        DD.ngram_jaccard_pairs_prefix(
            toks, id_col="doc_id", n=3, threshold=0.9, tokens_col="__toks"
        )
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .persist()
    )
    # one-pass recall flag (see queries_joins._exact_knn_with_flag): left
    # join marks the SimHash-covered pairs, one aggregation computes
    # hit / total — sh_pairs is unique on (id_a, id_b) (the first-matching-
    # band filter in simhash_near_pairs), so no exact row duplicates
    flag = exact.join(
        sh_pairs.withColumn("__hit", F.lit(1)), ["id_a", "id_b"], "left"
    ).agg(
        (F.count("__hit") / F.count(F.lit(1)) >= 0.55).alias("simhash_recall_ok")
    )
    return exact.crossJoin(F.broadcast(flag))


@query(
    "dedup_embedding_cosine",
    oracle="""
WITH ecorpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
           / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) AS cosine
  FROM ecorpus a CROSS JOIN ecorpus b
  WHERE a.vec_id < b.vec_id
)
SELECT id_a, id_b, ROUND(cosine, 6) AS cosine
FROM pairs WHERE ROUND(cosine, 6) >= 0.99
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup via LSH-banded candidate pairs (the scale
    path — bucket equi-join, never all-pairs; the brute-force cross join
    survives only as the DuckDB oracle). Rounded to 6dp (dot-fold order
    differs from DuckDB's list_dot_product).

    Corpus assumption (why an exact oracle can gate an LSH query): the only
    pairs at rounded cosine >= 0.99 in the fixture are the injected EXACT
    copies (vec_id % 50 == 0 duplicated at +10000), whose signatures are
    identical in every band — recall exactly 1, no probabilistic miss. The
    random base embeddings sit far below the threshold (~8e-5 band-miss
    probability would only matter for a non-copy pair at 0.99+, which the
    uniform fixture doesn't produce). tests/test_dedup.py pins LSH ==
    brute-force on the current corpus; re-pin if the corpus generator
    changes."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    dup = e.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    ec = e.unionAll(dup)
    dim = len(ec.select("embedding").head()[0])
    out = DD.embedding_near_dup_pairs_lsh(
        ec, dim=dim, id_col="vec_id", threshold=-2.0
    )
    return (
        out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
        .filter(F.col("cosine") >= 0.99)
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@query(
    "text_stats",
    oracle=r"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\s+')) AS n_words,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_tokens,
       ROUND(CAST(len(regexp_extract_all(text, '[^\sA-Za-z0-9]')) AS DOUBLE) / CAST(length(text) AS DOUBLE), 6) AS punct_ratio
FROM documents
""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace words + BPE-ish regex tokens) and
    punctuation ratio — pure JVM expressions."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        "doc_id",
        TX.word_count("text").alias("n_words"),
        TX.token_count("text").alias("n_tokens"),
        F.round(TX.punct_ratio("text"), 6).alias("punct_ratio"),
    )


def _lang_hits_sql(lang: str) -> str:
    sw = ", ".join(f"'{w}'" for w in TX.LANG_STOPWORDS[lang])
    return (
        f"len(list_filter(string_split_regex(trim(text), '\\s+'), "
        f"x -> lower(x) IN ({sw})))"
    )


@query(
    "lang_id_heuristic",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang AS label,
         {_lang_hits_sql('en')} AS s_en,
         {_lang_hits_sql('es')} AS s_es,
         {_lang_hits_sql('de')} AS s_de,
         {_lang_hits_sql('fr')} AS s_fr,
         {_lang_hits_sql('zh')} AS s_zh
  FROM documents
)
SELECT doc_id, label,
       CASE
         WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
         WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
         WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
         WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
         WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
         ELSE 'zh'
       END AS lang_guess
FROM scored
""",
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by per-language stopword hits, priority tie-break."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return TX.lang_id_frame(
        d.select("doc_id", F.col("lang").alias("label"), "text")
    ).drop("text")


@query(
    "quality_score",
    oracle=r"""
WITH base AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS wc,
         CAST(len(regexp_extract_all(text, '[^\sA-Za-z0-9]')) AS DOUBLE)
           / CAST(length(text) AS DOUBLE) AS pr,
         CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
              x -> lower(x) IN ('the','and','of','to','in','is','a','that'))) AS DOUBLE)
           / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS sr
  FROM documents
)
SELECT doc_id,
       ROUND((CASE WHEN wc >= 10 AND wc <= 1000 THEN 1.0 ELSE 0.0 END
            + CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END
            + CASE WHEN sr >= 0.05 THEN 1.0 ELSE 0.0 END) / 3.0, 6) AS quality
FROM base
""",
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style cheap quality filters composited to [0,1]."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select("doc_id", F.round(TX.quality_score("text"), 6).alias("quality"))


@query(
    "doc_fingerprint",
    oracle=r"""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split_regex(trim(text), '\s+'),
                          w -> CAST(length(w) * 131 + ascii(substr(w, 1, 1)) AS BIGINT))),
         (acc, x) -> (acc * 31 + x) % 2147483647
       ) AS fingerprint
FROM documents
""",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash fingerprint (engine-portable fold —
    no xxhash), the cheap doc-identity for incremental pipelines."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select("doc_id", TX.fingerprint("text").alias("fingerprint"))


# ---------------------------------------------------------------------------
# training-set construction: deterministic splits + stratified sampling
# ---------------------------------------------------------------------------


@query(
    "temporal_split",
    oracle="""
WITH cut AS (
  SELECT CAST(
    epoch_ms(MIN(ts)) + CAST(floor((epoch_ms(MAX(ts)) - epoch_ms(MIN(ts))) * 0.8) AS BIGINT)
    AS BIGINT) AS cut_ms
  FROM events
)
SELECT event_id, user_id,
       CASE WHEN epoch_ms(ts) < cut.cut_ms THEN 'train' ELSE 'holdout' END AS split
FROM events, cut
""",
)
def temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based train/holdout split at the 80% point of the observed
    time range — the leakage-safe alternative to hash splits for
    time-series labels (the model must never see the future). The cut is
    one tiny aggregate broadcast back; assignment is a scan-level
    predicate. Integer-millis math keeps both engines bit-identical."""
    ev = load_events_ms(spark, sf_dir)
    bounds = ev.agg(
        (
            F.min("ts_ms")
            + F.floor((F.max("ts_ms") - F.min("ts_ms")) * 0.8).cast("bigint")
        ).alias("cut_ms")
    )
    return ev.crossJoin(F.broadcast(bounds)).select(
        "event_id",
        "user_id",
        F.when(F.col("ts_ms") < F.col("cut_ms"), F.lit("train"))
        .otherwise(F.lit("holdout"))
        .alias("split"),
    )


@query(
    "train_test_split",
    oracle="""
SELECT doc_id,
       CASE WHEN ((doc_id % 1048576) * 2654435761 + (doc_id // 1048576) * 40503) % 100 < 80 THEN 'train' ELSE 'test' END AS split
FROM documents
""",
)
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/20 split by multiplicative key hash — stable across
    runs/engines (no rand()), the reproducible-pipeline way to split."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bucket = SP.knuth_mix(F.col("doc_id")) % 100
    return d.select(
        "doc_id",
        F.when(bucket < 80, F.lit("train")).otherwise(F.lit("test")).alias("split"),
    )


@query(
    "stratified_sample",
    oracle="""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY ((doc_id % 1048576) * 2654435761 + (doc_id // 1048576) * 40503) % 1000003, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
) WHERE rn <= CAST(ceil(n * 0.2) AS BIGINT)
""",
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20%-per-language stratified sample: pseudo-random but
    reproducible order via multiplicative hashing, exact per-stratum
    quota."""
    from pyspark.sql import Window

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    order = SP.knuth_mix(F.col("doc_id")) % 1000003
    w = Window.partitionBy("lang").orderBy(order.asc(), F.col("doc_id").asc())
    wn = Window.partitionBy("lang")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") <= F.ceil(F.col("n") * 0.2).cast("bigint"))
        .select("doc_id", "lang")
    )


@query(
    "feature_stats",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       CAST(MIN(value) AS DOUBLE) AS vmin,
       CAST(MAX(value) AS DOUBLE) AS vmax,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6) AS mean,
       ROUND(
         sqrt(
           CAST(SUM(CAST(value AS DECIMAL(28,10)) * CAST(value AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*)
           - (CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*))
             * (CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*))
         ), 6) AS std
FROM events
GROUP BY event_type
""",
)
def feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature statistics (the feature-scaling prep pass): exact
    decimal moments -> double, so mean/std are order-independent and
    engine-identical (population std, rounded 6dp)."""
    ev = load_events_raw(spark, sf_dir)
    dec = F.col("value").cast("decimal(28,10)")
    s1 = F.sum(dec).cast("double")
    s2 = F.sum(dec * dec).cast("double")
    n = F.count(F.lit(1))
    mean = s1 / n
    return ev.groupBy("event_type").agg(
        n.alias("n"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.round(mean, 6).alias("mean"),
        F.round(F.sqrt(s2 / n - mean * mean), 6).alias("std"),
    )


@query(
    "doc_repetition_ratio",
    oracle=r"""
WITH ws AS (
  SELECT doc_id, string_split_regex(trim(coalesce(text, '')), '\s+') AS w
  FROM documents
),
grams AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 2
              THEN [w[i] || ' ' || w[i+1] FOR i IN generate_series(1, len(w) - 1)]
              ELSE [] END AS bg
  FROM ws
)
SELECT doc_id,
       CAST(len(bg) AS INT) AS n_bigrams,
       ROUND(CASE WHEN len(bg) = 0 THEN 0.0
                  ELSE 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg) END,
             6) AS repetition
FROM grams
""",
)
def doc_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signal: 1 - distinct/total bigrams
    per document (high ratio = boilerplate/spam; a standard pretraining
    corpus filter). Pure per-row array expressions — map-side only, scan
    bandwidth at 100 TB."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+")
    bg = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - 2),
            lambda i: F.concat_ws(" ", F.slice(w, i + 1, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    d = d.select("doc_id", bg.alias("bg"))
    return d.select(
        "doc_id",
        F.size("bg").alias("n_bigrams"),
        F.round(
            F.when(F.size("bg") == 0, F.lit(0.0)).otherwise(
                F.lit(1.0)
                - F.size(F.array_distinct("bg")).cast("double") / F.size("bg")
            ),
            6,
        ).alias("repetition"),
    )


@query(
    "embedding_label_centroid",
    oracle="""
SELECT label, CAST(u.pos - 1 AS INT) AS pos,
       ROUND(AVG(CAST(u.val AS DOUBLE)), 6) AS c,
       COUNT(*) AS n
FROM (
  SELECT label,
         unnest(list_transform(embedding, (x, i) -> {'pos': i, 'val': x})) AS u
  FROM embeddings
)
GROUP BY label, u.pos
""",
)
def embedding_label_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column (class prototypes — the
    mean-pooling pass behind cluster-balanced sampling / triplet mining /
    IVF seeding). posexplode -> ONE partial-agg shuffle on (label, pos);
    rounded 6dp (fold order differs between engines)."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    x = e.select("label", F.posexplode("embedding").alias("pos", "v"))
    return x.groupBy("label", "pos").agg(
        F.round(F.avg(F.col("v").cast("double")), 6).alias("c"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# PII detection + redaction (the pre-training privacy pass)
# ---------------------------------------------------------------------------

# The synthetic corpus contains no natural PII, so the row injects
# deterministic emails/phones/IPs derived from doc_id (identically on both
# engines) and then detects + redacts them — every doc_id % 3 == 2 doc is a
# true negative, so the patterns are exercised against both classes.
_PII_INJECT_SQL = """
pii_docs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 2 THEN text
              ELSE text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com or +91-'
                   || lpad(CAST(doc_id % 100000 AS VARCHAR), 10, '0')
                   || CASE WHEN doc_id % 5 = 0
                           THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                                || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                           ELSE '' END
         END AS pii_text
  FROM documents
)
"""

_PII_ORACLE = (
    """
WITH """
    + _PII_INJECT_SQL.strip()
    + """,
redacted AS (
  SELECT doc_id, pii_text,
         regexp_replace(
           regexp_replace(
             regexp_replace(pii_text, '<<EMAIL>>', '[EMAIL]', 'g'),
             '<<PHONE>>', '[PHONE]', 'g'),
           '<<IP>>', '[IP]', 'g') AS clean
  FROM pii_docs
)
SELECT doc_id,
       CAST(len(regexp_extract_all(pii_text, '<<EMAIL>>')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(pii_text, '<<PHONE>>')) AS INT) AS n_phones,
       CAST(len(regexp_extract_all(pii_text, '<<IP>>')) AS INT) AS n_ips,
       CAST(length(pii_text) - length(clean) AS INT) AS n_chars_removed,
       md5(clean) AS redacted_sig
FROM redacted
"""
).replace("<<EMAIL>>", TX.EMAIL_RE).replace("<<PHONE>>", TX.PHONE_RE).replace(
    "<<IP>>", TX.IPV4_RE
)


@query("pii_redact", oracle=_PII_ORACLE)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus: regex detection counts (email / phone /
    IPv4) plus full redaction, verified to the exact redacted bytes via
    md5. Pure per-row JVM regex expressions — map-side only, scan
    bandwidth at 100 TB, no shuffle at all. Patterns live in
    functions/text.py and are constrained to the Java-regex ∩ RE2 subset
    so the oracle runs the literal same pattern strings."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    inject = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +91-"),
        F.lpad((F.col("doc_id") % 100000).cast("string"), 10, "0"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" from 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit("."),
                ((F.col("doc_id") * 7) % 256).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    d = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 2, F.col("text"))
        .otherwise(inject)
        .alias("pii_text"),
    )
    clean = TX.redact_pii("pii_text")
    return d.select(
        "doc_id",
        TX.pii_count("pii_text", TX.EMAIL_RE).alias("n_emails"),
        TX.pii_count("pii_text", TX.PHONE_RE).alias("n_phones"),
        TX.pii_count("pii_text", TX.IPV4_RE).alias("n_ips"),
        (F.length("pii_text") - F.length(clean)).cast("int").alias("n_chars_removed"),
        F.md5(clean).alias("redacted_sig"),
    )


# ---------------------------------------------------------------------------
# exact-substring (span) dedup — the inverted-index shape of
# "Deduplicating Training Data Makes Language Models Better"
# ---------------------------------------------------------------------------


@query(
    "span_dedup_exact",
    oracle=f"""
WITH {CORPUS_SQL.strip()},
wordlists AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM corpus
),
spans AS (
  SELECT doc_id, unnest(list_distinct(
    [array_to_string(ws[i:i+7], ' ') FOR i IN generate_series(1, len(ws) - 7)]
  )) AS span
  FROM wordlists WHERE len(ws) >= 8
),
dup_spans AS (
  SELECT span FROM spans GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT s.doc_id,
       COUNT(*) AS n_spans,
       COUNT(d.span) AS n_dup_spans,
       ROUND(CAST(COUNT(d.span) AS DOUBLE) / COUNT(*), 6) AS dup_ratio
FROM spans s LEFT JOIN dup_spans d USING (span)
GROUP BY s.doc_id
""",
)
def span_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup: every 8-token span goes into an inverted
    index (one shuffle on the span key); spans seen in ≥2 distinct docs
    are duplicated content, reported as a per-doc duplicated-span ratio.
    Only docs SHARING a span ever meet — never all-pairs — so the join
    fan-out is bounded by true duplication, the property that makes this
    the standard substring-dedup shape at 100 TB."""
    docs = corpus(spark, sf_dir).filter(F.size(DD.tokenize("text")) >= 8)
    # the span map (tokenize + per-word xxhash64 + per-span xxhash64 +
    # explode) is the CPU-heavy stage and runs BEFORE the first exchange;
    # a few-split source (the 3-branch corpus union reading one parquet
    # file) strands it on those few tasks — spread the raw text first,
    # exactly as the minhash/simhash pipelines do (measured ~2.8x here:
    # min 4.03 s -> 1.45 s at sf0.1; a well-split source at scale skips
    # the exchange, the condition is false)
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    # spans participate only as KEYS (the count-distinct and the
    # inverted-index join), never as output — ship 8-byte xxhash64 hashes
    # instead of the 8-token strings, the same collision-equivalence
    # trade ngram_jaccard_pairs_prefix documents (~|spans|²/2^64,
    # deterministic either way, pinned by the string-side DuckDB oracle).
    # The persisted frame, the groupBy(span) exchange and the join
    # exchange all shrink from ~50-100 B/span to 8 B/span.
    spans = defer_unpersist(
        docs.select(
            "doc_id",
            F.explode(DD.hashed_word_shingles("text", n=8)).alias("span"),
        ).persist()
    )
    dup_spans = (
        spans.groupBy("span")
        .agg(F.count_distinct("doc_id").alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("span")
    )
    hit = spans.join(dup_spans.withColumn("__dup", F.lit(1)), "span", "left")
    return hit.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.count("__dup").alias("n_dup_spans"),
        F.round(F.count("__dup").cast("double") / F.count(F.lit(1)), 6).alias(
            "dup_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# unigram-LM quality score (the CCNet/KenLM-style fluency filter, reduced
# to the corpus-trainable unigram case)
# ---------------------------------------------------------------------------


@query(
    "unigram_lm_quality",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
  FROM documents
),
vocab AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
total AS (SELECT COUNT(*) AS n FROM toks)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       ROUND(SUM(ln(CAST(v.cnt AS DOUBLE))) / COUNT(*)
             - ln(CAST(total.n AS DOUBLE)), 4) AS avg_logp
FROM toks t JOIN vocab v USING (token), total
GROUP BY t.doc_id, total.n
""",
)
def unigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score: token log-probability under
    the corpus's own unigram distribution, averaged per document — the
    degenerate-but-shuffle-identical form of the CCNet perplexity filter
    (low avg_logp = rare-token gibberish). Two shuffles: the vocab
    build (token partial-agg) and the score join on token; the corpus
    total is a 1-row broadcast. avg(ln p) = mean(ln cnt) - ln N keeps the
    float work to one fold. The per-doc sum of ln() terms is the one fold
    here that CANNOT go through exact decimals, so its accumulation order
    differs between engines (~1e-13 relative error); rounding to 4dp puts
    the nearest rounding boundary ~1e-7 away at this corpus size — five
    orders of magnitude of margin, vs ~1e-10 at 6dp."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = defer_unpersist(
        d.select("doc_id", F.explode(DD.tokenize("text")).alias("token")).persist()
    )
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = toks.agg(F.count(F.lit(1)).alias("n"))
    scored = toks.join(vocab, "token").crossJoin(F.broadcast(total))
    return scored.groupBy("doc_id", "n").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            F.sum(F.log(F.col("cnt").cast("double"))) / F.count(F.lit(1))
            - F.log(F.col("n").cast("double")),
            4,
        ).alias("avg_logp"),
    ).select("doc_id", "n_tokens", "avg_logp")


# ---------------------------------------------------------------------------
# deterministic content-hash sharding (the training-shard writer)
# ---------------------------------------------------------------------------


@query(
    "shard_manifest",
    oracle="""
SELECT 's' || substr(md5(text), 1, 1) AS shard_id,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
GROUP BY 1
""",
)
def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard writer, write-then-audit: every doc is
    assigned shard = md5(content) prefix (content-addressed, so re-runs
    and engines agree byte-for-byte), the corpus is WRITTEN partitioned
    by shard, and the manifest the driver verifies is computed from the
    READ-BACK files — the same audit contract as inference_log_readback.
    At 100 TB this is one partitioned write (hash-partitioning keeps
    shards balanced because md5 is uniform) and the manifest agg prunes
    to footer-level stats per shard directory."""

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    staged = d.select(
        "doc_id",
        F.concat(F.lit("s"), F.substring(F.md5("text"), 1, 1)).alias("shard_id"),
        F.size(DD.tokenize("text")).alias("n_tokens"),
    )
    path = scratch_dir("bmls_shards_") + "/corpus"
    staged.write.partitionBy("shard_id").mode("overwrite").parquet(
        path, compression="zstd"
    )
    back = spark.read.parquet(path)
    return back.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


# ---------------------------------------------------------------------------
# corpus filter chain: ordered cleaning rules, first-failure verdict
# ---------------------------------------------------------------------------


@query(
    "corpus_filter_chain",
    oracle=r"""
WITH ws AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
),
m AS (
  SELECT doc_id,
         len(w) AS n_words,
         CASE WHEN len(w) >= 2 THEN
           1.0 - CAST(len(list_distinct(
             [w[i] || ' ' || w[i+1] FOR i IN generate_series(1, len(w) - 1)]
           )) AS DOUBLE) / (len(w) - 1)
         ELSE 0.0 END AS repetition
  FROM ws
)
SELECT doc_id, n_words, ROUND(repetition, 6) AS repetition,
       CASE WHEN n_words < 15 THEN 'too_short'
            WHEN n_words > 95 THEN 'too_long'
            WHEN repetition > 0.06 THEN 'repetitive'
            ELSE 'keep' END AS verdict
FROM m
""",
)
def corpus_filter_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered corpus-cleaning rule chain (the C4/Gopher-style filter
    cascade): length bounds then bigram-repetition, each doc labelled
    with its FIRST failing rule. All per-row array expressions — a pure
    scan with zero shuffles, so the cascade costs scan bandwidth at
    100 TB and composes with any downstream sample/pack step. Verdict
    thresholds compare the raw double (same operands, same IEEE result
    on both engines); repetition is rounded only for display."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = F.split(F.trim(F.col("text")), r"\s+")
    bg = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - 2),
            lambda i: F.concat_ws(" ", F.slice(w, i + 1, 2)),
        ),
    )
    rep = F.when(
        F.size(w) >= 2,
        F.lit(1.0) - F.size(F.array_distinct(bg)).cast("double") / (F.size(w) - 1),
    ).otherwise(F.lit(0.0))
    m = d.select(
        "doc_id", F.size(w).alias("n_words"), rep.alias("repetition_raw")
    )
    return m.select(
        "doc_id",
        "n_words",
        F.round("repetition_raw", 6).alias("repetition"),
        F.when(F.col("n_words") < 15, F.lit("too_short"))
        .when(F.col("n_words") > 95, F.lit("too_long"))
        .when(F.col("repetition_raw") > 0.06, F.lit("repetitive"))
        .otherwise(F.lit("keep"))
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# BPE merge step: corpus-wide adjacent character-pair statistics (the
# first iteration of byte-pair-encoding tokenizer training)
# ---------------------------------------------------------------------------


RETIRED_ORACLES["bpe_merge_step"] = r"""
WITH words AS (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents
),
pairs AS (
  SELECT unnest(
    [substr(w, i, 2) FOR i IN generate_series(1, length(w) - 1)]
  ) AS pair
  FROM words WHERE length(w) >= 2
)
SELECT pair, COUNT(*) AS cnt
FROM pairs GROUP BY pair
ORDER BY cnt DESC, pair ASC LIMIT 20
"""


def bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE tokenizer-training iteration: count every adjacent
    character pair inside words across the corpus and rank merge
    candidates — the inner loop of byte-pair-encoding vocabulary
    learning, whose corpus-scale cost is exactly this partial-agg
    shuffle (the winning pair would be merged and the count pass
    repeated). Pair construction stays JVM-side (substring over an index
    sequence); the global top-20 is TakeOrderedAndProject, never a full
    sort.

    RETIRED from the driver registry in r15 (second of the pinned
    second-generation retirement order): BPE stays driver-attested by
    bpe_vocab_learn + bpe_learn_until_vocab (which iterate this same
    merge core) + bpe_tokenize_apply; the freed slot registers
    stream_sessionize — gap sessionization in its true streaming-state
    form WITH event-time state eviction, exactly as the r14 verdict's
    task 3 prescribed. Still verified every pytest run against its
    DuckDB oracle (tests/test_staged_retired.py)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = d.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# iterative BPE vocabulary learning: k real merge rounds, not just the
# candidate statistics of bpe_merge_step
# ---------------------------------------------------------------------------

# Symbol-sequence encoding shared by both engines: each symbol is rendered
# as " sym|" — the leading space anchors symbol STARTS and the "|"
# terminator anchors symbol ENDS, so a plain (non-regex) left-to-right
# replace of " l| r|" -> " lr|" IS the greedy non-overlapping BPE merge:
# it cannot match a suffix/prefix of a longer symbol, and back-to-back
# runs chain correctly (" a| a| a| a|" -> " aa| aa|") because the match
# consumes no trailing delimiter. Words are restricted to ^[a-z]+$ so "|"
# and " " can never occur inside a symbol.
_BPE_BARE = (
    "transform(filter(split(s, ' '), x -> x <> ''),"
    " x -> substring(x, 1, length(x) - 1))"
)


_BPE_ORACLE_BARE = (
    "[substr(x, 1, length(x)-1) FOR x IN"
    " list_filter(string_split(s, ' '), x -> x <> '')]"
)


def _bpe_oracle_ctes() -> str:
    """Common unrolled-CTE prefix for the BPE rows: w0..w3 carry
    (w, s, n) — the raw word, its current symbol-sequence encoding, and
    its corpus frequency — through three learn-and-apply merge rounds."""
    bare = _BPE_ORACLE_BARE
    merge = (
        "replace(s, ' ' || split_part(pair, ' ', 1) || '| ' || split_part(pair, ' ', 2) || '|',"
        " ' ' || split_part(pair, ' ', 1) || split_part(pair, ' ', 2) || '|')"
    )
    its = []
    for i in (1, 2, 3):
        prev = f"w{i-1}"
        its.append(f"""
p{i} AS (
  SELECT unnest([b[i] || ' ' || b[i+1] FOR i IN generate_series(1, len(b)-1)]) AS pair, n
  FROM (SELECT {bare} AS b, n FROM {prev})
),
c{i} AS (SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt FROM p{i} GROUP BY pair),
b{i} AS (SELECT pair, cnt FROM c{i} ORDER BY cnt DESC, pair ASC LIMIT 1),
w{i} AS MATERIALIZED (SELECT w, {merge} AS s, n FROM {prev}, b{i})""")
    return f"""
WITH w0 AS (
  SELECT w, regexp_replace(w, '(.)', ' \\1|', 'g') AS s, COUNT(*) AS n
  FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w FROM documents
  ) WHERE regexp_matches(w, '^[a-z]+$') AND length(w) >= 2
  GROUP BY 1
),{",".join(its)}"""


def _bpe_oracle() -> str:
    return f"""{_bpe_oracle_ctes()},
vocab AS (
  SELECT 0 AS step, tok AS token, CAST(SUM(n) AS BIGINT) AS cnt
  FROM (SELECT unnest({_BPE_ORACLE_BARE}) AS tok, n FROM w3)
  GROUP BY tok ORDER BY cnt DESC, token ASC LIMIT 20
)
SELECT step, token, cnt FROM vocab
UNION ALL SELECT 1 AS step, replace(pair, ' ', '') AS token, cnt FROM b1
UNION ALL SELECT 2 AS step, replace(pair, ' ', '') AS token, cnt FROM b2
UNION ALL SELECT 3 AS step, replace(pair, ' ', '') AS token, cnt FROM b3
"""


def _bpe_initial_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-word table (w, s, n): raw word, per-character symbol
    encoding ('h|e|l|l|o|' with leading-space separators), corpus
    frequency — the Heaps'-law-sized loop state of BPE training."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("text")
    return (
        d.select(F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("w", F.regexp_replace("w", "(.)", " $1|").alias("s"), "n")
    )


def _bpe_pair_counts(wdf: DataFrame) -> DataFrame:
    """Frequency-weighted adjacent-symbol-pair counts over the word table."""
    return (
        wdf.select(F.expr(_BPE_BARE).alias("b"), "n")
        .filter(F.expr("size(b) >= 2"))  # sequence(1,0) would DESCEND in Spark
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(b) - 1),"
                    " i -> concat(element_at(b, i), ' ', element_at(b, i + 1)))"
                )
            ).alias("pair"),
            "n",
        )
        .groupBy("pair")
        .agg(F.sum("n").alias("cnt"))
    )


def bpe_learn_until_vocab(
    spark: SparkSession,
    sf_dir: str,
    target_vocab: int,
    checkpoint_every: int = 5,
    max_merges: int = 200,
) -> tuple[DataFrame, list[tuple[int, str, int]], int]:
    """Vocabulary-size-driven BPE training: merge until the in-use token
    vocabulary reaches ``target_vocab`` (the convergence-mode sibling of
    the fixed-k ``_bpe_learn_words`` oracle anchor — the graph.py
    pagerank(until_delta=...) pattern applied to the second iterative
    operator).

    Per merge round: one pair-count aggregation + a 1-row argmax collect
    (ties break lexicographically, same as the k=3 anchor), then the
    winning merge applies to every word as an inlined literal replace
    (tokens are [a-z]+ by construction, safe to embed). Lineage is
    TRUNCATED via localCheckpoint every ``checkpoint_every`` merges, so
    the live plan never stacks more than checkpoint_every replace
    expressions (plan-asserted in tests/test_plans.py) and the vocabulary
    size — one distinct-count action — is checked at checkpoint
    boundaries only; the merge count is therefore always a multiple of
    checkpoint_every (deterministic for a dataset), or smaller if the
    words fully merge first. Returns (words, merges, final_vocab_size);
    raises if max_merges rounds can't reach the target. At 100 TB the
    loop state is the distinct-word table (Heaps' law: vocabulary-sized)
    and each round is one partial-agg shuffle over it."""
    words = _bpe_initial_words(spark, sf_dir).localCheckpoint()
    merges: list[tuple[int, str, int]] = []
    exhausted = False
    while True:
        for _ in range(checkpoint_every):
            win = (
                _bpe_pair_counts(words)
                .orderBy(F.desc("cnt"), F.asc("pair"))
                .limit(1)
                .collect()
            )
            if not win:
                exhausted = True  # every word is a single symbol
                break
            pair, cnt = win[0]["pair"], win[0]["cnt"]
            merges.append((len(merges) + 1, pair.replace(" ", ""), int(cnt)))
            a, b = pair.split(" ")
            words = words.select(
                "w",
                F.expr(f"replace(s, ' {a}| {b}|', ' {a}{b}|')").alias("s"),
                "n",
            )
        words = words.localCheckpoint()  # truncate BEFORE the size action
        vocab_n = (
            words.select(F.explode(F.expr(_BPE_BARE)).alias("t")).distinct().count()
        )
        if vocab_n >= target_vocab or exhausted:
            return words, merges, vocab_n
        if len(merges) >= max_merges:
            raise RuntimeError(
                f"bpe_learn_until_vocab: vocab {vocab_n} < target "
                f"{target_vocab} after {max_merges} merges — corpus too "
                "small for the target; lower target_vocab or raise max_merges"
            )


def _bpe_until_oracle(target: int, kmax: int) -> str:
    """Unrolled-CTE oracle that encodes the STOPPING RULE of
    vocabulary-size-driven BPE training (checkpoint_every=1): unroll
    ``kmax`` learn-and-apply rounds, compute the in-use vocabulary size
    after each, pick kstar = the first round whose vocabulary reaches
    ``target`` (>= 1: the loop always merges once before its first
    check), and emit merges 1..kstar plus a step-0 vocabulary-size row.
    If no unrolled round reaches the target the oracle yields zero rows
    while the Spark side raises — both fail loudly, never quietly agree."""
    bare = _BPE_ORACLE_BARE
    merge = (
        "replace(s, ' ' || split_part(pair, ' ', 1) || '| ' || split_part(pair, ' ', 2) || '|',"
        " ' ' || split_part(pair, ' ', 1) || split_part(pair, ' ', 2) || '|')"
    )
    its, vocab_rows, merge_rows = [], [], []
    vocab_rows.append(
        f"SELECT 0 AS k, COUNT(DISTINCT tok) AS vn FROM (SELECT unnest({bare}) AS tok FROM w0)"
    )
    for i in range(1, kmax + 1):
        prev = f"w{i-1}"
        its.append(f"""
p{i} AS (
  SELECT unnest([b[i] || ' ' || b[i+1] FOR i IN generate_series(1, len(b)-1)]) AS pair, n
  FROM (SELECT {bare} AS b, n FROM {prev})
),
c{i} AS (SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt FROM p{i} GROUP BY pair),
b{i} AS (SELECT pair, cnt FROM c{i} ORDER BY cnt DESC, pair ASC LIMIT 1),
w{i} AS MATERIALIZED (SELECT w, {merge} AS s, n FROM {prev}, b{i})""")
        vocab_rows.append(
            f"SELECT {i} AS k, COUNT(DISTINCT tok) AS vn FROM (SELECT unnest({bare}) AS tok FROM w{i})"
        )
        merge_rows.append(
            f"SELECT {i} AS step, replace(pair, ' ', '') AS token, cnt FROM b{i}"
        )
    return f"""
WITH w0 AS MATERIALIZED (
  SELECT w, regexp_replace(w, '(.)', ' \\1|', 'g') AS s, COUNT(*) AS n
  FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w FROM documents
  ) WHERE regexp_matches(w, '^[a-z]+$') AND length(w) >= 2
  GROUP BY 1
),{",".join(its)},
v AS ({" UNION ALL ".join(vocab_rows)}),
kstar AS (SELECT MIN(k) AS k FROM v WHERE k >= 1 AND vn >= {target}),
m AS ({" UNION ALL ".join(merge_rows)})
SELECT m.step, m.token, m.cnt FROM m, kstar WHERE m.step <= kstar.k
UNION ALL
SELECT 0 AS step, '<vocab>' AS token, CAST(v.vn AS BIGINT) AS cnt
FROM v, kstar WHERE v.k = kstar.k
"""


@query("bpe_learn_until_vocab", oracle=_bpe_until_oracle(target=30, kmax=8))
def bpe_learn_until_vocab_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver attestation of the CONVERGENCE-mode BPE trainer's VALUES,
    not just its plan shape (the k=3 bpe_vocab_learn row stays the
    fixed-round anchor; tests/test_plans.py pins plan boundedness): train
    until the in-use vocabulary reaches 30 tokens with a vocabulary check
    after every merge (checkpoint_every=1), then emit each winning merge
    (step, token, corpus count) plus a step-0 row carrying the final
    vocabulary size. The oracle unrolls 8 learn-and-apply rounds in pure
    SQL, recomputes the per-round vocabulary sizes, and selects the SAME
    stopping round — so the merge sequence, every merge's count, the
    round count, and the final vocabulary size are all value-checked
    against an engine that never saw the loop."""
    _, merges, vocab_n = bpe_learn_until_vocab(
        spark, sf_dir, target_vocab=30, checkpoint_every=1, max_merges=8
    )
    rows = [(s, t, c) for (s, t, c) in merges] + [(0, "<vocab>", vocab_n)]
    return spark.createDataFrame(rows, "step int, token string, cnt long")


_BPE_MERGE = (
    "replace(s, concat(' ', split(pair, ' ')[0], '| ', split(pair, ' ')[1], '|'),"
    " concat(' ', split(pair, ' ')[0], split(pair, ' ')[1], '|'))"
)


def _bpe_learn_words(
    spark: SparkSession, sf_dir: str, collect_winners: bool = False
) -> tuple[DataFrame, list[DataFrame]]:
    """Shared 3-round BPE learn loop: returns the merged distinct-word
    table (w, s, n) — raw word, symbol-sequence encoding after all
    merges, corpus frequency — plus the per-round winner frames
    (step, token, cnt).

    Two winner plumbings, both measured (OPTIMIZATION_r16.md), each
    optimal for one caller:

    - ``collect_winners=False`` (bpe_vocab_learn): each round's argmax
      pair stays IN-PLAN as a persisted 1-row frame crossJoin-broadcast
      into the next round — zero driver round-trips; right when the
      winners' VALUES are part of the query output, because the whole
      learn+emit chain stays one action.
    - ``collect_winners=True`` (bpe_tokenize_apply): the winner comes
      back to the driver as ONE bounded row (the shape
      bpe_learn_until_vocab already uses) and is inlined into the next
      round's replace() as a literal — the word table becomes a pure
      projection chain over the ONE persisted w0, with no per-round
      persists or broadcast subtrees; right when the caller only needs
      the final encoded words (the merge frames are still returned, as
      literal rows). Winners are [a-z]+ by construction, safe to embed.

    At 100 TB the loop state is the persisted distinct-word table either
    way (Heaps'-law-sized); rounds stay one partial-agg shuffle each."""
    w0 = _bpe_initial_words(spark, sf_dir)
    words = defer_unpersist(w0.persist())
    merges = []
    for step in (1, 2, 3):
        ranked = _bpe_pair_counts(words).orderBy(F.desc("cnt"), F.asc("pair"))
        if collect_winners:
            win = ranked.limit(1).collect()
            if not win:  # every word fully merged — nothing left to count
                break
            pair, cnt = win[0]["pair"], int(win[0]["cnt"])
            a, b = pair.split(" ")
            merges.append(
                spark.createDataFrame(
                    [(step, pair.replace(" ", ""), cnt)],
                    "step int, token string, cnt long",
                )
            )
            words = words.select(
                "w",
                F.expr(f"replace(s, ' {a}| {b}|', ' {a}{b}|')").alias("s"),
                "n",
            )
        else:
            best = defer_unpersist(ranked.limit(1).persist())
            merges.append(
                best.select(
                    F.lit(step).alias("step"),
                    F.expr("replace(pair, ' ', '')").alias("token"),
                    "cnt",
                )
            )
            words = defer_unpersist(
                words.crossJoin(F.broadcast(best.select("pair")))
                .select("w", F.expr(_BPE_MERGE).alias("s"), "n")
                .persist()
            )
    return words, merges


@query("bpe_vocab_learn", oracle=_bpe_oracle())
def bpe_vocab_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BPE tokenizer training, k=3 merge rounds: each round counts
    corpus-wide adjacent symbol pairs (frequency-weighted over DISTINCT
    words — the tokenizer-training trick that makes the loop word-count-,
    not corpus-count-, sized), picks the argmax pair (ties to the
    lexicographically smallest), APPLIES the merge to every word, and
    recounts on the merged sequences — so rounds 2 and 3 see tokens
    round 1 created. Output: the 3 winning merges (step 1-3) plus the
    final top-20 vocabulary (step 0). The winning pair is a 1-row
    broadcast into the next round's plan, exactly the unrolled-iteration
    shape pagerank_copurchase proved; each round's word table persists so
    round k never recomputes rounds 1..k-1. At 100 TB the distinct-word
    table is the only shuffled state and it's vocabulary-sized (Heaps'
    law: ~millions of rows, not the corpus).

    Reference anchor: this is the training loop producers run upstream of
    numerix-style tokenized features; bpe_merge_step is one candidate
    count of it."""
    words, merges = _bpe_learn_words(spark, sf_dir)
    vocab = (
        words.select(F.explode(F.expr(_BPE_BARE)).alias("token"), "n")
        .groupBy("token")
        .agg(F.sum("n").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(20)
        .select(F.lit(0).alias("step"), "token", "cnt")
    )
    out = vocab
    for m in merges:
        out = out.unionAll(m)
    return out


def _bpe_apply_oracle() -> str:
    return f"""{_bpe_oracle_ctes()},
lookup AS (
  SELECT w, len({_BPE_ORACLE_BARE}) AS n_tokens FROM w3
),
docw AS (
  SELECT doc_id, w FROM (
    SELECT doc_id,
           unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
    FROM documents
  ) WHERE regexp_matches(w, '^[a-z]+$') AND length(w) >= 2
)
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(l.n_tokens) AS BIGINT) AS n_tokens
FROM docw d JOIN lookup l USING (w)
GROUP BY d.doc_id
"""


@query("bpe_tokenize_apply", oracle=_bpe_apply_oracle())
def bpe_tokenize_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer INFERENCE: encode every document with the merges
    bpe_vocab_learn just trained — per doc, the in-vocabulary word count
    and the total token count after all three merges apply. The encode
    itself touches only the DISTINCT-word table (word -> token-count
    lookup, vocabulary-sized); documents then explode to words and join
    the lookup — the canonical tokenizer-serving shape at 100 TB, where
    the vocabulary broadcasts and the corpus pays one scan + one
    word-key join, never per-document merge recomputation. Learn + apply
    in one plan mirrors train-then-encode pipelines; out-of-vocabulary
    words (non [a-z]+ after lowering) are excluded on both engines."""
    words, _merges = _bpe_learn_words(spark, sf_dir, collect_winners=True)
    lookup = words.select("w", F.expr(f"size({_BPE_BARE})").alias("n_tokens"))
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    doc_words = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"),
    ).filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
    return (
        doc_words.join(F.broadcast(lookup), on="w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Registered in round 9 (staged through round 8 with DuckDB-twin pytests
# in tests/test_retrieval.py running the driver's exact comparison).
# These four fill the registry to 150 = the 50-row window x 3-round
# freshness budget; see the saturation note + retirement list in
# queries.py before registering anything further.
# ---------------------------------------------------------------------------

_BM25_TERMS = ["spark", "table", "query", "join"]

R9_ORACLES: dict[str, str] = {
    "bm25_topk": r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(coalesce(text,''))), '\s+') AS w
  FROM documents
),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(len(w)) AS avgdl FROM toks),
t AS (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM toks),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf, MIN(dl) AS dl
  FROM t WHERE term IN ('spark', 'table', 'query', 'join') GROUP BY doc_id, term
),
dfq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         ROUND(SUM(
           ln(1 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
           * tf.tf * (1.2 + 1.0)
           / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / s.avgdl))
         ), 6) AS score
  FROM tf JOIN dfq USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, score, CAST(rn AS INT) AS rank FROM (
  SELECT doc_id, score,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rn
  FROM scored
) WHERE rn <= 10
""",
    "bigram_pmi": r"""
WITH ws AS (
  SELECT string_split_regex(trim(lower(coalesce(text,''))), '\s+') AS w
  FROM documents
),
grams AS (
  SELECT unnest(CASE WHEN len(w) >= 2
                THEN [w[i] || ' ' || w[i+1] FOR i IN generate_series(1, len(w) - 1)]
                ELSE [] END) AS g
  FROM ws
),
bcnt AS (
  SELECT string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2,
         CAST(COUNT(*) AS DOUBLE) AS n_pair
  FROM grams GROUP BY g
),
ucnt AS (
  SELECT term AS w, CAST(COUNT(*) AS DOUBLE) AS n_w
  FROM (SELECT unnest(w) AS term FROM ws) GROUP BY term
),
totals AS (
  SELECT (SELECT SUM(n_pair) FROM bcnt) AS b, (SELECT SUM(n_w) FROM ucnt) AS u
)
SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair,
       ROUND(ln((n_pair / t.b) / ((u1.n_w / t.u) * (u2.n_w / t.u))), 6) AS pmi
FROM bcnt
JOIN ucnt u1 ON u1.w = bcnt.w1
JOIN ucnt u2 ON u2.w = bcnt.w2
CROSS JOIN totals t
WHERE n_pair >= 5
ORDER BY pmi DESC, w1 ASC, w2 ASC
LIMIT 50
""",
    "char_entropy_quality": r"""
WITH cs AS (
  SELECT doc_id, unnest(string_split(coalesce(text, ''), '')) AS ch
  FROM documents
),
cc AS (SELECT doc_id, ch, CAST(COUNT(*) AS DOUBLE) AS c FROM cs GROUP BY doc_id, ch),
tot AS (SELECT doc_id, SUM(c) AS n FROM cc GROUP BY doc_id)
SELECT cc.doc_id, ROUND(-SUM((c / n) * ln(c / n)), 6) AS entropy
FROM cc JOIN tot USING (doc_id)
GROUP BY cc.doc_id
""",
}


@query("bm25_topk", oracle=R9_ORACLES["bm25_topk"])
def bm25_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 for a fixed query-term bag — lexical retrieval
    for query-based corpus curation. The corpus never shuffles: only the
    query terms' postings reach the tf aggregate; stats fold in as a
    1-row broadcast; ranking is a heap top-k (operators/retrieval.py)."""
    from bharatmlstack_spark.operators.retrieval import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = bm25_topk(docs, _BM25_TERMS, k=10)
    return out.select("doc_id", "score", F.col("rank").cast("int").alias("rank"))


@query("bigram_pmi", oracle=R9_ORACLES["bigram_pmi"])
def bigram_pmi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-bigram collocations by PMI (count >= 5) — the
    phrase-candidate miner feeding tokenizer/vocab construction. One
    corpus bigram-count shuffle + vocabulary-sized unigram joins
    (operators/retrieval.py)."""
    from bharatmlstack_spark.operators.retrieval import collocation_pmi

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return collocation_pmi(docs, min_count=5, k=50)


@query("char_entropy_quality", oracle=R9_ORACLES["char_entropy_quality"])
def char_entropy_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution Shannon entropy (natural
    log) — the gibberish/binary-junk quality signal. Pure array HOFs,
    zero shuffles: scan-bandwidth map work (functions/text.char_entropy)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id", F.round(TX.char_entropy("text"), 6).alias("entropy")
    )


R9_ORACLES["semantic_dedup_ivf"] = """
WITH ecorpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
           / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) AS cosine
  FROM ecorpus a CROSS JOIN ecorpus b
  WHERE a.vec_id < b.vec_id
)
SELECT id_a, id_b, ROUND(cosine, 6) AS cosine
FROM pairs WHERE ROUND(cosine, 6) >= 0.99
"""


@query("semantic_dedup_ivf", oracle=R9_ORACLES["semantic_dedup_ivf"])
def semantic_dedup_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-pruned semantic dedup, arXiv:2303.09540): IVF
    cells -> within-cell cosine >= 0.99, on the same injected-duplicate
    corpus as dedup_embedding_cosine (its LSH-pruned sibling; the
    brute-force cross join survives only as the DuckDB oracle).

    n_cells follows the operator's PRESCRIBED costing, n_cells ~ n/10^4
    (cells stay ~10^4 vectors, sum(|cell|^2) stays executor-sized),
    derived from one cheap driver-side count — not a hardcoded cell
    count. SCALE.md's 10x scale experiment keeps the cautionary pair: a fixed
    16 cells superlinearly degrades at 10x data (11.0x) where the
    prescribed 16->160 holds 4.5x.

    Why an exact oracle can gate a cluster-pruned query on this corpus:
    the only pairs at rounded cosine >= 0.99 are the injected EXACT
    copies (vec_id % 50 == 0 duplicated at +10000), and identical
    vectors always receive the same nearest-centroid cell — recall
    exactly 1, no boundary-straddle miss. The random base embeddings
    sit far below the threshold. Re-pin if the corpus generator
    changes (tests/test_retrieval.py pins IVF == brute force today)."""
    import math

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    dup = e.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    corpus_e = e.unionAll(dup)
    # bounded driver scalar, same class as the centroid fit; the floor
    # keeps tiny fixtures from collapsing to one all-pairs cell
    n_cells = max(16, math.ceil(corpus_e.count() / 10_000))
    out = DD.embedding_semantic_dedup_pairs(
        corpus_e, id_col="vec_id", threshold=-2.0, n_cells=n_cells
    )
    return (
        out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
        .filter(F.col("cosine") >= 0.99)
    )


@query("stream_semantic_dedup_sink", oracle=R9_ORACLES["semantic_dedup_ivf"])
def stream_semantic_dedup_sink_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SemDeDup (registered r10 on the segment_except retirement
    slot; staged tier since r09): the same injected-duplicate corpus as
    semantic_dedup_ivf arrives as a 3-file topic that REPLAYS in full
    under a fresh checkpoint (at-least-once redelivery). Each micro-batch
    is cell-assigned with the FROZEN coarse quantizer, probed against the
    accumulated cell-partitioned index via targeted partition dirs (O(the
    batch's cells) listing and scan), and appended — the state is SHARED
    with stream_ann_ivf_sink. The emission union equals the one-shot batch
    SemDeDup under the same quantizer (deterministic assignment, symmetric
    cosine), so the SAME brute-force DuckDB twin gates it: the only pairs
    at rounded cosine >= 0.99 are the injected exact copies, and identical
    vectors always share a cell — recall exactly 1 on this corpus.
    See streaming/ingest.stream_semantic_dedup_sink."""
    import math

    from bharatmlstack_spark.streaming.ingest import (
        stream_semantic_dedup_sink,
    )
    from bharatmlstack_spark.operators.lsh import IvfIndex

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    dup = e.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    corpus_e = e.unionAll(dup)
    n_cells = max(16, math.ceil(corpus_e.count() / 10_000))
    idx = IvfIndex(n_cells=n_cells, id_col="vec_id").fit(
        corpus_e, sample_size=512, iters=3
    )

    work = scratch_dir("bmls_semstream_")
    topic = f"{work}/topic"
    index_path, out_path = f"{work}/index", f"{work}/pairs"
    corpus_e.repartition(3).write.parquet(topic)
    schema = "vec_id bigint, embedding array<float>"
    for replay in ("ckpt1", "ckpt2"):  # second pass = full redelivery
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(topic)
        )
        q = stream_semantic_dedup_sink(
            stream, idx, index_path, out_path, f"{work}/{replay}", spark,
            threshold=0.99, trigger_once=True,
        )
        # hang guard, not a performance bound: the gate runs this at
        # sf0.01 (~15s), but the 10x scale experiment reruns the SAME
        # row at sf1 where the floor-bound n_cells derivation costs
        # ~25x (SCALE.md) — 300s sat exactly on that edge and the old
        # silent-False await raced the readout against the still-running
        # sink; 1800s matches the tools' convention
        await_stream(
            q, 1800, f"stream_semantic_dedup_sink (replay {replay})"
        )

    pairs = spark.read.parquet(out_path).dropDuplicates(["id_a", "id_b"])
    return (
        pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
        .filter(F.col("cosine") >= 0.99)
    )


# ---------------------------------------------------------------------------
# STAGED TIER: registration candidates for a future window — rotation
# protocol (b): pytest replicates the driver comparison until a retirement
# frees a slot (tests/test_refit_staged.py graduated ann_refit_search this
# way in r12; tests/test_cross_dedup.py graduated dedup_cross_corpus in
# r11; the r09 rows in R9_ORACLES before them).
# ---------------------------------------------------------------------------

_PHRASE = "order fast"  # 2-gram present ~50x in the synthetic corpus

_PHRASE_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(coalesce(text,''))), '\s+') AS w
  FROM documents
),
occ AS (
  SELECT doc_id,
         CAST(len([i FOR i IN generate_series(1, len(w) - 1)
                   IF w[i] = 'order' AND w[i+1] = 'fast']) AS BIGINT)
           AS n_occurrences
  FROM toks WHERE len(w) >= 2
)
SELECT doc_id, n_occurrences FROM occ WHERE n_occurrences > 0
"""

STAGED_ORACLES: dict[str, str] = {
    # GRADUATED r13 (registered on the pinned salted_dim_join retirement
    # slot) — the alias stays so tests/test_stream_bm25.py keeps one
    # oracle source; the registered oracle IS the bm25_topk twin (same
    # corpus, same term bag), the precedent set by
    # stream_semantic_dedup_sink / semantic_dedup_ivf
    "stream_bm25_search": R9_ORACLES["bm25_topk"],
    # GRADUATED r14 (registered on the pinned sketch_union_distinct
    # retirement slot) — alias stays for tests/test_stream_bm25.py, the
    # same pattern as stream_bm25_search above. The registered oracle is
    # the direct token-window count over the raw corpus.
    "stream_phrase_search": _PHRASE_ORACLE,
}


@query("stream_phrase_search", oracle=_PHRASE_ORACLE)
def stream_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT phrase search through a POSITIONAL streamed postings index
    — staged r12 beside stream_bm25_search, GRADUATED r14 onto the
    pinned sketch_union_distinct retirement slot (its first driver
    verdict lands in the r15 window; tests/test_stream_bm25.py keeps
    running the driver comparison meanwhile). The corpus
    replays IN FULL under a fresh checkpoint (at-least-once
    redelivery); the sink stores per-(term, doc) sorted position lists
    (store_positions=True), and the search intersects offset-shifted
    position lists after an id equi-join over only the phrase terms'
    bucket dirs — the classic positional-postings algorithm, gated by a
    direct token-window count over the raw corpus. The in-plan dedup
    path is exercised here (no compaction), complementing the BM25
    row's compact-then-search path."""
    from bharatmlstack_spark.streaming.ingest import (
        await_stream,
        phrase_search_streamed,
        stream_postings_sink,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    work = scratch_dir("bmls_phrase_")
    topic, index_path = f"{work}/topic", f"{work}/index"
    docs.repartition(3).write.parquet(topic)
    for replay in ("ckpt1", "ckpt2"):  # second pass = full redelivery
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(topic)
        )
        q = stream_postings_sink(
            stream, index_path, f"{work}/{replay}", spark,
            n_buckets=16, trigger_once=True, store_positions=True,
        )
        await_stream(q, 1800, f"stream_postings_sink positions ({replay})")
    return phrase_search_streamed(spark, index_path, _PHRASE, dedup=True)


@query("stream_bm25_search", oracle=R9_ORACLES["bm25_topk"])
def stream_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 THROUGH a streamed inverted index — staged r12,
    GRADUATED r13 onto the pinned salted_dim_join retirement slot (its
    first driver verdict lands in the r14 window; tests/
    test_stream_bm25.py keeps running the driver comparison). The documents
    corpus arrives as a 3-file topic that replays IN FULL under a fresh
    checkpoint (at-least-once redelivery); each micro-batch's postings
    append to a term-bucket-partitioned index (streaming/
    ingest.stream_postings_sink — the fourth streamed-state family
    member). The duplicate-laden state is then COMPACTED
    (compact_streamed_postings) and searched with dedup=False, so one
    row gates three claims: streamed build == batch BM25 (the registered
    bm25_topk DuckDB twin), redelivery copies are byte-identical and
    reclaimable, and the search's bucket pruning reads only the query
    terms' dirs. Reference anchor: online-feature-store's stream-ingest
    -> sharded-state -> keyed-lookup cycle, with the term as the key."""
    from bharatmlstack_spark.streaming.ingest import (
        await_stream,
        bm25_search_streamed,
        compact_streamed_postings,
        stream_postings_sink,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    work = scratch_dir("bmls_bm25stream_")
    topic, index_path = f"{work}/topic", f"{work}/index"
    docs.repartition(3).write.parquet(topic)
    schema = "doc_id bigint, text string"
    for replay in ("ckpt1", "ckpt2"):  # second pass = full redelivery
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(topic)
        )
        q = stream_postings_sink(
            stream, index_path, f"{work}/{replay}", spark,
            n_buckets=16, trigger_once=True,
        )
        await_stream(q, 1800, f"stream_postings_sink (replay {replay})")
    stats = compact_streamed_postings(spark, index_path)
    if stats["bailed"]:
        # never expected (numeric bucket keys are always targetable) but
        # MUST be loud: a bailed compaction leaves redelivered duplicate
        # postings in place, and the dedup=False search below would score
        # doubled tf/df. A bare assert is stripped under python -O.
        raise RuntimeError(
            "compact_streamed_postings bailed out — postings may hold "
            "redelivered duplicates; refusing to run the dedup=False "
            "search over them."
        )
    out = bm25_search_streamed(
        spark, index_path, _BM25_TERMS, k=10, dedup=False
    )
    return out.select("doc_id", "score", F.col("rank").cast("int").alias("rank"))


# The deletion row's oracle IS the registered bm25_topk twin, evaluated
# over the survivor corpus (docs minus the tombstoned fifth) — the
# strongest possible statement of what a right-to-be-forgotten delete
# must leave behind. Both phases (eager mask, physical fold) must equal
# it, so the oracle crosses the survivor top-k with the two phase tags.
_DELETE_SURVIVOR_TWIN = R9_ORACLES["bm25_topk"].replace(
    "FROM documents", "FROM documents WHERE doc_id % 5 <> 3"
)
STAGED_ORACLES["stream_delete_search"] = f"""
WITH survivor_topk AS ({_DELETE_SURVIVOR_TWIN})
SELECT p.phase, k.doc_id, k.score, k.rank
FROM survivor_topk k
CROSS JOIN (SELECT unnest(['masked', 'folded']) AS phase) p
"""


@query("stream_delete_search", oracle=STAGED_ORACLES["stream_delete_search"])
def stream_delete_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten through the streamed postings index —
    staged r13 per the r12 verdict's task 4, GRADUATED r14 onto the
    pinned cube_orders_status retirement slot (its first driver verdict
    lands in the r15 window; tests/test_stream_bm25.py keeps running
    the driver comparison meanwhile). One row gates the WHOLE deletion
    story: the
    corpus streams into the index, a fifth of the docs (doc_id % 5 = 3
    — the residue binds: survivors' top-10 differs from the full
    corpus's at every test SF) are deleted via delete_postings_docs,
    and BM25 runs TWICE — once with only the eager tombstone mask
    (phase 'masked': broadcast anti-join over postings AND the doclen
    stats scan), once after fold_postings_tombstones physically purged
    the postings/doclen buckets and consumed the tombstone table (phase
    'folded'). Both phases must equal the batch BM25 twin over the
    survivor corpus, so a masked search that leaks a deleted doc's
    postings, stats that still count deleted docs, or a fold that
    purges the wrong buckets each break the row. The masked rows
    MATERIALIZE before the fold rewrites state files (the registry's
    lifecycle contract — a lazy pre-fold plan would read deleted
    files). Reference anchor: the reference's entity-deletion path
    (online-feature-store's delete-by-key over sharded state), applied
    to the inverted-index family."""
    from bharatmlstack_spark.streaming.ingest import (
        TOMBSTONES_DIR,
        bm25_search_streamed,
        delete_postings_docs,
        fold_postings_tombstones,
        hadoop_path_exists,
        stream_postings_sink,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    work = scratch_dir("bmls_delsearch_")
    topic, index_path = f"{work}/topic", f"{work}/index"
    docs.repartition(3).write.parquet(topic)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(topic)
    )
    q = stream_postings_sink(
        stream, index_path, f"{work}/ck", spark,
        n_buckets=16, trigger_once=True,
    )
    await_stream(q, 1800, "stream_postings_sink (deletion row)")

    victims = docs.filter(F.col("doc_id") % 5 == 3).select("doc_id")
    n_deleted = delete_postings_docs(spark, index_path, victims)
    if not n_deleted:
        raise RuntimeError(
            "stream_delete_search: empty deletion wave — the fixture "
            "must bind or the row attests nothing"
        )
    masked = [
        (r["doc_id"], float(r["score"]), int(r["rank"]))
        for r in bm25_search_streamed(
            spark, index_path, _BM25_TERMS, k=10
        ).collect()
    ]
    folded_stats = fold_postings_tombstones(spark, index_path)
    if folded_stats["tombstones"] != n_deleted:
        raise RuntimeError(
            f"fold consumed {folded_stats['tombstones']} tombstones, "
            f"expected {n_deleted}"
        )
    if hadoop_path_exists(spark, f"{index_path}/{TOMBSTONES_DIR}"):
        raise RuntimeError("tombstone table survived the fold")
    folded = [
        (r["doc_id"], float(r["score"]), int(r["rank"]))
        for r in bm25_search_streamed(
            spark, index_path, _BM25_TERMS, k=10
        ).collect()
    ]
    return spark.createDataFrame(
        [("masked", *row) for row in masked]
        + [("folded", *row) for row in folded],
        "phase string, doc_id bigint, score double, rank int",
    )


# The update row's oracle IS the registered bm25_topk twin over the
# corpus AFTER the update wave: every doc_id % 11 = 5 doc's text is
# replaced by a fixed new version (SQL-expressible, so DuckDB rebuilds
# the updated corpus independently). Both phases — eager gen-mask, and
# after the fold physically purged the old generations — must equal it.
_UPDATED_TEXT = "spark shuffle partition spark catalyst"
_UPDATE_SURVIVOR_TWIN = R9_ORACLES["bm25_topk"].replace(
    "FROM documents",
    "FROM (SELECT doc_id, CASE WHEN doc_id % 11 = 5 THEN "
    f"'{_UPDATED_TEXT}' ELSE text END AS text FROM documents)",
)
STAGED_ORACLES["stream_update_search"] = f"""
WITH updated_topk AS ({_UPDATE_SURVIVOR_TWIN})
SELECT p.phase, k.doc_id, k.score, k.rank
FROM updated_topk k
CROSS JOIN (SELECT unnest(['masked', 'folded']) AS phase) p
"""


@query("stream_update_search", oracle=STAGED_ORACLES["stream_update_search"])
def stream_update_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-place document UPDATE through the versioned streamed postings
    index — staged r13 beside stream_delete_search, GRADUATED r14 onto
    the pinned distinct_users_by_type retirement slot (its first driver
    verdict lands in the r15 window; tests/test_postings_updates.py and
    tests/test_stream_bm25.py keep running the driver comparison
    meanwhile). The corpus
    streams in as batch 0 of a versioned index
    (``allow_updates=True``); an update wave re-ingests every
    ``doc_id % 11 = 5`` doc with NEW text as batch 1 (the sink's doclen
    probe writes the (id, gen_lt=1) update-tombstones); BM25 then runs
    TWICE — under the eager generation mask (phase 'masked'), and after
    ``fold_postings_tombstones`` physically purged the replaced
    generations (phase 'folded'). Both phases must equal the batch BM25
    twin DuckDB computes over an independently-rebuilt updated corpus,
    so a blended tf, a leaked old posting, a dropped term still
    scoring, or stats counting a doc twice each break the row. The
    update binds: the new text injects the headline query terms into
    docs that ranked nowhere. Reference anchor: skye's re-published
    entity embeddings (the indexer consumes a live stream where
    re-publication is normal — qdrant upsert semantics)."""
    from bharatmlstack_spark.streaming.ingest import (
        TOMBSTONES_DIR,
        bm25_search_streamed,
        fold_postings_tombstones,
        hadoop_path_exists,
        stream_postings_sink,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    work = scratch_dir("bmls_updsearch_")
    topic, index_path = f"{work}/topic", f"{work}/index"
    docs.repartition(2).write.parquet(topic)
    updates = docs.filter(F.col("doc_id") % 11 == 5).select(
        "doc_id", F.lit(_UPDATED_TEXT).alias("text")
    )
    n_updates = updates.count()
    if not n_updates:
        raise RuntimeError("empty update wave — the fixture must bind")

    def _run() -> None:
        from bharatmlstack_spark.streaming.ingest import await_stream

        stream = spark.readStream.schema("doc_id bigint, text string").parquet(
            topic
        )
        q = stream_postings_sink(
            stream, index_path, f"{work}/ck", spark,
            n_buckets=16, trigger_once=True, allow_updates=True,
        )
        await_stream(q, 1800, "stream_postings_sink (update row)")

    # batch 0: the full corpus. Then the update wave lands in the SAME
    # source dir and the SAME checkpoint resumes — only the new files
    # arrive, as micro-batch 1, so the wave's gen is strictly newer
    # than the corpus's (the versioned contract's ordering comes from
    # the source, exactly as Kafka offsets would provide it).
    _run()
    updates.repartition(1).write.mode("append").parquet(topic)
    _run()

    if not hadoop_path_exists(spark, f"{index_path}/{TOMBSTONES_DIR}"):
        raise RuntimeError("update wave wrote no tombstones — probe broken?")
    masked = [
        (r["doc_id"], float(r["score"]), int(r["rank"]))
        for r in bm25_search_streamed(
            spark, index_path, _BM25_TERMS, k=10
        ).collect()
    ]
    stats = fold_postings_tombstones(spark, index_path)
    if stats["tombstones"] != n_updates:
        raise RuntimeError(
            f"fold consumed {stats['tombstones']} tombstones, expected "
            f"{n_updates}"
        )
    folded = [
        (r["doc_id"], float(r["score"]), int(r["rank"]))
        for r in bm25_search_streamed(
            spark, index_path, _BM25_TERMS, k=10
        ).collect()
    ]
    return spark.createDataFrame(
        [("masked", *row) for row in masked]
        + [("folded", *row) for row in folded],
        "phase string, doc_id bigint, score double, rank int",
    )


# The vector-upsert row's oracle: brute-force cosine top-1 over the
# LATEST corpus (every vec_id % 40 = 0 embedding replaced by its
# reversal — list_reverse is exact float reordering, so DuckDB and
# Spark rebuild the identical updated corpus independently). Two query
# families: the NEW embeddings (each must find ITSELF at cosine 1.0 —
# a leaked old generation cannot score 1.0 there) and the OLD
# embeddings (whose winner over the latest corpus is some OTHER doc —
# if the index still served the replaced rows they would win at 1.0
# and mismatch). The old family's score is NULLed on both sides: the
# winner's identity is float32/float64-stable, its 6th decimal is not.
STAGED_ORACLES["stream_upsert_ann_search"] = """
WITH latest AS (
  SELECT vec_id,
         CASE WHEN vec_id % 40 = 0 THEN list_reverse(embedding)
              ELSE embedding END AS embedding
  FROM embeddings
),
q AS (
  SELECT 'new' AS family, vec_id AS query_id,
         list_reverse(embedding) AS qe
  FROM embeddings WHERE vec_id % 40 = 0
  UNION ALL
  SELECT 'old' AS family, vec_id AS query_id, embedding AS qe
  FROM embeddings WHERE vec_id % 40 = 0
),
scored AS (
  SELECT q.family, q.query_id, c.vec_id,
         list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[]))
           / (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(q.qe AS DOUBLE[])))) AS cosine
  FROM q CROSS JOIN latest c
),
ranked AS (
  SELECT family, query_id, vec_id, cosine,
         ROW_NUMBER() OVER (
           PARTITION BY family, query_id ORDER BY cosine DESC, vec_id ASC
         ) AS rn
  FROM scored
)
SELECT family, query_id, vec_id,
       CASE WHEN family = 'new' THEN ROUND(cosine, 6) END AS score
FROM ranked WHERE rn = 1
"""


@query(
    "stream_upsert_ann_search",
    oracle=STAGED_ORACLES["stream_upsert_ann_search"],
)
def stream_upsert_ann_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN search through a VERSIONED streamed IVF index after an
    upsert wave — staged r13 with the feature, GRADUATED r14 onto the
    pinned events_value_histogram retirement slot (its first driver
    verdict lands in the r15 window; tests/test_ivf_updates.py keeps
    running the engine-side comparisons meanwhile). The embeddings
    corpus streams in as batch 0
    (``allow_updates=True``); every ``vec_id % 40 = 0`` vector
    re-publishes REVERSED as batch 1 (the sink's registry probe writes
    the update-tombstones); the search probes ALL cells (nprobe =
    n_cells — upsert visibility is this row's claim, not pruning,
    which ann_ivf_dot/ann_refit_search gate) with both the new and the
    old embeddings. New-family queries must find themselves at cosine
    1.0 — impossible if an old generation leaked, since the reversal
    is its own inverse only at the replaced rows; old-family queries
    must find whatever OTHER doc brute force picks over the latest
    corpus — impossible if the replaced rows still served (they would
    win at 1.0). Reference anchor: skye re-publish/upsert
    (skye/internal/repositories/vector/qdrant.go Upsert)."""
    from bharatmlstack_spark.operators.lsh import IvfIndex
    from bharatmlstack_spark.streaming.ingest import (
        await_stream,
        read_streamed_ivf_index,
        stream_ann_ivf_sink,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    ivf = IvfIndex(n_cells=4, id_col="vec_id").fit(
        e, sample_size=512, iters=3
    )
    work = scratch_dir("bmls_upsertann_")
    topic, index_path = f"{work}/topic", f"{work}/index"
    e.coalesce(1).write.parquet(topic)

    def _run() -> None:
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(topic)
        )
        q = stream_ann_ivf_sink(
            stream, ivf, index_path, f"{work}/ck", spark,
            trigger_once=True, allow_updates=True,
        )
        await_stream(q, 1800, "stream_ann_ivf_sink (upsert row)")

    _run()
    wave = e.filter(F.col("vec_id") % 40 == 0).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    if not wave.count():
        raise RuntimeError(
            "empty upsert wave — the fixture must bind or the row "
            "attests nothing about update visibility"
        )
    wave.coalesce(1).write.mode("append").parquet(topic)
    _run()  # same checkpoint: only the wave arrives, as batch 1
    from bharatmlstack_spark.streaming.ingest import (
        IVF_TOMBSTONES_DIR,
        hadoop_path_exists,
    )

    if not hadoop_path_exists(spark, f"{index_path}/{IVF_TOMBSTONES_DIR}"):
        raise RuntimeError(
            "upsert wave wrote no update-tombstones — registry probe "
            "broken?"
        )

    index = read_streamed_ivf_index(spark, index_path)
    olds = e.filter(F.col("vec_id") % 40 == 0)
    fams = [
        ("new", olds.select(
            F.col("vec_id").alias("query_id"),
            F.reverse("embedding").alias("query_embedding"),
        )),
        ("old", olds.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_embedding"),
        )),
    ]
    parts = []
    for fam, queries in fams:
        hit = ivf.search(
            index, queries, k=1, nprobe=4, metric="COSINE"
        ).select(
            F.lit(fam).alias("family"),
            "query_id",
            "vec_id",
            (
                F.round("score", 6) if fam == "new" else F.lit(None)
            ).cast("double").alias("score"),
        )
        parts.append(hit)
    return parts[0].unionAll(parts[1])


_ANN_REFIT_SEARCH_ORACLE = """
WITH ecorpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0
),
q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 50 = 0
),
scored AS (
  SELECT q.query_id, c.vec_id,
         list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[]))
           / (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(q.qe AS DOUBLE[])))) AS cosine
  FROM q CROSS JOIN ecorpus c
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC
         ) AS rank
  FROM scored
)
SELECT query_id, vec_id, ROUND(cosine, 6) AS score, rank
FROM ranked WHERE rank <= 2
"""


@query("ann_refit_search", oracle=_ANN_REFIT_SEARCH_ORACLE)
def ann_refit_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN search THROUGH a refit streamed index: the accumulated
    cell-partitioned state (bootstrap quantizer n_cells=2, plus one full
    redelivery copy of every row) is re-bucketed by
    refit_streamed_index, then searched at nprobe=1 with the RETURNED
    quantizer for the corpus's injected exact-duplicate queries. The
    brute-force DuckDB twin gates three claims at once:

    - refit preserved content (every id, its embedding intact);
    - refit physically deduped the redelivery copies (a duplicated
      index would return the self-match twice in the top-2 and
      hash-mismatch);
    - exact-duplicate recall is 1 at ONE probed cell even after
      re-bucketing — identical vectors (the query IS a corpus member,
      its copy at +10000) assign to the same cell under any quantizer,
      and the probe's argmin matches the assignment's, so brute-force
      top-2 == the probed cell's top-2 (both hits at cosine 1.0, ties
      id-ascending in both engines; rank 3 sits far below on this
      corpus — the semantic_dedup_ivf margin argument).

    REGISTERED r12 on the knn_dot retirement slot per the pinned
    protocol (staged tier r11 while the rotation was saturated —
    tests/test_refit_staged.py ran the driver comparison meanwhile and
    still does). Reference anchor: skye's indexer reset/rebuild jobs
    (skye/internal/consumers/handler/indexer/)."""
    from bharatmlstack_spark.operators.lsh import IvfIndex
    from bharatmlstack_spark.streaming.ingest import (
        read_streamed_ivf_index,
        refit_streamed_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dup = e.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    corpus_e = e.unionAll(dup)
    idx0 = IvfIndex(n_cells=2, id_col="vec_id").fit(
        corpus_e, sample_size=512, iters=3
    )
    work = scratch_dir("bmls_refitsearch_")
    index_path = f"{work}/index"
    assigned = idx0.index(corpus_e)
    for _ in range(2):  # second append = one full redelivery
        assigned.write.mode("append").partitionBy("cell").parquet(index_path)
    stats = refit_streamed_index(
        spark, index_path, target_cell_rows=256, min_cells=8
    )
    index = read_streamed_ivf_index(spark, index_path, dedup=False)
    queries = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    out = stats["ivf"].search(index, queries, k=2, nprobe=1, metric="COSINE")
    return out.select(
        "query_id", "vec_id", F.round("score", 6).alias("score"), "rank"
    )

_CROSS_CORPUS_ORACLE = """
WITH corpus_a AS (SELECT doc_id, text FROM documents),
corpus_b AS (
  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 25 = 0
  UNION ALL
  SELECT doc_id + 20000 AS doc_id, text || ' zz9' AS text FROM documents WHERE doc_id % 25 = 0
),
wl_a AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM corpus_a),
wl_b AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM corpus_b),
sh_a AS (
  SELECT doc_id, unnest(list_distinct(
    [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] FOR i IN generate_series(1, len(ws) - 2)]
  )) AS shingle FROM wl_a WHERE len(ws) >= 3
),
sh_b AS (
  SELECT doc_id, unnest(list_distinct(
    [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] FOR i IN generate_series(1, len(ws) - 2)]
  )) AS shingle FROM wl_b WHERE len(ws) >= 3
),
sizes_a AS (SELECT doc_id, COUNT(*) AS set_size FROM sh_a GROUP BY doc_id),
sizes_b AS (SELECT doc_id, COUNT(*) AS set_size FROM sh_b GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
  FROM sh_a a JOIN sh_b b USING (shingle)
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       ROUND(CAST(ni AS DOUBLE) / CAST(sa.set_size + sb.set_size - ni AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes_a sa ON sa.doc_id = id_a
JOIN sizes_b sb ON sb.doc_id = id_b
WHERE CAST(ni AS DOUBLE) / CAST(sa.set_size + sb.set_size - ni AS DOUBLE) >= 0.8
"""


@query("dedup_cross_corpus", oracle=_CROSS_CORPUS_ORACLE)
def dedup_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus MinHash-LSH dedup — dedupe an INCOMING corpus (exact
    copies + ' zz9' near-copies of every 25th document, the standard
    fixture shapes) against the full documents table as the REFERENCE
    corpus, returning only cross pairs (operators/dedup.
    minhash_lsh_cross_pairs). The fuzzy decontamination shape: at
    threshold 0.8 every qualifying pair has J >= ~0.9, where 64x16
    banding recall is effectively 1 (same corpus assumption the
    registered dedup_minhash_lsh row documents), so the exact DuckDB
    cross-Jaccard twin gates it.

    REGISTERED r11 on the multimodal_decode_rgb retirement slot (staged
    tier r10 while the rotation was saturated — tests/test_cross_dedup.py
    ran the driver comparison meanwhile and still does). Reference
    anchor: skye's reset/delta ingestion (skye/internal/consumers/) —
    a new corpus delta deduped against the standing reference corpus."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    every25 = docs.filter(F.col("doc_id") % 25 == 0)
    incoming = every25.select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    ).unionAll(
        every25.select(
            (F.col("doc_id") + 20000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zz9")).alias("text"),
        )
    )
    out = DD.minhash_lsh_cross_pairs(
        docs, incoming, id_col="doc_id", text_col="text", threshold=0.8
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


# IVF-PQ row (staged r14, GRADUATED r15 onto the pinned
# dedup_ngram_jaccard retirement slot — alias stays for
# tests/test_ivfpq.py): the deliverable is the EXACT brute-force top-10
# (bit-equal double-fold scores DuckDB recomputes) plus a recall flag
# over the IVF-PQ candidate set — the pq_ann_topk verification pattern
# applied to the composed index.
_IVFPQ_DOT64 = " + ".join(
    f"CAST(c.embedding[{i}] AS DOUBLE) * CAST(q.qe[{i}] AS DOUBLE)"
    for i in range(1, 65)
)  # left-associative fold, bit-identical to functions.vector.dot
STAGED_ORACLES["ann_ivfpq_topk"] = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5)
SELECT vec_id, score, rank, TRUE AS recall_ok FROM (
  SELECT c.vec_id,
         {_IVFPQ_DOT64} AS score,
         ROW_NUMBER() OVER (ORDER BY {_IVFPQ_DOT64} DESC, c.vec_id ASC) AS rank
  FROM c CROSS JOIN q
) WHERE rank <= 10
"""


@query("ann_ivfpq_topk", oracle=STAGED_ORACLES["ann_ivfpq_topk"])
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN: coarse cells + residual PQ codes (operators/ivfpq.py
    — the composed FAISS ``IVF16,PQ16`` shape, 16 cells probed at
    nprobe=8 so HALF the corpus's codes are never read, each stored
    vector ~20 B instead of 256 B), ADC shortlist-100 prune + exact
    re-rank top-10. STAGED r14, GRADUATED r15 onto the pinned
    dedup_ngram_jaccard retirement slot (head of the second-generation
    RETIREMENT_CANDIDATES; first driver verdict lands in the r16
    window; tests/test_ivfpq.py keeps running the driver comparison
    meanwhile).

    Invariant-check form (the pq_ann_topk pattern): the deliverable
    rows are the EXACT top-10 for the query vector (double-fold scores
    DuckDB recomputes bit-wise) and ``recall_ok`` asserts the IVF-PQ
    two-stage search covered >= 80% of them (0.9 measured at both test
    SFs; the flag form survives testdata regeneration)."""
    from pyspark.sql import Window

    import numpy as np

    from bharatmlstack_spark.functions.vector import dot
    from bharatmlstack_spark.operators.ivfpq import IvfPqIndex

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    cands = emb.filter(F.col("vec_id") >= 5)
    idx = IvfPqIndex(n_cells=16, m=16, k=64).fit(cands, sample_size=1024)
    ann = idx.search(
        idx.index(cands), np.array(qrow[0]), k=10,
        nprobe=8, rerank=cands, shortlist=100,
    ).select("vec_id")

    qcol = F.lit([float(v) for v in qrow[0]])  # one array literal py4j call
    scored = cands.withColumn("score", dot(F.col("embedding"), qcol))
    w = Window.orderBy(F.desc("score"), F.asc("vec_id"))
    exact10 = defer_unpersist(
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("vec_id", "score", "rank")
        .persist()
    )
    # one-pass recall flag (see queries_joins._exact_knn_with_flag): left
    # join marks the hits, one aggregation computes hit / total — ann is
    # unique on vec_id (top-k re-rank), so no exact row duplicates
    flag = exact10.join(
        ann.withColumn("__hit", F.lit(1)), ["vec_id"], "left"
    ).agg((F.count("__hit") / F.count(F.lit(1)) >= 0.8).alias("recall_ok"))
    return exact10.crossJoin(F.broadcast(flag))


# Hybrid retrieval staged row (r15, rotation protocol (b)): RRF fusion
# of a lexical BM25 leg and a vector dot leg over the shared corpus id
# space (documents.doc_id == embeddings.vec_id in the testdata). Both
# legs are exact, so DuckDB recomputes the whole fusion: the BM25 leg
# is the registered bm25_topk twin at k=20, the vector leg the 64-term
# left-associative dot fold, the fusion pure rational arithmetic over
# RANKS (float divergence can't reach it once each leg's 6-dp-rounded
# ordering is fixed — the same rank discipline both registered parents
# use).
STAGED_ORACLES["hybrid_search_rrf"] = rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(coalesce(text,''))), '\s+') AS w
  FROM documents
),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(len(w)) AS avgdl FROM toks),
t AS (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM toks),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf, MIN(dl) AS dl
  FROM t WHERE term IN ('spark', 'table', 'query', 'join') GROUP BY doc_id, term
),
dfq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
lexscore AS (
  SELECT tf.doc_id,
         ROUND(SUM(
           ln(1 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
           * tf.tf * (1.2 + 1.0)
           / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / s.avgdl))
         ), 6) AS score
  FROM tf JOIN dfq USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id
),
lex AS (
  SELECT doc_id, rn AS lrank FROM (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rn
    FROM lexscore
  ) WHERE rn <= 20
),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
vecscore AS (
  SELECT c.vec_id AS doc_id, {_IVFPQ_DOT64} AS score
  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5) c
  CROSS JOIN q
),
vec AS (
  SELECT doc_id, rn AS vrank FROM (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rn
    FROM vecscore
  ) WHERE rn <= 20
),
fused AS (
  SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
         ROUND(COALESCE(1.0 / (60 + l.lrank), 0)
               + COALESCE(1.0 / (60 + v.vrank), 0), 6) AS rrf_score
  FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
)
SELECT doc_id, rrf_score, CAST(rn AS INT) AS rank FROM (
  SELECT doc_id, rrf_score,
         ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS rn
  FROM fused
) WHERE rn <= 10
"""


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (k0=60, the Cormack/
    Clarke/Buettcher constant) of a lexical BM25 top-20 leg and a
    vector dot top-20 leg over the shared corpus id space — the serving
    shape a qdrant-class vector store pairs with lexical search
    (reference anchor: skye KNN serving,
    skye/internal/repositories/vector/qdrant.go:351-412, fronting the
    same corpus a BM25 index covers). STAGED r15 (rotation protocol
    (b); tests/test_hybrid.py runs the driver comparison); graduates
    via the third-generation candidate list when a future rotation
    frees a slot.

    RRF(d) = Σ_legs 1/(k0 + rank_leg(d)) — rank-only fusion, so the
    two legs' incomparable score scales never meet; a doc missing from
    a leg contributes 0 from it. Each leg ranks on its own 6-dp-rounded
    score with id tiebreak (the parents' exact-rank discipline), and
    the fusion is rational arithmetic over those ranks, so the DuckDB
    twin recomputes everything bit-for-bit.

    Plan shape at 100 TB: each leg is its own pruned top-k (postings-
    pruned BM25 scan / ANN index probe — the streamed-index composition
    is benched as hybrid_search_product), so the fusion's full-outer
    join sees 2k rows, broadcastable by construction; the corpus is
    never re-scanned for fusion."""
    from pyspark.sql import Window

    from bharatmlstack_spark.functions.vector import dot
    from bharatmlstack_spark.operators.retrieval import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lex = bm25_topk(docs, _BM25_TERMS, k=20).select(
        "doc_id", F.col("rank").alias("lrank")
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    qcol = F.lit([float(v) for v in qrow[0]])  # one array literal py4j call
    wv = Window.orderBy(F.desc("score"), F.asc("vec_id"))
    vec = (
        emb.filter(F.col("vec_id") >= 5)
        .withColumn("score", dot(F.col("embedding"), qcol))
        .withColumn("vrank", F.row_number().over(wv))
        .filter(F.col("vrank") <= 20)
        .select(F.col("vec_id").alias("doc_id"), "vrank")
    )
    fused = lex.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("lrank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("vrank")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    wf = Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(wf).cast("int"))
        .filter(F.col("rank") <= 10)
        .select("doc_id", "rrf_score", "rank")
    )


# Streamed compressed-index staged row (r15, rotation protocol (b)):
# ANN through a STREAM-BUILT IVF-PQ index — the oracle IS the
# registered ann_ivfpq_topk twin (exact brute-force top-10 + recall
# flag): assignment AND residual encoding are deterministic for a
# frozen two-stage quantizer, so the deduped streamed codes equal the
# one-shot batch index bit-for-bit (pinned directly in
# tests/test_stream_ivfpq.py) and the same search gives the same hits.
STAGED_ORACLES["stream_ann_ivfpq_search"] = STAGED_ORACLES["ann_ivfpq_topk"]


def stream_ann_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN through the streamed COMPRESSED index: the candidate corpus
    arrives as a 3-batch topic that REPLAYS IN FULL under a fresh
    checkpoint (at-least-once redelivery); each batch is cell-assigned
    AND residual-PQ-encoded against the frozen two-stage quantizer
    (streaming/ingest.stream_ann_ivfpq_sink — ~20 B stored per vector
    instead of 256, the form that ships at 100 TB) and appended
    cell-partitioned. Search rebuilds the quantizer from the sidecars
    (bit-identical), dedups redelivery copies on id, ADC-prunes
    nprobe=8 of 16 cells to a shortlist of 100, and exact-re-ranks —
    so the deliverable is the registered ann_ivfpq_topk shape (exact
    top-10 + recall_ok) through the streamed state. STAGED r15
    (rotation protocol (b); tests/test_stream_ivfpq.py runs the driver
    comparison); graduates via the third-generation candidate list
    behind hybrid_search_rrf. Reference anchor: skye realtime indexer
    feeding KNN serving at compressed storage
    (skye/internal/consumers/handler/indexer/, qdrant.go:351-412)."""
    import numpy as np

    from bharatmlstack_spark.functions.vector import dot
    from bharatmlstack_spark.operators.ivfpq import IvfPqIndex
    from bharatmlstack_spark.streaming.ingest import (
        ann_search_streamed_ivfpq,
        await_stream,
        stream_ann_ivfpq_sink,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    cands = emb.filter(F.col("vec_id") >= 5)
    idx = IvfPqIndex(n_cells=16, m=16, k=64).fit(cands, sample_size=1024)

    work = scratch_dir("bmls_ivfpqstream_")
    topic, index_path = f"{work}/topic", f"{work}/index"
    cands.select("vec_id", "embedding").repartition(3).write.parquet(topic)
    schema = "vec_id bigint, embedding array<float>"
    for replay in ("ckpt1", "ckpt2"):  # second pass = full redelivery
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(topic)
        )
        q = stream_ann_ivfpq_sink(
            stream, idx, index_path, f"{work}/{replay}", spark,
            trigger_once=True,
        )
        await_stream(q, 300)

    ann = ann_search_streamed_ivfpq(
        spark, index_path, np.array(qrow[0]), k=10,
        nprobe=8, rerank=cands, shortlist=100,
    ).select("vec_id")

    from pyspark.sql import Window as _W

    qcol = F.lit([float(v) for v in qrow[0]])  # one array literal py4j call
    scored = cands.withColumn("score", dot(F.col("embedding"), qcol))
    w = _W.orderBy(F.desc("score"), F.asc("vec_id"))
    exact10 = defer_unpersist(
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("vec_id", "score", "rank")
        .persist()
    )
    # one-pass recall flag (see queries_joins._exact_knn_with_flag): left
    # join marks the hits, one aggregation computes hit / total — ann is
    # unique on vec_id (top-k re-rank), so no exact row duplicates
    flag = exact10.join(
        ann.withColumn("__hit", F.lit(1)), ["vec_id"], "left"
    ).agg((F.count("__hit") / F.count(F.lit(1)) >= 0.8).alias("recall_ok"))
    return exact10.crossJoin(F.broadcast(flag))


# Streaming sessionization row (staged r14; r15 switched it to the
# EVICTING form per the r14 verdict — don't graduate unbounded state —
# and GRADUATED it onto the pinned bpe_merge_step retirement slot;
# alias stays for tests/test_stream_sessionize.py): the oracle IS the
# registered events_sessionize twin
# recast to session-START ids — the strongest statement available: the
# stateful streaming form, WITH event-time-timeout state eviction
# running, must equal the batch window recomputation event-for-event
# (eviction is observationally free inside the watermark contract).
STAGED_ORACLES["stream_sessionize"] = """
SELECT event_id, user_id,
       CAST(MIN(ts_ms) OVER (PARTITION BY user_id, session_id) AS BIGINT)
         AS session_start_ms
FROM (
  SELECT event_id, user_id, ts_ms,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM (
    SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
           CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
                     > 30 * 60 * 1000
                OR LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) IS NULL
                THEN 1 ELSE 0 END AS is_new
    FROM events
  )
)
"""


@query("stream_sessionize", oracle=STAGED_ORACLES["stream_sessionize"])
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization in its TRUE streaming-state form
    (streaming/ingest.stateful_sessionize — applyInPandasWithState,
    state = two longs per ACTIVE user), in the EVICTING mode: an
    event-time timeout (watermark + gap) removes each idle user's state
    the moment no admissible event could extend their session, so state
    is bounded by the active population, not users ever seen — the
    reference's bounded-retention discipline (interaction-store/
    internal/constants/constants.go:5-24). Sessions are identified by
    their FIRST event's ts_ms (``session_start_ms`` — eviction-stable
    where an ordinal counter is not). STAGED r14, switched to this form
    and GRADUATED r15 onto the pinned bpe_merge_step retirement slot
    (second of the second-generation RETIREMENT_CANDIDATES; first
    driver verdict lands in the r16 window;
    tests/test_stream_sessionize.py keeps running the driver comparison
    AND pins the eviction itself via the statestore reader).

    The events corpus replays as THREE time-ranged micro-batches
    (boundaries from exact ts percentiles, so per-user arrival is
    time-ordered across batches — the source contract Kafka per-key
    ordering provides in production; mtimes pinned because the file
    source breaks ties arbitrarily). Sessions that SPAN micro-batches
    must keep their identity through the cross-batch state — WITH
    evictions firing as the watermark sweeps the three batches — so the
    emitted events, each exactly once in its arrival batch, equal the
    batch window recomputation event-for-event (the DuckDB twin)."""
    import os as _os

    from bharatmlstack_spark.streaming.ingest import (
        await_stream,
        stateful_sessionize,
    )

    ev = load_events_ms(spark, sf_dir).select("user_id", "event_id", "ts_ms")
    work = scratch_dir("bmls_sessstream_")
    topic = f"{work}/topic"
    _os.makedirs(topic, exist_ok=True)
    b0, b1 = ev.agg(
        F.expr("percentile(ts_ms, array(0.34, 0.67))")
    ).head()[0]
    tertile = (
        F.when(F.col("ts_ms") < F.lit(int(b0)), 0)
        .when(F.col("ts_ms") < F.lit(int(b1)), 1)
        .otherwise(2)
    )
    seen: set[str] = set()
    base = 1_600_000_000  # fixed epoch: only the ORDER of mtimes matters
    for i in range(3):
        ev.filter(tertile == i).coalesce(1).write.mode("append").parquet(
            topic
        )
        for f in sorted(_os.listdir(topic)):
            if f.endswith(".parquet") and f not in seen:
                _os.utime(
                    _os.path.join(topic, f), (base + i * 60, base + i * 60)
                )
                seen.add(f)

    stream = (
        spark.readStream.schema("user_id long, event_id long, ts_ms long")
        .option("maxFilesPerTrigger", 1)
        .parquet(topic)
    )
    out_path = f"{work}/emitted"

    def _sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out_path)

    q = (
        stateful_sessionize(stream, evict_idle=True)
        .writeStream.outputMode("update")
        .foreachBatch(_sink)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 600, "stateful_sessionize stream")
    return spark.read.parquet(out_path).select(
        "event_id", "user_id", "session_start_ms"
    )


# Spectrogram row (staged r14, GRADUATED r15 onto the pinned
# multimodal_decode_stats retirement slot — alias stays for
# tests/test_spectrogram.py): the deliverable
# carries the EXACT framed time-domain energy (int64 arithmetic on the
# decoded int16s — DuckDB recomputes it from the closed-form fixture)
# plus parseval_ok asserting the FFT side conserves it; the band
# energies themselves are pinned against a direct numpy STFT in
# tests/test_spectrogram.py (no FFT in SQL).
STAGED_ORACLES["multimodal_spectrogram"] = """
WITH m AS (
  SELECT i AS media_id, 120 + (i % 7) * 40 AS n_samples
  FROM (SELECT UNNEST(generate_series(0, 47)) AS i) WHERE i % 2 = 1
),
f AS (SELECT media_id, n_samples, n_samples // 64 AS n_frames FROM m)
SELECT media_id,
       CAST(n_frames AS BIGINT) AS n_frames,
       CAST(list_sum(list_transform(generate_series(0, n_frames * 64 - 1), k ->
         CAST((media_id * 7919 + k * 104729) % 65536 - 32768 AS BIGINT)
         * CAST((media_id * 7919 + k * 104729) % 65536 - 32768 AS BIGINT)
       )) AS BIGINT) AS frame_energy,
       TRUE AS parseval_ok
FROM f
"""


@query(
    "multimodal_spectrogram",
    oracle=STAGED_ORACLES["multimodal_spectrogram"],
)
def multimodal_spectrogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio spectrogram features through the REAL WAV codec
    (operators/multimodal.spectrogram_features: non-overlapping 64-
    sample frames, numpy rFFT, band-pooled power — the mapInPandas
    shape of a production mel-spectrogram job). STAGED r14, GRADUATED
    r15 onto the pinned multimodal_decode_stats retirement slot (third
    of the second-generation RETIREMENT_CANDIDATES; first driver
    verdict lands in the r16 window; tests/test_spectrogram.py keeps
    running the driver comparison meanwhile).

    Invariant-check form: ``frame_energy`` is exact int64 over the
    decoded framed samples (DuckDB recomputes it from the closed-form
    fixture — a decode off-by-one or a wrong frame split breaks it) and
    ``parseval_ok`` asserts the spectral side conserves exactly that
    energy (a dropped bin, a mis-weighted Nyquist, or a scaling error
    breaks it). The band energies are numpy-STFT-pinned in pytest."""
    from bharatmlstack_spark.operators.multimodal import (
        spectrogram_features,
        synthetic_real_media,
    )

    media = synthetic_real_media(spark, n=48)
    out = spectrogram_features(media, frame_len=64, n_bands=4)
    return out.select("media_id", "n_frames", "frame_energy", "parseval_ok")
