"""Deduplication suite for large-scale training-data pipelines.

Exact, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup
— each expressed as shuffle-lean DataFrame plans:

- exact:       one hash-aggregate on the normalized text (or any key set).
- n-gram Jaccard: shingle-explode -> equi-join on shingle -> per-pair
  intersection counts. The join key is the shingle, so only docs sharing a
  shingle ever meet — no O(n²) cross product.
- MinHash+LSH: k hash slots per shingle folded map-side to a k-wide
  signature, banded; candidate pairs = equi-join on (band_idx, band_hash).
  At 100 TB the band join is THE scale path: cost ~ (docs x bands), not
  docs². The dedup pipeline verifies each pair inside that one join: the
  band rows carry the shingle sets, and a pair is kept at its first
  matching band only.
- SimHash:     per-token hash bit votes -> 64-bit fingerprint; near-dups by
  hamming distance over banded fingerprint pieces.
- embedding:   cosine over an embedding column, banded by LSH
  (operators/lsh.py) or brute-force for small collections.

All hashing uses Spark's xxhash64 (JVM-side, seed-stable) — these plans are
deterministic across runs/clusters but intentionally NOT DuckDB-expressible
(xxhash64 differs), so their oracle entries are either pair-recall checks
via the Jaccard verifier or rows-only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bharatmlstack_spark.query_registry import defer_unpersist


def tokenize(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def _shingled(seq: Column, n: int, shingle, whole) -> Column:
    """Distinct ``shingle(s, i)`` over the n-windows of the array ``seq``
    (``whole(s)`` when it has fewer than n elements).

    ``seq`` is bound ONCE per row by an outer one-element transform: a
    column expression referenced inside a lambda is re-evaluated on every
    call, so the bare form re-split and re-hashed the whole text for each
    shingle — O(words²) per document."""
    return F.element_at(
        F.transform(
            F.array(seq),
            lambda s: F.array_distinct(
                F.when(
                    F.size(s) >= n,
                    F.transform(
                        F.sequence(F.lit(0), F.size(s) - n),
                        lambda i: shingle(s, i),
                    ),
                ).otherwise(F.array(whole(s)))
            ),
        ),
        1,
    )


def hashed_word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams as LONG hashes, never materializing the n-gram
    strings: each word hashes once, a shingle hash is
    ``xxhash64(wh[i], ..., wh[i+n-1])`` over the word hashes ``wh`` — Spark
    hashes those arguments exactly like the slice
    ``xxhash64(slice(wh, i+1, n))``. Collision-equivalent to
    ``xxhash64(word_shingles(...))`` but allocation-free — use wherever the
    consumer only needs shingle IDENTITY (MinHash, SimHash), not the string
    (the PPJoin/oracle paths keep string shingles)."""
    wh = F.transform(tokenize(col), lambda w: F.xxhash64(w))
    return _shingled(
        wh, n, lambda s, i: F.xxhash64(*[s[i + k] for k in range(n)]), F.xxhash64
    )


def _shingles_of_words(words: Column, n: int) -> Column:
    """Distinct word n-grams from an already-tokenized words array."""
    return _shingled(
        words,
        n,
        lambda s, i: F.concat_ws(" ", F.slice(s, i + 1, n)),
        lambda s: F.concat_ws(" ", s),
    )


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams. transform over a 0..len-n sequence keeps the
    whole thing JVM-side (no UDF)."""
    return _shingles_of_words(tokenize(col), n)


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, on: list[str], id_col: str, keep: str = "min"
) -> DataFrame:
    """Keep one representative row per duplicate group (hash-aggregate:
    single shuffle on the dedup key)."""
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    keepers = df.groupBy(*on).agg(agg.alias(id_col)).select(id_col)
    return df.join(keepers, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# n-gram Jaccard (also the exact verifier for LSH candidates)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """All pairs (a < b) with shingle-set Jaccard >= threshold.

    Plan: explode distinct shingles -> self equi-join on shingle (docs with
    zero overlap never pair) -> count intersections -> Jaccard from set
    sizes. Shuffles on the shingle then on the pair — both key-local.
    """
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(text_col, n)).alias("shingle"),
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("set_size"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("set_size", "size_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("set_size", "size_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    broadcast_sets: bool = True,
    tokens_col: str | None = None,
) -> DataFrame:
    """Exact Jaccard >= threshold via prefix filtering (AllPairs/PPJoin,
    Bayardo et al. 2007) — same output as ngram_jaccard_pairs, sub-linear
    candidate generation.

    ``broadcast_sets`` broadcasts the (id -> shingle array) side of the
    verification joins — right up to ~10M docs; beyond that pass False and
    the verify becomes two shuffle joins on the pair ids.

    ``tokens_col``: a pre-tokenized words array column (a persisted
    (id, words) frame shared with another tokenizing branch — see
    queries_text.dedup_simhash). Skips the tokenize and the input spread:
    the caller is expected to have spread/persisted the frame.

    With a global shingle order (rarest first), two sets with J >= t MUST
    share an element within each one's first (n - ceil(t*n) + 1) shingles,
    so the join touches only those prefixes; survivors are verified exactly
    with array_intersect over the full sets. At 100 TB this turns the
    all-shared-shingles join (the dominant shuffle) into a prefix-only join
    ~ (1-t) of the size, with verification on the (small) candidate set.
    """

    # The whole pipeline runs on 8-byte shingle HASHES (xxhash64): the
    # df-count shuffle, the rarity sort, the prefix join, and the
    # verification intersect all move longs instead of n-gram strings.
    # Shingling (regex split + per-position concat over every doc) is the
    # single most expensive map in this plan and three branches consume it
    # (prefix explode + both verification sides) — materializing the hashed
    # sets makes it run ONCE, and long arrays are cheap to store.
    # Jaccard over hashed distinct shingles == Jaccard over the strings
    # unless xxhash64 collides within a candidate pair (~|set|^2/2^64;
    # deterministic either way, and pinned by the DuckDB string oracle).
    if tokens_col is None:
        par = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < par:
            # a small/compacted source (one parquet file) would pin the
            # shingle map to a few cores; one cheap shuffle of the raw text
            # spreads it across the cluster before the expensive map
            df = df.repartition(par)
        shingles = word_shingles(text_col, n)
    else:
        shingles = _shingles_of_words(F.col(tokens_col), n)
    # localCheckpoint, not persist: the sets frame feeds THREE consumers
    # (the exploded prefix index and both broadcast verify sides), and the
    # lazily-cached form re-plans + decompresses an InMemoryTableScan per
    # consumer under AQE; eager checkpoint materializes the compact
    # (id, long-array) rows ONCE and every consumer scans stored blocks
    # (guide §5 — localCheckpoint as the cheap lineage cut; measured ~1.5x
    # on the isolated path and confirmed on the bench rows,
    # OPTIMIZATION_r17.md). Trade: executor loss restarts the job instead
    # of recomputing a partition — same trade pagerank's loop makes.
    sets = df.select(
        F.col(id_col).alias("id"),
        F.transform(shingles, lambda s: F.xxhash64(s)).alias("shingles"),
    ).localCheckpoint()
    sh = sets.select(
        "id",
        F.size("shingles").alias("__n"),
        F.explode("shingles").alias("shingle"),
    )
    # global rarity order: document frequency, then hash tiebreak
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        sh.join(dfreq, on="shingle")
        .withColumn(
            "__pos",
            F.row_number().over(
                Window.partitionBy("id").orderBy(F.asc("df"), F.asc("shingle"))
            ),
        )
        # prefix size: n - ceil(t*n) + 1
        .filter(F.col("__pos") <= F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")) + 1)
        .select("id", "shingle", "__n", "__pos")
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    t = F.lit(threshold)
    # AllPairs length filter: J >= t forces t*|b| <= |a| (a is the smaller
    # side under id order-independent size check); PPJoin position filter:
    # the overlap still reachable past this shared prefix element,
    # 1 + min(|a|-pos_a, |b|-pos_b), must meet the equivalent-overlap bound
    # ceil(t/(1+t) * (|a|+|b|)). Both are row-local predicates evaluated
    # inside the prefix join — they prune candidates before the dedup
    # shuffle and the verification stage ever see them.
    na, nb = F.col("a.__n"), F.col("b.__n")
    overlap_bound = F.ceil(t / (1 + t) * (na + nb))
    ubound = 1 + F.least(na - F.col("a.__pos"), nb - F.col("b.__pos"))
    cands = (
        a.join(b, on="shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .filter(F.least(na, nb) >= F.ceil(t * F.greatest(na, nb)))
        .filter(ubound >= overlap_bound)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # exact verification on candidates only: array_intersect over full sets
    sa = sets.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    if broadcast_sets:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    return (
        cands.join(sa, on="id_a")
        .join(sb, on="id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures_from_hashes(
    base: DataFrame,
    id_col: str = "id",
    hashes_col: str = "sh",
    num_hashes: int = 64,
) -> DataFrame:
    """(id, signature ARRAY<BIGINT>[num_hashes]) from a PRE-HASHED shingle
    array: slot i = min over shingles of xxhash64(i, shingle_hash).

    Split out of minhash_signatures so a pipeline that also needs the
    shingle sets for verification (the streaming near-dup sink) hashes
    the corpus ONCE and derives both the signatures and the verify sides
    from the persisted (id, long-array) frame — shingling is the
    expensive map, and computing it twice was the dominant cost of the
    product path. Entirely map-side over the cached arrays; no explode,
    no shuffle."""
    return base.select(
        F.col(id_col).alias("id"),
        F.expr(_signature_sql(hashes_col, num_hashes)).alias("signature"),
    )


def _signature_sql(hashes_col: str, num_hashes: int) -> str:
    """The MinHash signature of the hash array ``hashes_col`` as ONE SQL
    expression. One parsed string instead of num_hashes Column-built
    slots: the Column form pays ~num_hashes lambda conversions + array()
    assembly in py4j round-trips (~0.8 s driver time per call at 64
    slots, measured in OPTIMIZATION_r17.md) — the parsed expression tree,
    plan and values are identical. The lambda must take ONE arg (a 2-arg
    lambda would receive the array index and collapse every slot)."""
    slots = ", ".join(
        f"array_min(transform(`{hashes_col}`, __s -> xxhash64({i}, __s)))"
        for i in range(num_hashes)
    )
    return f"array({slots})"


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, signature ARRAY<BIGINT>[num_hashes]): slot i = min over
    shingles of xxhash64(i, xxhash64(shingle)).

    Entirely MAP-SIDE: shingles are hashed once to longs
    (hashed_word_shingles — no n-gram strings allocated), then each slot is
    an array_min over a transform of the in-row hash array. One output row
    per document, no explode, no shuffle — at 100 TB the signature stage is
    pure scan bandwidth; the only shuffle in the LSH pipeline is the band
    bucket join."""
    base = df.select(
        F.col(id_col).alias("id"),
        hashed_word_shingles(text_col, shingle_n).alias("sh"),
    )
    return minhash_signatures_from_hashes(base, "id", "sh", num_hashes)


def band_signatures(
    signatures: DataFrame,
    bands: int = 16,
    id_col: str = "id",
    sig_col: str = "signature",
) -> DataFrame:
    """(id, band_idx, band_hash): the signature split into ``bands``
    equal slices, each hashed to one long — the LSH bucket keys. Pure
    map-side; shared by the batch pipeline (self-join) and the streaming
    index (append + probe), so both produce IDENTICAL candidate sets for
    the same corpus regardless of batching.

    Signature length must be divisible by ``bands``: the slice width is
    ``len // bands``, so a remainder would leave the trailing signature
    slots out of every band (quietly weakening recall). Enforced at
    runtime (assert_true, one cheap mod per row) so a mis-parameterized
    caller fails loudly instead of losing recall quietly. Every caller
    here uses 64 hashes with 16 bands."""
    sig_len_expr = F.size(F.col(sig_col))
    divisible = F.assert_true(
        sig_len_expr % bands == 0,
        F.concat(
            F.lit("band_signatures: signature length "),
            sig_len_expr.cast("string"),
            F.lit(
                f" is not divisible by bands={bands} — the trailing "
                "signature slots would be silently excluded from every band"
            ),
        ),
    )
    # assert_true yields NULL when the contract holds; folding it into the
    # generator's upper bound means it survives column pruning (a bare
    # guard column would be dropped under count()-style plans)
    last_band = F.when(divisible.isNull(), F.lit(bands - 1))
    return signatures.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), last_band),
                lambda b: F.xxhash64(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(
                                F.col(sig_col),
                                b * (sig_len_expr / bands).cast("int") + 1,
                                (sig_len_expr / bands).cast("int"),
                            ),
                            lambda x: x.cast("string"),
                        ),
                    )
                ),
            )
        ).alias("band_idx", "band_hash"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 16,
    id_col: str = "id",
    sig_col: str = "signature",
) -> DataFrame:
    """Band the signature; docs colliding in any band become candidates
    (distinct (id_a < id_b) pairs, unverified).

    One explode + one equi-join on (band_idx, band_hash) — the sub-linear
    path that replaces the all-pairs product at scale — then a pair dedup
    (a pair colliding in k bands joins k times). minhash_lsh_dedup_pairs
    does not call it: it keeps each pair at its first matching band and
    verifies it in the joined row; this candidate-only form is its test
    reference and perfbench's MinHash precision denominator. The banded
    frame is persisted because BOTH self-join sides consume it — without
    the cache the whole signature scan (the pipeline's expensive map) runs
    twice; the cached rows are (id, band_idx, band_hash) longs, docs x
    bands of them, tiny next to the corpus.
    """
    banded = band_signatures(signatures, bands, id_col, sig_col)
    banded = defer_unpersist(banded.persist())
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, on=["band_idx", "band_hash"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def _minhash_bands(sets: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band_idx, band_hash, bh, sh) from an (id, sh) frame of hashed
    shingle sets: one row per (doc, band), carrying all of the doc's band
    hashes ``bh`` and its set ``sh``. ``band_hash`` equals
    band_signatures(minhash_signatures_from_hashes(sets, num_hashes), bands)
    row for row."""
    if num_hashes % bands:
        raise ValueError(
            f"minhash: num_hashes={num_hashes} is not divisible by bands={bands}"
            " — the trailing signature slots would be excluded from every band"
        )
    width = num_hashes // bands
    # band b hashes signature slots [b*width, (b+1)*width) exactly as
    # band_signatures does. The signature is bound once per row by the
    # outer one-element transform; referenced inside the band lambda it
    # would be recomputed per band.
    bh = (
        f"element_at(transform(array({_signature_sql('sh', num_hashes)}), __sig ->"
        f" transform(sequence(0, {bands - 1}), __b -> xxhash64(concat_ws(',',"
        f" transform(slice(__sig, __b * {width} + 1, {width}), __x -> CAST(__x AS STRING)))))), 1)"
    )
    # explode a constant band sequence, not bh itself: posexplode(bh)
    # infers a size(bh) > 0 filter that is pushed below the input spread
    # and computes every signature on the single scan task
    return (
        sets.selectExpr("id", "sh", f"{bh} AS bh")
        .selectExpr("id", "sh", "bh", f"explode(sequence(0, {bands - 1})) AS band_idx")
        .selectExpr("id", "band_idx", "bh[band_idx] AS band_hash", "bh", "sh")
    )


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, jaccard >= threshold): shingle ->
    minhash -> band -> bucket-join -> exact Jaccard, in ONE band self-join.

    Each band row carries its doc's hashed shingle set ``sh`` and all of
    its band hashes ``bh`` (the same values as :func:`band_signatures` over
    :func:`minhash_signatures_from_hashes`). So the joined row already
    holds everything the pair needs:
    - a pair colliding in k bands comes out of the join k times, and is
      kept only at its first matching band (the lowest j with
      ``a.bh[j] = b.bh[j]``), the row-local test ``simhash_near_pairs``
      uses: no pair-dedup aggregate, no pair shuffle;
    - its Jaccard is computed in the row from ``a.sh`` and ``b.sh``: no
      verify joins back to the shingle sets, and no checkpoint of them.
    The output equals ``lsh_candidate_pairs`` verified by Jaccard over the
    hashed distinct shingles (exact up to xxhash64 collisions within a
    pair, as ngram_jaccard_pairs). Cost scales with the candidate count,
    not the corpus.

    Trade-off: the persisted banded frame holds ``sh`` once per band, so it
    is about ``bands`` times the size of the shingle sets. Measured from
    the storage status on perfbench's 1,620-doc corpus at 64 hashes / 16
    bands: 14.8 MB cached, where the checkpointed sets plus the
    (id, band_idx, band_hash) rows of the three-join form held 1.0 MB. The
    band join stays a broadcast at that size.

    Precondition: ``id_col`` is unique across ``df``. Each pair is emitted
    exactly once only then; duplicate ids yield duplicate pairs, since no
    pair dedup runs."""
    banded = _minhash_bands(
        _shingle_sets(df, id_col, text_col, shingle_n), num_hashes, bands
    )
    # both join sides read the banded frame: persist it so shingling and
    # the signatures run once
    banded = defer_unpersist(banded.persist())
    return _first_band_pairs(banded, banded, bands, threshold, "a.id < b.id")


def _shingle_sets(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """(id, sh): each doc's hashed shingle set. Shingling is the expensive
    map: spread it first when the source arrives in fewer splits than
    cores (a 3-branch union strands the whole stage on 3 tasks) — the
    raw-text exchange is bytes-cheap next to the map it unblocks."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par)
    return df.select(
        F.col(id_col).alias("id"),
        hashed_word_shingles(text_col, shingle_n).alias("sh"),
    )


def _first_band_pairs(
    banded_a: DataFrame,
    banded_b: DataFrame,
    bands: int,
    threshold: float,
    where: str = "TRUE",
) -> DataFrame:
    """(id_a, id_b, jaccard >= threshold) from one band join of two
    _minhash_bands frames: a pair colliding in k bands is kept only at
    its first matching band, and its Jaccard is computed in the row."""
    a, b = banded_a.alias("a"), banded_b.alias("b")
    first_match = ", ".join(
        f"CASE WHEN a.bh[{j}] = b.bh[{j}] THEN {j} END" for j in range(bands)
    )
    return (
        a.join(b, on=["band_idx", "band_hash"])
        .where(f"{where} AND band_idx = coalesce({first_match})")
        .selectExpr(
            "a.id AS id_a",
            "b.id AS id_b",
            "size(array_intersect(a.sh, b.sh)) / size(array_union(a.sh, b.sh)) AS jaccard",
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_cross_pairs(
    df_a: DataFrame,
    df_b: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """CROSS-corpus near-dup: (id_a from A) x (id_b from B) pairs ONLY —
    dedupe an incoming corpus B against a reference corpus A (the fuzzy
    form of decontamination: a B doc with any hit is dropped or flagged)
    without paying for A-internal or B-internal pairs.

    Same signature/banding derivations as minhash_lsh_dedup_pairs, so a
    corpus banded once serves both the self-dedup and any number of
    cross-dedups. The band bucket join is A-bands ⋈ B-bands — within-
    corpus collisions never materialize by construction, which at
    |B| ≪ |A| (a daily crawl against a 100 TB reference) makes the
    candidate set proportional to B's collisions, not A². As in the
    self-join form, each pair is kept at its first matching band and its
    exact Jaccard over the hashed shingle sets is computed in the joined
    row: each side's band rows are read once, so nothing is cached, and
    no pair dedup or verify join runs. Ids may repeat across corpora
    (they are different documents); pair identity is (id_a, id_b) with
    the sides kept distinct. Precondition: ids are unique within each
    corpus, or a repeated id yields repeated pairs."""
    banded_a, banded_b = (
        _minhash_bands(
            _shingle_sets(df, id_col, text_col, shingle_n), num_hashes, bands
        )
        for df in (df_a, df_b)
    )
    return _first_band_pairs(banded_a, banded_b, bands, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    tokens_col: str | None = None,
) -> DataFrame:
    """64-bit SimHash: per-token xxhash64, each bit votes +1/-1 weighted by
    term frequency; fingerprint bit b set iff the vote is positive.

    The +-1 vote for bit b is ``2*ones_b - n_tokens`` where ``ones_b``
    counts tokens with bit b set, so only the ones-counts need
    aggregating. They are packed three per 64-bit sum: sum j adds
    ``(h >>> j) & (1 | 1<<21 | 1<<42)`` per token hash h, so bits j, j+21
    and j+42 count in its 21-bit fields at shifts 0/21/42, and the top
    field of sum 21 carries bit 63 (a field saturates only past 2^21
    tokens per doc, guarded below). The sums (22 at 64 bits) are ONE
    ``transform`` over ``sequence(0, 21)`` of an ``aggregate`` fold over
    the token hashes; the fingerprint is one OR-fold over the bits.

    Entirely MAP-SIDE (like minhash_signatures): no explode, no groupBy,
    0 Exchanges in the executed plan, so the only shuffle in the SimHash
    pipeline is the band bucket join. The folds are higher-order
    functions, evaluated interpretively inside the codegen'd stage.
    Integer adds commute, so the fold is bit-identical to the exploded
    per-bit vote sum (pinned against independent references in
    tests/test_dedup_text.py and tests/test_text_fuzz.py). NULL text
    drops the doc from the output.

    ``tokens_col``: a pre-tokenized words array column (e.g. a persisted
    (id, words) frame shared with an exact-verification branch —
    queries_text.dedup_simhash). Skips both the tokenize and the input
    spread: the caller is expected to have spread/persisted the frame."""
    _FIELD = 21  # 3 packed counters per long; safe below 2**21 tokens/doc
    # bit b < 63 counts in sum b % 21; at 64 bits, sum 21 adds bit 63
    n_sums = min(bits, _FIELD) + (bits > 3 * _FIELD)
    # the fold below is the CPU-heaviest map in the SimHash pipeline
    # (tokenize + per-token hash + 22 packed folds + the fingerprint
    # fold); when the source arrives in fewer splits
    # than cores (a 3-branch corpus union reading one parquet file), the
    # whole fingerprint stage runs on those few tasks — spread the raw
    # text first, exactly as minhash_lsh_dedup_pairs does (the text
    # exchange is bytes-cheap next to the map it unblocks; a well-split
    # source at scale skips it)
    tokens = tokenize(text_col) if tokens_col is None else F.col(tokens_col)
    if tokens_col is None:
        par = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < par:
            df = df.repartition(par)
    # NULL text drops the doc. Filter the source column, not __wh: a filter
    # on __wh is pushed below the projection and tokenizes + hashes twice.
    base = df.filter(F.col(tokens_col or text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.transform(tokens, lambda w: F.xxhash64(w)).alias("__wh"),
    )

    # Both folds are SQL text parsed once by F.expr: a Column-built tree
    # costs seconds of py4j round-trips per call for the same parsed plan
    # (OPTIMIZATION_r17.md). Field layout: see the docstring.
    fields = 1 | 1 << _FIELD | 1 << 2 * _FIELD
    votes = base.select(
        "id",
        F.size("__wh").cast("long").alias("__cnt"),
        F.expr(
            f"transform(sequence(0, {n_sums - 1}), __j -> aggregate(__wh,"
            f" CAST(0 AS BIGINT), (__acc, __h) -> __acc"
            f" + (shiftrightunsigned(__h, __j) & {fields})))"
        ).alias("__p"),
    )
    # bit b = field k of sum b - 21k, k = least(b div 21, 2); its vote
    # 2*ones - cnt is positive iff 2*ones > cnt
    k = f"least(__b div {_FIELD}, 2)"
    ones = (
        f"(shiftrightunsigned(__p[__b - {_FIELD} * {k}], {_FIELD} * {k})"
        f" & {(1 << _FIELD) - 1})"
    )
    fp = F.expr(
        f"aggregate(sequence(0, {bits - 1}), CAST(0 AS BIGINT), (__fp, __b) -> __fp"
        f" | IF({ones} * 2 > __cnt, shiftleft(CAST(1 AS BIGINT), __b), CAST(0 AS BIGINT)))"
    )
    guard = F.assert_true(
        F.col("__cnt") < F.lit(1 << _FIELD),
        F.concat(
            F.lit("simhash: document "),
            F.col("id").cast("string"),
            F.lit(f" exceeds {1 << _FIELD} tokens; packed vote counters would overflow"),
        ),
    )
    return votes.select("id", F.when(guard.isNull(), fp).alias("simhash"))


def simhash_near_pairs(
    fingerprints: DataFrame,
    max_hamming: int = 3,
    band_bits: int = 16,
) -> DataFrame:
    """Near-dup pairs by hamming distance <= max_hamming.

    Pigeonhole banding: split the 64-bit fingerprint into 64/band_bits
    pieces; any pair within distance d < #pieces must collide on one piece
    — so candidates come from an equi-join on (piece_idx, piece), then the
    exact popcount filter.

    Precondition: ``id`` is unique across ``fingerprints``. Each pair is
    emitted exactly once (id_a < id_b, from its first matching band) only
    then; duplicate ids yield duplicate pairs, since no pair dedup runs."""
    n_bands = 64 // band_bits
    mask = (1 << band_bits) - 1

    # SQL text throughout: the Column-built pieces and predicate cost ~900
    # py4j round-trips per call for the same parsed plan
    def band(side: str, j: int) -> str:
        return f"(shiftright({side}simhash, {j * band_bits}) & {mask})"

    # the banded frame self-joins: persist it (4 small rows per doc) so the
    # fingerprint computation (tokenize + 64 bit-votes over the corpus)
    # runs once, not once per join side
    pieces = ", ".join(band("", j) for j in range(n_bands))
    pieces = defer_unpersist(
        fingerprints.selectExpr(
            "id", "simhash", f"posexplode(array({pieces})) AS (piece_idx, piece)"
        ).persist()
    )
    a, b = pieces.alias("a"), pieces.alias("b")

    # A pair colliding in k bands comes out of the equi-join k times. The
    # old form removed the duplicates with dropDuplicates — a full shuffle
    # of the candidate pair set. Both fingerprints already ride in the
    # joined row, so "is THIS band the pair's first matching band?" is a
    # row-local predicate (r17, guide §2.4 "remove shuffles outright"):
    # keep the row iff piece_idx equals the lowest band index where the
    # two fingerprints agree (the join guarantees at least one), and every
    # qualifying pair survives exactly once — same multiset, same hamming
    # (a function of the two fingerprints alone), zero pair exchanges.
    first_match = ", ".join(
        f"CASE WHEN {band('a.', j)} = {band('b.', j)} THEN {j} END"
        for j in range(n_bands)
    )
    return (
        a.join(b, on=["piece_idx", "piece"])
        .where(f"a.id < b.id AND piece_idx = coalesce({first_match})")
        .selectExpr(
            "a.id AS id_a", "b.id AS id_b", "bit_count(a.simhash ^ b.simhash) AS hamming"
        )
        # popcount is row-local too: every filter in this pipeline runs
        # inside the join stage; no exchange touches the pair set
        .where(f"hamming <= {max_hamming}")
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """All pairs with cosine >= threshold — brute force O(n^2). This is the
    ORACLE form only; the registered query and the scale path use
    :func:`embedding_near_dup_pairs_lsh` (banded candidates, never
    all-pairs)."""
    from bharatmlstack_spark.functions.vector import cosine_similarity

    a = df.select(F.col(id_col).alias("id_a"), F.col(emb_col).alias("emb_a"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(emb_col).alias("emb_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_similarity("emb_a", "emb_b"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_near_dup_pairs_lsh(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 64,
    n_bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Cosine near-dup pairs via random-hyperplane LSH banding — the 100 TB
    shape: candidates come from an equi-join on (band_idx, band_hash), so
    work scales with bucket occupancy, never n^2.

    Parameter trade: band_bits = n_planes/n_bands sets bucket sparsity
    (2^bits buckets per band — candidate count divides by it) vs recall.
    A pair at cosine c collides per plane with p = 1 - acos(c)/pi and is
    missed only if ALL bands differ: (1 - p^bits)^bands. The defaults
    (64 planes, 8 bands x 8 bits) target NEAR-EXACT dedup: 256 buckets per
    band, miss ~8e-5 at c=0.99, and exact duplicates (identical vectors =>
    identical signatures) are NEVER missed. For a looser threshold (0.9-ish
    semantic dup) use more bands of fewer bits and accept denser buckets.
    Verified exact against the brute-force form on the test corpus.
    """
    from bharatmlstack_spark.functions.vector import cosine_similarity
    from bharatmlstack_spark.operators.lsh import LshIndex

    idx = LshIndex(
        dim, n_planes=n_planes, n_bands=n_bands, seed=seed,
        id_col=id_col, emb_col=emb_col,
    )
    # both join branches read the banded index: persist so the signature
    # UDF runs once (n_bands rows/vector — tiny next to the raw vectors)
    banded = defer_unpersist(idx.index(df).persist())  # (id, emb, band_idx, band_hash)
    a = banded.select(
        F.col(id_col).alias("id_a"),
        F.col(emb_col).alias("emb_a"),
        "band_idx",
        "band_hash",
    )
    b = banded.select(
        F.col(id_col).alias("id_b"),
        F.col(emb_col).alias("emb_b"),
        "band_idx",
        "band_hash",
    )
    return (
        a.join(b, on=["band_idx", "band_hash"])  # bucket equi-join
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])  # a pair may share several bands
        .withColumn("cosine", cosine_similarity("emb_a", "emb_b"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_semantic_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.99,
    n_cells: int = 16,
    sample_size: int = 512,
    iters: int = 3,
) -> DataFrame:
    """Cosine near-dup pairs via IVF cluster pruning — SemDeDup (Abbas
    et al. 2023, arXiv:2303.09540): k-means the corpus, then compare
    only WITHIN a cluster. The cluster-prune sibling of
    embedding_near_dup_pairs_lsh (hyperplane banding); same output
    contract, different candidate generator.

    Work scales with sum(|cell|^2) instead of n^2 — at 100 TB pick
    n_cells ~ n/10^4 so cells stay executor-sized; the self-join is an
    equi-join on the cell id, so each cluster's comparisons are
    partition-local. Identical vectors always land in the same cell
    (deterministic nearest-centroid assignment), so EXACT duplicates
    are never missed; a semantic pair straddling a cell boundary is the
    method's documented recall trade (SemDeDup accepts it; LSH banding
    is the alternative when boundary recall matters).

    The quantizer fits on a driver-side deterministic sample
    (IvfIndex.fit: hash-thresholded, seeded — no count() pre-pass) and
    assignment is one Arrow-batched GEMM per partition.
    """
    from bharatmlstack_spark.functions.vector import cosine_similarity
    from bharatmlstack_spark.operators.lsh import IvfIndex

    idx = IvfIndex(n_cells=n_cells, id_col=id_col, emb_col=emb_col).fit(
        df, sample_size=sample_size, iters=iters
    )
    # both self-join branches read the assigned frame: persist so the
    # assignment GEMM runs once (one int per vector on top of the input)
    cells = defer_unpersist(idx.index(df).persist())
    a = cells.select(
        F.col(id_col).alias("id_a"), F.col(emb_col).alias("emb_a"), "cell"
    )
    b = cells.select(
        F.col(id_col).alias("id_b"), F.col(emb_col).alias("emb_b"), "cell"
    )
    return (
        a.join(b, on="cell")  # cluster-local equi-join, never all-pairs
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_similarity("emb_a", "emb_b"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
