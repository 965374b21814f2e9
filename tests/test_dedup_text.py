"""Dedup suite recall/precision on injected duplicates + text functions."""

import pytest
from pyspark.sql import functions as F

from bharatmlstack_spark.functions import text as TX
from bharatmlstack_spark.operators import dedup as DD


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "completely different text about spark engines and columnar execution plans"),
        (3, "a third document mentioning feature stores vector search and streaming data"),
    ]
    rows = list(base)
    rows.append((101, base[0][1]))  # exact copy of 1
    rows.append((102, base[1][1] + " zz"))  # near copy of 2
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_keeps_min_id(docs):
    out = DD.exact_dedup(docs, on=["text"], id_col="doc_id")
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1, 2, 3, 102]  # 101 collapsed into 1


def test_ngram_jaccard_finds_injected_pairs(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(1, 101)] == 1.0  # exact copy
    assert (2, 102) in pairs and pairs[(2, 102)] > 0.7
    assert all(a != 3 and b != 3 for a, b in pairs)  # no false pair for doc 3


def test_minhash_lsh_recovers_dups(docs):
    out = DD.minhash_lsh_dedup_pairs(docs, num_hashes=32, bands=8, threshold=0.5)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (1, 101) in pairs  # identical signature -> must collide in every band
    assert (2, 102) in pairs


def test_minhash_signature_shape(docs):
    sig = DD.minhash_signatures(docs, num_hashes=16).collect()
    assert all(len(r["signature"]) == 16 for r in sig)
    by_id = {r["id"]: r["signature"] for r in sig}
    assert by_id[1] == by_id[101]  # identical text -> identical signature


def test_simhash_exact_copy_distance_zero(docs):
    fp = DD.simhash(docs, id_col="doc_id")
    pairs = DD.simhash_near_pairs(fp, max_hamming=10).collect()
    d = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert d[(1, 101)] == 0


def test_embedding_near_dup(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9999, 0.0141]), (3, [0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    out = DD.embedding_near_dup_pairs(df, threshold=0.99).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (1, 2) in pairs and len(pairs) == 1


def test_word_shingles_short_doc(spark):
    df = spark.createDataFrame([(1, "only two")], ["id", "t"])
    out = df.select(DD.word_shingles("t", 3).alias("s")).collect()[0]["s"]
    assert out == ["only two"]  # whole text as single shingle when < n words


def test_shingle_columns_tokenize_once(spark):
    """Each shingle expression holds the tokenizing split exactly once: the
    word (hash) array is bound by an outer lambda. Referenced inside the
    per-shingle lambda instead, it is re-split and re-hashed for every
    shingle — O(words²) per document."""
    df = spark.createDataFrame([(1, "a b c d")], "id long, text string")
    for col in (DD.hashed_word_shingles("text", 3), DD.word_shingles("text", 3)):
        plan = df.select(col.alias("s"))._jdf.queryExecution().analyzed().toString()
        assert plan.count("split(") == 1, plan


# -- text functions ---------------------------------------------------------


def test_token_and_word_count(spark):
    df = spark.createDataFrame([("Hello, world! x2",)], ["t"])
    r = df.select(
        TX.word_count("t").alias("w"), TX.token_count("t").alias("tk")
    ).collect()[0]
    assert r["w"] == 3
    # Hello , world ! x 2  -> 6 BPE-ish tokens
    assert r["tk"] == 6


def test_lang_id_heuristic(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog in a house"),
            (2, "el perro y la casa de que en"),
            (3, "der hund und die katze ist ein"),
            (4, "xxxx yyyy zzzz"),
        ],
        ["id", "t"],
    )
    out = {r["id"]: r["g"] for r in df.select("id", TX.lang_id("t").alias("g")).collect()}
    assert out == {1: "en", 2: "es", 3: "de", 4: "und"}


def test_quality_score_bounds(spark):
    good = " ".join(["the"] * 5 + ["word"] * 20)
    bad = "!!! ??? ***"
    df = spark.createDataFrame([(1, good), (2, bad)], ["id", "t"])
    out = {r["id"]: r["q"] for r in df.select("id", TX.quality_score("t").alias("q")).collect()}
    assert out[1] == 1.0
    assert out[2] < 0.5


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma")],
        ["id", "t"],
    )
    out = {r["id"]: r["f"] for r in df.select("id", TX.fingerprint("t").alias("f")).collect()}
    assert out[1] == out[3]
    assert out[1] != out[2]  # rolling hash is order-sensitive


def test_prefix_jaccard_equals_naive(docs):
    """Prefix filtering (AllPairs) is exact: identical pair set + values."""
    naive = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    fast = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in DD.ngram_jaccard_pairs_prefix(docs, threshold=0.5).collect()
    }
    assert naive == fast and len(naive) >= 2


def test_minhash_signature_slots_differ(docs):
    """Regression: each signature slot uses a DIFFERENT hash function. A
    pyspark transform() footgun (2-arg lambdas receive the array index)
    once collapsed every slot to one hash, silently degrading LSH recall
    while exact-copy tests still passed."""
    sig = DD.minhash_signatures(docs, num_hashes=16).head(3)
    for row in sig:
        s = row["signature"]
        assert len(set(s)) > 1, f"degenerate signature (all slots equal): {s[:4]}"


def test_minhash_signature_matches_explode_form(docs):
    """The map-side array_min signature must equal the explode+groupBy
    min-agg reference form slot for slot."""
    from pyspark.sql import functions as F

    k = 16
    sh = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(DD.hashed_word_shingles("text", 3)).alias("shingle"),
    )
    mins = [F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}") for i in range(k)]
    ref = (
        sh.groupBy("id")
        .agg(*mins)
        .select("id", F.array(*[F.col(f"h{i}") for i in range(k)]).alias("ref_sig"))
    )
    got = DD.minhash_signatures(docs, num_hashes=k).withColumnRenamed("signature", "got_sig")
    j = ref.join(got, on="id")
    assert j.filter(F.col("ref_sig") != F.col("got_sig")).count() == 0


def test_simhash_packed_votes_match_unpacked_reference(docs):
    """The packed-counter simhash (3x21-bit ones-counts per aggregate,
    dedup.py) must be bit-identical to the textbook per-bit +-1 vote sum
    it replaced — same tokens, same xxhash64, same tie rule (vote 0 ->
    bit 0)."""
    from pyspark.sql import functions as F

    def reference(df, id_col="doc_id", text_col="text", bits=64):
        toks = df.select(
            F.col(id_col).alias("id"), F.explode(DD.tokenize(text_col)).alias("tok")
        ).withColumn("h", F.xxhash64("tok"))
        votes = toks.groupBy("id").agg(
            *[
                F.sum(
                    F.when(
                        F.shiftrightunsigned("h", b).bitwiseAND(F.lit(1)) != 0, 1
                    ).otherwise(-1)
                ).alias(f"b{b}")
                for b in range(bits)
            ]
        )
        fp = F.lit(0).cast("long")
        one = F.lit(1).cast("long")
        for b in range(bits):
            fp = fp + F.when(F.col(f"b{b}") > 0, F.shiftleft(one, b)).otherwise(
                F.lit(0).cast("long")
            )
        return votes.select("id", fp.alias("simhash"))

    ref = {r["id"]: r["simhash"] for r in reference(docs).collect()}
    got = {r["id"]: r["simhash"] for r in DD.simhash(docs, id_col="doc_id").collect()}
    assert got == ref


def test_exact_dedup_keep_max(docs):
    out = DD.exact_dedup(docs, on=["text"], id_col="doc_id", keep="max")
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [2, 3, 101, 102]  # 1 collapsed into its copy 101


def test_band_signatures_rejects_indivisible_bands(spark):
    """Signature length not divisible by bands would silently exclude the
    trailing slots from every band (recall loss); the runtime assert
    makes the mis-parameterization fail loudly instead."""
    import pytest

    from bharatmlstack_spark.operators.dedup import band_signatures

    sigs = spark.createDataFrame(
        [(1, list(range(64)))], "id long, signature array<long>"
    )
    assert band_signatures(sigs, bands=16).count() == 16  # contract holds
    with pytest.raises(Exception, match="not divisible by bands=10"):
        band_signatures(sigs, bands=10).count()


def _minhash_corpus(spark):
    """Seeded corpus for the MinHash pipeline: random docs over a small
    vocabulary (so unrelated docs still share shingles), exact copies,
    near copies (one word swapped, one appended), and NULL, empty,
    whitespace-only, 1- and 2-word texts, each of those twice."""
    import random

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(30)]
    texts = [" ".join(rng.choices(vocab, k=rng.randint(3, 30))) for _ in range(60)]
    for t in texts[:12]:
        texts.append(t)
        words = t.split()
        words[rng.randrange(len(words))] = "swapped"
        texts.append(" ".join(words))
        texts.append(t + " tail")
    texts += [None, None, "", "", "   ", "one", "one", "two words", "two words"]
    return spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")


@pytest.mark.parametrize("num_hashes,bands,threshold", [(64, 16, 0.8), (32, 8, 0.5)])
def test_minhash_lsh_pairs_match_candidate_reference(spark, num_hashes, bands, threshold):
    """The one-join pipeline (pair kept at its first matching band,
    Jaccard in the joined row) equals the candidate pairs of
    lsh_candidate_pairs over minhash_signatures_from_hashes, verified by
    a Python Jaccard over the same hashed shingle sets."""
    from bharatmlstack_spark.query_registry import drain_pending_unpersist

    docs = _minhash_corpus(spark)
    sets = docs.select(F.col("doc_id").alias("id"), DD.hashed_word_shingles("text").alias("sh"))
    sh = {r["id"]: r["sh"] for r in sets.collect()}
    cands = DD.lsh_candidate_pairs(
        DD.minhash_signatures_from_hashes(sets, "id", "sh", num_hashes), bands
    ).collect()
    want = {}
    for r in cands:
        a, b = sh[r["id_a"]], sh[r["id_b"]]
        if a is not None and b is not None:
            j = len(set(a) & set(b)) / len(set(a) | set(b))
            if j >= threshold:
                want[(r["id_a"], r["id_b"])] = j
    rows = DD.minhash_lsh_dedup_pairs(
        docs, num_hashes=num_hashes, bands=bands, threshold=threshold
    ).collect()
    drain_pending_unpersist()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
    assert len(got) == len(rows)  # each pair exactly once
    assert got == want
    assert sum(j == 1.0 for j in want.values()) >= 12 + 2  # copies + short twins
    assert any(j < 1.0 for j in want.values())  # near copies verified too


def test_minhash_in_row_band_hashes_match_band_signatures(spark):
    """The band rows of minhash_lsh_dedup_pairs carry the same band hashes
    as band_signatures over minhash_signatures_from_hashes, row for row,
    and bh[band_idx] is the row's band_hash."""
    docs = _minhash_corpus(spark)
    sets = docs.select(F.col("doc_id").alias("id"), DD.hashed_word_shingles("text").alias("sh"))
    for num_hashes, bands in ((64, 16), (32, 8)):
        ref = DD.band_signatures(
            DD.minhash_signatures_from_hashes(sets, "id", "sh", num_hashes), bands
        )
        rows = DD._minhash_bands(sets, num_hashes, bands).collect()
        assert all(r["bh"][r["band_idx"]] == r["band_hash"] for r in rows)
        got = sorted((r["id"], r["band_idx"], r["band_hash"]) for r in rows)
        assert got == sorted(tuple(r) for r in ref.collect())
    with pytest.raises(ValueError, match="not divisible by bands=10"):
        DD.minhash_lsh_dedup_pairs(docs, num_hashes=64, bands=10)


def test_dedup_pass_leaves_no_cached_rdd(spark, docs):
    """A simhash_near_pairs + minhash_lsh_dedup_pairs +
    minhash_lsh_cross_pairs pass caches only what the registry's deferred
    unpersist frees: nothing new stays persisted after
    drain_pending_unpersist()."""
    from bharatmlstack_spark.query_registry import drain_pending_unpersist

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    drain_pending_unpersist()
    before = persisted()
    DD.simhash_near_pairs(DD.simhash(docs, id_col="doc_id"), max_hamming=3).collect()
    DD.minhash_lsh_dedup_pairs(docs, threshold=0.5).collect()
    cross = DD.minhash_lsh_cross_pairs(docs.filter("doc_id < 100"), docs, threshold=0.5)
    assert {(r.id_a, r.id_b) for r in cross.collect()} >= {(1, 101), (2, 102)}
    drain_pending_unpersist()
    assert persisted() - before == set()
