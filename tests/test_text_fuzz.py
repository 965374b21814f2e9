"""Property-fuzz the text helpers: PII detection/redaction against Python's
re module (the independent reference implementation), and word_shingles
against a plain-Python shingler.

One Spark job per property run: hypothesis generates a batch of texts,
the property evaluates the whole batch in one DataFrame pass, and each
row is compared to the Python reference."""

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from bharatmlstack_spark.functions import text as TX

# word soup in the corpus alphabet plus digit/punct noise — the generator
# must be able to produce strings that LOOK like near-PII (digits, dots,
# @) without being it, or the negatives prove nothing
_token = st.one_of(
    st.text(alphabet="abcz", min_size=1, max_size=4),
    st.text(alphabet="0123456789.@+-_%", min_size=1, max_size=6),
    st.sampled_from(["user@example.com", "+91-9876543210", "10.0.0.1", "a@b.io"]),
)
_texts = st.lists(
    st.lists(_token, min_size=0, max_size=12).map(" ".join),
    min_size=1,
    max_size=24,
)


def _py_redact(s: str) -> str:
    for pat, token in TX.PII_PATTERNS:
        s = re.sub(pat, token, s)
    return s


@settings(max_examples=30, deadline=None)
@given(_texts)
def test_pii_matches_python_re(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text string").select(
        "text",
        TX.pii_count("text", TX.EMAIL_RE).alias("e"),
        TX.pii_count("text", TX.PHONE_RE).alias("p"),
        TX.pii_count("text", TX.IPV4_RE).alias("i"),
        TX.redact_pii("text").alias("clean"),
    )
    for r in df.collect():
        assert r.e == len(re.findall(TX.EMAIL_RE, r.text)), r.text
        assert r.p == len(re.findall(TX.PHONE_RE, r.text)), r.text
        assert r.i == len(re.findall(TX.IPV4_RE, r.text)), r.text
        assert r.clean == _py_redact(r.text), r.text


@settings(max_examples=30, deadline=None)
@given(_texts, st.integers(min_value=2, max_value=5))
def test_word_shingles_match_python(spark, texts, n):
    from bharatmlstack_spark.operators.dedup import word_shingles

    df = spark.createDataFrame([(t,) for t in texts], "text string").select(
        "text", word_shingles("text", n=n).alias("sh")
    )

    def ref(t: str):
        ws = [w for w in re.split(r"\s+", t.strip())] if t.strip() else [""]
        if len(ws) < n:
            return list(dict.fromkeys([" ".join(ws)]))
        grams = [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]
        return list(dict.fromkeys(grams))

    for r in df.collect():
        assert r.sh == ref(r.text), (r.text, n, r.sh)


# texts every shingle batch carries: NULL, empty, whitespace-only, one and
# two words, and 5,000 words (quadratic shingling shows there)
_SHINGLE_EDGES = [None, "", " \t ", "solo", "two  words"] + [
    " ".join(f"w{i % 613}" for i in range(5000))
]


@settings(max_examples=10, deadline=None)
@given(_texts, st.integers(min_value=1, max_value=8))
def test_shingles_match_materialised_words_reference(spark, texts, n):
    """hashed_word_shingles and word_shingles equal their O(words)
    definition: tokenize and hash the words in a prior, materialised
    select, then shingle the stored arrays (a hashed shingle is
    xxhash64 over the slice of n word hashes)."""
    from bharatmlstack_spark.operators.dedup import (
        hashed_word_shingles,
        tokenize,
        word_shingles,
    )

    rows = list(enumerate(texts + _SHINGLE_EDGES))
    df = spark.createDataFrame(rows, "id long, text string")
    words = df.select(
        "id",
        tokenize("text").alias("w"),
        F.transform(tokenize("text"), lambda x: F.xxhash64(x)).alias("wh"),
    ).localCheckpoint()

    def shingle(arr, one, whole):
        return F.array_distinct(
            F.when(
                F.size(arr) >= n,
                F.transform(F.sequence(F.lit(0), F.size(arr) - n), one),
            ).otherwise(F.array(whole))
        )

    ref = words.select(
        "id",
        shingle("wh", lambda i: F.xxhash64(F.slice("wh", i + 1, n)), F.xxhash64("wh")).alias("h"),
        shingle(
            "w", lambda i: F.concat_ws(" ", F.slice("w", i + 1, n)), F.concat_ws(" ", "w")
        ).alias("s"),
    )
    got = df.select(
        "id",
        hashed_word_shingles("text", n).alias("h"),
        word_shingles("text", n).alias("s"),
    )
    want = {r.id: (r.h, r.s) for r in ref.collect()}
    have = {r.id: (r.h, r.s) for r in got.collect()}
    assert set(have) == set(want) == set(range(len(rows)))
    for i, t in rows:
        assert have[i] == want[i], (t if t is None else t[:80], n)


# ---------------------------------------------------------------------------
# z-order interleave law over the full 16-bit domain
# ---------------------------------------------------------------------------


@settings(max_examples=25, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 65535), st.integers(0, 65535)),
                min_size=1, max_size=32))
def test_z_value_matches_python_interleave(spark, pairs):
    from bharatmlstack_spark.plans.zorder import z_value

    df = spark.createDataFrame(pairs, "a long, b long").select(
        "a", "b", z_value("a", "b", bits=16).alias("z")
    )

    def ref(a, b):
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    for r in df.collect():
        assert r.z == ref(r.a, r.b), (r.a, r.b)
        # deinterleave law: even bits reconstruct a, odd bits b
        a_back = sum(((r.z >> (2 * i)) & 1) << i for i in range(16))
        b_back = sum(((r.z >> (2 * i + 1)) & 1) << i for i in range(16))
        assert (a_back, b_back) == (r.a, r.b)


# ---------------------------------------------------------------------------
# wildcard (deletion-neighborhood) blocking exactness for lev<=1
# ---------------------------------------------------------------------------


@settings(max_examples=40, deadline=None)
@given(st.lists(st.text(alphabet="ab1", min_size=6, max_size=6),
                min_size=2, max_size=24, unique=True))
def test_wildcard_blocking_exact_for_substitution_distance(names):
    """Equal-length strings at substitution distance exactly 1 share
    EXACTLY one single-position wildcard variant; strings at distance 0
    share all six; distance >=2 share none — so the variant equi-join's
    candidate set IS the true lev<=1 pair set (the property
    fuzzy_name_match relies on)."""
    def variants(s):
        return {s[:i] + "?" + s[i + 1:] for i in range(len(s))}

    def subdist(a, b):
        return sum(x != y for x, y in zip(a, b))

    for i, a in enumerate(names):
        for b in names[i + 1:]:
            shared = len(variants(a) & variants(b))
            d = subdist(a, b)
            if d == 0:
                assert shared == 6
            elif d == 1:
                assert shared == 1, (a, b)
            else:
                assert shared == 0, (a, b)


# ---------------------------------------------------------------------------
# rolling-hash fingerprint vs Python reference
# ---------------------------------------------------------------------------


@settings(max_examples=25, deadline=None)
@given(_texts)
def test_fingerprint_matches_python_rolling_hash(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text string").select(
        "text", TX.fingerprint("text").alias("fp")
    )

    def ref(t, mod=2**31 - 1):
        ws = re.split(r"\s+", t.strip()) if t.strip() else [""]
        h = 0
        for w in ws:
            first = ord(w[0]) if w else 0
            h = (h * 31 + (len(w) * 131 + first)) % mod
        return h

    for r in df.collect():
        assert r.fp == ref(r.text), r.text


# ---------------------------------------------------------------------------
# quantile_bin assignment laws
# ---------------------------------------------------------------------------


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=12,
        max_size=60,
    ),
    st.integers(min_value=2, max_value=8),
)
def test_quantile_bin_laws(spark, values, n_buckets):
    from bharatmlstack_spark.operators.profile import quantile_bin

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(values)], "id long, v double"
    )
    out = quantile_bin(df, "v", n_buckets=n_buckets, keep=["id"]).collect()
    by_val = sorted(((r.v, r.bucket) for r in out))
    # bucket range and monotonicity in value
    assert all(1 <= b <= n_buckets for _, b in by_val)
    assert all(b1 <= b2 for (_, b1), (_, b2) in zip(by_val, by_val[1:]))
    # equal values always share a bucket
    from collections import defaultdict

    seen = defaultdict(set)
    for v, b in by_val:
        seen[v].add(b)
    assert all(len(bs) == 1 for bs in seen.values())


# ---------------------------------------------------------------------------
# salted aggregation equals plain aggregation on arbitrary skew
# ---------------------------------------------------------------------------


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(-1000, 1000)),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=2, max_value=8),
)
def test_salted_agg_matches_plain_on_random_skew(spark, rows, salt):
    from bharatmlstack_spark.plans import salted_agg

    df = spark.createDataFrame(rows, "k long, v long")
    got = {
        r.k: (r.n, r.s, r.lo, r.hi)
        for r in salted_agg(
            df,
            ["k"],
            {
                "n": (F.col("v"), "count"),
                "s": (F.col("v"), "sum"),
                "lo": (F.col("v"), "min"),
                "hi": (F.col("v"), "max"),
            },
            salt=salt,
        ).collect()
    }
    want = {
        r.k: (r.n, r.s, r.lo, r.hi)
        for r in df.groupBy("k")
        .agg(
            F.count("v").alias("n"),
            F.sum("v").alias("s"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# fixed-point PageRank loop vs a pure-Python reference on random graphs
# ---------------------------------------------------------------------------


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=14,
        unique=True,
    )
)
def test_fixed_point_pagerank_matches_python(spark, raw_edges):
    # undirected simple graph (dedup both orientations)
    undirected = {tuple(sorted(e)) for e in raw_edges}
    sym = [(a, b) for a, b in undirected] + [(b, a) for a, b in undirected]

    from collections import defaultdict

    deg = defaultdict(int)
    for s, _ in sym:
        deg[s] += 1
    rank = {n: 1_000_000 for n in deg}
    for _ in range(3):
        new = defaultdict(lambda: 150_000)
        for s, d in sym:
            new[d] += (rank[s] * 85) // (100 * deg[s])
        rank = dict(new)

    from pyspark.sql import functions as F

    edges = spark.createDataFrame(sym, "src long, dst long")
    from pyspark.sql import Window as W

    e = edges.withColumn("d", F.count(F.lit(1)).over(W.partitionBy("src")))
    r = e.select("src").distinct().select(
        F.col("src").alias("node"), F.lit(1_000_000).cast("bigint").alias("r")
    )
    for _ in range(3):
        contrib = e.join(r, e.src == r.node).select(
            F.col("dst"), F.expr("(r * 85) div (100 * d)").alias("c")
        )
        r = contrib.groupBy(F.col("dst").alias("node")).agg(
            (F.lit(150_000) + F.sum("c")).cast("bigint").alias("r")
        )
    got = {row.node: row.r for row in r.collect()}
    assert got == rank


# ---------------------------------------------------------------------------
# two-pass heavy hitters vs the direct groupBy on arbitrary skew
# ---------------------------------------------------------------------------


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.sampled_from(["a", "b", "c", "d", "e", "f", "g", "h"]),
        min_size=1,
        max_size=120,
    ),
    st.integers(1, 4),
)
def test_heavy_hitters_fuzz_matches_exact(spark, values, den):
    """candidates+recount == direct groupBy at any skew/threshold; the
    candidate pass can only DROP a below-top-k value, never corrupt a
    count, and at this cardinality the cap never binds."""
    from pyspark.sql import functions as F

    from bharatmlstack_spark.operators.profile import heavy_hitters

    df = spark.createDataFrame([(v,) for v in values], "w string").repartition(3)
    n = len(values)
    want = {}
    for v in set(values):
        c = values.count(v)
        if c * den >= n:  # threshold_num=1
            want[v] = c
    got = {
        (r.value): r.cnt for r in heavy_hitters(df, "w", 1, den).collect()
    }
    assert got == want


def test_heavy_hitters_numeric_column(spark):
    """The candidate schema derives from the input column's type: a BIGINT
    column must survive the Arrow candidate pass and join back without a
    lossy cast (previously hardcoded '__v string')."""
    from bharatmlstack_spark.operators.profile import heavy_hitters

    df = spark.createDataFrame(
        [(v,) for v in [7] * 50 + [8] * 30 + list(range(100, 120))], "k long"
    )
    got = {(r.value, r.cnt) for r in heavy_hitters(df, "k", 1, 5).collect()}
    assert got == {(7, 50), (8, 30)}  # 20% of 100 rows


# ---------------------------------------------------------------------------
# PPJoin prefix filtering is EXACT: fuzz vs a pure-Python jaccard reference
# ---------------------------------------------------------------------------

# tiny word alphabet -> dense shingle collisions; docs built by mutating a
# base pool so near-duplicates (the interesting boundary cases) are common
_jw = st.sampled_from(["aa", "bb", "cc", "dd"])
_jdoc = st.lists(_jw, min_size=1, max_size=10).map(" ".join)


@settings(max_examples=12, deadline=None)
@given(
    st.lists(_jdoc, min_size=2, max_size=8),
    st.sampled_from([0.3, 0.5, 0.8, 1.0]),
    st.integers(min_value=2, max_value=3),
)
def test_prefix_jaccard_exact_vs_python(spark, texts, threshold, n):
    """ngram_jaccard_pairs_prefix (AllPairs/PPJoin: rarity prefix + length
    + position filters, all ceil-boundary math) must emit EXACTLY the
    pairs with set-Jaccard >= t — fuzzed against an independent Python
    shingler, including an injected exact duplicate (jaccard == 1.0 sits
    on every threshold boundary)."""
    from bharatmlstack_spark.operators.dedup import ngram_jaccard_pairs_prefix

    texts = list(texts) + [texts[0]]  # exact dup of doc 0
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def shingles(t: str):
        ws = re.split(r"\s+", t.strip())
        if len(ws) < n:
            return {" ".join(ws)}
        return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}

    sets = {i: shingles(t) for i, t in rows}
    expect = {}
    for a in range(len(rows)):
        for b in range(a + 1, len(rows)):
            inter = len(sets[a] & sets[b])
            j = inter / len(sets[a] | sets[b])
            if j >= threshold:
                expect[(a, b)] = round(j, 9)

    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs_prefix(
            df, id_col="doc_id", text_col="text", n=n, threshold=threshold
        ).collect()
    }
    assert got == expect, (texts, threshold, n)


# ---------------------------------------------------------------------------
# cdc_apply vs a pure-Python changelog replay
# ---------------------------------------------------------------------------


@settings(max_examples=15, deadline=None)
@given(
    st.dictionaries(st.integers(0, 6), st.integers(-100, 100), min_size=0, max_size=5),
    st.lists(
        st.tuples(
            st.integers(0, 9),  # key (some unseen by the snapshot)
            st.sampled_from(["I", "U", "D"]),
            st.integers(-100, 100),
        ),
        min_size=1,
        max_size=20,
    ),
)
def test_cdc_apply_fuzz_matches_python_replay(spark, snap, ops):
    """cdc_apply (split full-outer: broadcast left join + keys-only
    anti-join) must equal a sequential Python replay: highest seq wins,
    winning delete drops the key, unseen-key upserts insert, unseen-key
    deletes no-op, untouched snapshot rows pass through."""
    from bharatmlstack_spark.operators.incremental import cdc_apply

    snapshot = spark.createDataFrame(
        list(snap.items()) or [(None, None)], "k long, v long"
    )
    if not snap:
        snapshot = snapshot.filter(F.col("k").isNotNull())
    changes = spark.createDataFrame(
        [(k, seq, op, v) for seq, (k, op, v) in enumerate(ops)],
        "k long, seq long, op string, v long",
    )

    state = dict(snap)
    touched = set()
    for k, op, v in ops:  # list order == ascending unique seq
        touched.add(k)
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = v
    expect = {
        (k, v, "cdc" if k in touched else "snapshot") for k, v in state.items()
    }

    for bc in (True, False):
        got = {
            (r["k"], r["v"], r["src"])
            for r in cdc_apply(
                snapshot, changes, key_cols=["k"], seq_col="seq",
                broadcast_changes=bc,
            ).collect()
        }
        assert got == expect, (snap, ops, bc)


# ---------------------------------------------------------------------------
# simhash banding pigeonhole completeness vs python popcount
# ---------------------------------------------------------------------------

_U64 = (1 << 64) - 1


@settings(max_examples=15, deadline=None)
@given(
    st.lists(st.integers(-(1 << 63), (1 << 63) - 1), min_size=2, max_size=10),
    st.lists(st.sets(st.integers(0, 63), min_size=0, max_size=3), min_size=1, max_size=5),
)
def test_simhash_banding_fuzz_matches_python_popcount(spark, base, flips):
    """simhash_near_pairs must emit EXACTLY the pairs with hamming <= 3
    (pigeonhole over 4x16-bit bands; arithmetic shiftright on negative
    fingerprints is masked per band). Planted near-dups: each flip set
    mutates <= 3 bits of a base fingerprint, so the generator produces
    pairs on both sides of the cutoff."""
    from bharatmlstack_spark.operators.dedup import simhash_near_pairs

    fps = list(base)
    for i, fl in enumerate(flips):
        src = base[i % len(base)]
        m = 0
        for b in fl:
            m |= 1 << b
        fps.append(((src & _U64) ^ m) - (1 << 64) if ((src & _U64) ^ m) >= (1 << 63) else (src & _U64) ^ m)

    df = spark.createDataFrame(list(enumerate(fps)), "id long, simhash long")
    expect = set()
    for a in range(len(fps)):
        for b in range(a + 1, len(fps)):
            h = bin((fps[a] ^ fps[b]) & _U64).count("1")
            if h <= 3:
                expect.add((a, b, h))
    rows = [
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_pairs(df, max_hamming=3).collect()
    ]
    assert len(rows) == len(set(rows)), fps  # each pair emitted exactly once
    assert set(rows) == expect, fps


@settings(max_examples=15, deadline=None)
@given(_texts)
def test_simhash_fold_matches_python_vote_counter(spark, texts):
    """The r09 map-side fold (packed 21-bit ones-counters folded over the
    in-row token-hash array) must equal an independent Python per-bit
    vote counter fed the SAME token hashes. Shares only tokenize +
    xxhash64 with the implementation — the packing, folding, and
    majority-threshold logic are recomputed bit-by-bit in Python."""
    from bharatmlstack_spark.operators import dedup as DD

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    hashes = {
        r["doc_id"]: [h & _U64 for h in r["wh"]]
        for r in docs.select(
            "doc_id",
            F.transform(DD.tokenize("text"), lambda w: F.xxhash64(w)).alias("wh"),
        ).collect()
    }
    got = {r["id"]: r["simhash"] for r in DD.simhash(docs, id_col="doc_id").collect()}
    assert set(got) == set(hashes)
    for d, whs in hashes.items():
        n = len(whs)
        fp = 0
        for b in range(64):
            ones = sum((h >> b) & 1 for h in whs)
            if 2 * ones > n:
                fp |= 1 << b
        if fp >= 1 << 63:  # Spark longs are signed
            fp -= 1 << 64
        assert got[d] == fp, (d, texts[d])


@settings(max_examples=5, deadline=None)
@given(_texts)
def test_simhash_fold_bits32_matches_python_vote_counter(spark, texts):
    """bits < 64: the packed sums are indexed by bit % 21, so a 32-bit
    fingerprint must equal the Python per-bit vote counter over the low
    32 bits of the same token hashes."""
    from bharatmlstack_spark.operators import dedup as DD

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    hashes = {
        r["doc_id"]: [h & _U64 for h in r["wh"]]
        for r in docs.select(
            "doc_id",
            F.transform(DD.tokenize("text"), lambda w: F.xxhash64(w)).alias("wh"),
        ).collect()
    }
    got = {
        r["id"]: r["simhash"]
        for r in DD.simhash(docs, id_col="doc_id", bits=32).collect()
    }
    assert set(got) == set(hashes)
    for d, whs in hashes.items():
        fp = 0
        for b in range(32):
            if 2 * sum((h >> b) & 1 for h in whs) > len(whs):
                fp |= 1 << b
        assert got[d] == fp, (d, texts[d])


# ---------------------------------------------------------------------------
# as-of join vs a pure-Python point-in-time lookup
# ---------------------------------------------------------------------------


@settings(max_examples=15, deadline=None)
@given(
    st.lists(  # labels: (key, ts)
        st.tuples(st.integers(0, 3), st.integers(0, 40)), min_size=1, max_size=12
    ),
    st.sets(  # features: unique (key, ts) -- equal-ts feature rows are the
        # operator's documented ambiguity, deduped by callers
        st.tuples(st.integers(0, 3), st.integers(0, 40)), max_size=16
    ),
    st.data(),
    st.sampled_from([None, 5, 15]),
)
def test_asof_join_fuzz_matches_python_lookup(spark, labels, fkeys, data, tol):
    """as_of_join (union + ordered window forward-fill, per-column
    staleness) vs per-label Python: newest NON-NULL feature at ts<=label
    ts, inclusive at equality, independently per column, absent when
    older than the tolerance lookback."""
    from bharatmlstack_spark.operators.asof import as_of_join

    feats = [
        (k, ts, data.draw(st.one_of(st.none(), st.integers(-50, 50))),
         data.draw(st.one_of(st.none(), st.integers(-50, 50))))
        for k, ts in sorted(fkeys)
    ]
    lab_rows = [(i, k, ts) for i, (k, ts) in enumerate(labels)]
    ldf = spark.createDataFrame(lab_rows, "lid long, k long, lts long")
    fdf = spark.createDataFrame(
        feats or [(None, None, None, None)], "k long, fts long, a long, b long"
    )
    if not feats:
        fdf = fdf.filter(F.col("k").isNotNull())

    def ref(k, lts, col):
        best = None
        for fk, fts, a, b in feats:
            v = a if col == "a" else b
            if fk == k and fts <= lts and v is not None:
                if best is None or fts > best[0]:
                    best = (fts, v)
        if best is None:
            return None
        if tol is not None and best[0] < lts - tol:
            return None
        return best[1]

    out = as_of_join(
        ldf, fdf, on=["k"], label_ts="lts", feature_ts="fts",
        feature_cols=["a", "b"], tolerance_ms=tol,
    )
    got = {r["lid"]: (r["a"], r["b"]) for r in out.collect()}
    assert len(got) == len(lab_rows)  # label count preserved
    for lid, k, lts in lab_rows:
        assert got[lid] == (ref(k, lts, "a"), ref(k, lts, "b")), (
            lid, k, lts, feats, tol,
        )


# ---------------------------------------------------------------------------
# bucketized range join vs the naive O(n*m) Python join
# ---------------------------------------------------------------------------


@settings(max_examples=12, deadline=None)
@given(
    st.lists(  # points: (pid implicit, key, ts) — ts spans negatives to
        # exercise the trunc-vs-floor bucketing (monotone, so still exact)
        st.tuples(st.integers(0, 2), st.integers(-5000, 5000)),
        min_size=1, max_size=10,
    ),
    st.lists(  # intervals: (key, start, length)
        st.tuples(st.integers(0, 2), st.integers(-5000, 5000), st.integers(0, 4000)),
        min_size=0, max_size=8,
    ),
    st.sampled_from([1, 700, 1000, 5000]),
    st.sampled_from(["inner", "left"]),
)
def test_range_join_fuzz_matches_naive(spark, pts, ivs, width, how):
    from bharatmlstack_spark.operators.rangejoin import range_join

    prows = [(i, k, ts) for i, (k, ts) in enumerate(pts)]
    irows = [(j, k, s, s + ln) for j, (k, s, ln) in enumerate(ivs)]
    pdf = spark.createDataFrame(prows, "pid long, k long, ts long")
    idf = spark.createDataFrame(
        irows or [(None, None, None, None)], "iid long, k long, s long, e long"
    )
    if not irows:
        idf = idf.filter(F.col("iid").isNotNull())

    expect = set()
    for pid, pk, ts in prows:
        hit = False
        for iid, ik, s, e in irows:
            if pk == ik and s <= ts <= e:
                expect.add((pid, iid))
                hit = True
        if how == "left" and not hit:
            expect.add((pid, None))

    out = range_join(
        pdf, idf, point_ts="ts", start_col="s", end_col="e",
        on=["k"], bucket_width=width, how=how,
    )
    got = {(r["pid"], r["iid"]) for r in out.collect()}
    assert got == expect, (pts, ivs, width, how)


# ---------------------------------------------------------------------------
# chunking + packing vs pure-Python references
# ---------------------------------------------------------------------------


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.lists(st.text(alphabet="ab", min_size=1, max_size=2), min_size=0, max_size=30).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    st.integers(1, 8),
    st.integers(1, 8),
)
def test_chunk_documents_fuzz_matches_python(spark, texts, window, stride):
    """chunk_documents' ceil-based chunk count and 1-based slice offsets
    vs Python slicing: exact chunk text, index, and word counts — incl.
    empty docs (one ''-chunk) and the short final chunk."""
    from bharatmlstack_spark.operators.chunking import chunk_documents

    if stride > window:
        window, stride = stride, window
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, window=window, stride=stride)
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_words"])
        for r in out.collect()
    }

    expect = {}
    for i, t in rows:
        wsr = re.split(r"\s+", t.strip())
        n = len(wsr)
        n_chunks = 1 + -(-max(n - window, 0) // stride)
        for c in range(n_chunks):
            piece = wsr[c * stride : c * stride + window]
            expect[(i, c)] = (" ".join(piece), len(piece) if piece else 1)
    # n_words of an empty slice: split('') -> [''] -> size 1 (matches the
    # Spark re-split of the empty chunk_text)
    assert got == expect, (texts, window, stride)


@settings(max_examples=12, deadline=None)
@given(
    st.sets(st.integers(0, 40), min_size=1, max_size=16),
    st.data(),
    st.integers(1, 20),
    st.integers(1, 4),
)
def test_pack_sequences_fuzz_matches_python(spark, ids, data, budget, n_shards):
    """pack_sequences' sharded running cumsum vs Python: bin index and
    tokens_before per doc, for arbitrary token lengths (> budget too)."""
    from bharatmlstack_spark.operators.chunking import pack_sequences

    rows = [(i, data.draw(st.integers(1, 30))) for i in sorted(ids)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = pack_sequences(df, budget=budget, n_shards=n_shards)
    got = {
        r["doc_id"]: (r["shard"], r["bin"], r["tokens_before"])
        for r in out.collect()
    }

    expect = {}
    shards = {}
    for i, tok in rows:  # already id-ascending
        s = i % n_shards
        before = shards.get(s, 0)
        expect[i] = (s, before // budget, before)
        shards[s] = before + tok
    assert got == expect, (rows, budget, n_shards)


# ---------------------------------------------------------------------------
# ISO-week ring math vs Python isocalendar (year boundaries, week 53)
# ---------------------------------------------------------------------------


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.datetimes(
            min_value=__import__("datetime").datetime(1999, 12, 20),
            max_value=__import__("datetime").datetime(2030, 1, 12),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_week_index_and_start_fuzz_match_python(spark, dts):
    """week_index (ISO week-of-year % 24) vs datetime.isocalendar, and
    week_start (date_trunc week) vs the Monday of the ISO week — across
    year boundaries and ISO week-53 years (1998/2004/2009/2015/2020/2026),
    where weekofyear conventions classically diverge."""
    import datetime as dt

    from bharatmlstack_spark.operators.event_store import week_index, week_start

    # pin the boundary dates hypothesis might not draw
    dts = list(dts) + [
        dt.datetime(2020, 12, 31, 23, 59, 59),  # ISO week 53 of 2020
        dt.datetime(2021, 1, 1),                # still ISO week 53 of 2020
        dt.datetime(2016, 1, 3),                # ISO week 53 of 2015
        dt.datetime(2024, 12, 30),              # ISO week 1 of 2025
        dt.datetime(2000, 1, 1),                # ISO week 52 of 1999
    ]
    rows = [(i, d) for i, d in enumerate(dts)]
    df = spark.createDataFrame(rows, "i long, ts timestamp")
    out = {
        r["i"]: (r["wi"], r["ws"])
        for r in df.select(
            "i",
            week_index(F.col("ts")).alias("wi"),
            week_start(F.col("ts")).alias("ws"),
        ).collect()
    }
    for i, d in rows:
        iso_week = d.isocalendar()[1]
        monday = dt.datetime.combine(
            (d.date() - dt.timedelta(days=d.weekday())), dt.time()
        )
        assert out[i] == (iso_week % 24, monday), (d, out[i], iso_week, monday)


# ---------------------------------------------------------------------------
# gap-based sessionization vs a sequential Python replay
# ---------------------------------------------------------------------------


@settings(max_examples=12, deadline=None)
@given(
    st.lists(  # (user, ts) with deliberate ts collisions (small domain)
        st.tuples(st.integers(0, 2), st.integers(0, 100)),
        min_size=1,
        max_size=24,
    ),
    st.integers(1, 40),
)
def test_sessionize_fuzz_matches_python(spark, evs, gap):
    """lag + running-sum sessionization vs Python: per user, events sorted
    by (ts, event_id), a session break wherever the gap exceeds the
    threshold — equal-timestamp events (the tiebreak path) always share a
    session."""
    rows = [(i, u, ts) for i, (u, ts) in enumerate(evs)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts_ms long")

    w_ord = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    brk = F.col("ts_ms") - F.lag("ts_ms").over(w_ord)
    is_new = F.when(brk.isNull() | (brk > gap), 1).otherwise(0)
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = df.withColumn("sid", F.sum(is_new).over(w_run))
    got = {r["event_id"]: r["sid"] for r in out.collect()}

    expect = {}
    by_user = {}
    for i, u, ts in sorted(rows, key=lambda r: (r[1], r[2], r[0])):
        last, sid = by_user.get(u, (None, 0))
        if last is None or ts - last > gap:
            sid += 1
        by_user[u] = (ts, sid)
        expect[i] = sid
    assert got == expect, (evs, gap)


# ---------------------------------------------------------------------------
# exact percentile interpolation vs numpy linear
# ---------------------------------------------------------------------------


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
        min_size=1,
        max_size=40,
    ),
    st.lists(st.floats(min_value=0.0, max_value=1.0, allow_nan=False), min_size=1, max_size=5),
)
def test_percentile_interpolation_matches_numpy_linear(spark, values, probs):
    """F.percentile (the exact kernel behind A4/W3 and the profile
    suite) implements the same linear interpolation as
    numpy.percentile(method='linear') / DuckDB percentile_cont — pinned
    on arbitrary values and probabilities, not just fixture data."""
    import numpy as np

    df = spark.createDataFrame([(float(v),) for v in values], "v double")
    got = df.agg(
        F.percentile(F.col("v"), F.array(*[F.lit(p) for p in probs])).alias("ps")
    ).collect()[0]["ps"]
    want = np.percentile(np.array(values, dtype=np.float64), [p * 100 for p in probs],
                         method="linear")
    for g, w in zip(got, want):
        assert g == pytest.approx(w, rel=1e-12, abs=1e-9), (values, probs)
