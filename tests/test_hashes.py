import numpy as np
import pytest
from pyspark.sql import functions as F

from govgis_nov2023_slim_spatial_server_spark.functions.hashes import (
    char_shingles,
    hamming64,
    jaccard,
    minhash_signature,
    simhash_str,
    simhash_udf,
    word_shingles,
)
from govgis_nov2023_slim_spatial_server_spark.operators.dedup import (
    exact_dedup_deterministic,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)


@pytest.fixture(scope="module")
def near_dup_df(spark):
    """50 base docs + 10 near-duplicates (one word changed) + 1 exact dup."""
    rng = np.random.RandomState(13)
    words = [f"w{i}" for i in range(50)]
    docs = []
    for i in range(50):
        docs.append((i, " ".join(rng.choice(words, size=30))))
    for j in range(10):  # near-dups of docs 0..9
        toks = docs[j][1].split()
        toks[5] = "CHANGED"
        docs.append((100 + j, " ".join(toks)))
    docs.append((200, docs[0][1]))  # exact dup of doc 0
    return spark.createDataFrame(docs, "doc_id: long, text: string")


def test_word_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b"), (3, "")], "id: long, t: string")
    got = {r["id"]: r["s"] for r in df.select("id", word_shingles("t", 3).alias("s")).collect()}
    assert got[1] == ["a b c", "b c d"]
    assert got[2] == ["a b"]
    assert got[3] == []


def test_char_shingles(spark):
    df = spark.createDataFrame([(1, "abcdef")], "id: long, t: string")
    got = df.select(char_shingles("t", 4).alias("s")).first()["s"]
    assert got == ["abcd", "bcde", "cdef"]


def test_jaccard_exact(spark):
    df = spark.createDataFrame([(1,)], "id: long")
    j = df.select(
        jaccard(F.array(F.lit("a"), F.lit("b"), F.lit("c")), F.array(F.lit("b"), F.lit("c"), F.lit("d"))).alias("j")
    ).first()["j"]
    assert j == pytest.approx(2 / 4)


def test_minhash_estimates_jaccard(spark, near_dup_df):
    """MinHash signature agreement rate ≈ true Jaccard (LSH theory)."""
    sh = near_dup_df.select("doc_id", word_shingles("text", 3).alias("sh"))
    sigs = sh.select("doc_id", minhash_signature(F.col("sh"), num_perm=128).alias("sig"))
    rows = {r["doc_id"]: r["sig"] for r in sigs.collect()}
    shr = {r["doc_id"]: set(r["sh"]) for r in sh.collect()}
    for a, b in [(0, 100), (1, 101), (0, 1)]:
        true_j = len(shr[a] & shr[b]) / len(shr[a] | shr[b])
        est = np.mean([x == y for x, y in zip(rows[a], rows[b])])
        assert est == pytest.approx(true_j, abs=0.15)


def test_minhash_lsh_finds_neardups(spark, near_dup_df):
    # threshold 0 keeps every LSH candidate pair of the verified path
    cands = minhash_near_duplicates(
        near_dup_df, "doc_id", "text", threshold=0.0, shingle_k=3, num_perm=64, bands=16
    )
    pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    # exact dup must always collide; near-dups (high jaccard) should mostly
    assert (0, 200) in pairs
    found = sum((j, 100 + j) in pairs for j in range(10))
    assert found >= 8


def test_minhash_verified_pairs(spark, near_dup_df):
    nd = minhash_near_duplicates(near_dup_df, "doc_id", "text", threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in nd.collect()}
    assert got.get((0, 200)) == pytest.approx(1.0)
    # verification drops sub-threshold candidates
    assert all(j >= 0.5 for j in got.values())


def test_ngram_jaccard_groundtruth(spark, near_dup_df):
    out = ngram_jaccard_pairs(near_dup_df, "doc_id", "text", threshold=0.5, probe_ids=[0])
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert (0, 200) in got and got[(0, 200)] == pytest.approx(1.0)
    assert (0, 100) in got  # near-dup of 0


def test_simhash_properties(spark, near_dup_df):
    assert simhash_str("hello world") == simhash_str("hello  WORLD")  # case/ws-normalized
    assert simhash_str("") == 0
    assert simhash_str(None) is None
    out = simhash_near_duplicates(near_dup_df, "doc_id", "text", max_hamming=10)
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    assert pairs.get((0, 200)) == 0  # exact dup → identical simhash


def test_hamming64_native_matches_python(spark, near_dup_df):
    hashed = near_dup_df.select("doc_id", simhash_udf()(F.col("text")).alias("sh"))
    a = hashed.where(F.col("doc_id") == 0).first()["sh"]
    b = hashed.where(F.col("doc_id") == 100).first()["sh"]
    native = (
        spark.createDataFrame([(a, b)], "a: long, b: long")
        .select(hamming64(F.col("a"), F.col("b")).alias("h"))
        .first()["h"]
    )
    assert native == bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_exact_dedup_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "k1", "x"), (2, "k1", "y"), (3, "k2", "z")], "id: long, k: string, v: string"
    )
    out = exact_dedup_deterministic(df, ["k"], "id").collect()
    assert sorted((r["k"], r["id"]) for r in out) == [("k1", 1), ("k2", 3)]


def test_simhash_poly_matches_python_reference(spark):
    """The native simhash_poly column equals a pure-Python fold with the
    same definition (poly token hash, vote>0 bit rule)."""
    from govgis_nov2023_slim_spatial_server_spark.functions.hashes import (
        _POLY_BASE,
        _POLY_MOD,
        simhash_poly,
    )

    def py_simhash(text: str, n_bits: int = 16) -> int:
        out = 0
        toks = text.lower().split()
        hs = []
        for t in toks:
            h = 0
            for ch in t:
                h = (h * _POLY_BASE + ord(ch)) % _POLY_MOD
            hs.append(h % (1 << 32))
        for j in range(n_bits):
            votes = sum(1 if (h >> j) & 1 else -1 for h in hs)
            if votes > 0:
                out |= 1 << j
        return out

    texts = ["the quick brown fox", "the the the", "a b c d e f", "zeta"]
    df = spark.createDataFrame(list(enumerate(texts)), ["id", "text"])
    got = {
        r["id"]: r["s"]
        for r in df.select("id", simhash_poly(F.col("text")).alias("s")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == py_simhash(t), t


def test_arrow_minhash_matches_native(spark):
    """The Arrow-vectorized signature kernel must be BIT-identical to the
    native HOF formulation — same universal-hash family, same draws."""
    from pyspark.sql import functions as F

    from govgis_nov2023_slim_spatial_server_spark.functions.hashes import (
        base_hash_array,
        minhash_signature,
        minhash_signature_arrow,
        word_shingles,
        _let,
    )

    rows = [(1, "a b c d e f g"), (2, "x y z"), (3, ""), (4, "a b c d e f g h i")]
    df = spark.createDataFrame(rows, "id: long, text: string")
    both = df.select(
        "id",
        _let(
            word_shingles("text", 3),
            lambda s: F.struct(
                minhash_signature(s, num_perm=16, seed=7).alias("native"),
                base_hash_array(s).alias("bh"),
            ),
        ).alias("x"),
    ).select(
        "id",
        F.col("x.native").alias("native"),
        minhash_signature_arrow(num_perm=16, seed=7)(F.col("x.bh")).alias("arrow"),
    )
    for r in both.collect():
        assert r["native"] == r["arrow"], r["id"]


def test_word_shingle_hashes_membership_equivalent(spark):
    """word_shingle_hashes (r16 token-hash mixing) must be MEMBERSHIP-
    equivalent to xxhash64 over word_shingles strings: equal string
    shingles <=> equal hashes, across docs. Random texts incl. empty,
    one-token, shorter-than-k, exact-duplicate and overlapping docs."""
    import random

    from pyspark.sql import functions as F

    from govgis_nov2023_slim_spatial_server_spark.functions.hashes import (
        word_shingle_hashes,
        word_shingles,
    )

    rng = random.Random(20260818)
    vocab = [f"w{i}" for i in range(30)]
    texts = ["", "one", "two words", "  padded   ws\ttab  "]
    for _ in range(40):
        n = rng.randint(3, 40)
        texts.append(" ".join(rng.choice(vocab) for _ in range(n)))
    texts.append(texts[-1])  # exact duplicate doc
    texts.append(" ".join(texts[-1].split()[:10]))  # shared prefix
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = df.select(
        "doc_id",
        F.transform(word_shingles("text", 3), lambda s: F.xxhash64(s)).alias(
            "hs"
        ),
        word_shingle_hashes("text", 3).alias("hh"),
        word_shingles("text", 3).alias("ss"),
    ).collect()
    # sizes equal per doc (both dedupe), and the cross-doc equality
    # structure matches: string shingle equality <=> new-hash equality
    str2new = {}
    for r in got:
        assert len(r["hh"]) == len(r["ss"]) == len(r["hs"])
        for s, h in zip(r["ss"], r["hh"]):
            assert str2new.setdefault(s, h) == h, s
    # distinct strings got distinct hashes (no accidental collisions in
    # this corpus)
    assert len(set(str2new.values())) == len(str2new)
