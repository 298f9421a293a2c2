"""Training-data pipeline catalog entries: reproducible sampling and
splits, token-window chunking, TF-IDF term scoring, repetition-quality
filtering, chunk-level boilerplate dedup, PII redaction, and benchmark
decontamination.

These are the corpus-preparation operators a 100 TB run needs BEYOND the
reference's own surface: every one is a native-expression map/agg plan
(no Python in the hot path) and every one carries an exact DuckDB oracle —
sampling here is hash-deterministic precisely so that an oracle CAN exist
(seeded RNG sampling is engine-specific and unverifiable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import repetition_metrics, tokens
from ..operators.chunking import chunk_by_tokens, chunk_sql, dedup_chunks
from ..operators.decontaminate import contamination_counts
from ..operators.sampling import (
    deterministic_sample,
    hash_bucket,
    hash_split,
    hash_split_case_sql,
    hash_bucket_sql,
)
from ..schemas import load_table
from ._registry import QUALITY_EXPR_SQL, query, rnd_nz

_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@query(
    "sample_deterministic_orders",
    f"""
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS total_price
    FROM orders
    WHERE {hash_bucket_sql('o_orderkey')} < 500
    """,
)
def sample_deterministic_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5% reproducible sample of orders — identical member set in any
    engine/partitioning (hash-of-key predicate, pushes to the scan)."""
    o = _t(spark, sf_dir, "orders")
    return deterministic_sample(o, "o_orderkey", 0.05).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total_price")
    )


@query(
    "split_train_val_test",
    f"""
    SELECT {hash_split_case_sql('o_orderkey', _SPLITS)} AS split,
           COUNT(*) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY 1
    """,
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjoint 80/10/10 train/val/test split by key hash; summarized per
    split. New rows joining the corpus later land in the same splits —
    the property seeded-RNG splits cannot give an incremental pipeline."""
    o = _t(spark, sf_dir, "orders")
    return hash_split(o, "o_orderkey", _SPLITS).groupBy("split").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@query("chunk_documents_tokens", chunk_sql(chunk_tokens=64, overlap=16))
def chunk_documents_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 64-token chunks (stride 48) of every document — a pure
    map-side fan-out (split → sequence → explode → slice, no shuffle)."""
    d = _t(spark, sf_dir, "documents")
    return chunk_by_tokens(d, "doc_id", "text", chunk_tokens=64, overlap=16)


@query(
    "tfidf_top_terms",
    """
    WITH tf AS (
      SELECT doc_id, t.term, COUNT(*) AS tf
      FROM documents, LATERAL unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t(term)
      GROUP BY doc_id, t.term),
    df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS n_docs FROM tf GROUP BY term),
    n AS (SELECT COUNT(*)::DOUBLE AS total FROM documents)
    SELECT tf.doc_id, tf.term,
           ROUND(tf.tf * ln(n.total / df.n_docs), 4) AS tfidf
    FROM tf JOIN df USING (term), n
    WHERE tf.doc_id < 50
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY tf.doc_id
        ORDER BY tf.tf * ln(n.total / df.n_docs) DESC, tf.term) <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (probe block doc_id < 50).

    Two hash-agg shuffles (term frequency, document frequency) + one
    broadcast of the tiny df/N sides back onto tf — the classic two-pass
    formulation; at 100 TB both aggs combine map-side."""
    d = _t(spark, sf_dir, "documents")
    terms = d.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("n_docs"))
    total = d.agg(F.count(F.lit(1)).cast("double").alias("total"))
    scored = (
        tf.where(F.col("doc_id") < 50)
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(total))
        .withColumn("__s", F.col("tf") * F.log(F.col("total") / F.col("n_docs")))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("__s").desc(), F.col("term").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= 3)
        .select("doc_id", "term", F.round("__s", 4).alias("tfidf"))
    )


@query(
    "repetition_filter",
    """
    WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w FROM documents),
    wc AS (SELECT doc_id, term, COUNT(*) AS c
           FROM (SELECT doc_id, unnest(w) AS term FROM t) GROUP BY doc_id, term),
    tw AS (SELECT doc_id, MAX(c) AS top_cnt, COUNT(*) AS n_distinct, SUM(c) AS n_words
           FROM wc GROUP BY doc_id),
    bg AS (SELECT doc_id,
                  list_transform(range(2, len(w) + 1), i -> w[i-1] || ' ' || w[i]) AS bgs
           FROM t)
    SELECT tw.doc_id,
           n_words::BIGINT AS n_words,
           ROUND(top_cnt::DOUBLE / n_words, 4) AS top_word_ratio,
           ROUND(n_distinct::DOUBLE / n_words, 4) AS distinct_ratio,
           CASE WHEN len(bgs) = 0 THEN 0.0
                ELSE ROUND((len(bgs) - len(list_distinct(bgs)))::DOUBLE / len(bgs), 4)
           END AS dup_2gram_ratio,
           CASE WHEN top_cnt::DOUBLE / n_words <= 0.15
                 AND n_distinct::DOUBLE / n_words >= 0.5 THEN 1 ELSE 0 END::BIGINT AS keep
    FROM tw JOIN bg USING (doc_id)
    """,
)
def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter — top-word / distinct-word / dup-bigram
    ratios plus the keep decision, computed as zero-shuffle array expressions
    (sort-fold max-run, array_distinct) that ride the scan; the oracle
    reproduces the identical semantics via unnest + GROUP BY."""
    d = _t(spark, sf_dir, "documents")
    m = repetition_metrics(F.col("text"))
    return d.select(
        "doc_id",
        m["n_words"].alias("n_words"),
        F.round(m["top_word_ratio"], 4).alias("top_word_ratio"),
        F.round(m["distinct_ratio"], 4).alias("distinct_ratio"),
        F.round(m["dup_2gram_ratio"], 4).alias("dup_2gram_ratio"),
        F.when(
            (m["top_word_ratio"] <= 0.15) & (m["distinct_ratio"] >= 0.5), F.lit(1)
        ).otherwise(F.lit(0)).cast("long").alias("keep"),
    )


@query(
    "chunk_dedup_summary",
    """
    WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w FROM documents),
    c AS (SELECT doc_id, i AS chunk_id,
                 array_to_string(w[CAST(i AS INT)*32+1 : CAST(i AS INT)*32+32], ' ') AS ch
          FROM t, (SELECT unnest(range(0, 1000)) AS i) ix
          WHERE i * 32 < len(w)),
    k AS (SELECT doc_id, chunk_id,
                 ROW_NUMBER() OVER (PARTITION BY ch ORDER BY doc_id, chunk_id) AS rn
          FROM c)
    SELECT doc_id,
           COUNT(*)::BIGINT AS n_chunks,
           SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept
    FROM k GROUP BY doc_id
    """,
)
def chunk_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal: 32-token non-overlapping chunks of the lowercased
    corpus, keep-first dedup on the chunk hash (operators/chunking.dedup_chunks
    — near-dup documents share exact chunks, so per-doc kept counts drop
    below chunk counts). The window shuffles an 8-byte xxhash64 key, never
    the passage text; the oracle partitions by the text itself (identical
    result absent 64-bit collisions)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.col("text")).alias("text")
    )
    chunks = chunk_by_tokens(d, "doc_id", "text", chunk_tokens=32, overlap=0)
    kept = dedup_chunks(chunks)
    n_chunks = chunks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_chunks"))
    n_kept = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_kept"))
    return (
        n_chunks.join(n_kept, "doc_id", "left")
        .select(
            "doc_id",
            "n_chunks",
            F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
        )
    )


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+?[0-9][0-9-]{6,}[0-9]"


@query(
    "pii_redaction",
    f"""
    WITH t AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com' ||
             CASE WHEN doc_id % 3 = 0 THEN ' cc admin@example.org' ELSE '' END ||
             ' or call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t2
      FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(t2, '{_EMAIL_RE}'))::BIGINT AS n_emails,
           len(regexp_extract_all(t2, '{_PHONE_RE}'))::BIGINT AS n_phones,
           regexp_replace(regexp_replace(t2, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                          '{_PHONE_RE}', '[PHONE]', 'g') AS redacted
    FROM t
    """,
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (emails/phones → placeholder tokens) with match counts.
    The corpus has no organic PII, so deterministic synthetic contacts are
    appended per doc_id first — both engines inject and redact identically.
    Pure regexp expressions: a map-only stage that rides the scan at 100 TB
    (patterns are RE2-safe — no lookarounds — per the oracle dialect)."""
    d = _t(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" cc admin@example.org")).otherwise(F.lit("")),
        F.lit(" or call +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    return d.select(
        "doc_id",
        F.regexp_count(injected, F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(injected, F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(injected, _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
        ).alias("redacted"),
    )


@query(
    "decontaminate_benchmark",
    """
    WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w FROM documents),
    sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
             range(1, CASE WHEN len(w) >= 8 THEN len(w) - 7 ELSE 1 END + 1),
             i -> array_to_string(w[i:i+7], ' ')))) AS g
           FROM t),
    bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 7 = 0)
    SELECT s.doc_id, COUNT(*)::BIGINT AS n_shared_shingles
    FROM sh s JOIN bench USING (g)
    WHERE s.doc_id % 7 <> 0
    GROUP BY s.doc_id
    """,
)
def decontaminate_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs (doc_id % 7 != 0) sharing any
    lowercased 8-word shingle with the benchmark subset (doc_id % 7 == 0) —
    near-duplicate documents straddling the boundary are exactly what this
    catches. Docs shorter than 8 words contribute their FULL text as the
    single shingle (word_shingles' documented rule — an exact short-doc
    duplicate of a benchmark doc IS contamination; the oracle's CASE
    mirrors it, found by the random-corpus gate on 1-word docs).
    Benchmark shingle set broadcasts; corpus side is map-only
    explode + broadcast semi-join + one agg (operators/decontaminate)."""
    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 7 == 0)
    corpus = d.where(F.col("doc_id") % 7 != 0)
    return contamination_counts(corpus, bench, "doc_id", "text", ngram=8)


_STRATA_FRACTIONS = {0: 0.5, 1: 0.3, 2: 0.2, 5: 0.1}


def _stratified_oracle_sql() -> str:
    from ..operators.sampling import stratified_sample_sql

    pred = stratified_sample_sql("vec_id", "label", _STRATA_FRACTIONS)
    return f"SELECT vec_id, label FROM embeddings WHERE {pred}"


@query("stratified_sample_embeddings", _stratified_oracle_sql())
def stratified_sample_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced deterministic sampling: each label keeps its own
    fraction, decided by the shared key hash (operators/sampling.
    stratified_sample) — a pure scan predicate, no shuffle, no RNG; labels
    outside the fraction map are dropped entirely."""
    from ..operators.sampling import stratified_sample

    e = _t(spark, sf_dir, "embeddings")
    return stratified_sample(e, "vec_id", "label", _STRATA_FRACTIONS).select(
        "vec_id", "label"
    )


@query(
    "pack_sequences_512",
    """
    WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
                      len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_tokens
               FROM documents),
    c AS (SELECT *, (SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum
          FROM t)
    SELECT shard, doc_id, n_tokens,
           CAST(FLOOR((cum - n_tokens) / 512.0) AS BIGINT) AS seq_id,
           (cum - n_tokens) - CAST(FLOOR((cum - n_tokens) / 512.0) AS BIGINT) * 512 AS offset_in_seq,
           CASE WHEN FLOOR((cum - 1) / 512.0) > FLOOR((cum - n_tokens) / 512.0)
                THEN 1 ELSE 0 END::BIGINT AS spans_boundary
    FROM c
    """,
)
def pack_sequences_512(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing into 512-token training rows over 8 shards
    (operators/chunking.pack_sequences): concatenate-then-split layout with
    per-shard cumulative sums — parallelism is the shard count, never one
    global window."""
    from ..functions.text import token_count
    from ..operators.chunking import pack_sequences

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        token_count("text").alias("n_tokens"),
    )
    return pack_sequences(d, "doc_id", "n_tokens", seq_tokens=512, shard_col="shard")


@query(
    "oov_rate_top_vocab",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
      FROM documents),
    tf AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
    vocab AS (SELECT term FROM tf ORDER BY c DESC, term LIMIT 10),
    oov AS (
      SELECT doc_id, COUNT(*) AS n_oov
      FROM toks WHERE term NOT IN (SELECT term FROM vocab)
      GROUP BY doc_id),
    n AS (SELECT doc_id, COUNT(*) AS n_tokens FROM toks GROUP BY doc_id)
    SELECT n.doc_id, n.n_tokens,
           COALESCE(o.n_oov, 0) AS n_oov,
           ROUND(COALESCE(o.n_oov, 0)::DOUBLE / n.n_tokens, 4) AS oov_rate
    FROM n LEFT JOIN oov o ON n.doc_id = o.doc_id
    """,
)
def oov_rate_top_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage metric (the tokenizer-fit check an LLM corpus
    run computes before training): build the top-10 corpus vocabulary
    (count-desc, term tie-break), then per-doc out-of-vocabulary token
    fraction. Two map-side-combining aggs + a broadcast anti-join — the
    vocab side is LIMIT-bounded, so the corpus is never reshuffled."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term"))
    tf = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    vocab = tf.orderBy(F.col("c").desc(), F.col("term").asc()).limit(10).select("term")
    oov = (
        toks.join(F.broadcast(vocab), "term", "left_anti")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_oov"))
    )
    n = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens"))
    return n.join(oov, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_oov"), F.lit(0).cast("long")).alias("n_oov"),
        F.round(
            F.coalesce(F.col("n_oov"), F.lit(0).cast("long")).cast("double")
            / F.col("n_tokens"),
            4,
        ).alias("oov_rate"),
    )


@query(
    "token_length_histogram",
    """
    WITH t AS (
      SELECT len(regexp_split_to_array(trim(text), '\\s+')) AS n FROM documents)
    SELECT CAST(FLOOR(log2(n)) AS BIGINT) AS bucket,
           COUNT(*) AS n_docs,
           MIN(n)::BIGINT AS min_tokens,
           MAX(n)::BIGINT AS max_tokens
    FROM t GROUP BY bucket ORDER BY bucket
    """,
)
def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two (log2-bucket) histogram of document token lengths — the
    sequence-length profile that sizes packing buffers and truncation
    budgets before a training run.

    floor(log2(n)) is boundary-safe: the only inputs where the floor could
    flip on a last-ulp disagreement are exact powers of two, and IEEE log2
    of a power of two is exact in every engine. Scale shape: map-side
    length + one combinable hash-agg on ~30 buckets — no distributed sort,
    no wide shuffle, the cheapest full-corpus profile there is."""
    d = _t(spark, sf_dir, "documents")
    t = d.select(F.size(tokens(F.col("text"))).alias("n"))
    return (
        t.groupBy(F.floor(F.log2("n")).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n").cast("long").alias("min_tokens"),
            F.max("n").cast("long").alias("max_tokens"),
        )
        .orderBy("bucket")
    )


_QUALITY_SQL = QUALITY_EXPR_SQL


@query(
    "weighted_sample_by_quality",
    f"""
    WITH q AS (SELECT doc_id, {_QUALITY_SQL} AS quality FROM documents)
    SELECT doc_id, ROUND(quality, 4) AS quality
    FROM q
    WHERE {hash_bucket_sql('doc_id')} < CAST(FLOOR(quality * 10000.0) AS BIGINT)
    """,
)
def weighted_sample_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-WEIGHTED deterministic sampling: each document is kept with
    probability equal to its quality score, decided by comparing its key
    hash bucket against floor(quality·10000) — the importance-sampling
    step a quality-curriculum corpus build applies, with the same
    reproducibility contract as the uniform hash sample (same row → same
    decision on any partitioning, any engine, forever; seeded-RNG
    weighted sampling has none of these properties).

    The score is computed identically on both engines (deterministic
    scalar expressions) and the cut is exact integer arithmetic, so
    membership is bit-reproducible — the oracle proves the SAMPLE SET,
    not just its size. Map-only; the predicate pushes into the scan."""
    from ..functions.text import quality_score

    d = _t(spark, sf_dir, "documents")
    q = quality_score(F.col("text"))
    # q appears in both the predicate and the projection; Catalyst inlines
    # it into each (CollapseProject), so the regexp trio evaluates twice
    # per row here. At corpus scale the score is computed ONCE at ingest
    # as a stored column — this entry recomputes inline only because the
    # driver tables are read-only fixtures.
    return (
        d.where(
            hash_bucket(F.col("doc_id"))
            < F.floor(q * F.lit(10000.0)).cast("long")
        )
        .select("doc_id", F.round(q, 4).alias("quality"))
    )


@query(
    "pps_systematic_sample",
    r"""
    WITH t AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\s+')) AS w
      FROM documents
      WHERE length(trim(text)) > 0),
    c AS (
      SELECT doc_id, w,
             SUM(w) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM t),
    tot AS (SELECT MAX(cum) AS wtot FROM c),
    pts AS (SELECT ((2 * g.j + 1) * tot.wtot) // 20 AS p
            FROM generate_series(0, 9) AS g(j), tot)
    SELECT c.doc_id AS doc_id, CAST(c.w AS BIGINT) AS w,
           COUNT(*) AS n_picks
    FROM c, pts
    WHERE pts.p >= c.cum - c.w AND pts.p < c.cum
    GROUP BY 1, 2
    """,
)
def pps_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic SYSTEMATIC PPS SAMPLING (probability proportional to
    size): lay the corpus out on the cumulative token-weight axis in
    doc_id order and pick the k=10 midpoint positions p_j =
    ⌊(2j+1)·W/2k⌋ — each document is hit with probability w/W per draw,
    heavy documents can be hit multiple times (n_picks ≥ 2 ⇔ w > W/k),
    and the ENTIRE selection is exact int64 arithmetic: no RNG (stable
    across engines, partitionings, and task retries) and none of the
    libm pow/ln the A-ES u^(1/w) reservoir key needs, whose
    data-dependent last-ulp ties are exactly the cross-engine divergence
    class this catalog's conventions forbid. The oracle proves the
    SAMPLE MULTISET, not just its size.

    Plan shape: the global cumulative sum is the test-scale form (one
    unpartitioned window — same documented swap as
    quality_curriculum_buckets); at 100 TB the offsets come from the
    classic two-phase split: range-partition by doc_id, one tiny
    per-partition SUM(w) aggregate, prefix-sum the P partials on the
    driver, broadcast-join the offsets back — partials ≪ data, so the
    cumsum costs one range exchange plus a P-row broadcast. The k pick
    positions are a 10-row broadcast nested-loop probe either way."""
    from ..functions.text import token_count

    d = _t(spark, sf_dir, "documents")
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    # Empty/whitespace-only text guard, identical on both sides: Spark's
    # token_count yields 0 there while DuckDB's regexp_split yields ['']
    # (w=1), and on a GLOBAL cumulative axis one such doc would shift W
    # and every pick position. Filter on trimmed length, which both
    # engines evaluate identically.
    c = (
        d.where(F.length(F.trim(F.col("text"))) > 0)
        .select("doc_id", token_count("text").cast("long").alias("w"))
        .withColumn("cum", F.sum("w").over(w))
    )
    tot = c.agg(F.max("cum").alias("wtot"))
    pts = (
        spark.range(10)
        .withColumnRenamed("id", "j")
        .crossJoin(F.broadcast(tot))
        .select(F.expr("((2 * j + 1) * wtot) DIV 20").alias("p"))
    )
    return (
        c.join(
            F.broadcast(pts),
            (F.col("p") >= F.col("cum") - F.col("w")) & (F.col("p") < F.col("cum")),
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("n_picks"))
    )


@query(
    "bpe_pair_counts",
    r"""
    WITH w AS (
      SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
      FROM documents),
    p AS (
      SELECT substring(w, i, 2) AS pair
      FROM (SELECT w, unnest(range(1, length(w))) AS i
            FROM w WHERE length(w) >= 2))
    SELECT pair, COUNT(*) AS cnt
    FROM p GROUP BY pair
    ORDER BY cnt DESC, pair
    LIMIT 20
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE tokenizer-training merge step: count adjacent symbol pairs
    inside words across the corpus and surface the top candidates — the
    exact statistic the first iteration of byte-pair encoding merges on
    (subsequent iterations re-run this after replacing the winning pair).

    Scale shape: pure map-side fan-out (split → explode pairs) into one
    map-combined count aggregate and a 20-row TakeOrderedAndProject —
    the same shape at 100 TB, no skew (pair cardinality is small and the
    partial aggregation absorbs hot pairs)."""
    d = _t(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w")
    ).where(F.length("w") >= 2)
    # sequence(1, len-1) must be guarded: Spark generates DESCENDING
    # sequences when start > stop (a 1-char word would yield [1, 0])
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# BPE merge APPLICATION — the tokenizer's iterative encode loop
# ---------------------------------------------------------------------------

# The FIXED ranked merge table (the trained-tokenizer artifact an encode
# pass consumes; training it is `bpe_pair_counts`). Constraint that makes
# the semantics SQL-expressible: no merge has x == y, so occurrences of
# (x, y) in a token sequence can never overlap (an overlap at i, i+1
# needs seq[i+1] = y = x), hence "merge ALL adjacent occurrences
# simultaneously" is well-defined, positional, and equal to canonical
# greedy left-to-right — and one pass per rank suffices (merging (x, y)
# into z removes every x and y involved; neighbors become adjacent to z,
# never to each other, so the pair cannot re-form within its own rank).
# Ranks cascade deliberately: (s,c)+(a,n) feed (sc,an) -> "scan",
# (r,o) feeds (ro,w) -> "row", (k,e) feeds (ke,y) -> "key", and rank
# order is semantic — (t,a) consumes the 'a' in "data" before (a,t)
# ever could.
_BPE_MERGES: list[tuple[str, str]] = [
    ("a", "n"), ("s", "c"), ("sc", "an"), ("t", "a"),
    ("r", "o"), ("ro", "w"), ("j", "o"), ("i", "n"),
    ("e", "r"), ("k", "e"), ("ke", "y"), ("s", "t"),
    # tail ranks over the property-harness alphabet ('a', 'b', 'ab',
    # 'aa' word soup): ('a','b') makes the merged token COLLIDE with
    # the standalone word 'ab' in the final aggregate (they must pool),
    # and ('b','a') only ever sees what rank 13 left behind
    ("a", "b"), ("b", "a"),
]


def _bpe_merge_col(seq, x: str, y: str):
    """One ranked BPE merge over an array<string> column, applied
    simultaneously (see `_BPE_MERGES` for why that equals greedy
    left-to-right). Index guards use greatest/least so every element_at
    index is in [1, n] even when the controlling conjunct is false —
    no reliance on AND short-circuiting, no try_element_at NULL logic;
    DuckDB mirrors the identical form. The input sequence is let-bound
    (hashes._let) so the chained ranks never re-inline upstream ranks
    into their multiple references (the CollapseProject blowup,
    CLAUDE.md)."""
    from ..functions.hashes import _let

    xl, yl, zl = F.lit(x), F.lit(y), F.lit(x + y)

    def rewrite(p):
        def keep(i):
            return ~(
                (i > F.lit(1))
                & (F.element_at(p, F.greatest(i - 1, F.lit(1))) == xl)
                & (F.element_at(p, i) == yl)
            )

        def emit(i):
            return F.when(
                (F.element_at(p, i) == xl)
                & (i < F.size(p))
                & (F.element_at(p, F.least(i + 1, F.size(p))) == yl),
                zl,
            ).otherwise(F.element_at(p, i))

        return F.transform(
            F.filter(F.sequence(F.lit(1), F.size(p)), keep), emit
        )

    return _let(seq, rewrite)


def _bpe_encode_sql() -> str:
    """The oracle: one chained CTE per merge rank, each the same
    positional rewrite the engine runs (generated from the same
    `_BPE_MERGES` literals, so engine and oracle consume one table)."""
    ctes = [
        r"""w AS (
      SELECT w, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
            FROM documents)
      WHERE length(w) >= 1 GROUP BY w)""",
        "s0 AS (SELECT w, cnt, string_split(w, '') AS q0 FROM w)",
    ]
    for k, (x, y) in enumerate(_BPE_MERGES, 1):
        q, z = f"q{k - 1}", x + y
        ctes.append(
            f"""s{k} AS (SELECT w, cnt, list_transform(
      list_filter(generate_series(1, len({q})),
        i -> NOT (i > 1 AND {q}[greatest(i-1, 1)] = '{x}'
                  AND {q}[i] = '{y}')),
      i -> CASE WHEN {q}[i] = '{x}' AND i < len({q})
                 AND {q}[least(i+1, len({q}))] = '{y}'
            THEN '{z}' ELSE {q}[i] END) AS q{k}
  FROM s{k - 1})"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT token, CAST(SUM(cnt) AS BIGINT) AS occurrences,
           CAST(COUNT(DISTINCT w) AS BIGINT) AS n_words
    FROM (SELECT w, cnt, unnest(q{len(_BPE_MERGES)}) AS token
          FROM s{len(_BPE_MERGES)})
    GROUP BY token
    ORDER BY occurrences DESC, token"""
    )


@query("bpe_encode_merges", _bpe_encode_sql())
def bpe_encode_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge APPLICATION — the tokenizer's actual encode loop
    (VERDICT r14 #4): apply a FIXED ranked merge table to every word of
    the corpus, rank by rank, and grade the resulting token
    distribution. `bpe_pair_counts` (green r14) is the training half
    (count candidate pairs); this is the inference half every
    tokenization pass of a training-data pipeline runs — together they
    close the BPE story the task brief's "token counting (BPE-ish)"
    bullet implies.

    Semantics (both engines, identical positional form): for each merge
    (x, y) in rank order, simultaneously replace every adjacent
    occurrence with the concatenation. The merge table forbids x == y,
    which makes occurrences provably non-overlapping — simultaneous
    application IS canonical greedy left-to-right, and one pass per
    rank is exact (the pair cannot re-form within its own rank; see
    `_BPE_MERGES`). Ranks cascade ("s","c" + "a","n" then "sc","an" →
    the whole word "scan" becomes one token), so the loop is genuinely
    iterative, not a single rewrite.

    Engine: tokenize → ONE shuffle to the DISTINCT-word vocabulary with
    corpus counts (the scale move: the merge chain runs per VOCABULARY
    entry, never per corpus token — at 100 TB the vocabulary is
    millions while the corpus is trillions) → fourteen chained
    JVM-side HOF rewrites (transform/filter over the token array; each
    rank's input is let-bound via hashes._let so CollapseProject cannot
    re-inline the whole upstream chain into the 5 references each rank
    makes — the measured 25× MinHash lesson, CLAUDE.md) → explode final
    tokens → map-combined weighted aggregate. The merge table itself is
    plan literals: the trained-tokenizer artifact is broadcast-sized by
    nature. No Python anywhere.

    Oracle: the same merge table unrolled into one chained CTE per rank
    (generated from the SAME `_BPE_MERGES` literals), each CTE the
    identical greatest/least-guarded positional rewrite in DuckDB list
    lambdas — engine and oracle share the spec but not the execution
    path. Exact integer outputs; no rounding anywhere."""
    from ..session import spread

    # Parallelism (r15 optimization, guide §2.5): the single-file corpus
    # scans as ONE partition, serializing the tokenize/explode map side;
    # and the vocabulary aggregate's output is MB-scale, so AQE's
    # byte-based coalescing handed the ENTIRE 14-rank HOF chain to one
    # core. The spread is a no-op at scale; the pinned repartition
    # shuffles only VOCABULARY-sized rows (never the corpus) and keeps
    # the per-word merge chain — the entry's real compute — parallel.
    d = spread(_t(spark, sf_dir, "documents"))
    n_part = spark.sparkContext.defaultParallelism * 2
    words = (
        d.select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w")
        )
        .where(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .repartition(n_part, "w")
    )
    seq = F.split(F.col("w"), "")
    for x, y in _BPE_MERGES:
        seq = _bpe_merge_col(seq, x, y)
    return (
        words.select("w", "cnt", F.explode(seq).alias("token"))
        .groupBy("token")
        .agg(
            F.sum("cnt").alias("occurrences"),
            F.countDistinct("w").alias("n_words"),
        )
        .orderBy(F.col("occurrences").desc(), F.col("token").asc())
    )


@query(
    "char_entropy_quality",
    """
    WITH c AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch
      FROM documents),
    k AS (
      SELECT doc_id, ch, COUNT(*) AS n_c
      FROM c GROUP BY doc_id, ch),
    e AS (
      SELECT doc_id, SUM(n_c) AS n_chars,
             log2(CAST(SUM(n_c) AS DOUBLE))
               - SUM(n_c * log2(CAST(n_c AS DOUBLE))) / SUM(n_c) AS h
      FROM k GROUP BY doc_id)
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           ROUND(h, 4) + 0.0 AS entropy
    FROM e
    """,
)
def char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document — the cheap
    repetitiveness/quality signal (near-zero entropy = degenerate repeated
    text; natural prose sits ~4-4.5 bits/char) a corpus filter thresholds
    on before any model-based scoring.

    Computed as H = log2(n) − Σ n_c·log2(n_c)/n over per-(doc, char)
    counts: two map-combined aggregations, no window, no Python. The
    identical algebraic form runs on both engines so the libm log2 calls
    see the same arguments (integers), keeping the rounded hash stable."""
    d = _t(spark, sf_dir, "documents")
    counts = (
        d.select("doc_id", F.explode(F.split(F.col("text"), "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("n_c"))
    )
    n = F.sum("n_c")
    return (
        counts.groupBy("doc_id")
        .agg(
            n.cast("long").alias("n_chars"),
            (
                F.log2(n.cast("double"))
                - F.sum(F.col("n_c") * F.log2(F.col("n_c").cast("double"))) / n
            ).alias("__h"),
        )
        .select("doc_id", "n_chars", rnd_nz("__h", 4).alias("entropy"))
    )


@query(
    "bigram_lm_cross_entropy",
    """
    WITH t AS (
      SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
    b AS (
      SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM t)),
    c1 AS (SELECT w1, COUNT(*) AS n1 FROM b GROUP BY w1),
    c12 AS (SELECT w1, w2, COUNT(*) AS n12 FROM b GROUP BY w1, w2),
    s AS (
      SELECT b.doc_id,
             log2(CAST(c12.n12 AS DOUBLE) / c1.n1) AS lp
      FROM b JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
             JOIN c1 ON b.w1 = c1.w1)
    SELECT doc_id, COUNT(*) AS n_bigrams,
           ROUND(-AVG(lp), 4) + 0.0 AS cross_entropy
    FROM s GROUP BY doc_id
    """,
)
def bigram_lm_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality scoring (the CCNet-style filter): train a
    bigram LM on the corpus itself (MLE: P(w2|w1) = c(w1,w2)/c(w1)) and
    score every document by its per-bigram cross-entropy under that model.
    Low = repetitive/templated text, high = unusual token transitions —
    the standard model-based axis next to the heuristic quality_score.

    Scale shape: bigram formation is a map-only fan-out; the two count
    tables shuffle on token keys with map-side combine (Zipf skew is
    absorbed by partial aggregation — the hot 'the' key pre-aggregates
    per partition); scoring joins the exploded bigrams against the count
    tables on the same token keys; the per-doc reduce is one combined
    agg. At 100 TB the count tables are computed once and reused across
    scoring runs (write once, broadcast if the vocab head is truncated).
    DuckDB's 1-based list indexing pairs ws[i], ws[i+1] over i ∈
    [1, len-1], matching Spark's slice-zip bigram formation."""
    from ..session import spread

    d = _t(spark, sf_dir, "documents")
    toks = spread(d).select(
        "doc_id", F.split(F.trim(F.col("text")), " ").alias("ws")
    )
    bi = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("ws"), 1, F.greatest(F.size("ws") - 1, F.lit(0))),
                F.expr("slice(ws, 2, greatest(size(ws) - 1, 0))"),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    # localCheckpoint (r15, guide §3.3): c1, c12 AND the scoring join all
    # re-derived the scan+tokenize+explode subtree — three documents scans
    # in the plan; compute the exploded bigrams once (3 narrow columns).
    bi = bi.localCheckpoint(eager=False)
    c1 = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("n1"))
    c12 = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    scored = (
        bi.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .select(
            "doc_id",
            F.log2(F.col("n12").cast("double") / F.col("n1")).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        rnd_nz(-F.avg("lp"), 4).alias("cross_entropy"),
    )


@query(
    "length_bucket_padding",
    """
    WITH t AS (
      SELECT doc_id,
             LEAST(len(regexp_split_to_array(trim(text), '\\s+')), 512) AS toks
      FROM documents),
    b AS (
      SELECT doc_id, toks,
             CASE WHEN toks <= 16 THEN 16
                  WHEN toks <= 32 THEN 32
                  WHEN toks <= 64 THEN 64
                  WHEN toks <= 128 THEN 128
                  WHEN toks <= 256 THEN 256
                  ELSE 512 END AS bucket_cap
      FROM t)
    SELECT CAST(bucket_cap AS BIGINT) AS bucket_cap,
           COUNT(*) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS sum_tokens,
           CAST(COUNT(*) * bucket_cap AS BIGINT) AS padded_tokens,
           FLOOR((1.0 - SUM(toks)::DOUBLE / (COUNT(*) * bucket_cap))
                 * 10000.0 + 0.5) / 10000.0 AS waste_ratio
    FROM b
    GROUP BY bucket_cap
    """,
)
def length_bucket_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LENGTH-BUCKETED BATCHING efficiency — the padding-waste audit every
    training pipeline runs before choosing bucket boundaries: documents
    are assigned to power-of-two token buckets (16..512, overflow
    truncated to 512) and each bucket reports how many pad tokens a
    fixed-length batch layout would burn (waste = 1 − real/padded).
    Bucket caps are a comparison CASE chain, NOT ceil(log2(·)) — libm
    log2 at exact powers of two is precisely where a one-ulp cross-engine
    wobble would flip a bucket, and integer comparisons can't wobble.
    Map-side: tokenize → bucket → one map-combined aggregate on a 6-value
    key; at 100 TB this is a single scan with a 6-group reduce, and the
    waste table IS the input to the bucket-boundary optimization."""
    from ..functions.text import token_count

    d = _t(spark, sf_dir, "documents")
    t = d.select(F.least(token_count("text"), F.lit(512)).alias("toks"))
    cap = (
        F.when(F.col("toks") <= 16, 16)
        .when(F.col("toks") <= 32, 32)
        .when(F.col("toks") <= 64, 64)
        .when(F.col("toks") <= 128, 128)
        .when(F.col("toks") <= 256, 256)
        .otherwise(512)
        .cast("long")
        .alias("bucket_cap")
    )
    return (
        t.select("toks", cap)
        .groupBy("bucket_cap")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("toks").cast("long").alias("sum_tokens"),
        )
        .select(
            "bucket_cap",
            F.col("__n").alias("n_docs"),
            "sum_tokens",
            (F.col("__n") * F.col("bucket_cap")).cast("long").alias("padded_tokens"),
            (
                F.floor(
                    (
                        F.lit(1.0)
                        - F.col("sum_tokens").cast("double")
                        / (F.col("__n") * F.col("bucket_cap")).cast("double")
                    )
                    * 10000.0
                    + F.lit(0.5)
                )
                / 10000.0
            ).alias("waste_ratio"),
        )
    )


@query(
    "epoch_shuffle_shards",
    """
    WITH t AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\\s+')) AS toks,
             (48271 * doc_id + 12345) % 1000003 AS rank
      FROM documents)
    SELECT CAST(rank % 64 AS BIGINT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS sum_tokens,
           CAST(MIN(rank) AS BIGINT) AS min_rank,
           CAST(arg_min(doc_id, rank) AS BIGINT) AS first_doc
    FROM t
    GROUP BY 1
    """,
)
def epoch_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic EPOCH SHUFFLE — reproducible corpus reshuffling
    without a random sort: rank = (48271·doc_id + 12345) mod 1000003 is
    an injective LCG step over the id space (a < 2¹⁶, id < 2⁴⁷ ⇒ product
    < 2⁶³, ANSI-safe), the shard is rank mod 64, and WITHIN a shard the
    rank orders the epoch's read sequence (witnessed by min_rank +
    first_doc = the arg-min doc). At 100 TB this is the whole design
    point: a seeded-RNG shuffle is irreproducible across engines and
    retries, while the hash permutation gives every executor its shard
    membership AND its intra-shard order from arithmetic alone — one
    map-combined 64-group aggregate here; the production form writes
    shard-partitioned files sorted by rank (the same two columns). A new
    epoch is a new (a, b) pair. arg-min ties cannot occur: the rank map
    is injective below 1000003 and doc_id < 1000003 here (guarded
    IN-PLAN: the rank expression evaluates only after an assert_true on
    the id bound, so the whole entry is one job — no separate driver-side
    max(doc_id) scan)."""
    from ..functions.text import token_count

    d = _t(spark, sf_dir, "documents")
    # injectivity of doc_id -> rank needs doc_id < modulus; the corpus
    # ships ids ≤ 5e3 — fail loudly per-row if that ever changes.
    # assert_true returns NULL on success, so the WHEN wrapper threads the
    # guard through the rank computation and Catalyst cannot prune it.
    guarded_id = F.when(
        F.assert_true(
            F.col("doc_id") < F.lit(1_000_003),
            F.lit("doc_id >= LCG modulus 1000003; pick a larger prime"),
        ).isNull(),
        F.col("doc_id"),
    )
    t = d.select(
        "doc_id",
        token_count("text").alias("toks"),
        ((F.lit(48271) * guarded_id + F.lit(12345)) % 1_000_003).alias("rank"),
    )
    return (
        t.groupBy((F.col("rank") % 64).cast("long").alias("shard_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").cast("long").alias("sum_tokens"),
            F.min("rank").cast("long").alias("min_rank"),
            F.min_by("doc_id", "rank").cast("long").alias("first_doc"),
        )
    )


@query(
    "quota_stratified_split",
    """
    WITH s AS (
      SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY 1),
    q AS (
      SELECT o_orderpriority, n,
             (4 * n) // 5 AS fl, (4 * n) % 5 AS rem
      FROM s),
    tot AS (
      SELECT (4 * SUM(n)) // 5 AS target, SUM(fl) AS base FROM q),
    r AS (
      SELECT q.*, tot.target - tot.base AS extra,
             ROW_NUMBER() OVER (ORDER BY rem DESC, o_orderpriority) AS rk
      FROM q, tot)
    SELECT o_orderpriority, CAST(n AS BIGINT) AS n_rows,
           CAST(fl + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS BIGINT)
             AS train_quota
    FROM r
    """,
)
def quota_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED train-split quota by LARGEST-REMAINDER apportionment:
    allocate an exact-4/5 train fraction per stratum so the per-stratum
    quotas sum EXACTLY to the global 4/5 target — floor(4·n_i/5) each,
    then the deficit (0..4 rows) goes to the strata with the largest
    remainders (tie-broken on the stratum key). Hash-split entries
    (psi_split_drift) give each row an independent 4/5 coin, so realized
    stratum fractions wobble ±O(√n); quota apportionment is what a
    training pipeline uses when the split proportions are a CONTRACT
    (eval sets, compliance holdouts). Choosing f = 4/5 makes every
    quantity integer: floors are (4n) DIV 5, remainders (4n) mod 5 —
    no rounding of any kind, so the oracle proves the exact allocation.

    Plan: one map-combined count per stratum (5 groups), a 5-row window
    for the remainder ranking, scalar target broadcast — everything
    after the first aggregate is constant-size regardless of corpus
    scale; the materialized split itself is then a deterministic
    per-stratum rank filter (rank ≤ quota on any stable row order),
    which stays a single window pass at 100 TB."""
    o = _t(spark, sf_dir, "orders")
    s = o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
    q = s.select(
        "o_orderpriority",
        "n",
        F.expr("(4 * n) DIV 5").alias("fl"),
        ((F.lit(4) * F.col("n")) % 5).alias("rem"),
    )
    tot = q.agg(
        F.expr("(4 * SUM(n)) DIV 5").alias("target"),
        F.sum("fl").alias("base"),
    )
    rk = F.row_number().over(Window.orderBy(F.desc("rem"), "o_orderpriority"))
    return (
        q.crossJoin(F.broadcast(tot))
        .withColumn("rk", rk)
        .select(
            "o_orderpriority",
            F.col("n").cast("long").alias("n_rows"),
            (
                F.col("fl")
                + F.when(
                    F.col("rk") <= F.col("target") - F.col("base"), F.lit(1)
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("train_quota"),
        )
    )


@query(
    "nucleus_vocab_coverage",
    """
    WITH t AS (SELECT string_split_regex(trim(lower(text)), '\\s+') AS w
               FROM documents WHERE trim(text) <> ''),
    u AS (SELECT unnest(w) AS token FROM t),
    c AS (SELECT token, COUNT(*) AS cnt FROM u GROUP BY token),
    g AS (SELECT SUM(cnt) AS total FROM c),
    r AS (SELECT token, cnt,
                 ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rank,
                 SUM(cnt) OVER (ORDER BY cnt DESC, token
                                ROWS UNBOUNDED PRECEDING) AS cum
          FROM c)
    SELECT rank, token, cnt, CAST(cum AS BIGINT) AS cum_cnt
    FROM r, g
    WHERE 10 * (cum - cnt) < 9 * total
    """,
)
def nucleus_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p (nucleus) VOCABULARY selection — the minimal
    frequency-ranked token prefix covering ≥ 90% of corpus token mass
    (the vocabulary-truncation / nucleus-cutoff op an LLM data pipeline
    runs before building token tables; the distribution-head dual of
    `oov_rate_top_vocab`'s fixed-size vocabulary). A token is kept iff
    the mass BEFORE it is still under the cutoff — exactly the minimal
    covering prefix — decided in pure integers on both engines:
    10·(cum − cnt) < 9·total (no 0.9·total float, no rounding class).
    Ties inside a count level are ordered by token text, so the
    boundary token is deterministic.

    Scale shape: one map-combined token count, then a rank/cumsum over
    the VOCABULARY (≪ corpus; the global window at test scale — the
    two-phase per-partition-offset swap documented at
    `pps_systematic_sample` applies verbatim when the vocabulary
    itself outgrows one task), and total joins in as a scalar
    broadcast. Output is the kept vocabulary with ranks and running
    coverage."""
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.where(F.trim(F.col("text")) != "")
        .select(F.explode(tokens(F.lower(F.col("text")))).alias("token"))
    )
    c = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    r = c.select(
        "token",
        "cnt",
        F.row_number().over(w).alias("rank"),
        F.sum("cnt")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_cnt"),
    )
    total = F.broadcast(
        c.agg(F.sum("cnt").alias("__total"))
    )
    return (
        r.crossJoin(total)
        .where(10 * (F.col("cum_cnt") - F.col("cnt")) < 9 * F.col("__total"))
        .select("rank", "token", "cnt", "cum_cnt")
    )
