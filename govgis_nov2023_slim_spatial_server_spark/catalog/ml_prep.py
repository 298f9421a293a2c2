"""Corpus-preparation wave (r5 continuation): PMI co-occurrence scoring,
word2phrase-style merge application, a PCA power-iteration step over the
embedding table, and n-gram containment dedup (the asymmetric twin of
Jaccard that catches a short document embedded inside a longer one).

The reference serves search over a finished corpus and prepares nothing
(SURVEY.md §2.3); these extend the LLM-training-data surface the task spec
grades as first-class. Tokenization matches the catalog convention
everywhere: split(trim(text), '\\s+') in Spark ≡ DuckDB
regexp_split_to_array, and shingles reuse functions.hashes.word_shingles ≡
the shared _SHINGLE_SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashes import word_shingle_hashes
from ..operators.windows import floor_round
from ..schemas import load_table
from ..session import checkpoint, local_rows_df, spread
from ._registry import fmt_vec_sql, query, rnd_nz
from .vector_text import _SHINGLE_SQL, seed_centroids


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _tokens_pos(d: DataFrame) -> DataFrame:
    """(doc_id, pos, w) token stream; pos only orders within a doc (Spark
    0-based vs DuckDB 1-based never leaves the window ORDER BY)."""
    return d.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias("pos", "w"),
    )


# --------------------------------------------------------------------------
# PMI co-occurrence (window ≤ 2)
# --------------------------------------------------------------------------

_TOK_SQL = """
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS w,
             generate_subscripts(regexp_split_to_array(trim(text), '\\s+'), 1) AS pos
      FROM documents
"""


@query(
    "cooccurrence_pmi_topk",
    f"""
    WITH tok AS ({_TOK_SQL}),
    nb AS (
      SELECT w, LEAD(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS n1,
             LEAD(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS n2
      FROM tok),
    pr AS (
      SELECT w AS a, n1 AS b FROM nb WHERE n1 IS NOT NULL
      UNION ALL
      SELECT w AS a, n2 AS b FROM nb WHERE n2 IS NOT NULL),
    pc AS (SELECT a, b, COUNT(*) AS pair_cnt FROM pr GROUP BY a, b),
    ug AS (SELECT w, COUNT(*) AS c_w FROM tok GROUP BY w),
    tt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM tok),
    pp AS (SELECT CAST(SUM(pair_cnt) AS DOUBLE) AS p FROM pc)
    SELECT pc.a, pc.b, pc.pair_cnt,
           ROUND(ln(((CAST(pc.pair_cnt AS DOUBLE) * tt.t) * tt.t)
                    / ((pp.p * CAST(ua.c_w AS DOUBLE)) * CAST(ub.c_w AS DOUBLE))), 4)
             + 0.0 AS pmi
    FROM pc
    JOIN ug ua ON pc.a = ua.w
    JOIN ug ub ON pc.b = ub.w
    CROSS JOIN tt CROSS JOIN pp
    WHERE pc.pair_cnt >= 10
    ORDER BY pc.pair_cnt DESC, pc.a, pc.b
    LIMIT 100
    """,
)
def cooccurrence_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of token pairs co-occurring within a
    forward window of 2 — the association statistic word2vec-era embedding
    pipelines and collocation/phrase miners are built on (PMI-weighted
    co-occurrence matrices are what SVD/GloVe factorize).

    Pairs come from two LEADs over one doc-partitioned window (no
    self-join on position — the window is a single user-of-the-same
    exchange, where a position-range join would shuffle the token table
    twice). Marginals are corpus unigram frequencies; pmi =
    ln(c_ab·T² / (P·c_a·c_b)) with the identical cast/parenthesization on
    both engines so the libm ln sees a bit-identical argument (products
    stay double; both engines round the same way past 2^53). Vocabulary
    counts are broadcast-joined onto pair counts — at 100 TB the unigram
    table is MB-scale while the token stream is the corpus; ordering for
    the LIMIT is on exact integers with a lexical tie-break."""
    d = _t(spark, sf_dir, "documents")
    toks = _tokens_pos(spread(d))
    wd = Window.partitionBy("doc_id").orderBy("pos")
    nb = toks.select(
        "w",
        F.lead("w", 1).over(wd).alias("n1"),
        F.lead("w", 2).over(wd).alias("n2"),
    )
    pairs = nb.select(
        F.col("w").alias("a"), F.explode(F.array("n1", "n2")).alias("b")
    ).where(F.col("b").isNotNull())
    pc = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("pair_cnt"))
    ug = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
    tt = toks.agg(F.count(F.lit(1)).cast("double").alias("t"))
    pp = pc.agg(F.sum("pair_cnt").cast("double").alias("p"))
    ua = ug.select(F.col("w").alias("a"), F.col("c_w").alias("c_a"))
    ub = ug.select(F.col("w").alias("b"), F.col("c_w").alias("c_b"))
    joined = (
        pc.join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(pp))
    )
    num = (F.col("pair_cnt").cast("double") * F.col("t")) * F.col("t")
    den = (F.col("p") * F.col("c_a").cast("double")) * F.col("c_b").cast("double")
    return (
        joined.where(F.col("pair_cnt") >= 10)
        .select(
            "a",
            "b",
            "pair_cnt",
            rnd_nz(F.log(num / den), 4).alias("pmi"),
        )
        .orderBy(F.col("pair_cnt").desc(), "a", "b")
        .limit(100)
    )


# --------------------------------------------------------------------------
# word2phrase merge application
# --------------------------------------------------------------------------


@query(
    "phrase_merge_apply",
    f"""
    WITH tok AS ({_TOK_SQL}),
    bg AS (
      SELECT w AS a, LEAD(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS b
      FROM tok),
    top1 AS (
      SELECT a, b FROM bg WHERE b IS NOT NULL GROUP BY a, b
      ORDER BY COUNT(*) DESC, a, b LIMIT 1)
    SELECT d.doc_id,
           CAST(len(regexp_split_to_array(trim(d.text), '\\s+')) AS BIGINT)
             AS n_tokens_before,
           CAST(len(regexp_split_to_array(trim(replace(
                 replace(' ' || replace(d.text, ' ', '  ') || ' ',
                         ' ' || t.a || '  ' || t.b || ' ',
                         ' ' || t.a || '_' || t.b || ' '),
                 '  ', ' ')), '\\s+')) AS BIGINT) AS n_tokens_after,
           t.a || '_' || t.b AS merged_pair
    FROM documents d CROSS JOIN top1 t
    """,
)
def phrase_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One word2phrase/BPE merge APPLICATION step: find the corpus's most
    frequent adjacent token pair and rewrite every document joining it
    into a single token — the rewrite half of tokenizer training
    (`bpe_pair_counts` grades the counting half; iterating the two is the
    full training loop).

    Greedy non-overlapping replacement is made engine-identical by the
    space-doubling trick: doubling separators gives every adjacency its
    own boundary characters, so the plain left-to-right `replace` (same
    scan semantics in Spark's UTF8String and DuckDB) IS the greedy
    tokenizer merge — 'a b a b' merges to 'a_b a_b', not 'a_b a b' (the
    single-space form loses the second match to the consumed separator).
    Scale shape: the winning pair is a 1-row broadcast onto a map-only
    corpus rewrite; the pair search is one window + map-combined count."""
    d = _t(spark, sf_dir, "documents")
    toks = _tokens_pos(spread(d))
    wd = Window.partitionBy("doc_id").orderBy("pos")
    bg = toks.select(
        F.col("w").alias("a"), F.lead("w", 1).over(wd).alias("b")
    ).where(F.col("b").isNotNull())
    top1 = (
        bg.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "a", "b")
        .limit(1)
        .select("a", "b")
    )
    doubled = F.concat(
        F.lit(" "), F.replace(F.col("text"), F.lit(" "), F.lit("  ")), F.lit(" ")
    )
    pattern = F.concat(
        F.lit(" "), F.col("a"), F.lit("  "), F.col("b"), F.lit(" ")
    )
    repl = F.concat(F.lit(" "), F.col("a"), F.lit("_"), F.col("b"), F.lit(" "))
    collapsed = F.replace(
        F.replace(doubled, pattern, repl), F.lit("  "), F.lit(" ")
    )
    return d.crossJoin(F.broadcast(top1)).select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("long")
        .alias("n_tokens_before"),
        F.size(F.split(F.trim(collapsed), r"\s+"))
        .cast("long")
        .alias("n_tokens_after"),
        F.concat(F.col("a"), F.lit("_"), F.col("b")).alias("merged_pair"),
    )


# --------------------------------------------------------------------------
# PCA power-iteration step
# --------------------------------------------------------------------------

_V0 = [0.125] * 64  # deterministic unit start vector (1/√64 each)


@query(
    "pca_power_iteration",
    f"""
    WITH w AS (
      SELECT list_dot_product(CAST(embedding AS DOUBLE[]), {fmt_vec_sql(_V0)}) AS w,
             CAST(embedding AS DOUBLE[]) AS emb
      FROM embeddings),
    t AS (
      SELECT unnest(emb) AS x, generate_subscripts(emb, 1) AS dim, w FROM w),
    c AS (
      SELECT dim, SUM(x * w) AS s FROM t GROUP BY dim),
    n AS (SELECT sqrt(SUM(s * s)) AS nrm FROM c)
    SELECT CAST(c.dim AS BIGINT) AS dim, ROUND(c.s / n.nrm, 4) + 0.0 AS v1
    FROM c CROSS JOIN n
    """,
)
def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One power-iteration step toward the top principal direction of the
    embedding table: v₁ = normalize(Xᵀ(Xv₀)) with a fixed uniform unit
    start vector — the building block of distributed PCA/SVD (iterate to
    convergence; each step is this exact plan) and of embedding-space
    whitening/ABTT post-processing.

    The matrix never materializes: Xv₀ is a per-row sequential dot fold
    (bit-identical to DuckDB's list_dot_product), Xᵀ(·) is
    posexplode + groupBy(dim) SUM(x·w) — 64 groups, fully map-combined,
    no per-vector shuffle — and the normalizer is a broadcast 1-row
    cross join. Per-term products are exact on both engines; only the
    64-way group sums are partition-order dependent (last-ulp, absorbed
    by ROUND 4 with the −0.0 guard since components straddle zero).
    Spark's 0-based posexplode is shifted to DuckDB's 1-based dim."""
    e = _t(spark, sf_dir, "embeddings")
    from ..functions.vector import dot

    scored = spread(e).select(
        dot("embedding", _V0).alias("w"),
        F.posexplode("embedding").alias("pos", "x"),
    )
    comp = scored.groupBy("pos").agg(
        F.sum(F.col("x").cast("double") * F.col("w")).alias("s")
    )
    nrm = comp.agg(F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("nrm"))
    return comp.crossJoin(F.broadcast(nrm)).select(
        (F.col("pos") + 1).cast("long").alias("dim"),
        rnd_nz(F.col("s") / F.col("nrm"), 4).alias("v1"),
    )


# --------------------------------------------------------------------------
# n-gram containment (asymmetric near-dup)
# --------------------------------------------------------------------------


@query(
    "ngram_containment_topk",
    f"""
    WITH sh AS ({_SHINGLE_SQL})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS shared,
           FLOOR(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / least(len(a.s), len(b.s)) * 10000.0 + 0.5) / 10000.0
             AS containment
    FROM sh a, sh b
    WHERE a.doc_id < b.doc_id AND len(list_intersect(a.s, b.s)) > 0
    ORDER BY CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / least(len(a.s), len(b.s)) DESC, a.doc_id, b.doc_id
    LIMIT 50
    """,
)
def ngram_containment_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top pairs by 3-gram CONTAINMENT c(A,B) = |S∩| / min(|S_A|,|S_B|) —
    Broder's asymmetric companion to Jaccard. A 200-token excerpt pasted
    into a 20k-token page has tiny Jaccard (union is huge) but containment
    ≈ 1; corpus dedup needs both measures or it ships the duplication.

    Unlike the Jaccard entry's broadcast-probe crossJoin, this runs the
    INVERTED-INDEX formulation over all pairs: explode distinct shingles,
    self-equi-join on the shingle, count shared per pair — candidate pairs
    are exactly those sharing ≥1 shingle, never the full cross product.
    Set sizes ride along the explode so no extra join recovers them. At
    100 TB the same plan holds with one lever: drop shingles above a
    document-frequency cap before the join (stop-shingle pruning bounds
    fan-out; the banded-MinHash entry is the sub-linear alternative).
    The ordering key is an exact int/int division (bit-identical), and
    the emitted value uses floor-rounding — k/2ᵃ ratios land on exact
    decimal ties where the engines' ROUNDs disagree."""
    d = _t(spark, sf_dir, "documents")
    # join on the shingle's 8-byte hash, not the ~25-byte string: the
    # Exchange carries a third of the bytes and the SMJ compares longs
    # (same keying convention as chunk_dedup_summary; a cross-shingle
    # collision would need ~2³² distinct shingles to become likely).
    # r16: hashes come from word_shingle_hashes (token-hash mixing — no
    # per-shingle string allocation; membership-identical, see its
    # docstring; 1.79 → 1.53 s med on this entry).
    sh = spread(d).select(
        "doc_id", word_shingle_hashes("text", 3).alias("s")
    )
    ex = sh.select(
        "doc_id", F.size("s").alias("sz"), F.explode("s").alias("sh")
    )
    # localCheckpoint (r15 optimization): both self-join branches
    # otherwise re-derive the scan+shingle+hash pass independently —
    # one barrier halves the map-side work; fresh per invocation.
    ex = ex.localCheckpoint(eager=False)
    a = ex.select(
        F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"), "sh"
    )
    b = ex.select(
        F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"), "sh"
    )
    pairs = (
        a.join(b, "sh")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    cont = F.col("shared").cast("double") / F.least("sz_a", "sz_b")
    return (
        pairs.orderBy(cont.desc(), "id_a", "id_b")
        .limit(50)
        .select(
            "id_a",
            "id_b",
            F.col("shared").cast("long").alias("shared"),
            floor_round(cont, 4).alias("containment"),
        )
    )


# Stop-shingle document-frequency cap: a shingle present in more than this
# many documents is dropped BEFORE any shingle self-join. On natural text a
# stop-shingle ("of the same") appears in nearly every document and the
# equi-join fan-out on it is df² — quadratic in corpus size; capping df
# bounds every shingle's contribution at cap² candidate pairs, which is
# what keeps the inverted-index formulation near-linear at 100 TB. The cap
# is an ABSOLUTE df (the production form: a stop list is a property of the
# language, not of the corpus size).
_SHINGLE_DF_CAP = 50

# DuckDB twin of _capped_shingle_hashes (string shingles; Spark keys by
# xxhash64 — identical membership assuming no 64-bit collisions, the same
# convention ngram_containment_topk documents). Expects a CTE `sh` with
# (doc_id, s list) in scope.
_CAPPED_EX_SQL = f"""
      exx AS (SELECT doc_id, unnest(s) AS shs FROM sh),
      keepsh AS (SELECT shs FROM exx GROUP BY shs
                 HAVING COUNT(*) <= {_SHINGLE_DF_CAP}),
      kept AS (SELECT exx.doc_id, exx.shs FROM exx
               JOIN keepsh ON keepsh.shs = exx.shs)
"""


def _capped_shingle_hashes(d: DataFrame) -> DataFrame:
    """Exploded (doc_id, sh) hashed-shingle pairs with stop-shingles
    (document frequency > _SHINGLE_DF_CAP) removed. Shingles are distinct
    per document (word_shingles dedupes), so COUNT(*) per shingle IS the
    document frequency. Pruning is a broadcast ANTI-join against the HOT
    set (df > cap) — the asymmetry matters: the keep set is corpus-sized
    (≈ every distinct shingle) while the hot set is bounded by language
    statistics (the stop-shingles), so the anti-join stays map-side where
    an inner join against the keep set would shuffle the whole exploded
    table a second time. One aggregate shuffle on `sh` to find the hot
    set; everything else is map-only."""
    # r16: token-hash shingle keys (word_shingle_hashes) — membership-
    # identical to xxhash64-of-string, no per-shingle string allocation.
    ex = d.select(
        "doc_id", F.explode(word_shingle_hashes("text", 3)).alias("sh")
    )
    # localCheckpoint (r15 optimization): the explode+hash subtree feeds
    # the hot-set aggregate AND every downstream reference of the kept
    # frame — without the barrier Catalyst re-derives the whole
    # scan+shingle+hash pass per reference (the capped containment
    # entry's plan showed EIGHT documents scans: hot + sizes + both
    # self-join branches, each with its own hot rebuild). Computed fresh
    # per invocation; the 8-byte-keyed rows are ~MB-scale per 5k docs.
    ex = ex.localCheckpoint(eager=False)
    hot = (
        ex.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > _SHINGLE_DF_CAP)
        .select("sh")
        # lazy checkpoint (r15): the kept frame is referenced up to four
        # times downstream (sizes + both self-join branches) and each
        # reference re-ran this corpus-wide aggregate before its
        # broadcast. The hot set itself is language-statistics-bounded
        # (a handful of rows), so the barrier is ~free while the
        # aggregate it dedups is the kept frame's whole shuffle.
        # (Checkpointing the KEPT frame instead was A/B-rejected:
        # materializing the corpus-sized rows cost more than the
        # map-side anti-joins it saved.)
        .localCheckpoint(eager=False)
    )
    return ex.join(F.broadcast(hot), "sh", "left_anti")


@query(
    "ngram_containment_capped",
    f"""
    WITH sh AS ({_SHINGLE_SQL}),
    {_CAPPED_EX_SQL},
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM kept a JOIN kept b
        ON a.shs = b.shs AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT p.id_a, p.id_b, CAST(p.shared AS BIGINT) AS shared,
           FLOOR(CAST(p.shared AS DOUBLE) / least(sa.sz, sb.sz)
                 * 10000.0 + 0.5) / 10000.0 AS containment
    FROM pairs p
    JOIN sz sa ON sa.doc_id = p.id_a
    JOIN sz sb ON sb.doc_id = p.id_b
    ORDER BY CAST(p.shared AS DOUBLE) / least(sa.sz, sb.sz) DESC,
             p.id_a, p.id_b
    LIMIT 50
    """,
)
def ngram_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ngram_containment_topk` with the 100 TB lever ENGAGED: shingles
    above the stop-shingle document-frequency cap are dropped before the
    self-join (see _SHINGLE_DF_CAP — the fan-out bound that keeps the
    inverted index near-linear on natural text). Containment is computed
    on the CAPPED shingle sets on both engines — numerator and
    denominator see the same universe, so the measure stays a true
    containment of the retained (discriminative) shingles rather than a
    mixed-universe ratio.

    Pair generation, ordering, and floor-rounding follow the uncapped
    entry exactly; set sizes are re-counted after the cap (a doc whose
    shingles are all stop-shingles simply cannot appear in any pair).

    Expected to cost MORE than the uncapped twin at local bench scale
    (the df-aggregate + anti-join exceed what the cap saves on the
    shipped uniform corpus) — that is not a regression to optimize away:
    the cap's regime is hot-shingle corpora, where SCALING.md run 5
    measures uncapped candidate pairs growing 54x/378x at 20x/60x rows
    while capped stays exactly linear."""
    d = _t(spark, sf_dir, "documents")
    kept = _capped_shingle_hashes(spread(d))
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = kept.select(F.col("doc_id").alias("id_a"), "sh")
    b = kept.select(F.col("doc_id").alias("id_b"), "sh")
    pairs = (
        a.join(b, "sh")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b")),
            "id_b",
        )
    )
    cont = F.col("shared").cast("double") / F.least("sz_a", "sz_b")
    return (
        pairs.orderBy(cont.desc(), "id_a", "id_b")
        .limit(50)
        .select(
            "id_a",
            "id_b",
            F.col("shared").cast("long").alias("shared"),
            floor_round(cont, 4).alias("containment"),
        )
    )


def _positional_gram_hashes(base: DataFrame) -> DataFrame:
    """(doc_id, pos, sh): positional 4-gram hashes for the substring-dedup
    family, via token-hash mixing (r16 — the word_shingle_hashes move
    applied positionally): each token is xxhash64'd once, each gram hash
    is one multi-arg xxhash64 over its four token hashes — no slice array
    copy, no concat_ws string allocation, no ~30-byte string re-scan per
    gram. Membership-identical to xxhash64 over the gram string (equal
    gram strings ⟺ equal token sequences ⟺ equal hash inputs) under the
    same ~2^-64 collision convention both consumers already document
    against their string-keyed oracles. ``base`` must carry (doc_id,
    toks) with size(toks) >= 4, so every element_at is in bounds under
    ANSI. pos is 1-based, as before."""
    th = F.transform(F.col("toks"), lambda t: F.xxhash64(t))
    return (
        base.select("doc_id", th.alias("th"))
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("th") - 3),
                    lambda i: F.xxhash64(
                        F.element_at(F.col("th"), i),
                        F.element_at(F.col("th"), i + 1),
                        F.element_at(F.col("th"), i + 2),
                        F.element_at(F.col("th"), i + 3),
                    ),
                )
            ).alias("p0", "sh"),
        )
        .select(
            "doc_id", (F.col("p0") + 1).cast("long").alias("pos"), "sh"
        )
    )


@query(
    "substring_dup_chains",
    rf"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents),
    g AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
               || toks[i+3] AS gram
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 2)) AS i
            FROM t WHERE len(toks) >= 4)),
    keep AS (SELECT gram FROM g GROUP BY gram
             HAVING COUNT(DISTINCT doc_id) <= {_SHINGLE_DF_CAP}),
    kept AS (SELECT g.* FROM g JOIN keep USING (gram)),
    pr AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa,
             a.pos - b.pos AS diag
      FROM kept a JOIN kept b
        ON a.gram = b.gram AND a.doc_id < b.doc_id),
    isl AS (
      SELECT doc_a, doc_b, diag, pa,
             pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag
                                     ORDER BY pa) AS grp
      FROM pr),
    chains AS (
      SELECT doc_a, doc_b, COUNT(*) AS run
      FROM isl GROUP BY doc_a, doc_b, diag, grp)
    SELECT doc_a, doc_b,
           CAST(MAX(run) + 3 AS BIGINT) AS longest_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_chains,
           CAST(SUM(run) AS BIGINT) AS shared_grams
    FROM chains GROUP BY doc_a, doc_b
    ORDER BY longest_tokens DESC, doc_a, doc_b
    LIMIT 50
    """,
)
def substring_dup_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBSTRING-level duplication (the Lee-et-al exact-substring gap the
    set-based dedup family has): set measures (Jaccard, containment,
    MinHash) cannot distinguish a 60-token verbatim PASSAGE shared
    between two documents from 60 scattered shared shingles — substring
    dedup is what catches boilerplate, licence blocks, and copypasta.
    The suffix-array-free distributed formulation: positional 4-grams →
    inverted-index self-join → per-pair DIAGONAL (pos_a − pos_b)
    chaining. A run of K consecutive shared grams on one diagonal IS a
    shared token substring of exactly K+3 tokens, so `longest_tokens` is
    the EXACT longest common token-substring for any match ≥ 4 tokens
    (shorter ones are below the resolution floor by construction — the
    documented n−1 blind spot every n-gram method has).

    All arithmetic is integer: positions, diagonals, the gaps-and-islands
    grp = pos − row_number() trick, run counts — nothing rounds. Spark
    joins on the gram's xxhash64 (8-byte Exchange key, same convention
    as ngram_containment_topk); the oracle joins the gram strings.
    NOTE (r11 advice): both the self-join AND the df cap key on the hash
    with no exact string verification afterwards — unlike
    prefix_filter_jaccard_pairs, which verifies candidates on the real
    shingle arrays. A 64-bit collision would merge two grams' document
    frequencies or fabricate a chain row and silently diverge from the
    string-keyed oracle; at corpus gram cardinalities (≪ 2^32) the
    birthday probability is ~2^-64-scale, which this catalog accepts by
    convention (same contract as ngram_containment_topk). Carrying the
    gram string through the join would buy exactness at the cost of
    shipping ~30-byte strings instead of 8-byte keys through the
    Exchange — the wrong trade for the hot path.

    100 TB shape: the stop-gram df cap (`_SHINGLE_DF_CAP`, COUNT
    DISTINCT docs) bounds every gram's pair fan-out at cap² before the
    self-join — the same lever SCALING run 5 measured on containment —
    and the chain windows partition by (pair, diagonal), so skew is
    bounded by the longest single alignment, not the corpus. Candidate
    pairs are exactly the gram-sharing pairs (inverted index, never
    all-pairs); 50-row TakeOrderedAndProject output."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = (
        spread(d)
        .select("doc_id", toks.alias("toks"))
        .where(F.size("toks") >= 4)
    )
    grams = _positional_gram_hashes(base)
    # localCheckpoint (r15 optimization): the positional-gram subtree
    # feeds the df aggregate and BOTH self-join branches — the barrier
    # computes the scan+posexplode+hash pass once instead of three
    # times; fresh per invocation. Narrowed by row count (r16,
    # session.checkpoint): the 64-task spread width otherwise
    # re-schedules across the three downstream scans.
    grams = checkpoint(grams)
    hot = (
        grams.groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") > _SHINGLE_DF_CAP)
        .select("sh")
    )
    kept = grams.join(F.broadcast(hot), "sh", "left_anti")
    a = kept.select(F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "sh")
    b = kept.select(F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "sh")
    pr = (
        a.join(b, "sh")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pa", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    wi = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    chains = (
        pr.withColumn("grp", F.col("pa") - F.row_number().over(wi))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(F.count(F.lit(1)).alias("run"))
    )
    return (
        chains.groupBy("doc_a", "doc_b")
        .agg(
            (F.max("run") + 3).cast("long").alias("longest_tokens"),
            F.count(F.lit(1)).alias("n_chains"),
            F.sum("run").cast("long").alias("shared_grams"),
        )
        .orderBy(F.desc("longest_tokens"), "doc_a", "doc_b")
        .limit(50)
    )



# --------------------------------------------------------------------------
# Substring dedup ACTION: trim duplicated passages, prove retention
# --------------------------------------------------------------------------


@query(
    "substring_trim_retention",
    rf"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents),
    g AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
               || toks[i+3] AS gram
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 2)) AS i
            FROM t WHERE len(toks) >= 4)),
    keep AS (SELECT gram FROM g GROUP BY gram
             HAVING COUNT(DISTINCT doc_id) <= {_SHINGLE_DF_CAP}),
    kept AS (SELECT g.* FROM g JOIN keep USING (gram)),
    pr AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, b.pos AS pb,
             a.pos - b.pos AS diag
      FROM kept a JOIN kept b
        ON a.gram = b.gram AND a.doc_id < b.doc_id),
    isl AS (
      SELECT doc_a, doc_b, diag, pb,
             pb - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag
                                     ORDER BY pb) AS grp
      FROM pr),
    spans AS (
      SELECT DISTINCT doc_b, s, e FROM (
        SELECT doc_b, MIN(pb) AS s, MIN(pb) + COUNT(*) + 2 AS e
        FROM isl GROUP BY doc_a, doc_b, diag, grp)),
    cov AS (
      SELECT doc_b, s, e,
             MAX(e) OVER (PARTITION BY doc_b ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS pmax
      FROM spans),
    grpd AS (
      SELECT doc_b, s, e,
             SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_b ORDER BY s, e
                     ROWS UNBOUNDED PRECEDING) AS gid
      FROM cov),
    islands AS (
      SELECT doc_b, gid, MAX(e) - MIN(s) + 1 AS covered
      FROM grpd GROUP BY doc_b, gid),
    dup AS (
      SELECT doc_b AS doc_id, CAST(SUM(covered) AS BIGINT) AS dup_tokens
      FROM islands GROUP BY doc_b),
    n AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM t)
    SELECT n.doc_id AS doc_id, n.n_tokens AS n_tokens,
           dup.dup_tokens AS dup_tokens,
           n.n_tokens - dup.dup_tokens AS retained_tokens
    FROM dup JOIN n ON dup.doc_id = n.doc_id
    ORDER BY dup_tokens DESC, doc_id
    LIMIT 30
    """,
)
def substring_trim_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTION step after `substring_dup_chains`' detection — the
    Lee-et-al pipeline drops the duplicated passage from the LATER
    document and keeps the first occurrence. Per document, the trimmed
    region is the INTERVAL UNION over every chain shared with any
    earlier doc_id (chains overlap when a passage matches several
    earlier docs, and distinct diagonals can cover overlapping token
    ranges — summing span lengths would double-trim), computed with the
    running-max island break of `interval_union_seconds` on integer
    token positions. A chain of K consecutive shared grams on one
    diagonal covers tokens [min(pb), min(pb)+K+2] of the later doc —
    the exact shared substring, so retained_tokens is the exact
    post-trim length. All arithmetic is int64; the detection half
    (grams, df cap, diagonal islands) is shared with
    `substring_dup_chains` and inherits its contracts (the n−1 gram
    blind spot; xxhash64 collision-freedom engine-side vs the
    string-keyed oracle — see that entry's docstring).

    100 TB shape: detection is the parent's bounded inverted-index
    self-join; the new work is one DISTINCT over spans and one
    doc-partitioned window — per-doc span counts are bounded by the df
    cap's pair fan-out, so no key can run hot. Output is a 30-row
    TakeOrderedAndProject (top trimmed docs, doc_id tie-break); the
    production form writes the per-doc (s, e) trim list back to the
    corpus instead of ranking it."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = spread(d).select("doc_id", toks.alias("toks"))
    grams = _positional_gram_hashes(base.where(F.size("toks") >= 4))
    hot = (
        grams.groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") > _SHINGLE_DF_CAP)
        .select("sh")
    )
    kept = grams.join(F.broadcast(hot), "sh", "left_anti")
    a = kept.select(F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "sh")
    b = kept.select(F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "sh")
    pr = (
        a.join(b, "sh")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pb", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    wi = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pb")
    spans = (
        pr.withColumn("grp", F.col("pb") - F.row_number().over(wi))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pb").alias("s"),
            (F.min("pb") + F.count(F.lit(1)) + 2).alias("e"),
        )
        .select("doc_b", "s", "e")
        .distinct()
    )
    wprev = (
        Window.partitionBy("doc_b")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    word = (
        Window.partitionBy("doc_b")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grpd = spans.withColumn("pmax", F.max("e").over(wprev)).withColumn(
        "gid",
        F.sum(
            F.when(
                F.col("pmax").isNull() | (F.col("s") > F.col("pmax")), 1
            ).otherwise(0)
        ).over(word),
    )
    dup = (
        grpd.groupBy("doc_b", "gid")
        .agg((F.max("e") - F.min("s") + 1).alias("covered"))
        .groupBy("doc_b")
        .agg(F.sum("covered").cast("long").alias("dup_tokens"))
        .withColumnRenamed("doc_b", "doc_id")
    )
    n = base.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
    return (
        dup.join(n, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "dup_tokens",
            (F.col("n_tokens") - F.col("dup_tokens")).alias("retained_tokens"),
        )
        .orderBy(F.desc("dup_tokens"), "doc_id")
        .limit(30)
    )


# --------------------------------------------------------------------------
# Matryoshka (truncated-dimension) retrieval funnel
# --------------------------------------------------------------------------


def _both_norm_dist_sql(emb_expr: str, probe_sql: str) -> str:
    """Cosine distance with BOTH norms explicit (the truncated probe is
    not unit-norm, unlike the full-dim catalog convention)."""
    return (
        f"1 - list_dot_product({emb_expr}, {probe_sql})"
        f" / (sqrt(list_dot_product({emb_expr}, {emb_expr}))"
        f" * sqrt(list_dot_product({probe_sql}, {probe_sql})))"
    )


def _matryoshka_oracle() -> str:
    from .vector_text import PROBE_SQL, PROBE_VEC

    p16 = fmt_vec_sql(PROBE_VEC[:16])
    d16 = _both_norm_dist_sql("CAST(embedding[1:16] AS DOUBLE[])", p16)
    dfull = _both_norm_dist_sql("CAST(embedding AS DOUBLE[])", PROBE_SQL)
    return f"""
    WITH cand AS (
      SELECT vec_id, label, {d16} AS d16, {dfull} AS d_full
      FROM embeddings
      ORDER BY {d16}, vec_id
      LIMIT 30)
    SELECT vec_id, label, ROUND(cand.d16, 4) + 0.0 AS d16,
           ROUND(cand.d_full, 4) + 0.0 AS d_full
    FROM cand
    ORDER BY cand.d_full, vec_id
    LIMIT 10
    """


@query("matryoshka_rerank_16", _matryoshka_oracle())
def matryoshka_rerank_16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation retrieval funnel: rank on the FIRST 16
    dimensions (4× cheaper scan arithmetic, the MRL property that prefixes
    of the embedding are themselves usable embeddings), keep 30
    candidates, then rerank the survivors with full 64-dim cosine — the
    coarse-to-fine pattern production vector search uses to trade a tiny
    recall loss for a large bandwidth/compute cut.

    Both stages are TakeOrderedAndProject (per-partition top-k heaps — no
    global sort at any scale); the rerank runs on 30 rows. Distances use
    the both-norms cosine on both engines (the truncated probe is not
    unit) computed as the same sequential folds; candidate and final cuts
    carry vec_id tie-breaks so the sets match exactly."""
    from ..functions.vector import dot, l2_norm
    from .vector_text import PROBE_VEC

    e = _t(spark, sf_dir, "embeddings")
    p16 = PROBE_VEC[:16]
    sl = F.slice("embedding", 1, 16)
    d16 = F.lit(1.0) - dot(sl, p16) / (
        l2_norm(sl) * l2_norm(F.array(*[F.lit(float(x)) for x in p16]))
    )
    dfull = F.lit(1.0) - dot("embedding", PROBE_VEC) / (
        l2_norm("embedding")
        * l2_norm(F.array(*[F.lit(float(x)) for x in PROBE_VEC]))
    )
    cand = (
        spread(e)
        .select("vec_id", "label", d16.alias("d16"), dfull.alias("d_full"))
        .orderBy("d16", "vec_id")
        .limit(30)
    )
    return (
        cand.orderBy("d_full", "vec_id")
        .limit(10)
        .select(
            "vec_id",
            "label",
            rnd_nz("d16", 4).alias("d16"),
            rnd_nz("d_full", 4).alias("d_full"),
        )
    )


# --------------------------------------------------------------------------
# Hard-negative mining (contrastive training data)
# --------------------------------------------------------------------------


def _hardneg_oracle() -> str:
    d = _both_norm_dist_sql("CAST(b.embedding AS DOUBLE[])", "CAST(a.embedding AS DOUBLE[])")
    return f"""
    SELECT a.vec_id AS probe_id, b.vec_id AS neg_id, b.label,
           ROUND({d}, 4) + 0.0 AS dist
    FROM embeddings a, embeddings b
    WHERE a.vec_id < 5 AND b.vec_id <> a.vec_id
      AND {d} >= 0.3 AND {d} < 0.7
    QUALIFY ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY {d}, b.vec_id) <= 5
    """


@query("hard_negative_mining", _hardneg_oracle())
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the 5
    CLOSEST candidates inside the annulus 0.3 ≤ dist < 0.7 — near enough
    to be informative negatives, far enough to exclude positives/dups
    (the in-batch-negatives upgrade every embedding-model pipeline runs).

    Same physical shape as the similarity join (anchors broadcast, band
    filter BEFORE the per-anchor top-k window so the ranked set is already
    annulus-pruned); the band cut is engine-consistent because the
    distance folds are bit-identical. At 100 TB the anchor block rides the
    LSH bucket join instead of broadcast (`similarity_join_lsh_oracle`)."""
    from ..functions.vector import dot, l2_norm

    e = _t(spark, sf_dir, "embeddings")
    probes = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pemb")
    )
    dist = F.lit(1.0) - dot("embedding", "pemb") / (
        l2_norm("embedding") * l2_norm("pemb")
    )
    cand = (
        F.broadcast(probes)
        .crossJoin(spread(e))
        .where(F.col("vec_id") != F.col("probe_id"))
        .withColumn("__d", dist)
        .where((F.col("__d") >= 0.3) & (F.col("__d") < 0.7))
    )
    w = Window.partitionBy("probe_id").orderBy("__d", "vec_id")
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= 5)
        .select(
            "probe_id",
            F.col("vec_id").alias("neg_id"),
            "label",
            rnd_nz("__d", 4).alias("dist"),
        )
    )


# --------------------------------------------------------------------------
# Dedup threshold sweep (yield curve)
# --------------------------------------------------------------------------

_SIM_SQL = (
    "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))"
)


@query(
    "dedup_threshold_sweep",
    f"""
    WITH pairs AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib, {_SIM_SQL} AS sim
      FROM embeddings a, embeddings b
      WHERE a.vec_id < 200 AND b.vec_id < 200 AND a.vec_id < b.vec_id),
    thr AS (SELECT unnest([20, 30, 40, 50, 75]) AS thr_pct),
    m AS (
      SELECT thr_pct, ia, ib FROM pairs CROSS JOIN thr
      WHERE sim >= CAST(thr_pct AS DOUBLE) / 100.0),
    np AS (SELECT thr_pct, COUNT(*) AS n_pairs FROM m GROUP BY thr_pct),
    nd AS (
      SELECT thr_pct, COUNT(DISTINCT id) AS n_docs_flagged
      FROM (SELECT thr_pct, unnest([ia, ib]) AS id FROM m) GROUP BY thr_pct)
    SELECT np.thr_pct, np.n_pairs, nd.n_docs_flagged
    FROM np JOIN nd ON np.thr_pct = nd.thr_pct
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup yield curve: for each candidate similarity threshold, how
    many pairs would be flagged and how many documents touched — the
    report that picks the dedup operating point BEFORE committing to a
    full-corpus run (threshold too low deletes the corpus, too high ships
    duplicates; every serious pipeline sweeps this first).

    One pass computes each pair's cosine once; the 5-row threshold table
    cross-joins onto pairs (map-side — thresholds are a broadcast
    literal), then two tiny aggregates (pair count, distinct-doc count)
    join on the threshold key. The pair set here is the bounded exact
    block (ids < 200); at 100 TB the identical sweep runs over the LSH
    candidate pairs instead — the curve is a property of candidates, not
    of how candidates were found. Threshold cuts are engine-consistent:
    sim is a bit-identical fold, thresholds are exact double literals."""
    from ..functions.vector import dot, l2_norm

    e = _t(spark, sf_dir, "embeddings")
    blk = spread(e.where(F.col("vec_id") < 200)).select(
        "vec_id", "embedding"
    )
    # norms are per-VECTOR: compute them once per side before the pair
    # join (not once per pair — 200× fewer interpreted folds), and
    # materialize the ~n²/2-row pair table once so the two aggregates
    # below don't each re-run the cross join (the same CollapseProject
    # economics as the MinHash localCheckpoint)
    a = blk.select(
        F.col("vec_id").alias("ia"),
        F.col("embedding").alias("ea"),
        l2_norm("embedding").alias("na"),
    )
    b = blk.select(
        F.col("vec_id").alias("ib"),
        F.col("embedding").alias("eb"),
        l2_norm("embedding").alias("nb"),
    )
    sim = dot("ea", "eb") / (F.col("na") * F.col("nb"))
    pairs = (
        F.broadcast(a)
        .crossJoin(b)
        .where(F.col("ia") < F.col("ib"))
        .select("ia", "ib", sim.alias("sim"))
        .localCheckpoint(eager=True)
    )
    thr = local_rows_df(
        spark.range(0).sparkSession,
        [(t,) for t in (20, 30, 40, 50, 75)],
        "thr_pct int",
    )
    m = pairs.crossJoin(F.broadcast(thr)).where(
        F.col("sim") >= F.col("thr_pct").cast("double") / 100.0
    )
    np_ = m.groupBy("thr_pct").agg(F.count(F.lit(1)).alias("n_pairs"))
    nd = (
        m.select("thr_pct", F.explode(F.array("ia", "ib")).alias("id"))
        .groupBy("thr_pct")
        .agg(F.countDistinct("id").alias("n_docs_flagged"))
    )
    return np_.join(nd, "thr_pct")


# --------------------------------------------------------------------------
# Two-level (merge-tree) moment aggregation
# --------------------------------------------------------------------------


@query(
    "parallel_moments_merge",
    """
    WITH sh AS (
      SELECT l_returnflag, l_orderkey % 8 AS shard,
             COUNT(*) AS n, SUM(l_quantity) AS s1,
             SUM(l_quantity * l_quantity) AS s2
      FROM lineitem GROUP BY l_returnflag, l_orderkey % 8)
    SELECT l_returnflag, CAST(SUM(n) AS BIGINT) AS n_rows,
           FLOOR(SUM(s1) / SUM(n) * 10000.0 + 0.5) / 10000.0 AS mean_qty,
           FLOOR((SUM(s2) / SUM(n) - (SUM(s1) / SUM(n)) * (SUM(s1) / SUM(n)))
                 * 10000.0 + 0.5) / 10000.0 AS var_qty
    FROM sh GROUP BY l_returnflag
    """,
)
def parallel_moments_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level moment merge: per-shard partial statistics (n, Σx, Σx²)
    combined into exact global mean/variance — the merge-tree algebra
    every distributed aggregation stands on, stated explicitly (this is
    what Spark's partial HashAggregate does internally; materializing the
    shard level is how incremental/streaming pipelines keep per-partition
    stats mergeable across files and days).

    l_quantity is integer-valued, so Σx and Σx² are EXACT in doubles
    (< 2^53) — the merge is bit-reproducible in any combine order on both
    engines; only the final divisions produce inexact doubles, floor-
    rounded per the catalog convention (means of exact sums land on
    decimal ties). Scale shape: two map-combined aggregations, the second
    over |flags|×8 rows."""
    li = _t(spark, sf_dir, "lineitem")
    sh = li.groupBy(
        "l_returnflag", (F.col("l_orderkey") % 8).alias("shard")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_quantity").alias("s1"),
        F.sum(F.col("l_quantity") * F.col("l_quantity")).alias("s2"),
    )
    mean = F.sum("s1") / F.sum("n")
    return sh.groupBy("l_returnflag").agg(
        F.sum("n").cast("long").alias("n_rows"),
        floor_round(F.sum("s1") / F.sum("n"), 4).alias("mean_qty"),
        floor_round(F.sum("s2") / F.sum("n") - mean * mean, 4).alias("var_qty"),
    )


# --------------------------------------------------------------------------
# Temperature-scaled mixture schedule
# --------------------------------------------------------------------------


@query(
    "mixture_temperature_schedule",
    """
    WITH c AS (
      SELECT source,
             SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS n_tokens
      FROM documents GROUP BY source),
    t AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS total FROM c),
    r AS (
      SELECT source, n_tokens,
             pow(CAST(n_tokens AS DOUBLE) / t.total, 0.7) AS w_raw
      FROM c CROSS JOIN t),
    z AS (SELECT SUM(w_raw) AS z FROM r)
    SELECT r.source, CAST(r.n_tokens AS BIGINT) AS n_tokens,
           ROUND(r.w_raw / z.z, 6) AS weight,
           ROUND(10000000.0 * (r.w_raw / z.z) / CAST(r.n_tokens AS DOUBLE), 4)
             AS epochs_10m
    FROM r CROSS JOIN z
    """,
)
def mixture_temperature_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling schedule (τ=0.7): per-source mixture
    weights p_i ∝ (share_i)^τ — the standard multilingual/multi-domain
    rebalancing (up-samples small sources without flattening to uniform) —
    plus the implied epochs-per-source for a 10M-token budget (epochs > 1
    flags sources the schedule would repeat; the overfitting check).

    Complements `domain_mixture_weights` (uniform target): same tiny
    per-domain count table, different target distribution. Token counts
    are one map-combined agg; the normalizer is a sum over |sources| rows
    broadcast back. pow/division are identical expressions both engines;
    the only order-dependent sum spans a handful of domains (last-ulp,
    absorbed by ROUND 6/4 — values are irrational, never decimal ties)."""
    d = _t(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+"))).alias("n_tokens")
    )
    t = c.agg(F.sum("n_tokens").cast("double").alias("total"))
    r = c.crossJoin(F.broadcast(t)).select(
        "source",
        "n_tokens",
        F.pow(F.col("n_tokens").cast("double") / F.col("total"), 0.7).alias(
            "w_raw"
        ),
    )
    z = r.agg(F.sum("w_raw").alias("z"))
    return r.crossJoin(F.broadcast(z)).select(
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(F.col("w_raw") / F.col("z"), 6).alias("weight"),
        F.round(
            F.lit(10000000.0)
            * (F.col("w_raw") / F.col("z"))
            / F.col("n_tokens").cast("double"),
            4,
        ).alias("epochs_10m"),
    )


# --------------------------------------------------------------------------
# Python UDTF surface (lateral table function)
# --------------------------------------------------------------------------


def _trigram_udtf():
    from pyspark.sql.functions import udtf

    @udtf(returnType="gram: string")
    class TrigramUDTF:
        """Yield every (overlapping, non-distinct) word 3-gram of a text —
        tokenization identical to the catalog convention (whitespace
        split of trimmed text)."""

        def eval(self, text: str):
            toks = text.split()
            for i in range(len(toks) - 2):
                yield (" ".join(toks[i : i + 3]),)

    return TrigramUDTF


@query(
    "udtf_trigram_counts",
    r"""
    WITH g AS (
      SELECT unnest(list_transform(
               range(1, CASE WHEN len(w) >= 3 THEN len(w) - 2 ELSE 0 END + 1),
               i -> array_to_string(w[i:i+2], ' '))) AS gram
      FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS w
            FROM documents))
    SELECT gram, COUNT(*) AS cnt
    FROM g GROUP BY gram
    ORDER BY cnt DESC, gram
    LIMIT 20
    """,
)
def udtf_trigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined TABLE function surface (the UDTF row of SURVEY §2.3's
    UDF/UDAF/UDTF checklist): a Python UDTF exploding each document into
    its overlapping word trigrams via a SQL LATERAL join, aggregated to
    the top-20 corpus trigrams.

    The UDTF runs one Python worker pass per partition with rows streamed
    through the generator — a real per-row fan-out operator a DataFrame
    expression can't express when the expansion logic is imperative.
    Graded against the same counts computed set-wise in DuckDB. Policy
    note: for THIS expansion a native slice-zip is faster
    (`bigram_top_counts` is the built-in-only sibling); the entry grades
    the extension seam, which is why the fan-out body stays trivial."""
    d = _t(spark, sf_dir, "documents")
    spark.udtf.register("trigrams_udtf", _trigram_udtf())
    view = f"__docs_udtf_{abs(hash(sf_dir)) % 10_000}"
    spread(d).select("doc_id", "text").createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT g.gram, COUNT(*) AS cnt
        FROM {view}, LATERAL trigrams_udtf(text) g
        GROUP BY g.gram
        ORDER BY cnt DESC, g.gram
        LIMIT 20
        """
    )


# --------------------------------------------------------------------------
# Two Lloyd iterations (iterative algorithm with an exact oracle)
# --------------------------------------------------------------------------


def _assign_best(e: DataFrame, cents: list[tuple[int, list[float]]]):
    """Per-row argmin over centroid literals — the no-join, no-window
    assignment kmeans_assign_step grades (that entry keeps the native
    LEAST-of-(dist, cid)-structs form, which this r12 Arrow kernel is
    bit-identical to: same float32→float64 widening, cumsum = the HOF's
    sequential fold, correctly-rounded sqrt, first-min = lexicographic
    tie-break; identity asserted in tests/test_vector.py and by the
    entry's unchanged oracle). Swapped because interpreted HOF lambdas
    (k·dim per row, two passes) dominated the entry's wall — the
    minhash_signature_arrow precedent applied to distance argmin."""
    from ..functions.vector import argmin_euclidean_arrow

    assign = argmin_euclidean_arrow(cents)
    return e.select("vec_id", "embedding", assign("embedding").alias("__b")).select(
        "vec_id", "embedding", "__b.cid", "__b.dist"
    )


@query(
    "kmeans_two_iterations",
    """
    WITH c0 AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cemb
      FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
    a1 AS (
      SELECT e.vec_id, c0.cid,
             list_distance(CAST(e.embedding AS DOUBLE[]), c0.cemb) AS dist,
             CAST(e.embedding AS DOUBLE[]) AS emb
      FROM embeddings e CROSS JOIN c0
      QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY dist, cid) = 1),
    mstep AS (
      SELECT cid, dim,
             FLOOR(AVG(x) * 1024.0 + 0.5) / 1024.0 AS cx
      FROM (SELECT cid, unnest(emb) AS x, generate_subscripts(emb, 1) AS dim
            FROM a1)
      GROUP BY cid, dim),
    c1 AS (
      SELECT cid, list(cx ORDER BY dim) AS cemb FROM mstep GROUP BY cid),
    a2 AS (
      SELECT e.vec_id, c1.cid,
             list_distance(CAST(e.embedding AS DOUBLE[]), c1.cemb) AS dist
      FROM embeddings e CROSS JOIN c1
      QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY dist, cid) = 1)
    SELECT a2.cid,
           (SELECT COUNT(*) FROM a1 WHERE a1.cid = a2.cid) AS n_iter1,
           COUNT(*) AS n_iter2,
           ROUND(AVG(a2.dist), 4) AS avg_dist2
    FROM a2 GROUP BY a2.cid ORDER BY a2.cid
    """,
)
def kmeans_two_iterations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO full Lloyd iterations (assign → recompute centroids → assign),
    exactly oracle-checked — the iterative-algorithm pattern (driver loop
    over bounded state, corpus never leaves the cluster) that
    `kmeans_assign_step` grades one step of.

    The cross-engine trick making iteration 2 hash-comparable: the M-step
    mean is ORDER-DEPENDENT in its last ulp (Spark partial-merge vs DuckDB
    sequential), and iteration 2's argmin would amplify a one-ulp centroid
    difference into a different assignment on a near-tie. Quantizing each
    centroid coordinate to a 1/1024 grid (floor(avg·1024+0.5), the
    quantize_int8 convention) collapses both engines onto identical
    centroids — and mirrors what real systems broadcast anyway (quantized
    centroid tables). Driver state per iteration is k×dim floats (the
    IVF-seed collect pattern, `operators/ivf.py:43`); each assignment pass
    is a no-join scan — since r12 the bit-exact Arrow argmin kernel
    (`functions/vector.argmin_euclidean_arrow`, identity pinned in
    tests/test_vector.py; kmeans_assign_step still grades the native
    LEAST form) — so a 100 TB corpus is read once per iteration with no
    shuffle beyond the k-row aggregate."""
    e = spread(_t(spark, sf_dir, "embeddings"))
    a1 = _assign_best(e, seed_centroids(e))
    # M-step: per-dim mean quantized to the shared 1/1024 grid (bounded
    # k×dim collect — same driver-state pattern as the IVF seeds). The
    # SAME aggregation carries the iteration-1 member counts (cnt at
    # pos 0 = rows per cid — embeddings are fixed-dim dense by table
    # contract), so assignment 1 is computed exactly ONCE and n_iter1
    # joins back as a k-entry literal map instead of a second pass over
    # the corpus plus a join (measured: the former a1 checkpoint/
    # recompute was ~0.5 s of the 2.4 s entry at sf0.1).
    # Generalizing to N iterations is operators/kmeans.lloyd_iterate
    # (r8): a driver loop where each iteration launches an independent
    # job over the BASE frame with centroids as literals — state lives
    # driver-side (k×dim), so lineage never chains across iterations and
    # no checkpoint is needed. This entry keeps the two-iteration unroll
    # because the graded twist (folding iteration-1 counts into the
    # M-step aggregate) is specific to emitting both iterations' stats.
    m = (
        a1.select("cid", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("cid", "pos")
        .agg(
            (F.floor(F.avg(F.col("x").cast("double")) * 1024.0 + F.lit(0.5)) / 1024.0).alias("cx"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .collect()
    )
    by_cid: dict[int, dict[int, float]] = {}
    n1: dict[int, int] = {}
    for r in m:
        by_cid.setdefault(r["cid"], {})[r["pos"]] = r["cx"]
        if r["pos"] == 0:
            n1[r["cid"]] = r["cnt"]
    cents1 = [
        (cid, [dims[i] for i in range(len(dims))])
        for cid, dims in sorted(by_cid.items())
    ]
    n1_map = F.create_map(
        *[
            F.lit(x).cast("long")
            for cid in sorted(n1)
            for x in (cid, n1[cid])
        ]
    )
    a2 = _assign_best(e, cents1)
    return (
        a2.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_iter2"),
            F.round(F.avg("dist"), 4).alias("avg_dist2"),
        )
        .select(
            "cid",
            # try_element_at, not element_at: under ANSI a missing key is
            # a hard MAP_KEY_DOES_NOT_EXIST error. The covering invariant
            # (every a2 cid appeared in a1) holds for dense fixed-dim
            # embeddings, but a cid with zero iteration-1 members must
            # degrade to the oracle's correlated-COUNT answer (0), not
            # crash the job.
            F.coalesce(
                F.try_element_at(n1_map, F.col("cid")), F.lit(0).cast("long")
            ).alias("n_iter1"),
            "n_iter2",
            "avg_dist2",
        )
        .orderBy("cid")
    )


# --------------------------------------------------------------------------
# Triangle counting on the shingle-overlap graph
# --------------------------------------------------------------------------

# Overlap-graph edges from the CAPPED shingle universe (same
# stop-shingle df pruning as ngram_containment_capped — the wedge join
# downstream amplifies any edge fan-out, so the cap matters twice here).
_EDGE_SQL = """
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM kept a JOIN kept b
        ON a.shs = b.shs AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 3
"""


@query(
    "graph_triangle_count",
    f"""
    WITH sh AS ({_SHINGLE_SQL}),
    {_CAPPED_EX_SQL},
    e AS ({_EDGE_SQL}),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
    pern AS (
      SELECT node, COUNT(*) AS n_triangles
      FROM (SELECT unnest([a, b, c]) AS node FROM tri)
      GROUP BY node)
    SELECT node, n_triangles FROM pern
    ORDER BY n_triangles DESC, node
    LIMIT 20
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the document-overlap graph (edge ⇔ ≥3
    shared 3-shingles): the densest-community signal dedup clustering and
    graph-quality analysis use on top of pairwise candidates (triangles
    separate tight duplicate clusters from chance pairwise overlaps;
    together with `dedup_components` and `pagerank_one_iter` this
    completes the graph-analytics trio).

    The canonical distributed formulation: oriented edges (u<v) so each
    triangle is generated exactly once as a wedge u→v→w closed by edge
    (u,w) — two equi-joins on node keys, never an all-pairs pass. At
    100 TB the wedge join is the known hot spot (high-degree nodes);
    the standard mitigation (degree-ordered orientation, which this
    already half-applies via u<v) keeps wedge counts near-linear for
    power-law graphs. Edge candidates come from the CAPPED shingle
    universe (_capped_shingle_hashes): a stop-shingle would inflate both
    the candidate-pair fan-out AND node degrees, and the wedge join is
    quadratic in degree — the df cap is applied before either join."""
    d = _t(spark, sf_dir, "documents")
    # 8-byte hashed shingle keys (same rationale as ngram_containment_topk)
    ex = _capped_shingle_hashes(spread(d))
    pa = ex.select(F.col("doc_id").alias("u"), "sh")
    pb = ex.select(F.col("doc_id").alias("v"), "sh")
    edges = (
        pa.join(pb, "sh")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= 3)
        .select("u", "v")
    )
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
    wedges = e1.join(e2, "b")
    tri = wedges.join(e3, ["a", "c"])
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), "node")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Incremental (snapshot-merge) dedup
# --------------------------------------------------------------------------


@query(
    "incremental_dedup_merge",
    """
    WITH base AS (
      SELECT doc_id, md5(trim(lower(text))) AS fp FROM documents
      WHERE doc_id <= 250),
    batch AS (
      SELECT doc_id, md5(trim(lower(text))) AS fp FROM documents
      WHERE doc_id > 250),
    fresh AS (
      SELECT b.doc_id, b.fp FROM batch b
      WHERE NOT EXISTS (SELECT 1 FROM base WHERE base.fp = b.fp)),
    kept AS (
      SELECT doc_id, fp,
             ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM fresh)
    SELECT CAST((SELECT COUNT(*) FROM batch) AS BIGINT) AS n_batch,
           CAST((SELECT COUNT(*) FROM batch) - (SELECT COUNT(*) FROM fresh)
                AS BIGINT) AS n_dropped_vs_base,
           CAST((SELECT COUNT(*) FROM fresh)
                - (SELECT COUNT(*) FROM kept WHERE rn = 1) AS BIGINT)
             AS n_dropped_in_batch,
           CAST((SELECT COUNT(*) FROM kept WHERE rn = 1) AS BIGINT) AS n_admitted
    """,
)
def incremental_dedup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the production shape batch dedup entries don't
    cover: a new ingest batch is admitted against an EXISTING corpus
    snapshot (anti-join on content fingerprint), then deduped within
    itself (keep-first). A real pipeline runs this on every drop; only the
    batch is new work, the corpus side is a pre-built fingerprint index.

    Scale shape: the corpus fingerprint set joins as a Bloom-prefilterable
    anti-join on an 16-byte key (never rescans corpus text); within-batch
    dedup windows on the fingerprint. The corpus/batch split here is a
    deterministic id cut so the oracle can replay it; the admitted/dropped
    scorecard is what the ingest job logs."""
    d = _t(spark, sf_dir, "documents")
    fp = F.md5(F.trim(F.lower(F.col("text"))))
    base = d.where(F.col("doc_id") <= 250).select(fp.alias("fp"))
    batch = d.where(F.col("doc_id") > 250).select("doc_id", fp.alias("fp"))
    n_batch = batch.count()
    fresh = batch.join(base, "fp", "left_anti")
    n_fresh = fresh.count()
    admitted = fresh.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("fp").orderBy("doc_id")
        ),
    ).where(F.col("rn") == 1)
    n_admitted = admitted.count()
    return spark.createDataFrame(
        [
            (
                n_batch,
                n_batch - n_fresh,
                n_fresh - n_admitted,
                n_admitted,
            )
        ],
        "n_batch long, n_dropped_vs_base long, n_dropped_in_batch long, n_admitted long",
    )


# --------------------------------------------------------------------------
# Differentially-private release (deterministic Laplace for the oracle)
# --------------------------------------------------------------------------


@query(
    "dp_noisy_type_counts",
    """
    WITH c AS (
      SELECT event_type, COUNT(*) AS true_n FROM events GROUP BY event_type),
    u AS (
      SELECT event_type, true_n,
             (CAST(list_reduce(
                list_prepend(CAST(0 AS BIGINT),
                  list_transform(string_split_regex(event_type, ''),
                                 ch -> CAST(ascii(ch) AS BIGINT))),
                (x, y) -> (x * 257 + y) % 18014398509481951) % 1000003 AS DOUBLE)
              / 1000003.0) - 0.5 AS uu
      FROM c)
    SELECT event_type, true_n,
           CAST(true_n + FLOOR(
             -1.0 * (CASE WHEN uu >= 0 THEN 1.0 ELSE -1.0 END)
             * ln(1.0 - 2.0 * abs(uu)) + 0.5) AS BIGINT) AS noisy_n
    FROM u
    """,
)
def dp_noisy_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (ε=1 Laplace mechanism): the
    aggregate-with-calibrated-noise shape a privacy-preserving stats
    endpoint uses. Production draws the noise from a CSPRNG; HERE the
    draw is a deterministic inverse-CDF transform of a hash-uniform so
    the DuckDB oracle can replay it bit-for-bit (the same seeded-fake
    seam as the multimodal decoder: the MECHANISM — sensitivity-1 count,
    Laplace inverse CDF, post-processing floor — is real, the entropy
    source is swapped). Laplace⁻¹(u) = −b·sgn(u)·ln(1−2|u|) with b=1/ε=1.

    The uniform comes from the polynomial rolling hash of the group key
    (the MinHash oracle's base-hash trick — identical exact-integer
    arithmetic on both engines; engine-private hash() functions would
    diverge), reduced mod a prime and shifted to (−0.5, 0.5)."""
    from ..functions.hashes import _POLY_BASE, _POLY_MOD

    e = _t(spark, sf_dir, "events")
    c = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("true_n"))
    codes = F.transform(
        F.split(F.col("event_type"), ""), lambda ch: F.ascii(ch).cast("long")
    )
    poly = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(_POLY_BASE) + x) % F.lit(_POLY_MOD),
    )
    uu = (poly % 1000003).cast("double") / 1000003.0 - 0.5
    lap = (
        F.lit(-1.0)
        * F.when(uu >= 0, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(F.lit(1.0) - 2.0 * F.abs(uu))
    )
    return c.select(
        "event_type",
        "true_n",
        (F.col("true_n") + F.floor(lap + F.lit(0.5))).cast("long").alias("noisy_n"),
    )


# --------------------------------------------------------------------------
# Two-proportion A/B significance test
# --------------------------------------------------------------------------


@query(
    "ab_test_two_proportions",
    """
    WITH g AS (
      SELECT CASE WHEN (user_id * 2654435761) % 97 % 2 = 0
                  THEN 'A' ELSE 'B' END AS grp,
             CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS DOUBLE) AS conv,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM events GROUP BY 1),
    w AS (
      SELECT MAX(CASE WHEN grp = 'A' THEN conv END) AS ca,
             MAX(CASE WHEN grp = 'A' THEN n END) AS na,
             MAX(CASE WHEN grp = 'B' THEN conv END) AS cb,
             MAX(CASE WHEN grp = 'B' THEN n END) AS nb
      FROM g)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(ca AS BIGINT) AS conv_a,
           CAST(nb AS BIGINT) AS n_b, CAST(cb AS BIGINT) AS conv_b,
           ROUND(((ca / na) - (cb / nb))
                 / sqrt(((ca + cb) / (na + nb)) * (1.0 - (ca + cb) / (na + nb))
                        * ((1.0 / na) + (1.0 / nb))), 4) + 0.0 AS z_score,
           CAST(CASE WHEN abs(((ca / na) - (cb / nb))
                 / sqrt(((ca + cb) / (na + nb)) * (1.0 - (ca + cb) / (na + nb))
                        * ((1.0 / na) + (1.0 / nb)))) > 1.96
                THEN 1 ELSE 0 END AS BIGINT) AS significant
    FROM w
    """,
)
def ab_test_two_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between deterministic experiment arms (the
    A/B-test readout; pooled-variance form): z = (p̂_A − p̂_B) / √(p̂(1−p̂)
    (1/n_A + 1/n_B)). On arms drawn from the same population the test
    correctly fails to reject — the null calibration check. Arm
    assignment is the portable multiplicative scramble (engine-identical);
    the statistic is written with one parenthesization on both engines.
    One map-combined aggregate, a 2-row pivot, constant state."""
    e = _t(spark, sf_dir, "events")
    g = (
        e.select(
            F.when((F.col("user_id") * 2654435761) % 97 % 2 == 0, F.lit("A"))
            .otherwise(F.lit("B"))
            .alias("grp"),
            F.col("event_type"),
        )
        .groupBy("grp")
        .agg(
            F.count(F.when(F.col("event_type") == "purchase", 1))
            .cast("double")
            .alias("conv"),
            F.count(F.lit(1)).cast("double").alias("n"),
        )
    )
    w = g.agg(
        F.max(F.when(F.col("grp") == "A", F.col("conv"))).alias("ca"),
        F.max(F.when(F.col("grp") == "A", F.col("n"))).alias("na"),
        F.max(F.when(F.col("grp") == "B", F.col("conv"))).alias("cb"),
        F.max(F.when(F.col("grp") == "B", F.col("n"))).alias("nb"),
    )
    ca, na, cb, nb = F.col("ca"), F.col("na"), F.col("cb"), F.col("nb")
    pooled = (ca + cb) / (na + nb)
    z = ((ca / na) - (cb / nb)) / F.sqrt(
        pooled * (F.lit(1.0) - pooled) * ((F.lit(1.0) / na) + (F.lit(1.0) / nb))
    )
    return w.select(
        na.cast("long").alias("n_a"),
        ca.cast("long").alias("conv_a"),
        nb.cast("long").alias("n_b"),
        cb.cast("long").alias("conv_b"),
        rnd_nz(z, 4).alias("z_score"),
        F.when(F.abs(z) > 1.96, F.lit(1)).otherwise(F.lit(0)).cast("long").alias("significant"),
    )


@query(
    "prefix_filter_jaccard_pairs",
    f"""
    WITH sh AS ({_SHINGLE_SQL}),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.s, b.s)) AS inter,
             len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS union_sz
      FROM sh a, sh b WHERE a.doc_id < b.doc_id)
    SELECT id_a, id_b,
           CAST(inter AS BIGINT) AS inter,
           CAST(union_sz AS BIGINT) AS union_sz,
           FLOOR(CAST(inter AS DOUBLE) / union_sz * 10000.0 + 0.5) / 10000.0
             AS jaccard
    FROM pairs
    WHERE 8 * inter >= 3 * (inter + union_sz)
    """,
)
def prefix_filter_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity join by PREFIX FILTERING (PPJoin's candidate
    generator, Chaudhuri/Xiao et al.): every pair with 3-shingle-set
    Jaccard ≥ 3/5, found WITHOUT the all-pairs product. Order each
    document's shingles by ascending global document frequency (rarest
    first, ties on the shingle's hash — any globally consistent order
    preserves completeness, so the engine uses the 8-byte key it joins
    on); a pair with J(a,b) ≥ t MUST share a
    shingle within each side's first |d| − ⌈t·|d|⌉ + 1 shingles
    (pigeonhole: disjoint prefixes leave fewer than t·|d| shared
    shingles possible), so joining ONLY the prefixes is a COMPLETE
    candidate generator — and the oracle is the brute-force all-pairs
    definition, which means a single lost candidate fails the
    row-count. Verification is exact integer arithmetic: J ≥ 3/5 ⟺
    8·|∩| ≥ 3·(|a|+|b|), t = 3/5 chosen so the prefix length
    (3n+4) DIV 5 is integer-exact too; only the REPORTED jaccard value
    rounds (floor convention). Shingle sets, not unigram sets: measured
    on the shipped corpus, unigram-set Jaccard passes 57% of ALL pairs
    (word-soup vocabularies converge) while shingle-set Jaccard ≥ 3/5
    isolates exactly the 25 genuine near-dup pairs — the regime a
    similarity JOIN exists for (the MinHash-LSH entry is the sub-linear
    sketch of the same measure; this is its exact counterpart).

    100 TB shape: prefix shingles are the RAREST shingles by
    construction, so the equi-join's per-shingle fan-out is
    self-limiting exactly where the plain inverted index
    (ngram_containment_topk) needs an imposed df cap — the prefix is
    the principled version of that cap. One df aggregate (map-combined),
    one per-doc rank window, the prefix self-join, then the bounded
    candidate set verifies via two id joins carrying the 8-byte
    shingle-hash arrays (r16 — |∩|/|∪| over hash sets equal the
    string-set values under the documented collision convention; the
    string intersect was the measured dominant stage). Boundary
    completeness and pruning are pinned in tests/test_r11_catalog.py."""
    d = _t(spark, sf_dir, "documents")
    # r16: the WHOLE pipeline runs on the 8-byte shingle-hash sets
    # (word_shingle_hashes — token-hash mixing, no per-shingle string
    # allocation). Membership-identical under the documented ~2³²
    # birthday-bound convention (ngram_containment_topk keys AND grades
    # its shared counts the same way), so |∩| and |∪| over hash sets
    # equal the string-set values; the r15 form paid an interpreted
    # STRING array_intersect per candidate (68k candidates × two
    # ~88-string arrays — the measured dominant stage, 1.4-1.7 s) plus a
    # per-row xxhash64 re-derivation in the prefix machinery. Candidate
    # completeness is unchanged: any globally consistent shingle order
    # works, and (df, hash) is one.
    t = spread(d).select(
        "doc_id", word_shingle_hashes("text", 3).alias("s")
    )
    # the shingle-hash-set table feeds THREE join branches (explode,
    # verify-a, verify-b); pin it once so the split + hash + dedup runs
    # one time — the production form is a shingle-set table written at
    # ingest
    sized = t.select("doc_id", "s", F.size("s").alias("n")).localCheckpoint(
        eager=False
    )
    ex = sized.select("doc_id", "n", F.explode("s").alias("sh"))
    dfreq = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    ranked = ex.join(dfreq, "sh").withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "sh")
        ),
    )
    prefix = ranked.where(
        F.col("rk") <= F.col("n") - F.expr("(3 * n + 4) DIV 5") + F.lit(1)
    ).select("doc_id", "n", "rk", "sh")
    # PPJoin positional filter (lossless): at a shared prefix key with
    # ranks (ra, rb), inter ≤ 1 + min(na − ra, nb − rb) holds at the
    # pair's EARLIEST common key (no common key ranks before it), so
    # pruning per-occurrence keeps every qualifying pair via that
    # earliest row while discarding occurrences that cannot reach
    # ⌈3(na+nb)/8⌉ — measured: candidates 299 k → far fewer verify rows
    # on the sf0.1 corpus (integer arithmetic throughout)
    a_p = prefix.select(
        F.col("doc_id").alias("id_a"), F.col("n").alias("na"),
        F.col("rk").alias("ra"), "sh",
    )
    b_p = prefix.select(
        F.col("doc_id").alias("id_b"), F.col("n").alias("nb"),
        F.col("rk").alias("rb"), "sh",
    )
    cand = (
        a_p.join(b_p, "sh")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.lit(1)
                + F.least(
                    F.col("na") - F.col("ra"), F.col("nb") - F.col("rb")
                )
                >= F.expr("(3 * (na + nb) + 7) DIV 8")
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    av = sized.select(
        F.col("doc_id").alias("id_a"), F.col("s").alias("sa"),
        F.col("n").alias("na"),
    )
    bv = sized.select(
        F.col("doc_id").alias("id_b"), F.col("s").alias("sb"),
        F.col("n").alias("nb"),
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    return (
        cand.join(av, "id_a")
        .join(bv, "id_b")
        .withColumn("inter", inter)
        .where(F.lit(8) * F.col("inter") >= F.lit(3) * (F.col("na") + F.col("nb")))
        .select(
            "id_a",
            "id_b",
            F.col("inter").cast("long").alias("inter"),
            (F.col("na") + F.col("nb") - F.col("inter"))
            .cast("long")
            .alias("union_sz"),
            floor_round(
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")),
                4,
            ).alias("jaccard"),
        )
    )
