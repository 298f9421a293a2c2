"""Hash-family functions for near-duplicate detection: shingling, MinHash,
SimHash. Not in the reference (its dedup is exact drop_duplicates, reference
backend/load_data.py:177); these are the scale path for the LLM-pipeline
dedup surface (BASELINE.json north_star).

MinHash shingling and base hashing are native Spark expressions (shingle
arrays via ``transform``/``slice``, murmur3 via ``F.hash``); the
64-permutation min over the universal-hash family ``(a·h + b) mod p`` has
two interchangeable kernels: a fully-native ``array_min(transform(...))``
form (the SQL-reproducible anchor) and an Arrow-vectorized batch-UDF form
(``minhash_signature_arrow``) that computes bit-identical signatures ~2x
faster — higher-order functions are interpreted per element, while the
numpy broadcast is one fused pass per row. Both distribute identically at
100 TB; the production LSH path uses the Arrow kernel.

SimHash needs per-bit vote accumulation (64 counters per doc) — that is the
one genuinely imperative kernel, implemented as a row lift
(``functions/arrow.py``) over blake2b-derived 64-bit token hashes
(deterministic across workers, unlike Python's builtin ``hash``).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from .arrow import batch_udf, row_udf
from .text import tokens

_MERSENNE_P = (1 << 61) - 1


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles as an array<string> (native).

    ``sequence(0, n-k)`` enumerates start offsets; ``slice`` + ``concat_ws``
    builds each shingle. Docs shorter than k words yield their full text as
    the single shingle.
    """
    def _shingles_from(toks: Column) -> Column:
        n = F.size(toks)
        starts = F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(
            F.when(n > 0, F.array(F.lit(0))).otherwise(F.array().cast("array<int>"))
        )
        return F.array_distinct(
            F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, F.lit(k))))
        )

    return _let(tokens(col), _shingles_from)


def word_shingle_hashes(col: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingle HASHES as an array<long> (native) —
    membership-equivalent to ``xxhash64`` over `word_shingles` strings,
    for consumers that key on the 8-byte hash and never read the shingle
    text (the containment/triangle family).

    Hashes each TOKEN once (``xxhash64`` per token) and mixes the k token
    hashes per shingle with one multi-argument ``xxhash64`` call — no
    per-shingle ``slice`` array copy, no ``concat_ws`` string allocation,
    no re-scan of ~25 string bytes per shingle (r16, guide §4.1 applied
    inside the JVM: same interpreted-HOF lambda count, far cheaper ops;
    measured 1.79 → 1.53 s med on ngram_containment_topk, output
    identical). Docs shorter than k words yield one shingle of their
    full token list (``try_element_at`` past the end contributes NULL,
    which multi-arg xxhash64 skips — so short docs of equal token
    sequences still collide exactly with each other and with nothing
    structurally).

    Collision class: equal string shingles ⟺ equal token sequences ⟺
    equal hash INPUTS, so membership is preserved exactly up to 64-bit
    hash collisions — the same ~2³²-distinct-shingles birthday bound the
    string-keyed form already documented (token-level xxhash64 collisions
    fold into the same bound)."""

    def _shingles_from(toks: Column) -> Column:
        def _from_th(th: Column) -> Column:
            n = F.size(th)
            starts = F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(
                F.when(n > 0, F.array(F.lit(0))).otherwise(
                    F.array().cast("array<int>")
                )
            )
            return F.array_distinct(
                F.transform(
                    starts,
                    lambda i: F.xxhash64(
                        *[F.try_element_at(th, i + j + 1) for j in range(k)]
                    ),
                )
            )

        return _let(
            F.transform(toks, lambda t: F.xxhash64(t)), _from_th
        )

    return _let(tokens(col), _shingles_from)


def char_shingles(col: Column | str, k: int = 5) -> Column:
    """Distinct k-char shingles (native substring enumeration)."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    starts = F.when(n >= k, F.sequence(F.lit(1), n - k + 1)).otherwise(
        F.when(n > 0, F.array(F.lit(1))).otherwise(F.array().cast("array<int>"))
    )
    return F.array_distinct(F.transform(starts, lambda i: F.substring(c, i, k)))


def _perm_params(num_perm: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family.

    Ranges sized so ``a·h + b`` stays below 2^63 for h < 2^32 (base hash):
    ANSI mode (Spark 4 default) hard-errors on long overflow, so the
    arithmetic must be provably overflow-free rather than wrapping.
    """
    rng = np.random.RandomState(seed)
    a = rng.randint(1, 1 << 30, size=num_perm, dtype=np.int64)
    b = rng.randint(0, _MERSENNE_P - 1, size=num_perm, dtype=np.int64)
    return list(zip(a.tolist(), b.tolist()))


# canonical definitions live in functions/text.py (shared with the
# document fingerprint so the two rolling hashes can never drift apart)
from .text import _FP_BASE as _POLY_BASE  # noqa: E402
from .text import _FP_MOD as _POLY_MOD  # noqa: E402


def poly_text_hash(s: Column) -> Column:
    """Arithmetic rolling hash of a string, reduced to [0, 2^32).

    Exists alongside murmur3 because it is expressible in BOTH Spark
    expressions and ANSI SQL (DuckDB ``list_reduce``) — making the entire
    MinHash-LSH pipeline oracle-checkable. Folds character codepoints:
    ``h = (h*257 + codepoint) mod (2^54-33)``, then ``mod 2^32``.
    """
    chars = F.filter(F.split(s, ""), lambda c: c != "")
    folded = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: F.pmod(acc * F.lit(_POLY_BASE) + F.ascii(c), F.lit(_POLY_MOD)),
    )
    return F.pmod(folded, F.lit(1 << 32))


def _let(bound: Column, body) -> Column:
    """Poor-man's let-binding for Spark expressions: evaluate ``bound``
    exactly once per row and feed it to ``body`` as a lambda variable.

    Catalyst's CollapseProject freely inlines projected expressions into
    every downstream reference — for a 64-permutation MinHash signature
    referenced by 16 band keys that is a 16x recomputation blowup (measured
    >100x wall-clock on the LSH pipeline). Wrapping the value in a 1-element
    array and binding it via ``transform``'s lambda variable forces single
    evaluation regardless of how many times the body references it.
    """
    return F.element_at(F.transform(F.array(bound), body), 1)


def minhash_signature(
    shingle_col: Column, num_perm: int = 64, seed: int = 42, base_hash: str = "murmur"
) -> Column:
    """array<long> MinHash signature of a shingle array — fully native.

    Base hash: Spark's murmur3 ``hash()`` lifted to [0, 2^32) (default), or
    ``base_hash="poly"`` for the SQL-reproducible rolling hash (slower —
    char-level fold — but lets DuckDB compute the identical signature).
    Permutations: ``min((a*h + b) mod p)`` per (a, b). Empty shingle sets
    yield a sentinel signature of p (never collides with real hashes). The
    base-hash array is let-bound so the permutations share one evaluation.
    """
    if base_hash == "poly":
        base = F.transform(shingle_col, poly_text_hash)
    else:
        base = F.transform(
            shingle_col, lambda s: F.pmod(F.hash(s).cast("long"), F.lit(1 << 32))
        )

    def _perm(a: int, b: int):
        # NB: pyspark derives HOF lambda arity from the Python signature,
        # so (a, b) must be closed over, not defaulted parameters.
        return lambda h: F.pmod(F.lit(a) * h + F.lit(b), F.lit(_MERSENNE_P))

    def _sig_from(bs: Column) -> Column:
        return F.array(
            *[
                F.coalesce(
                    F.array_min(F.transform(bs, _perm(a, b))),
                    F.lit(_MERSENNE_P).cast("long"),
                )
                for a, b in _perm_params(num_perm, seed)
            ]
        )

    return _let(base, _sig_from)


def base_hash_array(shingle_col: Column) -> Column:
    """Murmur3 base hashes of a shingle array, lifted to [0, 2^32) — the
    native input the Arrow signature kernel consumes."""
    return F.transform(
        shingle_col, lambda s: F.pmod(F.hash(s).cast("long"), F.lit(1 << 32))
    )


def minhash_signature_arrow(num_perm: int = 64, seed: int = 42):
    """Arrow-vectorized MinHash permutations: a batch UDF mapping a
    base-hash array column (from :func:`base_hash_array`) to the
    array<long> signature.

    Computes the SAME universal-hash family as :func:`minhash_signature`
    — (a·h + b) mod p with identical (a, b) draws — in one numpy
    broadcast per row instead of 64 interpreted higher-order-function
    passes. Exact int64 arithmetic (a < 2^30, h < 2^32 ⇒ a·h + b < 2^63,
    no overflow), so signatures are BIT-IDENTICAL to the native path
    (asserted in tests/test_hashes.py); measured ~1.9x faster on the sf0.1
    corpus. A NULL or empty row gets the all-p sentinel, as the native
    form's ``coalesce`` gives it. Each batch is read as numpy views of the
    flat hash values and the row offsets; the loop stays per row, because
    a whole-batch broadcast would hold batch × shingles × num_perm int64
    values. Native expressions remain the right tool for the
    SQL-reproducible poly twin; this is the production murmur path."""
    params = _perm_params(num_perm, seed)
    a_arr = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    b_arr = np.array([b for _, b in params], dtype=np.int64)[:, None]
    empty = np.full(num_perm, _MERSENNE_P, dtype=np.int64)

    def minhash_batch(hs: pa.Array) -> list:
        vals = hs.values.to_numpy()  # zero-copy: raises on a NULL hash
        offs = hs.offsets.to_numpy()
        valid = hs.is_valid().to_numpy(zero_copy_only=False)
        out = []
        for i in range(len(hs)):
            h = vals[offs[i] : offs[i + 1]]
            if valid[i] and h.size:
                out.append(((a_arr * h + b_arr) % _MERSENNE_P).min(axis=1))
            else:
                out.append(empty)
        return out

    return batch_udf(ArrayType(LongType()), minhash_batch)


def lsh_band_keys(sig_col: Column, bands: int, rows_per_band: int) -> Column:
    """array<struct<band:int, key:long>> — one bucket key per band.

    Two docs land in the same (band, key) bucket iff their signatures agree
    on that band's rows → standard MinHash-LSH banding. The signature is
    let-bound (one evaluation feeds all bands) and each band key is murmur3
    over the band's slice — fixed-width for the bucket shuffle, no string
    building.
    """

    def _keys_from(sig: Column) -> Column:
        return F.array(
            *[
                F.struct(
                    F.lit(band).alias("band"),
                    F.hash(F.slice(sig, band * rows_per_band + 1, rows_per_band))
                    .cast("long")
                    .alias("key"),
                )
                for band in range(bands)
            ]
        )

    return _let(sig_col, _keys_from)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two (distinct-element) arrays — native set ops."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# SimHash (row kernel)
# ---------------------------------------------------------------------------


def _token_hash64(tok: str) -> int:
    """Deterministic 64-bit token hash (blake2b digest prefix)."""
    return int.from_bytes(hashlib.blake2b(tok.encode("utf-8"), digest_size=8).digest(), "big")


def simhash_str(s: str | None) -> int | None:
    """64-bit SimHash of whitespace tokens (signed long for Spark)."""
    if s is None:
        return None
    toks = s.lower().split()
    if not toks:
        return 0
    votes = np.zeros(64, dtype=np.int64)
    shifts = np.arange(64, dtype=np.uint64)
    for t in toks:
        h = np.uint64(_token_hash64(t))
        bits = ((h >> shifts) & np.uint64(1)).astype(np.int64)
        votes += np.where(bits == 1, 1, -1)
    out = 0
    for i in range(64):
        if votes[i] > 0:
            out |= 1 << i
    # two's-complement into signed 64-bit for LongType
    return out - (1 << 64) if out >= (1 << 63) else out


def simhash_udf():
    return row_udf(LongType(), simhash_str)


def simhash_poly(col: Column | str, n_bits: int = 16) -> Column:
    """SQL-reproducible SimHash: per-bit vote accumulation over the rolling
    poly token hash, entirely native (the oracle twin of ``simhash_udf``,
    same role ``minhash_near_duplicates_exactband`` plays for MinHash).

    Tokens keep multiplicity (a word's votes count once per occurrence,
    matching ``simhash_str``); bit j of the result is set iff the signed
    vote sum over ``(token_hash >> j) & 1`` is strictly positive. n_bits is
    intentionally small (default 16) — the production 64-bit path stays on
    the blake2b row kernel; this variant exists so DuckDB can compute
    the byte-identical signature and anchor the kernel in the driver gate.
    """
    c = F.col(col) if isinstance(col, str) else col
    hashes = F.transform(tokens(F.lower(c)), poly_text_hash)

    def _vote(j: int):
        # closure, never a default arg (pyspark derives arity from signature)
        return lambda acc, h: acc + (
            F.shiftright(h, j).bitwiseAND(F.lit(1)).cast("long") * 2 - 1
        )

    def _sim_from(hs: Column) -> Column:
        out = F.lit(0).cast("long")
        for j in range(n_bits):
            votes = F.aggregate(hs, F.lit(0).cast("long"), _vote(j))
            out = out + F.when(votes > 0, F.lit(1 << j).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        return out

    return _let(hashes, _sim_from)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two signed-64-bit SimHashes (native bit ops)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_band(col: Column, band: int, bands: int = 4) -> Column:
    """Extract band-th 16-bit chunk — pigeonhole blocking key: two hashes
    within Hamming distance < bands must agree on ≥1 band."""
    width = 64 // bands
    return F.shiftrightunsigned(col, band * width).bitwiseAND(F.lit((1 << width) - 1))
