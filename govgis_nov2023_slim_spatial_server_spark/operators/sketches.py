"""Sketch operators: Count-Min (frequency), Bloom filter (membership).
HLL distinct counts are native (`approx_count_distinct`, tested in
tests/test_approx.py).

Sketches are the sub-linear-memory answer to "count/filter across 100 TB
without a full shuffle": every partition builds a fixed-size summary in one
Arrow-batched pass (mapInPandas), summaries merge associatively (Count-Min:
element-wise add; Bloom: bitwise OR), and the merged sketch is small enough
to broadcast. The Scala Dataset.stat sketches were never exposed to
PySpark, and their JVM handles can't cross into Python UDFs anyway — these
numpy implementations are picklable, so the merged sketch CAN be broadcast
back into a scan-side predicate (the runtime-filter pattern).

Error contracts (asserted in tests): Count-Min never undercounts and
overcounts by ≤ eps·N with probability ≥ 1-delta; Bloom has zero false
negatives and ~fpp false positives.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, IntegralType

from ..functions.arrow import row_udf


# the pinned HLL mix rounds (shared by the Spark expression and the DuckDB
# oracle in catalog/sketches.py — change one, change both): three rounds of
# half-split multiply mod (2^54-33) + xorshift. The affine half-multiplies
# alone COMPOSE TO AN AFFINE MAP (measured: bucket skew 7974..27147 per
# 16384 expected over the full 2^20 domain); the interleaved xorshift is
# the nonlinearity that fixes it (970..1085 after). Constants are
# arbitrary odd pins, part of the sketch's spec.
HLL_ROUNDS: list[tuple[int, int, int]] = [
    (102334155, 97654321, 12345),
    (88675123, 134775813, 424242),
    (75327617, 123456789, 999983),
]
HLL_MOD = (1 << 54) - 33


def hll_estimate_by_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
) -> DataFrame:
    """Per-group HyperLogLog estimate with a PINNED hash so the ESTIMATE
    ITSELF is oracle-checkable — native `approx_count_distinct`'s HLL++
    registers are engine-internal and can never hash-match DuckDB.

    Mechanics (m = 64 registers, p = 6):
      t₀  = key mod 2^20
      t   = ((t mod 2^27)·A + (t div 2^27)·B + C) mod (2^54-33),
            t = t XOR (t >> 21)                 — ×3 rounds (HLL_ROUNDS);
            every intermediate < 2^55, ANSI-overflow-safe
      j   = t mod 64 (register), w = t div 64 (< 2^48)
      rho = bit_length(w & -w) = trailing-zeros+1 (Flajolet-Martin's
            LOWEST-set-bit rank — the mod-prime mix's LOW bits are the
            uniform ones; leading-zero rank on its top bits measured 14%
            biased), capped 49 at w = 0
      register_j = MAX(rho) — idempotent under duplicates, which is WHY
      HLL needs no DISTINCT shuffle: groupBy(group, j).max(rho) is
      map-side combined and moves at most |groups|·64 tiny rows.

    Estimator quality MEASURED against a blake2b ground-truth hash (120
    trials per regime, n ∈ {150..2000}, sequential AND random keys):
    this mix mean error +2..5%, std 10..13% vs blake2b +1..3%, std 12.7%
    — both at HLL's design σ = 1.04/√64 ≈ 13% (tests/test_sketches.py
    pins the fixture regime). The harmonic sum stays in EXACT integers
    (Σ 2^(49-rho) ≤ 64·2^49 < 2^56), so the only float op is ONE division
    — bit-identical in any IEEE engine. alpha is pinned to the dyadic
    93/128 (0.7265625, 2.4% above the canonical ~0.7093 for m=64 — part
    of this sketch's spec, not a fit); no small-range/bias correction
    stages (they need ln(), which is libm-divergent — raw-estimator-only
    is documented at the API).

    At 100 TB: one map-combined shuffle of (group, register) pairs — the
    sketch state per group is 64 registers regardless of row count; skew
    is bounded by 64 rows per group key.
    """
    regs = hll_registers_by_group(df, group_col, key_col)
    return hll_registers_to_estimate(regs, [group_col])


def hll_registers_by_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
) -> DataFrame:
    """The register half of `hll_estimate_by_group`: per (group, __j)
    MAX-rho rows — the sketch STATE, exposed so register-level algebra
    (union = element-wise MAX across sketches, the mergeability that
    makes HLL distributable) can be graded directly
    (catalog/sketches.sketch_hll_merge_union). Extracted r12 from
    `hll_estimate_by_group` verbatim; the composed plan is unchanged
    (explain-string diffed at extraction time)."""
    m = 64
    cap = 49  # w < 2^48 ⇒ natural rho ≤ 48; 49 = the all-zero sentinel
    t = F.pmod(F.col(key_col).cast("long"), F.lit(1 << 20))
    half = F.lit(1 << 27)
    for a_mul, b_mul, c_add in HLL_ROUNDS:
        lo = F.pmod(t, half)
        # (t - lo) is a multiple of 2^27: exact in double (even mantissa),
        # so the division is an exact exponent shift — t/2^27 DIRECTLY
        # would round for odd t ≥ 2^53 and could truncate off-by-one
        hi = ((t - lo) / half).cast("long")
        t = F.pmod(lo * F.lit(a_mul) + hi * F.lit(b_mul) + F.lit(c_add), F.lit(HLL_MOD))
        t = t.bitwiseXOR(F.shiftright(t, 21))
    j = F.pmod(t, F.lit(m))
    w = ((t - j) / F.lit(m)).cast("long")
    rho = F.when(w == 0, F.lit(cap)).otherwise(
        F.length(F.bin(w.bitwiseAND(-w)))
    )
    return (
        df.select(F.col(group_col), j.alias("__j"), rho.alias("__rho"))
        .groupBy(group_col, "__j")
        .agg(F.max("__rho").alias("__r"))
    )


def hll_registers_to_estimate(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """Registers → (register_sum, hll_estimate) per group key set. The
    harmonic sum stays exact int64 (Σ 2^(49−ρ) ≤ 64·2^49 < 2^56); the
    single float division is bit-identical in any IEEE engine."""
    m, cap = 64, 49
    # empty registers contribute 2^cap (rho = 0): add them arithmetically
    # as (m - seen_registers) · 2^cap instead of materializing a spine
    alpha_m2_scale = float(93 * 2**54)  # (93/128)·m²·2^cap = 93·2^(5+49)
    per_group = regs.groupBy(*group_cols).agg(
        F.sum(
            # python-side shiftleft requires a literal bit count; the SQL
            # function form accepts a column
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {cap} - __r)")
        ).alias("__sum_seen"),
        F.count(F.lit(1)).alias("__n_seen"),
    )
    sum_int = F.col("__sum_seen") + (F.lit(m) - F.col("__n_seen")) * F.lit(
        1 << cap
    ).cast("long")
    return per_group.select(
        *[F.col(c) for c in group_cols],
        sum_int.alias("register_sum"),
        (F.lit(alpha_m2_scale) / sum_int.cast("double")).alias("hll_estimate"),
    )


def _hash64(value: str, seed: int) -> int:
    return int.from_bytes(
        hashlib.blake2b(
            value.encode("utf-8"), digest_size=8, salt=seed.to_bytes(8, "little")
        ).digest(),
        "big",
    )


class CountMinSketch:
    """Textbook CMS: depth×width counter table, one blake2b-derived row
    index per depth; estimate = min over rows."""

    def __init__(self, eps: float = 0.001, delta: float = 0.01):
        self.width = max(8, math.ceil(math.e / eps))
        self.depth = max(2, math.ceil(math.log(1.0 / delta)))
        self.table = np.zeros((self.depth, self.width), dtype=np.int64)
        self.total = 0

    def add_values(self, values) -> None:
        for v in values:
            s = str(v)
            for d in range(self.depth):
                self.table[d, _hash64(s, d) % self.width] += 1
            self.total += 1

    def estimate(self, value) -> int:
        s = str(value)
        return int(
            min(self.table[d, _hash64(s, d) % self.width] for d in range(self.depth))
        )

    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        assert self.table.shape == other.table.shape
        self.table += other.table
        self.total += other.total
        return self


class BloomFilter:
    """Textbook Bloom: m bits, k blake2b-derived positions per item."""

    def __init__(self, expected_items: int, fpp: float = 0.01):
        m = max(64, math.ceil(-expected_items * math.log(fpp) / (math.log(2) ** 2)))
        self.m = m
        self.k = max(1, round(m / max(expected_items, 1) * math.log(2)))
        self.bits = np.zeros((m + 63) // 64, dtype=np.uint64)

    def _positions(self, value) -> list[int]:
        s = str(value)
        h1 = _hash64(s, 0)
        h2 = _hash64(s, 1) | 1
        return [((h1 + i * h2) % (1 << 64)) % self.m for i in range(self.k)]

    def add_values(self, values) -> None:
        for v in values:
            for p in self._positions(v):
                self.bits[p >> 6] |= np.uint64(1 << (p & 63))

    def might_contain(self, value) -> bool:
        return all(
            self.bits[p >> 6] & np.uint64(1 << (p & 63)) for p in self._positions(value)
        )

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        assert self.m == other.m and self.k == other.k
        self.bits |= other.bits
        return self


def _build_distributed(df: DataFrame, col: str, make_sketch):
    """One mapInPandas pass → one serialized partial per partition →
    associative driver merge (driver sees n_partitions blobs, not rows).
    Values are hashed as the Python values a row lift sees: an integral
    column holding a NULL reaches pandas as float64, so it is cast back
    (5, not 5.0, or every probe of that key would miss)."""
    import pickle

    integral = isinstance(df.schema[col].dataType, IntegralType)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sk = make_sketch()
        any_rows = False
        for pdf in batches:
            vals = pdf[col].dropna()
            if integral:
                vals = vals.astype("int64")
            if len(vals):
                sk.add_values(vals.tolist())
                any_rows = True
        if any_rows:
            yield pd.DataFrame({"blob": [pickle.dumps(sk)]})

    partials = df.select(col).mapInPandas(gen, schema="blob binary").collect()
    merged = make_sketch()
    for row in partials:
        merged.merge(pickle.loads(bytes(row["blob"])))
    return merged


def count_min_sketch(
    df: DataFrame, col: str, eps: float = 0.001, delta: float = 0.01
) -> CountMinSketch:
    return _build_distributed(df, col, lambda: CountMinSketch(eps, delta))


def bloom_filter(
    df: DataFrame, col: str, expected_items: int, fpp: float = 0.01
) -> BloomFilter:
    return _build_distributed(df, col, lambda: BloomFilter(expected_items, fpp))


def bloom_prefilter_join(
    big: DataFrame, small: DataFrame, key: str, fpp: float = 0.01
) -> DataFrame:
    """Inner join with a Bloom pre-filter on the big side.

    The filter pass is a scan-side predicate over the broadcast sketch, so
    rows that can't match never enter the shuffle (runtime-filter / semi-
    join pushdown pattern). False positives are removed by the join itself
    → the result is exact.
    """
    n = small.count()
    bf = bloom_filter(small, key, expected_items=max(n, 1), fpp=fpp)
    bf_b = big.sparkSession.sparkContext.broadcast(bf)

    def might_contain(v) -> bool:
        return v is not None and bf_b.value.might_contain(v)

    return big.where(row_udf(BooleanType(), might_contain)(F.col(key))).join(small, key)
