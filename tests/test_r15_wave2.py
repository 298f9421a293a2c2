"""r15 wave-2 entries: BFS levels and MOSS winnowing.

- graph_bfs_levels: exact hop counts on a synthetic PATH graph (the one
  topology where every level 0..3 and unreachability all appear at
  once), an isolated-seed fixture, NULL keys against the DuckDB oracle,
  and sf0.001 oracle parity.
- winnowing_fingerprints: the full selection pipeline re-implemented
  independently in Python (token poly-hash → gram keys → rightmost-min
  windows → distinct positions) and compared row-for-row on fixtures
  covering short docs (single whole-doc window), all-equal gram keys
  (tie rule), and 60 seeded random word soups; the scheme's guarantee
  (a shared ≥ k+w-1 = 6-token run ⇒ ≥ 1 common fingerprint hash) is
  asserted on a constructed pair; sf0.001 oracle parity.
"""

from __future__ import annotations

import os
import random
import tempfile

import duckdb
import pandas as pd

from govgis_nov2023_slim_spatial_server_spark.catalog import ORACLES, QUERIES
from govgis_nov2023_slim_spatial_server_spark.functions.text import (
    _FP_BASE,
    _FP_MOD,
)

SF_DIR = "/root/testdata/sf0.001"


def _write_lineitem(rows, dirname: str) -> None:
    """rows: list of (orderkey, linenumber, partkey); a key may be None."""
    base = pd.Timestamp("1995-01-01")
    df = pd.DataFrame(
        {
            "l_orderkey": pd.array([r[0] for r in rows], dtype="Int64"),
            "l_partkey": pd.array([r[2] for r in rows], dtype="Int64"),
            "l_suppkey": [(r[0] or 0) % 5 + 1 for r in rows],
            "l_linenumber": [r[1] for r in rows],
            "l_quantity": [1.0] * len(rows),
            "l_extendedprice": [100.0] * len(rows),
            "l_discount": [0.0] * len(rows),
            "l_tax": [0.0] * len(rows),
            "l_returnflag": ["N"] * len(rows),
            "l_linestatus": ["O"] * len(rows),
            "l_shipdate": [base] * len(rows),
        }
    )
    df["l_shipdate"] = df["l_shipdate"].astype("datetime64[us]")
    df.to_parquet(os.path.join(dirname, "lineitem.parquet"), index=False)


def _write_docs(texts, dirname: str) -> None:
    df = pd.DataFrame(
        {
            "doc_id": range(1, len(texts) + 1),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["synthetic"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    df.to_parquet(os.path.join(dirname, "documents.parquet"), index=False)


class TestGraphBfsLevels:
    def test_path_graph_levels(self, spark):
        """Path 1-2-3-4-5-6-7 (order k links parts k, k+1), seed part 1
        (1 % 97 == 1): levels are exactly the path distances, capped at
        3 hops — parts 5..7 unreached. Part 98 (98 % 97 == 1) rides a
        single-line order: an ISOLATED seed, level 0 with no edges."""
        rows = []
        for k in range(1, 7):
            rows.append((k, 1, k))
            rows.append((k, 2, k + 1))
        rows.append((100, 1, 98))
        with tempfile.TemporaryDirectory() as d:
            _write_lineitem(rows, d)
            got = {
                r.l_partkey: r.lvl
                for r in QUERIES["graph_bfs_levels"](spark, d).collect()
            }
        assert got == {1: 0, 2: 1, 3: 2, 4: 3, 98: 0}

    def test_two_seeds_min_distance(self, spark):
        """Two seeds on one path (parts 1 and 98 both seed, bridged by
        order 50): every node gets the MIN distance over seeds — the
        multi-source semantics."""
        rows = []
        # path 1-2-3-4-5-6-98 : part 98 is also a seed (98 % 97 == 1)
        chain = [1, 2, 3, 4, 5, 6, 98]
        for k in range(len(chain) - 1):
            rows.append((k + 1, 1, chain[k]))
            rows.append((k + 1, 2, chain[k + 1]))
        with tempfile.TemporaryDirectory() as d:
            _write_lineitem(rows, d)
            got = {
                r.l_partkey: r.lvl
                for r in QUERIES["graph_bfs_levels"](spark, d).collect()
            }
        # distances from {1, 98}: 2→1 (from 1), 6→1 (from 98),
        # 3→2, 5→2, 4→3 (tie: 3 from both ends)
        assert got == {1: 0, 98: 0, 2: 1, 6: 1, 3: 2, 5: 2, 4: 3}

    def test_null_keys_match_oracle(self, spark):
        """NULL keys as the oracle reads them: a NULL order never links
        two parts (40 and 41 share only a NULL order, beside seed 98), a
        seed whose only row has a NULL order is still level 0 (98), and
        a NULL part is never a node, not even inside a seed's order."""
        rows = [
            (1, 1, 1), (1, 2, 2), (1, 3, None), (2, 1, 2), (2, 2, 3),
            (None, 1, 98), (None, 2, 40), (None, 3, 41),
            (5, 1, 40), (6, 1, None), (6, 2, 41),
        ]
        with tempfile.TemporaryDirectory() as d:
            _write_lineitem(rows, d)
            con = duckdb.connect()
            con.execute(
                "CREATE VIEW lineitem AS SELECT * FROM "
                f"read_parquet('{d}/lineitem.parquet')"
            )
            want = con.execute(ORACLES["graph_bfs_levels"]).fetchall()
            con.close()
            got = [
                tuple(r)
                for r in QUERIES["graph_bfs_levels"](spark, d).collect()
            ]
        assert want == [(1, 0), (2, 1), (3, 2), (98, 0)]
        assert got == want

    def test_oracle_parity_sf0001(self, spark):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW lineitem AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/lineitem.parquet')"
        )
        want = sorted(
            [tuple(r) for r in
             con.execute(ORACLES["graph_bfs_levels"]).fetchall()],
            key=repr,
        )
        con.close()
        got = sorted(
            [tuple(r) for r in
             QUERIES["graph_bfs_levels"](spark, SF_DIR).collect()],
            key=repr,
        )
        assert len(got) > 20
        assert got == want


def _ref_winnow(text: str):
    """Independent Python reference of the whole winnowing pipeline."""
    toks = [t for t in text.split(" ") if t]
    if len(toks) < 3:
        return None
    def h(tok):
        acc = 0
        for ch in tok:
            acc = (acc * _FP_BASE + ord(ch)) % _FP_MOD
        return acc % (1 << 32)
    hs = [h(t) for t in toks]
    ng = len(toks) - 2
    gk = [
        (hs[i] * 1000003 + hs[i + 1] * 8191 + hs[i + 2]) % (1 << 32)
        for i in range(ng)
    ]
    sel = set()
    for i in range(max(ng - 3, 1)):
        end = min(i + 4, ng)  # window grams [i, end)
        best = i
        for j in range(i + 1, end):
            if gk[j] <= gk[best]:
                best = j
        sel.add(best)
    return ng, len(sel), sum(gk[p] for p in sel), {gk[p] for p in sel}


class TestWinnowingFingerprints:
    FIXTURES = [
        "alpha beta gamma",                      # 3 tokens: 1 gram, 1 window
        "a b c d",                               # 2 grams, single window
        "a b c d e f",                           # 4 grams, single window
        "a b c d e f g",                         # 5 grams, 2 windows
        "x x x x x x x x x x",                   # all gram keys equal: ties
        "the quick brown fox jumps over the lazy dog again and again",
        "a",                                     # excluded (< 3 tokens)
        "one two",                               # excluded
    ]

    def _run(self, spark, texts):
        with tempfile.TemporaryDirectory() as d:
            _write_docs(texts, d)
            return {
                r.doc_id: (r.n_grams, r.n_fps, r.fp_sum)
                for r in QUERIES["winnowing_fingerprints"](
                    spark, d
                ).collect()
            }

    def test_fixtures_match_python_reference(self, spark):
        got = self._run(spark, self.FIXTURES)
        for i, text in enumerate(self.FIXTURES, start=1):
            ref = _ref_winnow(text)
            if ref is None:
                assert i not in got, (i, text)
            else:
                assert got[i] == ref[:3], (text, got[i], ref[:3])
        # the tie fixture selects exactly one position per window thanks
        # to the rightmost rule — and every window picks its LAST gram,
        # so consecutive windows pick distinct positions
        ng, nf, _, _ = _ref_winnow("x x x x x x x x x x")
        assert (ng, nf) == (8, 5)

    def test_random_soups_match_python_reference(self, spark):
        rng = random.Random(20260816)
        vocab = ["the", "a", "cat", "dog", "ran", "sat", "on", "mat"]
        texts = [
            " ".join(
                rng.choice(vocab) for _ in range(rng.randint(1, 40))
            )
            for _ in range(60)
        ]
        got = self._run(spark, texts)
        for i, text in enumerate(texts, start=1):
            ref = _ref_winnow(text)
            if ref is None:
                assert i not in got
            else:
                assert got[i] == ref[:3], (text, got[i], ref[:3])

    def test_shared_run_guarantee(self):
        """Winnowing's defining property: two documents sharing a token
        run of length ≥ k + w - 1 = 6 share at least one fingerprint
        HASH — checked via the reference on a constructed pair whose
        only overlap is the 6-token run."""
        shared = "red orange yellow green blue indigo"
        a = "one two three " + shared + " four five six"
        b = "seven eight nine ten " + shared + " eleven twelve"
        *_, fa = _ref_winnow(a)
        *_, fb = _ref_winnow(b)
        assert fa & fb, (fa, fb)

    def test_oracle_parity_sf0001(self, spark):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/documents.parquet')"
        )
        want = sorted(
            [tuple(r) for r in
             con.execute(ORACLES["winnowing_fingerprints"]).fetchall()],
            key=repr,
        )
        con.close()
        got = sorted(
            [tuple(r) for r in
             QUERIES["winnowing_fingerprints"](spark, SF_DIR).collect()],
            key=repr,
        )
        assert len(got) > 100
        assert got == want

    def test_plan_is_map_only(self, spark):
        """The selection chain is one projection over the scan — the
        only Exchanges in the plan are the output ORDER BY's range
        partitioning and the parallelism spread's round-robin
        (session.spread, r15 optimization; no aggregation/join
        shuffle anywhere)."""
        df = QUERIES["winnowing_fingerprints"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan
        assert "Join" not in plan
        import re

        exchanges = re.findall(r"Exchange (\w+)", plan)
        assert all(
            e in ("rangepartitioning", "RoundRobinPartitioning")
            for e in exchanges
        ), exchanges

    def test_two_doc_parquet_falsifier(self, spark):
        """The r15 wave-3 property find, pinned: on THIS exact 2-doc
        corpus read from PARQUET, DuckDB 1.0's fold-based oracle form
        read doc 1's gram keys while folding doc 2's window (doc 2's
        unique minimum sits at position 1; the corrupted fold returned
        position 2 — one ulp of fp_sum). Inline VALUES and larger
        corpora masked it: the corruption is vector-layout-dependent.
        Engine and the lambda-free encoded-min oracle must both pick
        position 1 (fp_sum = the aaa gram key, 97794915)."""
        texts = ["a a a a", "a a a b a a"]
        got = self._run(spark, texts)
        assert got[2] == (4, 1, 97794915), got
        with tempfile.TemporaryDirectory() as d:
            _write_docs(texts, d)
            con = duckdb.connect()
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{d}/documents.parquet')"
            )
            want = con.execute(
                ORACLES["winnowing_fingerprints"]
            ).fetchall()
            con.close()
        assert sorted(want) == [(1, 2, 1, 97794915), (2, 4, 1, 97794915)]


def _write_customer(custkeys, nationkeys, dirname: str) -> None:
    df = pd.DataFrame(
        {
            "c_custkey": custkeys,
            "c_name": [f"Customer#{k}" for k in custkeys],
            "c_nationkey": pd.array(nationkeys, dtype="int32"),
            "c_acctbal": [100.0] * len(custkeys),
            "c_mktsegment": ["BUILDING"] * len(custkeys),
        }
    )
    df.to_parquet(os.path.join(dirname, "customer.parquet"), index=False)


def _brute_hull_edges(pts):
    """The oracle's maximal-edge characterization, independently in
    Python: directed edge (p, q) survives iff every other point is
    strictly left, or collinear AND inside the segment bbox."""
    pts = sorted(set(pts))
    if len(pts) == 1:
        return {(pts[0], pts[0])}
    edges = set()
    for p in pts:
        for q in pts:
            if p == q:
                continue
            ok = True
            for r in pts:
                if r == p or r == q:
                    continue
                cr = (q[0] - p[0]) * (r[1] - p[1]) - (q[1] - p[1]) * (
                    r[0] - p[0]
                )
                if cr > 0:
                    continue
                if cr == 0 and min(p[0], q[0]) <= r[0] <= max(
                    p[0], q[0]
                ) and min(p[1], q[1]) <= r[1] <= max(p[1], q[1]):
                    continue
                ok = False
                break
            if ok:
                edges.add((p, q))
    return edges


class TestConvexHullEdges:
    def test_chain_edges_match_maximal_edge_characterization(self):
        """300 random point sets (uniform, collinear-heavy small
        lattices, duplicates) — the strict monotone chain's ring edge
        set must equal the independent maximal-edge characterization,
        and the ring shoelace must be non-negative (CCW)."""
        from govgis_nov2023_slim_spatial_server_spark.catalog.geo_analytics import (
            _hull_ccw,
        )

        rng = random.Random(15_2026)
        for trial in range(300):
            mode = trial % 3
            n = rng.randint(1, 24)
            if mode == 0:
                pts = [(rng.randint(0, 100), rng.randint(0, 100))
                       for _ in range(n)]
            elif mode == 1:  # tiny lattice: many collinear runs + dups
                pts = [(rng.randint(0, 4), rng.randint(0, 4))
                       for _ in range(n)]
            else:  # exactly collinear family
                x0, y0 = rng.randint(0, 20), rng.randint(0, 20)
                dx, dy = rng.randint(-3, 3), rng.randint(-3, 3)
                if dx == 0 and dy == 0:
                    dx = 1
                pts = [(x0 + t * dx, y0 + t * dy) for t in range(n)]
            uniq = sorted(set(pts))
            ring = _hull_ccw(uniq)
            m = len(ring)
            if m == 1:
                got = {(ring[0], ring[0])}
            else:
                got = {
                    (ring[i], ring[(i + 1) % m]) for i in range(m)
                }
            assert got == _brute_hull_edges(pts), (pts, got)
            area2 = sum(
                p[0] * q[1] - q[0] * p[1]
                for p, q in got
            )
            assert area2 >= 0, (pts, ring)

    def test_two_stage_reduce_is_lossless(self):
        """hull(∪ partition-local hulls) == hull(all points), for random
        partitionings — the mapInPandas pre-reduce's exactness claim."""
        from govgis_nov2023_slim_spatial_server_spark.catalog.geo_analytics import (
            _hull_ccw,
        )

        rng = random.Random(77)
        for _ in range(200):
            pts = sorted(
                {
                    (rng.randint(0, 60), rng.randint(0, 60))
                    for _ in range(rng.randint(1, 40))
                }
            )
            k = rng.randint(1, 4)
            parts = [[] for _ in range(k)]
            for p in pts:
                parts[rng.randrange(k)].append(p)
            survivors = sorted(
                {
                    q
                    for part in parts
                    if part
                    for q in _hull_ccw(sorted(set(part)))
                }
            )
            assert _hull_ccw(survivors) == _hull_ccw(pts), (pts, parts)

    def test_entry_on_known_layout(self, spark):
        """custkeys chosen so nation 0 is a unit square + interior point
        (4 vertices, area2 = 2·area), nation 1 a single point, nation 2
        exactly collinear (2 vertices, both directed edges, area 0).
        Lattice: x = k % 173, y = 7k % 181, k % 7 == 0."""
        # nation 0: k=7 →(7,49), 14→(14,98), 1211=7·173 →(0,156)…
        # easier: solve nothing — just read back expected from the
        # reference characterization on the derived points.
        ks0 = [7, 14, 21, 28, 35, 42, 49]
        ks1 = [56]
        ks2 = [63, 63 + 7 * 173 * 181]  # same x,y? no — same k mod 31313·7
        # k and k + 7·173·181 give identical (x, y): a cross-nation
        # duplicate position exercises per-group dedup independence.
        with tempfile.TemporaryDirectory() as d:
            ks = ks0 + ks1 + ks2
            nk = [0] * len(ks0) + [1] * len(ks1) + [2, 2]
            _write_customer(ks, nk, d)
            rows = QUERIES["spatial_convex_hull_edges"](spark, d).collect()
        got = {}
        for r in rows:
            got.setdefault(r.n_nationkey, set()).add(
                ((r.x, r.y), (r.nx, r.ny), r.n_vertices, r.area2)
            )
        for g, ks_g in ((0, ks0), (1, ks1), (2, [63, 63])):
            pts = [(k % 173, (7 * k) % 181) for k in ks_g]
            want_edges = _brute_hull_edges(pts)
            uniq = sorted(set(pts))
            want_m = len(
                {p for e in want_edges for p in e}
            ) if len(uniq) > 1 else 1
            want_area2 = (
                sum(p[0] * q[1] - q[0] * p[1] for p, q in want_edges)
                if want_m > 2
                else 0
            )
            want = {
                (p, q, want_m, want_area2) for p, q in want_edges
            }
            assert got[g] == want, (g, got[g], want)
        # nation 1 is the single-point self-loop
        assert all(e[0] == e[1] for e in got[1])
        # nation 2 deduped to ONE position → also a self-loop
        assert all(e[2] == 1 for e in got[2])

    def test_oracle_parity_sf0001(self, spark):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW customer AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/customer.parquet')"
        )
        want = sorted(
            [tuple(r) for r in
             con.execute(
                 ORACLES["spatial_convex_hull_edges"]
             ).fetchall()],
            key=repr,
        )
        con.close()
        got = sorted(
            [tuple(r) for r in
             QUERIES["spatial_convex_hull_edges"](
                 spark, SF_DIR
             ).collect()],
            key=repr,
        )
        assert len(got) > 5
        assert got == want

