"""Connected components over a pair/edge table — the clustering step that
turns near-duplicate PAIRS (MinHash/SimHash/embedding output) into dedup
GROUPS with one canonical survivor each. Not in the reference (its dedup is
single-table drop_duplicates); every production dedup pipeline needs it.

Algorithm: hash-min label propagation (the GraphX/Pregel standard) — each
node repeatedly adopts the minimum component id in its neighborhood until
fixpoint, so every node converges to min(reachable node id). Each iteration
is one equi-join + one groupBy (both shuffle on node id and co-partition
run-to-run); the driver-side loop carries only a convergence COUNT, never
data. Iterations needed = graph diameter — near-dup clusters are dense
(quasi-cliques), so 2-3 passes in practice; ``max_iter`` bounds adversarial
chains. At 100 TB this is exactly the large-graph CC recipe (hash-min with
checkpointed iterations); the oracle states the same fixpoint as a recursive
transitive-closure CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import checkpoint


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iter: int = 20,
) -> DataFrame:
    """(id, component) for every node appearing in ``edges`` (undirected);
    ``component`` = min node id reachable from ``id``. Deterministic."""
    sym = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    )
    sym = sym.union(sym.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # Checkpoint the edge table ONCE (r15, guide §3.3 — the pagerank/BFS
    # edges lesson applied here): every hash-min iteration joins against
    # `sym`, and without the barrier each of the ~diameter iterations
    # re-derived the caller's whole pair-generation subtree (for the
    # dedup entries: the label-blocked cosine self-join — measured 8-9 s
    # per entry at sf0.1, ~3x the materialized-edge cost). The
    # checkpointed rows are two 8-byte ids per edge.
    # Right-size the per-iteration map stages in the same job (r16,
    # guide §2.2/§6): every hash-min iteration otherwise schedules the
    # pair join's full shuffle width of near-empty tasks — see
    # session.checkpoint (profiled ~0.7 s/iteration here).
    sym = checkpoint(sym)
    nodes = sym.select(F.col("src").alias("id")).distinct()
    labels = nodes.select("id", F.col("id").alias("comp")).localCheckpoint(eager=True)

    # Checkpointed RDDs carry no stats, so every iteration's joins plan
    # as SMJ regardless of size — restore the decision Spark's own
    # threshold would make (r15, guide §3.1): broadcast the label table
    # while its estimated bytes (16 B/row) fit autoBroadcastJoinThreshold,
    # fall back to the co-partitioned SMJ for big graphs (the 100 TB
    # recipe in the module docstring is unchanged).
    _conf_val = str(
        sym.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
    )
    try:
        # SparkConf's own byte-string parser handles every unit-suffixed
        # form ('10MB', '1g', '100kb', plain bytes) — the rstrip('b')
        # hand-parse silently fell back to 10 MB on them (ADVICE r15).
        _thresh = int(
            sym.sparkSession.sparkContext._jvm.org.apache.spark.util.Utils.byteStringAsBytes(  # noqa: E501
                _conf_val
            )
        )
    except Exception:
        try:
            _thresh = int(_conf_val.lower().rstrip("b"))
        except ValueError:
            _thresh = 10 * 1024 * 1024
    # 64 B/row: 16 B of longs + UnsafeRow/relation overhead (the 16 B/row
    # estimate undercounted the built relation 3-5x — ADVICE r15).
    _bcast = _thresh > 0 and labels.count() * 64 <= _thresh

    def _hint(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if _bcast else df

    for _ in range(max_iter):
        # ONE join + ONE aggregation per iteration (r16, guide §2.4 —
        # was join→agg→left-join→project): each node's new label is
        # min(own comp, neighbor comps), computed by unioning the label
        # table itself (the "self message", tagged __own) with the
        # neighbor messages and taking a single map-combinable min per
        # node. The old label rides the same aggregation as
        # min(comp WHERE __own) — every node contributes exactly one own
        # message, so the conditional min IS the previous comp and the
        # left-join that used to recover it is gone. The union leg keeps
        # isolated nodes in the table (same role as the old left join).
        msgs = (
            sym.join(_hint(labels), sym.dst == labels.id)
            .select("src", "comp", F.lit(False).alias("__own"))
            .unionByName(
                labels.select(
                    F.col("id").alias("src"), "comp", F.lit(True).alias("__own")
                )
            )
        )
        # carry the per-node "label shrank" flag through the checkpoint
        # (r15): the convergence count then reads materialized rows
        # instead of re-joining the new labels against the old.
        new_labels = (
            msgs.groupBy("src")
            .agg(
                F.min("comp").alias("comp"),
                F.min(F.when(F.col("__own"), F.col("comp"))).alias("__old"),
            )
            .select(
                F.col("src").alias("id"),
                "comp",
                (F.col("comp") < F.col("__old")).alias("__chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.where(F.col("__chg")).count()
        labels = new_labels.select("id", "comp")
        if changed == 0:
            break
    return labels


def dedup_groups_from_pairs(
    pairs: DataFrame, id_a: str, id_b: str, max_iter: int = 20
) -> DataFrame:
    """Collapse a near-dup pair table into groups: one row per component
    with its canonical (minimum) id and member count — the shape a dedup
    writer consumes (keep canonical, drop the rest)."""
    comp = connected_components(pairs, id_a, id_b, max_iter=max_iter)
    return comp.groupBy("comp").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("id").alias("canonical_id"),
    )
