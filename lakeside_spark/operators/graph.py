"""Link-analysis over the service-dependency graph: weighted PageRank.

The reference's service map (span-adjacency edges) answers "who calls
whom"; PageRank answers the follow-up — which service is structurally
central, weighted by traffic. Two sides of one auto-gate (at most
``LOCAL_EDGE_GATE`` edges runs local) behind one fixed-point contract
(Page et al. 1999):

- ``local`` (vocabulary-sized graphs): the edge table of
  a service graph is span-vocabulary² — bounded at ANY corpus size — so
  after the one distributed aggregation that builds it, the 10 power
  iterations run driver-side on the collected table (the same
  bounded-side-collect pattern as the DSIR weight table and the IVF
  quantizer sample). One Spark job instead of ~14.
- ``distributed``: the standard iterative join-based loop (edges ⋈ ranks
  on the source key + one dst-keyed aggregation per round) for graphs
  that are NOT vocabulary-bounded (e.g. user-interaction graphs), with
  lineage truncated via localCheckpoint every third round — iterative
  DataFrame algorithms must truncate or Catalyst analysis grows
  exponentially (the round-6 star-contraction lesson).

Both run the IDENTICAL fixed-point pipeline — per-edge contributions
snapped to 1e-9 integers (neighbor-sum order cannot perturb the result)
and the per-iteration rank re-snapped to 1e-9 with HALF_UP — so
local ≡ distributed ≡ the DuckDB recursive-CTE oracle, bit-for-bit
(pinned by pytest). One caveat: the bit-for-bit claim needs the per-src
out-weight sum to be order-independent, which holds for integer-valued
weights (edge counts, as shipped — sums are exact in double in any
order); fractional weights could drift an ULP between engines' sum
orders. Dangling nodes get the uniform-redistribution stochastic
completion: the local path (and the SQL oracle) keep it as explicit
``(u, v, 1/n)`` edges so every engine rounds the same terms; the
distributed path collapses it to ONE scalar per iteration — every dst
receives the identical snapped term ``round(r_u/n * 1e9)`` per dangling
``u``, so the sum of those terms broadcast to all nodes is bit-identical
to the explicit-edge form without the |dangling| x |nodes| blowup a
dangling-heavy graph would otherwise pay. Zero- and
NULL-weight edges are dropped up front (no transition mass; they would
otherwise zero an out-weight divisor).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakeside_spark import materialize as M

# above this many (vocab²) edges the collected table is no longer
# "bounded-side" and the join-based loop takes over
LOCAL_EDGE_GATE = 200_000


def _snap(x: float, digits: int) -> float:
    """HALF_UP decimal rounding of a double via its shortest repr —
    matches Spark's BigDecimal(Double.toString) ROUND_HALF_UP and (for
    positive values) DuckDB's round-half-away."""
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def _pagerank_local(
    edges: list[tuple[str, str, float]], iterations: int, d: float
) -> list[tuple[str, float]]:
    """Driver-side power iteration — the identical fixed-point pipeline
    as the distributed loop and the SQL oracle."""
    nodes = sorted({u for u, _, _ in edges} | {v for _, v, _ in edges})
    n = len(nodes)
    outw: dict[str, float] = {}
    for u, _, w in edges:
        outw[u] = outw.get(u, 0.0) + w
    trans = [(u, v, w / outw[u]) for u, v, w in edges]
    for u in nodes:
        if u not in outw:
            trans.extend((u, v, 1.0 / n) for v in nodes)
    teleport = (1.0 - d) / n
    r = {v: _snap(1.0 / n, 9) for v in nodes}
    for _ in range(iterations):
        in9 = {v: 0 for v in nodes}
        for u, v, p in trans:
            in9[v] += int(
                Decimal(repr(r[u] * p * 1e9)).quantize(
                    Decimal(1), rounding=ROUND_HALF_UP
                )
            )
        r = {v: _snap(teleport + d * (in9[v] / 1e9), 9) for v in nodes}
    return [(v, _snap(r[v], 6)) for v in nodes]


def _dangling_mass9(dangling: DataFrame, ranks: DataFrame, inv_n: float) -> int:
    """The scalar dangling completion for one iteration: every dst
    receives the IDENTICAL snapped term round(r_u * (1/n) * 1e9) from
    each dangling u, so their sum — one integer — replaces the
    |dangling| x |nodes| explicit uniform edges bit-for-bit. One small
    aggregation job per iteration, only on graphs that have dangling
    nodes at all."""
    row = (
        dangling.join(ranks, "node")
        .agg(
            F.coalesce(
                F.sum(F.round(F.col("r") * F.lit(inv_n) * 1e9).cast("long")),
                F.lit(0).cast("long"),
            ).alias("dang9")
        )
        .collect()
    )
    return int(row[0]["dang9"])


def _dist_step(
    nodes: DataFrame,
    trans: DataFrame,
    ranks: DataFrame,
    dang9: int,
    d: float,
    teleport: float,
) -> DataFrame:
    """One distributed power iteration: real-edge contributions in
    integer 1e-9 units (neighbor-sum order cannot perturb the result in
    any engine) plus the pre-collected scalar dangling mass injected as
    a literal — no cross join, no nested-loop join, ever."""
    contrib = (
        trans.join(ranks, trans["src"] == ranks["node"])
        .select(
            "dst",
            F.round(F.col("r") * F.col("p") * 1e9).cast("long").alias("c9"),
        )
        .groupBy("dst")
        .agg(F.sum("c9").alias("in9"))
    )
    return nodes.join(
        contrib, nodes["node"] == contrib["dst"], "left"
    ).select(
        "node",
        F.round(
            F.lit(teleport)
            + F.lit(d)
            * ((F.coalesce(F.col("in9"), F.lit(0)) + F.lit(dang9)) / 1e9),
            9,
        ).alias("r"),
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "n",
) -> DataFrame:
    """Weighted PageRank over ``(src, dst, weight)`` edges for a fixed
    iteration count. Returns (node, rank) with rank rounded to 6dp;
    ranks sum to ~1. Deterministic and oracle-exact (see module doc)."""
    spark = edges.sparkSession
    # zero/NULL-weight edges carry no transition mass and would divide a
    # zero out-weight (local raises, Spark yields NULL p) — drop them up
    # front so both sides of the gate see the identical graph
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("double").alias("w"),
    ).filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull() & (F.col("w") > 0)
    )

    # single-pass gate: take(gate+1) both decides AND delivers the rows
    # when the graph is bounded — the edge build (the dominant cost)
    # never runs twice
    head = e.take(LOCAL_EDGE_GATE + 1)
    if len(head) <= LOCAL_EDGE_GATE:
        rows = [(r["src"], r["dst"], r["w"]) for r in head]
        if not rows:
            return spark.createDataFrame([], "node string, rank double")
        out = _pagerank_local(rows, iterations, float(damping))
        return spark.createDataFrame(out, "node string, rank double")

    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    with M.held(nodes) as nodes:
        n_nodes = nodes.count()
        if n_nodes == 0:
            return spark.createDataFrame([], "node string, rank double")
        outw = e.groupBy("src").agg(F.sum("w").alias("wsum"))
        trans = e.join(outw, "src").select(
            "src", "dst", (F.col("w") / F.col("wsum")).alias("p")
        )
        # Dangling nodes: NOT completed as explicit |dangling| x |nodes|
        # uniform edges (quadratic on a dangling-heavy graph — the exact
        # regime the distributed path exists for). Each dst receives the
        # IDENTICAL snapped per-u term round(r_u * (1/n) * 1e9) from every
        # dangling u, so the whole completion collapses to one scalar per
        # iteration — the sum of those snapped terms — broadcast to every
        # node via a single-row hash join. Bit-identical to the local
        # path's explicit-edge form (pytest-pinned).
        dangling = nodes.join(
            outw.select(F.col("src").alias("node")), "node", "left_anti"
        )
        with M.held(trans) as trans, M.held(dangling) as dangling:
            d = float(damping)
            teleport = (1.0 - d) / n_nodes
            inv_n = 1.0 / n_nodes
            ranks = nodes.select("node", F.round(F.lit(inv_n), 9).alias("r"))
            # graphs with no dangling nodes (every node has an out-edge)
            # skip the per-iteration scalar job entirely
            has_dangling = bool(dangling.take(1))
            for it in range(iterations):
                dang9 = (
                    _dangling_mass9(dangling, ranks, inv_n) if has_dangling else 0
                )
                ranks = _dist_step(nodes, trans, ranks, dang9, d, teleport)
                # truncate lineage every 3rd round — every round when the
                # per-iteration dangling collect re-reads ranks anyway —
                # per-round checkpoints only multiply the job count, but
                # unbounded nesting blows up Catalyst analysis (the
                # round-6 lesson). The last round's checkpoint also cuts
                # the returned frame loose from the held frames.
                if has_dangling or it % 3 == 2 or it == iterations - 1:
                    ranks = M.checkpointed(ranks)
            return ranks.select("node", F.round(F.col("r"), 6).alias("rank"))
