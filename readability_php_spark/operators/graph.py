"""Link-graph operators for web-corpus curation.

A Common-Crawl-scale corpus carries a host-level link graph (src host →
dst host, one edge per outlink), and host centrality (PageRank) is a
standard quality prior for pretraining-data selection (e.g. the original
GPT-2 WebText used inbound-link karma; CC-derived corpora weight by host
rank).  The reference library extracts per-document links
(`/root/reference/src/Readability.php` postProcessContent url
absolutization) but has no corpus-level notion; this module is the
beyond-reference corpus layer on top of those extracted links.

Scale shape: PageRank is the canonical iterate-until-converged Spark
workload — per iteration one join edges⋈ranks (shuffle on src), one
map-side-combined sum agg (shuffle on dst), and a left join back to the
node set.  Ranks are ``localCheckpoint``-ed every iteration so the plan
stays O(1) deep regardless of iteration count (lineage truncation —
without it the DAG doubles per iteration and the driver OOMs planning
iteration ~30).  The dangling-mass term is a single-scalar aggregate per
iteration (bounded driver data, same discipline as the k-centroid
collects in similarity.py).

Cross-engine determinism (the IVF trajectory trick, see
operators/similarity.py): ranks are rounded to ``round_decimals`` after
EVERY iteration, so the whole trajectory is exactly replayable as
unrolled SQL — summation-order float noise (~1e-16) can never accumulate
across iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import collect_at_most

#: Edge-count ceiling for the driver-local PageRank path.  Host-level
#: graphs are orders of magnitude smaller than their corpora (one node per
#: HOST), so gate/bench graphs and many production host graphs fit; a real
#: 10^8-edge web-host graph falls through to the distributed loop.
PAGERANK_LOCAL_MAX_EDGES = 500_000


def _round_half_up(x: float, decimals: int) -> float:
    """Spark's ``round(x, d)`` exactly: HALF_UP over the double's exact
    decimal expansion (java.math.BigDecimal semantics, not Python
    banker's rounding) — the same replica as similarity._round6_half_up."""
    import decimal

    q = decimal.Decimal(1).scaleb(-decimals)
    return float(
        decimal.Decimal(x).quantize(q, rounding=decimal.ROUND_HALF_UP)
    )


def _pagerank_local(
    edge_rows, iterations: int, damping: float, round_decimals: int
):
    """Driver-side replay of the distributed loop on collected (src, dst)
    rows: same init, same dangling-mass redistribution, same per-iteration
    HALF_UP rounding.  Summation order differs from Spark's partial
    aggregates only below the per-iteration rounding tolerance — the same
    cross-engine envelope the DuckDB oracle already rides."""
    nodes = sorted({s for s, _ in edge_rows} | {d for _, d in edge_rows})
    n = len(nodes)
    if n == 0:
        return []
    out_deg: dict = {}
    for s, _ in edge_rows:
        out_deg[s] = out_deg.get(s, 0) + 1
    base = (1.0 - damping) / n
    init = _round_half_up(1.0 / n, round_decimals)
    ranks = {v: init for v in nodes}
    for _ in range(iterations):
        dangling = sum(r for v, r in ranks.items() if v not in out_deg)
        contrib: dict = {}
        for s, d in edge_rows:
            contrib[d] = contrib.get(d, 0.0) + ranks[s] / out_deg[s]
        ranks = {
            v: _round_half_up(
                base + damping * (contrib.get(v, 0.0) + dangling / n),
                round_decimals,
            )
            for v in nodes
        }
    return sorted(ranks.items())


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
    round_decimals: int = 6,
) -> DataFrame:
    """Fixed-iteration PageRank over an edge list; returns
    ``(node, rank)`` with ranks rounded to ``round_decimals``.

    Semantics: standard damped PageRank with dangling-mass
    redistribution —

        rank'(v) = (1-d)/N + d * ( sum_{u->v} rank(u)/outdeg(u)
                                   + dangling_mass/N )

    where ``dangling_mass`` is the total rank parked on nodes with no
    out-edges.  Duplicate edges count with multiplicity (a host linking
    another host k times votes k/outdeg of its rank, matching the
    outlink-count interpretation).  Total rank stays 1 (± rounding) every
    iteration.

    Fixed ``iterations`` rather than a convergence test: at corpus scale
    a convergence check is an extra full pass per iteration, and 5-20
    damped iterations is the standard operating point; callers that need
    a tolerance can compare two successive calls.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    # A host graph under PAGERANK_LOCAL_MAX_EDGES is collected once and
    # iterated driver-side — ONE bounded job (the limited collect doubles
    # as the size probe) instead of 2 jobs (dangling scalar + checkpoint)
    # per iteration.  persist() so an over-ceiling graph doesn't run the
    # (regex-extraction) edge lineage once per loop round.
    e = edges.select(
        F.col(src_col).cast("string").alias("src"),
        F.col(dst_col).cast("string").alias("dst"),
    ).persist()
    rows = collect_at_most(e, PAGERANK_LOCAL_MAX_EDGES)
    if rows is not None:
        e.unpersist()
        return edges.sparkSession.createDataFrame(
            _pagerank_local(
                [(r.src, r.dst) for r in rows],
                iterations, damping, round_decimals,
            ),
            "node string, rank double",
        )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    out_deg = e.groupBy("src").agg(F.count("*").alias("out_deg")).persist()
    try:
        n = nodes.count()  # bounded: one long
        if n == 0:
            return nodes.select("node", F.lit(0.0).alias("rank"))
        base = (1.0 - damping) / n
        ranks = nodes.select(
            "node", F.round(F.lit(1.0 / n), round_decimals).alias("rank")
        ).localCheckpoint()
        for _ in range(iterations):
            # rank mass parked on dangling nodes (no out-edges): a single
            # scalar per iteration, summed over already-rounded ranks.
            dangling = (
                ranks.join(out_deg, ranks["node"] == out_deg["src"], "left_anti")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
                .first()[0]
            )
            contrib = (
                e.join(ranks, e["src"] == ranks["node"])
                .join(out_deg, "src")
                .groupBy("dst")
                .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("m"))
            )
            ranks = (
                nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
                .select(
                    "node",
                    F.round(
                        F.lit(base)
                        + damping * (F.coalesce(F.col("m"), F.lit(0.0)) + dangling / n),
                        round_decimals,
                    ).alias("rank"),
                )
                .localCheckpoint()  # eager: truncates lineage, O(1) plan depth
            )
        return ranks
    finally:
        nodes.unpersist()
        out_deg.unpersist()
        e.unpersist()
