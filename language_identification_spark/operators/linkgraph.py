"""Link extraction and host-graph PageRank — the crawl-graph signals a
web-corpus pipeline derives from page markup (CommonCrawl publishes
exactly this host-level ranking; quality pipelines use it as a prior
and crawlers as a frontier priority). Net-new for the quality-filter
surface (no reference counterpart).

``extract_links``: anchor hrefs from raw HTML via one native
``regexp_extract_all`` in the Java ∩ RE2 dialect (the same discipline
as functions/html.py) — zero Python, fuses into the page scan.

``pagerank``: fixed-iteration PageRank over a (src, dst) edge table.
Exactness discipline: ranks live in integer MICRO-units (BIGINT).
Each iteration computes
    r'(v) = round((1-d)·1e6 / N) + Σ_{u→v} round(d · r(u) / outdeg(u))
with the rounding INSIDE the sum — per-edge contributions are integers,
so the cross-engine aggregation order cannot change the result and the
whole operator FULL-gates against a DuckDB twin unrolled from the same
constants (:func:`pagerank_sql`). This is the simplified variant that
does not redistribute dangling mass (dangling hosts keep teleport mass
only) — pinned in both engines identically.

Scale shape: one iteration = one equi-join of the edge table with the
|hosts|-row rank table + one map-side-combined sum. The edge table is
hash-partitioned on src ONCE and reused every round (at corpus scale:
persist/bucket it); the rank table is two columns (BIGINT, BIGINT).
K iterations = K narrow shuffles of the RANK table, never the corpus —
the same keyed-join loop discipline as dedup_components, including
eager localCheckpoint to stop lineage growth: each round's blocks are
freed once the next round is materialized, and only the returned rank
table's blocks outlive the call (the active ``pair_cache_scope`` frees
them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import local_checkpoint

# anchor href, double-quoted: capture group 1. Works unchanged in Java
# regex (Spark) and RE2 (DuckDB).
HREF_PATTERN = '<a[^>]*href="([^"]*)"'

MICRO = 1_000_000


def extract_links(
    df: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """(id, href) per anchor in the page markup, document order
    preserved by the extract; pages without anchors yield no rows."""
    return df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.col(html_col), F.lit(HREF_PATTERN), 1)
        ).alias("href"),
    )


def pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(node, rank_micro) after ``n_iter`` exact-integer PageRank
    iterations over distinct ``edges`` (duplicate edge rows count
    once — link multiplicity is a frontier signal, not a rank one).
    Nodes = every distinct src or dst. Initial rank = round(1e6/N).
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    ed, ed_blocks = local_checkpoint(e.join(deg, "src"))  # (src, dst, deg)
    nodes, node_blocks = local_checkpoint(nodes)
    n = nodes.count()
    # floor(x+0.5), not Python round(): Python rounds half-to-even while
    # Spark/DuckDB round() rounds half away from zero — these two
    # driver-side constants must follow the engines' convention.
    import math

    teleport = math.floor((1.0 - damping) * MICRO / n + 0.5)
    rank = nodes.withColumn(
        "rank_micro", F.lit(math.floor(MICRO / n + 0.5)).cast("long")
    )
    rank_blocks = None
    for _ in range(n_iter):
        contrib = (
            ed.join(rank, ed["src"] == rank["node"])
            .select(
                F.col("dst").alias("node"),
                F.round(
                    F.lit(damping) * F.col("rank_micro") / F.col("deg")
                )
                .cast("long")
                .alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        rank, new_blocks = local_checkpoint(
            nodes.join(contrib, "node", "left").select(
                "node",
                (
                    F.lit(teleport).cast("long")
                    + F.coalesce(F.col("inflow"), F.lit(0).cast("long"))
                ).alias("rank_micro"),
            )
        )
        if rank_blocks is not None:
            rank_blocks.release()  # previous round, no longer referenced
        rank_blocks = new_blocks
    ed_blocks.release()
    node_blocks.release()
    return rank


def pagerank_sql(
    edges_sql: str,
    n_iter: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> str:
    """DuckDB twin of :func:`pagerank`, unrolled to ``n_iter`` CTEs from
    the same integer-micro recurrence."""
    pre = f"""
      e AS (
        SELECT DISTINCT {src_col} AS src, {dst_col} AS dst
        FROM ({edges_sql})
      ),
      nodes AS (
        SELECT src AS node FROM e UNION SELECT dst FROM e
      ),
      deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY src),
      nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
      r0 AS (
        SELECT node, round({MICRO} / (SELECT n FROM nn))::BIGINT AS rank_micro
        FROM nodes
      )"""
    its = []
    for k in range(1, n_iter + 1):
        its.append(f"""
      r{k} AS (
        SELECT n.node,
               round((1 - {damping}) * {MICRO} / (SELECT n FROM nn))::BIGINT
               + coalesce(c.inflow, 0)::BIGINT AS rank_micro
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS node,
                 sum(round({damping} * r.rank_micro / d.deg)::BIGINT) AS inflow
          FROM e JOIN deg d USING (src)
                 JOIN r{k - 1} r ON r.node = e.src
          GROUP BY e.dst
        ) c USING (node)
      )""")
    return (
        "WITH " + pre + "," + ",".join(its)
        + f"\n      SELECT node, rank_micro FROM r{n_iter}"
    )
