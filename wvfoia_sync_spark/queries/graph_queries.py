"""Graph shapes over the star schema: PageRank, triangle counting.

Split from the monolithic registry.py (round 4, verdict item 8) —
mechanical move, no query renames; in-module order preserves the
original registration order. Queries register into wvfoia_sync_spark.
registry's QUERIES/ORACLE via the shared @register decorator.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..registry import (
    register,
)
from ..sources.tables import load_table

_Q = 1_000_000_000.0  # 9-decimal quantization base


def _pagerank_step(nodes, edges_norm, ranks, damping=0.85, base=0.15):
    """One deterministic PageRank iteration: contributions are quantized
    to 9 decimals via ``floor(x*1e9 + 0.5)`` — multiply, add, and floor
    are all exactly specified IEEE-754 double ops, so BOTH engines
    produce the identical integer from the identical expression shape —
    then summed as EXACT BIGINTs (order-independent), and the new rank
    is re-quantized the same way. This replaced ROUND(x, 9) +
    DECIMAL(28,9) casts, whose half-way tie-breaking is engine-specific
    when the double sits within an ulp of a 9th-decimal boundary — a
    divergence the sf0.1 sweep caught that sf0.01 row counts never
    produced (same class as the r5 partition_pruned_revenue ulp
    finding). Values are all positive, so floor(x+0.5) is exactly
    round-half-up in both engines."""
    # No broadcast hints: AQE broadcasts these node-sized frames anyway (identical plan).
    contrib = (
        edges_norm.join(ranks, edges_norm.src == ranks.node)
        .select(
            F.col("dst").alias("to_node"),
            F.floor(
                F.col("r") * F.col("wn") * F.lit(_Q) + F.lit(0.5)
            ).alias("c"),
        )
        .groupBy("to_node")
        .agg(F.sum("c").alias("in_sum"))
    )
    return (
        nodes.join(contrib, nodes.node == F.col("to_node"), "left")
        .select(
            "node",
            (
                F.floor(
                    (
                        # base is its OWN literal, never 1.0 - damping:
                        # Python's 1.0 - 0.85 is 0.15000000000000002, a
                        # DIFFERENT double from the SQL literal 0.15 —
                        # 2.8e-17 of skew that flips a quantization
                        # boundary once at sf0.1 row counts
                        F.lit(base)
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("in_sum"), F.lit(0)).cast("double")
                            / F.lit(_Q)
                        )
                    )
                    * F.lit(_Q)
                    + F.lit(0.5)
                ).cast("double")
                / F.lit(_Q)
            ).alias("r"),
        )
    )



@register(
    "nation_pagerank",
    oracle="""
    WITH edges AS (
      SELECT cn.n_nationkey AS src, sn.n_nationkey AS dst,
             COUNT(*) AS w
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
      JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
      GROUP BY 1, 2
    ), outw AS (
      SELECT src, SUM(w) AS tw FROM edges GROUP BY src
    ), en AS (
      SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / CAST(o.tw AS DOUBLE) AS wn
      FROM edges e JOIN outw o ON o.src = e.src
    ), nodes AS (
      SELECT n_nationkey AS node, n_name FROM nation
    ), it0 AS (
      SELECT node, CAST(1.0 AS DOUBLE) AS r FROM nodes
    ), it1 AS (
      SELECT n.node,
             CAST(floor((0.15 + 0.85 * (CAST(COALESCE(s.t, 0) AS DOUBLE)
                                        / 1000000000.0))
                        * 1000000000.0 + 0.5) AS DOUBLE)
               / 1000000000.0 AS r
      FROM nodes n LEFT JOIN (
        SELECT en.dst,
               SUM(CAST(floor(it0.r * en.wn * 1000000000.0 + 0.5) AS BIGINT)) AS t
        FROM en JOIN it0 ON it0.node = en.src GROUP BY en.dst
      ) s ON s.dst = n.node
    ), it2 AS (
      SELECT n.node,
             CAST(floor((0.15 + 0.85 * (CAST(COALESCE(s.t, 0) AS DOUBLE)
                                        / 1000000000.0))
                        * 1000000000.0 + 0.5) AS DOUBLE)
               / 1000000000.0 AS r
      FROM nodes n LEFT JOIN (
        SELECT en.dst,
               SUM(CAST(floor(it1.r * en.wn * 1000000000.0 + 0.5) AS BIGINT)) AS t
        FROM en JOIN it1 ON it1.node = en.src GROUP BY en.dst
      ) s ON s.dst = n.node
    ), it3 AS (
      SELECT n.node,
             CAST(floor((0.15 + 0.85 * (CAST(COALESCE(s.t, 0) AS DOUBLE)
                                        / 1000000000.0))
                        * 1000000000.0 + 0.5) AS DOUBLE)
               / 1000000000.0 AS r
      FROM nodes n LEFT JOIN (
        SELECT en.dst,
               SUM(CAST(floor(it2.r * en.wn * 1000000000.0 + 0.5) AS BIGINT)) AS t
        FROM en JOIN it2 ON it2.node = en.src GROUP BY en.dst
      ) s ON s.dst = n.node
    )
    SELECT nodes.n_name AS nation, it3.r AS rank
    FROM it3 JOIN nodes ON nodes.node = it3.node
    ORDER BY rank DESC, nation ASC
    """,
)
def nation_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the nation trade graph (customer nation ->
    supplier nation, edge weight = lineitem count), 3 unrolled
    iterations. The iterative-algorithm template on Spark: the EXPENSIVE
    step is the edge build (one fact-fact join + dims, aggregated down
    to node-cardinality), after which every iteration is a broadcast
    join over the |nodes| rank table — the iteration never touches raw
    data again, so 100 TB of facts cost one pass regardless of iteration
    count. Determinism: per-iteration floor(x*1e9+0.5) quantization +
    exact BIGINT contribution sums make the float arithmetic
    order-independent AND engine-portable (pure IEEE ops — see
    _pagerank_step for why ROUND+DECIMAL casts were not), which is what
    lets a SQL engine unrolling the same recurrence hash-match
    bit-for-bit."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("c_nationkey").cast("int").alias("src"),
            F.col("s_nationkey").cast("int").alias("dst"),
        )
        .agg(F.count("*").alias("w"))
    )
    outw = edges.groupBy(F.col("src").alias("ow_src")).agg(
        F.sum("w").alias("tw")
    )
    # checkpoint the normalized edges: without it every iteration's
    # lineage re-derives the FULL fact join (3 copies of the expensive
    # subtree in one plan — observed), breaking the one-fact-pass
    # promise. Edges are node^2-bounded rows. A local checkpoint belongs
    # to this frame alone, so no later query is served its rows.
    en = (
        edges.join(F.broadcast(outw), edges.src == F.col("ow_src"))
        .select(
            "src",
            "dst",
            (F.col("w").cast("double") / F.col("tw").cast("double")).alias("wn"),
        )
        .localCheckpoint(eager=False)
    )
    nodes = n.select(F.col("n_nationkey").cast("int").alias("node"), "n_name")
    ranks = nodes.select("node", F.lit(1.0).alias("r"))
    for _ in range(3):
        ranks = _pagerank_step(nodes.select("node"), en, ranks)
    return (
        ranks.join(F.broadcast(nodes), "node")
        .select(F.col("n_name").alias("nation"), F.col("r").alias("rank"))
        .orderBy(F.col("rank").desc(), F.col("nation").asc())
    )



@register(
    "triangle_count",
    oracle="""
    WITH e0 AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
    ),
    m AS (
      SELECT CAST(SUM(w) AS DOUBLE) / COUNT(*) AS avg_w FROM e0
    ),
    e AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM e0, m WHERE w >= 1.2 * m.avg_w AND src <> dst
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    parts AS (
      SELECT x AS nationkey FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    SELECT CAST(nationkey AS INT) AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM parts GROUP BY 1 ORDER BY 1
    """,
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the thresholded nation trade graph — the
    third graph shape beside PageRank and connected components. The
    classic distributed recipe: canonicalize edges to a < b (kills
    duplicate orientations AND makes every triangle countable exactly
    once as a<b<c), then two self-joins — wedge build (a-b, b-c) plus
    the closing-edge check (a-c). Each participating node is credited
    via explode. At 100 TB the wedge join is the quadratic hazard; the
    canonical ordering means each wedge is built once not six times, and
    the heavy-hitter guard is the weight threshold — 1.2x the mean edge
    weight, data-relative so the graph stays comparably sparse at every
    SF (a broadcast scalar, identical IEEE arithmetic both engines;
    production would also degree-cap). Node-cardinality joins here: the only fact-sized
    pass is the edge build, shared shape with nation_pagerank."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    e0 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("c_nationkey").cast("int").alias("src"),
            F.col("s_nationkey").cast("int").alias("dst"),
        )
        .agg(F.count("*").alias("w"))
        # persist: the edge aggregate feeds BOTH the mean-threshold
        # scalar and the filtered edge set — without it the fact join
        # lineage runs twice (same pattern as nation_pagerank's edges;
        # node^2-bounded rows, the table production would checkpoint)
        .persist()
    )
    thr = e0.agg(
        (F.sum("w").cast("double") / F.count("*")).alias("avg_w")
    )
    e0 = e0.join(F.broadcast(thr)).where(
        (F.col("w") >= F.lit(1.2) * F.col("avg_w"))
        & (F.col("src") != F.col("dst"))
    )
    e = e0.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y2"), F.col("b").alias("z"))
    e3 = e.select(F.col("a").alias("x3"), F.col("b").alias("z3"))
    tri = (
        e1.join(e2, F.col("y") == F.col("y2"))
        .join(e3, (F.col("x") == F.col("x3")) & (F.col("z") == F.col("z3")))
        .select("x", "y", "z")
    )
    return (
        tri.select(
            F.explode(F.array("x", "y", "z")).alias("nationkey")
        )
        .groupBy("nationkey")
        .agg(F.count("*").cast("long").alias("n_triangles"))
        .orderBy("nationkey")
    )

