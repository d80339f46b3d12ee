"""Graph queries (operators/graph): exact PageRank + triangle count.

Both run on graphs derived from the TPC-H-ish testdata:

* supply graph — bipartite supplier ↔ part edges from high-quantity
  lineitems (part ids offset by 10^7 into a disjoint node-id space);
* co-supply graph — supplier–supplier edges when two suppliers ship
  the same part (the unipartite projection).

Integer fixed-point arithmetic end to end (operators/graph docstring
has the argument), so the oracles are bit-exact unrolled CTEs, not
approximate comparisons.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hana_bq_beam_connector_spark.queries import register
from hana_bq_beam_connector_spark.sources.files import load_table

_PART_OFFSET = 10_000_000
_QTY_BAR = 45

_EDGES_SQL = f"""
    SELECT DISTINCT l_suppkey AS src,
           l_partkey + {_PART_OFFSET} AS dst
    FROM lineitem WHERE l_quantity >= {_QTY_BAR}
"""

_COSUPPLY_SQL = f"""
    SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
    FROM (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem
          WHERE l_quantity >= {_QTY_BAR}) a
    JOIN (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem
          WHERE l_quantity >= {_QTY_BAR}) b
      ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
"""


def _supply_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_quantity") >= _QTY_BAR
    )
    return li.select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + _PART_OFFSET).alias("dst"),
    ).distinct()


def _cosupply_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-supply supplier pairs (src < dst, duplicates across parts
    retained) expanded IN-PARTITION from per-part sorted supplier
    arrays — the rec-family basket reshape applied to the unipartite
    projection (r12, guide §2.3/§2.4).

    The former spelling evaluated ``SELECT DISTINCT l_suppkey,
    l_partkey`` TWICE (both self-join sides, each with its own
    distinct exchange) and then ran an equi-join whose map side
    burned ~48 CPU-s at sf0.1.  Here lineitem is scanned ONCE, one
    exchange by l_partkey builds the per-part supplier set
    (collect_set dedups, so no distinct pass is needed first), and
    the C(s,2) pairs expand from the sorted array in-partition —
    fan-out bounded by suppliers-per-part (TPC-H: 4), the same
    volume the join produced.  A pathological mega-part is the
    salting/AQE case, exactly as for mega-baskets."""
    from hana_bq_beam_connector_spark.operators._common import PAIR_ARR

    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_quantity") >= _QTY_BAR
    )
    psets = (
        li.select("l_partkey", "l_suppkey")
        .groupBy("l_partkey")
        .agg(F.sort_array(F.collect_set("l_suppkey")).alias("items"))
    )
    return (
        psets.select(F.explode_outer(F.expr(PAIR_ARR)).alias("pr"))
        .where(F.col("pr").isNotNull())
        .select(F.col("pr.p1").alias("src"), F.col("pr.p2").alias("dst"))
    )


def _pagerank_oracle(iters: int = 3) -> str:
    """Unrolled-CTE DuckDB spelling of pagerank_integer (85/100
    damping, 3 hops, integer micro-units)."""
    ctes = [
        f"edges0 AS ({_EDGES_SQL})",
        "edges AS (SELECT src, dst FROM edges0 "
        "UNION SELECT dst AS src, src AS dst FROM edges0)",
        "deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)",
        "pr0 AS (SELECT src AS node_id, CAST(1000000 AS BIGINT) AS pr "
        "FROM deg)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"pr{i} AS ("
            f"SELECT e.dst AS node_id, "
            f"CAST(150000 + (85 * SUM(p.pr // d.deg)) // 100 "
            f"AS BIGINT) AS pr "
            f"FROM edges e "
            f"JOIN pr{i - 1} p ON e.src = p.node_id "
            f"JOIN deg d ON e.src = d.src "
            f"GROUP BY e.dst)"
        )
    return (
        "WITH " + ",\n    ".join(ctes) + f"\n    SELECT node_id, pr FROM pr{iters}"
    )


@register(
    "graph_pagerank_supply",
    _pagerank_oracle(3),
    doc="Exact 3-hop PageRank (integer micro-units, 0.85 damping) "
    "over the supplier↔part supply graph.  Integer division makes "
    "the sum partial-agg-order independent, hence the bit-exact "
    "unrolled-CTE oracle; per hop: one equi-join + one groupBy, "
    "(id, int) pairs only through the exchanges.",
)
def graph_pagerank_supply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hana_bq_beam_connector_spark.operators.graph import (
        pagerank_integer,
        symmetrize,
    )

    edges = symmetrize(_supply_edges(spark, sf_dir))
    return pagerank_integer(edges, iters=3)


@register(
    "graph_triangle_cosupply",
    f"""
    WITH canon AS ({_COSUPPLY_SQL})
    SELECT COUNT(*) AS n_triangles FROM canon uv
    JOIN canon vw ON uv.dst = vw.src
    JOIN canon uw ON uw.src = uv.src AND uw.dst = vw.dst
    """,
    doc="Global triangle count of the supplier co-supply graph "
    "(suppliers sharing a high-quantity part).  Ordered-edge "
    "two-join formulation — each triangle counted once, no "
    "cartesian; production knob is degree-ordering for the "
    "O(E^1.5) bound (operators/graph.triangle_count).",
)
def graph_triangle_cosupply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hana_bq_beam_connector_spark.operators.graph import triangle_count

    # In-partition pair expansion replaces the distinct self-join
    # (r12, see _cosupply_pairs); triangle_count dedups internally
    # (its canon is .distinct()), so the pair multiset feeds it
    # unchanged.
    return triangle_count(_cosupply_pairs(spark, sf_dir))


_REACH_BODY = """reach(node_id, hop) AS (
      SELECT CAST({seed} AS BIGINT) AS node_id, 0 AS hop
      UNION ALL
      SELECT DISTINCT e.dst AS node_id, r.hop + 1 AS hop
      FROM reach r JOIN {edges} e ON e.src = r.node_id
      WHERE r.hop < 3
    )
    SELECT node_id, CAST(MIN(hop) AS BIGINT) AS min_hops
    FROM reach GROUP BY node_id
"""

_REACH_CTE = "WITH RECURSIVE " + _REACH_BODY

_SEED = 1


@register(
    "graph_reachability_cte",
    "WITH RECURSIVE edges0 AS ({edges0}),\n"
    "    edges AS (SELECT src, dst FROM edges0 "
    "UNION SELECT dst, src FROM edges0),\n".format(edges0=_EDGES_SQL)
    + _REACH_BODY.format(seed=_SEED, edges="edges"),
    doc="Bounded BFS reachability (≤3 hops from one supplier) via "
    "WITH RECURSIVE — Spark 4 executes recursive CTEs natively, so "
    "the exact SQL a warehouse user writes runs unchanged; per-level "
    "DISTINCT caps each frontier at |V| regardless of path count.  "
    "min-hop aggregate makes the result path-order independent.",
)
def graph_reachability_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hana_bq_beam_connector_spark.operators.graph import symmetrize

    symmetrize(_supply_edges(spark, sf_dir)).createOrReplaceTempView(
        "__reach_edges"
    )
    return spark.sql(_REACH_CTE.format(seed=_SEED, edges="__reach_edges"))


@register(
    "graph_copurchase_pairs",
    """
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    counted AS (
      SELECT p1, p2, CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM pairs GROUP BY p1, p2
    )
    SELECT p1, p2, n_orders, rank FROM (
      SELECT p1, p2, n_orders,
             ROW_NUMBER() OVER (ORDER BY n_orders DESC, p1, p2) AS rank
      FROM counted
    ) WHERE rank <= 20
    """,
    doc="Co-purchase pair mining (bipartite projection of the "
    "order-part graph): parts bought together in the same order, "
    "top-20 pairs by order count — the co-occurrence feature build "
    "behind 'frequently bought together'.  Baskets materialize as "
    "per-order sorted item arrays (one exchange) and pairs expand "
    "in-partition, so the fan-out per order is bounded by basket "
    "size squared (baskets are small; a pathological mega-basket "
    "would be capped or salted) — never a cross join; "
    "pair counts partial-aggregate map-side; the final top-k is "
    "TakeOrdered over already-reduced pair counts, no global sort.",
)
def graph_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from hana_bq_beam_connector_spark.operators._common import PAIR_ARR

    # Basket-array reshape (r11, guide §2.4 — same move as the rec
    # family): ONE exchange by l_orderkey with in-agg dedup, then
    # in-partition pair expansion from the sorted item array, instead
    # of a distinct shuffle plus BOTH self-join sides re-shuffling by
    # l_orderkey.  Identical pair multiset (sorted set ⇒ p1 < p2).
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("items"))
    )
    pairs = (
        baskets.select(F.explode_outer(F.expr(PAIR_ARR)).alias("pr"))
        .where(F.col("pr").isNotNull())
        .select("pr.p1", "pr.p2")
    )
    counted = pairs.groupBy("p1", "p2").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    top = counted.orderBy(F.col("n_orders").desc(), "p1", "p2").limit(20)
    w = Window.orderBy(F.col("n_orders").desc(), "p1", "p2")
    return top.select("p1", "p2", "n_orders", F.row_number().over(w).cast("long").alias("rank"))


@register(
    "graph_clustering_coefficient",
    f"""
    WITH canon AS ({_COSUPPLY_SQL}),
    tri AS (
      SELECT uv.src AS u, uv.dst AS v, vw.dst AS w
      FROM canon uv
      JOIN canon vw ON uv.dst = vw.src
      JOIN canon uw ON uw.src = uv.src AND uw.dst = vw.dst
    ),
    tnodes AS (
      SELECT u AS node_id FROM tri
      UNION ALL SELECT v FROM tri
      UNION ALL SELECT w FROM tri
    ),
    tcnt AS (
      SELECT node_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM tnodes GROUP BY node_id
    ),
    sym AS (
      SELECT src, dst FROM canon
      UNION SELECT dst AS src, src AS dst FROM canon
    ),
    deg AS (
      SELECT src AS node_id, CAST(COUNT(*) AS BIGINT) AS deg
      FROM sym GROUP BY src
    )
    SELECT d.node_id, d.deg,
      COALESCE(t.n_triangles, CAST(0 AS BIGINT)) AS n_triangles,
      CAST(2 * COALESCE(t.n_triangles, CAST(0 AS BIGINT)) AS DOUBLE)
        / CAST(d.deg * (d.deg - 1) AS DOUBLE) AS lcc
    FROM deg d LEFT JOIN tcnt t ON d.node_id = t.node_id
    WHERE d.deg >= 2
    """,
    doc="Local clustering coefficient per supplier in the co-supply "
    "graph: lcc(v) = 2*t(v) / (deg(v)*(deg(v)-1)) — how close each "
    "node's neighborhood is to a clique (the community-structure "
    "feature triangle COUNTS can't localize).  Per-node triangle "
    "counts come from the same ordered-edge two-join enumeration as "
    "graph_triangle_cosupply (each triangle credited to its three "
    "nodes via an explode — no per-node neighborhood join); degrees "
    "from the symmetrized edge set.  Exact integers until the single "
    "closing IEEE division; deg < 2 nodes are excluded (the "
    "coefficient is undefined there, and excluding them keeps the "
    "divisor nonzero in ANSI mode).  Scale: triangles via ordered "
    "edges (degree-ordering is the O(E^1.5) production knob); the "
    "per-node credit shuffle carries (id, 1) pairs only.",
)
def graph_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hana_bq_beam_connector_spark.operators._common import (
        persist_reused,
    )

    # r12 rewrite (guide §2.4, verdict item 5 — the query was 3.7 s
    # and serial at sf0.1): ONE pinned adjacency-array frame replaces
    # the former two pins (canon self-join + oriented edges) and the
    # wedge JOIN.  The edge set never materializes as a distinct
    # frame: co-supply pairs expand in-partition (_cosupply_pairs),
    # symmetrize through a 2-struct explode, and collect_set dedups
    # while building each node's neighbor set — so the old canon
    # distinct exchange disappears and lineitem is scanned once.
    pairs = _cosupply_pairs(spark, sf_dir)
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("src").alias("node"), F.col("dst").alias("nbr")
                ),
                F.struct(
                    F.col("dst").alias("node"), F.col("src").alias("nbr")
                ),
            )
        ).alias("e")
    ).select("e.node", "e.nbr")
    # REPARTITION_BY_NUM (not plain groupBy): the adjacency frame is
    # ~1 MB at sf0.1, so AQE would coalesce it to one task — but the
    # wedge expansion below is compute-dense per BYTE, and r11's
    # profile showed the whole triangle phase serialized on a single
    # 3 CPU-s task.  Width = parallelism/4, not full parallelism:
    # each broadcast-probe task in the wedge stage pays a measured
    # ~0.3-1 CPU-s fixed cost (relation copy + interpreted pipeline
    # setup; measured with a 32-row probe side: 8.3 CPU-s across 32
    # tasks of nothing), so quarter-width keeps the stage parallel
    # while amortizing that cost — interleaved A/B at sf0.1: whole
    # query 2.8 s at AQE-coalesced width, 2.2 s at width 8, and the
    # 8-core run would pay 32×1.1 CPU-s at full width.  Scales with
    # the cluster (a real deployment's parallelism/4 is still
    # hundreds of tasks).
    adj = persist_reused(
        sym.repartition(
            max(2, spark.sparkContext.defaultParallelism // 4), "node"
        )
        .groupBy("node")
        .agg(F.collect_set("nbr").alias("nbrs"))
    )
    # Degree-ordered orientation (Schank & Wagner — the O(E^1.5)
    # triangle knob): every edge is kept only from its lower-(deg,
    # id) endpoint, so the wedge join always pivots on each wedge's
    # LOWEST-degree corner and Σ out_deg² is bounded by O(E^1.5)
    # under any skew.  The triangle SET is orientation-invariant —
    # each triangle is enumerated exactly once from its minimum
    # corner — so the oracle's id-oriented SQL needs no change.
    # deg(v) rides a second scan of the pinned adjacency cache
    # (size(nbrs)), joined to the exploded edges; at this SF that
    # join is a broadcast, at scale AQE picks the shuffle.  oriented
    # stays PINNED: three consumers, and — measured this round — the
    # pin's accurate in-memory size estimate (~1.7 MB at sf0.1) is
    # what lets the planner choose static broadcast joins for the
    # wedge phase; without it the second join's input estimate blows
    # up and the ~6.4M-row wedge stream gets exchanged AND sorted
    # for a sort-merge join (36 executor-CPU-s vs ~3).  The wedge
    # expansion itself stays the uv⋈vw equi-JOIN on purpose: this
    # graph is DENSE (sf0.1: 1 000 nodes, avg degree 227), and an
    # in-partition array reshape of the wedges was measured 140×
    # slower (441 vs ~3 CPU-s) — interpreted higher-order
    # slice/transform allocates a struct per wedge, codegen'd joins
    # just stream rows.  Because oriented materializes from the
    # width-pinned adjacency cache, its own cached partitioning
    # keeps the wedge stage at full width too (the r11 plan ran the
    # whole triangle phase on ONE AQE-coalesced task).
    edges = adj.select(
        F.col("node").alias("u"),
        F.size("nbrs").alias("du"),
        F.explode("nbrs").alias("v"),
    )
    degs = adj.select(
        F.col("node").alias("v"), F.size("nbrs").alias("dv")
    )
    lo_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = persist_reused(
        edges.join(degs, "v").where(lo_first).select("u", "v")
    )
    uv = oriented
    vw = oriented.select(F.col("u").alias("v"), F.col("v").alias("w"))
    uw = oriented.select(F.col("u"), F.col("v").alias("w"))
    tri = uv.join(vw, "v").join(uw, ["u", "w"])
    tcnt = (
        tri.select(
            F.explode(F.array("u", "v", "w")).alias("node_id")
        )
        .groupBy("node_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    deg = adj.select(
        F.col("node").alias("node_id"),
        F.size("nbrs").cast("bigint").alias("deg"),
    )
    t = F.coalesce(F.col("n_triangles"), F.lit(0).cast("bigint"))
    return (
        deg.join(tcnt, "node_id", "left")
        .where(F.col("deg") >= 2)
        .select(
            "node_id",
            "deg",
            t.alias("n_triangles"),
            (
                (2 * t).cast("double")
                / (F.col("deg") * (F.col("deg") - 1)).cast("double")
            ).alias("lcc"),
        )
    )


@register(
    "graph_degree_assortativity",
    f"""
    WITH e0 AS ({_EDGES_SQL}),
    e AS (
      SELECT src, dst FROM e0
      UNION ALL
      SELECT dst AS src, src AS dst FROM e0
    ),
    deg AS (SELECT src AS node, COUNT(*) AS d FROM e GROUP BY 1),
    ed AS (
      SELECT da.d AS dx, db.d AS dy
      FROM e JOIN deg da ON e.src = da.node
             JOIN deg db ON e.dst = db.node
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS ne,
        CAST(SUM(CAST(dx AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sx,
        CAST(SUM(CAST(dy AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sy,
        CAST(SUM(CAST(dx AS DECIMAL(19,0)) * CAST(dy AS DECIMAL(19,0)))
             AS DECIMAL(38,0)) AS sxy,
        CAST(SUM(CAST(dx AS DECIMAL(19,0)) * CAST(dx AS DECIMAL(19,0)))
             AS DECIMAL(38,0)) AS sxx,
        CAST(SUM(CAST(dy AS DECIMAL(19,0)) * CAST(dy AS DECIMAL(19,0)))
             AS DECIMAL(38,0)) AS syy
      FROM ed
    )
    SELECT ne,
      (CAST(ne AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      / SQRT((CAST(ne AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           * (CAST(ne AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        AS assortativity
    FROM m
    """,
    doc="Degree assortativity of the supply graph — Pearson "
    "correlation of endpoint degrees over every DIRECTED edge "
    "(the standard Newman r; both orientations included so the "
    "statistic is symmetric).  Negative r = hubs attach to leaves "
    "(the usual supplier-part shape); positive = rich club.  "
    "Pipeline: one distinct-edge build, one O(nodes) degree "
    "aggregate joined back twice (degree table is small — "
    "broadcastable at any realistic node count), then exact "
    "DECIMAL(38,0) moment sums over edges and the textbook closing "
    "IEEE expression — corr() is never used (its streaming update "
    "order is partition-dependent).  Envelope: Σd² ≤ E·max_deg² "
    "stays exact in DECIMAL(38) to ~1e12 edges.",
)
def graph_degree_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e0 = _supply_edges(spark, sf_dir)
    e = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    ed = (
        e.join(
            F.broadcast(deg.select(F.col("node"), F.col("d").alias("dx"))),
            e["src"] == F.col("node"),
        )
        .drop("node")
        .join(
            F.broadcast(deg.select(F.col("node"), F.col("d").alias("dy"))),
            F.col("dst") == F.col("node"),
        )
        .select("dx", "dy")
    )
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    m = ed.agg(
        F.count(F.lit(1)).cast("bigint").alias("ne"),
        F.sum(d19("dx")).cast("decimal(38,0)").alias("sx"),
        F.sum(d19("dy")).cast("decimal(38,0)").alias("sy"),
        F.sum(d19("dx") * d19("dy")).cast("decimal(38,0)").alias("sxy"),
        F.sum(d19("dx") * d19("dx")).cast("decimal(38,0)").alias("sxx"),
        F.sum(d19("dy") * d19("dy")).cast("decimal(38,0)").alias("syy"),
    )
    r = (
        "(CAST(ne AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / SQRT((CAST(ne AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        " * (CAST(ne AS DOUBLE) * CAST(syy AS DOUBLE)"
        " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
    )
    return m.select("ne", F.expr(r).alias("assortativity"))
