"""Graph queries over the capped part co-order graph (and the
supplier->part multigraph): triangle census, BFS hops, degree
assortativity, k-core, HyperBall, temporal reachability and
personalized PageRank. Each DuckDB oracle runs a different algorithm
(self-joins, recursive or unrolled CTEs) over the same edges.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tablite_spark.plans.hints import maybe_broadcast, respread
from tablite_spark.plans.lifecycle import pin, pinned
from tablite_spark.registry._base import _t

ORACLES: dict[str, str] = {}


def _co_order_pairs(li: DataFrame, cap: int = 5) -> DataFrame:
    """(bk, src, dst) co-order part pairs of the capped basket graph
    — one row per (basket, unordered pair), ``src < dst``. Shared by
    the six graph queries; consumers drop ``bk`` and add
    ``.distinct()`` when they need the simple graph.

    r14 optimization round (guide §2.2, shuffle less): the original
    four-exchange pipeline (distinct (bk,it) → basket census →
    cap semi-join → bk self-join) is ONE combinable ``collect_set``
    groupBy plus an in-row pair expansion — the census, the cap
    filter and the pair fan-out all happen inside the aggregated row
    (a kept basket holds <= ``cap`` items, so it fans out to
    <= cap·(cap-1)/2 structs). Multiset-identical to the self-join
    (verified at sf0.01: 52,049 = 52,049 rows, zero exceptAll diff);
    the oracle SQL keeps the self-join formulation — two different
    pair expansions agreeing.

    The single-row-group lineitem scan is spread across cores before
    the groupBy so the partial collect_set (the map side of the one
    shuffle) fills the machine instead of one task; the pair set is
    order-free (x < y expansion), so the result is partition- and
    set-order-invariant. No-op at corpus scale."""
    return (respread(li)
            .filter(F.col("l_orderkey").isNotNull()
                    & F.col("l_partkey").isNotNull())
            .groupBy(F.col("l_orderkey").alias("bk"))
            .agg(F.collect_set("l_partkey").alias("__items__"))
            .filter(F.size("__items__") <= cap)
            .select("bk", F.explode(F.expr(
                "flatten(transform(__items__, x -> "
                "transform(filter(__items__, y -> y > x), "
                "y -> struct(x AS src, y AS dst))))")).alias("p"))
            .select("bk", "p.src", "p.dst"))


def triangle_count_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle census of the part co-order graph
    (``pipeline/graph.py:triangle_count``): nodes are parts, an edge
    joins two parts co-ordered in a ≤5-item basket (the item_cosine
    valve), and the count runs on the degree-ordered orientation —
    every node's out-degree is O(sqrt|E|), so the wedge join fans
    out by ORIENTED degree, never a hub's raw degree. The oracle is
    the plain a<b<c triple self-join: two different triangle
    algorithms agreeing. All counts exact BIGINT; the transitivity
    coefficient rounds at the boundary."""
    from tablite_spark.pipeline.graph import triangle_count
    li = _t(spark, sf, "lineitem")
    edges = _co_order_pairs(li).select("src", "dst")
    out = triangle_count(edges, "src", "dst")
    return out.select("n_nodes", "n_edges", "n_triangles",
                      "n_wedges",
                      (F.round(F.col("clustering"), 6) + 0)
                      .alias("clustering"))


ORACLES["triangle_count_lineitem"] = """
    WITH base AS (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ), small AS (
        SELECT bk FROM base GROUP BY 1 HAVING count(*) <= 5
    ), capped AS (
        SELECT base.* FROM base JOIN small USING (bk)
    ), e AS (
        SELECT DISTINCT l.it AS u, r.it AS v
        FROM capped l JOIN capped r
          ON l.bk = r.bk AND l.it < r.it
    ), deg AS (
        SELECT n, count(*) AS d FROM (
            SELECT u AS n FROM e UNION ALL SELECT v FROM e
        ) GROUP BY 1
    ), tri AS (
        SELECT count(*) AS t
        FROM e e1 JOIN e e2 ON e1.v = e2.u AND e1.u < e2.v
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           (SELECT CAST(t AS BIGINT) FROM tri) AS n_triangles,
           (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) FROM deg)
               AS n_wedges,
           CASE WHEN (SELECT sum(d * (d - 1) / 2) FROM deg) > 0
                THEN ROUND(3.0 * (SELECT t FROM tri)
                           / (SELECT sum(d * (d - 1) / 2) FROM deg),
                           6) + 0 END AS clustering
"""


def bfs_hops_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Hop distance from a seed set over the capped part co-order
    graph (the triangle-count graph): every part within 3 co-order
    hops of a seed part (partkey % 13 == 0), with its minimum hop
    count — the "k links from a trusted set" lineage-curation query.
    Runs on ``pipeline/graph.py:bfs_hops`` (Pregel frontier rounds:
    frontier ⋈ edges + combinable min + anti-join against settled
    state, localCheckpoint-pinned); the oracle is a DuckDB RECURSIVE
    CTE — two different traversal algorithms agreeing."""
    from tablite_spark.pipeline.graph import bfs_hops
    li = _t(spark, sf, "lineitem")
    # no .distinct(): bfs_hops' own und/nodes distincts dedupe —
    # an intermediate distinct would just add a 4th shuffle. The
    # pair frame is scanned by BOTH the seed derivation and the
    # traversal's und build, so pin it for the (eager) call
    with pinned(_co_order_pairs(li).select("src", "dst"),
                eager=False) as edges:
        nodes = (edges.select(F.col("src").alias("node"))
                 .unionByName(edges.select(F.col("dst").alias("node")))
                 .distinct())
        seeds = nodes.filter(F.col("node") % 13 == 0)
        out = bfs_hops(edges, seeds, "src", "dst", max_hops=3)
    return out.select(F.col("node").cast("long").alias("node"),
                      "hops")


ORACLES["bfs_hops_lineitem"] = """
    WITH RECURSIVE base AS (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ), small AS (
        SELECT bk FROM base GROUP BY 1 HAVING count(*) <= 5
    ), capped AS (
        SELECT base.* FROM base JOIN small USING (bk)
    ), e AS (
        SELECT DISTINCT l.it AS u, r.it AS v
        FROM capped l JOIN capped r
          ON l.bk = r.bk AND l.it < r.it
    ), und AS (
        SELECT u AS a, v AS b FROM e
        UNION SELECT v, u FROM e
    ), seeds AS (
        SELECT DISTINCT a AS n FROM und WHERE a % 13 = 0
    ), r(node, hops) AS (
        SELECT n, 0 FROM seeds
        UNION
        SELECT und.b, r.hops + 1
        FROM r JOIN und ON und.a = r.node
        WHERE r.hops < 3
    )
    SELECT CAST(node AS BIGINT) AS node,
           CAST(min(hops) AS BIGINT) AS hops
    FROM r GROUP BY 1
"""


def assortativity_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Pearson degree assortativity of the capped part co-order
    graph (the triangle-count graph): do high-degree parts co-order
    with high-degree parts? Sums accumulate over BOTH edge
    orientations as exact BIGINTs (Σd, Σd², Σd_u d_v — the Pearson
    operands), the ratio divides once at the boundary; a regular
    graph (zero variance) ships NULL on both engines. Degree census
    + two keyed joins — combinable end to end, no windows."""
    li = _t(spark, sf, "lineitem")
    # r14 optimization round (guide §2.1, §3.1 — the triangle_count
    # pattern): the edge frame feeds the degree census AND both join
    # sides, and deg feeds three references — unpinned, the whole
    # co-order pipeline replayed 16x in the physical plan. Pin each
    # once; the count (needed for broadcast sizing anyway) drives a
    # count-driven broadcast of the node-bounded degree census so the
    # edge frame is never shuffled (shuffle-join fallback past the
    # budget — the 100 TB-safe path).
    edges = pin(_co_order_pairs(li).select("src", "dst").distinct(),
                eager=False)
    n_edges = edges.count()
    und = (edges.select(F.col("src").alias("a"),
                        F.col("dst").alias("b"))
           .unionByName(edges.select(F.col("dst").alias("a"),
                                     F.col("src").alias("b"))))
    deg = pin(und.groupBy(F.col("a").alias("n"))
              .agg(F.count(F.lit(1)).cast("long").alias("d")),
              eager=False)
    j = (und.join(maybe_broadcast(
             deg.select(F.col("n").alias("a"),
                        F.col("d").alias("da")), 2 * n_edges, 24),
             "a")
         .join(maybe_broadcast(
             deg.select(F.col("n").alias("b"),
                        F.col("d").alias("db")), 2 * n_edges, 24),
             "b"))
    agg = j.agg(F.count(F.lit(1)).cast("long").alias("m"),
                F.sum(F.col("da") * F.col("db")).cast("long")
                .alias("sxy"),
                F.sum("da").cast("long").alias("sx"),
                F.sum(F.col("da") * F.col("da")).cast("long")
                .alias("sxx"))
    nn = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"),
                 F.max("d").cast("long").alias("max_deg"))
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sx")
    den = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (agg.crossJoin(F.broadcast(nn))
            .select("n_nodes",
                    (F.col("m") / 2).cast("long").alias("n_edges"),
                    "max_deg",
                    (F.round(F.when(den != 0, num / den), 6) + 0)
                    .alias("assortativity")))


ORACLES["assortativity_lineitem"] = """
    WITH base AS (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ), small AS (
        SELECT bk FROM base GROUP BY 1 HAVING count(*) <= 5
    ), capped AS (
        SELECT base.* FROM base JOIN small USING (bk)
    ), e AS (
        SELECT DISTINCT l.it AS u, r.it AS v
        FROM capped l JOIN capped r
          ON l.bk = r.bk AND l.it < r.it
    ), und AS (
        SELECT u AS a, v AS b FROM e
        UNION ALL SELECT v, u FROM e
    ), deg AS (
        SELECT a AS n, CAST(count(*) AS BIGINT) AS d
        FROM und GROUP BY 1
    ), j AS (
        SELECT da.d AS da, db.d AS db
        FROM und JOIN deg da ON da.n = und.a
                 JOIN deg db ON db.n = und.b
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS m,
               CAST(sum(da * db) AS BIGINT) AS sxy,
               CAST(sum(da) AS BIGINT) AS sx,
               CAST(sum(da * da) AS BIGINT) AS sxx
        FROM j
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           CAST(m / 2 AS BIGINT) AS n_edges,
           (SELECT CAST(max(d) AS BIGINT) FROM deg) AS max_deg,
           ROUND(CASE WHEN (m * sxx - sx * sx) != 0
                 THEN (m * sxy - sx * sx)
                      / CAST(m * sxx - sx * sx AS DOUBLE) END,
                 6) + 0 AS assortativity
    FROM agg
"""


def kcore_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """The 30-core of the capped part co-order graph — parts whose
    co-order relationships survive when weakly-connected neighbors
    unravel (``pipeline/graph.py:k_core``: simultaneous peeling to
    the unique fixpoint, two semi joins + one combinable groupBy per
    round, localCheckpoint-pinned). Peeling takes 3-5 rounds at the
    three SFs with ~3-16% of nodes removed — a REAL cascade, not a
    no-op filter (k was chosen against the degree census; k >= 35
    unravels the whole graph). The oracle unrolls 10 simultaneous
    peel rounds as chained CTEs — past the measured fixpoint, so
    both engines land on the same core with the same in-core
    degrees."""
    from tablite_spark.pipeline.graph import k_core
    li = _t(spark, sf, "lineitem")
    # no .distinct(): k_core's und distinct dedupes (see bfs note)
    edges = _co_order_pairs(li).select("src", "dst")
    out = k_core(edges, "src", "dst", k=30)
    return out.select(F.col("node").cast("long").alias("node"),
                      "core_degree")


def _kcore_oracle(k: int = 30, rounds: int = 10) -> str:
    # every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and each
    # peel round references its predecessor TWICE — inlining makes
    # the 10-round chain a 2^10 expansion of the base scan (measured:
    # the un-materialized form never finished at sf0.001; with
    # MATERIALIZED it runs in 0.6 s)
    parts = ["""
    WITH base AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ), small AS MATERIALIZED (
        SELECT bk FROM base GROUP BY 1 HAVING count(*) <= 5
    ), capped AS MATERIALIZED (
        SELECT base.* FROM base JOIN small USING (bk)
    ), e AS MATERIALIZED (
        SELECT DISTINCT l.it AS u, r.it AS v
        FROM capped l JOIN capped r
          ON l.bk = r.bk AND l.it < r.it
    ), und AS MATERIALIZED (
        SELECT u AS a, v AS b FROM e
        UNION ALL SELECT v, u FROM e
    ), a0 AS MATERIALIZED (
        SELECT DISTINCT a AS n FROM und
    )"""]
    for r in range(1, rounds + 1):
        parts.append(f""", d{r} AS MATERIALIZED (
        SELECT und.a AS n, count(*) AS d
        FROM und JOIN a{r - 1} x ON und.a = x.n
                 JOIN a{r - 1} y ON und.b = y.n
        GROUP BY 1
    ), a{r} AS MATERIALIZED (
        SELECT n FROM d{r} WHERE d >= {k}
    )""")
    parts.append(f"""
    SELECT CAST(n AS BIGINT) AS node, CAST(d AS BIGINT)
               AS core_degree
    FROM d{rounds} WHERE d >= {k}
    """)
    return "".join(parts)


ORACLES["kcore_lineitem"] = _kcore_oracle()


def hyperball_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate neighborhood function N(h) of the capped part
    co-order graph for h = 0..3 — "how many (node, node) pairs lie
    within h hops" — via ``pipeline/graph.py:hyperball``: per-node
    HLL ball sketches (m=64) whose register maxes DO the traversal
    (one edges ⋈ state join + one combinable max-groupBy per round;
    state <= 64 rows/node however big the ball gets — the reason
    HyperBall scales where exact all-pairs BFS is quadratic).
    Per-node estimates quantize to integer micro-units BEFORE the
    sum, so nf_micro is an exact BIGINT on any partitioning and the
    oracle replays every round's registers verbatim. The 4-row
    result assembles on the driver from per-round scalar aggregates
    (the heavy work is distributed; the collect is 4 integers)."""
    from tablite_spark.pipeline.graph import hyperball
    li = _t(spark, sf, "lineitem")
    # no .distinct(): hyperball's und distinct dedupes (see bfs note)
    edges = _co_order_pairs(li).select("src", "dst")
    nf = hyperball(edges, "src", "dst", max_h=3)
    return spark.createDataFrame(
        [(int(h), int(v)) for h, v in nf], "h long, nf_micro long")


def _hyperball_oracle(max_h: int = 3, b: int = 6) -> str:
    m = 1 << b
    rho_bits = 60 - b
    w_mask = (1 << rho_bits) - 1
    rho_max = rho_bits + 1
    q = 1 << rho_max
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(
        m, 0.7213 / (1.0 + 1.079 / m))
    numer = repr(alpha * m * m * float(q))

    def est_cte(hh: int) -> str:
        return f""", agg{hh} AS MATERIALIZED (
        SELECT node, count(*) AS np,
               sum(1::BIGINT << ({rho_max} - rho)) AS s
        FROM s{hh} GROUP BY 1
    ), nf{hh} AS MATERIALIZED (
        SELECT CAST(sum(CAST(ROUND(
            CASE WHEN ({numer} / CAST(({m} - np) * {q} + s
                                      AS DOUBLE)) <= {2.5 * m!r}
                      AND ({m} - np) > 0
                 THEN {m} * ln({m} / CAST({m} - np AS DOUBLE))
                 ELSE {numer} / CAST(({m} - np) * {q} + s AS DOUBLE)
            END * 1e6, 0) AS BIGINT)) AS BIGINT) AS nf
        FROM agg{hh}
    )"""

    parts = [f"""
    WITH base AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ), small AS MATERIALIZED (
        SELECT bk FROM base GROUP BY 1 HAVING count(*) <= 5
    ), capped AS MATERIALIZED (
        SELECT base.* FROM base JOIN small USING (bk)
    ), e AS MATERIALIZED (
        SELECT DISTINCT l.it AS u, r.it AS v
        FROM capped l JOIN capped r
          ON l.bk = r.bk AND l.it < r.it
    ), und AS MATERIALIZED (
        SELECT u AS a, v AS b FROM e
        UNION ALL SELECT v, u FROM e
    ), h0 AS MATERIALIZED (
        SELECT DISTINCT a AS node,
               CAST(CAST(('0x' || substring(
                   md5(CAST(a AS VARCHAR)), 1, 15))
                   AS UBIGINT) AS BIGINT) AS hv
        FROM und
    ), s0 AS MATERIALIZED (
        SELECT node,
               CAST(hv >> {rho_bits} AS INT) AS register,
               CAST(CASE WHEN (hv & {w_mask}) = 0 THEN {rho_max}
                    ELSE {rho_max} - length(bin(hv & {w_mask}))
                    END AS INT) AS rho
        FROM h0
    )"""]
    parts.append(est_cte(0))
    for hh in range(1, max_h + 1):
        parts.append(f""", s{hh} AS MATERIALIZED (
        SELECT node, register, max(rho) AS rho FROM (
            SELECT und.a AS node, s.register, s.rho
            FROM und JOIN s{hh - 1} s ON s.node = und.b
            UNION ALL
            SELECT node, register, rho FROM s{hh - 1}
        ) GROUP BY 1, 2
    )""")
        parts.append(est_cte(hh))
    selects = " UNION ALL ".join(
        f"SELECT CAST({hh} AS BIGINT) AS h, nf AS nf_micro "
        f"FROM nf{hh}" for hh in range(max_h + 1))
    parts.append("\n    " + selects)
    return "".join(parts)


ORACLES["hyperball_lineitem"] = _hyperball_oracle()


def temporal_reach_lineitem(spark: SparkSession,
                            sf: str) -> DataFrame:
    """Earliest time-respecting arrival from the seed parts through
    DATED co-order edges (edge timestamp = the order's date;
    transmission only along non-decreasing dates) within 3 hops —
    the supply-chain/contagion question plain reachability answers
    WRONG: at sf0.01, 771 of 2,000 parts have a LATER temporal
    arrival than the date-blind relaxation would claim (the
    constraint genuinely binds; checked at authoring time). Runs on
    ``pipeline/graph.py:temporal_bfs`` (simultaneous full
    relaxations + min-merge, checkpoint-pinned); arrivals are exact
    epoch days end to end, cast to timestamp at the boundary. The
    oracle replays the 3 relaxation rounds as chained MATERIALIZED
    CTEs."""
    from tablite_spark.pipeline.graph import temporal_bfs
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    dated = (_co_order_pairs(li)
             .join(o.select(F.col("o_orderkey").alias("bk"),
                            F.datediff(F.col("o_orderdate")
                                       .cast("date"),
                                       F.lit("1970-01-01")
                                       .cast("date"))
                            .cast("long").alias("d")), "bk")
             .select(F.col("src").alias("u"),
                     F.col("dst").alias("v"), "d").distinct())
    # pinned: scanned by seeds AND the relax rounds
    with pinned(dated, eager=False) as dated:
        und = (dated.select(F.col("u").alias("src"),
                            F.col("v").alias("dst"), "d")
               .unionByName(dated.select(F.col("v").alias("src"),
                                         F.col("u").alias("dst"),
                                         "d")))
        seeds = (und.filter(F.col("src") % 13 == 0)
                 .groupBy(F.col("src").alias("node"))
                 .agg(F.min("d").alias("t0")))
        # temporal_bfs is eager (checkpoint-pinned rounds), so the
        # pin can release as soon as it returns
        out = temporal_bfs(und, seeds, "src", "dst", "d",
                           max_hops=3)
    return out.select(
        F.col("node").cast("long").alias("node"),
        F.expr("cast(date_add(DATE '1970-01-01', "
               "cast(arrival as int)) as timestamp)")
        .alias("arrival"))


ORACLES["temporal_reach_lineitem"] = """
    WITH base AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ), small AS MATERIALIZED (
        SELECT bk FROM base GROUP BY 1 HAVING count(*) <= 5
    ), capped AS MATERIALIZED (
        SELECT base.* FROM base JOIN small USING (bk)
    ), de AS MATERIALIZED (
        SELECT DISTINCT l.it AS u, r.it AS v,
               date_diff('day', DATE '1970-01-01',
                         CAST(o.o_orderdate AS DATE)) AS d
        FROM capped l JOIN capped r
          ON l.bk = r.bk AND l.it < r.it
        JOIN orders o ON o.o_orderkey = l.bk
    ), und AS MATERIALIZED (
        SELECT u AS a, v AS b, d FROM de
        UNION ALL SELECT v, u, d FROM de
    ), seeds AS MATERIALIZED (
        SELECT a AS node, min(d) AS arrival
        FROM und WHERE a % 13 = 0 GROUP BY 1
    ), s1 AS MATERIALIZED (
        SELECT node, min(arrival) AS arrival FROM (
            SELECT * FROM seeds
            UNION ALL
            SELECT und.b, und.d FROM und
            JOIN seeds s ON und.a = s.node AND und.d >= s.arrival
        ) GROUP BY 1
    ), s2 AS MATERIALIZED (
        SELECT node, min(arrival) AS arrival FROM (
            SELECT * FROM s1
            UNION ALL
            SELECT und.b, und.d FROM und
            JOIN s1 s ON und.a = s.node AND und.d >= s.arrival
        ) GROUP BY 1
    ), s3 AS MATERIALIZED (
        SELECT node, min(arrival) AS arrival FROM (
            SELECT * FROM s2
            UNION ALL
            SELECT und.b, und.d FROM und
            JOIN s2 s ON und.a = s.node AND und.d >= s.arrival
        ) GROUP BY 1
    )
    SELECT CAST(node AS BIGINT) AS node,
           CAST(DATE '1970-01-01' + CAST(arrival AS INTEGER)
                AS TIMESTAMP) AS arrival
    FROM s3
"""


def ppr_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Personalized PageRank over the supplier→part multigraph
    (``pipeline/graph.py:personalized_pagerank``): teleport and
    dangling mass restart to the SEED suppliers (suppkey % 10 == 0)
    instead of all nodes — "centrality from the point of view of
    the vetted set", the curation form of the quality prior. Same
    integer micro-unit discipline as ``pagerank_lineitem`` (every
    floor an identical IEEE op), so the oracle replays all 3
    iterations as unrolled CTEs; parts only reachable from non-seed
    suppliers hold rank 0, which is the semantic point."""
    from tablite_spark.pipeline.graph import personalized_pagerank
    li = _t(spark, sf, "lineitem")
    edges = li.select(F.col("l_suppkey").cast("long").alias("src"),
                      (F.col("l_partkey") + 1_000_000).cast("long")
                      .alias("dst"))
    seeds = (edges.select(F.col("src").alias("node")).distinct()
             .filter(F.col("node") % 10 == 0))
    out = personalized_pagerank(edges, seeds, "src", "dst", iters=3)
    return out.select(F.col("node").cast("long").alias("node"),
                      F.col("rank").cast("long").alias("rank"))


def _ppr_oracle_sql(iters: int = 3, damping: float = 0.85,
                    unit: int = 10 ** 12) -> str:
    """Unrolled-CTE replay of ppr_lineitem — mirrors
    personalized_pagerank exactly: floor(unit/|S|) seed init,
    teleport + dangling mass to seeds only, identical left-assoc
    float expressions. MATERIALIZED (the kcore inlining lesson)."""
    u = f"{float(unit):.1f}"
    parts = ["""e AS MATERIALIZED (SELECT l_suppkey AS src,
                1000000 + l_partkey AS dst FROM lineitem)""",
             """nodes0 AS MATERIALIZED (SELECT DISTINCT node FROM
                (SELECT src AS node FROM e
                 UNION ALL SELECT dst FROM e))""",
             """odeg AS MATERIALIZED (SELECT src AS node,
                COUNT(*) AS outdeg FROM e GROUP BY src)""",
             """nodes AS MATERIALIZED (SELECT n.node,
                COALESCE(o.outdeg, 0) AS outdeg,
                CASE WHEN n.node % 10 = 0 AND n.node < 1000000
                     THEN 1 ELSE 0 END AS is_seed
                FROM nodes0 n LEFT JOIN odeg o ON n.node = o.node)""",
             """ns AS (SELECT COUNT(*) AS n FROM nodes
                WHERE is_seed = 1)""",
             f"""r0 AS MATERIALIZED (SELECT node, outdeg, is_seed,
                CASE WHEN is_seed = 1
                     THEN CAST(floor({u} / ns.n) AS BIGINT)
                     ELSE 0 END AS rank
                FROM nodes, ns)"""]
    for it in range(iters):
        parts.append(f"""d{it} AS (SELECT COALESCE(SUM(rank), 0) AS s
                FROM r{it} WHERE outdeg = 0)""")
        parts.append(f"""c{it} AS MATERIALIZED (
                SELECT e.dst AS node,
                SUM(CAST(floor(CAST(r.rank AS DOUBLE) / r.outdeg)
                         AS BIGINT)) AS s
                FROM e JOIN r{it} r ON e.src = r.node
                WHERE r.outdeg > 0 GROUP BY e.dst)""")
        parts.append(f"""r{it + 1} AS MATERIALIZED (
                SELECT n.node, n.outdeg, n.is_seed,
                CASE WHEN n.is_seed = 1
                     THEN CAST(floor((1.0 - {damping}) * {u} / ns.n)
                               AS BIGINT)
                          + CAST(floor({damping} * d{it}.s / ns.n)
                                 AS BIGINT)
                     ELSE 0 END
                + CAST(floor({damping} * CAST(COALESCE(c.s, 0)
                                              AS DOUBLE)) AS BIGINT)
                    AS rank
                FROM nodes n LEFT JOIN c{it} c ON n.node = c.node,
                     ns, d{it})""")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT CAST(node AS BIGINT) AS node, "
              f"CAST(rank AS BIGINT) AS rank FROM r{iters}")


ORACLES["ppr_lineitem"] = _ppr_oracle_sql()
