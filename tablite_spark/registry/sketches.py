"""Sketch, frequency and frontier queries: HLL, KMV and Count-Min
sketches audited against exact counts, a Bloom-prefiltered semi join,
capped association rules and item cosine, top-k per group, the join
skew census, the 2-D skyline, grid radius pairs and grid DBSCAN. Each
DuckDB oracle replays the sketch arithmetic or runs the plain
algorithm the operator avoids.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tablite_spark.functions.tokens import words
from tablite_spark.plans.hints import respread
from tablite_spark.registry._base import _t

ORACLES: dict[str, str] = {}


def association_rules_capped_lineitem(spark: SparkSession,
                                      sf: str) -> DataFrame:
    """Association rules with the hot-basket valve engaged: baskets
    over 5 distinct parts are dropped before the |basket|² pairing
    (per-basket census + semi-join), so supports, N(baskets) and
    lifts differ from the uncapped twin. Oracle: the same size cut
    in DuckDB."""
    from tablite_spark.operators.frequency import association_rules
    li = _t(spark, sf, "lineitem")
    return association_rules(li, "l_orderkey", "l_partkey",
                             min_support=2, k=50, max_basket_size=5)


ORACLES["association_rules_capped_lineitem"] = """
    WITH b0 AS (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        FROM lineitem
        WHERE l_orderkey IS NOT NULL
          AND l_partkey IS NOT NULL
    ), keep AS (
        SELECT bk FROM b0 GROUP BY bk HAVING count(*) <= 5
    ), base AS (
        SELECT b0.bk, b0.it FROM b0 JOIN keep USING (bk)
    ), supp AS (
        SELECT it, count(*) AS s FROM base GROUP BY 1
    ), nb AS (
        SELECT count(DISTINCT bk) AS n FROM base
    ), pairs AS (
        SELECT l.it AS a, r.it AS b, count(*) AS support
        FROM base l JOIN base r
          ON l.bk = r.bk AND l.it <> r.it
        GROUP BY 1, 2 HAVING count(*) >= 2
    )
    SELECT a, b, support,
           CAST(support AS DOUBLE) / sa.s AS confidence,
           CAST(nb.n AS DOUBLE) * support
               / (CAST(sa.s AS DOUBLE) * sb.s) AS lift
    FROM pairs
    JOIN supp sa ON pairs.a = sa.it
    JOIN supp sb ON pairs.b = sb.it, nb
    ORDER BY CAST(nb.n AS DOUBLE) * support
             / (CAST(sa.s AS DOUBLE) * sb.s) DESC, a, b
    LIMIT 50
"""


def skew_report_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Join-planning skew census of lineitem's supplier key: top-20
    heavy keys + the per-key-count distribution (p50/p99 exact
    percentile_cont, max, skew factor). All integer counts and
    single integer divisions — unrounded, bit-exact cross-engine.
    Oracle: the same census in DuckDB."""
    from tablite_spark.operators.skew import skew_report
    li = _t(spark, sf, "lineitem")
    return skew_report(li, "l_suppkey", top_k=20)


ORACLES["skew_report_lineitem"] = """
    WITH census AS (
        SELECT l_suppkey AS key, count(*) AS cnt
        FROM lineitem WHERE l_suppkey IS NOT NULL
        GROUP BY 1
    ), dist AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
               count(*) AS n_keys,
               quantile_cont(cnt, 0.5) AS p50_cnt,
               quantile_cont(cnt, 0.99) AS p99_cnt,
               MAX(cnt) AS max_cnt
        FROM census
    ), top AS (
        SELECT key, cnt,
               row_number() OVER (ORDER BY cnt DESC, key) AS rank
        FROM census ORDER BY cnt DESC, key LIMIT 20
    )
    SELECT rank, CAST(key AS VARCHAR) AS key, cnt,
           CAST(cnt AS DOUBLE) / n_rows AS share,
           n_rows, n_keys, p50_cnt, p99_cnt, max_cnt,
           CAST(max_cnt AS DOUBLE) / p50_cnt AS skew_factor
    FROM top, dist
"""


def top_k_per_group_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 lineitems by extended price per supplier —
    deterministic under price ties via the (orderkey, linenumber)
    tiebreak. Runs the window form (supplier groups are uniform); the
    salted form is pytest-verified equal. Oracle: the row_number
    window formulation in DuckDB."""
    from tablite_spark.operators.groupby import top_k_per_group
    li = _t(spark, sf, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice")
    out = top_k_per_group(li, ["l_suppkey"],
                          [F.col("l_extendedprice").desc(),
                           F.col("l_orderkey").asc(),
                           F.col("l_linenumber").asc()], 3)
    return out.select("l_suppkey", "rank", "l_orderkey",
                      "l_linenumber", "l_extendedprice")


ORACLES["top_k_per_group_lineitem"] = """
    SELECT l_suppkey, rank, l_orderkey, l_linenumber,
           l_extendedprice
    FROM (
        SELECT l_suppkey, l_orderkey, l_linenumber,
               l_extendedprice,
               row_number() OVER (
                   PARTITION BY l_suppkey
                   ORDER BY l_extendedprice DESC,
                            l_orderkey, l_linenumber) AS rank
        FROM lineitem
    ) WHERE rank <= 3
"""


def item_cosine_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Top-5 co-ordered parts per part by basket-cosine (item-based
    collaborative filtering), baskets capped at 5 distinct items —
    the hot-basket valve replayed in the oracle. Cosine is a single
    sqrt of exact integers, so no oracle-boundary rounding; the
    window runs over the min-support pair frame, never the corpus."""
    from tablite_spark.operators.frequency import item_cosine
    li = _t(spark, sf, "lineitem")
    # min_support=2: the part space grows with SF so higher floors
    # empty out (max co-occurrence at sf0.1 is 2) — 2 keeps the
    # output meaningful at every scale (~1.0-1.4k pairs pre-top-k)
    return item_cosine(li, "l_orderkey", "l_partkey",
                       min_support=2, top_k=5, max_basket_size=5)


ORACLES["item_cosine_lineitem"] = """
    WITH base AS (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ), small AS (
        SELECT bk FROM base GROUP BY 1 HAVING count(*) <= 5
    ), capped AS (
        SELECT base.* FROM base JOIN small USING (bk)
    ), supp AS (
        SELECT it, count(*) AS s FROM capped GROUP BY 1
    ), pairs AS (
        SELECT l.it AS a, r.it AS b, count(*) AS co
        FROM capped l JOIN capped r
          ON l.bk = r.bk AND l.it <> r.it
        GROUP BY 1, 2 HAVING count(*) >= 2
    ), scored AS (
        SELECT a, b, co,
               co / sqrt(CAST(sa.s * sb.s AS DOUBLE)) AS cosine
        FROM pairs
        JOIN supp sa ON pairs.a = sa.it
        JOIN supp sb ON pairs.b = sb.it
    )
    SELECT a, b, co, cosine, CAST(rank AS INT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY a
                      ORDER BY cosine DESC, b ASC) AS rank
        FROM scored
    ) WHERE rank <= 5
"""


def hll_distinct_events(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type distinct-user HyperLogLog sketch
    (``functions/sketches.py``) with the EXACT distinct count beside
    it — the sketch-accuracy audit a pipeline runs before trusting
    sketched cardinalities at corpus scale. The register census is
    ONE combinable groupBy bounded at m=1024 rows per type (the
    mergeable-sketch shuffle shape: group x register, never
    group x user), the harmonic denominator accumulates in Q51
    FIXED-POINT BIGINT, and the md5-register arithmetic is replayed
    verbatim by the oracle — register state, zero counts and the
    Q51 denominator are bit-exact across engines; only the final
    estimate divides (and small-range ln's), rounded at the
    boundary."""
    from tablite_spark.functions.sketches import (hll_estimate,
                                                  hll_register_census)
    ev = _t(spark, sf, "events")
    cen = hll_register_census(ev, "user_id", ["event_type"])
    est = hll_estimate(cen, ["event_type"])
    exact = (ev.filter(F.col("user_id").isNotNull())
             .groupBy("event_type")
             .agg(F.countDistinct("user_id").cast("long")
                  .alias("exact_distinct")))
    return (est.join(exact, "event_type")
            .select("event_type", "n_present", "v_zero",
                    "denom_q51", "hll_estimate", "exact_distinct",
                    (F.round((F.col("hll_estimate")
                              / F.col("exact_distinct") - 1) * 100,
                             4) + 0).alias("rel_err_pct")))


def _hll_oracle() -> str:
    from tablite_spark.functions.sketches import hll_oracle_sql
    est = hll_oracle_sql("user_id", "events", "event_type")
    return f"""
    WITH est AS ({est}),
    x AS (
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT)
                   AS exact_distinct
        FROM events WHERE user_id IS NOT NULL GROUP BY 1
    )
    SELECT est.event_type, n_present, v_zero, denom_q51,
           hll_estimate, exact_distinct,
           ROUND((hll_estimate / exact_distinct - 1) * 100, 4) + 0
               AS rel_err_pct
    FROM est JOIN x ON est.event_type = x.event_type
    """


ORACLES["hll_distinct_events"] = _hll_oracle()


def skyline_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Cheapest-earliest Pareto frontier of orders — every order not
    dominated on (total price, order date), i.e. no other order was
    both <= as cheap and <= as early with one strict. Runs on
    ``operators/skyline.py:skyline_2d``: a combinable price census
    + the range-bucket strict-prefix-min engine — windows only ever
    partition by the bounded bucket id, never one global sort task
    (the census-prefix discipline at frontier shape). Axes are
    exact integers (cents, epoch days); the oracle replays the
    frontier with a DuckDB global window over the same census."""
    from tablite_spark.operators.skyline import skyline_2d
    o = _t(spark, sf, "orders")
    pts = (o.filter(F.col("o_totalprice").isNotNull()
                    & F.col("o_orderdate").isNotNull())
           .select(F.round(F.col("o_totalprice") * 100, 0)
                   .cast("long").alias("price_cents"),
                   F.datediff(F.col("o_orderdate").cast("date"),
                              F.lit("1970-01-01").cast("date"))
                   .cast("long").alias("__yd__")))
    sky = skyline_2d(pts, "price_cents", "__yd__")
    return sky.select(
        "price_cents",
        F.expr("cast(date_add(DATE '1970-01-01', "
               "cast(__yd__ as int)) as timestamp)")
        .alias("orderdate"))


ORACLES["skyline_orders"] = """
    WITH p AS (
        SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT)
                   AS price_cents,
               date_diff('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE)) AS yd
        FROM orders
        WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
    ), c AS (
        SELECT price_cents, min(yd) AS yd FROM p GROUP BY 1
    ), w AS (
        SELECT price_cents, yd,
               min(yd) OVER (ORDER BY price_cents
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS pm
        FROM c
    )
    SELECT price_cents,
           CAST(DATE '1970-01-01' + CAST(yd AS INTEGER) AS TIMESTAMP)
               AS orderdate
    FROM w WHERE pm IS NULL OR pm > yd
"""


def spatial_pairs_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Customer-supplier proximity pairs within radius 5000 on a
    deterministic 100k x 100k integer lattice (coordinates are
    md5-derived from the keys — the engine-portable hash
    discipline), via ``operators/spatial.py:grid_radius_join``: the
    9-neighbor cell equi join whose shuffle is |customers| +
    9|suppliers| rows keyed by cell — NEVER the cross join the
    DuckDB oracle deliberately runs (two different algorithms; any
    cell-hop miss at a boundary mismatches). Distances stay exact
    squared BIGINTs."""
    from tablite_spark.operators.spatial import grid_radius_join

    def lattice(df: DataFrame, key: str, out: str) -> DataFrame:
        def ax(salt: str):
            return (F.conv(F.substring(
                F.md5(F.concat(F.lit(salt),
                               F.col(key).cast("string"))), 1, 8),
                16, 10).cast("long") % 100000)
        return df.select(F.col(key).alias(out),
                         ax("gx").alias("x"), ax("gy").alias("y"))

    cust = lattice(_t(spark, sf, "customer"), "c_custkey", "custkey")
    supp = lattice(_t(spark, sf, "supplier"), "s_suppkey", "suppkey")
    out = grid_radius_join(cust, supp, radius=5000)
    return out.select(F.col("custkey_l").alias("custkey"),
                      F.col("suppkey_r").alias("suppkey"),
                      "dist_sq")


ORACLES["spatial_pairs_customers"] = """
    WITH c AS (
        SELECT c_custkey AS custkey,
               CAST(CAST(('0x' || substring(md5('gx' ||
                   CAST(c_custkey AS VARCHAR)), 1, 8)) AS UBIGINT)
                   % 100000 AS BIGINT) AS x,
               CAST(CAST(('0x' || substring(md5('gy' ||
                   CAST(c_custkey AS VARCHAR)), 1, 8)) AS UBIGINT)
                   % 100000 AS BIGINT) AS y
        FROM customer
    ), s AS (
        SELECT s_suppkey AS suppkey,
               CAST(CAST(('0x' || substring(md5('gx' ||
                   CAST(s_suppkey AS VARCHAR)), 1, 8)) AS UBIGINT)
                   % 100000 AS BIGINT) AS x,
               CAST(CAST(('0x' || substring(md5('gy' ||
                   CAST(s_suppkey AS VARCHAR)), 1, 8)) AS UBIGINT)
                   % 100000 AS BIGINT) AS y
        FROM supplier
    )
    SELECT custkey, suppkey,
           (c.x - s.x) * (c.x - s.x)
           + (c.y - s.y) * (c.y - s.y) AS dist_sq
    FROM c, s
    WHERE (c.x - s.x) * (c.x - s.x)
          + (c.y - s.y) * (c.y - s.y) <= 25000000
"""


def kmv_jaccard_events(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise audience overlap between event types over USER-DAY
    entities, estimated from KMV sketches (``functions/sketches.py``:
    k smallest 60-bit md5 hashes per type, k-smallest computed on
    the salted ``top_k_per_group`` — the skew valve) with the exact
    Jaccard beside it — the sketch-accuracy audit for set-overlap
    questions a pipeline answers from sketches at corpus scale
    (audience overlap, day-over-day retention of distinct keys).
    Post-sketch relations are bounded at |types| x k rows; the
    |types|^2 pair frame is the documented 1-row-broadcast-class
    cross join. The oracle replays sketch construction, union
    ranking and both ratio boundaries verbatim."""
    from tablite_spark.functions.sketches import (kmv_estimate,
                                                  kmv_jaccard_pairs,
                                                  kmv_sketch)
    ev = _t(spark, sf, "events")
    ent = (ev.filter(F.col("user_id").isNotNull()
                     & F.col("ts").isNotNull())
           .select("event_type",
                   F.concat(F.col("user_id").cast("string"),
                            F.lit(":"),
                            F.datediff(F.col("ts").cast("date"),
                                       F.lit("1970-01-01")
                                       .cast("date")).cast("string"))
                   .alias("entity")))
    sk = kmv_sketch(ent, "entity", "event_type")
    est = kmv_estimate(sk, "event_type")
    prs = kmv_jaccard_pairs(sk, "event_type")
    es = ent.distinct()
    sizes = (es.groupBy("event_type")
             .agg(F.count(F.lit(1)).cast("long").alias("n_exact")))
    inter = (es.select(F.col("event_type").alias("ga"),
                       "entity")
             .join(es.select(F.col("event_type").alias("gb"),
                             "entity"), "entity")
             .filter(F.col("ga") < F.col("gb"))
             .groupBy("ga", "gb")
             .agg(F.count(F.lit(1)).cast("long")
                  .alias("n_exact_inter")))
    out = (prs
           .join(est.select(F.col("event_type").alias("ga"),
                            F.col("kmv_estimate").alias("kmv_est_a")),
                 "ga")
           .join(est.select(F.col("event_type").alias("gb"),
                            F.col("kmv_estimate").alias("kmv_est_b")),
                 "gb")
           .join(sizes.select(F.col("event_type").alias("ga"),
                              F.col("n_exact").alias("n_exact_a")),
                 "ga")
           .join(sizes.select(F.col("event_type").alias("gb"),
                              F.col("n_exact").alias("n_exact_b")),
                 "gb")
           .join(inter, ["ga", "gb"], "left")
           .withColumn("n_exact_inter",
                       F.coalesce("n_exact_inter", F.lit(0))
                       .cast("long")))
    return out.select(
        "ga", "gb", "n_union_sketch", "n_inter_sketch",
        "kmv_jaccard", "kmv_est_a", "kmv_est_b",
        "n_exact_a", "n_exact_b", "n_exact_inter",
        (F.round(F.col("n_exact_inter")
                 / (F.col("n_exact_a") + F.col("n_exact_b")
                    - F.col("n_exact_inter")), 6) + 0)
        .alias("exact_jaccard"))


def _kmv_oracle() -> str:
    from tablite_spark.functions.sketches import (KMV_K, _KMV_SPACE,
                                                  kmv_oracle_cte)
    ent = ("(CAST(user_id AS VARCHAR) || ':' || "
           "CAST(date_diff('day', DATE '1970-01-01', "
           "CAST(ts AS DATE)) AS VARCHAR))")
    cte = kmv_oracle_cte(
        ent, "(SELECT * FROM events WHERE user_id IS NOT NULL "
             "AND ts IS NOT NULL)", "event_type")
    numer = repr(float(KMV_K - 1) * _KMV_SPACE)
    return f"""
    WITH {cte},
    est AS (
        SELECT g, count(*) AS n_s, max(h) AS hk FROM kmv GROUP BY 1
    ), estv AS (
        SELECT g,
               ROUND(CASE WHEN n_s < {KMV_K}
                     THEN CAST(n_s AS DOUBLE)
                     ELSE {numer} / CAST(hk AS DOUBLE) END, 4) + 0
                   AS kmv_estimate
        FROM est
    ), prs AS (
        SELECT a.g AS ga, b.g AS gb
        FROM (SELECT DISTINCT g FROM kmv) a,
             (SELECT DISTINCT g FROM kmv) b
        WHERE a.g < b.g
    ), un AS (
        SELECT prs.ga, prs.gb, k.h,
               max(CASE WHEN k.g = prs.ga THEN 1 END) AS in_a,
               max(CASE WHEN k.g = prs.gb THEN 1 END) AS in_b
        FROM prs JOIN kmv k ON k.g IN (prs.ga, prs.gb)
        GROUP BY 1, 2, 3
    ), top AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY ga, gb
                                         ORDER BY h) AS rn
            FROM un
        ) WHERE rn <= {KMV_K}
    ), sk_j AS (
        SELECT ga, gb,
               CAST(count(*) AS BIGINT) AS n_union_sketch,
               CAST(sum(CASE WHEN in_a IS NOT NULL
                             AND in_b IS NOT NULL THEN 1
                        ELSE 0 END) AS BIGINT) AS n_inter_sketch
        FROM top GROUP BY 1, 2
    ), ent AS (
        SELECT DISTINCT event_type AS g,
               {ent} AS e
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), sizes AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n_exact
        FROM ent GROUP BY 1
    ), xinter AS (
        SELECT a.g AS ga, b.g AS gb,
               CAST(count(*) AS BIGINT) AS n_exact_inter
        FROM ent a JOIN ent b ON a.e = b.e AND a.g < b.g
        GROUP BY 1, 2
    )
    SELECT s.ga, s.gb, s.n_union_sketch, s.n_inter_sketch,
           ROUND(s.n_inter_sketch / s.n_union_sketch, 6) + 0
               AS kmv_jaccard,
           ea.kmv_estimate AS kmv_est_a,
           eb.kmv_estimate AS kmv_est_b,
           sa.n_exact AS n_exact_a, sb.n_exact AS n_exact_b,
           CAST(COALESCE(x.n_exact_inter, 0) AS BIGINT)
               AS n_exact_inter,
           ROUND(COALESCE(x.n_exact_inter, 0)
                 / (sa.n_exact + sb.n_exact
                    - COALESCE(x.n_exact_inter, 0)), 6) + 0
               AS exact_jaccard
    FROM sk_j s
    JOIN estv ea ON ea.g = s.ga
    JOIN estv eb ON eb.g = s.gb
    JOIN sizes sa ON sa.g = s.ga
    JOIN sizes sb ON sb.g = s.gb
    LEFT JOIN xinter x ON x.ga = s.ga AND x.gb = s.gb
    """


ORACLES["kmv_jaccard_events"] = _kmv_oracle()


def bloom_semi_join_lineitem(spark: SparkSession,
                             sf: str) -> DataFrame:
    """Revenue by return flag over the line items of URGENT orders
    above $150k — the selective-dim semi join, executed through
    ``operators/bloomjoin.py:bloom_semi_join``: the order-key subset
    builds a broadcast Bloom bitmap and the lineitem probe side
    drops map-side BEFORE the exact confirm join, so the shuffle
    sees ~the matching sliver instead of the corpus (false
    negatives impossible; false positives removed by the confirm
    join). The oracle is the PLAIN semi join — one Bloom-induced
    row loss or phantom mismatches the census."""
    from tablite_spark.operators.bloomjoin import bloom_semi_join
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    sel = o.filter((F.col("o_orderpriority") == "1-URGENT")
                   & (F.col("o_totalprice") > 150000))
    hit = bloom_semi_join(li, sel, "l_orderkey", "o_orderkey")
    return (hit.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).cast("long").alias("n_items"),
                 F.sum(F.round(F.col("l_extendedprice") * 100, 0))
                 .cast("long").alias("revenue_cents")))


ORACLES["bloom_semi_join_lineitem"] = """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(round(l_extendedprice * 100, 0)) AS BIGINT)
               AS revenue_cents
    FROM lineitem
    WHERE l_orderkey IN (
        SELECT o_orderkey FROM orders
        WHERE o_orderpriority = '1-URGENT'
          AND o_totalprice > 150000)
    GROUP BY 1
"""


def dbscan_customers(spark: SparkSession, sf: str) -> DataFrame:
    """DBSCAN density clustering of customers on the deterministic
    md5 lattice (``pipeline/clustering.py:dbscan_grid`` — the
    cell-bucketed neighbor join + hash-min connected components over
    core points; border points take the MIN neighboring core
    cluster, the deterministic resolution of textbook DBSCAN's
    first-found ambiguity). The lattice side scales as
    floor(sqrt(n)·4000) so point DENSITY is SF-invariant: eps=2200 /
    min_pts=3 sits below the continuum-percolation threshold, which
    keeps every SF's role census non-trivial (48/18/84 core/border/
    noise at sf0.001, 3745/1782/9473 at sf0.1) and clusters small.
    The oracle replays neighbors via the all-pairs CROSS join (a
    different algorithm) and the components via a recursive CTE."""
    from tablite_spark.pipeline.clustering import dbscan_grid
    c = _t(spark, sf, "customer")
    ln = c.agg(F.floor(F.sqrt(F.count(F.lit(1))) * 4000)
               .cast("long").alias("__L__"))

    def ax(salt: str):
        return (F.conv(F.substring(
            F.md5(F.concat(F.lit(salt),
                           F.col("c_custkey").cast("string"))), 1, 8),
            16, 10).cast("long") % F.col("__L__"))

    pts = (c.crossJoin(F.broadcast(ln))
           .select(F.col("c_custkey").alias("custkey"),
                   ax("gx").alias("x"), ax("gy").alias("y")))
    out = dbscan_grid(pts, "custkey", "x", "y",
                      eps=2200, min_pts=3)
    return out.select("custkey", "role",
                      F.col("cluster").cast("long").alias("cluster"))


ORACLES["dbscan_customers"] = """
    WITH RECURSIVE lsz AS (
        SELECT CAST(FLOOR(SQRT(count(*)) * 4000) AS BIGINT) AS L
        FROM customer
    ), p AS (
        SELECT c_custkey AS pid,
               CAST(CAST(('0x' || substring(md5('gx' ||
                   CAST(c_custkey AS VARCHAR)), 1, 8)) AS UBIGINT)
                   % L AS BIGINT) AS x,
               CAST(CAST(('0x' || substring(md5('gy' ||
                   CAST(c_custkey AS VARCHAR)), 1, 8)) AS UBIGINT)
                   % L AS BIGINT) AS y
        FROM customer, lsz
    ), nb AS (
        SELECT a.pid AS pa, b.pid AS pb
        FROM p a, p b
        WHERE (a.x - b.x) * (a.x - b.x)
              + (a.y - b.y) * (a.y - b.y) <= 2200 * 2200
    ), cnt AS (
        SELECT pa, count(*) AS n FROM nb GROUP BY 1
    ), cores AS (
        SELECT pa AS pid FROM cnt WHERE n >= 3
    ), ce AS (
        SELECT nb.pa AS a, nb.pb AS b
        FROM nb JOIN cores c1 ON nb.pa = c1.pid
                JOIN cores c2 ON nb.pb = c2.pid
        WHERE nb.pa != nb.pb
    ), reach(id, label) AS (
        SELECT pid, pid FROM cores
        UNION
        SELECT ce.b, r.label FROM reach r JOIN ce ON ce.a = r.id
    ), comp AS (
        SELECT id, CAST(min(label) AS BIGINT) AS cluster
        FROM reach GROUP BY 1
    ), border AS (
        SELECT nb.pa AS pid, CAST(min(comp.cluster) AS BIGINT)
                   AS cluster
        FROM nb JOIN cores c2 ON nb.pb = c2.pid
                JOIN comp ON comp.id = nb.pb
        WHERE nb.pa NOT IN (SELECT pid FROM cores)
        GROUP BY 1
    )
    SELECT p.pid AS custkey,
           CASE WHEN comp.cluster IS NOT NULL THEN 'core'
                WHEN border.cluster IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           COALESCE(comp.cluster, border.cluster) AS cluster
    FROM p
    LEFT JOIN comp ON comp.id = p.pid
    LEFT JOIN border ON border.pid = p.pid
"""


def cms_tokens_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min sketch frequency estimates for the corpus's top-20
    tokens, with exact counts beside them — the counting member of
    the sketch trio (HLL distinct / KMV overlap / CMS frequency)
    and its accuracy audit. The sketch is ONE combinable groupBy
    bounded at d*w = 4096 cells regardless of corpus size
    (``functions/sketches.py:cms_census``); estimates = min over the
    d addressed cells, NEVER below the exact count (the CMS
    one-sided guarantee — ``overshoot`` is the audit column). The
    top-20 probe set comes from the exact census via Spark's
    distributed TakeOrderedAndProject (sort-free top-k). Cells and
    all outputs are exact integers — the oracle replays them
    bit-for-bit."""
    from tablite_spark.functions.sketches import (cms_census,
                                                  cms_point_estimates)
    d = _t(spark, sf, "documents")
    # spread the single-row-group source so the regex-split token
    # explode (run twice: exact census + sketch census, both
    # combinable groupBys — partition-invariant exact integers)
    # fills all cores; no-op at corpus scale (r14 optimization round)
    d = respread(d)
    toks = (d.select(F.explode(words(F.lower(F.col("text")))).alias("tok"))
            .filter(F.col("tok") != ""))
    exact = (toks.groupBy("tok")
             .agg(F.count(F.lit(1)).cast("long").alias("exact_n")))
    top = exact.orderBy(F.col("exact_n").desc(),
                        F.col("tok").asc()).limit(20)
    cms = cms_census(toks, "tok")
    est = cms_point_estimates(cms, top, "tok")
    return (top.join(est, "tok")
            .select("tok", "exact_n", "cms_est",
                    (F.col("cms_est") - F.col("exact_n"))
                    .cast("long").alias("overshoot")))


def _cms_oracle() -> str:
    from tablite_spark.functions.sketches import (CMS_D, CMS_W,
                                                  cms_oracle_cells)
    cells = cms_oracle_cells("tok", "toks2")
    return f"""
    WITH toks AS (
        SELECT UNNEST(string_split_regex(
            LOWER(TRIM(text)), '\\s+')) AS tok
        FROM documents
    ), toks2 AS (
        SELECT tok FROM toks WHERE tok <> ''
    ), exact AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS exact_n
        FROM toks2 GROUP BY 1
    ), top AS (
        SELECT tok, exact_n FROM exact
        ORDER BY exact_n DESC, tok LIMIT 20
    ), {cells},
    probes AS (
        SELECT top.tok, r.i AS row,
               CAST(CAST(('0x' || substring(md5(
                   CAST(r.i AS VARCHAR) || ':' || top.tok), 1, 15))
                   AS UBIGINT) % {CMS_W} AS INT) AS col
        FROM top, (SELECT UNNEST(range({CMS_D})) AS i) r
    ), est AS (
        SELECT probes.tok,
               CAST(min(COALESCE(cms.cnt, 0)) AS BIGINT) AS cms_est
        FROM probes LEFT JOIN cms USING (row, col)
        GROUP BY 1
    )
    SELECT top.tok, top.exact_n, est.cms_est,
           CAST(est.cms_est - top.exact_n AS BIGINT) AS overshoot
    FROM top JOIN est USING (tok)
    """


ORACLES["cms_tokens_docs"] = _cms_oracle()
