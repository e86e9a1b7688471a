"""Mergeable distinct-count sketches with ENGINE-PORTABLE register
arithmetic (the md5-integer discipline of ``pipeline/sampling.py``
extended to HyperLogLog).

Why a sketch when the engine already has exact ``count_distinct``:
at 100 TB a per-group exact distinct shuffles every (group, key)
pair; the HLL register census shuffles at most ``groups x m`` rows
(m = 2^b registers, 1024 by default) of combinable ``max`` state —
the canonical mergeable-sketch shape (partial maxes combine
map-side, re-merge across days/partitions/streams for free).

Portability contract (what makes the DuckDB oracle EXACT, not
approximate-vs-approximate):

- hash   = first 15 hex chars of md5(key-as-string) -> a 60-bit
  integer. Both engines parse it exactly (Spark ``conv(.,16,10)``,
  DuckDB ``CAST('0x'||. AS UBIGINT)``) — proven by the kfold oracle.
- register = hash >> 50 (top b=10 bits); w = hash & (2^50 - 1).
- rho  = 51 - bit_length(w) (leading-zero count in the 50-bit
  window + 1), with w = 0 -> 51. bit_length is ``length(bin(w))``
  verbatim on BOTH engines (both print unpadded binary).
- The harmonic-mean denominator accumulates in Q51 FIXED POINT:
  sum of 2^(51 - rho) as BIGINT (absent registers contribute
  2^51 each via the zero-register count), so the only floats are
  one final division and the small-range ``ln`` — rounded at the
  boundary. Register state and denominator are bit-exact across
  engines, partitionings, and merge orders.

The estimator is the standard Flajolet et al. 2007 HLL:
alpha_m * m^2 / sum(2^-rho_j), with the linear-counting small-range
correction E <= 2.5m and V > 0 -> m * ln(m / V). No large-range
correction is needed in a 60-bit hash space.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# fixed sketch geometry: b bits of register index, the rest is the
# rho window. 15 hex chars = 60 bits total keeps every intermediate
# inside a signed 64-bit integer on both engines.
HLL_B = 10
HLL_M = 1 << HLL_B                      # 1024 registers
_RHO_BITS = 60 - HLL_B                  # 50-bit rho window
_W_MASK = (1 << _RHO_BITS) - 1          # 2^50 - 1
_RHO_MAX = _RHO_BITS + 1                # w == 0 -> 51
_Q = 1 << _RHO_MAX                      # Q51 fixed-point unit
# alpha_1024 * m^2 * 2^51 — ONE double literal injected verbatim
# into both engines so the raw estimate is a single identical
# division numerator / denom_q51.
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
_NUMER = HLL_ALPHA * HLL_M * HLL_M * float(_Q)


def hll_hash(key: Column) -> Column:
    """60-bit md5-derived hash of ``key`` (stringified), as LONG."""
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 15),
                  16, 10).cast("long")


def hll_register_census(df: DataFrame, key_col: str,
                        group_cols: list[str]) -> DataFrame:
    """Per-group HLL register census: one combinable groupBy with
    ``max(rho)`` state — rows (group..., register, rho). At most
    ``m`` rows per group regardless of corpus size; partial maxes
    combine map-side, and two censuses of disjoint data merge by
    another ``max`` (the mergeable-sketch property)."""
    h = hll_hash(F.col(key_col))
    w = h.bitwiseAND(F.lit(_W_MASK))
    # staged select so bin() (SQL-only) sees a named column
    return (df.filter(F.col(key_col).isNotNull())
            .select(*group_cols,
                    F.shiftright(h, _RHO_BITS).cast("int")
                    .alias("register"),
                    w.alias("__w__"))
            .select(*group_cols, "register",
                    F.when(F.col("__w__") == 0, F.lit(_RHO_MAX))
                    .otherwise(F.lit(_RHO_MAX)
                               - F.length(F.expr("bin(__w__)")))
                    .cast("int").alias("rho"))
            .groupBy(*group_cols, "register")
            .agg(F.max("rho").alias("rho")))


def hll_estimate(census: DataFrame,
                 group_cols: list[str]) -> DataFrame:
    """Fold a register census into per-group estimates. The
    denominator sums 2^(51-rho) per present register plus 2^51 per
    absent one, ALL in exact BIGINT (max ~2.6e18 < 2^63); the
    estimate is one double division, linear-counting-corrected for
    the small range, rounded at the boundary."""
    m = F.lit(HLL_M)
    agg = (census.groupBy(*group_cols)
           .agg(F.count(F.lit(1)).cast("long").alias("n_present"),
                F.sum(F.expr(
                    f"shiftleft(cast(1 as bigint), {_RHO_MAX} - rho)"))
                .cast("long").alias("__s__")))
    vzero = (m.cast("long") - F.col("n_present"))
    denom = (vzero * F.lit(_Q).cast("long")
             + F.col("__s__")).alias("denom_q51")
    out = agg.select(*group_cols, "n_present",
                     vzero.alias("v_zero"), denom)
    raw = F.lit(_NUMER) / F.col("denom_q51").cast("double")
    lin = m.cast("double") * F.log(m.cast("double")
                                   / F.col("v_zero"))
    est = F.when((raw <= 2.5 * HLL_M) & (F.col("v_zero") > 0), lin) \
           .otherwise(raw)
    return out.withColumn("hll_estimate", F.round(est, 4) + 0)


def hll_oracle_sql(key_expr: str, table: str, group_col: str) -> str:
    """The DuckDB twin of census+estimate over ``table`` grouped by
    ``group_col`` — register arithmetic verbatim, so the oracle
    matches bit-for-bit (not sketch-vs-sketch approximately)."""
    return f"""
    WITH h AS (
        SELECT {group_col},
               CAST(CAST(('0x' || substring(
                   md5(CAST({key_expr} AS VARCHAR)), 1, 15))
                   AS UBIGINT) AS BIGINT) AS hv
        FROM {table} WHERE {key_expr} IS NOT NULL
    ), regs AS (
        SELECT {group_col},
               CAST(hv >> {_RHO_BITS} AS INT) AS register,
               max(CASE WHEN (hv & {_W_MASK}) = 0 THEN {_RHO_MAX}
                   ELSE {_RHO_MAX} - length(bin(hv & {_W_MASK}))
                   END) AS rho
        FROM h GROUP BY 1, 2
    ), agg AS (
        SELECT {group_col},
               CAST(count(*) AS BIGINT) AS n_present,
               CAST({HLL_M} - count(*) AS BIGINT) AS v_zero,
               CAST(({HLL_M} - count(*)) * {_Q}
                    + sum(1::BIGINT << ({_RHO_MAX} - rho))
                    AS BIGINT) AS denom_q51
        FROM regs GROUP BY 1
    )
    SELECT {group_col}, n_present, v_zero, denom_q51,
           ROUND(CASE WHEN ({_NUMER!r} / CAST(denom_q51 AS DOUBLE))
                           <= 2.5 * {HLL_M} AND v_zero > 0
                 THEN {HLL_M} * ln({HLL_M} / CAST(v_zero AS DOUBLE))
                 ELSE {_NUMER!r} / CAST(denom_q51 AS DOUBLE) END,
                 4) + 0 AS hll_estimate
    FROM agg
    """


# --------------------------------------------------------------------
# KMV (k-minimum-values) sketch — distinct counts AND set overlap
# --------------------------------------------------------------------
#
# Where HLL answers only "how many distinct", a KMV sketch (the k
# smallest hash values of the set, Bar-Yossef et al. 2002 / Beyer et
# al. 2007) additionally supports SET ALGEBRA between sketches:
# Jaccard(A, B) estimates as the fraction of the k smallest hashes
# of A ∪ B that belong to both sketches. Everything below is exact
# integer arithmetic on the shared 60-bit md5 hash until the final
# ratios, so the DuckDB oracle replays it bit-for-bit.

KMV_K = 256
_KMV_SPACE = float(1 << 60)   # hash space size as an exact double


def kmv_sketch(df: DataFrame, entity_col: str,
               group_col: str, k: int = KMV_K) -> DataFrame:
    """Per-group KMV sketch: the ``k`` smallest DISTINCT 60-bit
    hashes of ``entity_col`` — rows (group, h). The k-smallest runs
    on the salted ``top_k_per_group`` (a group owning half the
    corpus still sketches in one slice per input partition, never
    one window task)."""
    from tablite_spark.operators.groupby import top_k_per_group
    hs = (df.filter(F.col(entity_col).isNotNull())
          .select(group_col, hll_hash(F.col(entity_col)).alias("h"))
          .distinct())
    return (top_k_per_group(hs, [group_col], [F.col("h").asc()], k,
                            engine="salted")
            .select(group_col, "h"))


def kmv_estimate(sketch: DataFrame, group_col: str,
                 k: int = KMV_K) -> DataFrame:
    """Distinct-count estimate per group: exact |S| while the sketch
    is not full (fewer than k distinct values IS the exact set), else
    the classic (k-1) * M / h_k with M = 2^60."""
    return (sketch.groupBy(group_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_s"),
                 F.max("h").alias("__hk__"))
            .select(group_col, "n_s",
                    (F.round(F.when(F.col("n_s") < k,
                                    F.col("n_s").cast("double"))
                             .otherwise(F.lit(float(k - 1)
                                              * _KMV_SPACE)
                                        / F.col("__hk__")
                                        .cast("double")), 4) + 0)
                    .alias("kmv_estimate")))


def kmv_jaccard_pairs(sketch: DataFrame, group_col: str,
                      k: int = KMV_K) -> DataFrame:
    """Pairwise Jaccard estimates between every two groups' sketches
    (group_a < group_b): take the k smallest hashes of the sketch
    UNION, count how many live in BOTH sketches — rows (group_a,
    group_b, n_union_sketch, n_inter_sketch, kmv_jaccard). Post-
    sketch relations are bounded at |groups| x k rows, so every join
    here is broadcast-sized by construction."""
    from tablite_spark.operators.groupby import top_k_per_group
    # "h" passes through un-aliased on both sides: the (ga, h) and
    # (gb, h) broadcasts then plan alike and run as one reused exchange
    a = (sketch.select(F.col(group_col).alias("ga"),
                       "h",
                       F.lit(1).alias("in_a")))
    b = (sketch.select(F.col(group_col).alias("gb"),
                       "h",
                       F.lit(1).alias("in_b")))
    ta = sketch.select(F.col(group_col).alias("ga")).distinct()
    tb = sketch.select(F.col(group_col).alias("gb")).distinct()
    # |groups|^2 pair frame — the 1-row-broadcast class (groups are
    # a handful of labels), documented cross join
    prs = ta.crossJoin(tb).filter(F.col("ga") < F.col("gb"))
    un = (prs.join(a, "ga")
          .unionByName(prs.join(b, "gb")
                       .select("ga", "gb", "h",
                               F.lit(None).cast("int").alias("in_a"),
                               "in_b"),
                       allowMissingColumns=True)
          .groupBy("ga", "gb", "h")
          .agg(F.max("in_a").alias("in_a"),
               F.max("in_b").alias("in_b")))
    top = top_k_per_group(un, ["ga", "gb"], [F.col("h").asc()], k)
    return (top.groupBy("ga", "gb")
            .agg(F.count(F.lit(1)).cast("long")
                 .alias("n_union_sketch"),
                 F.sum(F.when(F.col("in_a").isNotNull()
                              & F.col("in_b").isNotNull(), 1)
                       .otherwise(0)).cast("long")
                 .alias("n_inter_sketch"))
            .withColumn("kmv_jaccard",
                        F.round(F.col("n_inter_sketch")
                                / F.col("n_union_sketch"), 6) + 0))


def kmv_oracle_cte(entity_sql: str, table: str, group_col: str,
                   k: int = KMV_K) -> str:
    """DuckDB CTE fragment ``kmv(g, h)`` replaying ``kmv_sketch``
    verbatim: distinct 60-bit hashes, k smallest per group."""
    return f"""
        hs AS (
            SELECT DISTINCT {group_col} AS g,
                   CAST(CAST(('0x' || substring(
                       md5(CAST({entity_sql} AS VARCHAR)), 1, 15))
                       AS UBIGINT) AS BIGINT) AS h
            FROM {table} WHERE {entity_sql} IS NOT NULL
        ), kmv AS (
            SELECT g, h FROM (
                SELECT g, h, row_number()
                       OVER (PARTITION BY g ORDER BY h) AS rn
                FROM hs
            ) WHERE rn <= {k}
        )"""


# --------------------------------------------------------------------
# Count-Min sketch — frequency estimates with bounded state
# --------------------------------------------------------------------
#
# The counting member of the sketch trio (HLL: distinct, KMV: set
# overlap, CMS: frequencies): d independent hash rows x w counters,
# point estimate = min over rows (Cormode-Muthukrishnan 2005).
# Estimates NEVER undercount; overestimates are bounded by
# collisions (e/w per row of total mass, whp over d rows). State is
# d*w counters — combinable (counter cells SUM across partitions /
# days / streams), which is why it is the standard streaming
# frequency sketch. Same engine-portable 60-bit md5 arithmetic as
# the other two, so the DuckDB oracle replays the cells exactly.

CMS_D = 4          # hash rows
CMS_W = 1024       # counters per row


def cms_census(df: DataFrame, key_col: str,
               d: int = CMS_D, w: int = CMS_W) -> DataFrame:
    """The sketch itself: rows (row, col, cnt) — one combinable
    groupBy over a d-way row explode, bounded at d*w cells
    regardless of corpus size. Row i's hash salts the key with
    ``i:`` before the shared 60-bit md5."""
    rows = F.array(*[F.lit(i) for i in range(d)])
    e = (df.filter(F.col(key_col).isNotNull())
         .select(F.col(key_col).cast("string").alias("__k__"))
         .withColumn("row", F.explode(rows)))
    col = F.pmod(hll_hash(F.concat(F.col("row").cast("string"),
                                   F.lit(":"), F.col("__k__"))),
                 F.lit(w))
    return (e.select("row", col.cast("int").alias("col"))
            .groupBy("row", "col")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt")))


def cms_point_estimates(census: DataFrame, keys: DataFrame,
                        key_col: str, d: int = CMS_D,
                        w: int = CMS_W) -> DataFrame:
    """Point-frequency estimates for each key in ``keys``: min over
    the d addressed cells — rows (key, cms_est). ``keys`` is the
    (small) probe set; the join is |keys|*d against the d*w-cell
    census, broadcast-sized by construction."""
    probes = (keys.select(F.col(key_col).cast("string")
                          .alias("__k__")).distinct()
              .withColumn("row", F.explode(
                  F.array(*[F.lit(i) for i in range(d)]))))
    col = F.pmod(hll_hash(F.concat(F.col("row").cast("string"),
                                   F.lit(":"), F.col("__k__"))),
                 F.lit(w))
    return (probes.withColumn("col", col.cast("int"))
            .join(F.broadcast(census), ["row", "col"], "left")
            .groupBy(F.col("__k__").alias(key_col))
            .agg(F.min(F.coalesce("cnt", F.lit(0)))
                 .cast("long").alias("cms_est")))


def cms_oracle_cells(key_sql: str, table: str,
                     d: int = CMS_D, w: int = CMS_W) -> str:
    """DuckDB CTE fragment ``cms(row, col, cnt)`` replaying
    ``cms_census`` verbatim."""
    return f"""
        ks AS (
            SELECT CAST({key_sql} AS VARCHAR) AS k
            FROM {table} WHERE {key_sql} IS NOT NULL
        ), cms AS (
            SELECT r.i AS row,
                   CAST(CAST(('0x' || substring(md5(
                       CAST(r.i AS VARCHAR) || ':' || k), 1, 15))
                       AS UBIGINT) % {w} AS INT) AS col,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM ks, (SELECT UNNEST(range({d})) AS i) r
            GROUP BY 1, 2
        )"""
