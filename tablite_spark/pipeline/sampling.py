"""Deterministic sampling for training-data pipelines.

``df.sample`` is seed-dependent on partitioning — rerunning after a
repartition (or on a different engine) yields a different subset,
which breaks dataset reproducibility. These operators decide
membership from a HASH OF THE ROW KEY alone, so the same row is
always in or out: stable across runs, partitionings, engines (md5 is
md5 everywhere), and incremental appends — the property a 100 TB
training-set builder actually needs (consistent holdout splits,
resumable pipelines).

Cost: one md5 per row, scan-only plan — no shuffle, no state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tablite_spark.operators.groupby import top_k_per_group


def _unit_hash(key: Column) -> Column:
    """Uniform [0, 1) from the first 15 hex digits of md5(key) — 60
    bits, exactly representable in a double, portable everywhere."""
    h = F.md5(key.cast("string"))
    return (F.conv(F.substring(h, 1, 15), 16, 10).cast("double")
            / F.lit(float(1 << 60)))


def deterministic_sample(df: DataFrame, key_col: str,
                         fraction: float, salt: str = "") -> Column | DataFrame:
    """Keep ~``fraction`` of rows, membership decided by
    md5(salt+key): rerun-stable and append-consistent. Change ``salt``
    to draw an independent sample from the same keys."""
    key = F.concat(F.lit(salt), F.col(key_col).cast("string"))
    return df.filter(_unit_hash(key) < fraction)


def stratified_deterministic_sample(df: DataFrame, key_col: str,
                                    stratum_col: str,
                                    fractions: dict, salt: str = "",
                                    default: float = 0.0) -> DataFrame:
    """Per-stratum fractions (``df.sampleBy`` semantics, deterministic).
    Unlisted strata get ``default``."""
    key = F.concat(F.lit(salt), F.col(key_col).cast("string"))
    u = _unit_hash(key)
    frac = F.lit(float(default))
    for value, f in fractions.items():
        frac = F.when(F.col(stratum_col) == value, F.lit(float(f))) \
            .otherwise(frac)
    return df.filter(u < frac)


def weighted_deterministic_sample(df: DataFrame, key_col: str,
                                  weight_col: str, target_fraction: float,
                                  salt: str = "",
                                  mean_weight: float | None = None) -> DataFrame:
    """Importance-weighted deterministic sampling: row kept iff
    hash(salt+key) < target_fraction * weight / E[weight]. Rows with
    weight w are kept proportionally to w (clamped at certainty), and
    the expected kept fraction is ``target_fraction``.

    Membership is a pure function of (salt, key, weight, E[weight]).
    By default E[weight] is computed from ``df`` (one tiny agg, then
    scan-only) — which means appending rows SHIFTS the mean and can
    flip earlier rows' membership. For append-stable sampling, pin
    ``mean_weight`` to a frozen value (e.g. the corpus mean at dataset
    creation); membership is then invariant under append."""
    if mean_weight is not None:
        mean_w = float(mean_weight)
    else:
        mean_w = df.agg(F.avg(F.col(weight_col))).first()[0]
    if not mean_w or mean_w <= 0:
        raise ValueError(f"mean({weight_col}) must be positive, got {mean_w}")
    key = F.concat(F.lit(salt), F.col(key_col).cast("string"))
    p = F.least(F.lit(1.0),
                F.lit(float(target_fraction)) * F.col(weight_col)
                / F.lit(float(mean_w)))
    return df.filter(_unit_hash(key) < p)


def _row_tiebreak(df: DataFrame) -> Column:
    """Deterministic last-resort sort key: xxhash64 over every hashable
    column. Makes survivorship under duplicate (group, key) pairs
    partition-order-INDEPENDENT: physical duplicates that differ in
    payload order deterministically by payload hash, and fully
    identical rows are interchangeable (either choice yields the same
    output multiset). Map columns aren't hashable in Spark and are
    excluded — rows differing only in a map column still tie."""
    cols = [F.col(f.name) for f in df.schema.fields
            if not f.dataType.typeName().startswith("map")]
    return F.xxhash64(*cols) if cols else F.lit(0)


def quota_cap(df: DataFrame, key_col: str, group_col: str,
              quota: int, salt: str = "") -> DataFrame:
    """Cap every group at ``quota`` rows — the per-domain/per-source
    cap every web-corpus recipe applies so one giant crawl host can't
    dominate the mixture.

    Which rows survive is decided by rank of md5(salt+key) *within the
    group*: deterministic (rerun/engine-stable like every sampler
    here), and unbiased — the hash order is uncorrelated with crawl
    order, so the cap is a uniform subsample of each group rather than
    "first N by ingest time".

    Scale: the salted ``top_k_per_group``, because AQE's skew
    mitigation does not apply to window functions — a single hot
    domain would otherwise rank all its rows in one task.

    Duplicate (group, key) pairs: the sort tuple is (hash(salt+key),
    key, xxhash64(full row)) — the third element breaks ties between
    physical duplicates deterministically by payload, so survivorship
    never depends on partition order (fully identical rows are
    interchangeable; either yields the same output multiset). Unique
    keys remain the recommended contract — with them the first two
    elements already totally order each group.
    """
    if quota < 1:
        raise ValueError(f"quota must be >= 1, got {quota}")
    key = F.concat(F.lit(salt), F.col(key_col).cast("string"))
    order = [_unit_hash(key), F.col(key_col), _row_tiebreak(df)]
    return (top_k_per_group(df, [group_col], order, quota,
                            engine="salted", rank="__qrank__")
            .drop("__qrank__"))


def mixture_sample(df: DataFrame, key_col: str, group_col: str,
                   targets: dict, salt: str = "") -> DataFrame:
    """Rebalance a corpus to target per-group proportions — the
    "mixture weights" step of a training-data recipe (e.g. 30% web,
    30% code, 40% books) applied by DOWN-sampling only.

    For each group g with target share t_g: the largest feasible total
    N = min over groups of count_g / t_g; keep-rate_g = t_g * N /
    count_g (≤ 1). Membership per row is then the usual deterministic
    md5(salt+key) < rate_g — rerun/engine-stable, and exactly
    reproducible in SQL given the same counts.

    Scale: one partial-agg count pass over (group), a broadcast of the
    |groups|-row rate table, then a scan-only filter. No shuffle of
    the data itself.

    ``targets`` maps group value → target share; shares are normalized
    to sum 1. Groups absent from ``targets`` are dropped (rate 0).
    """
    if not targets:
        raise ValueError("targets must be a non-empty mapping")
    total_share = float(sum(targets.values()))
    if total_share <= 0:
        raise ValueError("target shares must sum to a positive value")
    shares = {k: float(v) / total_share for k, v in targets.items()}
    counts = {r["g"]: r["n"] for r in
              df.groupBy(F.col(group_col).alias("g"))
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    feasible = [counts[g] / s for g, s in shares.items()
                if s > 0 and g in counts]
    if not feasible:
        return df.filter(F.lit(False))
    n_total = min(feasible)
    rate = F.lit(0.0)
    for g, s in shares.items():
        if g in counts and counts[g] > 0:
            rate = F.when(F.col(group_col) == g,
                          F.lit(min(1.0, s * n_total / counts[g]))) \
                .otherwise(rate)
    key = F.concat(F.lit(salt), F.col(key_col).cast("string"))
    return df.filter(_unit_hash(key) < rate)


def token_budget_cap(df: DataFrame, key_col: str, group_col: str,
                     tokens_col: str, budget: int,
                     salt: str = "") -> DataFrame:
    """Cap every group at a TOKEN budget instead of a row quota: rows
    are taken in md5(salt+key) hash order (an unbiased uniform order,
    uncorrelated with ingest) until the group's running token total
    would exceed ``budget``. The "N billion tokens per source" knob of
    a dataset recipe, deterministic like every sampler here.

    A row is kept iff cumsum(tokens) UP TO AND INCLUDING it is ≤
    budget: the hash-ordered stream is truncated at the budget
    boundary and the first over-budget row is dropped whole (partial
    documents are worthless for training). Truncation is strict prefix
    — the cumulative sum is monotone, so nothing after the first
    overflow is kept; a best-fit repack would trade determinism
    complexity for at most one document's worth of tokens.

    Scale: TWO-PHASE, the running-sum twin of the salted
    ``top_k_per_group`` that ``quota_cap`` runs (a budget, not a row
    count, bounds each slice) — AQE's skew mitigation does
    not apply to window functions, so a single hot group must not push
    all its rows through one task. Phase 1 runs the prefix-sum within
    (group, input-partition) — many balanced tasks — keeping each
    partition's ≤-budget prefix PLUS the first overflow row (keep iff
    partition-local sum BEFORE the row ≤ budget). Phase 2 then runs
    the exact global prefix-sum over the survivors only.

    Why this is exact: (no false negatives) a globally-kept row's
    global predecessors all have cumsum ≤ budget, and each one's
    partition-local cumsum is ≤ its global cumsum, so every global
    predecessor survives phase 1 — phase 2's sum for the row equals
    the true global sum. (no false positives) if a global predecessor
    p of row s was dropped in phase 1, then p's partition-local
    predecessors — all kept in phase 1 and all global predecessors of
    s — already sum past the budget (the kept overflow row carries the
    boundary mass), so phase 2's sum for s exceeds the budget too.
    Survivors are ≤ budget tokens + 1 row per (group, partition), so
    the phase-2 window runs over a budget-bounded remnant, never the
    raw hot group.

    Duplicate (group, key) pairs tie-break deterministically by
    xxhash64(full row), as in ``quota_cap``.
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    from pyspark.sql import Window
    key = F.concat(F.lit(salt), F.col(key_col).cast("string"))
    order = [_unit_hash(key), F.col(key_col), _row_tiebreak(df)]
    w1 = (Window.partitionBy(group_col, "__tbsalt__").orderBy(*order)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w2 = (Window.partitionBy(group_col).orderBy(*order)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tok = F.col(tokens_col)
    return (df.withColumn("__tbsalt__", F.spark_partition_id())
            .withColumn("__run1__", F.sum(tok).over(w1))
            .filter(F.col("__run1__") - tok <= budget)  # prefix + boundary row
            .withColumn("__run_tok__", F.sum(tok).over(w2))
            .filter(F.col("__run_tok__") <= budget)
            .drop("__tbsalt__", "__run1__", "__run_tok__"))


def deterministic_shuffle(df: DataFrame, key_col: str,
                          seed: str = "") -> DataFrame:
    """Reproducible corpus shuffle: order rows by md5(seed+key) — the
    fixed "training order" step of a dataset recipe. Unlike
    ``df.orderBy(rand(seed))`` the order survives repartitioning,
    engine changes, and appends (a new row slots in by its hash
    without moving existing neighbors' relative order).

    Scale: Spark executes the orderBy as a range-partitioned sort —
    sampled range boundaries, then a distributed sort, never a single
    task. Change ``seed`` for an independent epoch order.
    """
    key = F.concat(F.lit(seed), F.col(key_col).cast("string"))
    return df.orderBy(_unit_hash(key), F.col(key_col))


def train_holdout_split(df: DataFrame, key_col: str,
                        holdout_fraction: float = 0.1,
                        salt: str = "split") -> tuple[DataFrame, DataFrame]:
    """(train, holdout) with hash-disjoint membership — a row can never
    migrate between splits as the corpus grows."""
    key = F.concat(F.lit(salt), F.col(key_col).cast("string"))
    u = _unit_hash(key)
    return df.filter(u >= holdout_fraction), df.filter(u < holdout_fraction)


def cluster_holdout_split(df: DataFrame, id_col: str,
                          components: DataFrame,
                          holdout_fraction: float = 0.1,
                          salt: str = "split"
                          ) -> tuple[DataFrame, DataFrame]:
    """Leakage-safe (train, holdout): membership is hashed on the
    NEAR-DUP CLUSTER id, not the document id, so near-duplicate
    documents can never straddle the split — the standard
    train/eval contamination hazard a plain per-document hash split
    does not cover (a holdout doc's near-twin in train is leakage).

    ``components`` is (id, component) from
    ``dedup.connected_components`` over any candidate-pair frame
    (MinHash-LSH, SimHash, exact fingerprint groups…). Documents
    absent from ``components`` are singleton clusters keyed by their
    own id. Membership stays hash-deterministic (rerun/append-stable,
    same contract as ``train_holdout_split``); the only data motion
    is one id-keyed left join of the (small) components frame.
    """
    comp = components.select(F.col("id").alias(id_col),
                             F.col("component").alias("__cl__"))
    tagged = (df.join(comp, id_col, "left")
              .withColumn("__cl__", F.coalesce(F.col("__cl__"),
                                               F.col(id_col))))
    key = F.concat(F.lit(salt), F.col("__cl__").cast("string"))
    u = _unit_hash(key)
    return (tagged.filter(u >= holdout_fraction).drop("__cl__"),
            tagged.filter(u < holdout_fraction).drop("__cl__"))


def kfold_assign(df: DataFrame, key_col: str, k: int = 5,
                 salt: str = "", fold_col: str = "fold") -> DataFrame:
    """Deterministic k-fold assignment: fold =
    first-15-hex-digits-of-md5(salt + key) mod k — the same
    engine-portable md5 discipline as :func:`deterministic_sample`,
    but INTEGER modulus instead of a float threshold, so the
    assignment is exact on any engine (DuckDB:
    ``CAST(('0x' || substring(md5(...), 1, 15)) AS UBIGINT) % k``).
    Rerun-stable, partitioning-independent, and append-consistent
    (a new row never moves an existing row's fold) — the property a
    cross-validation split over a growing 100 TB corpus needs. Change
    ``salt`` for an independent fold structure. Scan-only plan: one
    md5 per row, no shuffle, no state.
    """
    if k < 2:
        raise ValueError("kfold_assign requires k >= 2")
    key = F.concat(F.lit(salt), F.col(key_col).cast("string"))
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    return df.withColumn(fold_col, (h % k).cast("int"))
