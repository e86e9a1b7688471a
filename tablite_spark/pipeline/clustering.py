"""Distributed k-means — Lloyd's algorithm, Spark-first and exactly
replayable (the ``logreg_train`` recipe applied to clustering).

Why this exists alongside ``similarity.ivf_index`` (which wraps
Spark ML KMeans — also distributed) and ``pq_train`` (sample-trained
codebooks): corpus CURATION decisions (cluster-balanced mixture
weights, leakage-safe splits keyed on cluster membership, SemDeDup
pruning audits) need centroids that are REPRODUCIBLE — rerun-stable,
engine-neutral, and independently checkable — which float k-means
cannot promise (its result depends on float summation order and the
library's init). This implementation makes the whole trajectory
exact integer arithmetic, at the same distributed plan shape.

Shape per iteration (the classifier pattern, `classifier.py`):

- **assign** is zero-shuffle either way: a pure codegen expression
  for small k·dim (centroids ride the plan as literal arrays, each
  row computes k quantized squared distances and takes the
  struct-min), or — above ``_NUMPY_ASSIGN_CELLS`` — an Arrow-batched
  numpy matmul kernel computing the SAME exact int64 arithmetic
  (integer addition is associative, so both paths are bit-identical;
  tested). The kernel exists because the literal expression leaves
  whole-stage codegen at high dims and interpreted eval crawls
  (measured 28 s/iteration at k=16, dim=512, 200k rows → ~0.3 s with
  the kernel), and because 8k+ literals per task is the wrong plan
  shape at 100 TB.
- **update** is ONE combinable aggregation job: ``groupBy(cell)``
  with ``k × (dim+1)`` integer sums; only ``k·dim`` longs cross the
  network. The driver floors the means and feeds them back as
  literals.

At 100 TB the per-iteration cost is therefore ``iters`` scans of the
(narrow) quantized-vector column — the same plan Spark MLlib's
KMeans runs, minus its random init and float drift.

DETERMINISM CONTRACT: all arithmetic is INTEGER. Vectors are
quantized up front (``floor(x·scale + 0.5)`` — identical IEEE
double ops in any engine), so distances and per-cell sums are exact
BIGINTs whose distributed summation order cannot matter. Centroid
update uses ``floor(sum / count)`` on doubles — exact while
``|sum| < 2^53`` (a corpus of 1e9 docs at |q|≤3e5 sums to ~3e14:
fine; the guard is documented, not hidden). Seeding is the k rows
with the smallest ``(md5(id), id)`` — rerun-stable, engine-neutral,
and independently replayable: the ``kmeans_embeddings`` oracle
re-derives seeds, every assignment, and every centroid update as
unrolled DuckDB CTEs and must land on identical centroids and cell
sizes.

Reference parity: the reference engine has no clustering operator —
this is a beyond-reference capability for the training-data
pipeline (cluster-balanced sampling per e.g. DoReMi/D4 public
recipes).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tablite_spark.plans.lifecycle import pin, pinned

__all__ = ["DEFAULT_SCALE", "quantize_vectors", "kmeans_fit",
           "kmeans_assign", "kmeans_cells"]

#: quantization scale — 2^20 keeps unit-ish embedding components
#: integer-exact to ~1e-6 while leaving 40+ bits of headroom for
#: squared-distance sums at dim ≤ 4096.
DEFAULT_SCALE = 1 << 20


def quantize_vectors(df: DataFrame, vec_col: str,
                     scale: int = DEFAULT_SCALE,
                     out_col: str = "qv") -> DataFrame:
    """``array<float>`` → ``array<bigint>`` via
    ``floor(x·scale + 0.5)`` (round-half-up — floor of a double is
    bit-identical across engines, unlike round()'s mode zoo)."""
    return df.withColumn(
        out_col,
        F.transform(F.col(vec_col),
                    lambda x: F.floor(x.cast("double") * F.lit(float(scale))
                                      + F.lit(0.5)).cast("long")))


def _sq_dist(qv: Column, centroid: list[int]) -> Column:
    """Exact integer squared distance to a literal centroid."""
    lit_c = F.array(*[F.lit(int(c)) for c in centroid])
    diffs = F.zip_with(qv, lit_c, lambda x, c: (x - c) * (x - c))
    return F.aggregate(diffs, F.lit(0).cast("long"), lambda a, x: a + x)


def _assign_expr(qv: Column, centroids: list[list[int]]) -> Column:
    """argmin over centroids as a struct-min — ties break to the
    LOWEST cell id, exactly as the oracle's ``min(struct(d, j))``."""
    cands = [F.struct(_sq_dist(qv, c).alias("d"),
                      F.lit(j).alias("j"))
             for j, c in enumerate(centroids)]
    return F.array_sort(F.array(*cands))[0]["j"]


#: above this k·dim the literal-centroid expression leaves whole-stage
#: codegen (the tree carries k·dim literals) and interpreted eval
#: crawls (~28 s/iteration at k=16, dim=512, 200k rows measured) —
#: switch to the Arrow numpy kernel, which computes the SAME exact
#: int64 arithmetic ~100× faster and keeps the plan literal-free.
_NUMPY_ASSIGN_CELLS = 2048


def _assign_numpy_udf(centroids: list[list[int]]):
    """Arrow-batched argmin kernel for high-dim centroids.

    BIT-IDENTICAL to :func:`_assign_expr` by construction: every
    quantity is int64 and integer addition is associative, so
    ``|x|² − 2x·c + |c|²`` computed by matmul equals the expression
    path's ``Σ(x−c)²`` exactly; ``np.argmin`` ties to the lowest
    index, the struct-min's tie rule. Overflow headroom: |q| ≤ 2²¹
    (scale 2²⁰ on unit-ish inputs) → per-term ≤ 2⁴², dot ≤ 2⁴²·dim —
    exact in int64 through dim ~2M. The centroid matrix rides in the
    udf closure (k·dim·8 B — 512 KB at k=16, dim=4096), NOT as plan
    literals, so the per-task plan stays small at 100 TB."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.int64)
    c_sq = (C * C).sum(axis=1)  # k

    def cell_of(qv):
        if not len(qv):
            return pd.Series([], dtype="int32")
        X = np.stack(qv.to_numpy()).astype(np.int64, copy=False)
        d2 = ((X * X).sum(axis=1)[:, None]
              - 2 * (X @ C.T) + c_sq[None, :])
        return pd.Series(np.argmin(d2, axis=1).astype(np.int32))

    # real type objects, not strings: the module's `from __future__
    # import annotations` would otherwise leave hints pandas_udf's
    # signature inference cannot resolve
    cell_of.__annotations__ = {"qv": pd.Series, "return": pd.Series}
    return pandas_udf(cell_of, "int")


def _assign(qv: Column, centroids: list[list[int]]) -> Column:
    """Pick the assign implementation by expression size — both are
    exact and bit-identical (tested), so this is purely physical."""
    k, dim = len(centroids), len(centroids[0]) if centroids else 0
    if k * dim > _NUMPY_ASSIGN_CELLS:
        return _assign_numpy_udf(centroids)(qv)
    return _assign_expr(qv, centroids)


def kmeans_fit(df: DataFrame, vec_col: str, id_col: str,
               k: int = 8, iters: int = 3,
               scale: int = DEFAULT_SCALE) -> list[list[int]]:
    """Fit k centroids (quantized ints) by ``iters`` Lloyd rounds.

    Seeds = the k rows with smallest ``(md5(id), id)``; an empty
    cell keeps its previous centroid (documented, oracle-replayed).
    Returns the centroid list — feed to :func:`kmeans_assign`."""
    q = quantize_vectors(df, vec_col, scale).select(
        F.col(id_col).alias("__id__"), "qv")
    # pin BEFORE the seed collect: the seed job and every iteration
    # read the one quantize pass (was: seeds quantized a second time)
    with pinned(q, eager=True) as q:
        seed_rows = (q.orderBy(F.md5(F.col("__id__").cast("string")),
                               "__id__")
                     .limit(k).select("qv").collect())
        centroids = [list(r["qv"]) for r in seed_rows]
        if not centroids:
            return []
        dim = len(centroids[0])
        # r14 optimization round — count-gated driver twin (the
        # graph/connected-components valve discipline, guide §2.2):
        # each Lloyd round is ONE tiny agg job whose k×(dim+1) sums
        # pay 32 task launches + a fresh codegen compile (centroid
        # literals change every round) — pure fixed cost on a small
        # frame. Under the valve, ONE Arrow collect + the identical
        # numpy trajectory replaces iters jobs; corpus-scale frames
        # run the unchanged distributed loop.
        n_rows = q.count()
        if n_rows * dim <= _kmeans_driver_cells():
            tw = _driver_lloyd(q, centroids, iters)
            if tw is not None:
                return tw
        for _ in range(iters):
            cell = _assign(F.col("qv"), centroids)
            sums = (q.groupBy(cell.alias("cell"))
                    .agg(F.count(F.lit(1)).alias("n"),
                         *[F.sum(F.element_at("qv", i + 1)).alias(f"s{i}")
                           for i in range(dim)])
                    .collect())
            by_cell = {r["cell"]: r for r in sums}
            centroids = [
                [int(math.floor(by_cell[j][f"s{i}"] / by_cell[j]["n"]))
                 for i in range(dim)]
                if j in by_cell else centroids[j]  # empty cell carries
                for j in range(len(centroids))]
    return centroids


def _kmeans_driver_cells() -> int:
    """Valve: run Lloyd's on the driver when rows·dim int64 cells fit
    this budget (default 8M cells = 64 MB — the broadcast-side size
    class the graph valves use)."""
    return int(os.environ.get("SPARK_GRAFT_KMEANS_DRIVER_CELLS",
                              str(8_000_000)))


def _driver_lloyd(q: DataFrame, centroids: list[list[int]],
                  iters: int) -> list[list[int]] | None:
    """Driver twin of the distributed Lloyd loop — IDENTICAL
    trajectory by construction: int64 squared distances via
    ``|x|² − 2x·C + |c|²`` (exact — integer addition is associative,
    the `_assign_numpy_udf` bound), ``np.argmin`` ties to the lowest
    cell id (the struct-min rule), per-cell int64 sums floored
    through the SAME ``math.floor(int / int)`` float division as the
    distributed update, empty cells carry. Returns None (caller runs
    the distributed loop) when the collected vectors are not a clean
    rectangular int64 matrix (null/ragged rows)."""
    import numpy as np

    col = q.select("qv").toArrow().column("qv")
    rows = col.to_pylist()
    dim = len(centroids[0])
    if any(r is None or len(r) != dim or None in r for r in rows):
        return None
    X = np.asarray(rows, dtype=np.int64)
    # int64 exactness guard: numpy wraps silently where the JVM's
    # long math keeps going — require 4·dim·max|x|² < 2^62 (covers
    # |x|² + 2|x||c| + |c|² per term, summed over dim), else fall
    # back to the distributed loop
    mx = int(np.abs(X).max()) if X.size else 0
    if mx and 4 * dim * mx * mx >= 2 ** 62:
        return None
    x_sq = (X * X).sum(axis=1)
    for _ in range(iters):
        C = np.asarray(centroids, dtype=np.int64)
        d2 = (x_sq[:, None] - 2 * (X @ C.T)
              + (C * C).sum(axis=1)[None, :])
        cell = np.argmin(d2, axis=1)
        new = []
        for j in range(len(centroids)):
            m = cell == j
            nj = int(m.sum())
            if nj:
                sums = X[m].sum(axis=0, dtype=np.int64)
                new.append([int(math.floor(int(s) / nj))
                            for s in sums])
            else:
                new.append(centroids[j])  # empty cell carries
        centroids = new
    return centroids


def kmeans_assign(df: DataFrame, vec_col: str,
                  centroids: list[list[int]],
                  scale: int = DEFAULT_SCALE,
                  cell_col: str = "cell") -> DataFrame:
    """Attach the nearest-centroid cell id — a pure expression over
    the quantized vector, zero shuffles (plan-gated)."""
    q = quantize_vectors(df, vec_col, scale, out_col="__qv__")
    out = q.withColumn(cell_col, _assign(F.col("__qv__"), centroids))
    return out.drop("__qv__")


def kmeans_cells(df: DataFrame, vec_col: str, id_col: str,
                 k: int = 8, iters: int = 3,
                 scale: int = DEFAULT_SCALE) -> DataFrame:
    """Fit + final assignment → one row per cell:
    ``(cell, n_points, centroid_csv)`` where centroid_csv is the
    comma-joined quantized centroid (engine-neutral string form).
    Cells left empty by the final assignment still appear with
    ``n_points = 0`` — their centroid is real state the next round
    of Lloyd's would use."""
    spark = df.sparkSession
    centroids = kmeans_fit(df, vec_col, id_col, k=k, iters=iters,
                           scale=scale)
    counts = (kmeans_assign(df, vec_col, centroids, scale)
              .groupBy("cell").agg(F.count(F.lit(1)).alias("n_points")))
    cent_df = spark.createDataFrame(
        [(j, ",".join(str(v) for v in c))
         for j, c in enumerate(centroids)],
        "cell int, centroid_csv string")
    return (cent_df.join(counts, "cell", "left")
            .select("cell",
                    F.coalesce("n_points", F.lit(0)).alias("n_points"),
                    "centroid_csv"))


def dbscan_grid(pts: DataFrame, id_col: str, x_col: str, y_col: str,
                eps: int, min_pts: int) -> DataFrame:
    """Distributed DBSCAN on an integer lattice — rows (id, role,
    cluster) with role in {'core','border','noise'} and cluster =
    the SMALLEST core id reachable through the core graph (NULL for
    noise). Deterministic end to end:

    - neighbors come from ``operators/spatial.py:grid_radius_join``
      (the 9-neighbor cell equi join — shuffle |P| + 9|P| rows by
      cell, never the all-pairs join a textbook DBSCAN implies);
      a point counts ITSELF toward ``min_pts`` (the self-pair is in
      the join output at distance 0).
    - core points (>= min_pts in-radius neighbors) cluster through
      ``pipeline/dedup.py:connected_components`` (hash-min label
      propagation) over the core-core adjacency; an isolated core
      labels itself.
    - border points (non-core with a core neighbor) take the MIN
      cluster label among their in-radius cores — the deterministic
      resolution of textbook DBSCAN's first-found-wins ambiguity.

    Scale shape: one cell-bucketed self-join + combinable counts +
    the CC rounds (state = (core id, label) pairs). Cluster shape is
    a data property; subcritical eps keeps components small, and the
    CC engine's hash-min rounds are the standard answer either way.
    """
    from tablite_spark.operators.spatial import grid_radius_join
    from tablite_spark.pipeline.dedup import connected_components
    from tablite_spark.plans.hints import maybe_broadcast
    p = pts.select(F.col(id_col).alias("pid"),
                   F.col(x_col).alias("x"), F.col(y_col).alias("y"))
    # r14 optimization round: the neighbor-pair frame feeds the core
    # census, the core-core adjacency AND the border resolution —
    # pin it ONCE, projected to the id pair (guide §2.2: the old
    # shape re-ran the 9-cell self-join three times and carried
    # x/y/dist_sq it never read again); the core set / labels are
    # point-bounded with counted sizes, so their joins broadcast
    with pinned(grid_radius_join(p, p, eps).select("pid_l", "pid_r"),
                eager=False) as nb:
        cnt = (nb.groupBy(F.col("pid_l").alias("pid"))
               .agg(F.count(F.lit(1)).alias("n_nb")))
        cores = pin(cnt.filter(F.col("n_nb") >= min_pts).select("pid"),
                    eager=True)
        n_cores = cores.count()
        core_pairs = (nb
                      .join(maybe_broadcast(
                          cores.select(F.col("pid").alias("pid_l")),
                          n_cores, 16), "pid_l")
                      .join(maybe_broadcast(
                          cores.select(F.col("pid").alias("pid_r")),
                          n_cores, 16), "pid_r")
                      .filter(F.col("pid_l") < F.col("pid_r"))
                      .select(F.col("pid_l").alias("id_a"),
                              F.col("pid_r").alias("id_b")))
        comp = connected_components(core_pairs)
        core_lab = (cores.join(maybe_broadcast(
            comp.select(F.col("id").alias("pid"), "component"),
            n_cores, 24), "pid", "left")
            .select("pid",
                    F.coalesce("component", F.col("pid"))
                    .cast("long").alias("cluster")))
        border = (nb
                  .join(maybe_broadcast(
                      cores.select(F.col("pid").alias("pid_l")),
                      n_cores, 16), "pid_l", "left_anti")
                  .join(maybe_broadcast(
                      core_lab.select(F.col("pid").alias("pid_r"),
                                      "cluster"), n_cores, 24),
                        "pid_r")
                  .groupBy(F.col("pid_l").alias("pid"))
                  .agg(F.min("cluster").cast("long").alias("cluster")))
        labeled = pin(core_lab.withColumn("role", F.lit("core"))
                      .unionByName(border.withColumn("role",
                                                     F.lit("border"))),
                      eager=True)  # point-bounded; frees nb
    return (p.select("pid")
            .join(labeled, "pid", "left")
            .select(F.col("pid").alias(id_col),
                    F.coalesce("role", F.lit("noise")).alias("role"),
                    "cluster"))
