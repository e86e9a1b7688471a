"""Distributed PageRank — power iteration, Spark-first and exactly
replayable (the ``kmeans``/``logreg`` determinism discipline applied
to graphs).

Why a training-data engine ships PageRank: web-corpus curation uses
link-graph centrality as a document quality prior (public recipes:
Common Crawl's harmonic-centrality host ranking, OpenWebText's
karma thresholds) — "pages many pages point to" survive the gate,
isolated spam islands don't.

Semantics (standard damped PageRank over a MULTIGRAPH — parallel
edges each carry mass; ``outdeg`` = out-EDGE count):

    r_{t+1}(v) = base + dang_share
                 + floor(d · Σ_{u→v} floor(r_t(u) / outdeg(u)))

with all ranks in integer micro-units of ``unit`` (initial rank
``floor(unit / N)``), ``base = floor((1-d)·unit / N)`` and
``dang_share = floor(d · Σ_{dangling} r_t / N)`` — dangling mass is
redistributed uniformly, the textbook treatment. Every floor() is a
plain IEEE-double op identical in any engine, every sum is an exact
BIGINT sum, so the whole trajectory is bit-reproducible and the
``pagerank_lineitem`` oracle replays all iterations as unrolled
DuckDB CTEs. (Mass is not exactly conserved — each floor sheds
< 1 micro-unit — which is the price of engine-neutral exactness and
irrelevant at unit = 1e12.)

Plan shape per iteration (the industry-standard PageRank shape):
ONE edges ⋈ ranks join on src (edges can be pre-partitioned on src
once and reused every iteration), ONE combinable groupBy(dst), one
tiny scalar agg for dangling mass, and a ranks-rebuild join on the
node frame. State = the (node, outdeg, rank) frame, never the
corpus. Per-iteration results are localCheckpoint-pinned so the
lineage does not grow with ``iters`` (the connected-components
pattern).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tablite_spark.plans.hints import maybe_broadcast as _maybe_broadcast
from tablite_spark.plans.lifecycle import pin, pinned, release

__all__ = ["pagerank", "triangle_count", "bfs_hops", "k_core",
           "hyperball", "temporal_bfs",
           "personalized_pagerank"]

# Iterative graph state lives in localCheckpoint frames, whose
# LogicalRDD stats are UNKNOWN to Catalyst — every state ⋈ edges join
# would plan as a sort-merge join that shuffles the BIG side once
# per round (r14 optimization round, measured in the plan captures).
# The state side is node-bounded and its row count is already
# computed each round (the fixpoint/convergence checks), so every
# loop below feeds those REAL counts to plans.hints.maybe_broadcast.
#
# r14 optimization round, second lever (guide §2.2 fixed per-round
# cost): a DISCRETE fixpoint on a SMALL graph pays rounds ×
# (join job + eager checkpoint + convergence job) of pure
# orchestration — measured ~0.7 s/round on a 520k-edge graph whose
# whole edge list is 16 MB. The three integer-exact traversals
# (k-core peel, BFS hops, temporal earliest-arrival) therefore take
# a count-gated driver twin when the pinned edge frame holds at most
# ``SPARK_GRAFT_GRAPH_DRIVER_EDGES`` rows (default 2M ≈ 48 MB — the
# broadcast-side size class; the connected_components /
# ``diff``/``transpose`` valve discipline): ONE Arrow collect + the
# identical numpy fixpoint, same rows, same dtypes, same
# ``max_rounds`` guard. Float algorithms (pagerank's floor chain,
# hyperball's estimator) are NOT twinned — cross-runtime libm
# differences could break bit-parity — and corpus-scale graphs
# exceed the valve and run the unchanged distributed loops.

def _driver_edge_valve() -> int:
    # read per call so tests/deployments can steer the valve at
    # runtime (the connected_components knob discipline)
    return int(os.environ.get("SPARK_GRAFT_GRAPH_DRIVER_EDGES",
                              str(2_000_000)))


def _factorized_edges(pdf, cols):
    """Factorize the node values of ``pdf[cols]`` into one shared
    code space: (per-col int64 code arrays, the unique values as a
    pandas Series)."""
    import pandas as pd
    both = pd.concat([pdf[c] for c in cols], ignore_index=True)
    codes, uniq = pd.factorize(both)
    m = len(pdf)
    return [codes[i * m:(i + 1) * m] for i in range(len(cols))], \
        pd.Series(uniq)


def _k_core_driver(und: DataFrame, k: int,
                   max_rounds: int) -> DataFrame:
    """Exact driver twin of the simultaneous peel: same rows (node,
    core_degree within the final core), same dtypes, same
    ``max_rounds`` guard. A node leaves ``deg`` when it has no
    surviving edge (the inner join drops it), so keep additionally
    requires deg > 0 — bit-identical to the distributed fixpoint."""
    import numpy as np

    from pyspark.sql.types import LongType, StructField, StructType

    spark = und.sparkSession
    schema = StructType([
        StructField("node", und.schema["a"].dataType),
        # count(...).cast("long") is non-nullable in the
        # distributed frame — match it exactly
        StructField("core_degree", LongType(), False)])
    pdf = und.toArrow().to_pandas()
    (a, b), uniq = _factorized_edges(pdf, ["a", "b"])
    n = len(uniq)
    if n == 0:
        return spark.createDataFrame([], schema)
    import pandas as pd
    alive = np.ones(n, dtype=bool)
    for _ in range(max_rounds):
        mask = alive[a] & alive[b]
        deg = np.bincount(a[mask], minlength=n)
        keep = alive & (deg >= k) & (deg > 0)
        n_keep, n_alive = int(keep.sum()), int(alive.sum())
        if n_keep == n_alive or n_keep == 0:
            out = pd.DataFrame({
                "node": uniq[keep].reset_index(drop=True),
                "core_degree": deg[keep].astype("int64")})
            return spark.createDataFrame(out, schema)
        alive = keep
    raise RuntimeError(
        f"k_core did not converge in {max_rounds} rounds")


def _bfs_hops_driver(und: DataFrame, seeds: DataFrame,
                     node_col: str, max_hops: int) -> DataFrame:
    """Exact driver twin of the frontier loop: seeds at hops 0 (even
    seeds absent from the graph — the distributed dist keeps them),
    each further round settles the unvisited neighbors of the
    previous frontier."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import LongType, StructField, StructType

    spark = und.sparkSession
    sd = seeds.select(F.col(node_col).alias("node")).distinct()
    schema = StructType([
        StructField("node", sd.schema["node"].dataType),
        # lit(h).cast("long") is non-nullable in the distributed
        # frame — match it exactly
        StructField("hops", LongType(), False)])
    epdf = und.toArrow().to_pandas()
    spdf = sd.toArrow().to_pandas()
    both = pd.concat([epdf["a"], epdf["b"], spdf["node"]],
                     ignore_index=True)
    codes, uniq = pd.factorize(both)
    m = len(epdf)
    a, b = codes[:m], codes[m:2 * m]
    seed_codes = np.unique(codes[2 * m:])
    n = len(uniq)
    hops = np.full(n, -1, dtype=np.int64)
    if len(seed_codes):
        hops[seed_codes] = 0
    for h in range(1, max_hops + 1):
        cand = b[hops[a] == h - 1]
        cand = cand[hops[cand] == -1]
        if len(cand) == 0:
            break
        hops[np.unique(cand)] = h
    mask = hops != -1
    out = pd.DataFrame({
        "node": pd.Series(uniq)[mask].reset_index(drop=True),
        "hops": hops[mask]})
    return spark.createDataFrame(out, schema)


def _temporal_bfs_driver(e: DataFrame, state0: DataFrame,
                         out_schema, max_hops: int) -> DataFrame:
    """Exact driver twin of the simultaneous temporal relaxation:
    ``max_hops`` strict Jacobi rounds (eligibility judged against
    the ROUND-START arrivals, then one order-free min-merge), the
    same round count and no early exit — matching the distributed
    loop's trajectory round for round."""
    import numpy as np
    import pandas as pd

    spark = e.sparkSession
    epdf = e.toArrow().to_pandas()
    spdf = state0.toArrow().to_pandas()
    both = pd.concat([epdf["node"], epdf["__dst__"], spdf["node"]],
                     ignore_index=True)
    codes, uniq = pd.factorize(both)
    m = len(epdf)
    src, dst = codes[:m], codes[m:2 * m]
    scodes = codes[2 * m:]
    n = len(uniq)
    SENT = np.iinfo(np.int64).max
    arr = np.full(n, SENT, dtype=np.int64)
    if len(scodes):
        arr[scodes] = spdf["arrival"].to_numpy(dtype=np.int64)
    ts = epdf["__ts__"].to_numpy(dtype=np.int64)
    for _ in range(max_hops):
        prev = arr.copy()
        sel = (prev[src] != SENT) & (ts >= prev[src])
        np.minimum.at(arr, dst[sel], ts[sel])
    mask = arr != SENT
    out = pd.DataFrame({
        "node": pd.Series(uniq)[mask].reset_index(drop=True),
        "arrival": arr[mask]})
    return spark.createDataFrame(out, out_schema)


def pagerank(edges: DataFrame, src_col: str, dst_col: str,
             iters: int = 5, damping: float = 0.85,
             unit: int = 10 ** 12) -> DataFrame:
    """Return (node, rank) in integer micro-units after ``iters``
    damped power iterations. Nodes = distinct(src ∪ dst)."""
    # the edge frame is scanned 2 + iters times (nodes, outdeg, one
    # contribs join per iteration) — pin it once instead of replaying
    # its upstream build (which for the registry callers is a multi-
    # shuffle derivation from the corpus) every scan
    with pinned(edges.select(F.col(src_col).alias("src"),
                             F.col(dst_col).alias("dst")),
                eager=False) as e:
        nodes = (e.select(F.col("src").alias("node"))
                 .unionByName(e.select(F.col("dst").alias("node")))
                 .distinct())
        outdeg = e.groupBy(F.col("src").alias("node")) \
                  .agg(F.count(F.lit(1)).alias("outdeg"))
        base_nodes = pin(nodes.join(outdeg, "node", "left")
                         .select("node", F.coalesce("outdeg", F.lit(0))
                                 .alias("outdeg")), eager=True)
        n = base_nodes.count()
        if n == 0:
            return base_nodes.select("node", F.lit(0).alias("rank"))
        d = float(damping)
        base = math.floor((1.0 - d) * unit / n)
        ranks = base_nodes.withColumn(
            "rank", F.lit(int(math.floor(unit / n))).cast("long"))
        prev_ckpt: DataFrame | None = None  # last round's checkpoint
        for _ in range(iters):
            dang = ranks.filter(F.col("outdeg") == 0) \
                        .agg(F.sum("rank")).first()[0] or 0
            dang_share = math.floor(d * dang / n)
            per_edge = ranks.filter(F.col("outdeg") > 0).select(
                F.col("node").alias("src"),
                F.floor(F.col("rank") / F.col("outdeg")).cast("long")
                .alias("c"))
            # per_edge is node-bounded (<= n rows, counted): broadcast
            # it so the edge table is never shuffled — the join output
            # collapses map-side into <= n partial sums per task
            contribs = (e.join(_maybe_broadcast(per_edge, n, 32),
                               "src")
                        .groupBy(F.col("dst").alias("node"))
                        .agg(F.sum("c").alias("s")))
            ranks = pin(base_nodes.join(
                _maybe_broadcast(contribs, n, 24), "node", "left")
                .select("node", "outdeg",
                        (F.lit(base + dang_share)
                         + F.floor(F.lit(d)
                                   * F.coalesce(F.col("s"), F.lit(0))
                                   .cast("double")).cast("long"))
                        .alias("rank")), eager=True)
            # the new checkpoint no longer references the previous
            # one's blocks — free them now, or one copy of the rank
            # state stays pinned in executor storage per iteration
            if prev_ckpt is not None:
                release(prev_ckpt)
            prev_ckpt = ranks
        if iters > 0:
            # the final ranks checkpoint is self-contained;
            # base_nodes' blocks are no longer reachable from it
            # (iters=0 returns the initial frame, which still reads
            # base_nodes' blocks)
            release(base_nodes)
        return ranks.select("node", "rank")


def triangle_count(edges: DataFrame, src_col: str,
                   dst_col: str) -> DataFrame:
    """Exact triangle census of an undirected simple graph: ONE row
    (n_nodes, n_edges, n_triangles, n_wedges, clustering) where
    ``clustering`` is the global (transitivity) coefficient
    3·triangles / wedges and wedges = Σ deg·(deg−1)/2. Input edges
    may be directed/duplicated — they canonicalize to distinct
    undirected pairs first; self-loops drop.

    Scale shape — the standard degree-ordered orientation: each
    undirected edge points from its LOWER-(degree, id) endpoint to
    the higher, so every node's out-degree is O(sqrt(|E|)) on any
    graph (a hub's edges mostly point INTO it) and the wedge
    self-join fans out by out-degree, never raw degree — the
    classic MapReduce triangle-counting bound. The wedge→edge probe
    is one more equi-join; wedges/degrees are combinable censuses.
    Every count is an exact BIGINT; the one division rounds at the
    caller's boundary.
    """
    a, b = F.col(src_col), F.col(dst_col)
    # und is scanned 4x (degree census, orientation join, edge count,
    # triangle probe) and ori 3x (both wedge legs + probe) — pin each
    # once; |E| is counted anyway (it is an output column), and that
    # real number drives every broadcast decision below
    und = pin(edges.filter(a.isNotNull() & b.isNotNull() & (a != b))
              .select(F.least(a, b).alias("u"),
                      F.greatest(a, b).alias("v"))
              .distinct(), eager=False)
    n_edges = und.count()
    # the degree census feeds the orientation join AND the wedge
    # total — pin it so its union+groupBy pass runs once
    deg = pin(und.select(F.col("u").alias("n"))
              .unionAll(und.select(F.col("v").alias("n")))
              .groupBy("n").agg(F.count(F.lit(1)).alias("d")),
              eager=False)
    # orient each edge low-(degree, id) -> high-(degree, id);
    # deg is node-bounded (<= 2|E| rows): broadcast it into both
    # endpoint joins so und is never shuffled
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    e = (und.join(_maybe_broadcast(du, 2 * n_edges, 24), "u")
         .join(_maybe_broadcast(dv, 2 * n_edges, 24), "v"))
    lo_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    ori = pin(e.select(
        F.when(lo_first, F.col("u")).otherwise(F.col("v"))
        .alias("s"),
        F.when(lo_first, F.col("v")).otherwise(F.col("u"))
        .alias("t")), eager=False)
    # wedges at the low endpoint: (s -> t1), (s -> t2), t1 < t2;
    # a triangle exists iff {t1, t2} is an edge. Because wedges
    # carry t1 < t2 and und is canonical (u < v), the closing-
    # edge probe is und ITSELF — the old probe unioned BOTH
    # orientations of ori (2|E| rows) to reach the same matches.
    # Wedge leg and probe are |E|-bounded: broadcast them so the
    # wedge fan-out streams through one stage with zero shuffles
    # (the fallback keeps the shuffled joins for graphs past the
    # budget)
    w1 = ori.select(F.col("s"), F.col("t").alias("t1"))
    w2 = ori.select(F.col("s"), F.col("t").alias("t2"))
    wedges = (w1.join(_maybe_broadcast(w2, n_edges, 16), "s")
              .filter(F.col("t1") < F.col("t2")))
    probe = und.select(F.col("u").alias("t1"),
                       F.col("v").alias("t2"))
    tri = (wedges.join(_maybe_broadcast(probe, n_edges, 16),
                       ["t1", "t2"])
           .agg(F.count(F.lit(1)).alias("n_triangles")))
    stats = (deg.agg(F.count(F.lit(1)).alias("n_nodes"),
                     F.sum(F.col("d") * (F.col("d") - 1) / 2)
                     .cast("long").alias("n_wedges")))
    nedges = und.agg(F.count(F.lit(1)).alias("n_edges"))
    out = pin(stats.crossJoin(F.broadcast(nedges))
              .crossJoin(F.broadcast(tri))
              .select("n_nodes", "n_edges", "n_triangles",
                      "n_wedges",
                      F.when(F.col("n_wedges") > 0,
                             3.0 * F.col("n_triangles")
                             / F.col("n_wedges"))
                      .alias("clustering")),
              eager=True)  # 1 row; lets the pins release
    for df in (ori, deg, und):
        release(df)
    return out


def bfs_hops(edges: DataFrame, seeds: DataFrame, src_col: str,
             dst_col: str, node_col: str = "node",
             max_hops: int = 4) -> DataFrame:
    """Multi-source BFS hop distance over an UNDIRECTED graph:
    rows (node, hops) for every node reachable from any seed within
    ``max_hops`` (seeds themselves at hops 0). The lineage-curation
    use: "everything within k links of a trusted/banned seed set".

    Shape per round (the Pregel frontier pattern): ONE frontier ⋈
    edges join on the frontier key + ONE combinable min-groupBy,
    then an anti-join against settled nodes so state and frontier
    hold each node AT MOST ONCE — state is O(reached nodes), the
    frontier only ever shrinks toward the periphery, and rounds are
    ``localCheckpoint``-pinned so lineage stays flat (the pagerank /
    connected-components discipline). A node's distance is final the
    first round it appears (BFS invariant), so no re-relaxation ever
    happens — ``max_hops`` bounds the round count, not correctness.
    """
    # the undirected edge frame is scanned once per round — pin it
    # (before this round it was re-derived from the corpus each hop)
    with pinned(edges.select(F.col(src_col).alias("a"),
                             F.col(dst_col).alias("b"))
                .unionByName(edges.select(F.col(dst_col).alias("a"),
                                          F.col(src_col).alias("b")))
                .distinct(), eager=False) as und:
        if und.count() <= _driver_edge_valve():
            return _bfs_hops_driver(und, seeds, node_col, max_hops)
        dist = pin(seeds.select(F.col(node_col).alias("node")).distinct()
                   .withColumn("hops", F.lit(0)), eager=True)
        n_frontier = dist.count()  # replaces round-1 isEmpty probe
        n_dist = n_frontier
        frontier = dist
        for h in range(1, max_hops + 1):
            if n_frontier == 0:
                break
            # frontier and settled state are node-bounded with REAL
            # counts in hand: broadcast them so und never shuffles —
            # the frontier side into the expansion join, the settled
            # side into the anti-join
            nxt = pin(und.join(_maybe_broadcast(
                          frontier.select(F.col("node").alias("a")),
                          n_frontier, 16), "a")
                      .select(F.col("b").alias("node")).distinct()
                      .join(_maybe_broadcast(dist.select("node"),
                                             n_dist, 16),
                            "node", "left_anti")
                      .withColumn("hops", F.lit(h)), eager=True)
            n_frontier = nxt.count()  # doubles as the isEmpty probe
            if n_frontier == 0:
                break
            n_dist += n_frontier
            prev = dist
            dist = pin(dist.unionByName(nxt), eager=True)
            release(prev)
            if frontier is not prev:  # round 1: frontier IS the seeds
                release(frontier)
            frontier = nxt
        return dist.select("node", F.col("hops").cast("long")
                           .alias("hops"))


def k_core(edges: DataFrame, src_col: str, dst_col: str, k: int,
           max_rounds: int = 30) -> DataFrame:
    """The k-core of an UNDIRECTED graph — the (unique) maximal
    subgraph where every node keeps degree >= k — as rows
    (node, core_degree). The curation use: "parts/documents that
    co-occur robustly", where raw degree over-counts hub noise that
    unravels once weak neighbors leave.

    Algorithm: SIMULTANEOUS peeling to the fixpoint — each round
    recomputes degrees within the surviving set (two semi joins +
    one combinable groupBy) and drops every node under k at once.
    The k-core is a confluent fixpoint, so simultaneous rounds reach
    exactly it, in at most graph-unraveling-depth rounds (single
    digits on co-occurrence graphs; ``max_rounds`` guards pathological
    chains and raises rather than returning a non-fixpoint). Rounds
    are ``localCheckpoint``-pinned (the pagerank/CC discipline);
    per-round state is the (node) survivor frame, never the corpus.

    Returns the SAME relation the last degree recomputation produced,
    so ``core_degree`` is each node's degree inside the final core.
    """
    with pinned(edges.select(F.col(src_col).alias("a"),
                             F.col(dst_col).alias("b"))
                .unionByName(edges.select(F.col(dst_col).alias("a"),
                                          F.col(src_col).alias("b")))
                .distinct(), eager=False) as und:
        if und.count() <= _driver_edge_valve():
            return _k_core_driver(und, k, max_rounds)
        alive = pin(und.select(F.col("a").alias("node")).distinct(),
                    eager=True)
        alive_ckpt = alive  # the checkpoint backing the survivor view
        n_alive = alive.count()
        for _ in range(max_rounds):
            # the survivor set is node-bounded and its count is in
            # hand from the convergence check: broadcast both
            # membership probes so the pinned edge table is scanned
            # once per round with NO shuffle (the groupBy shrinks
            # map-side to <= |alive| partial counts per task)
            deg = (und
                   .join(_maybe_broadcast(
                       alive.select(F.col("node").alias("a")),
                       n_alive, 16), "a")
                   .join(_maybe_broadcast(
                       alive.select(F.col("node").alias("b")),
                       n_alive, 16), "b")
                   .groupBy(F.col("a").alias("node"))
                   .agg(F.count(F.lit(1)).cast("long")
                        .alias("core_degree")))
            # checkpoint FIRST, count the pinned result: the old
            # count-then-checkpoint order evaluated the whole round
            # TWICE (localCheckpoint is eager — it re-ran the joins
            # the count had just run)
            keep = pin(deg.filter(F.col("core_degree") >= k), eager=True)
            n_keep = keep.count()
            if n_keep == n_alive or n_keep == 0:
                # already materialized — safe past the edge release
                return keep
            release(alive_ckpt)  # the CHECKPOINT, not the view on it
            alive = keep.select("node")  # view on keep's blocks
            alive_ckpt = keep
            n_alive = n_keep
        raise RuntimeError(
            f"k_core did not converge in {max_rounds} rounds")


def hyperball(edges: DataFrame, src_col: str, dst_col: str,
              max_h: int = 3, b: int = 6) -> list[tuple[int, int]]:
    """Approximate neighborhood function via per-node HLL sketches —
    the HyperBall algorithm (Boldi & Vigna 2013), THE way to answer
    "how many node pairs lie within h hops" on a graph where exact
    all-pairs BFS is quadratic. Returns [(h, nf_micro)] for
    h = 0..max_h, where nf_micro = Σ over nodes of
    round(est |ball(node, h)| · 1e6) — per-node estimates quantize
    to integer MICRO-UNITS before the sum (the pagerank discipline),
    so the total is an exact BIGINT sum: order-free, partitioning-
    free, and replayable verbatim by a DuckDB oracle.

    State per round: (node, register, rho) with m = 2^b registers —
    at most m rows per node regardless of ball size. A round is ONE
    edges ⋈ state join + ONE combinable max-groupBy (register maxes
    union the neighbor balls — the HLL mergeability doing the
    traversal's work), localCheckpoint-pinned. b defaults to 6
    (m=64): HyperBall's own regime — neighborhood estimates trade
    precision for 16x less state than the m=1024 counting sketch.
    """
    m = 1 << b
    rho_bits = 60 - b
    w_mask = (1 << rho_bits) - 1
    rho_max = rho_bits + 1
    q = 1 << rho_max
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(
        m, 0.7213 / (1.0 + 1.079 / m))
    numer = alpha * m * m * float(q)

    und = pin(edges.select(F.col(src_col).alias("a"),
                           F.col(dst_col).alias("b"))
              .unionByName(edges.select(F.col(dst_col).alias("a"),
                                        F.col(src_col).alias("b")))
              .distinct(), eager=False)
    h = F.conv(F.substring(F.md5(F.col("node").cast("string")),
                           1, 15), 16, 10).cast("long")
    # State is PACKED: one row per node holding all m registers as an
    # int array (0 = register absent; a real rho is always >= 1).
    # The skinny (node, register, rho) layout made every round shuffle
    # |E| x m rows through the merge groupBy — 66M rows per round on a
    # 520k-edge graph, measured as the entire hyperball cost. Packed,
    # a round joins |E| rows against a node-bounded broadcast and
    # shuffles <= |V| partial rows of m register maxes. The register
    # math (hash, rho, element-wise max, the HLL estimator) is
    # expression-for-expression the one the oracle replays.
    state = pin(und.select(F.col("a").alias("node")).distinct()
                .select("node",
                        F.shiftright(h, rho_bits).cast("int")
                        .alias("register"),
                        h.bitwiseAND(F.lit(w_mask)).alias("__w__"))
                .select("node", "register",
                        F.when(F.col("__w__") == 0, F.lit(rho_max))
                        .otherwise(F.lit(rho_max)
                                   - F.length(F.expr("bin(__w__)")))
                        .cast("int").alias("rho"))
                .select("node", F.expr(
                    f"transform(sequence(0, {m - 1}), "
                    f"i -> IF(i = register, rho, 0))").alias("rhos")),
                eager=True)
    n_nodes = state.count()

    def nf_micro(st: DataFrame) -> int:
        # np / s over PRESENT registers only — identical to the
        # per-row groupBy census of the skinny layout
        agg = st.select(
            F.expr("size(filter(rhos, x -> x > 0))").cast("long")
            .alias("np"),
            F.expr(f"aggregate(filter(rhos, x -> x > 0), "
                   f"cast(0 as bigint), (acc, x) -> acc + "
                   f"shiftleft(cast(1 as bigint), {rho_max} - x))")
            .alias("s"))
        vz = F.lit(m).cast("long") - F.col("np")
        denom = (vz * F.lit(q).cast("long") + F.col("s"))
        raw = F.lit(numer) / denom.cast("double")
        lin = F.lit(float(m)) * F.log(F.lit(float(m)) / vz)
        est = F.when((raw <= 2.5 * m) & (vz > 0), lin).otherwise(raw)
        return int(agg.select(
            F.sum(F.round(est * 1e6, 0).cast("long")).alias("nf"))
            .collect()[0]["nf"])

    out = [(0, nf_micro(state))]
    # element-wise register max across a node's own sketch and its
    # neighbors' — m combinable max aggregates, repacked to the array
    reg_max = [F.max(F.element_at(F.col("rhos"), i + 1))
               .alias(f"__r{i}__") for i in range(m)]
    repack = F.array(*[F.col(f"__r{i}__") for i in range(m)])
    for hh in range(1, max_h + 1):
        contrib = (und.join(
            _maybe_broadcast(
                state.select(F.col("node").alias("b"), "rhos"),
                n_nodes, 4 * m + 48), "b")
            .select(F.col("a").alias("node"), "rhos"))
        prev = state
        state = pin(contrib.unionByName(state)
                    .groupBy("node").agg(*reg_max)
                    .select("node", repack.alias("rhos")), eager=True)
        release(prev)
        out.append((hh, nf_micro(state)))
    release(state)
    release(und)
    return out


def temporal_bfs(edges: DataFrame, seeds: DataFrame, src_col: str,
                 dst_col: str, ts_col: str, node_col: str = "node",
                 seed_ts_col: str = "t0",
                 max_hops: int = 3) -> DataFrame:
    """Time-respecting earliest-arrival reachability (foremost
    temporal paths): rows (node, arrival) — the earliest time each
    node can be reached from any seed through a chain of at most
    ``max_hops`` edges whose timestamps never DECREASE along the
    path (an edge transmits only at-or-after its source's arrival).
    The contagion/lineage question plain BFS gets wrong: a
    structurally-connected node is temporally unreachable when every
    path into it runs backward in time.

    Rounds are SIMULTANEOUS full relaxations (state ⋈ edges with
    ``edge_ts >= arrival`` + one combinable min-groupBy + min-merge
    with the previous state, localCheckpoint-pinned), so round r
    holds the exact <=r-hop earliest arrivals and a chained-CTE
    oracle replays the trajectory verbatim. Arrival times are
    whatever integer type the caller encodes (epoch days/micros) —
    exact end to end. Production note: the frontier/delta-iteration
    refinement (relax only improved nodes) is a drop-in once hop
    counts grow; at <=3-4 hops full relaxation is one join more and
    oracle-replayable.
    """
    state0 = (seeds.select(F.col(node_col).alias("node"),
                           F.col(seed_ts_col).alias("arrival"))
              .groupBy("node").agg(F.min("arrival").alias("arrival")))
    # the (timestamped) edge frame is scanned every round — pin it
    # once instead of replaying its corpus-side derivation per hop
    e = pin(edges.select(F.col(src_col).alias("node"),
                         F.col(dst_col).alias("__dst__"),
                         F.col(ts_col).alias("__ts__")), eager=False)
    if max_hops >= 1 and e.count() <= _driver_edge_valve():
        # output dtypes after round 1 = the union's coerced schema
        # (seed-ts vs edge-ts types may widen) — derive it from the
        # ANALYZED round plan, never recompute it by hand
        out_schema = (state0.unionByName(
            e.select(F.col("__dst__").alias("node"),
                     F.col("__ts__").alias("arrival")))
            .groupBy("node").agg(F.min("arrival").alias("arrival"))
            .schema)
        state = _temporal_bfs_driver(e, state0, out_schema, max_hops)
        release(e)
        return state
    state = pin(state0, eager=True)
    n_state = state.count()
    for _ in range(max_hops):
        # arrival state is node-bounded with a real count:
        # broadcast it so the edge table never shuffles; the
        # min-merge groupBy collapses map-side to <= |V| partials
        relax = (e.join(_maybe_broadcast(state, n_state, 24),
                        "node")
                 .filter(F.col("__ts__") >= F.col("arrival"))
                 .select(F.col("__dst__").alias("node"),
                         F.col("__ts__").alias("arrival")))
        prev = state
        state = pin(state.unionByName(relax)
                    .groupBy("node").agg(F.min("arrival")
                                         .alias("arrival")), eager=True)
        n_state = state.count()
        release(prev)
    release(e)
    return state


def personalized_pagerank(edges: DataFrame, seeds: DataFrame,
                          src_col: str, dst_col: str,
                          node_col: str = "node",
                          iters: int = 3, damping: float = 0.85,
                          unit: int = 10 ** 12) -> DataFrame:
    """PageRank with RESTART TO A SEED SET — topical centrality
    "from the point of view of" trusted nodes (personalization, the
    curation form: rank parts/docs by proximity to a vetted set,
    not by global popularity). Identical integer micro-unit
    discipline to ``pagerank`` — the ONLY differences are that the
    teleport mass (1-d)·unit and the dangling redistribution both
    flow to the SEEDS uniformly instead of all nodes, and the
    initial mass sits entirely on the seeds. Every floor is the
    same IEEE op in any engine, so the trajectory is bit-exact and
    oracle-replayable. Non-seed nodes unreachable from the seed set
    hold rank 0 forever (the semantic point of personalization)."""
    # same scan-pinning + count-driven broadcast discipline as
    # ``pagerank`` (see there for the rationale)
    with pinned(edges.select(F.col(src_col).alias("src"),
                             F.col(dst_col).alias("dst")),
                eager=False) as e:
        nodes = (e.select(F.col("src").alias("node"))
                 .unionByName(e.select(F.col("dst").alias("node")))
                 .distinct())
        outdeg = e.groupBy(F.col("src").alias("node")) \
                  .agg(F.count(F.lit(1)).alias("outdeg"))
        sd = seeds.select(F.col(node_col).alias("node")).distinct()
        base_nodes = pin(nodes.join(outdeg, "node", "left")
                         .join(sd.withColumn("__is_seed__", F.lit(1)),
                               "node", "left")
                         .select("node",
                                 F.coalesce("outdeg", F.lit(0))
                                 .alias("outdeg"),
                                 F.coalesce("__is_seed__", F.lit(0))
                                 .alias("is_seed")), eager=True)
        n = base_nodes.count()
        ns = base_nodes.filter(F.col("is_seed") == 1).count()
        if ns == 0:
            raise ValueError("personalized_pagerank needs >= 1 seed "
                             "present in the graph")
        d = float(damping)
        base = math.floor((1.0 - d) * unit / ns)
        ranks = base_nodes.withColumn(
            "rank", F.when(F.col("is_seed") == 1,
                           F.lit(int(math.floor(unit / ns))))
            .otherwise(F.lit(0)).cast("long"))
        prev_ckpt: DataFrame | None = None
        for _ in range(iters):
            dang = ranks.filter(F.col("outdeg") == 0) \
                        .agg(F.sum("rank")).first()[0] or 0
            dang_share = math.floor(d * dang / ns)
            per_edge = ranks.filter(F.col("outdeg") > 0).select(
                F.col("node").alias("src"),
                F.floor(F.col("rank") / F.col("outdeg")).cast("long")
                .alias("c"))
            contribs = (e.join(_maybe_broadcast(per_edge, n, 32),
                               "src")
                        .groupBy(F.col("dst").alias("node"))
                        .agg(F.sum("c").alias("s")))
            ranks = pin(base_nodes.join(
                _maybe_broadcast(contribs, n, 24), "node", "left")
                .select("node", "outdeg", "is_seed",
                        (F.when(F.col("is_seed") == 1,
                                F.lit(base + dang_share))
                         .otherwise(F.lit(0))
                         + F.floor(F.lit(d)
                                   * F.coalesce(F.col("s"),
                                                F.lit(0))
                                   .cast("double")).cast("long"))
                        .alias("rank")), eager=True)
            if prev_ckpt is not None:
                release(prev_ckpt)
            prev_ckpt = ranks
        if iters > 0:
            release(base_nodes)
        return ranks.select("node", "rank")
