"""Deduplication operators for large-scale training-data pipelines.

Green-field (no reference analogue beyond drop_duplicates): exact
dedup, MinHash+LSH near-dup, SimHash, n-gram Jaccard verification.

Scale design:
- exact: hash-groupBy on the dedup key — one shuffle, partial aggs
  map-side; at 100 TB dedup on a 64-bit content hash, not raw text,
  so shuffle rows are tiny.
- MinHash+LSH: shingle → K permutations → band signatures →
  self-join on (band_id, band_hash) buckets — candidate pairs only,
  never the O(n²) cross join. All hashing via built-in xxhash64 /
  aggregate expressions (JVM side, no python in the hot path).
- SimHash: 64-bit sign-aggregated token hashes; near-dups = equal
  simhash (or small hamming distance among bucket candidates).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tablite_spark.config import Config
from tablite_spark.plans.lifecycle import pin, release


def exact_dedup(df: DataFrame, keys: list[str], id_col: str) -> DataFrame:
    """Keep the row with the smallest ``id_col`` per key tuple —
    deterministic keep-first. A partial-aggregable groupBy (map-side
    combine shrinks hot keys before the shuffle) + semi-join on the
    winner ids — skew-proof, unlike a rank window (AQE cannot split a
    window partition)."""
    winners = df.groupBy(*keys).agg(F.min(id_col).alias(id_col))
    return df.join(winners.select(id_col), on=id_col, how="left_semi")


def _content_hash_cols(text_col: str) -> list:
    """128-bit content identity: two independently-seeded xxhash64
    halves (the extra literal perturbs the seed chain). One 64-bit
    hash is NOT enough at corpus scale — ~10^11 documents give a
    birthday expectation of hundreds of silent false merges at 2^64;
    squaring the domain makes collisions astronomically unlikely while
    the shuffle key stays 16 bytes."""
    return [F.xxhash64(F.col(text_col)).alias("__h1__"),
            F.xxhash64(F.col(text_col), F.lit(0x9E3779B9)).alias("__h2__")]


def content_hash_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup via 128-bit content hash — at scale, shuffle the
    (hash, id) projection instead of raw documents, then semi-join the
    winners back. Two narrow shuffles, no wide rows in flight."""
    h = df.select(*_content_hash_cols(text_col), F.col(id_col))
    winners = h.groupBy("__h1__", "__h2__").agg(F.min(id_col).alias(id_col))
    return df.join(winners.select(id_col), on=id_col, how="left_semi")


def shingle_minhash(df: DataFrame, text_col: str, id_col: str,
                    num_perm: int | None = None,
                    shingle_size: int | None = None) -> DataFrame:
    """id → minhash signature (array<long> of length num_perm).

    Pipeline: word shingles (k-grams of tokens) → per-shingle xxhash64
    → num_perm cheap permutations h_i(x) = a_i*x + b_i (mod 2^61-1) →
    min per permutation. Everything is built-in expressions over an
    exploded shingle frame followed by ONE groupBy(id) — scales
    linearly, no UDFs.
    """
    num_perm = num_perm or Config.MINHASH_PERMUTATIONS
    k = shingle_size or Config.SHINGLE_SIZE
    # spread docs across cores when the source arrives under-partitioned
    # (small files); at scale the scan is already wide and this no-ops
    spark = df.sparkSession
    if df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    tokens = F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " ")
    n_sh = F.greatest(F.size(tokens) - F.lit(k - 1), F.lit(1))
    # k-gram windows WITHOUT per-shingle array slicing: zip k shifted
    # copies of the token array (k array ops per DOC, not per shingle)
    # and hash the k token fields directly — no string concat, no
    # array_distinct (min-agg is duplicate-insensitive). ~6x faster
    # than transform(i -> concat_ws(slice(...))) which churns a sliced
    # array per shingle in the interpreted HOF path.
    parts = [tokens.alias("t0")]
    for i in range(1, k):
        parts.append(F.slice(tokens, i + 1,
                             F.greatest(F.size(tokens) - F.lit(i), F.lit(1)))
                     .alias(f"t{i}"))
    windows = F.slice(F.arrays_zip(*parts), 1, n_sh)
    exploded = df.select(F.col(id_col), F.explode(windows).alias("__w__"))
    hashed = exploded.select(
        id_col, F.xxhash64(*[F.col(f"__w__.t{i}") for i in range(k)]).alias("__h__"))

    # deterministic permutation constants (seeded, not random at runtime).
    # The field modulus MUST match the folded-hash domain: h_i(x) =
    # (a*x + b) mod M is only a (pairwise-independent) permutation when
    # x, a, b all live in Z_M. With a larger modulus (an earlier
    # version used 2^61-1 against 31-bit x) the product almost never
    # wraps, h_i becomes near-monotone in x, every permutation's min
    # collapses onto the globally smallest x, and token-disjoint docs
    # with a shared small element read as near-dups (caught by a
    # 200k-doc scale test: 260 false pairs at est_jaccard up to 0.96).
    # M = 2^31 - 1 (Mersenne prime): a*x + b < 2^62 still fits a signed
    # long, and the min-hash estimator is unbiased.
    MOD = (1 << 31) - 1
    import random
    rnd = random.Random(42)
    perms = [(rnd.randrange(1, MOD), rnd.randrange(0, MOD))
             for _ in range(num_perm)]
    # project the folded 32-bit x ONCE (num_perm copies of the fold
    # would blow up the expression tree)
    x = (F.col("__h__").bitwiseAND(F.lit(0x7FFFFFFF))
         .bitwiseXOR(F.shiftrightunsigned(F.col("__h__"), 33))).cast("long")
    proj = hashed.select(id_col, x.alias("__x__"))

    # The permutation-min step runs as a ZERO-SHUFFLE vectorized numpy
    # kernel: explode keeps every shingle row in its document's
    # partition, so per-partition grouped mins ARE the exact per-doc
    # signature — mapInPandas needs no exchange at all. This replaced a
    # groupBy(id) with num_perm min-aggs, which paid (a) a docs×128×8B
    # shuffle and (b) ~4 s of janino compile for the 128-field agg
    # class per session. Arithmetic is identical int64 (a*x+b < 2^62,
    # no overflow), so signatures — and all downstream dedup results —
    # are bit-identical to the agg formulation.
    import numpy as np
    import pandas as pd

    a_np = np.array([p[0] for p in perms], dtype=np.int64)[:, None]
    b_np = np.array([p[1] for p in perms], dtype=np.int64)[:, None]
    id_type = dict(df.dtypes)[id_col]
    schema = f"`{id_col}` {id_type}, minhash array<bigint>"

    def compute(batches):
        acc: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            xs = pdf["__x__"].to_numpy(dtype=np.int64)
            codes, uniq = pd.factorize(pdf[id_col].to_numpy())
            order = np.argsort(codes, kind="stable")
            sorted_codes = codes[order]
            starts = np.flatnonzero(
                np.r_[True, sorted_codes[1:] != sorted_codes[:-1]])
            hv = (a_np * xs[None, order] + b_np) % MOD
            mins = np.minimum.reduceat(hv, starts, axis=1)
            for gi, u in enumerate(uniq[sorted_codes[starts]]):
                prev = acc.get(u)
                m = mins[:, gi]
                acc[u] = m if prev is None else np.minimum(prev, m)
        if acc:
            yield pd.DataFrame({id_col: list(acc.keys()),
                                "minhash": [v.tolist() for v in acc.values()]})

    return proj.mapInPandas(compute, schema=schema)


def optimal_lsh_params(threshold: float, num_perm: int = 128,
                       fp_weight: float = 0.5) -> tuple[int, int]:
    """(bands, rows_per_band) minimizing the weighted false-positive
    + false-negative probability mass for the banding S-curve
    P(candidate | jaccard=s) = 1 - (1 - s^r)^b — the standard
    numerical search every MinHash-LSH implementation ships
    (datasketch's `_optimal_param`, public). Feed the result to
    ``minhash_lsh_candidates(bands=...)`` /
    ``shingle_minhash(num_perm=...)`` when tuning a corpus-specific
    threshold; the defaults in ``Config`` suit the 0.8 regime."""
    steps = 1000
    best, best_err = (1, num_perm), float("inf")
    for b in range(1, num_perm + 1):
        r = num_perm // b
        if r == 0:
            break
        fp = sum(1.0 - (1.0 - ((i / steps) ** r)) ** b
                 for i in range(int(threshold * steps))) / steps
        fn = sum((1.0 - ((i / steps) ** r)) ** b
                 for i in range(int(threshold * steps), steps)) / steps
        err = fp * fp_weight + fn * (1.0 - fp_weight)
        if err < best_err:
            best, best_err = (b, r), err
    return best


def minhash_bands(sig: DataFrame, id_col: str,
                  bands: int | None = None,
                  num_perm: int | None = None) -> DataFrame:
    """(id, band, bh) banded projection of a signature frame — the
    join-ready LSH index rows. Shared by the in-corpus self-join
    (:func:`minhash_lsh_candidates`) and the persisted-index probe
    (:func:`incremental_minhash_dedup`)."""
    bands = bands or Config.MINHASH_BANDS
    if num_perm is None:
        first = sig.select(F.size("minhash").alias("n")).first()
        num_perm = first["n"] if first else Config.MINHASH_PERMUTATIONS
    rows_per_band = max(1, num_perm // bands)
    # one flat array of band hashes; posexplode yields (band, bh) with
    # no struct materialization. Slots are indexed directly (minhash[i])
    # — slicing a sub-array per slot would re-materialize rows_per_band
    # arrays per band.
    band_hashes = F.array(*[
        F.xxhash64(*[F.col("minhash").getItem(b * rows_per_band + i)
                     for i in range(rows_per_band)])
        for b in range(bands)])
    return sig.select(F.col(id_col),
                      F.posexplode(band_hashes).alias("band", "bh"))


def minhash_lsh_candidates(sig: DataFrame, id_col: str,
                           bands: int | None = None,
                           num_perm: int | None = None) -> DataFrame:
    """Band the signatures and self-join on (band, band_hash) buckets.
    Returns candidate pairs (id_a < id_b). The join is on a tiny
    (band_id, hash) key — LSH keeps candidate volume ~linear for
    realistic dup rates; AQE handles hot buckets via skew splitting."""
    banded = minhash_bands(sig, id_col, bands, num_perm)
    a = banded.alias("a")
    b2 = banded.alias("b")
    pairs = (a.join(b2, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bh") == F.col("b.bh"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"))
             .distinct())
    return pairs


def minhash_jaccard(sig: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Estimated Jaccard = fraction of matching signature slots."""
    sa = sig.select(F.col(id_col).alias("id_a"), F.col("minhash").alias("mh_a"))
    sb = sig.select(F.col(id_col).alias("id_b"), F.col("minhash").alias("mh_b"))
    j = pairs.join(sa, "id_a").join(sb, "id_b")
    matches = F.size(F.filter(F.zip_with("mh_a", "mh_b", lambda x, y: x == y),
                              lambda m: m))
    return j.select("id_a", "id_b",
                    (matches / F.size("mh_a")).alias("est_jaccard"))


def minhash_dedup(df: DataFrame, text_col: str, id_col: str,
                  threshold: float = 0.8) -> DataFrame:
    """End-to-end near-dup removal: keep the smallest id of each
    near-dup pair group (greedy transitive by min-id)."""
    # signatures feed candidate generation AND jaccard scoring (both
    # sides of each). An EAGER localCheckpoint — not a lazy persist —
    # guarantees the shingle+permutation pipeline runs exactly once:
    # with persist, the self-join's two branches race in the same
    # action and can each recompute partitions before cache blocks
    # land (measured: first-run 8.3 s → 5.7 s at sf0.1), and lineage
    # truncation spares the planner the 5x-replicated shingle DAG.
    # Signatures are num_perm longs/doc (~1 KB) — ~0.1% of corpus
    # size, safe to pin at any scale; the lineage-recovery loss is the
    # same accepted trade as the match/unique_index pins.
    sig = pin(shingle_minhash(df, text_col, id_col), eager=True)
    pairs = minhash_lsh_candidates(sig, id_col)
    scored = minhash_jaccard(sig, pairs, id_col).filter(F.col("est_jaccard") >= threshold)
    losers = scored.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 64) -> DataFrame:
    """64-bit SimHash over word tokens: sum(+1/-1 per bit weighted by
    token hash sign), sign → bit. Explode + one groupBy — linear."""
    tokens = F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " ")
    ex = df.select(F.col(id_col), F.explode(tokens).alias("__tok__"))
    h = ex.select(id_col, F.xxhash64("__tok__").alias("__h__"))
    bit_aggs = []
    for i in range(bits):
        bit = F.shiftrightunsigned(F.col("__h__"), i).bitwiseAND(F.lit(1))
        bit_aggs.append(F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"b{i}"))
    agg = h.groupBy(id_col).agg(*bit_aggs)
    sh = F.lit(0).cast("long")
    for i in range(bits):
        sh = sh.bitwiseOR(
            F.when(F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i))
            .otherwise(F.lit(0).cast("long")))
    return agg.select(id_col, sh.alias("simhash"))


def simhash_near_dup_pairs(sig: DataFrame, id_col: str,
                           max_hamming: int = 3,
                           sim_col: str = "simhash") -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, at scale.

    Pigeonhole banding: split the 64-bit signature into
    ``max_hamming + 1`` chunks — any pair within ``max_hamming`` bits
    must agree on at least one whole chunk, so candidates come from an
    equi join on (chunk_id, chunk_value), never an all-pairs scan.
    Verification is ``bit_count(xor) <= max_hamming`` (one JVM
    instruction per pair). Same shape as MinHash-LSH banding: linear
    candidate volume for realistic dup rates, AQE splits hot chunks.
    """
    n_chunks = max_hamming + 1
    width = 64 // n_chunks
    chunks = F.array(*[
        F.shiftrightunsigned(F.col(sim_col), i * width)
        .bitwiseAND(F.lit((1 << width) - 1))
        for i in range(n_chunks)])
    banded = sig.select(F.col(id_col), F.col(sim_col),
                        F.posexplode(chunks).alias("chunk", "cv"))
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (a.join(b, (F.col("a.chunk") == F.col("b.chunk"))
                    & (F.col("a.cv") == F.col("b.cv"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"),
                     F.bit_count(F.col(f"a.{sim_col}")
                                 .bitwiseXOR(F.col(f"b.{sim_col}")))
                     .alias("hamming"))
             .filter(F.col("hamming") <= max_hamming)
             .distinct())
    return pairs


def _cc_driver_union_find(edges: DataFrame) -> DataFrame:
    """Exact driver-side twin of the hash-min loop for count-gated
    small graphs: union-find with path halving over ONE Arrow
    transfer of the (src, dst) pairs; each node's component is the
    MINIMUM id in its set — identical to the distributed fixpoint's
    answer by definition. Returns the same (id, component) schema
    (both columns keep the callers' id dtype)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import StructField, StructType

    spark = edges.sparkSession
    dt = edges.schema["src"].dataType
    schema = StructType([StructField("id", dt),
                         StructField("component", dt)])
    pdf = edges.toArrow().to_pandas()
    both = pd.concat([pdf["src"], pdf["dst"]], ignore_index=True)
    codes, uniq = pd.factorize(both)
    n = len(uniq)
    if n == 0:
        return spark.createDataFrame([], schema)
    parent = np.arange(n)

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    m = len(pdf)
    a, b = codes[:m], codes[m:]
    for i in range(m):
        ra, rb = find(a[i]), find(b[i])
        if ra != rb:
            parent[rb] = ra
    roots = np.fromiter((find(i) for i in range(n)),
                        dtype=np.int64, count=n)
    ids = pd.Series(uniq)
    comp = ids.groupby(roots).transform("min")
    return spark.createDataFrame(
        pd.DataFrame({"id": ids, "component": comp}), schema)


def connected_components(pairs: DataFrame, max_iter: int = 25,
                         id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Connected components over an undirected edge list → (id,
    component) where component = the smallest node id reachable.

    This is the missing piece between near-dup *pairs* (MinHash-LSH /
    SimHash / embedding candidates) and actual dedup: duplicates are
    transitive, so keeping one doc per *pair* under-deletes; clusters
    need a global label.

    Algorithm: hash-min label propagation. Each iteration every node
    takes the min of its own label and its neighbours' labels — one
    hash-partitioned join + groupBy per round, converging in
    O(cluster diameter) rounds. Near-dup graphs have tiny diameters
    (dup clusters are dense), so 3-5 rounds is typical; ``max_iter``
    bounds pathological chains. Scale properties:

    - State per round is (id, label) longs — never document payloads.
    - ``localCheckpoint`` truncates the plan each round; without it the
      iteration-N plan embeds all N-1 predecessors and Catalyst
      analysis goes quadratic (cluster deployments can swap in
      ``checkpoint()`` against a reliable dir for fault tolerance).
    - Convergence check is an aggregate on the already-shuffled frame,
      not a collect of labels.
    - r14 optimization round (guide §2.2 per-round latency): a SMALL
      graph pays the loop's fixed cost — diameter × (join job +
      eager checkpoint + convergence job) — regardless of data size
      (measured: a 3.3k-node / 7k-edge DBSCAN core graph spent ~5 s
      in 7 rounds of pure orchestration). When the DEDUPED edge
      count (already materialized for the loop) is at most
      ``SPARK_GRAFT_CC_DRIVER_EDGES`` (default 1M — 16 MB of long
      pairs, the same size class as a broadcast side), the
      components come from ONE Arrow collect + union-find on the
      driver instead: exact same labels (component = min reachable
      id; union-find tracks the min), the ``diff``/``transpose``
      size-valve discipline. Corpus-scale graphs exceed the valve
      and take the distributed loop unchanged.
    """
    import os as _os

    from tablite_spark.plans.hints import maybe_broadcast

    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = e.union(e.select(F.col("dst").alias("src"),
                             F.col("src").alias("dst"))).distinct()
    edges = pin(edges, eager=False)
    driver_valve = int(_os.environ.get(
        "SPARK_GRAFT_CC_DRIVER_EDGES", str(1_000_000)))
    if edges.count() <= driver_valve:
        labels = _cc_driver_union_find(edges)
        release(edges)
        return labels
    labels = pin(edges.select(F.col("src").alias("id")).distinct()
                 .withColumn("component", F.col("id")), eager=True)
    labels_ckpt = labels  # the checkpoint backing the label view
    n_labels = labels.count()
    changed = 1
    for _ in range(max_iter):
        # r14 optimization round: the label frame is node-bounded
        # with its count in hand — broadcast it into BOTH the
        # propagation join and the convergence comparison, and fold
        # the comparison into the checkpointed round plan. The old
        # round ran two sort-merge-joined jobs (~4 tiny shuffles);
        # this one shuffles only the min-groupBy partials and reads
        # the convergence flag off the already-materialized result.
        lab_b = maybe_broadcast(labels, n_labels, 24)
        neigh = (edges.join(lab_b, edges.src == labels.id)
                 .select(F.col("dst").alias("id"), "component"))
        merged = (neigh.unionByName(labels)
                  .groupBy("id").agg(F.min("component").alias("component")))
        new_labels = pin(merged.join(
            maybe_broadcast(labels.select(F.col("id"),
                                          F.col("component")
                                          .alias("__old__")),
                            n_labels, 24), "id")
            .select("id", "component",
                    (F.col("component") != F.col("__old__"))
                    .alias("__moved__")), eager=True)
        changed = new_labels.filter(F.col("__moved__")).limit(1).count()
        # the superseded round's label blocks are dead once the new
        # checkpoint holds — release them now, or the loop pins one
        # (id, label) copy per round until the ContextCleaner happens
        # to notice. Release the CHECKPOINT frame: the (id, component)
        # view holds no pin of its own.
        release(labels_ckpt)
        labels_ckpt = new_labels
        labels = new_labels.select("id", "component")
        # n_labels is the node count — invariant across rounds (every
        # node appears in edges both ways, so the union keeps the id
        # set fixed); the count is NOT re-run per round
        if changed == 0:
            break
    release(edges)
    if changed != 0:
        # returning partially-propagated labels would silently
        # under-merge clusters (and under-delete in cluster_dedup)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"iterations (graph diameter exceeds max_iter); raise "
            f"max_iter — rounds cost one join+groupBy each")
    return labels


def cluster_dedup(df: DataFrame, pairs: DataFrame, id_col: str,
                  max_iter: int = 25) -> DataFrame:
    """Transitive near-dup removal: connected components over the
    candidate pairs, keep the min-id document of every cluster.
    Documents that appear in no pair survive untouched (left_anti on
    the loser set — one narrow semi-join shuffle)."""
    cc = connected_components(pairs, max_iter=max_iter)
    losers = cc.filter(F.col("id") != F.col("component")) \
               .select(F.col("id").alias(id_col))
    return df.join(losers, on=id_col, how="left_anti")


def cluster_dedup_keep_best(df: DataFrame, pairs: DataFrame,
                            id_col: str, score_col: str,
                            max_iter: int = 25) -> DataFrame:
    """Transitive near-dup removal keeping the HIGHEST-``score_col``
    document of every cluster (ties → smallest id) — what production
    curation actually wants: when near-duplicates differ in quality
    (cleaner extraction, fewer boilerplate lines), keep-min-id throws
    away the better copy ~half the time; keep-best retains it.

    Scale shape: components over the candidate pairs (hash-min
    rounds), then ONE narrow join of (id, component) against the
    (id, score) projection and a partial-aggregable
    ``max(struct(score, -id))`` per component — no window over
    document payloads, no skew hazard (a hot cluster reduces
    map-side). Survivor set = per-cluster argmax ∪ documents in no
    pair (anti-join on the clustered-loser ids). Requires a numeric
    ``id_col`` (the tie-break negates it inside the struct max)."""
    id_type = dict(df.dtypes)[id_col]
    if id_type not in ("tinyint", "smallint", "int", "bigint",
                      "float", "double"):
        raise TypeError(f"cluster_dedup_keep_best needs a numeric id "
                        f"column for the tie-break; got {id_type}")
    cc = connected_components(pairs, max_iter=max_iter)
    scored = (cc.withColumnRenamed("id", id_col)
              .join(df.select(id_col, score_col), id_col))
    # argmax via max(struct): score desc, then id asc (negate id so
    # the struct max picks the smallest id among score ties)
    winners = (scored.groupBy("component")
               .agg(F.max(F.struct(F.col(score_col).alias("s"),
                                   (-F.col(id_col)).alias("nid")))
                    .alias("w"))
               .select((-F.col("w.nid")).alias(id_col)))
    losers = (cc.select(F.col("id").alias(id_col))
              .join(winners, id_col, "left_anti"))
    return df.join(losers, on=id_col, how="left_anti")


def incremental_dedup(new_df: DataFrame, seen_df: DataFrame,
                      text_col: str, id_col: str) -> DataFrame:
    """Dedup a NEW batch against an already-ingested corpus — the
    every-snapshot shape of a growing training set: (1) drop new docs
    whose content hash already exists in ``seen_df``; (2) exact-dedup
    the survivors within the batch (keep min id).

    Scale: both sides reduce to (hash) / (hash, id) projections before
    any join — the anti-join and the in-batch groupBy shuffle 16-byte
    128-bit content hashes (see ``_content_hash_cols``), never document
    payloads; at 100 TB ``seen_df`` is itself just the hash columns of
    the corpus manifest, not the corpus.
    """
    seen_h = seen_df.select(*_content_hash_cols(text_col)).distinct()
    new_h = new_df.select(F.col(id_col), *_content_hash_cols(text_col))
    fresh = new_h.join(seen_h, ["__h1__", "__h2__"], "left_anti")
    winners = fresh.groupBy("__h1__", "__h2__") \
                   .agg(F.min(id_col).alias(id_col))
    return new_df.join(winners.select(id_col), on=id_col, how="left_semi")


def minhash_save_index(sig: DataFrame, id_col: str, path: str,
                       bands: int | None = None,
                       num_perm: int | None = None,
                       mode: str = "overwrite") -> None:
    """Persist a MinHash corpus index: ``{path}/signatures`` (id,
    minhash) and ``{path}/bands`` (band, bh, id) as parquet, plus a
    one-row ``{path}/meta`` (num_perm, bands) so probes band NEW
    batches with the SAME parameters — a probe banded differently
    would silently miss every corpus collision.

    This is the ``pq_save_index`` pattern applied to near-dup dedup:
    signatures are computed ONCE per corpus snapshot (the expensive
    shingle scan) and every future ingestion batch probes the durable
    band table instead of re-reading 100 TB of corpus text. ``bands``
    is written sorted by (band, bh) within files so parquet min/max
    row-group pruning narrows the probe join's scan.

    ``mode="append"`` grows the index in place after a batch is
    accepted (see :func:`incremental_minhash_dedup`). An append
    ALWAYS validates against the stored ``{path}/meta``: band rows
    written with different num_perm/bands than the index records
    would never collide with the corpus in future probes (silent
    under-dedup), so a mismatch raises instead of writing; omitted
    parameters are inherited from the stored meta."""
    spark = sig.sparkSession
    if mode == "append":
        meta_row = spark.read.parquet(f"{path}/meta").first()
        stored_np, stored_b = meta_row["num_perm"], meta_row["bands"]
        if num_perm is not None and num_perm != stored_np:
            raise ValueError(
                f"num_perm={num_perm} != index meta num_perm={stored_np} "
                f"at {path}: appended docs would be banded differently "
                f"and never collide in probes")
        if bands is not None and bands != stored_b:
            raise ValueError(
                f"bands={bands} != index meta bands={stored_b} at "
                f"{path}: appended docs would be banded differently "
                f"and never collide in probes")
        num_perm, bands = stored_np, stored_b
    if num_perm is None:
        first = sig.select(F.size("minhash").alias("n")).first()
        num_perm = first["n"] if first else Config.MINHASH_PERMUTATIONS
    bands = bands or Config.MINHASH_BANDS
    # r14 optimization round (guide §1.2 "don't compute things you
    # throw away"): the two writes below each forced the FULL
    # signature computation — at corpus scale that is two complete
    # shingle scans of the text for one index build (measured: the
    # save phase cost ~2x the signature job). Materialize the
    # signature exactly once and band from the materialized rows:
    # - overwrite: write signatures first, then band from the
    #   freshly-written parquet (disk-backed, zero memory pinned —
    #   the 100 TB-safe shape);
    # - append: band from a localCheckpoint of the new rows (reading
    #   the path back would re-band the OLD corpus rows too); the
    #   append side is batch-bounded by contract, so pinning it is
    #   cheap.
    sig_proj = sig.select(F.col(id_col).alias("id"), "minhash")
    if mode == "append":
        sig_once = pin(sig_proj, eager=True)
        sig_once.write.mode(mode).parquet(f"{path}/signatures")
    else:
        sig_proj.write.mode(mode).parquet(f"{path}/signatures")
        sig_once = sig.sparkSession.read.parquet(f"{path}/signatures")
    (minhash_bands(sig_once, "id", bands, num_perm)
     .select("id", "band", "bh")
     .sortWithinPartitions("band", "bh")
     .write.mode(mode).parquet(f"{path}/bands"))
    if mode == "append":
        release(sig_once)
    if mode == "overwrite":
        _write_index_meta(spark, path, int(num_perm), int(bands))


def _write_index_meta(spark, path: str, num_perm: int,
                      bands: int) -> None:
    """One-row ``{path}/meta`` parquet. Local paths take the direct
    pyarrow write (the streaming-fixture staging lesson, guide §4: a
    1-row createDataFrame→repartition(1)→write plan parallelizes the
    local relation over every core and re-collapses it through one
    task — measured 0.4-1.5 s of pure orchestration for 8 bytes of
    data); remote URIs keep the Spark writer, which knows the
    filesystem."""
    meta_dir = f"{path}/meta"
    local = path.removeprefix("file://").removeprefix("file:") \
        if path.startswith("file:") else path
    if "://" not in local:
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as pq
        local_meta = f"{local}/meta"
        shutil.rmtree(local_meta, ignore_errors=True)
        os.makedirs(local_meta, exist_ok=True)
        pq.write_table(
            pa.table({"num_perm": pa.array([num_perm], pa.int32()),
                      "bands": pa.array([bands], pa.int32())}),
            f"{local_meta}/part-00000.parquet")
        return
    (spark.createDataFrame([(num_perm, bands)],
                           "num_perm int, bands int")
     .repartition(1).write.mode("overwrite").parquet(meta_dir))


def minhash_load_index(spark, path: str):
    """Load a :func:`minhash_save_index` directory → (signatures,
    bands, meta) where signatures/bands are lazy DataFrames (nothing
    is collected — the probe join streams against the parquet) and
    meta is {"num_perm": int, "bands": int}."""
    meta_row = spark.read.parquet(f"{path}/meta").first()
    return (spark.read.parquet(f"{path}/signatures"),
            spark.read.parquet(f"{path}/bands"),
            {"num_perm": meta_row["num_perm"], "bands": meta_row["bands"]})


def incremental_minhash_dedup(new_df: DataFrame, text_col: str,
                              id_col: str, index_path: str,
                              threshold: float = 0.8,
                              update_index: bool = False) -> DataFrame:
    """NEAR-dup dedup of a NEW batch against a persisted corpus index
    — the 100 TB ingestion-loop shape :func:`incremental_dedup` covers
    only for EXACT hashes. Steps:

    1. signature the new batch (one shingle scan over the BATCH only);
    2. probe the durable band table: new bands ⋈ corpus bands on
       (band, bh) → candidate (new_id, corpus_id) pairs;
    3. score candidates on est-Jaccard via the stored corpus
       signatures (no corpus text touched — the index IS the corpus
       here); drop new docs at/above ``threshold``;
    4. in-batch near-dup pass over the survivors (keep min id) — a
       batch can duplicate itself, not just the corpus;
    5. optionally append the accepted docs' signatures/bands to the
       index (``update_index=True``), keeping the loop incremental.

    Scale: every join key is a (band, bh) 16-byte pair or an id; the
    corpus side is the band/signature projection (~1 KB/doc), never
    documents; candidate volume stays ~linear by the LSH S-curve.
    """
    spark = new_df.sparkSession
    _, corpus_bands, meta = minhash_load_index(spark, index_path)
    corpus_sig = spark.read.parquet(f"{index_path}/signatures")
    new_sig = pin(shingle_minhash(new_df, text_col, id_col,
                                  num_perm=meta["num_perm"]), eager=True)
    new_bands = minhash_bands(new_sig, id_col, bands=meta["bands"],
                              num_perm=meta["num_perm"])
    # self-matches excluded: a REPLAYED batch (streaming retry, rerun
    # after a crash) probes an index that already holds its own
    # appended signatures — without the id guard every replayed doc
    # would read as a dup of itself and silently vanish
    cand = (new_bands.alias("n")
            .join(corpus_bands.alias("c"),
                  (F.col("n.band") == F.col("c.band"))
                  & (F.col("n.bh") == F.col("c.bh"))
                  & (F.col(f"n.{id_col}") != F.col("c.id")))
            .select(F.col(f"n.{id_col}").alias("new_id"),
                    F.col("c.id").alias("corpus_id"))
            .distinct())
    scored = (cand
              .join(new_sig.select(F.col(id_col).alias("new_id"),
                                   F.col("minhash").alias("mh_a")), "new_id")
              .join(corpus_sig.select(F.col("id").alias("corpus_id"),
                                      F.col("minhash").alias("mh_b")),
                    "corpus_id"))
    matches = F.size(F.filter(F.zip_with("mh_a", "mh_b",
                                         lambda x, y: x == y),
                              lambda m: m))
    dup_vs_corpus = (scored
                     .filter((matches / F.size("mh_a")) >= threshold)
                     .select(F.col("new_id").alias(id_col)).distinct())
    # r14 optimization round: fresh_sig feeds the in-batch LSH band
    # self-join (both sides), the jaccard scorer (both sides) and the
    # final anti-join — five references, each of which re-ran the
    # whole corpus-probe chain above inside keep_ids' one eager
    # checkpoint (guide §1.2). Pin it once; it is batch-bounded by
    # contract (the new batch, minus corpus dups).
    fresh_sig = pin(new_sig.join(dup_vs_corpus, id_col, "left_anti"),
                    eager=True)
    in_batch = minhash_lsh_candidates(fresh_sig, id_col,
                                      bands=meta["bands"],
                                      num_perm=meta["num_perm"])
    in_batch_losers = (minhash_jaccard(fresh_sig, in_batch, id_col)
                       .filter(F.col("est_jaccard") >= threshold)
                       .select(F.col("id_b").alias(id_col)).distinct())
    keep_ids = pin(fresh_sig.join(in_batch_losers, id_col, "left_anti"),
                   eager=True)  # pin BEFORE the index mutates
    # keep_ids is materialized; fresh_sig (and new_sig behind it) are
    # dead weight from here
    release(fresh_sig)
    release(new_sig)
    survivors = new_df.join(keep_ids.select(id_col), id_col, "left_semi")
    if update_index:
        minhash_save_index(keep_ids, id_col, index_path,
                           bands=meta["bands"], num_perm=meta["num_perm"],
                           mode="append")
    return survivors


def ngram_jaccard(df_a: DataFrame, df_b: DataFrame, text_col: str,
                  id_col: str, n: int = 3) -> DataFrame:
    """Exact token-n-gram Jaccard for given row pairs (df_a x df_b must
    already be restricted — e.g. LSH candidates); array_intersect /
    array_union are JVM built-ins."""
    def grams(c):
        tokens = F.split(F.trim(F.regexp_replace(F.lower(c), r"\s+", " ")), " ")
        cnt = F.greatest(F.size(tokens) - F.lit(n - 1), F.lit(1))
        return F.array_distinct(F.transform(
            F.sequence(F.lit(0), cnt - 1),
            lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, n))))
    a = df_a.select(F.col(id_col).alias("id_a"), grams(F.col(text_col)).alias("g_a"))
    b = df_b.select(F.col(id_col).alias("id_b"), grams(F.col(text_col)).alias("g_b"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("g_a", "g_b"))
    union = F.size(F.array_union("g_a", "g_b"))
    return pairs.select("id_a", "id_b",
                        (inter / F.greatest(union, F.lit(1))).alias("jaccard"))


def line_dedup(df: DataFrame, text_col: str, id_col: str,
               min_docs: int = 2,
               out_col: str = "text_dedup",
               min_line_chars: int = 1) -> DataFrame:
    """Line-level boilerplate removal — the CCNet paragraph-dedup /
    Dolma line-dedup recipe (public): a line whose exact text appears
    in >= ``min_docs`` DISTINCT documents is boilerplate (headers,
    footers, cookie banners) and is dropped from EVERY document; the
    remaining lines are stitched back in original order.

    Plan shape at 100 TB: posexplode (one scan, no UDF) → the
    boilerplate census groups by the 128-bit line hash
    (``_content_hash_cols`` — payload-free 16-byte shuffle keys,
    partial-aggregable countDistinct) → hash-anti-join the lines →
    one combinable per-doc groupBy whose sort_array(struct(pos,line))
    restores order worker-side. No window functions, no driver
    collection, no all-pairs anything.

    Lines whose trimmed length is below ``min_line_chars`` (default:
    empty / whitespace-only lines) are excluded from the boilerplate
    census and therefore ALWAYS kept — otherwise blank lines, which
    appear in nearly every real document, would be declared
    boilerplate and every paragraph break in the corpus would
    collapse. CCNet/Dolma line-dedup operates on non-trivial lines
    for the same reason; raise ``min_line_chars`` to also protect
    very short lines."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n"))
         .alias("__pos__", "__line__"))
    hashed = lines.select(
        id_col, "__pos__", "__line__",
        *[c.alias(n) for c, n in zip(_content_hash_cols("__line__"),
                                     ("__h1__", "__h2__"))])
    boiler = (hashed
              .filter(F.length(F.trim(F.col("__line__")))
                      >= min_line_chars)
              .groupBy("__h1__", "__h2__")
              .agg(F.countDistinct(id_col).alias("__nd__"))
              .filter(F.col("__nd__") >= min_docs)
              .select("__h1__", "__h2__"))
    kept = hashed.join(boiler, ["__h1__", "__h2__"], "left_anti")
    rebuilt = (kept.groupBy(id_col)
               .agg(F.array_sort(F.collect_list(
                   F.struct("__pos__", "__line__"))).alias("__ls__"))
               .select(id_col,
                       F.concat_ws("\n", F.transform(
                           F.col("__ls__"),
                           lambda s: s.getField("__line__")))
                       .alias(out_col),
                       F.size("__ls__").alias("n_lines_kept")))
    # docs whose every line was boilerplate must survive as empty.
    # rebuilt carries one FULL-TEXT row per doc — corpus-scaling and
    # never safely broadcastable; pin sort-merge (posexplode fan-out
    # defeats planning-time size estimates, see substring_dedup)
    return (df.select(id_col).join(rebuilt.hint("merge"),
                                   id_col, "left")
            .select(id_col,
                    F.coalesce(out_col, F.lit("")).alias(out_col),
                    F.coalesce("n_lines_kept", F.lit(0))
                     .alias("n_lines_kept")))


def substring_dedup(df: DataFrame, text_col: str, id_col: str,
                    k: int = 20, min_docs: int = 2,
                    out_col: str = "text_dedup") -> DataFrame:
    """Exact substring (token-span) deduplication — the k-gram-anchor
    form of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better" (arXiv:2107.06499, public): any run of
    ``k`` consecutive tokens whose exact sequence appears in >=
    ``min_docs`` DISTINCT documents is duplicated text (license
    boilerplate, templated paragraphs, quoted passages) and every
    token covered by such a window is removed from every document;
    the survivors are stitched back in original order. A maximal
    shared span of m >= k tokens is covered exactly (all its windows
    are shared), while spans shorter than k are never touched — the
    paper's suffix-array criterion restated as a window census.

    LOSSY NORMALIZATION (by design): tokenization collapses ALL
    whitespace — newlines included — to single spaces, so every
    surviving document comes back single-line with runs of blanks
    squeezed, even documents that contained no duplicated span.
    Run substring_dedup AFTER line-structured stages (line_dedup,
    c4_rules, gopher page filters), never before them. Empty and
    whitespace-only documents tokenize to zero tokens and report
    ``n_tokens_kept = 0``.

    Plan shape at 100 TB (the line_dedup recipe one level down):
    tokenize once → k shifted array slices zip into per-position
    windows (O(k) array ops per DOC, the shingle_minhash trick, no
    per-window string concat) → census groups by the window's 128-bit
    hash (16-byte shuffle keys, partial-aggregable countDistinct) →
    shared window starts explode into covered positions (volume
    bounded by matched spans × k, not corpus size) → anti-join +
    one combinable per-doc groupBy rebuilds the text. No windows
    (analytic), no driver collection, no all-pairs anything.
    """
    # spread docs across cores when the source arrives under-partitioned
    # (single-row-group files): the k-slice zip + posexplode window
    # build below runs pre-shuffle and otherwise lands in ONE task; at
    # scale the scan is already wide and this no-ops
    spark = df.sparkSession
    if df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    # filter('' ...) drops the [''] that split() yields for empty /
    # whitespace-only docs, so they count as 0 tokens, not 1
    toks = F.filter(F.split(F.trim(F.regexp_replace(
        F.col(text_col), r"\s+", " ")), " "),
        lambda w: w != "")
    base = df.select(F.col(id_col), toks.alias("__t__"))
    n = F.size("__t__")
    n_win = n - F.lit(k - 1)
    # k shifted copies → arrays_zip → the j-th struct holds tokens
    # j..j+k-1; slice to the valid window count
    parts = [F.col("__t__").alias("w0")]
    for i in range(1, k):
        parts.append(F.slice(F.col("__t__"), i + 1,
                             F.greatest(n - F.lit(i), F.lit(1)))
                     .alias(f"w{i}"))
    windows = F.slice(F.arrays_zip(*parts), 1, F.greatest(n_win, F.lit(0)))
    wins = (base.filter(n >= k)
            .select(id_col, F.posexplode(windows).alias("__j__", "__w__"))
            .select(id_col, "__j__",
                    F.xxhash64(*[F.col(f"__w__.w{i}") for i in range(k)])
                    .alias("__h1__"),
                    F.xxhash64(F.lit(0x9E3779B9),
                               *[F.col(f"__w__.w{i}") for i in range(k)])
                    .alias("__h2__")))
    shared = (wins.groupBy("__h1__", "__h2__")
              .agg(F.countDistinct(id_col).alias("__nd__"))
              .filter(F.col("__nd__") >= min_docs)
              .select("__h1__", "__h2__"))
    covered = (wins.join(shared, ["__h1__", "__h2__"], "left_semi")
               .select(id_col, F.explode(F.sequence(
                   F.col("__j__"), F.col("__j__") + F.lit(k - 1)))
                   .alias("__pos__"))
               .distinct())
    tokens = base.select(
        id_col, F.posexplode("__t__").alias("__pos__", "__tok__"))
    # covered scales with the corpus (doc_id-keyed): forbid a
    # statically mis-estimated broadcast (explode fan-out defeats
    # planning-time size estimates; see gopher_dup_ngram_coverage)
    kept = tokens.join(covered.hint("merge"),
                       [id_col, "__pos__"], "left_anti")
    rebuilt = (kept.groupBy(id_col)
               .agg(F.array_sort(F.collect_list(
                   F.struct("__pos__", "__tok__"))).alias("__ts__"))
               .select(id_col,
                       F.concat_ws(" ", F.transform(
                           F.col("__ts__"),
                           lambda s: s.getField("__tok__")))
                       .alias(out_col),
                       F.size("__ts__").alias("n_tokens_kept")))
    # fully-covered docs must survive as empty rows
    return (df.select(id_col).join(rebuilt.hint("merge"), id_col, "left")
            .select(id_col,
                    F.coalesce(out_col, F.lit("")).alias(out_col),
                    F.coalesce("n_tokens_kept", F.lit(0))
                     .alias("n_tokens_kept")))


def snapshot_diff(old: DataFrame, new: DataFrame, id_col: str,
                  text_col: str) -> DataFrame:
    """Corpus version diff: classify every doc id across two corpus
    snapshots as ``added`` / ``removed`` / ``changed`` /
    ``unchanged`` by CONTENT hash (md5 of the text), so a renamed
    file or re-shuffled partition layout never reads as a change.

    Dataset versioning is routine in training pipelines (what moved
    between crawl N and crawl N+1 decides what re-tokenizes and what
    invalidates downstream caches). Plan shape at 100 TB: both sides
    project to (id, 16-byte hash) BEFORE the one full-outer join on
    id — document payloads never shuffle. Returns (id, status)."""
    oh = old.select(F.col(id_col),
                    F.md5(F.col(text_col)).alias("__old_h__"))
    nh = new.select(F.col(id_col),
                    F.md5(F.col(text_col)).alias("__new_h__"))
    j = oh.join(nh, id_col, "full_outer")
    status = (F.when(F.col("__old_h__").isNull(), F.lit("added"))
              .when(F.col("__new_h__").isNull(), F.lit("removed"))
              .when(F.col("__old_h__") == F.col("__new_h__"),
                    F.lit("unchanged"))
              .otherwise(F.lit("changed")))
    return j.select(id_col, status.alias("status"))


def winnow_fingerprints(df: DataFrame, text_col: str, id_col: str,
                        k: int = 5, window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken
    2003 — the MOSS algorithm, public): hash every char ``k``-gram of
    the normalized text, slide a ``window`` over the hash sequence,
    and keep each window's MINIMUM hash (rightmost on ties — "robust
    winnowing"). Guarantees: any shared substring of length
    ``k + window - 1`` yields at least one shared fingerprint, and
    selected density is ~2/(window+1) — position-robust partial-copy
    detection that exact-hash and shingle-set methods miss.

    Returns ``(id_col, fp, pos)`` — one row per selected fingerprint
    (distinct per doc), ``pos`` the 0-based gram offset.

    Exactness/oracle: the hash is the md5-hex-prefix integer (the
    DSIR bucket recipe) — replayable bit-for-bit by DuckDB list ops,
    unlike xxhash64. Plan shape: normalization is a JVM expression;
    gram hashing AND window-min selection run in ONE Arrow kernel
    pass (one scan, zero shuffles before the explode). Hashing moved
    kernel-side in round 10: the previous
    ``F.transform(sequence, substr(i, k))`` gram build is QUADRATIC
    in document length (``UTF8String.substring`` walks char offsets
    from the string start, and higher-order-function lambdas never
    enter codegen anyway) — a 3 MB document costs ~4.5e12 byte steps
    JVM-side (the r10 bigdoc burn-in ran >25 min without finishing
    one pass) vs O(len) here (the same burn-in: ~2 min for 200 such
    docs, receipt in PLANS.md).
    """
    if k < 1 or window < 1:
        raise ValueError("k and window must be >= 1")
    # spread docs across cores when the source arrives under-partitioned
    # (single-row-group files): the md5-per-gram kernel below is the
    # cost of this operator and otherwise runs in ONE task; at scale
    # the scan is already wide and this no-ops (shingle_minhash pattern)
    spark = df.sparkSession
    if df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    # 15 hex chars = 60 bits: a 32-bit (8-hex) fp space measured ~2.2M
    # birthday-collision pairs at 5M docs (75M selected fps); 60 bits
    # puts the expected collision count at ~0.002 while still fitting
    # BOTH a Spark signed long and a DuckDB BIGINT exactly.
    hdf = df.select(F.col(id_col), norm.alias("__nrm__"))
    idt = df.select(id_col).schema[id_col].dataType.simpleString()

    def select_mins(batches):
        import hashlib

        import numpy as np
        import pandas as pd
        for pdf in batches:
            ids, fps, poss = [], [], []
            for did, txt in zip(pdf[id_col], pdf["__nrm__"]):
                n = 0 if txt is None else len(txt) - (k - 1)
                if n < window:
                    continue
                md5 = hashlib.md5
                a = np.fromiter(
                    (int(md5(txt[i:i + k].encode("utf-8"))
                         .hexdigest()[:15], 16) for i in range(n)),
                    dtype=np.int64, count=n)
                sw = np.lib.stride_tricks.sliding_window_view(
                    a, window)
                mins = sw.min(axis=1)
                # rightmost occurrence of the min in each window
                rel = (window - 1
                       - np.argmax(sw[:, ::-1] == mins[:, None],
                                   axis=1))
                pos = np.arange(len(mins)) + rel
                sel = pd.DataFrame({"f": mins, "p": pos}) \
                    .drop_duplicates()
                ids.extend([did] * len(sel))
                fps.append(sel["f"].to_numpy())
                poss.append(sel["p"].to_numpy())
            if ids:
                yield pd.DataFrame({
                    id_col: ids,
                    "fp": np.concatenate(fps),
                    "pos": np.concatenate(poss).astype(np.int32)})

    return hdf.mapInPandas(select_mins,
                           f"{id_col} {idt}, fp long, pos int")


def winnow_matches(df: DataFrame, text_col: str, id_col: str,
                   k: int = 5, window: int = 4,
                   max_df: int = 1000) -> DataFrame:
    """Cross-document partial-copy candidates by shared winnowing
    fingerprints: ``(id_a, id_b, shared_fps)`` for id_a < id_b, the
    MOSS match stage. ``max_df`` drops fingerprints shared by more
    than that many docs (boilerplate k-grams — MOSS's own
    "too-common" cut) BEFORE pairing, so a corpus-hot fingerprint
    can never fan out quadratically; the cut is part of the operator
    contract and mirrored by the oracle.

    Plan: fingerprints (one scan) → distinct (doc, fp) → combinable
    df(fp) census → hot-fp filter → fp-keyed self-join (candidates
    bounded by true sharing) → combinable pair count. Every join side
    here SCALES WITH THE CORPUS (the fingerprint table is ~2/(w+1)
    of all grams), so both joins carry explicit merge hints —
    planning-time size estimates don't see explode fan-out, and at a
    5M-doc burn-in Catalyst statically broadcast the 70M-row
    fingerprint side and OOMed the driver (the round-5 merge-hint
    lesson, re-learned live).
    """
    # r14 optimization round (guide §2.1 pin-what-you-reuse): the
    # distinct (doc, fp) frame feeds the df census AND both self-join
    # sides — four references that each re-ran the md5-per-gram
    # fingerprint kernel (4 MapInPandas branches in the before plan).
    # Materialize it once; its size class (~2/(window+1) of all
    # grams) is exactly what the joins below shuffle anyway.
    fps = pin(winnow_fingerprints(df, text_col, id_col, k, window)
              .select(F.col(id_col).alias("__id__"), "fp").distinct(),
              eager=True)
    censu = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("__dfc__"))
    keep = censu.filter(F.col("__dfc__") <= max_df).select("fp")
    pruned = fps.hint("merge").join(keep, "fp")
    a = pruned.select(F.col("__id__").alias("id_a"), "fp")
    b = pruned.select(F.col("__id__").alias("id_b"), "fp")
    return (a.hint("merge").join(b, "fp")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("shared_fps")))


def jaccard_join(df: DataFrame, text_col: str, id_col: str,
                 threshold: float = 0.5) -> DataFrame:
    """EXACT token-set Jaccard self-join: all pairs ``(id_a, id_b,
    n_common, jaccard)`` with ``|A∩B| / |A∪B| >= threshold``,
    ``id_a < id_b`` — the verification-grade companion to the
    MinHash/SimHash probabilistic dedup family (those can miss or
    over-report near the threshold; this one is exact, at the cost
    of candidate verification). Tokens are the DSIR normalization
    (lowercased, punct-stripped, whitespace-split), deduplicated
    per doc; docs with no tokens pair with nothing.

    Plan (PPJoin-style prefix filtering, Chaudhuri et al. 2006 /
    Xiao et al. 2008 — public recipe): ONE corpus scan feeds a
    combinable global token-df census; each doc's distinct tokens
    sort by (df, token) ascending — rarest first — and only the
    PREFIX (the first ``|S| - ceil(t·|S|) + 1`` tokens) enters the
    candidate join: two sets with Jaccard >= t must share at least
    one prefix token (pigeonhole on the overlap bound
    ``|A∩B| >= t/(1+t)·(|A|+|B|)``), so corpus-hot tokens outside
    prefixes NEVER fan out quadratically. Candidates deduplicate,
    then ONE merge-hinted join back to the (id, token-array) frame
    per side computes the exact intersection/union row-locally
    (array_intersect on sorted distinct arrays). Every join in the
    chain is key-hashed and merge-hinted — no cross join, no
    broadcast of a corpus-scaling side (plan-gated in tests).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got "
                         f"{threshold}")
    t = float(threshold)
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9 ]",
                            " ")
    toks = F.array_distinct(
        F.filter(F.split(norm, r" +"), lambda x: x != ""))
    base = (df.select(F.col(id_col).alias("__id__"),
                      toks.alias("__tk__"))
            .filter(F.size("__tk__") > 0))
    tok = base.select("__id__", F.explode("__tk__").alias("__t__"),
                      F.size("__tk__").alias("__n__"))
    dfc = tok.groupBy("__t__").agg(F.count(F.lit(1)).alias("__df__"))
    from pyspark.sql import Window
    w = Window.partitionBy("__id__").orderBy("__df__", "__t__")
    # prefix length |S| - ceil(t*|S|) + 1
    plen = (F.col("__n__")
            - F.ceil(F.lit(t) * F.col("__n__")).cast("int") + 1)
    prefix = (tok.hint("merge").join(dfc, "__t__")
              .withColumn("__r__", F.row_number().over(w))
              .filter(F.col("__r__") <= plen)
              .select("__id__", "__t__", "__n__"))
    a = prefix.select(F.col("__id__").alias("id_a"), F.col("__t__"),
                      F.col("__n__").alias("__na__"))
    b = prefix.select(F.col("__id__").alias("id_b"), F.col("__t__"),
                      F.col("__n__").alias("__nb__"))
    # PPJoin length filter: Jaccard >= t forces t <= min/max of the
    # set sizes — prune size-mismatched candidates INSIDE the join
    # before the distinct/verify stages see them
    cand = (a.hint("merge").join(b.hint("merge"), "__t__")
            .filter((F.col("id_a") < F.col("id_b"))
                    & (F.least("__na__", "__nb__")
                       >= F.lit(t) * F.greatest("__na__", "__nb__")))
            .select("id_a", "id_b").distinct())
    sa = base.select(F.col("__id__").alias("id_a"),
                     F.col("__tk__").alias("__ta__"))
    sb = base.select(F.col("__id__").alias("id_b"),
                     F.col("__tk__").alias("__tb__"))
    inter = F.size(F.array_intersect("__ta__", "__tb__"))
    union = (F.size("__ta__") + F.size("__tb__") - inter)
    return (cand.hint("merge").join(sa.hint("merge"), "id_a")
            .hint("merge").join(sb.hint("merge"), "id_b")
            .withColumn("n_common", inter.cast("long"))
            .withColumn("jaccard",
                        F.col("n_common") / union.cast("double"))
            .filter(F.col("jaccard") >= t)
            .select("id_a", "id_b", "n_common", "jaccard"))
