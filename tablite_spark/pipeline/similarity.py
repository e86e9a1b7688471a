"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k of each query against the
  corpus. The corpus→query join is a broadcast of the (small) query
  set against a single scan of the corpus; per-row dot products are
  built-in ``aggregate``/``zip_with`` expressions (JVM, codegen).
- lsh_topk: random-hyperplane LSH — bucket corpus and queries by
  sign-bit signatures, only score within matching buckets (multi-probe
  across bands). The 100 TB path: candidate generation is a hash join
  on small keys; exact scoring only on candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tablite_spark.operators.groupby import check_k, top_k_per_group


def _norm2(vec):
    return F.sqrt(F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def cosine(a, b):
    return _dot(a, b) / (_norm2(a) * _norm2(b))


def _as_double(vec):
    return F.transform(vec, lambda x: x.cast("double"))


def _unit(vec):
    """L2-normalize ONCE per row so pairwise cosine degrades to a dot
    product — at n² pair volume, per-pair norm recomputation dominates
    runtime (observed 28s → ~8s on the sf0.1 near-dup bench).

    A zero-norm vector has no direction: it normalizes to NULL (under
    ANSI mode x/0 throws, it never was a silent NaN), so any cosine
    against it is NULL and every consumer excludes it — filters/
    thresholds reject NULL, `_topk_per_qid` drops it explicitly. This
    matches the BLAS kernel, which maps the NaN scores to -inf.

    The norm rides in as ``array_repeat(n, size(v))`` — an expression
    ARGUMENT, evaluated once per row — and the division lambda only
    touches bound variables: Catalyst does no common-subexpression
    elimination inside higher-order-function lambdas, so the naive
    ``transform(v, x -> x / norm2(v))`` re-evaluates the aggregate
    norm per element — O(dim²) per row, measured 20× slower at
    dim 64 / 2M rows. (A nested struct-bound-lambda form is equally
    fast but cannot be EVALUATED as a Python-UDF argument — Spark
    INTERNAL_ERROR — while this flat form can.)"""
    v = _as_double(vec)
    n = _norm2(v)
    return F.when(n != 0, F.zip_with(v, F.array_repeat(n, F.size(v)),
                                     lambda x, nn: x / nn))


def _topk_per_qid(scored: DataFrame, k: int, keep: tuple = ()) -> DataFrame:
    """Per-query top-k over a (qid, nid, cos) frame, ranked by
    (cos desc, nid asc): the salted form of
    ``operators.groupby.top_k_per_group``, since few queries would
    otherwise rank the whole corpus in a handful of tasks.

    Zero-norm semantics (uniform across the catalyst and BLAS paths):
    a zero-norm vector has no direction, so its cosine against
    anything is undefined (0/0 = NaN) — such pairs are EXCLUDED here
    rather than letting Spark's NaN-sorts-greatest rank them first.
    A zero-norm query therefore returns no rows; a zero-norm corpus
    row is never a neighbor. The batched kernel enforces the same
    contract by mapping NaN scores to -inf before candidate selection.
    """
    # NULL = zero-norm pair (see _unit); NaN only from pre-normalized
    # caller input — both are "undefined cosine", both excluded
    c = F.col("cos").cast("double")
    scored = scored.filter(c.isNotNull() & ~F.isnan(c))
    return (top_k_per_group(scored, ["qid"],
                            [F.col("cos").desc(), F.col("nid").asc()], k,
                            engine="salted", rank="rn")
            .select("qid", "nid", F.round(F.col("cos"), 4).alias("cos"),
                    "rn", *keep))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int,
                     id_col: str = "id", vec_col: str = "vec") -> DataFrame:
    """Exact top-k: returns (qid, nid, cos, rn). Queries are broadcast;
    the corpus is scanned once. Use for ground truth / small query sets."""
    q = queries.select(F.col(id_col).alias("qid"),
                       _unit(F.col(vec_col)).alias("qv"))
    c = corpus.select(F.col(id_col).alias("nid"),
                      _unit(F.col(vec_col)).alias("cv"))
    scored = (c.join(F.broadcast(q), F.col("nid") != F.col("qid"))
              .withColumn("cos", _dot(F.col("qv"), F.col("cv"))))
    return _topk_per_qid(scored, k)


def _batched_candidates(corpus: DataFrame, queries: DataFrame, m: int,
                        id_col: str, vec_col: str,
                        label_col: str | None = None,
                        query_block: int = 4096) -> DataFrame:
    """Per-(arrow-batch, query) exact top-``m`` candidate generation
    via one BLAS matmul per (batch, query-block) — the scale path for
    broadcast-style exact scoring.

    Why it exists: the catalyst form (``corpus ⋈ broadcast(queries)``
    + per-row ``aggregate``/``zip_with`` dot) materializes one row per
    (corpus, query) PAIR and evaluates a higher-order array expression
    on each — measured impractical at 10k queries × 1M docs (10¹⁰
    pairs; 0/32 tasks finished in 20 min on 32 cores). Dense scoring
    is linear algebra: ``C @ Q.T`` over float64 runs at BLAS speed,
    ~100× the per-row expression path, and never materializes the
    pair table — each batch emits only its top-m rows per query.

    Exactness: per query-column the m-th-largest score is found with
    ``np.partition`` and EVERY row at-or-above it is emitted (boundary
    ties included), so the per-batch candidate set is a superset of
    the batch's true top-m under ANY tie order — the downstream
    ``_topk_per_qid`` (cos desc, nid asc) rank is then byte-identical
    to scoring all pairs. Same-id pairs are masked to -inf (the
    ``nid != qid`` contract); labels are compared null-safe to mirror
    ``eqNullSafe`` (null == null excludes).

    The query matrix ships once per executor via ``sc.broadcast``
    (nq × dim float64: 100k × 64 ≈ 51 MB, 1M × 512 ≈ 4 GB — beyond
    ~1 GB flip roles or route through ``ivf_topk``); the score matrix
    is tiled ``query_block`` columns at a time so peak memory stays
    ~batch × block × 8 B regardless of nq.
    """
    import numpy as np
    import pandas as pd

    q_cols = [F.col(id_col).alias("qid"), _as_double(F.col(vec_col)).alias("qv")]
    c_cols = [F.col(id_col).alias("nid"), _as_double(F.col(vec_col)).alias("cv")]
    if label_col is not None:
        q_cols.append(F.col(label_col).alias("qlabel"))
        c_cols.append(F.col(label_col).alias("nlabel"))
    q_pdf = queries.select(*q_cols).toPandas()
    nq = len(q_pdf)
    dim = len(q_pdf["qv"].iat[0]) if nq else 0
    Q = (np.stack(q_pdf["qv"].to_numpy()).astype(np.float64)
         if nq else np.zeros((0, 0)))
    if nq:
        qn = np.sqrt((Q * Q).sum(axis=1, keepdims=True))
        Q = Q / qn  # 0-norm rows -> nan, matching x / 0.0 semantics
    qids = q_pdf["qid"].to_numpy()
    qlabels = (q_pdf["qlabel"].to_numpy()
               if label_col is not None else None)
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast((qids, Q, qlabels))

    fields = {f.name: f.dataType.simpleString()
              for f in corpus.select(*c_cols).schema.fields}
    qt = queries.select(*q_cols).schema["qid"].dataType.simpleString()
    schema = f"qid {qt}, nid {fields['nid']}, cos double"
    if label_col is not None:
        schema += f", nlabel {fields['nlabel']}"

    def gen(batches):
        qids_, Q_, qlab_ = bc.value
        if len(qids_) == 0:
            return
        for pdf in batches:
            rows = len(pdf)
            if rows == 0:
                continue
            C = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
            cn = np.sqrt((C * C).sum(axis=1, keepdims=True))
            C = C / cn
            nids = pdf["nid"].to_numpy()
            clab = (pdf["nlabel"].to_numpy() if qlab_ is not None
                    else None)
            out = []
            for lo in range(0, len(qids_), query_block):
                hi = min(lo + query_block, len(qids_))
                S = C @ Q_[lo:hi].T  # rows x block
                S[np.equal(nids[:, None], qids_[None, lo:hi])] = -np.inf
                if clab is not None:
                    ql = qlab_[lo:hi]
                    same = np.equal(clab[:, None], ql[None, :])
                    # null-safe: pandas None/NaN != anything above;
                    # add the both-null case explicitly
                    cnull = pd.isna(clab)[:, None]
                    qnull = pd.isna(ql)[None, :]
                    S[same | (cnull & qnull)] = -np.inf
                # zero-norm rows score NaN (0/0); np.partition sorts
                # NaN as LARGEST, so one NaN per column would poison
                # kth and `S >= kth` would drop every finite candidate
                # in the batch. Map NaN -> -inf: undefined cosines are
                # excluded, matching _topk_per_qid's catalyst filter.
                S[np.isnan(S)] = -np.inf
                if rows > m:
                    kth = np.partition(S, rows - m, axis=0)[rows - m]
                    keep = (S >= kth[None, :]) & (S != -np.inf)
                else:
                    keep = S != -np.inf
                r, c = np.nonzero(keep)
                chunk = {"qid": qids_[lo + c], "nid": nids[r],
                         "cos": S[r, c]}
                if clab is not None:
                    chunk["nlabel"] = clab[r]
                out.append(pd.DataFrame(chunk))
            if out:
                yield pd.concat(out, ignore_index=True)

    return corpus.select(*c_cols).mapInPandas(gen, schema)


def batched_topk(corpus: DataFrame, queries: DataFrame, k: int,
                 id_col: str = "id", vec_col: str = "vec") -> DataFrame:
    """Exact cosine top-k, BLAS-batched: identical output contract to
    ``brute_force_topk`` (qid, nid, cos, rn; cos desc / nid asc), but
    scoring is one numpy matmul per (arrow batch, query block) instead
    of one catalyst expression per pair — use it when queries × corpus
    crosses ~10⁸ pairs, where the pair-materializing join hits its
    quadratic wall. See ``_batched_candidates`` for the exactness
    argument."""
    check_k(k)
    return _topk_per_qid(
        _batched_candidates(corpus, queries, k, id_col, vec_col), k)


def hard_negatives(corpus: DataFrame, queries: DataFrame, k: int,
                   id_col: str = "id", vec_col: str = "vec",
                   label_col: str | None = None,
                   exclude: DataFrame | None = None,
                   batched: bool = False) -> DataFrame:
    """Hard-negative mining for contrastive / embedding training
    (public recipe: DPR, Karpukhin et al. 2020 — train with the
    highest-scoring NON-relevant items): per query, the ``k``
    most-cosine-similar corpus items that are NOT positives.

    Positives are excluded two ways, composable: ``label_col`` makes
    same-label items positive (the standard supervised-contrastive
    setup), and/or ``exclude`` supplies explicit (qid, nid) pairs
    (e.g. a relevance-judgment table) removed by a payload-free
    anti-join.

    Plan shape at 100 TB: queries broadcast into ONE corpus scan
    (exclusion predicates evaluate inline — excluded rows never
    materialize), then the salted ``top_k_per_group``. Returns
    (qid, nid, cos, rn[, nlabel]).

    ``batched=True`` routes scoring through the BLAS kernel
    (``_batched_candidates``) — same output, ~100× faster past ~10⁸
    query×corpus pairs where the pair-materializing catalyst join
    hits its quadratic wall. Explicit ``exclude`` pairs are honored
    exactly: each batch keeps top-(k + max-exclusions-per-query)
    candidates so the post-anti-join top-k survives from every batch.
    """
    check_k(k)
    if batched:
        e_max = 0
        if exclude is not None:
            row = (exclude.groupBy("qid").count()
                   .agg(F.max("count")).first())
            e_max = int(row[0] or 0)
        keep = ("nlabel",) if label_col is not None else ()
        cand = _batched_candidates(corpus, queries, k + e_max,
                                   id_col, vec_col, label_col)
        if exclude is not None:
            cand = cand.join(exclude.select("qid", "nid"),
                             ["qid", "nid"], "left_anti")
        return _topk_per_qid(cand, k, keep=keep)
    q_cols = [F.col(id_col).alias("qid"), _unit(F.col(vec_col)).alias("qv")]
    c_cols = [F.col(id_col).alias("nid"), _unit(F.col(vec_col)).alias("cv")]
    keep: tuple = ()
    if label_col is not None:
        q_cols.append(F.col(label_col).alias("qlabel"))
        c_cols.append(F.col(label_col).alias("nlabel"))
        keep = ("nlabel",)
    q = queries.select(*q_cols)
    c = corpus.select(*c_cols)
    cond = F.col("nid") != F.col("qid")
    if label_col is not None:
        cond = cond & ~F.col("nlabel").eqNullSafe(F.col("qlabel"))
    scored = (c.join(F.broadcast(q), cond)
              .withColumn("cos", _dot(F.col("qv"), F.col("cv"))))
    if exclude is not None:
        scored = scored.join(exclude.select("qid", "nid"),
                             ["qid", "nid"], "left_anti")
    return _topk_per_qid(scored, k, keep=keep)


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    import random
    rnd = random.Random(seed)
    return [[rnd.gauss(0, 1) for _ in range(dim)] for _ in range(bits)]


def lsh_signature(df: DataFrame, vec_col: str, dim: int,
                  bits: int = 16, seed: int = 42):
    """Sign-bit signature under `bits` random hyperplanes (as a long)."""
    planes = _hyperplanes(dim, bits, seed)
    sig = F.lit(0).cast("long")
    v = _as_double(F.col(vec_col))
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(x) for x in p])
        bit = (_dot(v, plane) > 0).cast("long")
        sig = sig.bitwiseOR(F.shiftleft(bit, i))
    return sig


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int, dim: int,
             id_col: str = "id", vec_col: str = "vec",
             bits: int = 12, bands: int = 3, seed: int = 42) -> DataFrame:
    """Approximate top-k: match on any of `bands` sub-signatures, score
    candidates exactly, rank. Recall grows with bands; cost stays
    ~linear because the join key is a small hash."""
    bits_per_band = bits // bands
    c = corpus.select(F.col(id_col).alias("nid"),
                      _unit(F.col(vec_col)).alias("cv"),
                      lsh_signature(corpus, vec_col, dim, bits, seed).alias("sig"))
    q = queries.select(F.col(id_col).alias("qid"),
                       _unit(F.col(vec_col)).alias("qv"),
                       lsh_signature(queries, vec_col, dim, bits, seed).alias("qsig"))
    mask = (1 << bits_per_band) - 1
    band_structs_c, band_structs_q = [], []
    for b in range(bands):
        band_structs_c.append(F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col("sig"), b * bits_per_band)
             .bitwiseAND(F.lit(mask)).alias("bh")))
        band_structs_q.append(F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col("qsig"), b * bits_per_band)
             .bitwiseAND(F.lit(mask)).alias("bh")))
    cb = c.select("nid", "cv", F.explode(F.array(*band_structs_c)).alias("b")) \
          .select("nid", "cv", "b.band", "b.bh")
    qb = q.select("qid", "qv", F.explode(F.array(*band_structs_q)).alias("b")) \
          .select("qid", "qv", "b.band", "b.bh")
    cand = (cb.join(F.broadcast(qb), on=["band", "bh"])
            .filter(F.col("nid") != F.col("qid"))
            .select("qid", "qv", "nid", "cv").distinct())
    scored = cand.withColumn("cos", _dot(F.col("qv"), F.col("cv")))
    return _topk_per_qid(scored, k)


def topk_recall(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """Per-query overlap between an approximate and an exact top-k
    result (both shaped (qid, nid, ...)): (qid, n_overlap). With
    seeded planes / seeded k-means the overlap is deterministic, which
    makes ANN quality itself an oracle-able quantity (recall floors)."""
    return (approx.select("qid", "nid")
            .join(exact.select("qid", "nid"), ["qid", "nid"])
            .groupBy("qid").agg(F.count(F.lit(1)).alias("n_overlap")))


_NEAR_DUP_CROSSJOIN_MAX_ROWS = 100_000


def embedding_near_dup_pairs(df: DataFrame, id_col: str, vec_col: str,
                             threshold: float = 0.95,
                             partition_col: str | None = None) -> DataFrame:
    """Near-duplicate pairs by cosine. With a partition column (e.g. an
    LSH bucket or label), pairs are generated within partitions only —
    the scalable pattern. Without one, the full self-join is GUARDED:
    > 100k rows raises (an unpartitioned n² over more is never the
    right plan — bucket with ``lsh_bucket``/``ivf_index`` first, or use
    the blocked-BLAS ``embedding_near_dup`` kernel)."""
    if partition_col is None:
        n = df.count()
        if n > _NEAR_DUP_CROSSJOIN_MAX_ROWS:
            raise ValueError(
                f"embedding_near_dup_pairs: {n} rows with no partition_col "
                f"would cross-join n²; pass partition_col (LSH bucket / IVF "
                f"list) above {_NEAR_DUP_CROSSJOIN_MAX_ROWS} rows")
    a = df.select(F.col(id_col).alias("id_a"), _unit(F.col(vec_col)).alias("v_a"),
                  *( [F.col(partition_col).alias("p")] if partition_col else []))
    b = df.select(F.col(id_col).alias("id_b"), _unit(F.col(vec_col)).alias("v_b"),
                  *( [F.col(partition_col).alias("p")] if partition_col else []))
    cond = F.col("id_a") < F.col("id_b")
    on = ["p"] if partition_col else None
    j = a.join(b, on=on) if on else a.crossJoin(b)
    j = j.filter(cond).withColumn("cos", _dot(F.col("v_a"), F.col("v_b")))
    return (j.filter(F.col("cos") >= threshold)
            .select("id_a", "id_b", F.round(F.col("cos"), 4).alias("cos")))


def ivf_index(df: DataFrame, id_col: str, vec_col: str,
              n_lists: int = 16, seed: int = 42):
    """IVF coarse quantizer: k-means over the corpus; returns
    (assigned_corpus, centroids). The corpus is scanned once for
    training (Spark ML KMeans is itself distributed) and once for
    assignment; the assignment column is the inverted-list key.

    At 100 TB: train on a sample (`df.sample`), assign the full corpus,
    and persist the assignment as a partition column so each query
    probes only its lists' files (partition pruning on `ivf_list`).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    vecs = df.select(F.col(id_col).alias("nid"),
                     _as_double(F.col(vec_col)).alias("cv"),
                     array_to_vector(_as_double(F.col(vec_col))).alias("__features__"))
    km = KMeans(k=n_lists, seed=seed, featuresCol="__features__",
                predictionCol="ivf_list")
    model = km.fit(vecs)
    assigned = model.transform(vecs).select("nid", "cv", "ivf_list")
    centroids = [list(c) for c in model.clusterCenters()]
    return assigned, centroids


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int,
             id_col: str = "id", vec_col: str = "vec",
             n_lists: int = 16, n_probe: int = 4, seed: int = 42) -> DataFrame:
    """IVF approximate top-k: assign corpus to n_lists k-means cells,
    score each query only against its n_probe nearest cells.

    Plan shape: centroids are tiny (n_lists × dim) → the query-side
    probe assignment is a literal-array expression; candidate
    generation is an equi join on `ivf_list`; exact cosine only within
    probed cells (~n_probe/n_lists of the corpus per query).
    """
    check_k(k)
    assigned, centroids = ivf_index(corpus, id_col, vec_col, n_lists, seed)

    q = queries.select(F.col(id_col).alias("qid"),
                       _as_double(F.col(vec_col)).alias("qv"))
    probes = F.slice(F.array_sort(_centroid_d2(F.col("qv"), centroids)),
                     1, n_probe)
    qp = q.withColumn("ivf_list", F.explode(F.transform(probes, lambda s: s.getField("cell"))))

    cand = assigned.join(F.broadcast(qp), on="ivf_list") \
                   .filter(F.col("nid") != F.col("qid"))
    scored = cand.withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    return _topk_per_qid(scored, k)


def embedding_near_dup_blocked(df: DataFrame, id_col: str, vec_col: str,
                               threshold: float = 0.95,
                               n_blocks: int | None = None) -> DataFrame:
    """Exact all-pairs cosine near-dup via block-nested-loop with a
    BLAS kernel — the 100 TB shape of the full self-join.

    Rows are hashed into ``n_blocks`` blocks; every unordered block
    pair (including diagonals) becomes one task whose members arrive as
    a single Arrow batch; the pair scores are ONE numpy matmul
    (vectorized, ~50x the per-row expression path). Replication factor
    is n_blocks (each row joins n_blocks block-pairs) — choose
    n_blocks ≈ sqrt(cluster cores) so blocks fit executor memory.

    Semantics identical to ``embedding_near_dup_pairs`` (exact, all
    pairs id_a < id_b, cos >= threshold).
    """
    from collections.abc import Iterator  # noqa: F401  (doc parity)

    import numpy as np
    import pandas as pd

    if n_blocks is None:
        # ~8k vectors per block: a diagonal task is an 8k x 8k matmul
        # (~4 GFLOP at dim 64 — subsecond with BLAS); replication factor
        # and task count grow with corpus size, tiny corpora stay in
        # one or two tasks instead of paying 36 near-empty ones.
        n = df.count()
        # floor of 2: a single block funnels everything into one task
        # AND one python worker (measured ~4x slower than 2+ blocks
        # even at 2k vectors — no pipelining with the explode/shuffle
        # stages); 2 blocks already gives 3 concurrent block-pairs.
        n_blocks = max(2, min(32, -(-n // 8000)))

    v = df.select(F.col(id_col).alias("vid"),
                  _unit(F.col(vec_col)).alias("uv"),
                  (F.col(id_col) % n_blocks).cast("int").alias("blk"))
    pair_keys = F.array_distinct(F.array(*[
        F.struct(F.least(F.col("blk"), F.lit(o)).alias("ba"),
                 F.greatest(F.col("blk"), F.lit(o)).alias("bb"))
        for o in range(n_blocks)]))
    ex = v.select("vid", "uv", "blk", F.explode(pair_keys).alias("bp")) \
          .select("vid", "uv", "blk", "bp.ba", "bp.bb")

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        ba, bb = pdf["ba"].iat[0], pdf["bb"].iat[0]
        a = pdf[pdf["blk"] == ba]
        ids_a = a["vid"].to_numpy()
        A = np.stack(a["uv"].to_numpy())
        if ba == bb:
            S = A @ A.T
            ia, ib = np.triu_indices(len(ids_a), k=1)
            id_a, id_b = ids_a[ia], ids_a[ib]
            cos = S[ia, ib]
        else:
            b = pdf[pdf["blk"] == bb]
            ids_b = b["vid"].to_numpy()
            B = np.stack(b["uv"].to_numpy())
            S = A @ B.T
            ia, ib = np.nonzero(S >= threshold)
            id_a, id_b = ids_a[ia], ids_b[ib]
            cos = S[ia, ib]
        m = cos >= threshold
        id_a, id_b, cos = id_a[m], id_b[m], cos[m]
        lo = np.minimum(id_a, id_b)
        hi = np.maximum(id_a, id_b)
        return pd.DataFrame({"id_a": lo, "id_b": hi,
                             "cos": np.round(cos, 4)})

    return ex.groupBy("ba", "bb").applyInPandas(
        score, schema="id_a long, id_b long, cos double")


def _train_sample(df: DataFrame, id_col: str, vec_col: str, seed: int,
                  sample_n: int, normalize: bool, who: str):
    """The ``sample_n`` rows with the smallest xxhash64(id, seed) as a
    float64 matrix — deterministic under any partitioning (one
    TakeOrdered pass). ``normalize`` L2-normalizes each row."""
    import numpy as np
    prep = _unit if normalize else _as_double
    rows = (df.select(prep(F.col(vec_col)).alias("v"))
            .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
            .limit(sample_n).collect())
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    if len(X) == 0:
        raise ValueError(f"{who} needs a non-empty corpus")
    return X


def _lloyd(X, k: int, iters: int):
    """Driver-side numpy Lloyd's over the rows of ``X``, seeded with
    its first ``k`` rows (hash order => deterministic seeding; fewer
    rows than ``k`` give one centroid per row). Returns the centroid
    array."""
    import numpy as np
    cents = X[:k].copy()
    xn = (X * X).sum(axis=1)
    for _ in range(iters):
        # ||x-c||^2 = ||x||^2 + ||c||^2 - 2 x·c: one BLAS matmul per
        # iteration instead of an (n, k, dim) broadcast intermediate
        # (that naive form allocates n*k*dim*8 bytes — 10 GB at the
        # 65k-sample default with k=256)
        d2 = xn[:, None] + (cents * cents).sum(axis=1)[None, :] \
            - 2.0 * (X @ cents.T)
        lab = d2.argmin(axis=1)
        # grouped means via ONE stable sort instead of k full-array
        # masks (O(n log n) vs O(k·n)); bit-identical — the stable
        # order preserves each cluster's row sequence, so the
        # contiguous-slice mean reduces the same floats in the same
        # pairwise tree as the masked copy
        order = np.argsort(lab, kind="stable")
        sl = lab[order]
        starts = np.flatnonzero(np.r_[True, sl[1:] != sl[:-1]])
        ends = np.r_[starts[1:], len(sl)]
        Xs = X[order]
        for gi in range(len(starts)):
            cents[sl[starts[gi]]] = Xs[starts[gi]:ends[gi]].mean(axis=0)
    return cents


def _kmeans_sample_train(df: DataFrame, id_col: str, vec_col: str,
                         k: int, seed: int = 42,
                         sample_n: int = 65_536,
                         iters: int = 15,
                         normalize: bool = False) -> list[list[float]]:
    """Seeded sample (``_train_sample``) → driver-side numpy Lloyd's
    (``_lloyd``) → centroid list. This is the 100 TB division of
    labour stated on ivf_index (train on a sample, assign the full
    corpus) made explicit, and it sidesteps Spark ML's per-iteration
    job overhead (measured 5.5 s → 0.6 s on 2k vectors at local
    scale).

    ``normalize=True`` trains on L2-unit vectors — required when the
    caller assigns unit vectors to the resulting centroids (as
    semantic_dedup does): training raw but assigning normalized mixes
    metric spaces, and varying-norm near-duplicates can land in
    different cells and survive dedup."""
    X = _train_sample(df, id_col, vec_col, seed, sample_n, normalize,
                      "kmeans")
    return [list(map(float, c)) for c in _lloyd(X, k, iters)]


def _centroid_d2(v, centroids: list[list[float]]):
    """array<struct<d2, cell>>: the squared L2 distance from the
    array column ``v`` to each centroid, computed as expressions over
    literal centroid arrays (whole-stage codegen, zero Python)."""
    cells = []
    for li, cvec in enumerate(centroids):
        lit = F.array(*[F.lit(float(x)) for x in cvec])
        d2 = F.aggregate(F.zip_with(v, lit, lambda a, b: (a - b) * (a - b)),
                         F.lit(0.0), lambda acc, x: acc + x)
        cells.append(F.struct(d2.alias("d2"), F.lit(li).alias("cell")))
    return F.array(*cells)


def assign_cells(df: DataFrame, vec_col: str,
                 centroids: list[list[float]],
                 out_col: str = "cell") -> DataFrame:
    """Nearest-centroid assignment — no shuffle either way. Small
    codebooks (k·dim ≤ 2048) inline as literal-array expressions
    (``_centroid_d2``, shared with ivf_topk's probe); larger
    ones switch to an Arrow-batched pandas UDF whose body is one BLAS
    matmul + argmax per batch — the expression form is interpreted
    per centroid and goes quadratic in k·dim."""
    import numpy as np
    import pandas as pd

    k, dim = len(centroids), len(centroids[0])
    if k * dim <= 2048:
        d2 = _centroid_d2(_as_double(F.col(vec_col)), centroids)
        return df.withColumn(out_col, F.array_min(d2).getField("cell"))

    C = np.array(centroids, dtype=np.float64)
    half_c2 = 0.5 * (C * C).sum(axis=1)

    def _nearest_batch(s):
        X = np.stack(s.to_numpy()).astype(np.float64)
        # argmin ||x-c||^2 == argmax (x·c - ||c||^2/2); ||x||^2 drops
        return pd.Series((X @ C.T - half_c2).argmax(axis=1).astype("int32"))

    _nearest = F.pandas_udf(_nearest_batch, "int")
    return df.withColumn(out_col, _nearest(_as_double(F.col(vec_col))))


def semantic_dedup(df: DataFrame, id_col: str, vec_col: str,
                   threshold: float = 0.9, n_lists: int = 16,
                   seed: int = 42) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540, public): k-means-cluster the embedding space,
    then inside each cluster drop every row whose cosine to a
    LOWER-id row exceeds ``threshold``; survivors are the per-group
    min-id representatives, mirroring the keep-min convention of the
    text dedup family (pipeline/dedup.py).

    Scale shape — the whole point of the paper's design: pairwise
    cosine work is bounded PER CLUSTER, never a global all-pairs.
    ``n_lists`` should grow with the corpus (N / n_lists vectors per
    cluster must fit a worker's memory). Clustering is sample-trained
    driver-side (``_kmeans_sample_train``) and assigned in one
    codegen'd projection (``assign_cells``) — no ML-iteration job
    storm, no assignment shuffle. The within-cluster stage is ONE
    shuffle (groupBy cell) + one Arrow batch + one BLAS matmul per
    cell (the embedding_near_dup_blocked kernel shape) — ~50× the
    per-pair expression path.
    """
    import numpy as np
    import pandas as pd

    centroids = _kmeans_sample_train(df, id_col, vec_col, n_lists, seed,
                                     normalize=True)
    assigned = assign_cells(
        df.select(F.col(id_col).alias("nid"),
                  _unit(F.col(vec_col)).alias("uv")),
        "uv", centroids, out_col="cell")

    def _cell_dups(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"__dup_id__": pd.Series([], dtype="int64")})
        ids = pdf["nid"].to_numpy()
        X = np.stack(pdf["uv"].to_numpy())
        S = X @ X.T  # unit vectors: dot == cosine; one BLAS call/cell
        ia, ib = np.nonzero(np.triu(S > threshold, k=1))
        id_a = np.minimum(ids[ia], ids[ib])
        id_b = np.maximum(ids[ia], ids[ib])
        return pd.DataFrame({"__dup_id__": np.unique(id_b[id_b > id_a])})

    dup_ids = (assigned.groupBy("cell")
               .applyInPandas(_cell_dups, schema="__dup_id__ long")
               .distinct())
    return df.join(dup_ids, df[id_col] == dup_ids["__dup_id__"],
                   "left_anti")


# ---------------------------------------------------------------- PQ

def pq_train(df: DataFrame, id_col: str, vec_col: str,
             m: int = 8, n_codes: int = 256, seed: int = 42,
             sample_n: int = 65_536, iters: int = 15) -> list:
    """Product-quantization codebooks (Jégou et al. 2011, "Product
    quantization for nearest neighbor search", public): split the
    L2-normalized vector into ``m`` contiguous subspaces and run
    Lloyd's independently in each, on the same seeded
    smallest-xxhash64 sample ``_kmeans_sample_train`` uses. Returns a
    list of m (n_codes × dim/m) codebooks.

    At 100 TB this is the standard memory story for vector search:
    m bytes per vector (m=8 → 8 bytes) instead of 4·dim — a 96-dim
    float corpus compresses 48×, so billions of codes fit where raw
    vectors never could; training stays a driver-side sample job."""
    X = _train_sample(df, id_col, vec_col, seed, sample_n, True,
                      "pq_train")
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    return [_lloyd(X[:, j * dsub:(j + 1) * dsub].copy(), n_codes, iters)
            for j in range(m)]


def _pq_encoder_udf(codebooks: list):
    """Arrow-batched encoder: one BLAS matmul + argmin per subspace
    per batch. Input column must already be L2-normalized."""
    import numpy as np
    import pandas as pd
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m = len(books)
    dsub = books[0].shape[1]
    half_c2 = [0.5 * (b * b).sum(axis=1) for b in books]

    def _enc(s):
        X = np.stack(s.to_numpy()).astype(np.float64)
        codes = np.empty((len(X), m), dtype=np.int32)
        for j in range(m):
            S = X[:, j * dsub:(j + 1) * dsub]
            codes[:, j] = (S @ books[j].T - half_c2[j]).argmax(axis=1)
        return pd.Series(list(codes))

    return F.pandas_udf(_enc, "array<int>")


def pq_encode(df: DataFrame, id_col: str, vec_col: str,
              codebooks: list, out_col: str = "pq_code") -> DataFrame:
    """(<id_col>, pq_code array<int>): per-subspace nearest-centroid
    codes — no shuffle, scan-local. The id column keeps its caller
    name so the output composes with the other similarity operators
    keyed on ``id_col``."""
    enc = _pq_encoder_udf(codebooks)
    return df.select(F.col(id_col),
                     enc(_unit(F.col(vec_col))).alias(out_col))


def _pq_queries(queries: DataFrame, id_col: str, vec_col: str,
                books: list):
    """Collect the (small) query set: (qids, unit-vector matrix Q,
    ADC lookup table ``lut[q, j, c]`` = dot(q_subspace_j, centroid c
    of book j)). An empty query set gives 0-row arrays."""
    import numpy as np
    qrows = (queries.select(F.col(id_col).alias("qid"),
                            _unit(F.col(vec_col)).alias("qv"))
             .collect())
    m, dsub = len(books), books[0].shape[1]
    qids = np.array([r["qid"] for r in qrows])
    Q = np.array([r["qv"] for r in qrows],
                 dtype=np.float64).reshape(len(qrows), m * dsub)
    lut = np.stack([Q[:, j * dsub:(j + 1) * dsub] @ books[j].T
                    for j in range(m)], axis=1)
    return qids, Q, lut


def _adc_scores(coded: DataFrame, qids, lut, probed=None) -> DataFrame:
    """(qid, nid, cos) ADC scores of every (query, corpus row) pair
    with qid != nid: m table lookups per pair over the row's
    ``pq_code``, one Arrow batch at a time. ``probed`` (a
    n_queries × n_cells bool array) keeps, per query, only the rows
    whose ``cell`` it probes."""
    import numpy as np
    import pandas as pd
    m = lut.shape[1]

    def _adc(it):
        for pdf in it:
            if not len(pdf):
                continue
            nid = pdf["nid"].to_numpy()
            keep = qids[:, None] != nid[None, :]
            if probed is not None:
                keep &= probed[:, pdf["cell"].to_numpy()]
            qi, ri = np.nonzero(keep)
            if not len(qi):
                continue
            codes = np.stack(pdf["pq_code"].to_numpy())[ri]
            cos = np.zeros(len(qi))
            for j in range(m):
                cos += lut[qi, j, codes[:, j]]
            yield pd.DataFrame({"qid": qids[qi], "nid": nid[ri],
                                "cos": cos})

    return coded.mapInPandas(_adc, "qid long, nid long, cos double")


def _pq_rank(scored: DataFrame, corpus: DataFrame, queries: DataFrame,
             k: int, refine: int, id_col: str, vec_col: str) -> DataFrame:
    """Top-k of the ADC scores; with ``refine`` the top ``refine·k``
    candidates are re-scored by exact cosine first (a semi-join back
    to the raw vectors — the standard IVF-PQ refine step)."""
    if not refine:
        return _topk_per_qid(scored, k)
    cand = _topk_per_qid(scored, k * refine).select("qid", "nid")
    c = corpus.select(F.col(id_col).alias("nid"),
                      _unit(F.col(vec_col)).alias("cv"))
    q = queries.select(F.col(id_col).alias("qid"),
                       _unit(F.col(vec_col)).alias("qv"))
    exact = (cand.join(c, "nid").join(F.broadcast(q), "qid")
             .withColumn("cos", _dot(F.col("qv"), F.col("cv")))
             .select("qid", "nid", "cos"))
    return _topk_per_qid(exact, k)


def pq_topk(corpus: DataFrame, queries: DataFrame, k: int,
            id_col: str = "id", vec_col: str = "vec",
            m: int = 8, n_codes: int = 256, seed: int = 42,
            refine: int = 0, books: list | None = None) -> DataFrame:
    """PQ approximate top-k by asymmetric distance computation (ADC):
    each query precomputes an m × n_codes lookup table of subspace
    dot products against the codebooks, and scoring a corpus vector
    is m TABLE LOOKUPS over its byte codes — no float vector ever
    touched at scan time. ``refine > 0`` re-scores the top
    ``refine·k`` ADC candidates with exact cosine (a semi-join back
    to the raw vectors — the standard IVF-PQ refine step) so the
    final ranking error is bounded by candidate recall only.

    Plan shape: codebooks train on a driver-side sample; encoding and
    ADC scoring are scan-local Arrow batches (zero shuffles before
    ranking); ranking is the salted ``top_k_per_group``. The query
    set is collected and shipped in the UDF closure — the same
    small-query contract as brute_force_topk's broadcast.

    Pass ``books`` (e.g. from :func:`pq_load_index`) to reuse a
    trained index across sessions/batches — training is the dominant
    per-call cost at small scale and pure overhead to repeat.

    Sizing ``refine``: ADC resolves BETWEEN quantization cells, not
    within them — near-identical vectors share a code word and tie
    under ADC, so if a query's true neighbors live in one tight
    cluster, ``refine·k`` must exceed that cluster's population for
    the exact re-rank to recover the true ordering (measured at 200k
    vectors / 100-member clusters: refine=4 → recall@10 ≈ 0.4,
    refine=12 → 1.0)."""
    check_k(k)
    if books is None:
        books = pq_train(corpus, id_col, vec_col, m=m,
                         n_codes=n_codes, seed=seed)
    codes = (pq_encode(corpus, id_col, vec_col, books)
             .withColumnRenamed(id_col, "nid"))
    qids, _, lut = _pq_queries(queries, id_col, vec_col, books)
    return _pq_rank(_adc_scores(codes, qids, lut), corpus, queries, k,
                    refine, id_col, vec_col)


def ivfpq_topk(corpus: DataFrame, queries: DataFrame, k: int,
               id_col: str = "id", vec_col: str = "vec",
               n_lists: int = 16, n_probe: int = 4,
               m: int = 8, n_codes: int = 256, seed: int = 42,
               refine: int = 4, books: list | None = None,
               cents=None) -> DataFrame:
    """FAISS-style IVF-PQ (Jégou et al. 2011): a coarse sample-trained
    k-means quantizer prunes the scan to each query's ``n_probe``
    nearest cells, PQ codes + ADC lookup tables score ONLY those
    cells' rows, and the exact refine re-ranks the top ``refine·k``
    survivors — the canonical billion-vector recipe, composed from
    the building blocks this module already oracles separately
    (``_kmeans_sample_train``/``assign_cells``, ``pq_train``/ADC,
    the salted ``top_k_per_group``).

    At 100 TB: persist (cell, pq_code) as columns — cell as a
    PARTITION column so probing is partition pruning at the file
    level, codes at m bytes/vector. One scan computes both here; the
    per-batch scorer touches only rows whose cell is probed by some
    query (roughly n_probe/n_lists of the corpus). ``refine`` sizing:
    see pq_topk — it must exceed the population among which ADC ties.
    Pass ``books``/``cents`` (e.g. codebooks via pq_load_index, coarse
    centroids persisted the same way) to reuse a trained index.
    """
    import numpy as np

    check_k(k)
    if cents is None:
        cents = _kmeans_sample_train(corpus, id_col, vec_col,
                                     n_lists, seed, normalize=True)
    if books is None:
        books = pq_train(corpus, id_col, vec_col, m=m,
                         n_codes=n_codes, seed=seed)
    enc = _pq_encoder_udf(books)
    coded = assign_cells(
        corpus.select(F.col(id_col).alias("nid"),
                      _unit(F.col(vec_col)).alias("uv")),
        "uv", cents, out_col="cell") \
        .select("nid", "cell", enc(F.col("uv")).alias("pq_code"))

    qids, Q, lut = _pq_queries(queries, id_col, vec_col, books)
    C = np.array(cents, dtype=np.float64)
    # nearest cells per query (driver-side: n_queries × n_lists)
    d2 = ((Q * Q).sum(1)[:, None] + (C * C).sum(1)[None, :]
          - 2.0 * (Q @ C.T))
    probed = np.zeros((len(qids), len(C)), dtype=bool)
    np.put_along_axis(probed, np.argsort(d2, axis=1)[:, :n_probe], True,
                      axis=1)
    return _pq_rank(_adc_scores(coded, qids, lut, probed), corpus,
                    queries, k, refine, id_col, vec_col)


def pq_save_index(spark, books: list, path: str) -> None:
    """Persist PQ codebooks as parquet — the train-ONCE half of the
    100 TB vector-search story (training is a driver-side sample job;
    encoding/search are scan-local). Layout: one row per (book,
    code) centroid with its float vector, so any engine can read it
    back. Pair with ``pq_encode`` output saved alongside to make the
    whole index durable."""
    import numpy as np
    rows = [(j, c, [float(x) for x in books[j][c]])
            for j in range(len(books))
            for c in range(books[j].shape[0])]
    (spark.createDataFrame(
        rows, "book int, code int, centroid array<double>")
     .repartition(1)
     .write.mode("overwrite").parquet(path))


def pq_load_index(spark, path: str) -> list:
    """Load codebooks written by :func:`pq_save_index` — returns the
    same ``list[np.ndarray]`` shape ``pq_train`` produces, for use
    with ``pq_encode``/ADC search in a DIFFERENT session (no
    retraining)."""
    import numpy as np
    rows = spark.read.parquet(path).collect()
    n_books = 1 + max(r["book"] for r in rows)
    books = []
    for j in range(n_books):
        cs = sorted((r for r in rows if r["book"] == j),
                    key=lambda r: r["code"])
        books.append(np.array([r["centroid"] for r in cs],
                              dtype=np.float64))
    return books
