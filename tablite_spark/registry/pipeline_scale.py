"""Pipeline query waves II: dup-fixture corpora, incremental dedup,
clustering/graphs, sampling, multimodal, adapted TPC-H, evaluation,
encoders, streaming twins — split verbatim from
``__spark_entry__.py`` (round 12).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from tablite_spark.plans.lifecycle import pinned
from tablite_spark.registry._base import SF_SMOKE, _cents, _t  # noqa: F401


def _dup_fixture(spark: SparkSession, sf: str) -> DataFrame:
    """Controlled dedup corpus derived from the documents table: each
    doc_id gets a 30-token text whose tokens are UNIQUE to that doc
    (pairwise token-disjoint docs → true Jaccard 0 between any two
    distinct docs), and every doc_id % 4 == 0 gains an EXACT duplicate
    at doc_id + 10_000_000. On this corpus, near-dup detection
    (MinHash-LSH, SimHash) provably coincides with exact text dedup —
    which DuckDB reproduces verbatim. That turns the hash pipelines
    into exactly-oracle-able queries (the derived-invariant trick)."""
    d = _t(spark, sf, "documents").select("doc_id")
    text = F.concat_ws(" ", F.transform(
        F.sequence(F.lit(1), F.lit(30)),
        lambda j: F.concat(F.lit("tok"),
                           (F.col("doc_id") * 1000 + j).cast("string"))))
    base = d.select("doc_id", text.alias("text"))
    dups = (base.filter(F.col("doc_id") % 4 == 0)
            .select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text"))
    return base.unionByName(dups)


def line_dedup_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Line-level boilerplate removal (dedup.line_dedup — the CCNet
    paragraph-dedup / Dolma line-dedup recipe): docs are given three
    lines, with every doc_id % 3 == 0 sharing an identical footer
    line; line_dedup(min_docs=2) must strip exactly that footer from
    every carrier and keep all unique lines in order. DuckDB builds
    the expected post-dedup text directly (md5 + kept-line count)."""
    from tablite_spark.pipeline.dedup import line_dedup
    d = _t(spark, sf, "documents").select("doc_id")
    sid = F.col("doc_id").cast("string")
    mid = F.when(F.col("doc_id") % 3 == 0, F.lit("-- shared footer --")) \
           .otherwise(F.concat(F.lit("mid-"), sid))
    text = F.concat(F.lit("line-"), sid, F.lit("-a\n"),
                    mid, F.lit("\nline-"), sid, F.lit("-b"))
    docs = d.select("doc_id", text.alias("text"))
    out = line_dedup(docs, "text", "doc_id", min_docs=2)
    return out.select("doc_id",
                      F.md5("text_dedup").alias("text_md5"),
                      F.col("n_lines_kept").cast("long")
                       .alias("n_lines_kept"))


def gopher_quality_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher rule-based quality filter (text.gopher_rules, Rae et
    al. 2021 Appendix A) over the REAL documents table — not a
    synthetic fixture: every rule is integer cross-multiplication
    arithmetic, so DuckDB replays the full computation bit-for-bit
    from the same parquet."""
    from tablite_spark.pipeline.text import gopher_rules
    d = _t(spark, sf, "documents").select("doc_id", "text")
    return gopher_rules(d, "text", "doc_id", min_words=50)


def gopher_repetition_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher repetition signals (text.gopher_repetition) over the
    REAL documents table: duplicate line/para censuses and
    top-{2,3,4}-gram char masses are all integer arithmetic, so
    DuckDB replays the full computation (including the max-struct
    tie-break) from the same parquet."""
    from tablite_spark.pipeline.text import gopher_repetition
    d = _t(spark, sf, "documents").select("doc_id", "text")
    return gopher_repetition(d, "text", "doc_id")


def pretrain_filter_docs(spark: SparkSession, sf: str) -> DataFrame:
    """One-call pretraining gate (text.pretrain_filter): conjunction
    of the Gopher quality / repetition / dup-ngram stages with the
    first-failing-stage reason, over the REAL documents table. The
    oracle composes the three stage SQLs verbatim, so keep/reason are
    hash-exact end-to-end."""
    from tablite_spark.pipeline.text import pretrain_filter
    d = _t(spark, sf, "documents").select("doc_id", "text")
    return pretrain_filter(d, "text", "doc_id")


def gopher_dup_ngrams_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicated-n-gram character coverage (n=5..10,
    text.gopher_dup_ngram_coverage — the second half of Gopher's
    repetition table) over the REAL documents table; DuckDB replays
    the positional-coverage arithmetic (grouping by the gram STRING,
    which is equality-equivalent to the xxhash64 key Spark censuses
    on) from the same parquet."""
    from tablite_spark.pipeline.text import gopher_dup_ngram_coverage
    d = _t(spark, sf, "documents").select("doc_id", "text")
    return gopher_dup_ngram_coverage(d, "text", "doc_id")


def c4_clean_docs(spark: SparkSession, sf: str) -> DataFrame:
    """C4 cleaning rules (text.c4_rules, Raffel et al. 2020 §2.2):
    six constructed lines per doc exercise every line filter
    (terminal punctuation, 3-word minimum, javascript), plus
    doc_id-dependent lorem-ipsum / curly-brace page poisons; DuckDB
    builds the expected cleaned text and flags directly."""
    from tablite_spark.pipeline.text import c4_rules
    d = _t(spark, sf, "documents").select("doc_id")
    sid = F.col("doc_id").cast("string")
    base = F.concat(
        F.lit("The value "), sid, F.lit(" is good.\n"),
        F.lit("short.\n"),
        F.lit("no terminal punct here\n"),
        F.lit("Javascript required to view.\n"),
        F.lit("Totally fine sentence number "), sid, F.lit("!\n"),
        F.lit("Is this kept as well?"))
    poison = F.when(F.col("doc_id") % 5 == 0,
                    F.lit("\ncode block { }"))\
        .when(F.col("doc_id") % 7 == 0, F.lit("\nsee lorem ipsum."))\
        .otherwise(F.lit(""))
    docs = d.select("doc_id", F.concat(base, poison).alias("text"))
    out = c4_rules(docs, "text", "doc_id")
    return out.select("doc_id",
                      F.md5("text_clean").alias("clean_md5"),
                      "n_lines_kept", "keep_page")


def substring_dedup_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Exact substring dedup (dedup.substring_dedup — the Lee et al.
    2022 k-gram-anchor recipe): every doc_id % 3 == 0 embeds the same
    5-token run between otherwise doc-unique tokens;
    substring_dedup(k=5) must excise exactly that run from every
    carrier and leave non-carriers (all-unique 5-token docs)
    untouched. DuckDB builds the expected post-dedup text directly
    (md5 + kept-token count)."""
    from tablite_spark.pipeline.dedup import substring_dedup
    d = _t(spark, sf, "documents").select("doc_id")
    sid = F.col("doc_id").cast("string")
    carrier = F.concat(F.lit("a"), sid, F.lit(" b"), sid,
                       F.lit(" sh0 sh1 sh2 sh3 sh4 c"), sid,
                       F.lit(" d"), sid)
    plain = F.concat(F.lit("a"), sid, F.lit(" b"), sid, F.lit(" c"),
                     sid, F.lit(" d"), sid, F.lit(" e"), sid)
    docs = d.select("doc_id",
                    F.when(F.col("doc_id") % 3 == 0, carrier)
                     .otherwise(plain).alias("text"))
    out = substring_dedup(docs, "text", "doc_id", k=5, min_docs=2)
    return out.select("doc_id",
                      F.md5("text_dedup").alias("text_md5"),
                      F.col("n_tokens_kept").cast("long")
                       .alias("n_tokens_kept"))


def semantic_dedup_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style semantic dedup (similarity.semantic_dedup:
    k-means cells + within-cell cosine, keep-min-id), exactly oracled
    via the derived-invariant trick (_dup_fixture's embedding
    analogue): each vec_id gets a deterministic 3-hot vector in R^96
    — distinct ids share at most 2 of 3 coordinates (cosine <= 2/3 <
    0.9), planted duplicates at vec_id + 10M reuse the ORIGINAL id's
    vector (cosine exactly 1, and identical points always land in the
    same k-means cell) — so survivors provably equal exact
    keep-min-id dedup, which DuckDB computes over the same
    construction."""
    from tablite_spark.pipeline.similarity import semantic_dedup
    e = _t(spark, sf, "embeddings").select("vec_id")
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(95)),
        lambda j: F.when(
            (j.cast("long") == F.col("vec_id") % 32)
            | (j.cast("long") == 32 + F.floor(F.col("vec_id") / 32) % 32)
            | (j.cast("long") == 64 + F.floor(F.col("vec_id") / 1024) % 32),
            F.lit(1.0)).otherwise(F.lit(0.0)))
    base = e.select("vec_id", vec.alias("vec"))
    dups = (base.filter(F.col("vec_id") % 4 == 0)
            .select((F.col("vec_id") + 10_000_000).alias("vec_id"), "vec"))
    corpus = base.unionByName(dups)
    out = semantic_dedup(corpus, "vec_id", "vec",
                         threshold=0.9, n_lists=8)
    return out.select("vec_id")


def perplexity_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Char-trigram LM perplexity quality scoring (text.
    perplexity_score — the CCNet/Wenzek-2020 filter signal re-expressed
    Spark-first: explode + broadcast model join + combinable groupBy,
    no UDF). Scores are quantized to integer millinats
    (floor(1000*ln p) per gram, summed) so distributed float
    summation is order-independent and DuckDB replays the exact
    training + scoring arithmetic."""
    from tablite_spark.pipeline.text import perplexity_score
    d = _t(spark, sf, "documents").select("doc_id", "text")
    return perplexity_score(d, "text", id_col="doc_id")


def vocab_shift_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-drift monitoring (text.vocab_divergence): JS divergence
    between the token distributions of two document snapshots (docs
    split by doc_id parity), add-alpha smoothed, each per-token term
    quantized to integer micronats so the distributed sum is exact
    and DuckDB replays the whole computation."""
    from tablite_spark.pipeline.text import vocab_divergence
    d = _t(spark, sf, "documents").select("doc_id", "text")
    a = d.filter(F.col("doc_id") % 2 == 0)
    b = d.filter(F.col("doc_id") % 2 == 1)
    return vocab_divergence(a, b, "text")


def minhash_dedup_docs(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH near-dup removal (shingle → signature → band join →
    est-Jaccard filter → anti-join), exactly oracled on the duplicate
    fixture: exact duplicates have identical signatures (always found,
    est-Jaccard 1), token-disjoint docs share no shingle so no band
    collides — survivors == exact-dedup-keep-min-id, which the oracle
    computes over the same constructed corpus."""
    from tablite_spark.pipeline.dedup import minhash_dedup
    corpus = _dup_fixture(spark, sf)
    return minhash_dedup(corpus, "text", "doc_id",
                         threshold=0.8).select("doc_id")


def incremental_minhash_dedup_docs(spark: SparkSession, sf: str) -> DataFrame:
    """NEW-batch-vs-corpus NEAR-dup dedup against a PERSISTED band
    table (dedup.minhash_save_index / incremental_minhash_dedup — the
    pq_save_index pattern applied to MinHash-LSH). Derived-invariant
    fixture: the corpus is the pairwise-token-disjoint _dup_fixture
    base; the new batch holds (A) exact dups of corpus docs where
    doc_id%5==0 (identical signatures → every band collides → est
    Jaccard 1 → dropped by the CORPUS probe), (B) fresh docs in a
    disjoint token namespace (no shared shingle with anything →
    kept), and (C) exact in-batch dups of B where doc_id%6==0
    (dropped by the in-batch pass, min id wins). Survivors provably ==
    B, which DuckDB reproduces arithmetically. The index round-trips
    through parquet save/load inside the query, so the DURABLE path
    is what gets oracled."""
    import tempfile

    from tablite_spark.pipeline.dedup import (
        incremental_minhash_dedup, minhash_save_index, shingle_minhash,
    )
    corpus = _dup_fixture(spark, sf).filter(F.col("doc_id") < 10_000_000)
    idx = tempfile.mkdtemp(prefix="mh_idx_") + "/index"
    minhash_save_index(shingle_minhash(corpus, "text", "doc_id"),
                       "doc_id", idx)

    base_ids = _t(spark, sf, "documents").select("doc_id")
    corpus_text = F.concat_ws(" ", F.transform(
        F.sequence(F.lit(1), F.lit(30)),
        lambda j: F.concat(F.lit("tok"),
                           (F.col("doc_id") * 1000 + j).cast("string"))))
    fresh_text = F.concat_ws(" ", F.transform(
        F.sequence(F.lit(1), F.lit(30)),
        lambda j: F.concat(F.lit("ntok"),
                           (F.col("doc_id") * 1000 + j).cast("string"))))
    # two-step selects: compute text from the ORIGINAL doc_id first —
    # a same-name alias in one select would shadow it via lateral
    # column alias resolution and silently break the dup construction
    a = (base_ids.filter(F.col("doc_id") % 5 == 0)
         .select("doc_id", corpus_text.alias("text"))
         .select((F.col("doc_id") + 20_000_000).alias("doc_id"), "text"))
    b = (base_ids.select("doc_id", fresh_text.alias("text"))
         .select((F.col("doc_id") + 30_000_000).alias("doc_id"), "text"))
    c = (base_ids.filter(F.col("doc_id") % 6 == 0)
         .select("doc_id", fresh_text.alias("text"))
         .select((F.col("doc_id") + 40_000_000).alias("doc_id"), "text"))
    batch = a.unionByName(b).unionByName(c)
    out = incremental_minhash_dedup(batch, "text", "doc_id", idx,
                                    threshold=0.8)
    return out.select("doc_id")


def stream_incremental_dedup_docs(spark: SparkSession,
                                  sf: str) -> DataFrame:
    """The STREAMING ingestion-loop dedup entry point itself
    (streaming.ops.stream_incremental_dedup), driver-oracled: a real
    file-source stream drains with availableNow through foreachBatch,
    one file per micro-batch in pinned mtime order. Derived-invariant
    fixture across TWO batches:

    - seed index = the pairwise-token-disjoint _dup_fixture corpus;
    - batch 1: (A, +20M) exact dups of corpus docs where id%5==0 →
      dropped by the corpus probe; (B, +30M) fresh docs in a disjoint
      'ntok' namespace → kept; (C, +40M) in-batch dups of B where
      id%6==0 → dropped, min id wins;
    - batch 2: (D, +50M) exact dups of BATCH 1's survivors where
      id%7==0 — droppable ONLY because batch 1's accepted signatures
      were appended to the durable index between micro-batches (the
      cross-batch property that distinguishes the streaming loop from
      its batch twin); (E, +60M) fresh 'mtok' docs → kept.

    Survivors are provably B ∪ E = every doc_id +30M and +60M, which
    DuckDB reproduces arithmetically. Exactly-once shape: survivors
    land in per-batch hive partitions (idempotent overwrite)."""
    import tempfile

    from tablite_spark.pipeline.dedup import (
        minhash_save_index, shingle_minhash,
    )
    from tablite_spark.streaming.fixtures import (
        stage_stream_batches, stream_shuffle_partitions)
    from tablite_spark.streaming.ops import stream_incremental_dedup

    corpus = _dup_fixture(spark, sf).filter(F.col("doc_id") < 10_000_000)
    root = tempfile.mkdtemp(prefix="sid_")
    idx = f"{root}/index"
    minhash_save_index(shingle_minhash(corpus, "text", "doc_id"),
                       "doc_id", idx)

    base_ids = _t(spark, sf, "documents").select("doc_id")

    def ns_text(prefix: str):
        return F.concat_ws(" ", F.transform(
            F.sequence(F.lit(1), F.lit(30)),
            lambda j: F.concat(F.lit(prefix),
                               (F.col("doc_id") * 1000 + j)
                               .cast("string"))))

    def shifted(df, text_col, shift):
        return (df.select("doc_id", text_col.alias("text"))
                .select((F.col("doc_id") + shift).alias("doc_id"),
                        "text"))

    a = shifted(base_ids.filter(F.col("doc_id") % 5 == 0),
                ns_text("tok"), 20_000_000)
    b = shifted(base_ids, ns_text("ntok"), 30_000_000)
    c = shifted(base_ids.filter(F.col("doc_id") % 6 == 0),
                ns_text("ntok"), 40_000_000)
    d = shifted(base_ids.filter(F.col("doc_id") % 7 == 0),
                ns_text("ntok"), 50_000_000)
    e = shifted(base_ids, ns_text("mtok"), 60_000_000)
    batch1 = a.unionByName(b).unionByName(c)
    batch2 = d.unionByName(e)

    src = stage_stream_batches(root, "src", [batch1, batch2])

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    with stream_shuffle_partitions(spark, src):
        q = stream_incremental_dedup(
            stream, "text", "doc_id", idx, out_path=f"{root}/out",
            checkpoint=f"{root}/ckpt", threshold=0.8)
        q.awaitTermination()
    return spark.read.parquet(f"{root}/out").select("doc_id")


def kmeans_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed k-means (pipeline/clustering.py) over the REAL
    embeddings table — Lloyd's with integer-quantized vectors so the
    ENTIRE training trajectory (md5-seeded init, every assignment,
    every floor-mean centroid update, 3 rounds, k=4) is bit-exact
    and engine-neutral. The oracle re-derives seeds, assignments and
    centroid updates itself as unrolled DuckDB CTEs — a wrong
    tie-break, a float drift, or a mis-carried empty cell all
    hash-mismatch. Per iteration the Spark plan is ONE combinable
    aggregation (k×(dim+1) integer sums cross the network); the
    assignment is a pure zero-shuffle expression."""
    from tablite_spark.pipeline.clustering import kmeans_cells
    emb = _t(spark, sf, "embeddings")
    out = kmeans_cells(emb, "embedding", "vec_id", k=4, iters=3)
    return out.select(F.col("cell").cast("long").alias("cell"),
                      "n_points", "centroid_csv")


def _kmeans_oracle_sql(k: int = 4, iters: int = 3, dim: int = 64,
                       scale: int = 1048576) -> str:
    """Unrolled-CTE DuckDB replay of kmeans_cells — the
    quality_classifier pattern (replay every iteration) applied to
    clustering. Must mirror clustering.py exactly: floor(x·scale+.5)
    quantize, (md5(id), id) seed order, struct-min (dist, j)
    tie-break, floor(sum/n) centroid update, empty cells carry."""
    parts = [f"""q AS (
  SELECT vec_id, list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE)*{scale}.0+0.5) AS BIGINT)) AS qv
  FROM embeddings)""",
             f"""c0 AS (
  SELECT (row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)) - 1 AS j,
         qv AS cv
  FROM q QUALIFY (row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)) <= {k})"""]

    def assign(name: str, cin: str) -> str:
        return f"""{name} AS (
  SELECT q.vec_id, min(struct_pack(d := dd.dist, j := c.j)).j AS cell
  FROM q, {cin} c,
  LATERAL (SELECT list_sum(list_transform(list_zip(q.qv, c.cv),
                    p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist) dd
  GROUP BY q.vec_id)"""

    for it in range(iters):
        parts.append(assign(f"a{it}", f"c{it}"))
        parts.append(f"""n{it + 1} AS (
  SELECT cell AS j, list(CAST(floor(sx / n) AS BIGINT) ORDER BY i) AS cv
  FROM (SELECT a.cell, t.i, CAST(sum(q.qv[CAST(t.i AS INT)+1]) AS DOUBLE) AS sx,
               CAST(count(*) AS DOUBLE) AS n
        FROM a{it} a JOIN q USING (vec_id), range({dim}) t(i)
        GROUP BY a.cell, t.i)
  GROUP BY cell)""")
        parts.append(f"""c{it + 1} AS (
  SELECT c{it}.j, COALESCE(n{it + 1}.cv, c{it}.cv) AS cv
  FROM c{it} LEFT JOIN n{it + 1} ON c{it}.j = n{it + 1}.j)""")
    parts.append(assign("af", f"c{iters}"))
    parts.append(
        "cnt AS (SELECT cell, count(*) AS n_points FROM af GROUP BY cell)")
    return ("WITH " + ",\n".join(parts) + f"""
SELECT c{iters}.j AS cell, CAST(COALESCE(cnt.n_points, 0) AS BIGINT) AS n_points,
       array_to_string(list_transform(c{iters}.cv, v -> CAST(v AS VARCHAR)), ',')
         AS centroid_csv
FROM c{iters} LEFT JOIN cnt ON c{iters}.j = cnt.cell""")


def preference_pairs_docs(spark: SparkSession, sf: str) -> DataFrame:
    """DPO preference-pair distillation (pipeline/preference.py) over
    the REAL documents table: responses = documents grouped into
    prompts by doc_id % 97, scored by an exact integer signal
    (length % 997 — ties occur and exercise the tie-break). One
    combinable max/min(struct) groupBy — no window (plan-gated), no
    join-back for texts. The oracle replays the argmax/argmin structs
    and the margin filter; a wrong tie-break or a lost text flips an
    md5."""
    from tablite_spark.pipeline.preference import build_preference_pairs
    d = _t(spark, sf, "documents")
    resp = d.select((F.col("doc_id") % 97).alias("prompt_id"),
                    F.col("doc_id"), "text",
                    (F.length("text") % 997).cast("long").alias("score"))
    pairs = build_preference_pairs(resp, "prompt_id", "doc_id", "text",
                                   "score", margin=50.0)
    return pairs.select(
        "prompt_id", "chosen_id", "rejected_id",
        F.md5("chosen_text").alias("chosen_md5"),
        F.md5("rejected_text").alias("rejected_md5"),
        F.col("pair_margin").cast("long").alias("pair_margin"))


def simhash_docs(spark: SparkSession, sf: str) -> DataFrame:
    """64-bit SimHash invariants, exactly oracled on the duplicate
    fixture: simhash is a pure function of the token stream, so
    duplicate texts share a signature, and (deterministic under the
    fixed hash) pairwise token-disjoint texts get distinct ones —
    distinct signatures == distinct texts."""
    from tablite_spark.pipeline.dedup import simhash
    corpus = _dup_fixture(spark, sf)
    sig = simhash(corpus, "text", "doc_id")
    joined = corpus.join(sig, "doc_id")
    return joined.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("simhash").alias("n_sigs"),
        F.countDistinct("text").alias("n_texts"))


def deterministic_sample_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Hash-membership sampling (pipeline/sampling.py): rerun- and
    engine-stable — the DuckDB oracle reproduces the EXACT same subset
    from the same md5 math."""
    from tablite_spark.pipeline.sampling import deterministic_sample
    o = _t(spark, sf, "orders")
    s = deterministic_sample(o, "o_orderkey", 0.1)
    return s.agg(F.count(F.lit(1)).alias("n"),
                 F.sum("o_orderkey").alias("key_sum"))


def stratified_sample_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Per-stratum deterministic sampling (sampleBy semantics without
    seed-dependence); counts per lang oracled exactly."""
    from tablite_spark.pipeline.sampling import (
        stratified_deterministic_sample,
    )
    docs = _t(spark, sf, "documents")
    s = stratified_deterministic_sample(
        docs, "doc_id", "lang", {"en": 0.5, "de": 0.25}, default=0.1)
    return (s.groupBy("lang").agg(F.count(F.lit(1)).alias("n"),
                                  F.sum("doc_id").alias("id_sum")))


def simhash_near_dup_docs(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup pairs (pigeonhole chunk banding +
    bit_count(xor) verify), exactly oracled on the duplicate fixture:
    the pair set must be precisely the planted exact-duplicate pairs
    at hamming 0 — token-disjoint docs sit ~32 bits apart and can
    never pass max_hamming=3."""
    from tablite_spark.pipeline.dedup import simhash, simhash_near_dup_pairs
    corpus = _dup_fixture(spark, sf)
    sig = simhash(corpus, "text", "doc_id")
    return simhash_near_dup_pairs(sig, "doc_id", max_hamming=3)


def ivf_topk_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN (seeded k-means inverted lists + n_probe cell
    scoring). With fixed seeds the approx result is a fixed set; the
    oracle pins those ids and DuckDB recomputes the exact top-5 and
    the overlap itself (_ann_overlap_oracle)."""
    from tablite_spark.pipeline.similarity import (
        brute_force_topk, ivf_topk, topk_recall,
    )
    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    approx = ivf_topk(emb, q, k=5, id_col="vec_id", vec_col="embedding",
                      n_lists=8, n_probe=5)
    exact = brute_force_topk(emb, q, k=5, id_col="vec_id",
                             vec_col="embedding")
    rec = topk_recall(approx, exact)
    return (q.select(F.col("vec_id").alias("qid"))
            .join(rec, "qid", "left")
            .select("qid",
                    F.coalesce("n_overlap", F.lit(0)).cast("long")
                     .alias("n_overlap"),
                    (F.coalesce("n_overlap", F.lit(0)) >= 3)
                    .alias("recall_ok")))


def pq_topk_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN (similarity.pq_topk — Jégou et al.
    2011 codebooks + ADC lookup-table scoring + exact refine).
    Seeded sample-trained codebooks make the approx set a fixed
    function of the data; the oracle pins those ids and DuckDB
    recomputes the exact top-5 and the overlap itself
    (_ann_overlap_oracle)."""
    from tablite_spark.pipeline.similarity import (
        brute_force_topk, pq_topk, topk_recall,
    )
    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    approx = pq_topk(emb, q, k=5, id_col="vec_id", vec_col="embedding",
                     m=8, n_codes=256, refine=4)
    exact = brute_force_topk(emb, q, k=5, id_col="vec_id",
                             vec_col="embedding")
    rec = topk_recall(approx, exact)
    return (q.select(F.col("vec_id").alias("qid"))
            .join(rec, "qid", "left")
            .select("qid",
                    F.coalesce("n_overlap", F.lit(0)).cast("long")
                     .alias("n_overlap"),
                    (F.coalesce("n_overlap", F.lit(0)) >= 3)
                    .alias("recall_ok")))


def ivfpq_topk_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """FAISS-style IVF-PQ (similarity.ivfpq_topk — coarse-cell
    pruning + ADC codes + exact refine). All seeds fixed →
    deterministic approx set; the oracle pins those ids and DuckDB
    recomputes the exact top-5 and the overlap itself
    (_ann_overlap_oracle)."""
    from tablite_spark.pipeline.similarity import (
        brute_force_topk, ivfpq_topk, topk_recall,
    )
    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    approx = ivfpq_topk(emb, q, k=5, id_col="vec_id",
                        vec_col="embedding", n_lists=8, n_probe=5,
                        m=8, n_codes=256, refine=4)
    exact = brute_force_topk(emb, q, k=5, id_col="vec_id",
                             vec_col="embedding")
    rec = topk_recall(approx, exact)
    return (q.select(F.col("vec_id").alias("qid"))
            .join(rec, "qid", "left")
            .select("qid",
                    F.coalesce("n_overlap", F.lit(0)).cast("long")
                     .alias("n_overlap"),
                    (F.coalesce("n_overlap", F.lit(0)) >= 3)
                    .alias("recall_ok")))


def lsh_topk_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """Random-hyperplane LSH approximate top-k. Seeded planes make
    the approx set a fixed function of the data; the oracle pins
    those ids and DuckDB independently recomputes the exact top-5
    and the overlap count (_ann_overlap_oracle)."""
    from tablite_spark.pipeline.similarity import (
        brute_force_topk, lsh_topk, topk_recall,
    )
    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    dim = len(emb.select("embedding").first()["embedding"])
    approx = lsh_topk(emb, q, k=5, dim=dim, id_col="vec_id",
                      vec_col="embedding", bits=48, bands=12)
    exact = brute_force_topk(emb, q, k=5, id_col="vec_id",
                             vec_col="embedding")
    rec = topk_recall(approx, exact)
    return (q.select(F.col("vec_id").alias("qid"))
            .join(rec, "qid", "left")
            .select("qid",
                    F.coalesce("n_overlap", F.lit(0)).cast("long")
                     .alias("n_overlap"),
                    (F.coalesce("n_overlap", F.lit(0)) >= 3)
                    .alias("recall_ok")))


def holdout_split_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Hash-disjoint train/holdout split (pipeline/sampling.py:
    train_holdout_split): a row can never migrate between splits as
    the corpus grows. The DuckDB oracle reproduces the exact md5
    membership, so per-split counts and key-sums match hash-exactly."""
    from tablite_spark.pipeline.sampling import train_holdout_split
    o = _t(spark, sf, "orders")
    train, hold = train_holdout_split(o, "o_orderkey", 0.1)
    tagged = (train.select(F.lit("train").alias("split"), "o_orderkey")
              .unionByName(hold.select(F.lit("holdout").alias("split"),
                                       "o_orderkey")))
    return tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").alias("key_sum"))


def shuffle_order_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic corpus shuffle
    (pipeline/sampling.py:deterministic_shuffle): the first 20 docs of
    the seeded training order, with their epoch rank. DuckDB replays
    the identical md5 ordering."""
    from tablite_spark.pipeline.sampling import (
        _unit_hash, deterministic_shuffle,
    )
    d = _t(spark, sf, "documents").select("doc_id")
    head = deterministic_shuffle(d, "doc_id", seed="epoch1").limit(20)
    w = W.orderBy(_unit_hash(F.concat(F.lit("epoch1"),
                                      F.col("doc_id").cast("string"))))
    return head.select("doc_id", F.row_number().over(w).alias("rnk"))


def quota_cap_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source quota cap (pipeline/sampling.py:quota_cap): at most
    15 docs survive per source, chosen by md5-rank within the group —
    the DuckDB oracle reproduces the exact same rank, so survivors
    (and their id-sum) match hash-exactly."""
    from tablite_spark.pipeline.sampling import quota_cap
    d = _t(spark, sf, "documents")
    capped = quota_cap(d, "doc_id", "source", 15)
    return capped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("id_sum"))


def normalize_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Canonical text normalization (pipeline/text.py:normalize_text):
    every doc gains a DECOMPOSED-form prefix ('Cafe' + combining acute
    U+0301 + ragged spaces); NFC + lowercase + whitespace collapse must
    fold it to 'café ' exactly. The md5 of the normalized text proves
    byte-exact agreement with DuckDB's nfc_normalize pipeline."""
    from tablite_spark.pipeline.text import normalize_text
    d = _t(spark, sf, "documents")
    aug = d.select(
        "doc_id",
        F.concat(F.lit("Cafe\u0301   "), F.col("text")).alias("text"))
    out = normalize_text(aug, "text")
    return out.select("doc_id", F.md5("text_norm").alias("norm_md5"))


def unicode_sort_rank(spark: SparkSession, sf: str) -> DataFrame:
    """UCA-collated sort (operators/sorting.py:sort collation=...):
    nation names gain accented prefixes, then rank under the ICU 'de'
    collation — Spark's JVM-side ICU collator against DuckDB's ICU
    'de' collation (both implement the Unicode Collation Algorithm the
    reference reaches through pyUCA, sort_utils.py:222-264). The rank
    column materializes the order so the order-insensitive driver
    compare still proves the collation agrees."""
    n = _t(spark, sf, "nation")
    pfx = (F.when(F.col("n_nationkey") % 3 == 0, F.lit("Ä"))
           .when(F.col("n_nationkey") % 3 == 1, F.lit("é"))
           .otherwise(F.lit("a")))
    named = n.select(F.concat(pfx, F.col("n_name")).alias("accented"))
    w = W.orderBy(F.collate(F.col("accented"), "de"))
    return named.select("accented", F.row_number().over(w).alias("rnk"))


def mixture_sample_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Mixture rebalancing (pipeline/sampling.py:mixture_sample): the
    corpus is down-sampled so language shares hit en/de/fr/es =
    50/25/12.5/12.5 (zh dropped; shares exactly representable in
    binary so both engines do identical IEEE arithmetic). Keep-rates
    derive from the group counts; membership is md5-hash-exact, so
    DuckDB reproduces the survivors verbatim."""
    from tablite_spark.pipeline.sampling import mixture_sample
    d = _t(spark, sf, "documents")
    out = mixture_sample(d, "doc_id", "lang",
                         {"en": 0.5, "de": 0.25, "fr": 0.125, "es": 0.125})
    return out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("id_sum"))


def token_budget_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget cap (pipeline/sampling.py:token_budget_cap): each
    source keeps the strict PREFIX of docs in md5-hash order whose
    running token sum stays <= 600 — once one doc overflows the budget,
    it and everything after it is dropped (no best-fit packing of later
    smaller docs). The DuckDB oracle replays the identical
    cumulative-sum window."""
    from tablite_spark.pipeline.sampling import token_budget_cap
    d = _t(spark, sf, "documents").withColumn(
        "n_tok", F.size(F.split(F.col("text"), " ")))
    capped = token_budget_cap(d, "doc_id", "source", "n_tok", 600)
    return capped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("id_sum"),
        F.sum("n_tok").alias("tok_sum"))


def incremental_dedup_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental (cross-snapshot) dedup
    (pipeline/dedup.py:incremental_dedup): a constructed NEW batch —
    exact re-crawls of every doc_id%5==1 doc (+1M ids), plus fresh
    ' v2' variants of every doc_id%5==2 doc planted TWICE (+2M and +3M
    ids) — is deduped against the full corpus. Survivors must be
    exactly the +2M set: re-crawls die on the seen-hash anti-join,
    the duplicated fresh texts keep their min id. Content-hash
    equality == text equality here, which DuckDB replays verbatim."""
    from tablite_spark.pipeline.dedup import incremental_dedup
    d = _t(spark, sf, "documents")
    recrawl = (d.filter(F.col("doc_id") % 5 == 1)
               .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text"))
    fresh_lo = (d.filter(F.col("doc_id") % 5 == 2)
                .select((F.col("doc_id") + 2_000_000).alias("doc_id"),
                        F.concat(F.col("text"), F.lit(" v2")).alias("text")))
    fresh_hi = fresh_lo.select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                               "text")
    new_batch = recrawl.unionByName(fresh_lo).unionByName(fresh_hi)
    return incremental_dedup(new_batch, d, "text", "doc_id") \
        .select("doc_id")


def asof_join_events(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join: each error event picks the user's most recent click
    at-or-before it (union + ordered carry — one shuffle, no join;
    the reference's lookup-with-time-inequality shape, lookup.py:14-110).
    Oracled against DuckDB's native ASOF LEFT JOIN."""
    from tablite_spark.operators.joins import asof_join
    e = _t(spark, sf, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id"),
        F.col("value").alias("click_value"))
    out = asof_join(errors, clicks, on="ts", by=["user_id"],
                    right_cols=["click_id", "click_value"])
    return out.select("event_id", "click_id",
                      F.round(F.col("click_value"), 2).alias("click_value"))


def range_join_prices(spark: SparkSession, sf: str) -> DataFrame:
    """Binned range join: lineitem prices landing inside part retail-
    price bands (equi join on bins + exact containment — never a
    nested-loop). Oracled against DuckDB's BETWEEN join."""
    from tablite_spark.operators.joins import range_join
    li = _t(spark, sf, "lineitem").filter(F.col("l_orderkey") < 2000) \
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    bands = _t(spark, sf, "part").filter(F.col("p_partkey") <= 200).select(
        "p_partkey",
        (F.col("p_retailprice") * 10 - 50).alias("lo"),
        (F.col("p_retailprice") * 10 + 50).alias("hi"))
    out = range_join(li, bands, "l_extendedprice", "lo", "hi")
    return (out.groupBy("p_partkey")
            .agg(F.count(F.lit(1)).alias("n_hits"),
                 F.sum(F.col("l_orderkey") + F.col("l_linenumber")).alias("key_sum")))


def png_decode_dims(spark: SparkSession, sf: str) -> DataFrame:
    """REAL image decode (pipeline/png.py stdlib PNG codec +
    multimodal.decode_images): each doc gets a genuine PNG whose
    dimensions derive from doc_id; the decoded IHDR dimensions and the
    true mean-red feature must match the arithmetic oracle."""
    import numpy as np
    import pandas as pd

    from tablite_spark.pipeline.multimodal import (
        attach_media, decode_images, extract_image_features,
    )
    from tablite_spark.pipeline.png import png_encode
    d = _t(spark, sf, "documents").select("doc_id")

    def encode(batches):
        for pdf in batches:
            raws = []
            for did in pdf["doc_id"]:
                w, h = 8 + int(did) % 5, 6 + int(did) % 3
                # red channel 0 or 255 -> mean_red is exactly 0.0/1.0
                # in float32, no rounding-boundary ambiguity vs the
                # double-precision oracle
                px = np.zeros((h, w, 3), dtype=np.uint8)
                px[:, :, 0] = 255 * (int(did) % 2)
                raws.append(png_encode(px))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "raw": raws})

    imgs = d.mapInPandas(encode, schema="doc_id long, raw binary")
    media = attach_media(imgs, "raw", "image/png").drop("raw")
    dims = decode_images(media)
    feats = extract_image_features(media, dim=4).select(
        "doc_id", F.element_at("features", 1).cast("double").alias("mean_red"))
    return dims.select("doc_id", "width", "height").join(feats, "doc_id")


def jpeg_decode_dims(spark: SparkSession, sf: str) -> DataFrame:
    """REAL JPEG decode (pipeline/jpeg.py — pure stdlib+numpy ITU-T
    T.81 codec + multimodal.decode_images): each doc gets a genuine
    JFIF whose dimensions derive from doc_id — doc_id % 3 == 0 docs
    PROGRESSIVE 4:2:0 with restart intervals (SOF2: spectral
    selection + successive approximation + EOB runs + subsampled
    non-interleaved chroma scans, round 6), the rest baseline 4:2:0
    with restart intervals. The decoded SOF dimensions and the (quantization-
    rounded) mean-red feature must match the arithmetic oracle —
    which only holds if both entropy paths reconstruct real pixels.
    The dims intentionally straddle 16x16 MCU boundaries (odd
    widths, partial edge blocks) so padding and subsampled
    reconstruction are exercised, not just the header path."""
    import numpy as np
    import pandas as pd

    from tablite_spark.pipeline.jpeg import (
        jpeg_encode, jpeg_encode_progressive,
    )
    from tablite_spark.pipeline.multimodal import (
        attach_media, decode_images, extract_image_features,
    )
    d = _t(spark, sf, "documents").select("doc_id")

    def encode(batches):
        for pdf in batches:
            raws = []
            for did in pdf["doc_id"]:
                w, h = 16 + int(did) % 9, 12 + int(did) % 5
                # red 0 or 255: after quantization the decoded
                # mean-red is within a couple of 1/255 steps of exact,
                # so round() recovers the planted bit losslessly
                px = np.zeros((h, w, 3), dtype=np.uint8)
                px[:, :, 0] = 255 * (int(did) % 2)
                if int(did) % 3 == 0:
                    raws.append(jpeg_encode_progressive(
                        px, quality=90, subsample="420",
                        restart_interval=2))
                else:
                    raws.append(jpeg_encode(px, quality=90,
                                            subsample="420",
                                            restart_interval=2))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "raw": raws})

    imgs = d.mapInPandas(encode, schema="doc_id long, raw binary")
    media = attach_media(imgs, "raw", "image/jpeg").drop("raw")
    dims = decode_images(media)
    feats = extract_image_features(media, dim=4).select(
        "doc_id",
        F.round(F.element_at("features", 1), 0).cast("double")
         .alias("mean_red_bit"))
    return dims.select("doc_id", "width", "height").join(feats, "doc_id")


def gif_decode_dims(spark: SparkSession, sf: str) -> DataFrame:
    """REAL GIF decode (pipeline/gif.py — pure stdlib LZW with
    variable code widths + multimodal dispatch): each doc gets a
    genuine GIF89a whose dimensions derive from doc_id, every third
    doc interlaced (4-pass row order), all pixels the planted red
    bit. Palette decode is LOSSLESS so the mean-red feature recovers
    the bit exactly — no quantization rounding needed."""
    import numpy as np
    import pandas as pd

    from tablite_spark.pipeline.gif import gif_encode
    from tablite_spark.pipeline.multimodal import (
        attach_media, decode_images, extract_image_features,
    )
    d = _t(spark, sf, "documents").select("doc_id")

    def encode(batches):
        for pdf in batches:
            raws = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 16 + did % 9, 12 + did % 5
                px = np.zeros((h, w, 3), dtype=np.uint8)
                px[:, :, 0] = 255 * (did % 2)
                raws.append(gif_encode(px, interlace=(did % 3 == 0)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "raw": raws})

    imgs = d.mapInPandas(encode, schema="doc_id long, raw binary")
    media = attach_media(imgs, "raw", "image/gif").drop("raw")
    dims = decode_images(media)
    feats = extract_image_features(media, dim=4).select(
        "doc_id",
        F.round(F.element_at("features", 1), 0).cast("double")
         .alias("mean_red_bit"))
    return dims.select("doc_id", "width", "height").join(feats, "doc_id")


def audio_features_meta(spark: SparkSession, sf: str) -> DataFrame:
    """REAL audio DSP features (multimodal.extract_audio_features —
    numpy rfft/RMS/zero-crossings, no audio lib): each doc gets a
    0.2 s 16 kHz sine whose frequency (500·(1+id%8) Hz) and amplitude
    (8000·(1+id%2)) derive from doc_id, phase-offset half a sample so
    no sample quantizes to exactly zero. Invariants verified exact:
    zero-crossings = 200·m − 1, round(centroid/500) = m,
    round(rms·32768·√2/8000) = amplitude bit — all integers the
    arithmetic oracle reproduces."""
    import numpy as np
    import pandas as pd

    from tablite_spark.pipeline.multimodal import (
        attach_media, extract_audio_features, wav_encode,
    )
    d = _t(spark, sf, "documents").select("doc_id")

    def encode(batches):
        for pdf in batches:
            raws = []
            for did in pdf["doc_id"]:
                did = int(did)
                f = 500 * (1 + did % 8)
                amp = 8000 * (1 + did % 2)
                k = np.arange(3200)
                x = np.round(amp * np.sin(
                    2 * np.pi * f * (k + 0.5) / 16000)).astype(np.int16)
                raws.append(wav_encode(x, sample_rate=16000))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "raw": raws})

    clips = d.mapInPandas(encode, schema="doc_id long, raw binary")
    media = attach_media(clips, "raw", "audio/wav").drop("raw")
    feats = extract_audio_features(media)
    sqrt2 = 2.0 ** 0.5
    return feats.select(
        "doc_id",
        F.col("sample_rate"),
        F.col("duration_ms"),
        F.col("zero_crossings"),
        F.round(F.col("spectral_centroid_hz") / 500.0, 0)
         .cast("long").alias("centroid_bucket"),
        F.round(F.col("rms") * 32768.0 * sqrt2 / 8000.0, 0)
         .cast("long").alias("amp_bit"))


def video_frames_meta(spark: SparkSession, sf: str) -> DataFrame:
    """REAL MJPEG-AVI frame sampling (pipeline/avi.py RIFF container
    + pipeline/jpeg.py per-frame decode + multimodal.
    sample_video_frames): every 5th doc gets a genuine AVI whose
    frame count (3..6), dimensions (MCU-straddling, like
    jpeg_decode_dims), and planted per-frame luminance bit derive
    from doc_id; sampling at 200 ms of a 10 fps stream keeps every
    2nd frame. The sampled-frame count, dims, last timestamp, and
    quantization-rounded luma bits must match the arithmetic
    oracle."""
    import numpy as np
    import pandas as pd

    from tablite_spark.pipeline.avi import avi_encode
    from tablite_spark.pipeline.multimodal import (
        attach_media, sample_video_frames,
    )
    d = (_t(spark, sf, "documents").select("doc_id")
         .where(F.col("doc_id") % 5 == 0))

    def encode(batches):
        for pdf in batches:
            raws = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 16 + did % 9, 12 + did % 5
                n = 3 + did % 4
                frames = []
                for i in range(n):
                    px = np.full((h, w, 3),
                                 255 * ((did + i) % 2), dtype=np.uint8)
                    frames.append(px)
                raws.append(avi_encode(frames, fps=10.0, quality=90))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "raw": raws})

    vids = d.mapInPandas(encode, schema="doc_id long, raw binary")
    media = attach_media(vids, "raw", "video/x-msvideo").drop("raw")
    sampled = sample_video_frames(media, every_ms=200)
    return (sampled.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_sampled"),
                 F.max("width").alias("width"),
                 F.max("height").alias("height"),
                 F.max("t_ms").alias("max_t_ms"),
                 F.sum(F.round(F.col("mean_luma") / 255.0, 0))
                  .cast("long").alias("luma_bits")))


def wav_decode_meta(spark: SparkSession, sf: str) -> DataFrame:
    """REAL audio metadata decode (multimodal.decode_audio — RIFF/WAVE
    header parse): each doc gets a genuine mono 16-bit WAV whose length
    derives from doc_id; decoded sample_rate/channels/duration_ms must
    match the arithmetic oracle."""
    import numpy as np
    import pandas as pd

    from tablite_spark.pipeline.multimodal import (
        attach_media, decode_audio, wav_encode,
    )
    d = _t(spark, sf, "documents").select("doc_id")

    def encode(batches):
        for pdf in batches:
            raws = []
            for did in pdf["doc_id"]:
                n = 800 + (int(did) % 10) * 160  # 50ms + k*10ms @16kHz
                raws.append(wav_encode(np.zeros(n, dtype="<i2"), 16_000))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "raw": raws})

    wavs = d.mapInPandas(encode, schema="doc_id long, raw binary")
    media = attach_media(wavs, "raw", "audio/wav").drop("raw")
    return decode_audio(media).select(
        "doc_id", "sample_rate", "channels", "duration_ms")


def resize_images_agg(spark: SparkSession, sf: str) -> DataFrame:
    """REAL resize pipeline proof (multimodal.resize_images, round 6):
    each doc gets a genuine solid-color PNG (red level (doc_id*37)%256,
    size straddling non-integer box ratios), runs decode → numpy
    box-average resize → PNG re-encode inside ONE mapInPandas pass,
    then a SECOND independent decode reads back the output dims and
    mean red. Box-averaging a solid color is exact, so the planted red
    level must survive the full codec→resample→codec chain bit-exactly
    — a constant-only oracle would not catch a channel swap, a
    stride bug, or resample drift; the per-doc varying level does."""
    import numpy as np
    import pandas as pd

    from tablite_spark.pipeline.multimodal import (
        attach_media, decode_images, extract_image_features, resize_images,
    )
    from tablite_spark.pipeline.png import png_encode
    d = _t(spark, sf, "documents").select("doc_id").filter(
        F.col("doc_id") < 2000)

    def encode(batches):
        for pdf in batches:
            raws = []
            for did in pdf["doc_id"]:
                w, h = 9 + int(did) % 5, 7 + int(did) % 3
                px = np.zeros((h, w, 3), dtype=np.uint8)
                px[:, :, 0] = (int(did) * 37) % 256
                raws.append(png_encode(px))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "raw": raws})

    imgs = d.mapInPandas(encode, schema="doc_id long, raw binary")
    media = attach_media(imgs, "raw", "image/png").drop("raw")
    small = resize_images(media, width=4, height=4, out_format="png")
    dims = decode_images(small).select("doc_id", "width", "height")
    red = extract_image_features(small, dim=4).select(
        "doc_id",
        F.round(F.element_at("features", 1).cast("double") * 255)
         .cast("long").alias("red_level"))
    return dims.join(red, "doc_id")


def resample_audio_meta(spark: SparkSession, sf: str) -> DataFrame:
    """REAL resample pipeline proof (multimodal.resample_audio, round
    6): each doc gets a genuine 8 kHz mono PCM WAV holding a constant
    level (doc_id*131)%32768; resample to 16 kHz (np.interp — exact on
    a constant), re-encode, then an independent decode verifies the
    new rate, the doubled duration, and the bit-exact surviving level.
    Catches rate-metadata-only fakes: duration_ms and the level both
    come from the RESAMPLED payload, not the input."""
    import numpy as np
    import pandas as pd

    from tablite_spark.pipeline.multimodal import (
        attach_media, resample_audio, wav_encode, wav_samples,
    )
    d = _t(spark, sf, "documents").select("doc_id").filter(
        F.col("doc_id") < 2000)

    def encode(batches):
        for pdf in batches:
            raws = []
            for did in pdf["doc_id"]:
                n = 160 + (int(did) % 7) * 40  # multiple of 8
                v = (int(did) * 131) % 32768
                raws.append(wav_encode(np.full(n, v, dtype="<i2"), 8_000))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "raw": raws})

    wavs = d.mapInPandas(encode, schema="doc_id long, raw binary")
    media = attach_media(wavs, "raw", "audio/wav").drop("raw")
    out = resample_audio(media, target_rate=16_000)

    def verify(batches):
        for pdf in batches:
            rows = []
            for did, m in zip(pdf["doc_id"], pdf["media"]):
                rate, x = wav_samples(bytes(m["data"]))
                pcm = np.round(x * 32768.0).astype(int)
                rows.append((int(did), int(m["sample_rate"]),
                             int(m["duration_ms"]),
                             int(pcm.max()), int(pcm.min()),
                             len(pcm)))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "sample_rate", "duration_ms",
                "level_max", "level_min", "n_samples"])

    return out.mapInPandas(
        verify, schema="doc_id long, sample_rate long, duration_ms long,"
                       " level_max long, level_min long, n_samples long")


def cluster_holdout_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe cluster holdout (pipeline/sampling.py:266
    cluster_holdout_split): near-dup clusters from n-gram-Jaccard →
    connected components, split hashed on the CLUSTER id so near-twins
    never straddle train/eval. Returns each doc's side — the oracle
    replays the recursive-CTE components AND the md5 cluster-hash
    membership, so a doc-keyed (leaky) split hash-mismatches."""
    from tablite_spark.pipeline.dedup import (
        connected_components, ngram_jaccard,
    )
    from tablite_spark.pipeline.sampling import cluster_holdout_split
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 60)
    pairs = (ngram_jaccard(d, d, "text", "doc_id", n=3)
             .filter(F.col("jaccard") >= 0.2))
    cc = connected_components(pairs)
    train, hold = cluster_holdout_split(
        d.select("doc_id"), "doc_id", cc, holdout_fraction=0.3)
    return (train.select("doc_id", F.lit("train").alias("side"))
            .unionByName(hold.select("doc_id",
                                     F.lit("holdout").alias("side"))))


def canonical_urls_docs(spark: SparkSession, sf: str) -> DataFrame:
    """URL canonicalization (pipeline/text.py:canonicalize_urls):
    deterministically messy URLs (uppercase scheme/host, default port,
    utm/fbclid params, fragment, trailing slash) built from doc_id
    must canonicalize byte-identically in both engines. ``myfbclid``
    is a boundary trap: a legit param whose name merely CONTAINS a
    tracking-param name must survive (the strip is [?&]-anchored)."""
    from tablite_spark.pipeline.text import canonicalize_urls
    d = _t(spark, sf, "documents")
    did = F.col("doc_id").cast("string")
    url = F.concat(F.lit("HTTPS://Example"), (F.col("doc_id") % 7).cast("string"),
                   F.lit(".COM:443/Path/"), did,
                   F.lit("/?utm_source=x&id="), did,
                   F.lit("&utm_campaign=y&fbclid=abc&myfbclid=keep#frag"))
    aug = d.select("doc_id", url.alias("url"))
    return canonicalize_urls(aug, "url").select("doc_id", "url_canon")


def interval_join_events(spark: SparkSession, sf: str) -> DataFrame:
    """Batch twin of streaming/ops.py:stream_interval_join (the
    dual-watermark stream-stream join): each error event pairs with
    the same user's clicks at most one hour before it. Runs through
    the binned range_join (operators/joins.py:264) — clicks become
    [ts, ts+1h] validity intervals, errors hash to time bins, equi
    join + exact containment. Oracled against DuckDB's BETWEEN join."""
    from tablite_spark.operators.joins import range_join
    e = _t(spark, sf, "events")
    errors = (e.filter(F.col("event_type") == "error")
              .select(F.col("event_id").alias("err_id"), "user_id",
                      F.unix_timestamp("ts").cast("double").alias("err_ts")))
    clicks = (e.filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"), "user_id",
                      F.unix_timestamp("ts").cast("double").alias("lo"),
                      (F.unix_timestamp("ts") + 3600).cast("double").alias("hi")))
    out = range_join(errors, clicks, "err_ts", "lo", "hi", by=["user_id"])
    return (out.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.sum(F.col("err_id") + F.col("click_id")).alias("pair_sum")))


def redact_pii_docs(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrub (emails/URLs/phones → [KIND] tokens). The corpus text
    is synthetic prose, so PII spans are planted deterministically from
    doc_id; md5 of the redacted text proves byte-exact redaction."""
    from tablite_spark.pipeline.text import redact_pii
    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(F.col("text"),
                 F.lit(" contact user"), F.col("doc_id").cast("string"),
                 F.lit("@example.com or https://ex.co/"),
                 F.col("doc_id").cast("string")).alias("text"))
    out = redact_pii(d, "text")
    return out.select("doc_id", F.md5(F.col("text")).alias("redacted_md5"))


def repetition_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Within-doc repetition metrics (Gopher-style dup token / dup
    bigram fractions) — boilerplate/spam signal for corpus filtering."""
    from tablite_spark.pipeline.text import repetition_metrics
    d = _t(spark, sf, "documents")
    out = repetition_metrics(d, "text", n=2)
    return out.select(
        "doc_id",
        F.round(F.col("dup_token_frac"), 4).alias("dup_token_frac"),
        F.round(F.col("dup_ngram_frac"), 4).alias("dup_ngram_frac"))


def vocab_top_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus vocabulary: top-50 unigrams by count (explode →
    partial-agg → top-k), deterministic tiebreak on the token."""
    from tablite_spark.pipeline.text import top_k_ngrams
    d = _t(spark, sf, "documents")
    return top_k_ngrams(d, "text", n=1, k=50)


def weighted_sample_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Importance-weighted deterministic sampling (weight = doc length):
    membership is a pure hash function — rerun/engine/append stable —
    and DuckDB reproduces the exact subset."""
    from tablite_spark.pipeline.sampling import weighted_deterministic_sample
    d = _t(spark, sf, "documents").select(
        "doc_id", F.length("text").cast("double").alias("w"))
    out = weighted_deterministic_sample(d, "doc_id", "w", 0.3, salt="ws")
    return out.select("doc_id")


def chunk_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Token-window document chunking (40-token chunks, 8 overlap) —
    single-scan explode, no shuffle; md5 proves byte-exact chunks."""
    from tablite_spark.pipeline.text import chunk_documents
    d = _t(spark, sf, "documents")
    out = chunk_documents(d, "text", "doc_id", chunk_tokens=40, overlap=8)
    return out.select("doc_id", "chunk_id",
                      F.md5(F.col("chunk_text")).alias("chunk_md5"),
                      "chunk_tokens")


def contamination_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark-decontamination: docs sharing 8-gram spans with a
    probe set (here: the first 5 documents) meet in a posting-list
    hash join on the n-gram — never docs x probes."""
    from tablite_spark.pipeline.text import contamination_check
    d = _t(spark, sf, "documents")
    probes = d.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("probe_id"), F.col("text").alias("probe_text"))
    out = contamination_check(d, probes, "text", "doc_id",
                              "probe_text", "probe_id", n=8)
    return out.select("doc_id", "probe_id", "shared_grams",
                      F.round(F.col("overlap"), 4).alias("overlap"))


def pack_chunks_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence packing: chunked docs assigned to 256-token packs per
    source via a per-group prefix-scan window (distributes across
    sources; deterministic order)."""
    from tablite_spark.pipeline.text import chunk_documents, pack_chunks
    d = _t(spark, sf, "documents")
    ch = chunk_documents(d, "text", "doc_id", chunk_tokens=40, overlap=0)
    src = d.select("doc_id", "source")
    ch = ch.join(F.broadcast(src), "doc_id")
    packed = pack_chunks(ch, "chunk_tokens", budget=256,
                         by=["source"], order_by=["doc_id", "chunk_id"])
    return (packed.groupBy("source", "pack_id")
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 F.sum("chunk_tokens").alias("pack_tokens")))


def corpus_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source corpus reporting: docs, chars, tokens, language
    spread — the dataset-card numbers, one partial-agg pass."""
    d = _t(spark, sf, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return (d.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.length("text")).alias("n_chars"),
                 F.sum(F.size(toks)).alias("n_tokens"),
                 F.count_distinct(F.col("lang")).alias("n_langs"),
                 F.min("doc_id").alias("min_doc_id"),
                 F.max("doc_id").alias("max_doc_id")))


def pack_sequences_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Concat-and-chunk sequence packing (text.pack_sequences, round
    6 — the GPT-pretraining layout): documents tokenized by an
    ARITHMETIC id scheme both engines can compute (length*131 +
    1-based position % 127 — BPE ids are pytest-tested separately,
    tokenize_bpe), EOS 0 after each doc, packed into exact 64-token
    windows with documents crossing boundaries. DuckDB rebuilds the
    identical global token stream with a row_number and replays the
    windowing; the array hash pins every token of every sequence,
    and n_docs pins the boundary-crossing accounting."""
    from tablite_spark.pipeline.text import pack_sequences
    d = _t(spark, sf, "documents")
    toks = F.filter(F.split(F.trim(F.col("text")), r"\s+"),
                    lambda t: t != "")
    ids = F.transform(
        toks, lambda t, i: (F.length(t) * 131 + (i + 1) % 127)
        .cast("int"))
    docs = d.select("doc_id", ids.alias("ids"))
    out = pack_sequences(docs, "ids", "doc_id", seq_len=64, eos_id=0)
    # scalarize the array for the driver's value-hash comparator
    return out.select(
        "seq_id",
        F.md5(F.concat_ws(",", F.transform(
            "input_ids", lambda x: x.cast("string")))).alias("ids_md5"),
        "n_docs")


def pack_sequences_sft_docs(spark: SparkSession, sf: str) -> DataFrame:
    """SFT-packing path of text.pack_sequences — ``mask_col`` AND
    ``boundaries`` together (the combined path the round-7 10M-doc
    burn-in exercises; this row makes it driver-gated too): same
    arithmetic token scheme as pack_sequences_docs plus a
    position-parity loss mask and doc-start offsets. DuckDB rebuilds
    the stream and replays windows, masks (EOS slots masked 0) and
    per-window start-offset lists; the three md5 columns pin every
    token, every mask bit, and every boundary of every window."""
    from tablite_spark.pipeline.text import pack_sequences
    d = _t(spark, sf, "documents")
    toks = F.filter(F.split(F.trim(F.col("text")), r"\s+"),
                    lambda t: t != "")
    ids = F.transform(
        toks, lambda t, i: (F.length(t) * 131 + (i + 1) % 127)
        .cast("int"))
    mask = F.transform(toks, lambda t, i: ((i + 1) % 2).cast("int"))
    docs = d.select("doc_id", ids.alias("ids"), mask.alias("mask"))
    out = pack_sequences(docs, "ids", "doc_id", seq_len=64, eos_id=0,
                         boundaries=True, mask_col="mask", eos_mask=0)
    s = lambda c: F.md5(F.concat_ws(",", F.transform(  # noqa: E731
        c, lambda x: x.cast("string"))))
    return out.select("seq_id", s("input_ids").alias("ids_md5"),
                      s("loss_mask").alias("mask_md5"),
                      s("doc_starts").alias("starts_md5"), "n_docs")


def bucketed_join_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Shuffle-free co-located join (operators/bucketing.py, round
    6): orders and customer are written once bucketed on the join
    key (hash(key) % 4 files), then joined with ZERO exchanges —
    the bucketed scans' hash partitioning feeds sort-merge join
    directly (plan-gated in tests/test_bucketing.py). The revenue-
    by-segment values must equal DuckDB's plain join, proving
    co-location changes the PLAN, never the result."""
    import tempfile

    from tablite_spark.operators.bucketing import (
        bucketed_join, save_bucketed,
    )
    tmp = tempfile.mkdtemp(prefix="q_bkt_")
    save_bucketed(_t(spark, sf, "orders"), "q_bkt_orders",
                  ["o_custkey"], 4, path=f"{tmp}/orders")
    save_bucketed(_t(spark, sf, "customer"), "q_bkt_customer",
                  ["c_custkey"], 4, path=f"{tmp}/customer")
    j = bucketed_join(spark, "q_bkt_orders", "q_bkt_customer",
                      on=[F.col("o_custkey") == F.col("c_custkey")])
    return (j.groupBy("c_mktsegment")
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                 F.countDistinct("o_custkey").alias("n_custs")))


def bm25_search_docs(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 keyword retrieval (pipeline/retrieval.py, round 6 —
    beyond reference): top-5 documents for three literal topic
    probes. Posting-list pipeline: ONE token-volume shuffle builds
    (doc, term, tf); query terms and the query-term df subset
    broadcast-join into it, so only docs sharing a probe term are
    scored. Deterministic ranking (score rounded to 6 dp, ties by
    doc_id) lets DuckDB reproduce the exact rows with the same
    Robertson idf / Lucene non-negative form."""
    from tablite_spark.pipeline.retrieval import bm25_search
    d = _t(spark, sf, "documents")
    qs = spark.createDataFrame(
        [(1, "spark window agg"), (2, "customer query batch"),
         (3, "vector scan merge")], "qid long, qtext string")
    return bm25_search(d, qs, k=5)


def hybrid_search_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval (retrieval.py:rrf_fuse — beyond reference):
    BM25 top-20 for three literal topic probes FUSED with exact
    dense-cosine top-20 for three embedding probes (qid = vec_id+1,
    vec_id < 3; brute_force_topk's nid != qid self-guard is part of
    the replayed contract) via reciprocal-rank fusion in integer
    micro-units, so the fused score is an exact BIGINT and the
    oracle replays BOTH underlying rankings and the fusion
    arithmetic bit-for-bit. Top-10 per qid, ties by doc_id."""
    from tablite_spark.pipeline.retrieval import bm25_search, rrf_fuse
    from tablite_spark.pipeline.similarity import brute_force_topk
    d = _t(spark, sf, "documents")
    emb = _t(spark, sf, "embeddings")
    qs = spark.createDataFrame(
        [(1, "spark window agg"), (2, "customer query batch"),
         (3, "vector scan merge")], "qid long, qtext string")
    sparse = bm25_search(d, qs, k=20).select("qid", "doc_id", "rank")
    qvec = (emb.filter(F.col("vec_id") < 3)
            .select((F.col("vec_id") + 1).alias("vec_id"), "embedding"))
    dense = (brute_force_topk(emb, qvec, k=20, id_col="vec_id",
                              vec_col="embedding")
             .select("qid", F.col("nid").alias("doc_id"),
                     F.col("rn").alias("rank")))
    return rrf_fuse([sparse, dense], k=10)


def hard_negatives_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """Hard-negative mining (similarity.py:hard_negatives — beyond
    reference, DPR recipe): per probe vector, the 5 most-similar
    corpus vectors with a DIFFERENT label (same-label = positive,
    null-distinct semantics). Exclusion evaluates inline in the one
    broadcast-join corpus scan; ranking is the salted two-phase
    top-k. The oracle recomputes the full cross-label ranking."""
    from tablite_spark.pipeline.similarity import hard_negatives
    emb = _t(spark, sf, "embeddings")
    probes = emb.filter(F.col("vec_id") < 3)
    return hard_negatives(emb, probes, k=5, id_col="vec_id",
                          vec_col="embedding", label_col="label")


def pagerank_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed PageRank (pipeline/graph.py — beyond reference,
    web-graph quality prior): 3 damped power iterations over the
    supplier→part multigraph from lineitem (part nodes offset by 1M
    to disjoin the id spaces; every part node is DANGLING, so the
    uniform redistribution path carries real mass). Integer
    micro-unit ranks make every iteration bit-reproducible; the
    oracle replays all three as unrolled DuckDB CTEs."""
    from tablite_spark.pipeline.graph import pagerank
    li = _t(spark, sf, "lineitem")
    edges = li.select(F.col("l_suppkey").cast("long").alias("src"),
                      (F.col("l_partkey") + 1_000_000).cast("long")
                      .alias("dst"))
    return pagerank(edges, "src", "dst", iters=3)


def _pagerank_oracle_sql(iters: int = 3, damping: float = 0.85,
                         unit: int = 10 ** 12) -> str:
    """Unrolled-CTE DuckDB replay of pagerank_lineitem — must mirror
    graph.py exactly: floor(unit/N) init, per-edge floor(rank/outdeg),
    floor(d·Σ) damping, floor(d·dangling/N) uniform redistribution,
    identical left-assoc float expressions."""
    u = f"{float(unit):.1f}"
    parts = [f"""e AS (SELECT l_suppkey AS src,
                1000000 + l_partkey AS dst FROM lineitem)""",
             """nodes0 AS (SELECT DISTINCT node FROM
                (SELECT src AS node FROM e
                 UNION ALL SELECT dst FROM e))""",
             """odeg AS (SELECT src AS node, COUNT(*) AS outdeg
                FROM e GROUP BY src)""",
             """nodes AS (SELECT n.node, COALESCE(o.outdeg, 0) AS outdeg
                FROM nodes0 n LEFT JOIN odeg o ON n.node = o.node)""",
             "nn AS (SELECT COUNT(*) AS n FROM nodes)",
             f"""r0 AS (SELECT node, outdeg,
                CAST(floor({u} / nn.n) AS BIGINT) AS rank
                FROM nodes, nn)"""]
    for it in range(iters):
        parts.append(f"""d{it} AS (SELECT COALESCE(SUM(rank), 0) AS s
                FROM r{it} WHERE outdeg = 0)""")
        parts.append(f"""c{it} AS (SELECT e.dst AS node,
                SUM(CAST(floor(CAST(r.rank AS DOUBLE) / r.outdeg)
                         AS BIGINT)) AS s
                FROM e JOIN r{it} r ON e.src = r.node
                WHERE r.outdeg > 0 GROUP BY e.dst)""")
        parts.append(f"""r{it + 1} AS (SELECT n.node, n.outdeg,
                CAST(floor((1.0 - {damping}) * {u} / nn.n) AS BIGINT)
                + CAST(floor({damping} * d{it}.s / nn.n) AS BIGINT)
                + CAST(floor({damping} * CAST(COALESCE(c.s, 0)
                                              AS DOUBLE)) AS BIGINT)
                    AS rank
                FROM nodes n LEFT JOIN c{it} c ON n.node = c.node,
                     nn, d{it})""")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT node, rank FROM r{iters}")


def snapshot_diff_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus version diff (dedup.snapshot_diff — beyond reference,
    dataset versioning): old = documents; new = documents with
    doc_id%7==0 rewritten, doc_id%11==0 dropped, and a 9000000+ id
    band appended. Content-hash classification over ONE payload-free
    full-outer join; the oracle replays the same construction and
    hash compare. Counts per status are closed-form in the fixture."""
    from tablite_spark.pipeline.dedup import snapshot_diff
    d = _t(spark, sf, "documents")
    old = d.select("doc_id", "text")
    changed = (F.col("doc_id") % 7 == 0)
    new = (d.filter(F.col("doc_id") % 11 != 0)
           .select("doc_id",
                   F.when(changed, F.concat(F.lit("v2 "), F.col("text")))
                   .otherwise(F.col("text")).alias("text"))
           .unionByName(
               d.filter(F.col("doc_id") % 13 == 0)
               .select((F.col("doc_id") + 9_000_000).alias("doc_id"),
                       "text")))
    return snapshot_diff(old, new, "doc_id", "text")


def column_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Single-pass sketch profile (operators/stats.py:
    profile_columns, round 6): n / nulls / HLL++ distinct / min /
    max / mean for four lineitem columns in ONE aggregation job —
    the 100 TB data-profiling pass where per-column exact
    countDistincts would each cost a shuffle. The HLL estimate
    cannot be replayed by another engine, so the oracle contract is:
    exact fields must MATCH DuckDB exactly, and `distinct_ok` is
    computed HONESTLY Spark-side (|HLL − exact| ≤ 3·rsd·exact,
    exact via countDistinct in this validation query only) while
    DuckDB pins the expectation TRUE — a sketch drifting out of
    bound flips the value and reddens the row."""
    from tablite_spark.operators.stats import profile_columns
    li = _t(spark, sf, "lineitem")
    cols = ["l_orderkey", "l_quantity", "l_returnflag",
            "l_linestatus"]
    prof = profile_columns(li, cols, rsd=0.05)
    exact = li.agg(
        *[F.countDistinct(c).alias(c) for c in cols]).first()
    ex_df = spark.createDataFrame(
        [(c, int(exact[c])) for c in cols], "column string, ex long")
    return (prof.join(F.broadcast(ex_df), "column")
            .select("column", "n", "n_nulls", "min", "max",
                    F.round("mean", 6).alias("mean_r"),
                    (F.abs(F.col("approx_distinct") - F.col("ex"))
                     <= 0.15 * F.col("ex")).alias("distinct_ok")))


def quality_classifier_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Learned quality classifier (pipeline/classifier.py, round 6 —
    beyond reference): logistic regression by full-batch GD over
    exactly-replayable integer-derived features, trained
    DISTRIBUTED (one combinable aggregation per iteration, k+1
    numbers cross the network) against the 'long document' label.
    The determinism contract (per-iteration gradients rounded to 6
    dp, lr an exact binary fraction) makes the whole 30-iteration
    trajectory bit-reproducible, so DuckDB replays ALL of training
    as 60 unrolled CTEs and must land on the identical weights —
    verified through the per-document probabilities (rounded 4 dp)
    and hard predictions this query returns. Accuracy ~0.97 at
    sf0.01 (reported per-row so the oracle pins it too)."""
    from tablite_spark.pipeline.classifier import (
        doc_quality_features, logreg_predict, logreg_train,
    )
    d = _t(spark, sf, "documents")
    feats = ["f_words", "f_lines", "f_chars", "f_vocab"]
    with pinned(doc_quality_features(d, "text")
                .withColumn("y", (F.col("n_chars") > 250).cast("int"))
                .select("doc_id", *feats, "y"), eager=False) as fdf:
        w = logreg_train(fdf, feats, "y", lr=4.0, iters=30)
        out = logreg_predict(fdf, feats, w)
        return out.select(
            "doc_id", F.round("prob", 4).alias("prob_r"),
            F.col("pred").cast("int").alias("pred"),
            (F.col("pred") == F.col("y")).cast("int").alias("correct"))


def _logreg_oracle(lr: float = 4.0, iters: int = 30,
                   grad_decimals: int = 6) -> str:
    """Unroll the full GD trajectory as DuckDB CTEs: w0 = zeros;
    g_i aggregates the rounded mean gradient under w_i over the
    feature frame; w_{i+1} updates. The final CTE scores every doc."""
    feats = ["f_words", "f_lines", "f_chars", "f_vocab"]
    fexpr = {
        "f_words": ("len(list_filter(regexp_split_to_array(trim(text),"
                    " '\\s+'), x -> x <> '')) / 100.0"),
        "f_lines": "len(string_split(text, chr(10))) / 10.0",
        "f_chars": "LENGTH(text) / 1000.0",
        "f_vocab": ("len(list_distinct(list_filter("
                    "regexp_split_to_array(trim(text), '\\s+'),"
                    " x -> x <> ''))) / 100.0"),
    }
    f_cols = ",\n                   ".join(
        f"{e} AS {k}" for k, e in fexpr.items())
    ctes = [f"""f AS MATERIALIZED (
                SELECT doc_id,
                   {f_cols},
                   CAST(n_chars > 250 AS INT) AS y
                FROM documents
            ),
            c AS MATERIALIZED (SELECT COUNT(*) AS n FROM f),
            w0 AS MATERIALIZED (SELECT 0.0 AS w0, 0.0 AS w1,
                          0.0 AS w2, 0.0 AS w3, 0.0 AS b)"""]
    z = ("(b + w0*f_words + w1*f_lines + w2*f_chars"
         " + w3*f_vocab)")
    sig = f"(1.0 / (1.0 + EXP(-{z})))"
    for i in range(iters):
        gs = ", ".join(
            f"ROUND(SUM(({sig} - y) * {c}) / MAX(n), {grad_decimals})"
            f" AS g{j}" for j, c in enumerate(feats))
        ctes.append(
            f"g{i} AS MATERIALIZED (SELECT {gs}, "
            f"ROUND(SUM({sig} - y) / MAX(n), {grad_decimals}) AS gb "
            f"FROM f, w{i}, c)")
        ws = ", ".join(f"w{j} - {lr}*g{j} AS w{j}" for j in range(4))
        ctes.append(f"w{i + 1} AS MATERIALIZED (SELECT {ws}, b - {lr}*gb AS b "
                    f"FROM w{i}, g{i})")
    return f"""
            WITH {','.join(ctes)}
            SELECT doc_id, ROUND({sig}, 4) AS prob_r,
                   CAST({sig} >= 0.5 AS INT) AS pred,
                   CAST((CAST({sig} >= 0.5 AS INT) = y) AS INT)
                       AS correct
            FROM f, w{iters}
        """


def pretrain_e2e_docs(spark: SparkSession, sf: str) -> DataFrame:
    """END-TO-END pretraining pipeline as ONE declarative plan
    (round 6 flagship composition): fixture corpus with planted
    quality failures (doc_id%5==0 keeps the raw text, which fails
    the Gopher function-words rule) and planted exact duplicates
    (doc_id%7==3 copies its predecessor's text) → Gopher quality
    gate (min_words=10) → exact-hash dedup (first doc per md5 text
    wins) → arithmetic tokenization → concat-and-chunk packing into
    64-token training windows. Every stage is individually oracled
    elsewhere; THIS oracle replays the whole composition in DuckDB
    and must reproduce every token of every window (per-window md5)
    plus the boundary-crossing n_docs — proving the stages compose
    without order/boundary bugs."""
    from tablite_spark.pipeline.text import (
        _gopher_columns, pack_sequences,
    )
    d = _t(spark, sf, "documents").select("doc_id", "text")
    boost = F.concat(F.col("text"),
                     F.lit(" of the and that have with"))
    c0 = d.select("doc_id",
                  F.when(F.col("doc_id") % 5 == 0, F.col("text"))
                  .otherwise(boost).alias("text"))
    prev = c0.select((F.col("doc_id") + 1).alias("doc_id"),
                     F.col("text").alias("prev_text"))
    c1 = (c0.join(prev.hint("merge"), "doc_id", "left")
          .select("doc_id",
                  F.when((F.col("doc_id") % 7 == 3)
                         & F.col("prev_text").isNotNull(),
                         F.col("prev_text"))
                  .otherwise(F.col("text")).alias("text")))
    # the gopher gate is a NARROW predicate — filter in place, no
    # id-keyed semi-join (one less SMJ sort+exchange pair)
    kept = c1.filter(_gopher_columns("text", 10, 100_000)["passes"])
    firsts = (kept.groupBy(F.md5("text").alias("__h__"))
              .agg(F.min("doc_id").alias("doc_id")))
    corpus = kept.join(firsts.select("doc_id").hint("merge"),
                       "doc_id", "left_semi")
    toks = F.filter(F.split(F.trim(F.col("text")), r"\s+"),
                    lambda t: t != "")
    ids = F.transform(
        toks, lambda t, i: (F.length(t) * 131 + (i + 1) % 127)
        .cast("int"))
    out = pack_sequences(corpus.select("doc_id", ids.alias("ids")),
                         "ids", "doc_id", seq_len=64, eos_id=0)
    return out.select(
        "seq_id",
        F.md5(F.concat_ws(",", F.transform(
            "input_ids", lambda x: x.cast("string")))).alias("ids_md5"),
        "n_docs")


def zorder_events(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order (Morton) clustering key (operators/layout.py, round
    6): the 16-bit interleave of (user_id, event-time) over events,
    normalized by the module's pure bit-shift arithmetic — no float
    division anywhere, so DuckDB replays the identical key
    bit-for-bit from the same parquet (min/max + shift widths
    computed in SQL). Row-level hash match pins every interleaved
    bit of every row."""
    from tablite_spark.operators.layout import zorder_key
    e = _t(spark, sf, "events")
    return (zorder_key(e, ["user_id", "ts"], bits=8, out_col="z")
            .select("event_id", F.col("z").cast("long").alias("z")))


def hdf5_vlen_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Variable-length-string HDF5 roundtrip (round 6): nation's
    string columns written VLEN (datatype class 9 via GCOL
    global-heap collections — h5py's default layout for str data,
    sources/hdf5lite.py) through to_hdf5(vlen_strings=True), read
    back, aggregated — including a name-length sum so the vlen
    payload bytes themselves are verified, not just the row count."""
    import tempfile

    from tablite_spark.sources.io import read_hdf5, to_hdf5
    n = _t(spark, sf, "nation")
    tmp = tempfile.mkdtemp(prefix="hdf5_vlen_")
    path = f"{tmp}/nation.h5"
    to_hdf5(n, path, vlen_strings=True)
    back = read_hdf5(spark, path)
    return (back.groupBy("n_regionkey")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("n_nationkey").cast("long").alias("key_sum"),
                 F.min("n_name").alias("first_name"),
                 F.sum(F.length("n_name")).cast("long")
                  .alias("name_chars")))


def salted_join_equivalence(spark: SparkSession, sf: str) -> DataFrame:
    """operators.skew.salted_join result-equivalence oracle (VERDICT
    r5 item 4): a power-law fact (90% of lineitem rows share fk=1,
    some fk NULL) left-joined to a dim with DUPLICATE keys — the
    salted rewrite must reproduce DuckDB's plain left join row for
    row, pinning exactly the subtle-rewrite hazards (null keys under
    how='left', duplicate matches, hot-key fan-out/merge)."""
    from tablite_spark.operators.skew import salted_join
    li = _t(spark, sf, "lineitem")
    fact = li.select(
        "l_orderkey", "l_linenumber",
        F.when(F.col("l_orderkey") % 97 == 0,
               F.lit(None).cast("long"))
         .when(F.col("l_orderkey") % 10 < 9, F.lit(1).cast("long"))
         .otherwise(F.col("l_suppkey").cast("long")).alias("fk"))
    sup = _t(spark, sf, "supplier")
    dim = (sup.filter(F.col("s_suppkey") < 100)
           .unionAll(sup.filter(F.col("s_suppkey") < 5))
           .select(F.col("s_suppkey").cast("long").alias("s_suppkey"),
                   "s_name"))
    out = salted_join(fact, dim, "fk", "s_suppkey", n_salts=8,
                      how="left")
    return out.select("l_orderkey", "l_linenumber", "fk", "s_name")


# --------------------------------------------------------------------
# round-8 additions: time-series bars, funnels, phrase search,
# Bloom-prefiltered decontamination
# --------------------------------------------------------------------

def ohlc_resample_events(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly OHLC bars per event_type — ONE combinable groupBy
    (min_by/max_by carry one pair per partial state; no windows, no
    self-joins). Values go through exact integer cents so open/high/
    low/close/sum are order-proof; open/close ties are broken by a
    lexicographic (ts, event_id) key identical in both engines."""
    from tablite_spark.operators.timeseries import ohlc_resample
    e = (_t(spark, sf, "events")
         .withColumn("cents", F.round(F.col("value") * 100, 0)
                     .cast("long")))
    out = ohlc_resample(e, "ts", "cents", every="1 hour",
                        by=["event_type"], tiebreak="event_id")
    return out.select(
        "event_type", "bucket_start",
        (F.col("open") / 100).alias("open"),
        (F.col("high") / 100).alias("high"),
        (F.col("low") / 100).alias("low"),
        (F.col("close") / 100).alias("close"),
        "n_events",
        (F.col("sum_value") / 100).alias("sum_value"))


def funnel_events(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered view→click→purchase funnel: per user the earliest
    completion of each step STRICTLY after the previous step's time.
    Per step: selective filter + combinable conditional-min groupBy +
    user-keyed join — never a window over the event stream."""
    from tablite_spark.operators.timeseries import funnel
    return funnel(_t(spark, sf, "events"),
                  ["view", "click", "purchase"])


def phrase_search_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Exact phrase search ("table table" — the duplicate-word case:
    one posting votes for BOTH phrase indexes, and overlapping
    occurrences each count) via positional-postings anchor voting:
    posexplode cut to the phrase's tokens, then two combinable
    groupBys — no positional join chain, no windows."""
    from tablite_spark.pipeline.retrieval import phrase_search
    out = phrase_search(_t(spark, sf, "documents"), "text", "doc_id",
                        "table table")
    return out.select("doc_id", "n_matches",
                      F.col("first_pos").cast("long").alias("first_pos"))


def bloom_contamination_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination with a broadcast Bloom prefilter —
    byte-identical output to the exact gram join (the filter only
    prunes the explode; FPs die in the confirm join), but corpus
    grams are filtered map-side in one Arrow pass BEFORE exploding,
    so the join input is the rare-hit sliver, not the token stream.
    Probes here: docs 5..14 (disjoint from contamination_docs')."""
    from tablite_spark.pipeline.text import bloom_decontaminate
    d = _t(spark, sf, "documents")
    probes = (d.filter((F.col("doc_id") >= 5) & (F.col("doc_id") < 15))
              .select(F.col("doc_id").alias("probe_id"),
                      F.col("text").alias("probe_text")))
    out = bloom_decontaminate(d, probes, "text", "doc_id",
                              "probe_text", "probe_id", n=8)
    return out.select("doc_id", "probe_id", "shared_grams",
                      F.round(F.col("overlap"), 4).alias("overlap"))


