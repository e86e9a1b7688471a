"""Keyword retrieval over document corpora — BM25 (Robertson/
Sparck Jones probabilistic relevance) as a posting-list pipeline.

A training-data pipeline needs retrieval for targeted curation
(find documents matching a topic probe), decontamination triage, and
quality auditing. This implements the standard BM25 ranking function
Spark-first: one token-volume shuffle builds the (doc, term, tf)
posting frame; document lengths, document frequencies, and the
corpus constants all derive from that frame with SMALLER follow-up
aggregations; the (tiny) query term set broadcast-joins INTO the
postings so only documents sharing a query term are ever scored or
moved — never a docs × queries product.

Scale path at 100 TB: the posting frame is the inverted index. Build
it once with ``build_postings`` and pass it to repeated
``bm25_search(postings=...)`` calls (the reference engine's analogue
is its sorted-page column index; tablite core has no retrieval op —
this is a beyond-reference capability).
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tablite_spark.plans.lifecycle import pin

_TOKEN_SPLIT = r"[^a-z0-9]+"


def _tokens(col):
    return F.filter(F.split(F.lower(col), _TOKEN_SPLIT),
                    lambda t: t != "")


def build_postings(docs: DataFrame, text_col: str,
                   id_col: str) -> DataFrame:
    """(id, term, tf, dl) posting frame — the inverted index. One
    token-volume shuffle (the groupBy that builds term frequencies);
    per-document length joins back from a re-aggregation of the tf
    frame itself (distinct terms per doc — far smaller than the
    token stream)."""
    toks = docs.select(
        F.col(id_col),
        F.explode(_tokens(F.col(text_col))).alias("term"))
    tf = (toks.groupBy(id_col, "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    # dl via an unordered window over the tf frame — one (small,
    # distinct-terms-sized) exchange on id, instead of a groupBy +
    # join-back that would shuffle the frame twice
    w = Window.partitionBy(id_col)
    return tf.withColumn("dl", F.sum("tf").over(w))


def bm25_search(docs: DataFrame | None, queries: DataFrame,
                text_col: str = "text", id_col: str = "doc_id",
                qid_col: str = "qid", qtext_col: str = "qtext",
                k: int = 10, k1: float = 1.2, b: float = 0.75,
                postings: DataFrame | None = None) -> DataFrame:
    """Top-``k`` documents per query under BM25.

    Returns (qid, id, rank, score) with ``score`` rounded to 6
    decimals and ties broken by ascending id — fully deterministic,
    so an independent engine reproduces the exact ranking.

    ``idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))`` (the
    Lucene-standard non-negative form);
    ``score = Σ idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))``.

    Pass a prebuilt ``postings`` frame (from :func:`build_postings`)
    to amortize the index across query batches; else it is built
    from ``docs``."""
    if postings is None:
        # r14 optimization round (guide §2.1): postings feed the
        # doc-length stats, the query-term df census AND the scoring
        # join — an internally-built index re-tokenized the corpus
        # per reference. Pin it once (a caller-supplied postings
        # frame is already amortized — typically parquet-backed).
        postings = pin(build_postings(docs, text_col, id_col), eager=True)
    stats = postings.groupBy(id_col).agg(F.first("dl").alias("dl"))
    consts = stats.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("dl").alias("avgdl")).first()
    n_docs, avgdl = int(consts["n"]), float(consts["avgdl"] or 0.0)
    if n_docs == 0:
        return queries.sparkSession.createDataFrame(
            [], f"{qid_col} long, {id_col} long, rank int, score double")
    qterms = (queries.select(
        F.col(qid_col),
        F.explode(F.array_distinct(_tokens(F.col(qtext_col))))
        .alias("term")).distinct())
    qterm_set = qterms.select("term").distinct()
    # df only for QUERY terms: semi-join BEFORE the count so the
    # term groupBy shuffles matching postings only
    df_t = (postings.join(F.broadcast(qterm_set), "term")
            .groupBy("term").agg(F.count(F.lit(1)).alias("df")))
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df")
                              + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
    denom = (F.col("tf") + F.lit(k1)
             * (F.lit(1.0 - b) + F.lit(b) * F.col("dl")
                / F.lit(avgdl or 1.0)))
    contrib = idf * F.col("tf") * F.lit(k1 + 1.0) / denom
    scored = (postings
              .join(F.broadcast(qterms), "term")
              .join(F.broadcast(df_t), "term")
              .groupBy(qid_col, id_col)
              .agg(F.round(F.sum(contrib), 6).alias("score")))
    # two-phase top-k (the similarity-module pattern): a bare
    # row_number over (partition by qid) ranks each query's ENTIRE
    # scored set in one task — a stopword-like probe term matches the
    # whole corpus and funnels it into ≤|queries| tasks. Phase 1
    # keeps k per (qid, input partition) — balanced; phase 2 ranks
    # the ≤ k·n_partitions survivors. A per-salt top-k under an
    # ordering always contains the global top-k, so the result is
    # identical to the single-window form.
    order = [F.col("score").desc(), F.col(id_col).asc()]
    w1 = Window.partitionBy(qid_col, "__salt__").orderBy(*order)
    w2 = Window.partitionBy(qid_col).orderBy(*order)
    return (scored.withColumn("__salt__", F.spark_partition_id())
            .withColumn("__rn1__", F.row_number().over(w1))
            .filter(F.col("__rn1__") <= k)
            .withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select(qid_col, id_col, "rank", "score"))


def rrf_fuse(rankings: list[DataFrame], qid_col: str = "qid",
             id_col: str = "doc_id", rank_col: str = "rank",
             k: int = 10, k0: int = 60,
             unit: int = 10 ** 12) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N per-query
    rankings — the standard hybrid-retrieval combiner (BM25 + dense
    ANN, or any mix). Each input needs (qid, id, rank) columns.

    Contribution is computed in INTEGER micro-units —
    ``floor(unit / (k0 + rank))`` — so the fused score is an exact
    BIGINT sum: distributed summation order cannot matter and an
    independent engine replays it bit-for-bit (the float form
    ``Σ 1/(k0+rank)`` is associativity-sensitive with 3+ sources).
    Monotone in each rank, so the ordering matches float RRF except
    on sub-micro-unit near-ties, where THIS is the defined
    semantic. Ties break by ascending id.

    Returns (qid, id, rank, rrf_score, n_sources). Plan shape: one
    union (no shuffle) → ONE combinable groupBy on (qid, id) → the
    salted two-phase top-k that survives adversarial probes matching
    the whole corpus (the ``bm25_search`` pattern)."""
    from functools import reduce

    contrib = F.floor(F.lit(float(unit))
                      / (F.lit(k0) + F.col(rank_col))).cast("long")
    parts = [r.select(F.col(qid_col), F.col(id_col),
                      contrib.alias("__c__")) for r in rankings]
    u = reduce(DataFrame.unionByName, parts)
    fused = (u.groupBy(qid_col, id_col)
             .agg(F.sum("__c__").alias("rrf_score"),
                  F.count(F.lit(1)).alias("n_sources")))
    order = [F.col("rrf_score").desc(), F.col(id_col).asc()]
    w1 = Window.partitionBy(qid_col, "__salt__").orderBy(*order)
    w2 = Window.partitionBy(qid_col).orderBy(*order)
    return (fused.withColumn("__salt__", F.spark_partition_id())
            .withColumn("__rn1__", F.row_number().over(w1))
            .filter(F.col("__rn1__") <= k)
            .withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select(qid_col, id_col, "rank", "rrf_score", "n_sources"))


def phrase_search(docs: DataFrame, text_col: str, id_col: str,
                  phrase: str) -> DataFrame:
    """Exact phrase search via positional-postings anchor voting.

    Tokenization matches ``build_postings`` (lowercase, alphanumeric
    runs). A posting of phrase-word *i* at position *p* votes for
    anchor *p − i*; an anchor that collects ALL word indexes 0..n−1 is
    an exact occurrence. Returns one row per matching document:
    (id, n_matches, first_pos) with 0-based first occurrence.

    Scale shape: positions come from ONE posexplode whose output is
    immediately cut by ``token ∈ phrase`` — only the phrase's (rare)
    tokens survive the scan, so the shuffled volume is the phrase's
    posting lists, not the corpus token stream. Matching is then ONE
    combinable groupBy(doc, anchor) + ONE groupBy(doc): no positional
    self-joins (the textbook n−1 join chain re-shuffles a posting
    list per word), no windows, no driver state. Repeated words in
    the phrase are handled by letting a posting vote once per index
    the word occupies (a CASE-built literal index array — phrase
    length is tiny, the expression is row-local).
    """
    words = [t for t in re.split(_TOKEN_SPLIT, phrase.lower()) if t]
    if not words:
        raise ValueError("phrase has no tokens")
    n = len(words)
    idx_of = {}
    for i, w in enumerate(words):
        idx_of.setdefault(w, []).append(i)
    # token -> array of phrase indexes it occupies (literal CASE chain)
    expr = F.lit(None).cast("array<int>")
    for w, idxs in idx_of.items():
        expr = F.when(F.col("tok") == w,
                      F.array(*[F.lit(i) for i in idxs])).otherwise(expr)
    posting = (docs.select(F.col(id_col).alias("id_"),
                           F.posexplode(_tokens(F.col(text_col)))
                           .alias("pos", "tok"))
               .filter(F.col("tok").isin(list(idx_of))))
    votes = (posting.select("id_", "pos",
                            F.explode(expr).alias("i"))
             .select("id_", (F.col("pos") - F.col("i")).alias("anchor"),
                     "i")
             .filter(F.col("anchor") >= 0))
    anchors = (votes.groupBy("id_", "anchor")
               .agg(F.count_distinct("i").alias("n_idx"))
               .filter(F.col("n_idx") == n))
    return (anchors.groupBy("id_")
            .agg(F.count(F.lit(1)).alias("n_matches"),
                 F.min("anchor").alias("first_pos"))
            .select(F.col("id_").alias(id_col), "n_matches",
                    "first_pos"))


def build_trigram_index(docs: DataFrame, text_col: str, id_col: str,
                        path: str) -> None:
    """Persist a character-trigram posting table for
    :func:`substring_search` — the pg_trgm recipe (public), Spark-
    first: one corpus pass explodes each document's DISTINCT trigrams
    (row-local array ops), and the (trigram, id) postings land in
    ``{path}/postings`` sorted within files by trigram so a probe's
    predicate pushdown reads only its trigrams' row groups. A second
    tiny table ``{path}/df`` records each trigram's document
    frequency — the probe-time selectivity statistic that lets
    :func:`substring_search` skip HOT trigram posting lists (the
    round-9 10M-doc burn-in showed a needle containing 'the ' paying
    a 30M-row intersection, 35× a brute scan; probing only the
    rarest trigrams turned it back into a few small posting reads).
    At 100 TB the index is the thing that turns ``LIKE '%needle%'``
    from a full corpus scan into a few posting-list reads."""
    # one LINEAR regex pass per row: the lookahead captures 3 chars at
    # every position while the consumed '.' advances one; (?s) lets
    # '.' cross newlines in raw text. The transform(sequence,
    # substr(i, 3)) form is O(len^2) — UTF8String.substring re-walks
    # char offsets from the string start per gram (the r10 winnowing
    # bigdoc finding) — and HOF lambdas never codegen anyway.
    tri = F.array_distinct(
        F.regexp_extract_all(F.col(text_col),
                             F.lit(r"(?s)(?=(.{3}))."), 1))
    post = (docs.select(F.col(id_col).alias("doc_id"),
                        F.explode(tri).alias("tri")))
    (post.repartition("tri").sortWithinPartitions("tri")
     .write.mode("overwrite").parquet(f"{path}/postings"))
    # doc frequency per trigram: re-derived from the written postings
    # (one read of the sorted files, combinable count — cheaper than
    # a second corpus pass)
    (docs.sparkSession.read.parquet(f"{path}/postings")
     .groupBy("tri").agg(F.count(F.lit(1)).alias("df"))
     .write.mode("overwrite").parquet(f"{path}/df"))


def load_trigram_index(spark, path: str):
    """(postings, df) frames for an index written by
    :func:`build_trigram_index`."""
    return (spark.read.parquet(f"{path}/postings"),
            spark.read.parquet(f"{path}/df"))


def substring_search(docs: DataFrame, text_col: str, id_col: str,
                     needle: str,
                     postings: DataFrame | None = None,
                     tri_df: DataFrame | None = None,
                     max_probe_trigrams: int = 0) -> DataFrame:
    """All documents containing ``needle`` as a raw substring, with
    occurrence counts: ``(id, n_occurrences)``.

    The pg_trgm plan: a match must contain EVERY trigram of the
    needle, so candidates are the posting-list intersection — one
    combinable groupBy(doc) counting distinct matched trigrams,
    ``== n_trigrams`` — then one id-keyed join back to the text for
    the exact ``contains`` confirm (trigram containment is necessary,
    not sufficient: "abcde" vs needle "abcde" scattered). Never a
    full-corpus LIKE scan when ``postings`` (from
    :func:`build_trigram_index`) is supplied; without it the postings
    are derived inline (one corpus pass — still no per-needle rescan
    when searching many needles over one cached derivation).

    Needles shorter than 3 characters have no trigrams — those fall
    back to the direct scan filter (selective short needles are rare
    and an index can't help them).

    Hot-trigram pruning (round-9 burn-in fix): a needle containing a
    corpus-hot trigram ('the ') would drag that trigram's near-corpus-
    sized posting list through the intersection. With ``tri_df`` (the
    index's document-frequency table) and ``max_probe_trigrams=k``,
    only the k LOWEST-df needle trigrams are intersected — a superset
    of the true candidates, and the exact ``contains`` confirm makes
    the result identical, so pruning trades candidate volume for
    posting IO with no correctness cost. The df lookup collects at
    most len(needle) rows (contract-bounded).
    """
    tris = sorted({needle[i:i + 3] for i in range(len(needle) - 2)})
    if tris and tri_df is not None and 0 < max_probe_trigrams < len(tris):
        dfs = {r["tri"]: r["df"] for r in
               tri_df.filter(F.col("tri").isin(tris)).collect()}
        # a needle trigram absent from the index ⇒ no doc contains it
        # ⇒ empty result, cheapest possible probe (df 0 sorts first)
        tris = sorted(tris, key=lambda t: (dfs.get(t, 0), t))[
            :max_probe_trigrams]
        tris = sorted(tris)
    occ = ((F.length(text_col)
            - F.length(F.replace(F.col(text_col), F.lit(needle))))
           / len(needle)).cast("long")
    if not tris:
        return (docs.filter(F.col(text_col).contains(needle))
                .select(F.col(id_col).alias("doc_id"),
                        occ.alias("n_occurrences")))
    if postings is None:
        # linear lookahead-regex gram pass (see build_trigram_index)
        tri = F.array_distinct(
            F.regexp_extract_all(F.col(text_col),
                                 F.lit(r"(?s)(?=(.{3}))."), 1))
        postings = docs.select(F.col(id_col).alias("doc_id"),
                               F.explode(tri).alias("tri"))
    cand = (postings.filter(F.col("tri").isin(tris))
            .groupBy("doc_id")
            .agg(F.count_distinct("tri").alias("n_tri"))
            .filter(F.col("n_tri") == len(tris))
            .select("doc_id"))
    return (cand.join(docs.select(F.col(id_col).alias("doc_id"),
                                  F.col(text_col)), "doc_id")
            .filter(F.col(text_col).contains(needle))
            .select("doc_id", occ.alias("n_occurrences")))
