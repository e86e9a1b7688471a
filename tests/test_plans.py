"""Physical-plan shape assertions — the scale gate.

Correct results with a bad plan (full-width scans, missed pushdown,
shuffle-heavy joins) would still pass the value oracle but die at
100 TB; these tests pin the plan properties that matter there.
"""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from tablite_spark.plans import (
    broadcast_join_count, plan_report, pushed_filters, read_schemas,
    shuffle_count,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def qs():
    return entry_mod.queries()


def test_q1_filter_pushed_to_scan(spark, qs):
    df = qs["q1_pricing_summary"](spark, SF)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed and "LessThanOrEqual" in pushed


def test_q1_column_pruning(spark, qs):
    """lineitem has 16 columns; q1 must scan only the 6 it touches."""
    df = qs["q1_pricing_summary"](spark, SF)
    schemas = read_schemas(df)
    assert len(schemas) == 1
    n_cols = schemas[0].count(":")
    assert n_cols <= 6, f"scan reads {n_cols} columns: {schemas[0]}"


def test_q1_single_shuffle(spark, qs):
    """Partial (map-side) agg + one exchange + final agg — no more."""
    assert shuffle_count(qs["q1_pricing_summary"](spark, SF)) == 1


def test_q5_broadcasts_small_dims(spark, qs):
    """supplier/nation/region must broadcast, not shuffle."""
    assert broadcast_join_count(qs["q5_nation_revenue"](spark, SF)) >= 3


def test_filter_no_shuffle(spark, qs):
    """A pure filter+project is scan-only: zero exchanges."""
    r = plan_report(qs["filter_pass"](spark, SF))
    assert r["shuffles"] == 0
    assert r["pushed_filters"], "filter not pushed to parquet scan"


def test_topk_broadcasts_queries(spark, qs):
    """brute-force ANN: the small query set broadcasts; the corpus is
    scanned once and never shuffled pre-ranking."""
    assert broadcast_join_count(qs["embedding_topk"](spark, SF)) >= 1


def test_q6_all_predicates_pushed(spark, qs):
    """Q6: every predicate (date range, discount band, quantity) must
    reach the parquet scan as a PushedFilter."""
    pushed = " ".join(pushed_filters(qs["q6_forecast_revenue"](spark, SF)))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"


def test_q6_column_pruning(spark, qs):
    """Q6 touches 4 columns; the scan must not read more."""
    schemas = read_schemas(qs["q6_forecast_revenue"](spark, SF))
    assert len(schemas) == 1
    assert schemas[0].count(":") <= 4, f"scan reads: {schemas[0]}"


def test_q14_broadcasts_part_dim(spark, qs):
    """Q14: the part dim must broadcast — no shuffle of lineitem."""
    assert broadcast_join_count(qs["q14_promo_revenue"](spark, SF)) >= 1


def test_q18_aggregates_before_join(spark, qs):
    """Q18: the lineitem agg must run BEFORE the orders join, so only
    qualifying orderkeys enter the join (partial agg ahead of the
    first exchange in the lineitem branch)."""
    import re

    from tablite_spark.plans.audit import _formatted
    s = _formatted(qs["q18_large_orders"](spark, SF))
    assert "partial_sum" in s
    # plan node ids are assigned children-first: the lineitem aggregate
    # must have a smaller id than every join above it
    agg_ids = [int(m) for m in re.findall(r"HashAggregate \((\d+)\)", s)]
    join_ids = [int(m) for m in re.findall(r"Join \w+ \w+ \((\d+)\)", s)]
    assert agg_ids and join_ids
    assert min(agg_ids) < min(join_ids)


def test_plan_report_keys(spark, qs):
    r = plan_report(qs["q1_pricing_summary"](spark, SF))
    assert set(r) == {"pushed_filters", "read_schemas", "broadcast_joins",
                      "shuffles", "codegen_stages"}


def test_partial_aggregation_happens(spark, qs):
    """Map-side partial agg must precede the exchange (Spark's
    equivalent of the reference's single-pass accumulators)."""
    from tablite_spark.plans.audit import _formatted
    s = _formatted(qs["q1_pricing_summary"](spark, SF))
    assert "partial_sum" in s
    # the partial-agg node is described before the Exchange node
    assert s.index("partial_sum") < s.index("(5) Exchange")


def test_row_index_no_single_partition_exchange(spark, qs):
    """with_row_index (no order_by) must be true zipWithIndex — NO
    SinglePartition exchange, NO global window, and no shuffle join:
    the positional family (slice/reindex/unique_index/setitem) stays
    distributed at 100 TB. Since the r14 optimization round the
    per-partition offsets attach as a constant-folded literal-array
    lookup when <4096 partitions (zero join nodes); a wider frame
    falls back to the broadcast join — never a sort-merge join."""
    from tablite_spark.operators.sorting import slice_rows, with_row_index
    from tablite_spark.plans.audit import _formatted
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_quantity")
    for df in (with_row_index(li, "rid"), slice_rows(li, 2, 2000, 3)):
        s = _formatted(df)
        assert "Exchange SinglePartition" not in s, s
        assert "Window" not in s, s
        assert "SortMergeJoin" not in s, s
        # small frame: the literal-lookup path has no join at all
        assert "Join" not in s, s


def test_row_index_values(spark):
    """Index is 0..n-1 in on-disk order, across multiple partitions."""
    from tablite_spark.operators.sorting import with_row_index
    li = (spark.read.parquet(f"{SF}/lineitem.parquet")
          .select("l_orderkey", "l_linenumber").repartition(7))
    out = with_row_index(li, "rid")
    rows = out.select("rid").collect()
    assert sorted(r["rid"] for r in rows) == list(range(li.count()))


def test_partitioned_save_prunes_partitions(spark, tmp_path, qs):
    """A filter on the partition column must become a PartitionFilter
    (directory pruning at plan time), not a data filter."""
    from pyspark.sql import functions as F

    from tablite_spark.plans.audit import _formatted
    from tablite_spark.sources.io import load, save
    li = spark.read.parquet(f"{SF}/lineitem.parquet") \
        .select("l_orderkey", "l_quantity", "l_returnflag")
    path = str(tmp_path / "part_li")
    save(li, path, partition_by=["l_returnflag"])
    back = load(spark, path).filter(F.col("l_returnflag") == "R")
    s = _formatted(back)
    assert "PartitionFilters" in s
    assert "l_returnflag" in s.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert back.count() > 0


def test_indexed_slice_pushes_in_filter(spark, tmp_path):
    """slice_rows(index_col=...) must push the hit positions INTO the
    parquet scan (In filter → row-group/page pruning, O(hits) IO) and
    plan no Exchange at all."""
    from tablite_spark.operators.sorting import slice_rows, with_row_index
    from tablite_spark.plans.audit import _formatted
    path = str(tmp_path / "idx")
    with_row_index(spark.range(100_000).select(
        F.col("id").alias("x"))).write.parquet(path)
    back = spark.read.parquet(path)
    out = slice_rows(back, None, None, 10_000, index_col="__row_id__")
    s = _formatted(out)
    assert "In(__row_id__" in s.split("PushedFilters", 1)[1].split("]", 1)[0]
    assert shuffle_count(out) == 0
    assert out.count() == 10


def test_contamination_broadcasts_probe_postings(spark):
    """The probe-side postings must broadcast so the corpus postings
    never shuffle (join strategy, not SortMergeJoin)."""
    from tablite_spark.pipeline.text import contamination_check
    from tablite_spark.plans.audit import _formatted
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    probes = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("pid"), F.col("text").alias("ptext"))
    out = contamination_check(docs, probes, "text", "doc_id",
                              "ptext", "pid", n=8)
    s = _formatted(out)
    assert "BroadcastHashJoin" in s
    assert broadcast_join_count(out) >= 1


def test_mixture_sample_scan_only(spark):
    """mixture_sample's output plan is a scan + filter — the rate table
    folds into the predicate, no shuffle of the data."""
    from tablite_spark.pipeline.sampling import mixture_sample
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = mixture_sample(docs, "doc_id", "lang", {"en": 0.5, "de": 0.5})
    assert shuffle_count(out) == 0


def test_perplexity_broadcasts_model_no_sortmerge(spark):
    """perplexity_score's gram and prefix model joins must broadcast
    (the char-n-gram model is bounded by |alphabet|^n); a SortMergeJoin
    on the exploded gram stream would shuffle corpus-scale rows."""
    from tablite_spark.pipeline.text import perplexity_score
    from tablite_spark.plans.audit import _formatted
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = perplexity_score(docs, "text", id_col="doc_id")
    s = _formatted(out)
    assert broadcast_join_count(out) >= 2
    assert "SortMergeJoin" not in s


def test_line_dedup_no_window_no_payload_shuffle(spark):
    """line_dedup must plan zero Window nodes (the order-restoring
    rebuild is a combinable groupBy, not a running window) and its
    boilerplate census must aggregate partially (map-side combine on
    the 128-bit hash keys)."""
    from tablite_spark.pipeline.dedup import line_dedup
    from tablite_spark.plans.audit import _formatted
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = line_dedup(docs, "text", "doc_id")
    s = _formatted(out)
    assert "Window" not in s
    assert "partial_count(distinct" in s or "partial_count" in s


def test_semantic_dedup_cell_bounded_pairwise(spark):
    """semantic_dedup's pairwise stage must be the cell-grouped BLAS
    kernel (FlatMapGroupsInPandas after a groupBy-cell shuffle) —
    cluster-bounded fan-out, never a CartesianProduct /
    BroadcastNestedLoopJoin over the corpus."""
    from tablite_spark.pipeline.similarity import semantic_dedup
    from tablite_spark.plans.audit import _formatted
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = semantic_dedup(emb, "vec_id", "embedding", n_lists=4)
    s = _formatted(out)
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoop" not in s
    assert "FlatMapGroupsInPandas" in s


def test_quality_filters_scan_only(spark, qs):
    """Gopher rules and C4 cleaning are pure expression pipelines:
    zero exchanges, zero joins — one documents scan each."""
    for name in ("gopher_quality_docs", "c4_clean_docs"):
        r = plan_report(qs[name](spark, SF))
        assert r["shuffles"] == 0, (name, r)
        assert r["broadcast_joins"] == 0, (name, r)


def test_census_ops_never_broadcast_doc_keyed_sides(spark, qs):
    """The round-5 merge-hint hardening, CI-pinned: planning-time
    estimates ignore explode fan-out, so without explicit hints
    Catalyst can statically broadcast a doc_id-keyed side that
    scales with the corpus (reproduced OOM at 200k docs).
    gopher_repetition / dup-ngram coverage must plan ZERO broadcast
    joins; substring_dedup may broadcast only its doc-free
    shared-window census (bounded by content diversity), never more."""
    assert broadcast_join_count(
        qs["gopher_repetition_docs"](spark, SF)) == 0
    assert broadcast_join_count(
        qs["gopher_dup_ngrams_docs"](spark, SF)) == 0
    assert broadcast_join_count(
        qs["substring_dedup_docs"](spark, SF)) <= 1
    assert broadcast_join_count(qs["line_dedup_docs"](spark, SF)) <= 1


def test_pack_sequences_two_shuffles_no_window(spark, qs):
    """Concat-and-chunk packing must move the token stream exactly
    twice — the deterministic-bucket exchange feeding the
    PARTITIONED prefix-sum window, and the output groupBy on dense
    sequence ids — with NO SinglePartition exchange anywhere (the
    prefix sum is per-bucket with array-literal cumulative bases,
    never a global window task, and nothing is broadcast), and
    n_docs must come from the combinable boundary-count agg, not a
    countDistinct (which would plan a third full-token-volume
    exchange on (seq, doc))."""
    from tablite_spark.plans.audit import _formatted
    df = qs["pack_sequences_docs"](spark, SF)
    s = _formatted(df)
    assert "Exchange SinglePartition" not in s
    r = plan_report(df)
    assert r["shuffles"] == 2, r
    assert r["broadcast_joins"] == 0, r


def test_pretrain_e2e_stays_distributed(spark, qs):
    """The full filter->dedup->tokenize->pack composition must plan
    with NO SinglePartition exchange and no broadcast of any
    corpus-scaling side."""
    from tablite_spark.plans.audit import _formatted
    df = qs["pretrain_e2e_docs"](spark, SF)
    s = _formatted(df)
    assert "Exchange SinglePartition" not in s
    r = plan_report(df)
    assert r["broadcast_joins"] <= 1, r


def test_pretrain_filter_scan_only(spark, qs):
    """The default pretraining gate (gopher + repetition +
    dup_ngrams) is ONE zero-shuffle scan: every stage's passes
    column — including both arrow censuses — is narrow, so the
    composed filter plans no exchange and no join at any corpus
    size."""
    r = plan_report(qs["pretrain_filter_docs"](spark, SF))
    assert r["shuffles"] == 0, r
    assert r["broadcast_joins"] == 0, r
    assert len(r["read_schemas"]) == 1, r


def test_incremental_minhash_probe_shape(spark, tmp_path, qs):
    """The persisted-index probe must stay an equi-join pipeline:
    no cartesian/nested-loop pairing of batch x corpus, no
    SinglePartition funnel anywhere — the properties that keep a
    100 TB ingestion loop alive."""
    from tablite_spark.pipeline.dedup import (
        incremental_minhash_dedup, minhash_save_index, shingle_minhash,
    )
    from tablite_spark.plans.audit import _formatted
    corpus = spark.createDataFrame(
        [(i, " ".join(f"t{i * 100 + j}" for j in range(30)))
         for i in range(50)], "doc_id long, text string")
    idx = str(tmp_path / "idx")
    minhash_save_index(shingle_minhash(corpus, "text", "doc_id"),
                       "doc_id", idx)
    batch = spark.createDataFrame(
        [(1000 + i, " ".join(f"n{i * 100 + j}" for j in range(30)))
         for i in range(10)], "doc_id long, text string")
    out = incremental_minhash_dedup(batch, "text", "doc_id", idx)
    s = _formatted(out)
    assert "CartesianProduct" not in s, s[:1500]
    assert "BroadcastNestedLoopJoin" not in s, s[:1500]
    assert "Exchange SinglePartition" not in s, s[:1500]


def test_cluster_dedup_keep_best_no_window(spark):
    """Keep-best argmax must plan as a partial-aggregable
    max(struct) groupBy, NEVER a ranking window over document-keyed
    rows (a hot near-dup cluster would funnel into one task; the agg
    form reduces map-side)."""
    from tablite_spark.pipeline.dedup import cluster_dedup_keep_best
    from tablite_spark.plans.audit import _formatted
    df = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(100)], "doc_id long, q double")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 98, 2)], "id_a long, id_b long")
    out = cluster_dedup_keep_best(df, pairs, "doc_id", "q")
    s = _formatted(out)
    assert "Window" not in s, s[:1500]
    assert "Exchange SinglePartition" not in s, s[:1500]


def test_kmeans_assign_zero_shuffle(spark):
    """kmeans_assign is a pure expression — the centroids ride in as
    literals, so attaching the cell id to 100 TB of vectors must add
    ZERO exchanges (and the per-iteration update in kmeans_fit is a
    single partial-aggregable groupBy over it)."""
    from tablite_spark.pipeline.clustering import kmeans_assign
    from tablite_spark.plans.audit import _formatted
    df = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3)]) for i in range(50)],
        "vec_id long, embedding array<double>")
    out = kmeans_assign(df, "embedding", [[0, 0], [1 << 20, 1 << 20]])
    s = _formatted(out)
    assert "Exchange" not in s, s[:1500]


def test_preference_pairs_no_window_single_shuffle(spark):
    """Pair distillation must be ONE combinable groupBy on the prompt
    key — never a ranking window (a hot prompt with millions of
    sampled responses would funnel into one task) and never a second
    exchange to join texts back."""
    from tablite_spark.pipeline.preference import build_preference_pairs
    from tablite_spark.plans.audit import _formatted
    df = spark.createDataFrame(
        [(i % 5, i, f"t{i}", float(i % 3)) for i in range(50)],
        "prompt_id long, doc_id long, text string, score double")
    out = build_preference_pairs(df, "prompt_id", "doc_id", "text",
                                 "score", margin=1.0)
    s = _formatted(out)
    assert "Window" not in s, s[:1500]
    assert shuffle_count(out) == 1, s[:1500]


def test_rrf_fuse_salted_topk_no_funnel(spark):
    """Fusion must keep the salted two-phase top-k: no
    SinglePartition exchange, and the (qid, doc_id) groupBy stays
    partial-aggregable so a probe matching the whole corpus never
    funnels one query's candidates into one task before phase 1."""
    from tablite_spark.pipeline.retrieval import rrf_fuse
    from tablite_spark.plans.audit import _formatted
    a = spark.createDataFrame(
        [(i % 3, i, 1 + i % 20) for i in range(60)],
        "qid long, doc_id long, rank int")
    b = spark.createDataFrame(
        [(i % 3, i + 1, 1 + i % 20) for i in range(60)],
        "qid long, doc_id long, rank int")
    out = rrf_fuse([a, b], k=5)
    s = _formatted(out)
    assert "Exchange SinglePartition" not in s, s[:1500]
    assert "partial" in s.lower(), s[:1500]


def test_snapshot_diff_payload_free_join(spark):
    """Both snapshots project to (id, md5) BEFORE the full-outer
    join — the exchanged rows must not carry the text payload."""
    from tablite_spark.pipeline.dedup import snapshot_diff
    from tablite_spark.plans.audit import _formatted
    old = spark.createDataFrame(
        [(i, "x" * 100) for i in range(50)], "doc_id long, text string")
    new = spark.createDataFrame(
        [(i + 1, "y" * 100) for i in range(50)], "doc_id long, text string")
    s = _formatted(snapshot_diff(old, new, "doc_id", "text"))
    assert "Exchange SinglePartition" not in s
    ex_blocks = [b for b in s.split("\n\n")
                 if b.startswith("(") and "Exchange" in b.splitlines()[0]]
    assert ex_blocks, s[:800]
    for b in ex_blocks:
        input_line = next(l for l in b.splitlines()
                          if l.startswith("Input"))
        assert "text#" not in input_line, b
        assert "_h__" in input_line, b


def test_winnow_matches_no_broadcast(spark):
    """Every join side in the winnowing match stage scales with the
    corpus (fingerprints are ~2/(w+1) of all grams) — planning-time
    stats don't see explode fan-out, and an unhinted plan statically
    broadcast the 70M-row fingerprint side at a 5M-doc burn-in and
    OOMed. Both joins must stay sort-merge."""
    from tablite_spark.pipeline.dedup import winnow_matches
    df = spark.createDataFrame([(1, "abcdefgh " * 4), (2, "x")],
                               "doc_id long, text string")
    m = winnow_matches(df, "text", "doc_id", k=5, window=4)
    assert broadcast_join_count(m) == 0
    plan = m._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan


def test_no_undocumented_sliding_window_frames():
    """Engine-wide audit gate (the r10 rolling_agg lesson): Spark
    rebuilds a SLIDING frame's aggregate buffer per row (no
    retraction), so any bounded-preceding frame is O(rows x frame)
    per key. Running frames (unboundedPreceding -> currentRow) are
    incremental and fine. The ONLY sliding frame allowed in the
    package is rolling_agg's documented narrow-frames-only
    engine='window' opt-in."""
    import pathlib
    import re
    pkg = pathlib.Path(__file__).resolve().parents[1] / "tablite_spark"
    offenders = []
    for p in sorted(pkg.rglob("*.py")):
        src = p.read_text()
        for m in re.finditer(r"\.(rowsBetween|rangeBetween)\(", src):
            # frame spec = everything to the matching close paren
            tail = src[m.end():src.index(")", m.end())]
            start = tail.split(",")[0].strip()
            ok_running = start in ("Window.unboundedPreceding",
                                   "W.unboundedPreceding")
            if not ok_running:
                offenders.append(
                    f"{p.relative_to(pkg).as_posix()} {start}")
    # the allowed sliding frames: rolling_agg's documented
    # engine='window' opt-in, and bollinger_events' trailing-24
    # frame — which slides over the (type, hour) CENSUS (bounded at
    # |types| x |hours| rows, never the event stream), so the
    # O(rows x frame) rebuild cost is 24 x census, a constant
    # (matched by file+expression, not line number — additions
    # above them kept moving the line)
    assert offenders == ["operators/timeseries.py -span_us",
                         "registry/stats.py -23"], offenders


def test_markov_transitions_shuffle_shape(spark):
    """One hash(key) corpus shuffle for the lead() window; the
    groupBy and the normalizing window run over the bounded
    |states|^2 frame. No global sort, no join of any kind."""
    import datetime as dt

    from tablite_spark.operators.timeseries import markov_transitions
    rows = [(i % 7, f"s{i % 3}",
             dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i), i)
            for i in range(200)]
    df = spark.createDataFrame(
        rows, "u long, s string, ts timestamp, eid long")
    out = markov_transitions(df, "u", "s", "ts", tiebreak="eid")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Cartesian" not in plan
    assert shuffle_count(out) <= 3     # window + agg + tiny window


def test_attribution_single_corpus_shuffle(spark):
    """The last-touch carry is ONE hash(key) window shuffle (running
    frame, O(1)-incremental) + a bounded-channel agg — never an
    as-of self-join (no Join node at all)."""
    import datetime as dt

    from tablite_spark.operators.timeseries import attribute_conversions
    rows = [(i % 5, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i),
             ["view", "click", "purchase"][i % 3], 1.0, i)
            for i in range(300)]
    df = spark.createDataFrame(
        rows, "u long, ts timestamp, t string, v double, eid long")
    out = attribute_conversions(df, "u", "ts", "t", "v", "purchase",
                                ["view", "click"], tiebreak="eid")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Cartesian" not in plan
    assert shuffle_count(out) <= 2


def test_cross_correlation_one_window_one_agg(spark):
    """All max_lag+1 lag() columns must evaluate inside ONE Window
    operator (a per-lag select chain would stack operators), and the
    co-moment reduction is one aggregate — a single corpus shuffle
    for the window plus the agg's exchange."""
    import datetime as dt

    from tablite_spark.operators.timeseries import cross_correlation
    rows = [(i % 5, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i),
             float(i % 11), i) for i in range(300)]
    df = spark.createDataFrame(
        rows, "u long, ts timestamp, v double, eid long")
    out = cross_correlation(df, "u", "ts", "v", "v", max_lag=6,
                            tiebreak="eid")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 1, plan[:1500]
    assert "Join" not in plan
    assert shuffle_count(out) <= 2


def test_heavy_hitters_pass2_broadcasts_candidates(spark):
    """Pass 2 must broadcast the (bounded-by-construction) candidate
    set — the exact groupBy shuffles only candidate rows, never the
    full domain."""
    from tablite_spark.operators.frequency import heavy_hitters
    df = spark.createDataFrame([(f"t{i % 37}",) for i in range(3000)],
                               "tok string")
    out = heavy_hitters(df, "tok", phi=0.02)
    assert broadcast_join_count(out) == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan


def test_target_encode_no_corpus_window(spark):
    """Every Window in the plan must run over the bounded
    (cat, fold) summary, never over data rows: the row-side plan
    contributes only the summary join (no Window above the row
    scan). Heuristic gate: the plan has Window operators and each
    sits above the summary aggregate (HashAggregate), plus the join
    is present."""
    from tablite_spark.pipeline.features import target_encode
    df = spark.createDataFrame(
        [(i, f"c{i % 9}", float(i % 13)) for i in range(500)],
        "id long, cat string, t double")
    out = target_encode(df, "cat", "t", "id", folds=4)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the tree prints top-down: a Window ABOVE the row-side Join
    # would mean a corpus-window plan; here every Window must sit
    # INSIDE the summary branch (printed after the Join header and
    # above its Aggregate child)
    idx_join = plan.find("Join")
    idx_win = plan.find("Window")
    idx_agg = plan.find("Aggregate")
    assert idx_join != -1 and idx_win != -1 and idx_agg != -1
    assert idx_join < idx_win < idx_agg, plan[:1500]
    ex = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in ex


def test_q8_selective_dim_pushdown_and_broadcasts(spark, qs):
    """Q8: the p_type filter must reach the part scan (selective-dim
    pushdown) and every dimension joins as a broadcast — the
    fact-table chain carries no dim shuffle."""
    out = qs["q8_market_share"](spark, SF)
    pushed = " ".join(pushed_filters(out))
    assert "p_type" in pushed, pushed
    assert broadcast_join_count(out) >= 5
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_q10_sort_over_summary_only(spark, qs):
    """Q10's top-20 sort must run over the |customers|-bounded
    aggregate (TakeOrderedAndProject above the agg), never over
    line items."""
    out = qs["q10_returned_items"](spark, SF)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:1200]
    assert broadcast_join_count(out) >= 2


def test_q2_no_correlated_subquery_no_cartesian(spark, qs):
    """Q2's correlated min must compile to aggregate + equi join
    back (never a per-row subquery or nested loop); part/supplier
    dims broadcast and the p_type filter reaches the part scan."""
    out = qs["q2_min_cost_supplier"](spark, SF)
    pushed = " ".join(pushed_filters(out))
    assert "p_type" in pushed or "p_size" in pushed, pushed
    assert broadcast_join_count(out) >= 3
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q9_dims_broadcast_filter_pushed(spark, qs):
    """Q9: the 'red' name filter prunes part BEFORE its broadcast
    join; supplier and nation broadcast too — the lineitem chain
    shuffles only for the final groupBy."""
    out = qs["q9_product_profit"](spark, SF)
    pushed = " ".join(pushed_filters(out))
    assert "p_name" in pushed, pushed
    assert broadcast_join_count(out) >= 3
    # one shuffle: the nation×year aggregate
    assert shuffle_count(out) <= 2


def test_q11_single_scan_reused_for_threshold(spark, qs):
    """Q11's global threshold must reuse the per-part value
    aggregate's exchange (ReusedExchange under AQE), never a second
    lineitem scan; the 1-row threshold joins as broadcast."""
    out = qs["q11_important_parts"](spark, SF)
    out.collect()
    # under AQE the reuse decision lands in the FINAL adaptive plan
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_q16_anti_join_broadcast_distinct_agg(spark, qs):
    """Q16: the excluded-supplier anti join must broadcast
    (|suppliers| rows) and the size/brand/type filters reach the
    part scan."""
    out = qs["q16_supplier_part_counts"](spark, SF)
    pushed = " ".join(pushed_filters(out))
    assert "p_size" in pushed, pushed
    ex = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in ex and "LeftAnti" in ex, ex[:1500]


def test_q17_avg_join_back_broadcast(spark, qs):
    """Q17's correlated 0.2*avg becomes a |parts|-row broadcast join
    back over the already-filtered lineitems — never a per-row
    subquery, never a second full lineitem scan without the part
    prune."""
    out = qs["q17_small_qty_revenue"](spark, SF)
    assert broadcast_join_count(out) >= 2
    ex = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in ex


def test_q21_one_lineitem_pass_no_self_join(spark, qs):
    """Q21's EXISTS/NOT-EXISTS pair must be the per-order aggregate
    reformulation: exactly ONE lineitem scan (never the classic
    triple self-join) and no cartesian."""
    out = qs["q21_waiting_suppliers"](spark, SF)
    ex = out._jdf.queryExecution().executedPlan().toString()
    assert ex.count("Scan parquet") <= 3, ex[:1500]  # li + orders + supplier
    assert "CartesianProduct" not in ex


def test_q22_anti_join_not_forced_broadcast(spark, qs):
    """Q22: the recent-buyer anti join must remain a plain join the
    optimizer sizes (shuffle at 100 TB, AQE-broadcast at small SF) —
    the plan must NOT carry a user-forced broadcast hint on the
    corpus-sized side; the 1-row avg IS broadcast."""
    out = qs["q22_dormant_customers"](spark, SF)
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    ex = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in ex, ex[:1200]
    assert "CartesianProduct" not in ex
