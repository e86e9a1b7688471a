"""Pipeline operators: dedup (exact / minhash / simhash / jaccard),
similarity search, text analysis, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from tablite_spark.pipeline.dedup import (
    content_hash_dedup, exact_dedup, minhash_dedup, minhash_jaccard,
    minhash_lsh_candidates, ngram_jaccard, shingle_minhash, simhash,
)
from tablite_spark.pipeline.similarity import (
    brute_force_topk, embedding_near_dup_pairs, lsh_topk,
)
from tablite_spark.pipeline.text import (
    fingerprint, language_id, quality_scores, text_statistics, token_count,
)

DOC = ("the quick brown fox jumps over the lazy dog and then runs far "
       "away into the deep green forest to hide from the angry farmer")
DOC_NEAR = DOC.replace("angry", "upset")  # one token differs
DOC_OTHER = ("completely different text about database engines and "
             "distributed query processing with columnar storage layers "
             "plus adaptive execution and shuffle services in clusters")


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [(0, DOC), (1, DOC), (2, DOC_NEAR), (3, DOC_OTHER)],
        "doc_id long, text string")


def test_exact_dedup(docs):
    out = exact_dedup(docs, ["text"], id_col="doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == [0, 2, 3]


def test_content_hash_dedup(docs):
    out = content_hash_dedup(docs, "text", "doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == [0, 2, 3]


def test_minhash_signature_shape(docs):
    sig = shingle_minhash(docs, "text", "doc_id", num_perm=32, shingle_size=3)
    rows = sig.collect()
    assert len(rows) == 4
    assert all(len(r["minhash"]) == 32 for r in rows)
    by_id = {r["doc_id"]: r["minhash"] for r in rows}
    assert by_id[0] == by_id[1]  # identical docs → identical signatures


def test_minhash_near_dup_detection(spark, docs):
    sig = shingle_minhash(docs, "text", "doc_id", num_perm=32, shingle_size=3)
    from tablite_spark.config import Config
    pairs = minhash_lsh_candidates(sig, "doc_id", bands=16)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got  # exact dup always a candidate
    scored = minhash_jaccard(sig, pairs, "doc_id").collect()
    est = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in scored}
    assert est[(0, 1)] == 1.0


def test_minhash_dedup_end_to_end(docs):
    out = minhash_dedup(docs, "text", "doc_id", threshold=0.95)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert 0 in ids and 1 not in ids and 3 in ids


def test_simhash_identical_and_different(docs):
    out = {r["doc_id"]: r["simhash"] for r in simhash(docs, "text", "doc_id").collect()}
    assert out[0] == out[1]
    assert out[0] != out[3]


def test_ngram_jaccard(docs):
    out = ngram_jaccard(docs, docs, "text", "doc_id", n=3)
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert j[(0, 1)] == 1.0
    assert j[(0, 2)] > 0.5  # near dup
    assert j[(0, 3)] < 0.1


def test_brute_force_topk(spark):
    vecs = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [1.0, 0.05])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = brute_force_topk(df, df.filter(F.col("vec_id") == 0), k=2,
                           id_col="vec_id", vec_col="embedding")
    rows = sorted(out.collect(), key=lambda r: r["rn"])
    assert [r["nid"] for r in rows] == [3, 1]


def test_batched_topk_matches_brute(spark):
    """The BLAS-batched exact path must reproduce brute_force_topk
    row-for-row (ranks AND rounded cosines) on real-shaped data,
    including across query-block tiling boundaries."""
    import random

    from tablite_spark.pipeline.similarity import (
        _batched_candidates, _topk_per_qid, batched_topk,
    )
    rnd = random.Random(11)
    vecs = [(i, [rnd.gauss(0, 1) for _ in range(8)]) for i in range(200)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 7)
    key = lambda rows: sorted((r["qid"], r["rn"], r["nid"], r["cos"])
                              for r in rows)
    exact = key(brute_force_topk(df, q, k=5, id_col="vec_id",
                                 vec_col="embedding").collect())
    fast = key(batched_topk(df, q, k=5, id_col="vec_id",
                            vec_col="embedding").collect())
    assert fast == exact
    # query_block smaller than the query count: tiling must not change
    # anything
    tiled = key(_topk_per_qid(
        _batched_candidates(df, q, 5, "vec_id", "embedding",
                            query_block=3), 5).collect())
    assert tiled == exact


def test_batched_topk_boundary_ties(spark):
    """Duplicate corpus vectors tie exactly at the top-k boundary; the
    per-batch candidate cut must keep ALL boundary ties so the final
    (cos desc, nid asc) rank is exact."""
    from tablite_spark.pipeline.similarity import batched_topk
    rows = [(0, [1.0, 0.0])] + [(i, [0.6, 0.8]) for i in range(1, 6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = batched_topk(df, df.filter(F.col("vec_id") == 0), k=2,
                       id_col="vec_id", vec_col="embedding").collect()
    assert [(r["nid"], r["rn"]) for r in
            sorted(out, key=lambda r: r["rn"])] == [(1, 1), (2, 2)]


def test_hard_negatives_batched_matches_catalyst(spark):
    """batched=True must reproduce the catalyst path exactly,
    label-exclusion (null-safe) and explicit exclude pairs included."""
    import random

    from tablite_spark.pipeline.similarity import hard_negatives
    rnd = random.Random(13)
    rows = [(i, [rnd.gauss(0, 1) for _ in range(8)],
             rnd.choice(["a", "b", None])) for i in range(120)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string")
    probes = emb.filter(F.col("vec_id") < 6)
    excl = spark.createDataFrame(
        [(0, 17), (0, 23), (3, 42)], "qid long, nid long")
    kw = dict(id_col="vec_id", vec_col="embedding", label_col="label",
              exclude=excl)
    key = lambda rows: sorted(
        (r["qid"], r["rn"], r["nid"], r["cos"], r["nlabel"]) for r in rows)
    ref = key(hard_negatives(emb, probes, k=4, **kw).collect())
    fast = key(hard_negatives(emb, probes, k=4, batched=True,
                              **kw).collect())
    assert fast == ref and len(ref) > 0


def test_lsh_topk_recall(spark):
    import random
    rnd = random.Random(7)
    vecs = [(i, [rnd.gauss(0, 1) for _ in range(16)]) for i in range(50)]
    # plant a near-dup of vec 0
    vecs.append((99, [v + 0.01 for v in vecs[0][1]]))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") == 0)
    out = lsh_topk(df, q, k=3, dim=16, id_col="vec_id", vec_col="embedding",
                   bits=12, bands=4)
    got = [r["nid"] for r in out.collect()]
    assert 99 in got  # near-identical vector lands in the same band


@pytest.mark.slow
def test_embedding_near_dup_pairs(spark):
    vecs = [(0, [1.0, 0.0]), (1, [1.0, 0.001]), (2, [0.0, 1.0])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = embedding_near_dup_pairs(df, "vec_id", "embedding", threshold=0.99)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert pairs == {(0, 1)}


def test_text_statistics(docs):
    out = text_statistics(docs, "text").collect()
    r0 = [r for r in out if r["doc_id"] == 0][0]
    assert r0["n_tokens"] == len(DOC.split())
    assert r0["n_chars_computed"] == len(DOC)


def test_token_count_modes(spark):
    df = spark.createDataFrame([("hello, world! 42",)], "text string")
    ws = token_count(df, "text", "whitespace").collect()[0]["n_tokens"]
    bp = token_count(df, "text", "bpe_ish").collect()[0]["n_tokens"]
    assert ws == 3
    assert bp == 5  # hello , world ! 42


def test_fingerprint_stable(docs):
    out = fingerprint(docs, "text")
    fps = {r["doc_id"]: r["fp"] for r in out.collect()}
    assert fps[0] == fps[1]
    assert fps[0] != fps[3]


def test_quality_and_langid(docs):
    q = quality_scores(docs, "text").collect()
    assert all(0 <= r["quality"] <= 1 for r in q)
    lang = language_id(docs, "text").collect()
    by_id = {r["doc_id"]: r["lang_pred"] for r in lang}
    assert by_id[0] == "en"  # 'the' markers


def test_multimodal_decode_plumbing(spark):
    from tablite_spark.pipeline.multimodal import (
        attach_media, decode_images, extract_image_features,
    )
    df = spark.createDataFrame(
        [(1, bytearray(b"fakepngbytes")), (2, None)], "id int, raw binary")
    media = attach_media(df, "raw", "image/png").drop("raw")
    decoded = decode_images(media)
    rows = {r["id"]: (r["width"], r["height"]) for r in decoded.collect()}
    assert rows[1][0] > 0
    feats = extract_image_features(media, dim=4).collect()
    by_id = {r["id"]: r["features"] for r in feats}
    assert len(by_id[1]) == 4
    assert abs(sum(by_id[1]) - 1.0) < 1e-6


def test_ivf_topk_recall(spark):
    """IVF ANN: results are valid neighbors and recall@5 vs brute force
    is reasonable on clustered data."""
    from tablite_spark.pipeline.similarity import brute_force_topk, ivf_topk
    from tablite_spark.session import read_table
    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, q, 5, id_col="vec_id", vec_col="embedding")
    approx = ivf_topk(emb, q, 5, id_col="vec_id", vec_col="embedding",
                      n_lists=8, n_probe=4)
    e = {(r["qid"], r["nid"]) for r in exact.collect()}
    a = {(r["qid"], r["nid"]) for r in approx.collect()}
    assert len(a) == 25  # 5 queries x k=5
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"recall {recall}"


def test_blocked_near_dup_matches_expression_path(spark):
    """Block-BLAS all-pairs cosine == per-pair expression version."""
    from tablite_spark.pipeline.similarity import (
        embedding_near_dup_blocked, embedding_near_dup_pairs,
    )
    from tablite_spark.session import read_table
    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    expr = {(r["id_a"], r["id_b"]) for r in
            embedding_near_dup_pairs(emb, "vec_id", "embedding", 0.35).collect()}
    blocked = {(r["id_a"], r["id_b"]) for r in
               embedding_near_dup_blocked(emb, "vec_id", "embedding", 0.35).collect()}
    assert expr == blocked and len(expr) > 0


def test_simhash_near_dup_pairs(spark):
    """Pigeonhole banding must find exactly the pairs within the
    hamming radius — verified against brute force."""
    from itertools import combinations

    from tablite_spark.pipeline.dedup import simhash_near_dup_pairs
    sigs = [(1, 0b1111000011110000), (2, 0b1111000011110001),  # d=1
            (3, 0b1111000011111111), (4, 0b0000111100001111),
            (5, 0b1111000011110011)]                            # d(2,5)=1
    df = spark.createDataFrame([(i, s) for i, s in sigs],
                               "id bigint, simhash long")
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_near_dup_pairs(df, "id", max_hamming=3).collect()}
    expect = {}
    for (ia, sa), (ib, sb) in combinations(sigs, 2):
        d = bin(sa ^ sb).count("1")
        if d <= 3:
            expect[(ia, ib)] = d
    assert got == expect
    assert (1, 2) in got and got[(1, 2)] == 1


def test_deterministic_sample_stability(spark):
    """Same rows in, same rows out — independent of partitioning; salt
    draws an independent subset; splits are disjoint and exhaustive."""
    from tablite_spark.pipeline.sampling import (
        deterministic_sample, train_holdout_split,
    )
    df = spark.range(2000).withColumnRenamed("id", "k")
    a = {r["k"] for r in deterministic_sample(df, "k", 0.2).collect()}
    b = {r["k"] for r in
         deterministic_sample(df.repartition(7), "k", 0.2).collect()}
    assert a == b                       # partitioning-independent
    assert 0.1 < len(a) / 2000 < 0.3    # ~fraction
    c = {r["k"] for r in deterministic_sample(df, "k", 0.2, salt="s2").collect()}
    assert c != a                       # independent draw
    train, hold = train_holdout_split(df, "k", 0.25)
    tr = {r["k"] for r in train.collect()}
    ho = {r["k"] for r in hold.collect()}
    assert tr.isdisjoint(ho) and len(tr) + len(ho) == 2000
    # membership is append-consistent: a row keeps its split in a
    # bigger corpus
    train2, _ = train_holdout_split(df.limit(500), "k", 0.25)
    assert {r["k"] for r in train2.collect()} <= tr


def test_stratified_deterministic_sample(spark):
    from tablite_spark.pipeline.sampling import (
        stratified_deterministic_sample,
    )
    rows = [(i, "a" if i % 2 == 0 else "b") for i in range(1000)]
    df = spark.createDataFrame(rows, "k long, g string")
    out = stratified_deterministic_sample(df, "k", "g", {"a": 0.5},
                                          default=0.0)
    got = out.groupBy("g").count().collect()
    d = {r["g"]: r["count"] for r in got}
    assert "b" not in d
    assert 150 < d["a"] < 350


def test_redact_pii(spark):
    from tablite_spark.pipeline.text import redact_pii
    df = spark.createDataFrame(
        [(1, "mail me at bob.smith+x@foo.co.uk or visit https://a.b/c?d=1 "
             "or call +1 555-123 4567 now")],
        "id int, text string")
    out = redact_pii(df, "text").first()["text"]
    assert "[EMAIL]" in out and "[URL]" in out and "[PHONE]" in out
    assert "bob" not in out and "a.b" not in out and "555" not in out


def test_repetition_metrics(spark):
    from tablite_spark.pipeline.text import repetition_metrics
    df = spark.createDataFrame(
        [(1, "spam spam spam spam"), (2, "all tokens here are unique")],
        "id int, text string")
    got = {r["id"]: (r["dup_token_frac"], r["dup_ngram_frac"])
           for r in repetition_metrics(df, "text", n=2).collect()}
    assert got[1] == (0.75, 2 / 3)  # 4 tokens 1 uniq; 3 bigrams 1 uniq
    assert got[2] == (0.0, 0.0)


def test_top_k_ngrams(spark):
    from tablite_spark.pipeline.text import top_k_ngrams
    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b a b")], "id int, text string")
    uni = top_k_ngrams(df, "text", n=1, k=2).collect()
    assert [(r["ngram"], r["cnt"]) for r in uni] == [("a", 3), ("b", 3)]
    bi = top_k_ngrams(df, "text", n=2, k=1).first()
    assert bi["ngram"] in ("a b", "b a") and bi["cnt"] == 2


def test_weighted_sample_properties(spark):
    from tablite_spark.pipeline.sampling import weighted_deterministic_sample
    df = spark.createDataFrame(
        [(i, 1.0 if i % 2 else 3.0) for i in range(2000)], "k long, w double")
    out = weighted_deterministic_sample(df, "k", "w", 0.25, salt="t")
    rows = out.collect()
    # expected keep fraction ~0.25 overall
    assert 0.18 < len(rows) / 2000 < 0.32
    # heavy rows (w=3) kept ~3x as often as light rows (w=1)
    heavy = sum(1 for r in rows if r["w"] == 3.0)
    light = len(rows) - heavy
    assert heavy > 2 * light
    # deterministic: same call → identical subset
    again = {r["k"] for r in
             weighted_deterministic_sample(df, "k", "w", 0.25, salt="t").collect()}
    assert again == {r["k"] for r in rows}


def test_weighted_sample_pinned_mean_append_stable(spark):
    """With mean_weight pinned, membership is invariant under append;
    without it, the recomputed mean may flip earlier rows."""
    from tablite_spark.pipeline.sampling import weighted_deterministic_sample
    base = spark.createDataFrame(
        [(i, 1.0 if i % 2 else 3.0) for i in range(1000)], "k long, w double")
    extra = spark.createDataFrame(
        [(i, 50.0) for i in range(1000, 1200)], "k long, w double")
    pinned = 2.0  # frozen corpus mean at dataset creation
    before = {r["k"] for r in weighted_deterministic_sample(
        base, "k", "w", 0.25, salt="t", mean_weight=pinned).collect()}
    after = {r["k"] for r in weighted_deterministic_sample(
        base.union(extra), "k", "w", 0.25, salt="t",
        mean_weight=pinned).collect()}
    assert before == {k for k in after if k < 1000}


def test_quota_cap_determinism_and_bound(spark):
    from tablite_spark.pipeline.sampling import quota_cap
    df = spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(300)], "k long, g string")
    out = quota_cap(df, "k", "g", 10)
    rows = out.collect()
    per_group: dict = {}
    for r in rows:
        per_group.setdefault(r["g"], set()).add(r["k"])
    assert all(len(v) == 10 for v in per_group.values())
    # rerun on a different partitioning → identical survivors
    again = {(r["g"], r["k"]) for r in
             quota_cap(df.repartition(7), "k", "g", 10).collect()}
    assert again == {(r["g"], r["k"]) for r in rows}
    # groups under quota survive whole
    small = spark.createDataFrame([(1, "x"), (2, "x")], "k long, g string")
    assert quota_cap(small, "k", "g", 10).count() == 2
    import pytest as _pytest
    with _pytest.raises(ValueError, match="quota"):
        quota_cap(df, "k", "g", 0)


def test_mixture_sample_shares(spark):
    from tablite_spark.pipeline.sampling import mixture_sample
    rows = [(i, "a" if i % 4 else "b") for i in range(4000)]  # 3000 a / 1000 b
    df = spark.createDataFrame(rows, "k long, g string")
    # target 50/50: b (1000) is the binding group -> N=2000, keep all b,
    # keep-rate 1/3 for a
    out = mixture_sample(df, "k", "g", {"a": 0.5, "b": 0.5})
    by_g = {r["g"]: r["n"] for r in
            out.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_g["b"] == 1000
    assert 800 < by_g["a"] < 1200  # hash-sampled at ~1/3 of 3000
    # unlisted groups are dropped
    assert mixture_sample(df, "k", "g", {"a": 1.0}).filter(
        F.col("g") == "b").count() == 0
    # deterministic: identical subset on rerun over any partitioning
    again = {r["k"] for r in
             mixture_sample(df.repartition(7), "k", "g",
                            {"a": 0.5, "b": 0.5}).collect()}
    assert again == {r["k"] for r in out.collect()}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        mixture_sample(df, "k", "g", {})


def test_token_budget_cap_semantics(spark):
    from pyspark.sql import functions as SF

    from tablite_spark.pipeline.sampling import token_budget_cap
    df = spark.createDataFrame(
        [(i, "g", 10) for i in range(100)], "k long, g string, tok int")
    out = token_budget_cap(df, "k", "g", "tok", 55)
    # 10-token rows, budget 55 -> exactly 5 rows fit
    assert out.count() == 5
    # deterministic under repartition
    again = {r["k"] for r in
             token_budget_cap(df.repartition(9), "k", "g", "tok", 55).collect()}
    assert again == {r["k"] for r in out.collect()}
    # strict prefix truncation: the first over-budget row is dropped
    # whole, and nothing after it survives (cumsum is monotone)
    from tablite_spark.pipeline.sampling import _unit_hash
    probe = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    hash_order = [r["k"] for r in
                  probe.orderBy(_unit_hash(SF.col("k").cast("string")))
                  .collect()]
    remap = dict(zip(hash_order, (4, 100, 5)))
    crafted = spark.createDataFrame(
        [(k, "g", v) for k, v in remap.items()], "k long, g string, tok int")
    kept = {r["k"] for r in
            token_budget_cap(crafted, "k", "g", "tok", 9).collect()}
    assert kept == {hash_order[0]}  # 4 fits; 100 busts; 5 is past the cut


def test_token_budget_cap_two_phase_plan(spark):
    """The prefix-sum must run as TWO windows — phase 1 partitioned by
    (group, input-partition) so a hot group never serializes through a
    single task — and still produce the exact single-window answer."""
    from tablite_spark.pipeline.sampling import token_budget_cap
    df = spark.createDataFrame(
        [(i, "hot" if i < 900 else f"g{i % 7}", 3) for i in range(1000)],
        "k long, g string, tok int")
    out = token_budget_cap(df, "k", "g", "tok", 60)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__tbsalt__" in plan  # balanced phase-1 window present
    # exact: 3-token rows, budget 60 -> 20 rows per group
    counts = {r["g"]: r["n"] for r in
              out.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts["hot"] == 20
    # identical under any input partitioning
    again = {(r["g"], r["k"]) for r in
             token_budget_cap(df.repartition(13), "k", "g", "tok", 60)
             .collect()}
    assert again == {(r["g"], r["k"]) for r in out.collect()}


def test_cap_duplicate_keys_deterministic(spark):
    """Duplicate (group, key) pairs: survivorship must not depend on
    partition order — the full-row hash tie-break orders payload-
    distinct duplicates deterministically, and fully identical rows
    are interchangeable."""
    from tablite_spark.pipeline.sampling import quota_cap, token_budget_cap
    rows = [(i % 20, "g", f"payload{i}") for i in range(200)]  # 10× dup keys
    df = spark.createDataFrame(rows, "k long, g string, p string")
    a = sorted((r["k"], r["p"]) for r in quota_cap(df, "k", "g", 7).collect())
    b = sorted((r["k"], r["p"]) for r in
               quota_cap(df.repartition(11), "k", "g", 7).collect())
    assert a == b and len(a) == 7
    dft = df.withColumn("tok", F.lit(5))
    ta = sorted((r["k"], r["p"]) for r in
                token_budget_cap(dft, "k", "g", "tok", 33).collect())
    tb = sorted((r["k"], r["p"]) for r in
                token_budget_cap(dft.repartition(11), "k", "g", "tok", 33)
                .collect())
    assert ta == tb and len(ta) == 6  # 5-token rows, budget 33 -> 6 rows


def test_near_dup_pairs_guard(spark):
    import pytest

    from tablite_spark.pipeline.similarity import (
        _NEAR_DUP_CROSSJOIN_MAX_ROWS, embedding_near_dup_pairs,
    )
    big = spark.range(_NEAR_DUP_CROSSJOIN_MAX_ROWS + 1).select(
        F.col("id").alias("doc_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("emb"))
    with pytest.raises(ValueError, match="cross-join"):
        embedding_near_dup_pairs(big, "doc_id", "emb")
    # with a partition column the same size is fine (lazy, no count)
    blocked = embedding_near_dup_pairs(
        big.withColumn("b", F.col("doc_id") % 1000), "doc_id", "emb",
        partition_col="b")
    assert "id_a" in blocked.columns


@pytest.mark.slow
def test_minhash_minwise_independence_at_scale(spark):
    """Regression gate for the permutation-field bug: with a modulus
    far larger than the folded-hash domain, h_i(x) = a*x+b barely
    wraps, every permutation's min collapses onto the smallest folded
    hash, and token-disjoint docs that share one small element read as
    near-dups (260 false pairs / 200k docs before the fix). Post-fix
    (M = 2^31-1 matching the fold domain) a 60k-doc corpus with 5%
    planted exact dups must dedup EXACTLY the planted ones."""
    from tablite_spark.pipeline.dedup import minhash_dedup
    n_docs = 60_000
    base = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    src = F.when((F.col("doc_id") % 20 == 0) & (F.col("doc_id") > 0),
                 F.col("doc_id") - 1).otherwise(F.col("doc_id"))
    text = F.concat_ws(" ", F.transform(
        F.sequence(F.lit(1), F.lit(60)),
        lambda j: F.concat(F.lit("t"), (src * 1000 + j).cast("string"))))
    corpus = base.select("doc_id", text.alias("text"))
    survivors = minhash_dedup(corpus, "text", "doc_id", threshold=0.5).count()
    planted = (n_docs - 1) // 20
    assert survivors == n_docs - planted


def test_canonicalize_urls(spark):
    from tablite_spark.pipeline.text import canonicalize_urls
    cases = [
        (1, "HTTPS://Ex.COM:443/A/b/?utm_source=x&id=7&fbclid=z#f",
            "https://ex.com/A/b/?id=7"),
        (2, "http://EX.com:80/",            "http://ex.com"),
        (3, "http://ex.com/p?utm_a=1",      "http://ex.com/p"),
        (4, "https://ex.com/CaseKept/Path", "https://ex.com/CaseKept/Path"),
        (5, "https://ex.com:8443/x",        "https://ex.com:8443/x"),  # non-default port kept
        # boundary traps: param names that merely CONTAIN a tracking
        # name must survive (the strip is [?&]-anchored)
        (6, "http://ex.com/p?myfbclid=z",    "http://ex.com/p?myfbclid=z"),
        (7, "http://ex.com/p?xutm_source=1", "http://ex.com/p?xutm_source=1"),
        # consecutive tracking params collapse cleanly
        (8, "http://ex.com/p?utm_a=1&utm_b=2&real=3", "http://ex.com/p?real=3"),
        (9, "http://ex.com/p?a=1&utm_x=2&utm_y=3&b=4",
            "http://ex.com/p?a=1&b=4"),
    ]
    df = spark.createDataFrame([(i, u) for i, u, _ in cases],
                               "id int, url string")
    got = {r["id"]: r["url_canon"]
           for r in canonicalize_urls(df, "url").collect()}
    for i, _, want in cases:
        assert got[i] == want, (i, got[i], want)


def test_normalize_text(spark):
    from tablite_spark.pipeline.text import normalize_text
    df = spark.createDataFrame(
        [(1, "Cafe\u0301  \t X"),   # decomposed accent + ragged ws
         (2, "café x")],        # precomposed, already canonical
        "id int, text string")
    out = {r["id"]: r["text_norm"]
           for r in normalize_text(df, "text").collect()}
    assert out[1] == "café x"
    assert out[1] == out[2]  # canonically-equal texts now hash-equal
    stripped = {r["id"]: r["text_norm"] for r in
                normalize_text(df, "text", strip_accents=True).collect()}
    assert stripped[1] == "cafe x"
    # NFKC folds compatibility chars (ﬁ ligature -> fi)
    lig = spark.createDataFrame([(1, "ﬁn")], "id int, text string")
    assert normalize_text(lig, "text", form="NFKC").first()["text_norm"] == "fin"
    import pytest as _pytest
    with _pytest.raises(ValueError):
        normalize_text(df, "text", form="NFX")


def test_incremental_dedup(spark):
    from tablite_spark.pipeline.dedup import incremental_dedup
    seen = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "id long, text string")
    new = spark.createDataFrame(
        [(10, "alpha"),            # re-crawl of seen -> dropped
         (11, "gamma"), (12, "gamma"),  # fresh dup pair -> min id kept
         (13, "delta")],           # fresh singleton -> kept
        "id long, text string")
    kept = sorted(r["id"] for r in
                  incremental_dedup(new, seen, "text", "id").collect())
    assert kept == [11, 13]


def test_connected_components_nonconvergence_raises(spark, monkeypatch):
    import pytest as _pytest
    from tablite_spark.pipeline.dedup import connected_components
    # force the DISTRIBUTED loop (the valve would solve this tiny
    # chain exactly on the driver and never hit the guard)
    monkeypatch.setenv("SPARK_GRAFT_CC_DRIVER_EDGES", "0")
    # chain 0-1-2-...-6 has diameter 6; 2 iterations cannot converge
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long")
    with _pytest.raises(RuntimeError, match="converge"):
        connected_components(pairs, max_iter=2)


def test_connected_components_driver_valve_parity(spark, monkeypatch):
    """The count-gated driver union-find (r14 optimization) must
    return EXACTLY the distributed hash-min loop's labels — same
    rows, same (id, component) values, same dtypes — on a graph
    mixing chains, a clique, duplicate/reversed edges, self-loops
    and string ids."""
    from tablite_spark.pipeline.dedup import connected_components
    edges = ([(i, i + 1) for i in range(8)]            # chain
             + [(20, 21), (21, 22), (22, 20)]          # triangle
             + [(30, 30), (31, 30), (30, 31)])         # dup/self
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    monkeypatch.setenv("SPARK_GRAFT_CC_DRIVER_EDGES", "1000000")
    got = connected_components(pairs)
    monkeypatch.setenv("SPARK_GRAFT_CC_DRIVER_EDGES", "0")
    want = connected_components(pairs)
    assert got.schema == want.schema
    assert (sorted((r["id"], r["component"]) for r in got.collect())
            == sorted((r["id"], r["component"])
                      for r in want.collect()))
    spairs = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")],
        "id_a string, id_b string")
    monkeypatch.setenv("SPARK_GRAFT_CC_DRIVER_EDGES", "1000000")
    sgot = {(r["id"], r["component"])
            for r in connected_components(spairs).collect()}
    assert sgot == {("a", "a"), ("b", "a"), ("c", "a"),
                    ("x", "x"), ("y", "x")}


def test_chunk_documents(spark):
    from tablite_spark.pipeline.text import chunk_documents
    text = " ".join(f"t{i}" for i in range(25))
    df = spark.createDataFrame([(1, text), (2, "short doc")], "id int, text string")
    out = chunk_documents(df, "text", "id", chunk_tokens=10, overlap=2)
    rows = sorted(out.collect(), key=lambda r: (r["id"], r["chunk_id"]))
    d1 = [r for r in rows if r["id"] == 1]
    # stride 8: chunks at 0,8,16 → ceil((25-2)/8)=3 chunks
    assert [r["chunk_id"] for r in d1] == [0, 1, 2]
    assert d1[0]["chunk_text"].split() == [f"t{i}" for i in range(10)]
    assert d1[1]["chunk_text"].split()[0] == "t8"  # overlap of 2
    assert d1[2]["chunk_tokens"] == 9  # tail chunk truncates
    d2 = [r for r in rows if r["id"] == 2]
    assert len(d2) == 1 and d2[0]["chunk_text"] == "short doc"


def test_contamination_check(spark):
    from tablite_spark.pipeline.text import contamination_check
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(1, shared + " iota kappa"), (2, "totally different words here "
                                          "nothing in common at all")],
        "id int, text string")
    probes = spark.createDataFrame([(100, shared)], "pid int, ptext string")
    out = contamination_check(docs, probes, "text", "id", "ptext", "pid", n=8)
    rows = out.collect()
    # probe has exactly one 8-gram; doc1 contains it, doc2 doesn't
    assert len(rows) == 1
    r = rows[0]
    assert r["id"] == 1 and r["pid"] == 100
    assert r["shared_grams"] == 1 and r["overlap"] == 1.0


def test_pack_chunks(spark):
    from tablite_spark.pipeline.text import pack_chunks
    rows = [("s", i, 40) for i in range(10)]  # 400 tokens in order
    df = spark.createDataFrame(rows, "src string, cid int, chunk_tokens int")
    out = pack_chunks(df, "chunk_tokens", budget=100,
                      by=["src"], order_by=["cid"])
    got = {r["cid"]: r["pack_id"] for r in out.collect()}
    # cumsum-before: 0,40,80,... → pack = floor(before/100)
    assert got == {0: 0, 1: 0, 2: 0, 3: 1, 4: 1, 5: 2, 6: 2, 7: 2,
                   8: 3, 9: 3}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="order_by"):
        pack_chunks(df, "chunk_tokens", budget=100, by=["src"])


def test_connected_components_chain_and_singleton(spark):
    from tablite_spark.pipeline.dedup import connected_components
    # chain 1-2-3-4 (diameter 3, needs >1 propagation round) + pair 10-11
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long")
    got = {r["id"]: r["component"]
           for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cluster_dedup_transitive(spark):
    from tablite_spark.pipeline.dedup import cluster_dedup
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id long, text string")
    # 0~1 and 1~2 are pairs but 0~2 is not: pairwise keep-min would
    # keep 2; transitive clustering must delete it too.
    pairs = spark.createDataFrame([(0, 1), (1, 2)], "id_a long, id_b long")
    kept = sorted(r["doc_id"]
                  for r in cluster_dedup(docs, pairs, "doc_id").collect())
    assert kept == [0, 3, 4, 5]


def test_png_codec_roundtrip():
    import numpy as np

    from tablite_spark.pipeline.png import png_decode, png_encode, png_header
    rng = np.random.RandomState(7)
    for shape in [(6, 8, 3), (5, 4, 4), (7, 3, 1)]:
        px = rng.randint(0, 256, size=shape).astype("uint8")
        data = png_encode(px)
        assert png_header(data) == (shape[1], shape[0], shape[2])
        back = png_decode(data)
        assert back.shape == shape
        assert (back == px).all()


def test_png_decode_all_filters():
    """Hand-built scanline streams exercise Sub/Up/Average/Paeth
    unfiltering against the spec definitions."""
    import struct
    import zlib

    import numpy as np

    from tablite_spark.pipeline.png import png_decode

    def build(w, h, c, raw_rows):
        color = {1: 0, 3: 2, 4: 6}[c]
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
        raw = b"".join(raw_rows)
        idat = zlib.compress(raw)

        def chunk(tag, body):
            return (struct.pack(">I", len(body)) + tag + body
                    + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", idat) + chunk(b"IEND", b""))

    # 2x2 grey, filter 1 (Sub): row [10, +5] -> [10, 15]
    data = build(2, 2, 1, [b"\x01\x0a\x05", b"\x01\x14\x01"])
    px = png_decode(data)[:, :, 0]
    assert px.tolist() == [[10, 15], [20, 21]]
    # filter 2 (Up): second row adds to first
    data = build(2, 2, 1, [b"\x00\x0a\x14", b"\x02\x01\x02"])
    assert png_decode(data)[:, :, 0].tolist() == [[10, 20], [11, 22]]
    # filter 3 (Average): x = raw + floor((left+up)/2)
    data = build(2, 2, 1, [b"\x00\x0a\x14", b"\x03\x05\x06"])
    # row2: [5 + (0+10)//2, 6 + (10+20)//2] = [10, 21]
    assert png_decode(data)[:, :, 0].tolist() == [[10, 20], [10, 21]]
    # filter 4 (Paeth): predictor of (left, up, upleft)
    data = build(2, 2, 1, [b"\x00\x0a\x14", b"\x04\x01\x01"])
    # row2: [1 + paeth(0,10,0)=10 -> 11, 1 + paeth(11,20,10)=20 -> 21]
    assert png_decode(data)[:, :, 0].tolist() == [[10, 20], [11, 21]]


def test_jpeg_codec_roundtrip():
    import numpy as np

    from tablite_spark.pipeline.jpeg import (
        jpeg_decode, jpeg_encode, jpeg_header,
    )
    g = np.linspace(0, 255, 21 * 13).reshape(13, 21).astype(np.uint8)
    rgb = np.stack([g, 255 - g, g // 2], axis=2)
    for ss in ("444", "420"):
        for ri in (0, 3):
            data = jpeg_encode(rgb, quality=95, subsample=ss,
                               restart_interval=ri)
            assert jpeg_header(data) == (21, 13, 3)
            dec = jpeg_decode(data)
            assert dec.shape == (13, 21, 3)
            err = np.abs(dec.astype(int) - rgb.astype(int)).mean()
            # 444 is near-lossless at q95; 420 pays chroma subsampling
            assert err < (2.0 if ss == "444" else 15.0), (ss, ri, err)
    # greyscale
    dg = jpeg_encode(g, quality=90)
    assert jpeg_header(dg) == (21, 13, 1)
    assert jpeg_decode(dg).shape == (13, 21, 1)
    # solid color survives exactly (DC-only blocks)
    solid = np.zeros((16, 24, 3), dtype=np.uint8)
    solid[:, :, 0] = 200
    dec = jpeg_decode(jpeg_encode(solid, 90, subsample="420"))
    assert dec.reshape(-1, 3).mean(axis=0).tolist() == [200.0, 0.0, 0.0]


def test_jpeg_progressive_roundtrip():
    """Progressive (SOF2) pixel decode (round 6): the full scan
    script — interleaved first DC at Al=1, spectral-selection AC
    bands with EOB runs, DC refinement bits, AC refinement
    correction bits — reconstructs the SAME pixels as the baseline
    encoding of the same image (the coefficient planes are
    identical; only encoder-side float rounding may flip a
    quantization boundary, hence atol=1)."""
    import numpy as np

    from tablite_spark.pipeline.jpeg import (
        jpeg_decode, jpeg_encode, jpeg_encode_progressive, jpeg_header,
    )
    rng = np.random.default_rng(42)
    for shape, q in (((24, 17, 3), 90), ((13, 21, 3), 75),
                     ((9, 9), 85), ((16, 40), 60)):
        img = rng.integers(0, 256, shape).astype(np.uint8)
        prog = jpeg_encode_progressive(img, quality=q)
        base = jpeg_encode(img if img.ndim == 3 else img, quality=q)
        wh = (shape[1], shape[0], shape[2] if len(shape) == 3 else 1)
        assert jpeg_header(prog) == wh
        dp, db = jpeg_decode(prog), jpeg_decode(base)
        assert dp.shape == db.shape
        assert np.abs(dp.astype(int) - db.astype(int)).max() <= 1, (shape, q)

    # sparse image: long zero runs + all-zero bands force the EOBRUN
    # and ZRL paths in both first and refinement AC scans
    sparse = np.zeros((40, 40), dtype=np.uint8)
    sparse[3, 5] = 255
    sparse[25, 31] = 180
    dp = jpeg_decode(jpeg_encode_progressive(sparse, quality=50))
    db = jpeg_decode(jpeg_encode(sparse, quality=50))
    assert np.abs(dp.astype(int) - db.astype(int)).max() <= 1
    # solid color: DC-only progressive stream decodes exactly
    solid = np.full((16, 24, 3), 77, dtype=np.uint8)
    assert (jpeg_decode(jpeg_encode_progressive(solid, 90)) == 77).all()

    # 4:2:0 subsampled progressive (the common web layout: chroma AC
    # scans walk the component's own non-interleaved raster; luma
    # blocks interleave 4-per-MCU in the DC scans) and restart
    # intervals (RSTn resets DC predictors AND EOB runs) — with odd
    # dims so MCU padding rows/cols are exercised too
    img = rng.integers(0, 256, (37, 29, 3)).astype(np.uint8)
    for ri in (0, 3):
        dp = jpeg_decode(jpeg_encode_progressive(
            img, 85, subsample="420", restart_interval=ri))
        db = jpeg_decode(jpeg_encode(img, 85, subsample="420"))
        assert np.abs(dp.astype(int) - db.astype(int)).max() <= 1, ri


def test_jpeg_progressive_roundtrip_fuzz():
    """Property fuzz over the progressive codec: any (shape, quality,
    seed, channels) decodes to within one quantization-boundary
    rounding of the baseline encoding of the same image."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from tablite_spark.pipeline.jpeg import (
        jpeg_decode, jpeg_encode, jpeg_encode_progressive,
    )

    @settings(max_examples=15, deadline=None)
    @given(h=st.integers(1, 40), w=st.integers(1, 40),
           q=st.integers(30, 95), chans=st.sampled_from([1, 3]),
           ss=st.sampled_from(["444", "420"]),
           ri=st.sampled_from([0, 2, 5]),
           seed=st.integers(0, 2**31 - 1))
    def roundtrip(h, w, q, chans, ss, ri, seed):
        rng = np.random.default_rng(seed)
        shape = (h, w) if chans == 1 else (h, w, 3)
        if chans == 1:
            ss = "444"  # subsampling is a colour concept
        img = rng.integers(0, 256, shape).astype(np.uint8)
        dp = jpeg_decode(jpeg_encode_progressive(
            img, quality=q, subsample=ss, restart_interval=ri))
        db = jpeg_decode(jpeg_encode(img, quality=q, subsample=ss))
        assert np.abs(dp.astype(int) - db.astype(int)).max() <= 1

    roundtrip()


def test_decode_images_progressive_jpeg_dims(spark):
    """Progressive JPEG (SOF2, ~10% of web JPEGs) through the Spark
    multimodal path: decode_images reports the real SOF dimensions
    even for a truncated scanless stream, and — since the round-6
    progressive decoder — extract_image_features computes REAL pixel
    statistics for a full progressive payload instead of the byte
    histogram."""
    import struct

    import numpy as np

    from tablite_spark.pipeline.jpeg import jpeg_encode_progressive
    from tablite_spark.pipeline.multimodal import (
        attach_media, decode_images, extract_image_features,
    )
    sof2 = struct.pack(">BHHB", 8, 240, 320, 3) \
        + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    headeronly = (b"\xff\xd8" + struct.pack(">HH", 0xFFC2, len(sof2) + 2)
                  + sof2 + b"\xff\xd9")
    red = np.zeros((12, 20, 3), dtype=np.uint8)
    red[:, :, 0] = 255
    full = jpeg_encode_progressive(red, quality=90)
    df = spark.createDataFrame(
        [(1, bytearray(headeronly)), (2, bytearray(full))],
        "img_id long, raw binary")
    media = attach_media(df, "raw", "image/jpeg").drop("raw")
    dims = {r["img_id"]: (r["width"], r["height"])
            for r in decode_images(media).collect()}
    assert dims[1] == (320, 240)
    assert dims[2] == (20, 12)
    feats = {r["img_id"]: r["features"]
             for r in extract_image_features(media, dim=4).collect()}
    assert abs(feats[2][0] - 1.0) < 0.02  # real mean-red from SOF2 scans


def test_decode_images_real_jpeg(spark):
    import numpy as np

    from tablite_spark.pipeline.jpeg import jpeg_encode
    from tablite_spark.pipeline.multimodal import (
        attach_media, decode_images, extract_image_features,
    )
    px = np.zeros((12, 20, 3), dtype=np.uint8)
    px[:, :, 0] = 255
    good = jpeg_encode(px, quality=90, subsample="420")
    corrupt = good[:24] + b"\x00" * 8  # valid magic, garbage body
    rows = [(1, bytearray(good)), (2, bytearray(corrupt))]
    df = spark.createDataFrame(rows, "id int, raw binary")
    media = attach_media(df, "raw", "image/jpeg").drop("raw")
    got = {r["id"]: (r["width"], r["height"])
           for r in decode_images(media).collect()}
    assert got[1] == (20, 12)  # REAL dims from SOF
    assert all(isinstance(v, int) for v in got[2])  # degraded to fake
    feats = {r["id"]: r["features"]
             for r in extract_image_features(media, dim=4).collect()}
    assert abs(feats[1][0] - 1.0) < 0.02  # real mean-red ~ 1.0
    assert len(feats[2]) == 4  # corrupt row got byte-hist, stage alive


def test_decode_images_real_png(spark):
    import numpy as np

    from tablite_spark.pipeline.multimodal import (
        attach_media, decode_images, extract_image_features,
    )
    from tablite_spark.pipeline.png import png_encode
    px = np.zeros((6, 9, 3), dtype="uint8")
    px[:, :, 0] = 200  # solid red-ish
    rows = [(1, bytearray(png_encode(px)))]
    df = spark.createDataFrame(rows, "id int, raw binary")
    media = attach_media(df, "raw", "image/png").drop("raw")
    d = decode_images(media).first()
    assert (d["width"], d["height"]) == (9, 6)  # REAL dims from IHDR
    f = extract_image_features(media, dim=4).first()["features"]
    assert abs(f[0] - 200 / 255) < 1e-6  # real channel mean: R
    assert abs(f[1]) < 1e-6 and abs(f[2]) < 1e-6  # G, B are zero


def test_decode_images_corrupt_png_degrades(spark):
    import numpy as np

    from tablite_spark.pipeline.multimodal import (
        attach_media, decode_images, extract_image_features,
    )
    from tablite_spark.pipeline.png import png_encode
    good = png_encode(np.full((4, 4, 3), 9, dtype="uint8"))
    # valid magic, garbage body: must degrade per-row, never fail the stage
    corrupt = good[:16] + b"\x00" * 8
    truncated = good[:12]
    rows = [(1, bytearray(good)), (2, bytearray(corrupt)),
            (3, bytearray(truncated))]
    df = spark.createDataFrame(rows, "id int, raw binary")
    media = attach_media(df, "raw", "image/png").drop("raw")
    got = {r["id"]: (r["width"], r["height"])
           for r in decode_images(media).collect()}
    assert got[1] == (4, 4)
    assert all(isinstance(v, int) for v in got[2] + got[3])  # fake dims
    feats = extract_image_features(media, dim=4).collect()
    assert len(feats) == 3  # stage survived; corrupt rows got byte-hist


def test_decode_audio_truncated_riff_degrades(spark):
    from tablite_spark.pipeline.multimodal import attach_media, decode_audio
    # RIFF/WAVE magic but fmt chunk truncated mid-struct: struct.error
    # must degrade to nulls, not kill the stage
    bad = b"RIFF\x24\x00\x00\x00WAVEfmt \x10\x00\x00\x00\x01\x00"
    df = spark.createDataFrame([(1, bytearray(bad))], "id int, raw binary")
    media = attach_media(df, "raw", "audio/wav").drop("raw")
    r = decode_audio(media).first()
    assert (r["sample_rate"], r["channels"], r["duration_ms"]) == (None,) * 3


def test_slice_rows_rejects_order_by_with_index_col(spark):
    import pytest

    from tablite_spark.operators.sorting import slice_rows, with_row_index
    df = with_row_index(spark.range(10).toDF("v"))
    with pytest.raises(ValueError, match="mutually exclusive"):
        slice_rows(df, 0, 5, 2, order_by=["v"], index_col="__row_id__")


def test_decode_audio_real_wav(spark):
    import numpy as np

    from tablite_spark.pipeline.multimodal import (
        attach_media, decode_audio, wav_encode, wav_header,
    )
    data = wav_encode(np.zeros(8000, dtype="<i2"), 16_000)
    assert wav_header(data) == (16_000, 1, 16, 500)
    rows = [(1, bytearray(data)), (2, bytearray(b"notawav")), (3, None)]
    df = spark.createDataFrame(rows, "id int, raw binary")
    media = attach_media(df, "raw", "audio/wav").drop("raw")
    got = {r["id"]: (r["sample_rate"], r["channels"], r["duration_ms"])
           for r in decode_audio(media).collect()}
    assert got[1] == (16_000, 1, 500)
    assert got[2] == (None, None, None)
    assert got[3] == (None, None, None)


def test_deterministic_shuffle(spark):
    from tablite_spark.pipeline.sampling import deterministic_shuffle
    df = spark.createDataFrame([(i,) for i in range(500)], "k long")
    order1 = [r["k"] for r in deterministic_shuffle(df, "k", "s").collect()]
    # repartition-invariant
    order2 = [r["k"] for r in
              deterministic_shuffle(df.repartition(7), "k", "s").collect()]
    assert order1 == order2 and sorted(order1) == list(range(500))
    # different seed -> different epoch order
    order3 = [r["k"] for r in deterministic_shuffle(df, "k", "s2").collect()]
    assert order1 != order3
    # append-stable: existing rows keep their relative order
    extra = spark.createDataFrame([(i,) for i in range(500, 600)], "k long")
    order4 = [r["k"] for r in
              deterministic_shuffle(df.union(extra), "k", "s").collect()]
    assert [k for k in order4 if k < 500] == order1


# ----------------------------------------------------------- byte-level BPE

def test_bpe_train_and_count_hand_verified():
    """Classic 'low' example, hand-traced: merges (o,w)->(l,ow)->
    (G. low) give one token per whole word, sub-word split for
    unseen suffixes."""
    from tablite_spark.pipeline.bpe import BPETokenizer, train_bpe
    vocab, merges = train_bpe(["low low low"], vocab_size=259)
    assert merges == [("o", "w"), ("l", "ow"), ("Ġ", "low")]
    tok = BPETokenizer(vocab, merges)
    assert tok.count("low low") == 2          # "low" + " low"
    assert tok.count("low lowx") == 3         # "low" + " low" + "x"
    assert tok.count("wol") == 3              # no merge applies
    assert tok.decode(tok.encode("low lowx wol")) == "low lowx wol"


def test_bpe_train_distributed_matches_serial(spark):
    """The distributed trainer must learn the IDENTICAL merge
    sequence as the serial train_bpe — same pretokenization, same
    tie-break (count desc, shortest merged string, lexicographically
    largest pair), same leftmost-greedy merge application, including
    merges over symbols earlier merges created and overlapping-pair
    words ('aaa')."""
    from tablite_spark.pipeline.bpe import train_bpe, train_bpe_distributed
    texts = (["the cat sat on the mat", "the dog ate the cat food",
              "aaa banana bandana", "the the the"] * 3
             + ["unique words here", "aab aab ab"])
    _, serial = train_bpe(texts, 256 + 10)
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    out = train_bpe_distributed(df, "text", 10).collect()
    dist = [(r["mleft"], r["mright"]) for r in
            sorted(out, key=lambda r: r["merge_rank"])]
    assert dist == serial
    assert [r["merge_rank"] for r in
            sorted(out, key=lambda r: r["merge_rank"])] == list(range(1, 11))


def test_bpe_train_distributed_releases_checkpoints(spark):
    """The per-merge localCheckpoint chain must not leak executor
    storage: after the call returns, no checkpoint blocks remain
    (the pagerank deterministic-release pattern)."""
    from tablite_spark.pipeline.bpe import train_bpe_distributed
    df = spark.createDataFrame([("ababab",)] * 4, "text string")
    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    train_bpe_distributed(df, "text", 3).collect()
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert after <= before


def test_bpe_train_distributed_learned_vocab_encodes(spark, tmp_path):
    """Learned merges round-trip through the GPT-2 file format and
    drive BPETokenizer encode/decode exactly."""
    from tablite_spark.pipeline.bpe import (
        BPETokenizer, bytes_to_unicode, save_bpe_files,
        train_bpe_distributed,
    )
    df = spark.createDataFrame([("low low low",)] * 2, "text string")
    merges = [(r["mleft"], r["mright"]) for r in sorted(
        train_bpe_distributed(df, "text", 3).collect(),
        key=lambda r: r["merge_rank"])]
    assert merges == [("o", "w"), ("l", "ow"), ("Ġ", "low")]
    toks = [bytes_to_unicode()[b] for b in range(256)] \
        + [a + b for a, b in merges]
    vocab = {t: i for i, t in enumerate(toks)}
    vp, mp = str(tmp_path / "v.json"), str(tmp_path / "m.txt")
    save_bpe_files(vocab, merges, vp, mp)
    tok = BPETokenizer.from_files(vp, mp)
    assert tok.count("low low") == 2
    assert tok.decode(tok.encode("low lowx")) == "low lowx"


def test_bpe_roundtrip_unicode_and_gpt2_file_format(tmp_path):
    """Byte alphabet covers every input: encode/decode is exact for
    arbitrary unicode; GPT-2 vocab.json+merges.txt load path produces
    the identical tokenizer."""
    import json

    from tablite_spark.pipeline.bpe import BPETokenizer, train_bpe
    corpus = ["héllo wörld", "嗨 tokens everywhere", "emoji 🙂 too"]
    vocab, merges = train_bpe(corpus, vocab_size=300)
    tok = BPETokenizer(vocab, merges)
    for s in corpus + ["never seen bytes: ƒ∂ß´∑ œ∅"]:
        assert tok.decode(tok.encode(s)) == s
    vp, mp = str(tmp_path / "vocab.json"), str(tmp_path / "merges.txt")
    with open(vp, "w", encoding="utf-8") as f:
        json.dump(vocab, f, ensure_ascii=False)
    with open(mp, "w", encoding="utf-8") as f:
        f.write("#version: 0.2\n")
        f.writelines(f"{a} {b}\n" for a, b in merges)
    tok2 = BPETokenizer.from_files(vp, mp)
    for s in corpus:
        assert tok2.encode(s) == tok.encode(s)


def test_token_count_bpe_spark_matches_driver(spark):
    """token_count(mode='bpe') on the documents table matches the
    driver-side tokenizer row for row, and is partition-invariant."""
    from tablite_spark.pipeline.bpe import BPETokenizer, train_bpe
    from tablite_spark.plans.lifecycle import pin
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text").limit(50))
    docs = pin(docs, eager=False)
    sample = [r["text"] for r in docs.limit(10).collect()]
    vocab, merges = train_bpe(sample, vocab_size=400)
    tok = BPETokenizer(vocab, merges)
    out = {r["doc_id"]: r["n_tokens"]
           for r in token_count(docs, "text", mode="bpe",
                                vocab=vocab, merges=merges).collect()}
    expect = {r["doc_id"]: tok.count(r["text"]) for r in docs.collect()}
    assert out == expect and len(out) == 50
    repart = {r["doc_id"]: r["n_tokens"]
              for r in token_count(docs.repartition(7), "text", mode="bpe",
                                   vocab=vocab, merges=merges).collect()}
    assert repart == expect
    with pytest.raises(ValueError, match="vocab"):
        token_count(docs, "text", mode="bpe")


# ----------------------------------------------------------- MJPEG-AVI video

def test_avi_container_roundtrip():
    """RIFF/AVI writer <-> reader: header fields, frame payload count,
    per-frame JPEG decodability, planted per-frame luma."""
    import numpy as np

    from tablite_spark.pipeline.avi import avi_encode, avi_frames, avi_header
    from tablite_spark.pipeline.jpeg import jpeg_decode
    frames = [np.full((24, 33, 3), 255 * (i % 2), dtype=np.uint8)
              for i in range(5)]
    raw = avi_encode(frames, fps=10.0, quality=90)
    w, h, n, fps, dur = avi_header(raw)
    assert (w, h, n, dur) == (33, 24, 5, 500) and abs(fps - 10.0) < 1e-9
    payloads = list(avi_frames(raw))
    assert len(payloads) == 5
    for i, p in enumerate(payloads):
        px = jpeg_decode(p)
        assert px.shape == (24, 33, 3)
        assert (px.mean() > 200) == (i % 2 == 1)
    with pytest.raises(ValueError):
        avi_header(b"RIFF\x00\x00\x00\x00WAVE")  # wav is not avi
    with pytest.raises(ValueError):
        avi_encode([], fps=10)


def test_sample_video_frames_spark(spark):
    """sample_video_frames: real MJPEG decode worker-side, sampling
    stride from fps*every_ms, corrupt payloads -> single null row."""
    import numpy as np

    from tablite_spark.pipeline.avi import avi_encode
    from tablite_spark.pipeline.multimodal import (
        attach_media, sample_video_frames,
    )
    frames = [np.full((16, 16, 3), 40 * i, dtype=np.uint8)
              for i in range(6)]
    good = avi_encode(frames, fps=10.0, quality=90)
    rows = [(1, bytearray(good)), (2, bytearray(b"\x00garbage")), (3, None)]
    df = spark.createDataFrame(rows, "vid_id long, raw binary")
    out = sample_video_frames(
        attach_media(df, "raw", "video/x-msvideo").drop("raw"),
        every_ms=200).collect()
    by_vid = {}
    for r in out:
        by_vid.setdefault(r["vid_id"], []).append(r)
    # stride 2 over 6 frames -> indices 0,2,4 at t=0,200,400
    g = sorted(by_vid[1], key=lambda r: r["frame_idx"])
    assert [(r["frame_idx"], r["t_ms"]) for r in g] == [
        (0, 0), (2, 200), (4, 400)]
    assert all(r["width"] == 16 and r["height"] == 16 for r in g)
    lumas = [r["mean_luma"] for r in g]
    assert abs(lumas[0] - 0) < 6 and abs(lumas[1] - 80) < 6 \
        and abs(lumas[2] - 160) < 6
    # corrupt and null payloads each degrade to one null row
    for vid in (2, 3):
        assert len(by_vid[vid]) == 1
        assert by_vid[vid][0]["frame_idx"] is None
        assert by_vid[vid][0]["mean_luma"] is None


# ------------------------------------------- semantic dedup + LM quality

def test_semantic_dedup_drops_only_planted_dups(spark):
    """3-hot orthogonal-ish fixture: identical planted vectors are
    removed (keep-min-id), distinct ids (cosine <= 2/3) all survive."""
    from tablite_spark.pipeline.similarity import semantic_dedup
    ids = list(range(40))
    def vec(i):
        v = [0.0] * 96
        v[i % 32] = 1.0
        v[32 + (i // 32) % 32] = 1.0
        v[64 + (i // 1024) % 32] = 1.0
        return v
    rows = [(i, vec(i)) for i in ids]
    rows += [(i + 10_000_000, vec(i)) for i in ids if i % 4 == 0]
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    out = sorted(r["vec_id"]
                 for r in semantic_dedup(df, "vec_id", "vec",
                                         threshold=0.9,
                                         n_lists=4).collect())
    assert out == ids  # every planted dup gone, every base id kept
    # threshold above 1 keeps everything (no pair can exceed it)
    all_kept = semantic_dedup(df, "vec_id", "vec", threshold=1.1,
                              n_lists=4).count()
    assert all_kept == len(rows)


def test_semantic_dedup_varying_norms(spark):
    """Scaled duplicates (cosine exactly 1, wildly different norms)
    must be caught: centroids are trained on the SAME L2-normalized
    vectors that are assigned, so a duplicate pair can never straddle
    a cell boundary because of its magnitude. (Training raw but
    assigning normalized — the pre-round-5 bug — clusters in
    inconsistent metric spaces and lets such pairs survive.)"""
    import random

    from tablite_spark.pipeline.similarity import semantic_dedup
    rng = random.Random(7)
    base = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(30)]
    rows = [(i, v) for i, v in enumerate(base)]
    # each duplicate is the base vector scaled by 0.01x .. 100x
    scales = {i: rng.choice([0.01, 0.1, 10.0, 100.0])
              for i in range(0, 30, 3)}
    rows += [(i + 1000, [x * scales[i] for x in base[i]])
             for i in range(0, 30, 3)]
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    out = sorted(r["vec_id"]
                 for r in semantic_dedup(df, "vec_id", "vec",
                                         threshold=0.999,
                                         n_lists=5).collect())
    assert out == list(range(30))


def test_gopher_dup_ngram_coverage(spark):
    """Positional coverage of within-doc duplicated n-grams: a doc
    with a 5-gram repeated twice covers exactly those 10 positions at
    n=5 (overlap-deduplicated), a clean doc covers none, and the
    thresholds trip as integer comparisons."""
    from tablite_spark.pipeline.text import gopher_dup_ngram_coverage
    run = "p q r s t"
    clean = " ".join(f"u{i}" for i in range(30))
    rows = [
        (1, clean),
        (2, f"{run} a b c {run} d e f"),      # 5-gram dup, 2 windows
        (3, f"{run} {run} {run} x"),          # overlapping coverage
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r
           for r in gopher_dup_ngram_coverage(df, "text").collect()}
    assert out[1]["dup5_chars"] == 0 and out[1]["passes"]
    # doc 2: positions 0-4 and 8-12 covered at n=5 -> 10 single-char
    # words = 10 chars; word_chars = 16
    assert out[2]["dup5_chars"] == 10 and out[2]["word_chars"] == 16
    assert not out[2]["r_dup5"] and not out[2]["passes"]
    # doc 3: "p q r s t" x3 + x -> the repeated 5-gram covers ALL 15
    # run positions once (overlaps don't double-count)
    assert out[3]["dup5_chars"] == 15
    # longer duplicated n-grams exist too (e.g. the 10-gram repeats)
    assert out[3]["dup10_chars"] > 0


def test_c4_rules_line_and_page_filters(spark):
    """C4 cleaning: terminal-punctuation/word-count/javascript line
    filters, then lorem-ipsum/curly-brace/min-lines page filters."""
    from tablite_spark.pipeline.text import c4_rules
    good = ("This line is fine.\nAnother good line here!\n"
            'Quoted line stays."')
    rows = [
        (1, good),
        (2, good + "\nno terminal punct\nshort.\nJavascript needed."),
        (3, "One good line only."),                    # < 3 kept
        (4, good + "\nsee lorem ipsum text."),         # page word
        (5, good + "\nvar x = {1};"),                  # curly brace
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in c4_rules(df, "text").collect()}
    assert out[1]["keep_page"] and out[1]["text_clean"] == good
    # the three junk lines are stripped but the page survives
    assert out[2]["keep_page"] and out[2]["text_clean"] == good
    assert out[2]["n_lines_kept"] == 3
    assert not out[3]["keep_page"] and out[3]["n_lines_kept"] == 1
    assert not out[4]["keep_page"]  # lorem ipsum anywhere on the page
    assert not out[5]["keep_page"]  # curly brace => code page


def test_gopher_repetition_signals(spark):
    """Within-doc repetition: duplicate line/paragraph count + char
    fractions and top-{2,3,4}-gram char mass, with integer-exact
    threshold booleans."""
    from tablite_spark.pipeline.text import gopher_repetition
    # doc 1 is LONG and unique: the top-n-gram rules compare one
    # gram's char mass against the whole doc, so only docs past the
    # Gopher word-count filter can meaningfully pass them
    clean = "\n".join(" ".join(f"w{i}x{j}" for j in range(10))
                      for i in range(3))
    rows = [
        (1, clean),                                          # clean
        (2, "same line\nsame line\nsame line\nother one"),   # dup lines
        (3, "go go go go go go go go go stop"),              # top-2gram
        (4, "para one x\n\npara one x\n\npara two y"),       # dup paras
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in gopher_repetition(df, "text").collect()}
    assert out[1]["passes"]
    assert out[1]["n_lines"] == 3 and out[1]["n_uniq_lines"] == 3
    # doc 2: 4 lines, 2 unique -> dup frac 0.5 > 0.3
    assert out[2]["n_lines"] == 4 and out[2]["n_uniq_lines"] == 2
    assert not out[2]["r_dup_lines"] and not out[2]["passes"]
    # doc 3: "go go" occurs 8x overlapping, 8*5=40 chars of 32... the
    # top-2-gram mass is cnt*len - assert the raw numbers
    assert out[3]["top2_chars"] == 8 * len("go go")
    assert not out[3]["r_top2"]
    # doc 4: 3 paras, 2 unique -> dup para frac 1/3 > 0.3; lines are
    # 5 (blank separators) and all distinct except the repeated text
    assert out[4]["n_paras"] == 3 and out[4]["n_uniq_paras"] == 2
    assert not out[4]["r_dup_paras"]


def test_pretrain_filter_composes_with_reasons(spark):
    """The one-call gate: keep = conjunction of stages, reason = the
    FIRST failing stage in order, null reason when kept."""
    from tablite_spark.pipeline.text import pretrain_filter
    # non-repetitive, function-word-bearing, 3-10 char mean: passes
    good = ("the quick dog and that other cat have walked with " +
            " ".join(f"word{i}" for i in range(50)))
    rows = [
        (1, good),
        (2, "too short to pass the word count"),   # fails gopher
        # function words + length pass gopher; the repeated 2-gram
        # dominates the character mass -> fails repetition
        (3, "the dog and " + ("spam ham " * 60).strip()),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r
           for r in pretrain_filter(df, "text", min_words=20).collect()}
    assert out[1]["keep"] and out[1]["reason"] is None
    assert not out[2]["keep"] and out[2]["reason"] == "gopher"
    assert not out[3]["keep"] and out[3]["reason"] == "repetition"
    import pytest

    with pytest.raises(ValueError, match="unknown"):
        pretrain_filter(df, "text", stages=("nope",))


def test_gopher_rules_per_rule(spark):
    """Each Gopher rule trips on a doc constructed to violate exactly
    it (all integer cross-multiplications — no float ratios)."""
    from tablite_spark.pipeline.text import gopher_rules
    good = "the cat sat with the dog and that was good to see " * 5
    rows = [
        (1, good),                                   # passes all
        (2, "the cat sat with a dog"),               # too few words
        (3, ("a " * 30 + good)),                     # mean word len < 3
        (4, good + " " + "# " * 20),                 # symbol ratio
        (5, "- a\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i\n- j"),
        (6, ("so... " * 10).strip()),                # n/a: one line
        (7, good.replace("the", "123").replace("that", "456")
             .replace("and", "789").replace("with", "000")
             .replace("to", "111")),                 # no func words
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r
           for r in gopher_rules(df, "text", min_words=20).collect()}
    assert out[1]["passes"]
    assert not out[2]["r_word_count"]
    assert not out[3]["r_mean_word_len"] and out[1]["r_mean_word_len"]
    assert not out[4]["r_symbol_ratio"] and out[1]["r_symbol_ratio"]
    assert not out[5]["r_bullet_lines"] and out[1]["r_bullet_lines"]
    assert not out[7]["r_func_words"] and out[1]["r_func_words"]
    # ellipsis-ended lines: 10 one-line docs would need a multi-line
    # construction; check the line counter directly
    ml = spark.createDataFrame(
        [(8, "keep this line\nbut this trails...\nand this one…\nok")],
        "doc_id long, text string")
    r8 = gopher_rules(ml, "text", min_words=1).collect()[0]
    assert not r8["r_ellipsis_lines"]  # 2 of 4 lines > 30%


def test_perplexity_score_ranks_and_unseen_grams(spark):
    """Repetitive text scores closer to 0 millinats/gram than novel
    text under a self-trained model; scoring NEW docs against an
    external model exercises the unseen-gram smoothing path."""
    from tablite_spark.pipeline.text import (
        char_ngram_model, lm_vocab_size, perplexity_score,
    )
    docs = spark.createDataFrame(
        [(1, "aaaa aaaa aaaa aaaa"), (2, "zq xv jw kt bp md")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in perplexity_score(docs, "text").collect()}
    per_gram_1 = out[1]["millinats"] / out[1]["n_ngrams"]
    per_gram_2 = out[2]["millinats"] / out[2]["n_ngrams"]
    assert per_gram_1 > per_gram_2  # less negative = more predictable
    assert out[1]["n_ngrams"] == len("aaaa aaaa aaaa aaaa") - 2
    # external model: score unseen text, all grams miss -> finite
    # smoothed scores, no nulls/crash
    model = char_ngram_model(docs, "text")
    v = lm_vocab_size(model)
    new = spark.createDataFrame([(9, "completely different")],
                                "doc_id long, text string")
    got = perplexity_score(new, "text", model=model,
                           vocab_size=v).collect()
    assert len(got) == 1 and got[0]["millinats"] < 0
    assert got[0]["n_ngrams"] == len("completely different") - 2


def test_perplexity_broadcast_gate_switches_to_shuffle_join(spark):
    """A model above broadcast_max_rows must NOT be broadcast (a CJK
    char-trigram census can reach 10^8 rows — broadcasting it OOMs
    the cluster). With the gate forced to 0 the gram join becomes a
    shuffle join, and the scores are identical to the broadcast
    path — same math, different physical plan."""
    from tablite_spark.pipeline.text import perplexity_score
    # a modestly wide synthetic alphabet (320 distinct chars) so the
    # model is non-trivial without being slow
    docs = spark.createDataFrame(
        [(i, "".join(chr(0x4E00 + (i * 7 + j) % 320) for j in range(40)))
         for i in range(30)],
        "doc_id long, text string")
    bc = {r["doc_id"]: (r["n_ngrams"], r["millinats"])
          for r in perplexity_score(docs, "text").collect()}
    gated = perplexity_score(docs, "text", broadcast_max_rows=0)
    plan = gated._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan, plan
    sh = {r["doc_id"]: (r["n_ngrams"], r["millinats"])
          for r in gated.collect()}
    assert sh == bc


def test_line_dedup_boilerplate(spark):
    """Shared lines across >= min_docs docs vanish from every doc,
    unique lines keep their order, and a doc that was ALL boilerplate
    survives as an empty row (count 0)."""
    from tablite_spark.pipeline.dedup import line_dedup
    footer = "(c) example corp - all rights reserved"
    rows = [
        (1, f"alpha one\n{footer}\nbeta one"),
        (2, f"alpha two\n{footer}\nbeta two"),
        (3, "gamma\ndelta"),
        (4, footer),  # nothing but boilerplate
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r
           for r in line_dedup(df, "text", "doc_id", min_docs=2).collect()}
    assert out[1]["text_dedup"] == "alpha one\nbeta one"
    assert out[2]["text_dedup"] == "alpha two\nbeta two"
    assert out[3]["text_dedup"] == "gamma\ndelta"
    assert out[3]["n_lines_kept"] == 2
    assert out[4]["text_dedup"] == "" and out[4]["n_lines_kept"] == 0
    # min_docs above corpus size keeps everything intact
    intact = {r["doc_id"]: r["text_dedup"]
              for r in line_dedup(df, "text", "doc_id",
                                  min_docs=99).collect()}
    assert intact == {i: t for i, t in rows}


def test_line_dedup_preserves_blank_lines(spark):
    """Empty / whitespace-only lines appear in nearly every real
    document; they must never be counted as boilerplate (that would
    collapse paragraph breaks corpus-wide). min_line_chars also
    shields very short lines when raised."""
    from tablite_spark.pipeline.dedup import line_dedup
    rows = [
        (1, "para one\n\npara two\n\n---"),
        (2, "intro\n\nbody\n\n---"),
        (3, "solo\n\nend\n\n---"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text_dedup"]
           for r in line_dedup(df, "text", "doc_id", min_docs=2).collect()}
    # blank lines survive; the shared "---" separator is boilerplate
    assert out[1] == "para one\n\npara two\n"
    assert out[2] == "intro\n\nbody\n"
    # raising min_line_chars also protects the short "---" line
    kept = {r["doc_id"]: r["text_dedup"]
            for r in line_dedup(df, "text", "doc_id", min_docs=2,
                                min_line_chars=4).collect()}
    assert kept == {i: t for i, t in rows}


def test_pq_topk_recall_and_refine(spark):
    """Product quantization: codes are valid per-subspace indices,
    ADC top-k overlaps the exact top-k (deterministic under seeds),
    and the refine step re-scores candidates with EXACT cosine so
    refined scores match brute-force values."""
    import random

    from tablite_spark.pipeline.similarity import (
        brute_force_topk, pq_encode, pq_topk, pq_train, topk_recall,
    )
    rng = random.Random(3)
    # clustered corpus: 10 well-separated centers, 8 points each —
    # true neighbors share a cluster, so ADC ranking is meaningful
    # (i.i.d. gaussian noise has no neighbor structure to recover)
    centers = [[rng.gauss(0, 1) * 5 for _ in range(16)] for _ in range(10)]
    rows = [(c * 8 + j, [x + rng.gauss(0, 0.3) for x in centers[c]])
            for c in range(10) for j in range(8)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    books = pq_train(df, "id", "vec", m=4, n_codes=16)
    assert len(books) == 4 and books[0].shape == (16, 4)
    codes = pq_encode(df, "id", "vec", books).collect()
    assert len(codes) == 80
    assert all(0 <= c < 16 for r in codes for c in r["pq_code"])
    q = df.filter(F.col("id") < 3)
    exact = brute_force_topk(df, q, k=5)
    approx = pq_topk(df, q, k=5, m=4, n_codes=16)
    rec = {r["qid"]: r["n_overlap"]
           for r in topk_recall(approx, exact).collect()}
    assert all(rec.get(i, 0) >= 3 for i in range(3)), rec
    # refine: exact cosines on the surviving candidates — the top-1
    # match brute force exactly when the candidate set contains it
    refined = pq_topk(df, q, k=5, m=4, n_codes=16, refine=4)
    ex1 = {r["qid"]: (r["nid"], r["cos"])
           for r in exact.collect() if r["rn"] == 1}
    rf1 = {r["qid"]: (r["nid"], r["cos"])
           for r in refined.collect() if r["rn"] == 1}
    hits = sum(1 for k2 in ex1 if rf1.get(k2) == ex1[k2])
    assert hits >= 2, (ex1, rf1)


def test_ivfpq_topk_prunes_and_recalls(spark):
    """IVF-PQ composition: coarse cells prune the scan, ADC scores
    only probed cells, refine recovers the exact ordering — recall
    matches plain PQ on the clustered fixture while touching a
    fraction of the corpus."""
    import random

    from tablite_spark.pipeline.similarity import (
        brute_force_topk, ivfpq_topk, topk_recall,
    )
    rng = random.Random(5)
    centers = [[rng.gauss(0, 1) * 5 for _ in range(16)] for _ in range(10)]
    rows = [(c * 8 + j, [x + rng.gauss(0, 0.3) for x in centers[c]])
            for c in range(10) for j in range(8)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    q = df.filter(F.col("id") < 3)
    exact = brute_force_topk(df, q, k=5)
    approx = ivfpq_topk(df, q, k=5, n_lists=5, n_probe=2,
                        m=4, n_codes=16, refine=8)
    rec = {r["qid"]: r["n_overlap"]
           for r in topk_recall(approx, exact).collect()}
    assert all(rec.get(i, 0) >= 4 for i in range(3)), rec
    # n_probe=0 cells would score nothing; probing every cell must
    # never lose to partial probing
    full = ivfpq_topk(df, q, k=5, n_lists=5, n_probe=5,
                      m=4, n_codes=16, refine=8)
    rec_full = {r["qid"]: r["n_overlap"]
                for r in topk_recall(full, exact).collect()}
    assert all(rec_full.get(i, 0) >= rec.get(i, 0) for i in range(3))


def _clustered_vectors(spark, seed):
    """80 rows (id, vec): 10 well-separated 16-dim centers, 8 noisy
    points each."""
    import random
    rng = random.Random(seed)
    centers = [[rng.gauss(0, 1) * 5 for _ in range(16)] for _ in range(10)]
    rows = [(c * 8 + j, [x + rng.gauss(0, 0.3) for x in centers[c]])
            for c in range(10) for j in range(8)]
    return spark.createDataFrame(rows, "id long, vec array<double>")


@pytest.mark.parametrize("topk", ["brute_force_topk", "ivf_topk",
                                  "pq_topk", "ivfpq_topk"])
def test_topk_empty_query_frame(spark, topk):
    """An empty query frame gives an empty (qid, nid, cos, rn) frame
    on every top-k path, not a driver-side numpy crash."""
    from tablite_spark.pipeline import similarity
    df = _clustered_vectors(spark, 3)
    kw = {"brute_force_topk": {},
          "ivf_topk": {"n_lists": 5, "n_probe": 2},
          "pq_topk": {"m": 4, "n_codes": 16, "refine": 2},
          "ivfpq_topk": {"n_lists": 5, "n_probe": 2, "m": 4,
                         "n_codes": 16}}[topk]
    out = getattr(similarity, topk)(df, df.filter(F.lit(False)), k=5,
                                    **kw)
    assert out.columns == ["qid", "nid", "cos", "rn"]
    assert out.collect() == []


def test_pq_train_one_subspace_is_kmeans_sample_train(spark):
    """With m=1 the single PQ codebook is the sample-trained k-means
    of the unit vectors, bit for bit: one sample, one Lloyd's."""
    import numpy as np

    from tablite_spark.pipeline.similarity import (
        _kmeans_sample_train, pq_train,
    )
    df = _clustered_vectors(spark, 3)
    (book,) = pq_train(df, "id", "vec", m=1, n_codes=12)
    cents = _kmeans_sample_train(df, "id", "vec", k=12, normalize=True)
    assert book.shape == (12, 16)
    assert book.tobytes() == np.array(cents, dtype=np.float64).tobytes()


def test_optimal_lsh_params():
    """S-curve tuning: probability-mass minimization behaves as the
    theory says — higher thresholds push toward more rows per band
    (sharper curve), the (b, r) product never exceeds the signature
    length, and the returned point beats neighboring configurations."""
    from tablite_spark.pipeline.dedup import optimal_lsh_params
    b50, r50 = optimal_lsh_params(0.5, 128)
    b80, r80 = optimal_lsh_params(0.8, 128)
    b95, r95 = optimal_lsh_params(0.95, 128)
    assert b50 * r50 <= 128 and b80 * r80 <= 128 and b95 * r95 <= 128
    assert r50 <= r80 <= r95   # sharper curves for higher thresholds
    assert b50 >= b80 >= b95
    # the balanced-error optimum centers the S-curve near the
    # threshold: slightly above it, candidates are near-certain;
    # well below it, near-impossible
    p_above = 1.0 - (1.0 - 0.9 ** r80) ** b80
    p_below = 1.0 - (1.0 - 0.5 ** r80) ** b80
    assert p_above > 0.85 and p_below < 0.01


def test_substring_dedup_exact_spans(spark):
    """Lee-et-al-style exact substring dedup: a shared k-token run is
    removed exactly (windows overlapping into doc-unique tokens don't
    leak coverage), shorter shared runs survive, docs shorter than k
    are untouched, and a fully-duplicated doc becomes empty."""
    from tablite_spark.pipeline.dedup import substring_dedup
    shared5 = "s0 s1 s2 s3 s4"          # == k, removed
    shared4 = "t0 t1 t2 t3"             # < k, kept
    rows = [
        (1, f"a1 b1 {shared5} c1 {shared4} d1"),
        (2, f"a2 {shared5} b2 c2 {shared4}"),
        (3, "a3 b3 c3"),                # shorter than k
        (4, shared5),                   # nothing but the shared run
        (5, f"x5 {shared5}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r
           for r in substring_dedup(df, "text", "doc_id", k=5).collect()}
    assert out[1]["text_dedup"] == f"a1 b1 c1 {shared4} d1"
    assert out[2]["text_dedup"] == f"a2 b2 c2 {shared4}"
    assert out[3]["text_dedup"] == "a3 b3 c3"
    assert out[4]["text_dedup"] == "" and out[4]["n_tokens_kept"] == 0
    assert out[5]["text_dedup"] == "x5"
    assert out[1]["n_tokens_kept"] == 8
    # a LONGER shared run (m > k) is covered end-to-end: every token
    # of the 7-token run sits inside some shared 5-window
    longer = "u0 u1 u2 u3 u4 u5 u6"
    df2 = spark.createDataFrame(
        [(1, f"p1 {longer} q1"), (2, f"p2 {longer} q2")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["text_dedup"]
           for r in substring_dedup(df2, "text", "doc_id", k=5).collect()}
    assert got == {1: "p1 q1", 2: "p2 q2"}


def test_extract_audio_features_real_wav(spark):
    """Known-signal DSP checks: sine frequency recovered by the
    spectral centroid, exact zero-crossing count, RMS=A/sqrt(2),
    peak=A; corrupt and non-16-bit payloads degrade to null rows."""
    import numpy as np

    from tablite_spark.pipeline.multimodal import (
        attach_media, extract_audio_features, wav_encode,
    )
    k = np.arange(3200)
    sine = np.round(8000 * np.sin(
        2 * np.pi * 1000 * (k + 0.5) / 16000)).astype(np.int16)
    rows = [(1, bytearray(wav_encode(sine, 16000))),
            (2, bytearray(b"RIFFxxxxWAVE")), (3, None)]
    df = spark.createDataFrame(rows, "clip_id long, raw binary")
    out = {r["clip_id"]: r for r in extract_audio_features(
        attach_media(df, "raw", "audio/wav").drop("raw")).collect()}
    g = out[1]
    assert g["sample_rate"] == 16000 and g["duration_ms"] == 200
    assert g["zero_crossings"] == 2 * 1000 * 3200 // 16000 - 1
    assert abs(g["spectral_centroid_hz"] - 1000) < 5
    assert abs(g["rms"] - (8000 / 32768) / np.sqrt(2)) < 1e-3
    # sampling phase never lands on the exact crest: peak is
    # cos(pi/16)*A for this f/rate ratio
    assert 0.97 * 8000 / 32768 <= g["peak"] <= 8000 / 32768
    for cid in (2, 3):
        assert out[cid]["rms"] is None
        assert out[cid]["zero_crossings"] is None


def test_wav_samples_downmix_and_gates():
    """wav_samples: stereo mean-downmix, non-16-bit raises."""
    import struct

    import numpy as np

    from tablite_spark.pipeline.multimodal import wav_encode, wav_samples
    mono = np.array([100, -100, 200, -200], dtype=np.int16)
    rate, x = wav_samples(wav_encode(mono, 8000))
    assert rate == 8000 and np.allclose(x * 32768, mono)
    # hand-build a stereo wav: L = 2R
    inter = np.array([200, 100, -200, -100], dtype="<i2")
    fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    stereo = (b"RIFF" + struct.pack("<I", 36 + 8) + b"WAVE"
              + b"fmt " + struct.pack("<I", 16) + fmt
              + b"data" + struct.pack("<I", 8) + inter.tobytes())
    rate, x = wav_samples(stereo)
    assert np.allclose(x * 32768, [150, -150])
    bad_fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    bad = (b"RIFF" + struct.pack("<I", 36 + 2) + b"WAVE"
           + b"fmt " + struct.pack("<I", 16) + bad_fmt
           + b"data" + struct.pack("<I", 2) + b"\x00\x01")
    with pytest.raises(ValueError, match="16-bit"):
        wav_samples(bad)


def test_gif_codec_roundtrip():
    """GIF LZW roundtrip: palettes up to 256 colors, dictionary-reset
    stress (noise forces 4096-entry resets), interlaced row order,
    >256-color and non-GIF gates."""
    import numpy as np

    from tablite_spark.pipeline.gif import gif_decode, gif_encode, gif_header
    rng = np.random.default_rng(7)
    noise = rng.integers(0, 256, (120, 130, 1), dtype=np.uint8).repeat(3, 2)
    grad = (np.arange(16, dtype=np.uint8)[None, :, None]
            .repeat(3, 2) * 17).repeat(9, axis=0)
    for px in (noise, grad):
        for il in (False, True):
            raw = gif_encode(np.ascontiguousarray(px), interlace=il)
            assert gif_header(raw) == (px.shape[1], px.shape[0])
            assert (gif_decode(raw) == px).all()
    with pytest.raises(ValueError, match="256"):
        gif_encode(rng.integers(0, 256, (40, 40, 3), dtype=np.uint8))
    with pytest.raises(ValueError, match="not a GIF"):
        gif_header(b"\x89PNG\r\n\x1a\nxxxx")


def test_decode_images_real_gif(spark):
    """GIF payloads decode for REAL through the multimodal dispatch:
    true screen dims and lossless palette features."""
    import numpy as np

    from tablite_spark.pipeline.gif import gif_encode
    from tablite_spark.pipeline.multimodal import (
        attach_media, decode_images, extract_image_features,
    )
    px = np.zeros((10, 21, 3), dtype=np.uint8)
    px[:, :, 0] = 255
    rows = [(1, bytearray(gif_encode(px)))]
    df = spark.createDataFrame(rows, "img_id long, raw binary")
    media = attach_media(df, "raw", "image/gif").drop("raw")
    d = decode_images(media).collect()[0]
    assert (d["width"], d["height"]) == (21, 10)
    f = extract_image_features(media, dim=4).collect()[0]["features"]
    assert abs(f[0] - 1.0) < 1e-9 and abs(f[1]) < 1e-9  # exact red


def test_bpe_pretokenizer_is_lossless():
    """Every character of any input must land in exactly one
    pre-token (caught a real bug: '_' is \\w but neither letter nor
    digit, so a bare [^\\s\\w] punctuation class silently dropped
    underscores from encodings)."""
    import random

    from tablite_spark.pipeline.bpe import _PRETOK, BPETokenizer, train_bpe
    rng = random.Random(3)
    pool = "ab _-__x.!?3 14_foo_bar '' can't  \t\n嗨🙂ƒ__"
    for _ in range(200):
        s = "".join(rng.choice(pool) for _ in range(rng.randint(0, 40)))
        assert "".join(_PRETOK.findall(s)) == s, repr(s)
    vocab, merges = train_bpe(["snake_case_names __init__ can't"], 300)
    tok = BPETokenizer(vocab, merges)
    for s in ("a_b", "__dunder__ method", "snake_case", "can't_stop", "_"):
        assert tok.decode(tok.encode(s)) == s


def test_bpe_pretokenizer_exact_gpt2_segmentation():
    """The expanded-\\p{} pattern must reproduce the published GPT-2
    pre-tokenizer byte-for-byte on its known quirk cases: No/Nl
    characters are numbers (not letters), contractions are
    lowercase-only, combining marks split Indic clusters, CJK rides
    the letter branch, and leading-space attachment follows the
    ' ?' prefixes."""
    from tablite_spark.pipeline.bpe import _PRETOK

    cases = {
        "Hello world": ["Hello", " world"],
        "can't": ["can", "'t"],
        "CAN'T": ["CAN", "'", "T"],          # case-sensitive branch
        "I'll we've": ["I", "'ll", " we", "'ve"],
        "x²y": ["x", "²", "y"],              # No → number, not letter
        "½cup": ["½", "cup"],
        "xⅫ3": ["x", "Ⅻ3"],                 # Nl+Nd = one \p{N} run
        "日本語123": ["日本語", "123"],
        "देव": ["द", "े", "व"],               # Mn mark splits cluster
        "a_b": ["a", "_", "b"],              # _ is punctuation
        "  x": [" ", " x"],                  # \s+(?!\S) lookahead
        "tab\t\tend": ["tab", "\t", "\t", "end"],
    }
    for text, want in cases.items():
        assert _PRETOK.findall(text) == want, (text, _PRETOK.findall(text))


def test_bpe_pretokenizer_unicode_plane_lossless():
    """Full-Unicode-plane fuzz: any string — any category, any
    plane, surrogates excluded — re-joins losslessly from its
    pre-tokens (every character lands in exactly one branch)."""
    import random
    import sys

    from tablite_spark.pipeline.bpe import _PRETOK
    rng = random.Random(6)

    def rand_char():
        while True:
            cp = rng.randrange(sys.maxunicode + 1)
            if not 0xD800 <= cp <= 0xDFFF:
                return chr(cp)

    for _ in range(300):
        s = "".join(rand_char() for _ in range(rng.randint(0, 60)))
        assert "".join(_PRETOK.findall(s)) == s, repr(s)


def test_pack_sequences_matches_reference(spark):
    """Concat-and-chunk packing equals the obvious single-threaded
    reference: same windows, same token order, same n_docs, tail
    dropped (or kept with drop_last=False), across the two-phase
    distributed prefix sum."""
    from tablite_spark.pipeline.text import pack_sequences
    rows = [(i, list(range(i * 10, i * 10 + (3 + i % 4))))
            for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, ids array<int>")
    out = {r["seq_id"]: r for r in pack_sequences(
        df, "ids", "doc_id", seq_len=8, eos_id=-1).collect()}
    stream = []
    for i, ids in sorted(rows):
        stream += [(i, t) for t in ids + [-1]]
    exp: dict = {}
    for p, (d, t) in enumerate(stream):
        exp.setdefault(p // 8, []).append((d, t))
    exp = {s: v for s, v in exp.items() if len(v) == 8}
    assert set(out) == set(exp)
    for s, v in exp.items():
        assert out[s]["input_ids"] == [t for _, t in v]
        assert out[s]["n_docs"] == len({d for d, _ in v})
    # tail kept when requested; empty input -> empty output
    out2 = pack_sequences(df, "ids", "doc_id", seq_len=8, eos_id=-1,
                          drop_last=False).collect()
    assert len(out2) == len(exp) + 1
    assert pack_sequences(df.filter("doc_id < 0"), "ids", "doc_id",
                          8).count() == 0


def test_tokenize_bpe_pack_end_to_end(spark):
    """tokenize_bpe → pack_sequences: token conservation (every BPE
    id of every doc lands in exactly one window slot, plus one EOS
    per doc, minus the dropped tail) and a decoded window re-reads
    as real corpus text."""
    from tablite_spark.pipeline.bpe import (
        BPETokenizer, tokenize_bpe, train_bpe,
    )
    from tablite_spark.pipeline.text import pack_sequences
    texts = [f"doc {i} says hello world number {i} again and again"
             for i in range(20)]
    vocab, merges = train_bpe(texts, 400)
    eos = max(vocab.values()) + 1
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    ids = tokenize_bpe(df, "text", vocab, merges)
    n_total = sum(r["n"] for r in
                  ids.select(F.size("token_ids").alias("n")).collect())
    seqs = pack_sequences(ids, "token_ids", "doc_id", seq_len=16,
                          eos_id=eos).collect()
    stream_len = n_total + len(texts)
    assert len(seqs) == stream_len // 16
    assert all(len(r["input_ids"]) == 16 for r in seqs)
    tok = BPETokenizer(vocab, merges)
    first = min(seqs, key=lambda r: r["seq_id"])
    decoded = tok.decode([i for i in first["input_ids"] if i != eos])
    assert decoded.startswith("doc 0 says hello world")


def test_vocab_divergence(spark):
    """JS divergence properties: ~0 for identical corpora, larger for
    disjoint vocabularies, symmetric, correct scalar outputs."""
    from tablite_spark.pipeline.text import vocab_divergence
    a = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta gamma delta")],
        "doc_id long, text string")
    z = spark.createDataFrame(
        [(3, "epsilon zeta eta"), (4, "zeta eta theta")],
        "doc_id long, text string")
    same = vocab_divergence(a, a, "text").first()
    assert same["vocab_a"] == same["vocab_b"] == 4
    assert same["n_tokens_a"] == same["n_tokens_b"] == 6
    assert abs(same["js_micronats"]) <= 4  # floor() of ~0 terms
    far = vocab_divergence(a, z, "text").first()
    assert far["vocab_union"] == 8
    assert far["js_micronats"] > 100_000  # disjoint => large divergence
    rev = vocab_divergence(z, a, "text").first()
    assert rev["js_micronats"] == far["js_micronats"]  # symmetric


def test_bm25_tiny_corpus_handchecked(spark):
    """BM25 on a 4-doc corpus against hand-derived properties: the
    doc containing both query terms outranks single-term docs; a
    term-free doc never appears; prebuilt postings give identical
    results to the docs path."""
    from tablite_spark.pipeline.retrieval import (
        bm25_search, build_postings,
    )
    docs = spark.createDataFrame(
        [(1, "cat sat on the mat"),
         (2, "cat cat cat chased the dog"),
         (3, "dog barked at the cat"),
         (4, "fish swim in water")],
        "doc_id long, text string")
    qs = spark.createDataFrame([(1, "cat dog")], "qid long, qtext string")
    out = bm25_search(docs, qs, k=10).collect()
    by_rank = {r["rank"]: r for r in out}
    got_ids = {r["doc_id"] for r in out}
    assert 4 not in got_ids
    assert got_ids == {1, 2, 3}
    # both-term docs (2, 3) outrank the cat-only doc 1
    assert {by_rank[1]["doc_id"], by_rank[2]["doc_id"]} == {2, 3}
    assert by_rank[3]["doc_id"] == 1
    post = build_postings(docs, "text", "doc_id")
    out2 = bm25_search(None, qs, k=10, postings=post).collect()
    assert sorted(map(tuple, out2)) == sorted(map(tuple, out))


def test_bm25_plan_broadcasts_queries_not_corpus(spark):
    """Plan gate: the query-term side and its df subset broadcast;
    the posting build is the only token-volume groupBy; no
    SinglePartition exchange (the per-qid ranking window partitions
    by qid)."""
    from tablite_spark.pipeline.retrieval import bm25_search
    from tablite_spark.plans import plan_report
    from tablite_spark.plans.audit import _formatted
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    qs = spark.createDataFrame([(1, "spark window agg")],
                               "qid long, qtext string")
    df = bm25_search(docs, qs, k=5)
    r = plan_report(df)
    s = _formatted(df)
    assert r["broadcast_joins"] >= 2, r
    assert "Exchange SinglePartition" not in s, s
    # dl comes from a window over the tf frame (no join-back) and
    # df_t semi-joins query terms BEFORE counting (first draft: 10).
    # The 8th exchange is the two-phase rank's balanced salt window —
    # it EXISTS so that a stopword-like probe can't funnel the whole
    # scored corpus into <=|queries| ranking tasks; the per-qid
    # window after it moves only k-per-salt survivors.
    assert r["shuffles"] <= 8, r
    assert "__salt__" in s, "two-phase rank missing"


def test_pack_sequences_append_stable(spark):
    """Training-resume property: appending NEW documents with ids
    above every existing id leaves every previously-complete window
    bit-identical (positions depend only on the global id order, not
    on bucket bounds), and extends the stream with new windows."""
    from tablite_spark.pipeline.text import pack_sequences
    old = [(i, list(range(i * 10, i * 10 + (3 + i % 4))))
           for i in range(50)]
    new = old + [(i, [i, i + 1, i + 2]) for i in range(50, 80)]
    df_old = spark.createDataFrame(old, "doc_id long, ids array<int>")
    df_new = spark.createDataFrame(new, "doc_id long, ids array<int>")
    w_old = {r["seq_id"]: (r["input_ids"], r["n_docs"]) for r in
             pack_sequences(df_old, "ids", "doc_id", 16, eos_id=-1)
             .collect()}
    w_new = {r["seq_id"]: (r["input_ids"], r["n_docs"]) for r in
             pack_sequences(df_new, "ids", "doc_id", 16, eos_id=-1)
             .collect()}
    assert set(w_old) <= set(w_new)
    for s, v in w_old.items():
        assert w_new[s] == v, s
    assert len(w_new) > len(w_old)


def test_logreg_deterministic_and_learns(spark):
    """logreg: (a) bit-identical weights under different partition
    layouts (the rounded-gradient determinism contract), (b) learns
    a separable rule to >95% accuracy, (c) predict is a zero-shuffle
    expression."""
    from pyspark.sql import functions as F

    from tablite_spark.pipeline.classifier import (
        logreg_predict, logreg_train,
    )
    from tablite_spark.plans import plan_report
    df = (spark.range(2000)
          .select((F.col("id") % 100 / 50.0).alias("x1"),
                  ((F.col("id") * 7 % 100) / 50.0).alias("x2"))
          .withColumn("y", (F.col("x1") + F.col("x2") > 2.0)
                      .cast("int")).cache())
    w1 = logreg_train(df, ["x1", "x2"], "y", lr=2.0, iters=40)
    w2 = logreg_train(df.repartition(13), ["x1", "x2"], "y",
                      lr=2.0, iters=40)
    assert w1 == w2
    pred = logreg_predict(df, ["x1", "x2"], w1)
    acc = pred.agg(F.avg((F.col("pred") == F.col("y"))
                         .cast("double"))).first()[0]
    assert acc > 0.95, acc
    assert plan_report(logreg_predict(
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select(F.col("o_totalprice").alias("x1"),
                F.col("o_orderkey").cast("double").alias("x2")),
        ["x1", "x2"], w1))["shuffles"] == 0
    df.unpersist()


def test_quality_classifier_end_to_end(spark):
    """train_quality_classifier over real documents reaches >90% on
    the length label and returns reusable (weights, features)."""
    from pyspark.sql import functions as F

    from tablite_spark.pipeline.classifier import (
        doc_quality_features, logreg_predict, train_quality_classifier,
    )
    d = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
         .withColumn("y", (F.col("n_chars") > 250).cast("int")))
    w, feats = train_quality_classifier(d, "text", "y", lr=4.0,
                                        iters=30)
    scored = logreg_predict(doc_quality_features(d, "text"), feats, w)
    acc = scored.agg(F.avg((F.col("pred") == F.col("y"))
                           .cast("double"))).first()[0]
    assert acc > 0.9, acc


def test_pack_sequences_doc_boundaries(spark):
    """boundaries=True emits the within-window offsets where a new
    document begins — ascending, excluding slot 0 iff the window
    opens mid-doc — matching the serial reference; needed for
    block-diagonal attention masks / position-id resets."""
    from tablite_spark.pipeline.text import pack_sequences
    rows = [(i, list(range(i * 10, i * 10 + (3 + i % 4))))
            for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, ids array<int>")
    out = {r["seq_id"]: r for r in pack_sequences(
        df, "ids", "doc_id", 8, eos_id=-1, boundaries=True).collect()}
    stream = []
    for i, ids in sorted(rows):
        first = True
        for t in ids + [-1]:
            stream.append((i, t, first))
            first = False
    for s, r in out.items():
        window = stream[s * 8:(s + 1) * 8]
        exp = [off for off, (_, _, st) in enumerate(window) if st]
        assert r["doc_starts"] == exp, (s, r["doc_starts"], exp)
        # consistency with n_docs: starts + mid-doc opener
        opener = 0 if (window[0][2]) else 1
        assert r["n_docs"] == len(exp) + opener
    # default output keeps the original schema
    cols = pack_sequences(df, "ids", "doc_id", 8).columns
    assert cols == ["seq_id", "input_ids", "n_docs"]


def test_pq_index_roundtrip(spark, tmp_path):
    """pq_save_index/pq_load_index: codebooks survive a parquet
    roundtrip bit-exactly, and encoding with the loaded index equals
    encoding with the in-memory one — the train-once-reuse-forever
    contract."""
    import numpy as np

    from tablite_spark.pipeline.similarity import (
        pq_encode, pq_load_index, pq_save_index, pq_train,
    )
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = pq_train(e, "vec_id", "embedding", m=4, n_codes=16)
    p = str(tmp_path / "pq_index")
    pq_save_index(spark, books, p)
    loaded = pq_load_index(spark, p)
    assert len(loaded) == len(books)
    for a, b in zip(books, loaded):
        assert np.array_equal(a, b)
    c1 = {r["nid"]: list(r["pq_code"]) for r in
          pq_encode(e, "vec_id", "embedding", books)
          .withColumnRenamed("vec_id", "nid").collect()}
    c2 = {r["nid"]: list(r["pq_code"]) for r in
          pq_encode(e, "vec_id", "embedding", loaded)
          .withColumnRenamed("vec_id", "nid").collect()}
    assert c1 == c2


def _census_vs_oracle(spark, op, query, rows, null_row):
    """``op`` over hand-built ``rows`` and over the sf0.001 corpus
    equals the registry's DuckDB oracle for ``query`` row for row —
    except the null-text doc (id 3), where Spark's census is null and
    the oracle's is 0: that row must equal ``null_row``. The plan has
    no shuffle."""
    import pandas as pd
    from duck_oracle import oracle

    from tablite_spark.plans import plan_report

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for df, pdf in ((docs, pd.DataFrame(rows, columns=["doc_id", "text"])),
                    (real, real.select("doc_id", "text").toPandas())):
        got = {r[0]: tuple(r[1:]) for r in op(df, "text", "doc_id").collect()}
        want = oracle(query, documents=pdf)
        want = {r[0]: tuple(r[1:]) for r in want.itertuples(index=False)}
        assert set(got) == set(want)
        if df is docs:
            assert got.pop(3) == null_row
            del want[3]
        assert got == want
    assert plan_report(op(real, "text", "doc_id"))["shuffles"] == 0


def test_dup_ngram_census_matches_oracle(spark):
    """The arrow census equals the DuckDB oracle field for field on
    the hostile cases — NBSP (Java \\s is ASCII-only; python
    str.split() would diverge), empty text, sub-n docs, overlapping
    duplicated runs — and on the real corpus, in a zero-shuffle
    plan. Null text gives a null word census and null rules."""
    from tablite_spark.pipeline.text import gopher_dup_ngram_coverage
    rows = [(0, "a b c d e a b c d e a b c d e"),
            (1, "one two three four five six seven "
                "one two three four five six seven"),
            (2, ""), (3, None), (4, "only four words here"),
            (5, "p q r s t u p q r s t u p q r s t u v w"),
            (6, "x " * 30), (7, "a\u00a0b c d e f a\u00a0b c d e f")]
    _census_vs_oracle(spark, gopher_dup_ngram_coverage,
                      "gopher_dup_ngrams_docs", rows,
                      (None,) + (0,) * 6 + (None,) * 7)


def test_repetition_census_matches_oracle(spark):
    """gopher_repetition equals the DuckDB oracle field for field on
    hostile docs (ties between grams, empty/one-word text, duplicate
    lines/paras, long repeats) and on the real corpus, in a
    zero-shuffle plan. Null text gives a null line census, top-gram
    masses 0 and null rules."""
    from tablite_spark.pipeline.text import gopher_repetition
    rows = [(0, "a b a b a b a b longer test gram gram gram"),
            (1, "one two three one two three one two four"),
            (2, ""), (3, None), (4, "w"),
            (5, "line1\nline1\nline2\n\npara\n\npara"),
            (6, "xy " * 40)]
    _census_vs_oracle(spark, gopher_repetition, "gopher_repetition_docs",
                      rows, (None,) * 9 + (0,) * 3 + (None,) * 8)


def test_pq_topk_with_prebuilt_index(spark, tmp_path):
    """pq_topk(books=...) with a persisted index returns identical
    results to the self-training path (same seed), skipping the
    per-call training cost."""
    from pyspark.sql import functions as F

    from tablite_spark.pipeline.similarity import (
        pq_load_index, pq_save_index, pq_topk, pq_train,
    )
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 3)
    books = pq_train(e, "vec_id", "embedding", m=4, n_codes=16)
    p = str(tmp_path / "idx")
    pq_save_index(spark, books, p)
    a = pq_topk(e, q, k=5, id_col="vec_id", vec_col="embedding",
                m=4, n_codes=16, refine=4).collect()
    b = pq_topk(e, q, k=5, id_col="vec_id", vec_col="embedding",
                m=4, n_codes=16, refine=4,
                books=pq_load_index(spark, p)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_resize_images_real_pixels(spark):
    """resize_images: REAL decode->box-average->re-encode through the
    pure-python codecs. A 2x2-block image resized to 2x2 recovers the
    block means (within JPEG quantization); PNG output is lossless-
    exact; null / non-image payloads yield null media, never a task
    failure; zero shuffles."""
    import numpy as np

    from tablite_spark.pipeline.jpeg import jpeg_encode
    from tablite_spark.pipeline.multimodal import (
        attach_media, resize_images,
    )
    from tablite_spark.pipeline.png import png_decode, png_encode
    from tablite_spark.plans import plan_report
    img = np.zeros((32, 32, 3), dtype=np.uint8)
    img[:16, :16] = 200; img[:16, 16:] = 50
    img[16:, :16] = 100; img[16:, 16:] = 250
    rows = [(0, bytearray(jpeg_encode(img, quality=95))),
            (1, bytearray(png_encode(img))),
            (2, None), (3, bytearray(b"junk"))]
    df = spark.createDataFrame(rows, "id long, data binary")
    m = attach_media(df, "data", "image/mixed")
    out = resize_images(m, width=2, height=2, out_format="png")
    assert plan_report(out)["shuffles"] == 0
    got = {r["id"]: r["media"] for r in out.collect()}
    assert got[2] is None and got[3] is None
    exp = np.array([[[200] * 3, [50] * 3], [[100] * 3, [250] * 3]],
                   dtype=np.uint8)
    # png path: box means are exact
    assert np.array_equal(png_decode(bytes(got[1]["data"])), exp)
    # jpeg input decodes within quantization of the block means
    dec = png_decode(bytes(got[0]["data"])).astype(int)
    assert np.abs(dec - exp.astype(int)).max() <= 12
    assert got[0]["mime"] == "image/png"
    assert (got[0]["width"], got[0]["height"]) == (2, 2)


def test_pack_sequences_loss_mask_alignment(spark):
    """mask_col packs an aligned loss_mask: every window slot's mask
    is the mask of the token in that slot (prompt=0 completion=1 SFT
    layout), EOS slots get eos_mask, across window boundaries."""
    from tablite_spark.pipeline.text import pack_sequences
    rows = []
    for i in range(12):
        p, c = 2 + i % 3, 3 + i % 4   # prompt / completion lengths
        ids = list(range(i * 100, i * 100 + p + c))
        mask = [0] * p + [1] * c
        rows.append((i, ids, mask))
    df = spark.createDataFrame(rows, "doc_id long, ids array<int>, "
                                     "mask array<int>")
    out = pack_sequences(df, "ids", "doc_id", 8, eos_id=-1,
                         mask_col="mask", eos_mask=0).collect()
    tok2mask = {}
    for i, ids, mask in rows:
        for t, m in zip(ids, mask):
            tok2mask[t] = m
        tok2mask[-1] = 0
    for r in out:
        assert len(r["input_ids"]) == len(r["loss_mask"]) == 8
        for t, m in zip(r["input_ids"], r["loss_mask"]):
            assert m == tok2mask[t], (r["seq_id"], t, m)
    # without mask_col the column is absent
    assert "loss_mask" not in pack_sequences(
        df, "ids", "doc_id", 8).columns


def test_resample_audio_preserves_signal(spark):
    """resample_audio 48k -> 16k: a 440 Hz sine keeps its duration,
    frequency (zero-crossing count) and amplitude through linear-
    interpolation resampling; junk/null payloads yield null media;
    zero shuffles."""
    import numpy as np

    from tablite_spark.pipeline.multimodal import (
        attach_media, resample_audio, wav_encode, wav_samples,
    )
    from tablite_spark.plans import plan_report
    sr = 48_000
    t = np.arange(sr // 2) / sr  # 0.5 s
    sine = (0.5 * np.sin(2 * np.pi * 440 * t) * 32767).astype("<i2")
    rows = [(0, bytearray(wav_encode(sine, sr))),
            (1, None), (2, bytearray(b"junk"))]
    df = spark.createDataFrame(rows, "id long, data binary")
    out = resample_audio(attach_media(df, "data", "audio/wav"),
                         target_rate=16_000)
    assert plan_report(out)["shuffles"] == 0
    got = {r["id"]: r["media"] for r in out.collect()}
    assert got[1] is None and got[2] is None
    m = got[0]
    assert m["sample_rate"] == 16_000
    assert abs(m["duration_ms"] - 500) <= 1
    rate, y = wav_samples(bytes(m["data"]))
    assert rate == 16_000 and abs(len(y) - 8000) <= 1
    zc = int(np.sum(np.abs(np.diff(np.signbit(y)))))
    assert abs(zc - 440) <= 2, zc  # 440 cycles in 0.5 s -> ~440 zc
    assert 0.45 <= float(np.abs(y).max()) <= 0.55


def test_cluster_holdout_split_no_neardup_leakage(spark):
    """cluster_holdout_split: every planted near-dup pair lands
    wholly in train or wholly in holdout (zero straddling clusters),
    the split is disjoint+complete, and singleton docs split by
    their own id hash — while the plain per-doc split DOES straddle
    some planted pair (demonstrating the hazard)."""
    from pyspark.sql import functions as F

    from tablite_spark.pipeline.dedup import (
        connected_components, minhash_lsh_candidates, shingle_minhash,
    )
    from tablite_spark.pipeline.sampling import (
        cluster_holdout_split, train_holdout_split,
    )
    base = [(i, " ".join(f"w{i}x{j}" for j in range(30)))
            for i in range(300)]
    dups = [(1000 + i, base[i][1]) for i in range(0, 300, 3)]
    df = spark.createDataFrame(base + dups, "doc_id long, text string")
    sig = shingle_minhash(df, "text", "doc_id")
    cc = connected_components(minhash_lsh_candidates(sig, "doc_id"))
    train, hold = cluster_holdout_split(df, "doc_id", cc, 0.3)
    t_ids = {r["doc_id"] for r in train.collect()}
    h_ids = {r["doc_id"] for r in hold.collect()}
    assert t_ids.isdisjoint(h_ids)
    assert t_ids | h_ids == {r[0] for r in base + dups}
    assert len(h_ids) > 10  # the 30% hash split actually holds out
    straddle = sum((i in t_ids) != (1000 + i in t_ids)
                   for i in range(0, 300, 3))
    assert straddle == 0, straddle
    # the hazard is real: the per-doc split straddles some pair
    tr2, _ = train_holdout_split(df, "doc_id", 0.3)
    t2 = {r["doc_id"] for r in tr2.collect()}
    assert sum((i in t2) != (1000 + i in t2)
               for i in range(0, 300, 3)) > 0


def test_bpe_files_roundtrip(spark, tmp_path):
    """train_bpe -> save_bpe_files -> BPETokenizer.from_files: the
    reloaded tokenizer encodes identically to the in-memory one over
    corpus text (GPT-2 file-format round-trip)."""
    from tablite_spark.pipeline.bpe import (
        BPETokenizer, save_bpe_files, train_bpe,
    )
    texts = [f"hello world number {i} of the corpus" for i in range(30)]
    vocab, merges = train_bpe(texts, 350)
    vp, mp = str(tmp_path / "vocab.json"), str(tmp_path / "merges.txt")
    save_bpe_files(vocab, merges, vp, mp)
    a = BPETokenizer(vocab, merges)
    b = BPETokenizer.from_files(vp, mp)
    for t in texts + ["unseen text with ünïcode 🎉"]:
        ea, eb = a.encode(t), b.encode(t)
        assert ea == eb, t
        assert b.decode(eb) == t


def test_incremental_minhash_index_roundtrip(spark, tmp_path):
    """Persisted MinHash index (save→load→probe) + update_index
    append: batch2's dup of a batch1 SURVIVOR is caught only because
    the accepted docs' signatures/bands were appended to the index."""
    from pyspark.sql import functions as F

    from tablite_spark.pipeline.dedup import (
        incremental_minhash_dedup, minhash_load_index,
        minhash_save_index, shingle_minhash,
    )

    def doc(i, prefix="tok"):
        return " ".join(f"{prefix}{i * 1000 + j}" for j in range(1, 31))

    corpus = spark.createDataFrame(
        [(i, doc(i)) for i in range(20)], "doc_id long, text string")
    idx = str(tmp_path / "index")
    minhash_save_index(shingle_minhash(corpus, "text", "doc_id"),
                       "doc_id", idx)
    sig, bands, meta = minhash_load_index(spark, idx)
    assert meta == {"num_perm": 128, "bands": 32}
    assert sig.count() == 20 and bands.count() == 20 * 32

    # batch1: one corpus dup (dropped), one fresh (kept, id 101), one
    # in-batch dup of the fresh doc (dropped, larger id loses)
    batch1 = spark.createDataFrame(
        [(100, doc(5)), (101, doc(900, "new")), (102, doc(900, "new"))],
        "doc_id long, text string")
    out1 = incremental_minhash_dedup(batch1, "text", "doc_id", idx,
                                     update_index=True)
    assert sorted(r["doc_id"] for r in out1.collect()) == [101]
    # index grew by exactly the accepted doc
    sig2, bands2, _ = minhash_load_index(spark, idx)
    assert sig2.count() == 21 and bands2.count() == 21 * 32

    # batch2: dup of batch1's survivor — only catchable via the append
    batch2 = spark.createDataFrame(
        [(200, doc(900, "new")), (201, doc(901, "new"))],
        "doc_id long, text string")
    out2 = incremental_minhash_dedup(batch2, "text", "doc_id", idx)
    assert sorted(r["doc_id"] for r in out2.collect()) == [201]

    # near-dup (not exact) across the index: 29/30 shared tokens
    near = doc(901, "new").rsplit(" ", 1)[0] + " zzz"
    batch3 = spark.createDataFrame(
        [(300, near)], "doc_id long, text string")
    # batch2 was NOT appended (update_index default False) -> 901 absent
    assert incremental_minhash_dedup(
        batch3, "text", "doc_id", idx).count() == 1


def test_minhash_append_validates_stored_meta(spark, tmp_path):
    """mode='append' with num_perm/bands differing from the index's
    recorded meta must RAISE — mismatched banding writes rows that
    never collide in future probes (silent under-dedup); omitted
    parameters inherit the stored values."""
    import pytest as _pytest

    from tablite_spark.pipeline.dedup import (
        minhash_load_index, minhash_save_index, shingle_minhash,
    )
    corpus = spark.createDataFrame(
        [(i, " ".join(f"w{i * 100 + j}" for j in range(30)))
         for i in range(6)], "doc_id long, text string")
    idx = str(tmp_path / "idx")
    sig64 = shingle_minhash(corpus, "text", "doc_id", num_perm=64)
    minhash_save_index(sig64, "doc_id", idx, bands=16, num_perm=64)
    more = spark.createDataFrame(
        [(100, " ".join(f"x{j}" for j in range(30)))],
        "doc_id long, text string")
    sig_more = shingle_minhash(more, "text", "doc_id", num_perm=64)
    with _pytest.raises(ValueError, match="num_perm"):
        minhash_save_index(sig_more, "doc_id", idx, num_perm=128,
                           bands=16, mode="append")
    with _pytest.raises(ValueError, match="bands"):
        minhash_save_index(sig_more, "doc_id", idx, num_perm=64,
                           bands=32, mode="append")
    # defaults (None) inherit the stored 64/16 — Config's 128/32 must
    # NOT leak in just because the caller omitted the parameters
    minhash_save_index(sig_more, "doc_id", idx, mode="append")
    sig, bands, meta = minhash_load_index(spark, idx)
    assert meta == {"num_perm": 64, "bands": 16}
    assert sig.count() == 7 and bands.count() == 7 * 16


def test_cluster_dedup_keep_best(spark):
    """Keep-best retains the highest-score member per component (tie
    -> min id), keeps no-pair docs untouched, and differs from
    keep-min-id when quality is not monotone in id."""
    from pyspark.sql import functions as F

    from tablite_spark.pipeline.dedup import (
        cluster_dedup, cluster_dedup_keep_best,
    )
    df = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (3, 9.0),   # cluster A: best=2 (tie 2<3)
         (10, 1.0), (11, 7.0),           # cluster B: best=11
         (99, 0.0)],                     # singleton: kept
        "doc_id long, q double")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    best = sorted(r["doc_id"] for r in
                  cluster_dedup_keep_best(df, pairs, "doc_id", "q")
                  .collect())
    assert best == [2, 11, 99], best
    keep_min = sorted(r["doc_id"] for r in
                      cluster_dedup(df, pairs, "doc_id").collect())
    assert keep_min == [1, 10, 99], keep_min  # provably different
    # non-numeric id -> clear error
    sdf = df.select(F.col("doc_id").cast("string").alias("doc_id"), "q")
    import pytest as _pytest
    with _pytest.raises(TypeError):
        cluster_dedup_keep_best(sdf, pairs, "doc_id", "q")


# ---------------------------------------------------------------- clustering

def _serial_kmeans(points: dict, k: int, iters: int, scale: int = 1 << 20):
    """Independent serial reference for kmeans_fit: same contract
    (md5-seeded init, struct-min tie-break, floor-mean update, empty
    cells carry), written against plain Python so a Spark-side bug
    can't mirror itself."""
    import hashlib
    import math

    q = {i: [math.floor(x * scale + 0.5) for x in v]
         for i, v in points.items()}
    order = sorted(q, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    cents = [list(q[i]) for i in order[:k]]

    def nearest(v):
        best = None
        for j, c in enumerate(cents):
            d = sum((a - b) * (a - b) for a, b in zip(v, c))
            if best is None or (d, j) < best:
                best = (d, j)
        return best[1]

    for _ in range(iters):
        cells = {}
        for i, v in q.items():
            cells.setdefault(nearest(v), []).append(v)
        cents = [
            [math.floor(sum(col) / len(vs)) for col in zip(*vs)]
            if (vs := cells.get(j)) else cents[j]
            for j in range(len(cents))]
    assign = {i: nearest(v) for i, v in q.items()}
    return cents, assign


def test_kmeans_matches_serial_reference(spark):
    """Distributed Lloyd's == the serial reference, bit-exact: two
    offset blobs plus stragglers, every centroid component and every
    final assignment identical."""
    from tablite_spark.pipeline.clustering import kmeans_assign, kmeans_fit
    pts = {}
    for i in range(40):
        pts[i] = [0.01 * (i % 7), 0.02 * (i % 5), -0.01 * i]
    for i in range(40, 70):
        pts[i] = [5.0 + 0.01 * (i % 3), -4.0, 2.0 + 0.005 * i]
    exp_cents, exp_assign = _serial_kmeans(pts, k=3, iters=3)

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in pts.items()],
        "vec_id long, embedding array<double>")
    cents = kmeans_fit(df, "embedding", "vec_id", k=3, iters=3)
    assert cents == exp_cents
    got = {r["vec_id"]: r["cell"]
           for r in kmeans_assign(df, "embedding", cents).collect()}
    assert got == exp_assign
    # the blobs actually separate (sanity that the fixture is real)
    assert len({got[i] for i in range(40)} & {got[i] for i in range(40, 70)}) == 0


def test_kmeans_numpy_assign_bit_identical(spark):
    """The high-dim Arrow numpy assign kernel must agree with the
    literal-expression path bit-for-bit — including argmin TIES
    (both break to the lowest cell id) — and a full fit must produce
    identical centroids whichever path the k·dim gate picks."""
    import tablite_spark.pipeline.clustering as cl

    # dim 48, k=6 -> k*dim=288: expression path by default; force the
    # numpy path by dropping the gate and compare
    rows = []
    for i in range(300):
        rows.append((i, [((i * 31 + j * 7) % 41) / 20.0 - 1.0
                         for j in range(48)]))
    # exact duplicates of centroid-bound points force distance ties
    rows += [(1000 + i, rows[i][1]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    old = cl._NUMPY_ASSIGN_CELLS
    try:
        cl._NUMPY_ASSIGN_CELLS = 10 ** 9  # expression path
        cents_expr = cl.kmeans_fit(df, "embedding", "vec_id", k=6, iters=3)
        a_expr = {r["vec_id"]: r["cell"] for r in
                  cl.kmeans_assign(df, "embedding", cents_expr).collect()}
        cl._NUMPY_ASSIGN_CELLS = 0  # numpy path
        cents_np = cl.kmeans_fit(df, "embedding", "vec_id", k=6, iters=3)
        a_np = {r["vec_id"]: r["cell"] for r in
                cl.kmeans_assign(df, "embedding", cents_np).collect()}
    finally:
        cl._NUMPY_ASSIGN_CELLS = old
    assert cents_np == cents_expr
    assert a_np == a_expr


def test_kmeans_empty_cell_carries_seed(spark):
    """Duplicate seeds force every point into the lower cell (ties
    break to the lowest j); the starved cell must CARRY its seed
    centroid, not collapse to zeros, and still report n_points=0."""
    from tablite_spark.pipeline.clustering import kmeans_cells
    df = spark.createDataFrame(
        [(i, [1.0, -1.0]) for i in range(6)],
        "vec_id long, embedding array<double>")
    out = {r["cell"]: r for r in
           kmeans_cells(df, "embedding", "vec_id", k=2, iters=2).collect()}
    scale = 1 << 20
    seed_csv = f"{scale},{-scale}"
    assert out[0]["n_points"] == 6 and out[0]["centroid_csv"] == seed_csv
    assert out[1]["n_points"] == 0 and out[1]["centroid_csv"] == seed_csv


# ---------------------------------------------------------------- preference

def test_preference_pairs_semantics(spark):
    """chosen = argmax(score, tie→min id), rejected = argmin(score,
    tie→min id); all-tied prompts drop; texts ride the structs."""
    from tablite_spark.pipeline.preference import build_preference_pairs
    rows = [
        # prompt 1: clear winner/loser + a tie at the top (ids 11,12)
        (1, 11, "resp-a", 9.0), (1, 12, "resp-b", 9.0),
        (1, 13, "resp-c", 1.0),
        # prompt 2: all responses tie -> no pair
        (2, 21, "x", 5.0), (2, 22, "y", 5.0),
        # prompt 3: margin too small at margin=2
        (3, 31, "p", 4.0), (3, 32, "q", 3.0),
    ]
    df = spark.createDataFrame(
        rows, "prompt_id long, doc_id long, text string, score double")
    out = {r["prompt_id"]: r for r in build_preference_pairs(
        df, "prompt_id", "doc_id", "text", "score", margin=2.0).collect()}
    assert set(out) == {1}
    assert out[1]["chosen_id"] == 11 and out[1]["chosen_text"] == "resp-a"
    assert out[1]["rejected_id"] == 13 and out[1]["rejected_text"] == "resp-c"
    assert out[1]["pair_margin"] == 8.0


def test_preference_pairs_len_ratio_debias(spark):
    """max_len_ratio drops length-confounded pairs, cross-multiplied
    so a zero-length rejected response can't sneak through as Inf."""
    from tablite_spark.pipeline.preference import build_preference_pairs
    rows = [
        (1, 1, "a" * 100, 9.0), (1, 2, "b" * 10, 1.0),   # ratio 10 -> drop
        (2, 3, "c" * 30, 9.0), (2, 4, "d" * 20, 1.0),    # ratio 1.5 -> keep
        (3, 5, "e" * 50, 9.0), (3, 6, "", 1.0),          # empty -> drop
    ]
    df = spark.createDataFrame(
        rows, "prompt_id long, doc_id long, text string, score double")
    out = build_preference_pairs(df, "prompt_id", "doc_id", "text",
                                 "score", max_len_ratio=2.0).collect()
    assert [r["prompt_id"] for r in out] == [2]


# ---------------------------------------------------------------- hybrid RRF

def test_rrf_fuse_semantics(spark):
    """Integer-unit RRF: doc in both rankings outranks single-source
    docs; exact micro-unit sums; ties break by id."""
    from tablite_spark.pipeline.retrieval import rrf_fuse
    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "qid long, doc_id long, rank int")
    b = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2)], "qid long, doc_id long, rank int")
    out = {r["doc_id"]: r for r in rrf_fuse([a, b], k=10).collect()}
    u = 10 ** 12
    # doc 11: rank 2 in a + rank 1 in b
    assert out[11]["rrf_score"] == u // 62 + u // 61
    assert out[11]["n_sources"] == 2 and out[11]["rank"] == 1
    assert out[10]["rrf_score"] == u // 61 and out[10]["n_sources"] == 1
    # 10 (rank1 in a) beats 13 (rank2 in b); 12 last
    assert [out[d]["rank"] for d in (11, 10, 13, 12)] == [1, 2, 3, 4]


def test_rrf_fuse_tie_breaks_by_id(spark):
    """Identical contributions → ascending doc_id order."""
    from tablite_spark.pipeline.retrieval import rrf_fuse
    a = spark.createDataFrame(
        [(1, 20, 1), (1, 7, 1)], "qid long, doc_id long, rank int")
    # two rankings each give rank 1 to a different doc
    b = spark.createDataFrame(
        [(1, 7, 1), (1, 20, 1)], "qid long, doc_id long, rank int")
    out = rrf_fuse([a.limit(1).union(a.limit(0)),  # only (1,20,1)
                    b.limit(0).union(b)], k=10).collect()
    by_rank = sorted(out, key=lambda r: r["rank"])
    # doc 7 and doc 20 both end with u//61 (+20 gets one more from a)
    assert by_rank[0]["doc_id"] == 20  # two sources
    assert by_rank[1]["doc_id"] == 7


# ------------------------------------------------------------ hard negatives

def test_hard_negatives_label_and_exclude(spark):
    """Same-label items and explicitly-excluded pairs never appear;
    the top-k ranks by cosine among what remains."""
    from tablite_spark.pipeline.similarity import hard_negatives
    # 1-hot-ish vectors: cos(q, n) = overlap of their hot dims
    rows = [
        (0, [1.0, 0.0, 0.0], "a"),   # query
        (1, [1.0, 0.1, 0.0], "a"),   # near-dup but SAME label -> excluded
        (2, [1.0, 0.2, 0.0], "b"),   # hardest cross-label negative
        (3, [0.9, 0.5, 0.0], "b"),   # second
        (4, [0.0, 0.0, 1.0], "b"),   # orthogonal
        (5, [1.0, 0.0, 0.1], "c"),   # would rank 1st but explicitly excluded
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string")
    probes = emb.filter(F.col("vec_id") == 0)
    excl = spark.createDataFrame([(0, 5)], "qid long, nid long")
    out = hard_negatives(emb, probes, k=2, id_col="vec_id",
                         vec_col="embedding", label_col="label",
                         exclude=excl).collect()
    got = [(r["nid"], r["rn"], r["nlabel"]) for r in
           sorted(out, key=lambda r: r["rn"])]
    assert got == [(2, 1, "b"), (3, 2, "b")], got


def test_hard_negatives_null_label_is_distinct(spark):
    """NULL labels are DISTINCT from everything (null-safe semantics):
    a null-labeled item is a valid negative for any query, and a
    null-labeled query excludes nothing by label."""
    from tablite_spark.pipeline.similarity import hard_negatives
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0], "a"), (1, [1.0, 0.01], None),
         (2, [0.0, 1.0], "a")],
        "vec_id long, embedding array<double>, label string")
    probes = emb.filter(F.col("vec_id") == 0)
    out = hard_negatives(emb, probes, k=5, id_col="vec_id",
                         vec_col="embedding", label_col="label").collect()
    assert [r["nid"] for r in out] == [1]  # 2 shares label 'a'; 1 is null


# ---------------------------------------------------------------- pagerank

def _serial_pagerank(edges, iters=3, d=0.85, unit=10 ** 12):
    """Independent serial reference mirroring the graph.py contract."""
    import math
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    out = {}
    for u, _ in edges:
        out[u] = out.get(u, 0) + 1
    n = len(nodes)
    r = {v: math.floor(unit / n) for v in nodes}
    base = math.floor((1.0 - d) * unit / n)
    for _ in range(iters):
        dang = sum(r[v] for v in nodes if out.get(v, 0) == 0)
        share = math.floor(d * dang / n)
        s = {v: 0 for v in nodes}
        for u, v in edges:
            s[v] += math.floor(r[u] / out[u])
        r = {v: base + share + math.floor(d * float(s[v]))
             for v in nodes}
    return r


def test_pagerank_matches_serial_reference(spark):
    """Distributed == serial, bit-exact, on a graph with a hub, a
    cycle, parallel edges, and dangling nodes."""
    from tablite_spark.pipeline.graph import pagerank
    edges = ([(1, 9), (2, 9), (3, 9), (4, 9)]      # star into hub 9
             + [(9, 1)]                            # hub points back
             + [(5, 6), (6, 7), (7, 5)]            # 3-cycle
             + [(8, 9), (8, 9)]                    # parallel edges
             + [(10, 11)])                         # 11 dangling
    exp = _serial_pagerank(edges)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"]
           for r in pagerank(df, "src", "dst", iters=3).collect()}
    assert got == exp
    # the hub outranks every spoke
    assert got[9] == max(got.values())


def test_pagerank_dangling_mass_redistributed(spark):
    """Two nodes, one edge, sink dangling: without redistribution the
    sink's mass would leak each round. Total mass must stay within
    iters·N micro-units of the full unit (each floor sheds < 1)."""
    from tablite_spark.pipeline.graph import pagerank
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    got = {r["node"]: r["rank"]
           for r in pagerank(df, "src", "dst", iters=10).collect()}
    total = sum(got.values())
    assert abs(total - 10 ** 12) < 10 * 2 * 4  # iters*N*(floors per rank)
    assert got[2] > got[1]  # the sink receives 1's mass plus its share


def test_pagerank_is_ppr_seeded_with_every_node(spark):
    """pagerank is personalized_pagerank restarting to all nodes: the
    same rows, dangling node included."""
    from tablite_spark.pipeline.graph import pagerank, personalized_pagerank
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (1, 4), (5, 1), (5, 1),
             (2, 6)]  # 4 and 6 dangling, 5 has no in-edge
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(v,) for v in range(1, 7)],
                                  "node long")
    pr = pagerank(df, "src", "dst", iters=4)
    ppr = personalized_pagerank(df, seeds, "src", "dst", iters=4)
    assert pr.schema == ppr.schema
    assert sorted(pr.collect()) == sorted(ppr.collect())


def test_pagerank_checkpoint_blocks_bounded(spark):
    """Per-iteration localCheckpoints must be unpersisted as they are
    superseded — cached RDD blocks may not grow linearly with iters
    (a 50-iteration run on a 100 TB graph would otherwise pin 50
    copies of the rank state in executor storage)."""
    from tablite_spark.pipeline.graph import pagerank
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    df = spark.createDataFrame(
        [(i, (i * 7) % 50) for i in range(200)], "src long, dst long")
    out = pagerank(df, "src", "dst", iters=8)
    assert out.count() > 0
    after = jsc.getPersistentRDDs().size()
    # only the FINAL ranks checkpoint may remain (8 iterations would
    # otherwise leave 9+ pinned frames: base_nodes + one per round)
    assert after - before <= 1


# ------------------------------------------------------------- snapshot diff

def test_snapshot_diff_statuses(spark):
    """added / removed / changed / unchanged each classified by
    CONTENT hash, not row position."""
    from tablite_spark.pipeline.dedup import snapshot_diff
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string")
    # reordered rows; 2 rewritten; 3 dropped; 4 added
    new = spark.createDataFrame(
        [(4, "d"), (2, "B2"), (1, "a")], "doc_id long, text string")
    got = {r["doc_id"]: r["status"]
           for r in snapshot_diff(old, new, "doc_id", "text").collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed",
                   4: "added"}


def test_topk_zero_norm_vectors_excluded_both_paths(spark):
    """ADVICE r8: zero-norm vectors have undefined cosine (0/0=NaN).
    Contract: such pairs are EXCLUDED in BOTH scoring paths — a
    zero-norm query returns no rows, a zero-norm corpus row is never
    a neighbor — instead of NaN poisoning np.partition's kth cut
    (batched) or NaN-sorts-greatest ranking it first (catalyst)."""
    import random

    from tablite_spark.pipeline.similarity import (
        batched_topk, brute_force_topk,
    )
    rnd = random.Random(17)
    rows = [(i, [rnd.gauss(0, 1) for _ in range(6)]) for i in range(40)]
    rows += [(100, [0.0] * 6), (101, [0.0] * 6)]  # zero-norm corpus rows
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter((F.col("vec_id") < 3) | (F.col("vec_id") == 100))
    key = lambda out: sorted((r["qid"], r["rn"], r["nid"], r["cos"])
                             for r in out.collect())
    exact = key(brute_force_topk(df, q, k=38, id_col="vec_id",
                                 vec_col="embedding"))
    fast = key(batched_topk(df, q, k=38, id_col="vec_id",
                            vec_col="embedding"))
    assert fast == exact
    qids = {t[0] for t in exact}
    nids = {t[2] for t in exact}
    assert 100 not in qids and not ({100, 101} & nids)
    # finite candidates must survive a batch that contains zero-norm
    # rows even when k < corpus size (the kth-cut poisoning case)
    small = key(batched_topk(df, q, k=3, id_col="vec_id",
                             vec_col="embedding"))
    assert {t[0] for t in small} == {0, 1, 2}
    assert all(t[3] == t[3] for t in small)  # no NaN survives


def test_tfidf_keywords_reference_implementation(spark):
    """Top-k tf-idf must equal a pure-python replay (same integer
    micronat idf, same (score desc, term asc) tie order); zero-token
    docs produce no rows."""
    import math

    from tablite_spark.pipeline.text import tfidf_keywords
    rows = [(0, "apple banana apple cherry"),
            (1, "banana cherry cherry date"),
            (2, "apple apple apple"),
            (3, "!!!")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    texts = {r[0]: [t for t in r[1].lower().split() if t.isalnum()]
             for r in rows}
    # r10: N counts TOKENIZED docs (lazily derived from the tf frame
    # so the corpus is scanned once — doc 3 normalizes to nothing)
    n = sum(1 for toks in texts.values() if toks)
    dfc = {}
    for toks in texts.values():
        for t in set(toks):
            dfc[t] = dfc.get(t, 0) + 1
    idf = {t: math.floor(1e6 * math.log((n + 1) / (c + 1)))
           for t, c in dfc.items()}
    want = {}
    for d, toks in texts.items():
        sc = sorted(((toks.count(t) * idf[t], t) for t in set(toks)),
                    key=lambda x: (-x[0], x[1]))[:2]
        for r, (s, t) in enumerate(sc, 1):
            want[(d, t)] = (s, r)
    got = {(r["doc_id"], r["term"]): (r["score_micro"], r["rank"])
           for r in tfidf_keywords(df, "text", "doc_id", k=2).collect()}
    assert got == want
    assert not any(d == 3 for d, _ in got)


def test_tfidf_single_scan_reused_exchange(spark):
    """ADVICE r9: tf-idf must materialize the scan+explode+partial-agg
    pipeline ONCE — the df() and N branches consume tf's exchange via
    ReusedExchange (the F.when pruning barriers keep the three
    branches' tf subplans canonically identical). Gate: the executed
    plan reuses at least two exchanges and the pre-execution physical
    plan contains exactly one Generate (explode) materialization."""
    from tablite_spark.pipeline.text import tfidf_keywords
    df = spark.createDataFrame(
        [(i, f"alpha beta gamma{i % 3} delta") for i in range(40)],
        "doc_id long, text string")
    out = tfidf_keywords(df, "text", "doc_id", k=2)
    assert len(out.collect()) > 0
    # under AQE the reuse decision lands in the FINAL adaptive plan
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert "isFinalPlan=true" in plan
    assert plan.count("ReusedExchange") >= 2, plan[:2000]


def _winnow_ref(text, k, w):
    import hashlib
    import re
    norm = re.sub(r"\s+", " ", text.lower())
    grams = [norm[i:i + k] for i in range(len(norm) - k + 1)]
    h = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
         for g in grams]
    if len(h) < w:
        return set()
    out = set()
    for p in range(len(h) - w + 1):
        win = h[p:p + w]
        m = min(win)
        pos = p + (len(win) - 1 - win[::-1].index(m))  # rightmost min
        out.add((m, pos))
    return out


def test_winnow_fingerprints_reference(spark):
    """Robust winnowing must match a pure-python MOSS reference:
    rightmost-min tie rule, ~2/(w+1) density, k+w-1 shared-substring
    guarantee."""
    from tablite_spark.pipeline.dedup import (
        winnow_fingerprints, winnow_matches,
    )
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "a quick brown fox jumped high"),
        (2, "zzzz"),                     # shorter than k+w-1 -> empty
        (3, "THE  QUICK   Brown fox"),   # ws+case normalize
        (4, "completely different content here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    k, w = 5, 4
    got = {}
    for r in winnow_fingerprints(df, "text", "doc_id",
                                 k=k, window=w).collect():
        got.setdefault(r["doc_id"], set()).add((r["fp"], r["pos"]))
    for d, text in rows:
        want = _winnow_ref(text, k, w)
        assert got.get(d, set()) == want, d
    # shared-substring guarantee: docs 0 and 3 share "quick brown fox"
    # (len 15 >= k+w-1=8) -> at least one common fingerprint value
    fps0 = {fp for fp, _ in got[0]}
    fps3 = {fp for fp, _ in got[3]}
    assert fps0 & fps3
    m = {(r["id_a"], r["id_b"]): r["shared_fps"] for r in
         winnow_matches(df, "text", "doc_id", k=k,
                        window=w).collect()}
    assert (0, 3) in m and m[(0, 3)] >= 1
    assert not any(4 in pair for pair in m)  # no spurious matches
    # max_df cut: with max_df=1 every fp shared by 2+ docs drops
    m1 = winnow_matches(df, "text", "doc_id", k=k, window=w,
                        max_df=1).collect()
    assert m1 == []


def test_winnow_matches_boilerplate_cut_semantics(spark):
    """MOSS semantics: a match living ENTIRELY in boilerplate (every
    shared fingerprint appears in > max_df docs) is deliberately not
    reported; raising max_df restores it. Found by the 5M-doc
    burn-in, where template-worded planted passages vanished under
    the too-common cut."""
    from tablite_spark.pipeline.dedup import winnow_matches
    boiler = "this footer appears everywhere in the corpus verbatim"
    rows = [(i, f"unique{i:03d} " * 4 + boiler) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {(r["id_a"], r["id_b"]): r["shared_fps"] for r in
            winnow_matches(df, "text", "doc_id", k=8, window=4,
                           max_df=6).collect()}
    assert len(kept) == 15  # all C(6,2) pairs share the footer
    # the cut censuses SELECTED fingerprints: footer fps selected in
    # all 6 docs drop at max_df=5, so every surviving pair loses
    # shared mass (boundary-window fps selected in <= 5 docs may
    # legitimately remain — window alignment near each doc's unique
    # prefix differs, faithful MOSS census semantics)
    cut = {(r["id_a"], r["id_b"]): r["shared_fps"] for r in
           winnow_matches(df, "text", "doc_id", k=8, window=4,
                          max_df=5).collect()}
    assert sum(cut.values()) < sum(kept.values())
    assert all(cut[p] < kept[p] for p in cut)
    # fps unique to one doc can never pair
    assert winnow_matches(df, "text", "doc_id", k=8, window=4,
                          max_df=1).collect() == []


def test_jaccard_join_exact_vs_bruteforce(spark):
    """PPJoin-style prefix filtering must lose NO pair above the
    threshold (pigeonhole completeness) and report exact
    intersection/union sizes — verified against a brute-force python
    replay over a corpus with shared boilerplate (hot tokens that
    must not fan out) and graded overlaps around the threshold."""
    import itertools
    import random

    from tablite_spark.pipeline.dedup import jaccard_join
    rnd = random.Random(9)
    vocab = [f"w{i}" for i in range(60)]
    rows = []
    for i in range(80):
        # every doc shares boilerplate tokens; bodies overlap randomly
        body = rnd.sample(vocab, rnd.randrange(4, 16))
        rows.append((i, "the a of " + " ".join(body)))
    rows.append((900, ""))      # no tokens -> pairs with nothing
    rows.append((901, "!!!"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t = 0.5
    got = {(r["id_a"], r["id_b"]): (r["n_common"],
                                    round(r["jaccard"], 9))
           for r in jaccard_join(df, "text", "doc_id",
                                 threshold=t).collect()}
    sets = {i: set(("the a of " + txt.split("of ", 1)[-1]).split())
            if False else set(txt.lower().split())
            for i, txt in rows if txt.split()}
    sets = {i: {w for w in s if w.isalnum()} for i, s in sets.items()}
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        un = len(sets[a] | sets[b])
        if un and inter / un >= t:
            want[(a, b)] = (inter, round(inter / un, 9))
    assert got == want and len(want) > 3
    assert not any(900 in p or 901 in p for p in got)


def test_jaccard_join_plan_no_cartesian_no_broadcast(spark):
    from tablite_spark.pipeline.dedup import jaccard_join
    df = spark.createDataFrame([(1, "a b c"), (2, "a b d")],
                               "doc_id long, text string")
    out = jaccard_join(df, "text", "doc_id", threshold=0.4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "BroadcastHashJoin" not in plan  # every side merge-hinted
    rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert rows == {(1, 2): 0.5}


def test_kmeans_driver_valve_parity(spark, monkeypatch):
    """The count-gated driver twin (r14) must reproduce the
    distributed Lloyd loop EXACTLY — centroids, including argmin
    ties, empty-cell carries and the floor(int/int) float division —
    and the env knob must really force the distributed path."""
    import tablite_spark.pipeline.clustering as cl

    rows = []
    for i in range(200):
        rows.append((i, [((i * 13 + j * 5) % 37) / 18.0 - 1.0
                         for j in range(16)]))
    rows += [(500 + i, rows[i][1]) for i in range(5)]  # distance ties
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")

    monkeypatch.setenv("SPARK_GRAFT_KMEANS_DRIVER_CELLS", "0")
    dist = cl.kmeans_fit(df, "embedding", "vec_id", k=5, iters=3)
    monkeypatch.setenv("SPARK_GRAFT_KMEANS_DRIVER_CELLS", "100000000")
    twin = cl.kmeans_fit(df, "embedding", "vec_id", k=5, iters=3)
    assert twin == dist


def test_kmeans_driver_twin_falls_back_on_ragged_or_huge(spark):
    """The twin declines (returns None -> distributed loop) on
    ragged vectors and on magnitudes that could wrap int64 — both
    must still produce a result identical to the distributed path."""
    import numpy as np

    import tablite_spark.pipeline.clustering as cl

    # ragged: one row with a different dim — _driver_lloyd sees it
    q = spark.createDataFrame(
        [(0, [1, 2]), (1, [3, 4]), (2, [5, 6, 7])],
        "vec_id long, qv array<bigint>")
    assert cl._driver_lloyd(q, [[1, 2]], 1) is None
    # huge magnitudes: guard refuses (4*dim*mx^2 >= 2^62)
    big = int(2 ** 31)
    q2 = spark.createDataFrame(
        [(0, [big, big]), (1, [-big, big])],
        "vec_id long, qv array<bigint>")
    assert cl._driver_lloyd(q2, [[big, big]], 1) is None
