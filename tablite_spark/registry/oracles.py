"""DuckDB oracle SQL for every registry query (the `_oracle_sql_base`
dict plus its helper builders) — split verbatim from
``__spark_entry__.py`` (round 12).
"""
from __future__ import annotations

from tablite_spark.registry.pipeline_scale import (  # noqa: F401
    _kmeans_oracle_sql, _logreg_oracle, _pagerank_oracle_sql)


# relational._nation_by_region over the source nation table
_NATION_BY_REGION_SQL = """
    SELECT n_regionkey, COUNT(*) AS n,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
           MIN(n_name) AS first_name
    FROM nation GROUP BY n_regionkey
"""


def _zorder_oracle(bits: int = 8) -> str:
    """DuckDB twin of operators/layout.zorder_key over events
    (user_id, ts): min/max + shift widths computed in SQL
    (ceil(log2(rng+1)) == bit_length(rng) exactly — log2 of a power
    of two is exact in IEEE double), then the identical shift/mask
    bit interleave, term by term. Everything integer/bitwise, so the
    comparison is bit-exact, not tolerance-based."""
    terms = []
    for b in range(bits):
        terms.append(f"(((nu >> {b}) & 1) << {2 * b})")
        terms.append(f"(((nt >> {b}) & 1) << {2 * b + 1})")
    interleave = " | ".join(terms)
    return f"""
        WITH stats AS (
            SELECT MIN(user_id) AS mnu, MAX(user_id) AS mxu,
                   MIN(epoch_us(ts)) AS mnt, MAX(epoch_us(ts)) AS mxt
            FROM events),
        p AS (
            SELECT mnu, mnt,
                   GREATEST(0, CAST(CEIL(LOG2(GREATEST(mxu - mnu, 0) + 1))
                                    AS INT) - {bits}) AS su,
                   GREATEST(0, CAST(CEIL(LOG2(GREATEST(mxt - mnt, 0) + 1))
                                    AS INT) - {bits}) AS sv
            FROM stats),
        n AS (
            SELECT e.event_id,
                   (COALESCE(e.user_id, p.mnu) - p.mnu) >> p.su AS nu,
                   (COALESCE(epoch_us(e.ts), p.mnt) - p.mnt) >> p.sv AS nt
            FROM events e CROSS JOIN p)
        SELECT event_id, CAST({interleave} AS BIGINT) AS z FROM n
    """


def _ann_overlap_oracle(pairs: str) -> str:
    """Independent oracle for the four approximate-NN queries (round
    6, VERDICT r5 item 2): the engine's approximate neighbor ids are
    a deterministic function of the sf0.01 embeddings table (seeded
    hyperplanes / k-means / PQ codebooks — verified stable across
    partition counts and thread counts), so they are PINNED here as
    literals and DuckDB recomputes the exact cosine top-5 AND the
    overlap count itself. A bug that degraded both the engine's
    brute-force and its recall join identically would previously
    have passed the old ``SELECT TRUE`` form; it now fails because
    the exact side is DuckDB's own. The pinned ids apply at sf0.01,
    the driver's correctness scale."""
    return f"""
        WITH approx(qid, nid) AS (VALUES {pairs}),
             q AS (SELECT vec_id AS qid, embedding AS qv
                   FROM embeddings WHERE vec_id < 3),
             scored AS (
                 SELECT q.qid, e.vec_id AS nid,
                        ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                            list_dot_product(q.qv, e.embedding)
                            / (SQRT(list_dot_product(q.qv, q.qv))
                               * SQRT(list_dot_product(e.embedding,
                                                       e.embedding))) DESC,
                            e.vec_id ASC) AS rn
                 FROM q CROSS JOIN embeddings e
                 WHERE e.vec_id <> q.qid),
             exact AS (SELECT qid, nid FROM scored WHERE rn <= 5)
        SELECT q.qid,
               CAST(COUNT(e.nid) AS BIGINT) AS n_overlap,
               COUNT(e.nid) >= 3 AS recall_ok
        FROM q
        LEFT JOIN approx a ON a.qid = q.qid
        LEFT JOIN exact e ON e.qid = a.qid AND e.nid = a.nid
        GROUP BY q.qid
    """


_PCA_COMPS_SF001 = [  # pinned r10: pca_fit(embeddings sf0.01, dim=64, k=4)
    [-0.20963933002020224, -0.12057271532723624, 0.03654785815761247, 0.01181956673367579,
     0.07567008238652231, 0.013214628819759669, 0.09058411852537525, 0.2866187923515347,
     0.049546962198392386, 0.4140565264810953, 0.0653049818235748, 0.18207885387703346,
     0.06513224150018769, -0.03653205474591024, 0.17114897510631677, -0.1853497773155225,
     0.08898987448652929, -0.15702655458925904, -0.030136686337288644, 0.03217896951211652,
     0.061213204086392935, -0.11068832311424773, -0.08347512785867203, -0.05543746864805456,
     0.019550012020347562, 0.19912542853517, -0.03751725245021903, 0.14950769892189036,
     -0.17287963096364775, -0.006123114085459264, -0.05871572670346965, 0.06203771797942751,
     0.29653854353776893, 0.10616457882139858, -0.03204193889380879, 0.10414385148185454,
     0.04453875953671088, 0.061464053093950484, 0.013006698200672715, 0.02177120565591314,
     -0.11667898779822866, 0.005524586419046074, -0.24083692028370768, 0.09570759064866091,
     -0.028307708356163336, -0.22512744473516821, 0.00873183591419624, -0.07903750804624604,
     -0.08368084414987481, -0.1184509115331376, 0.12045949820882271, 0.07248325157918552,
     -0.017186482157175637, 0.08160437407065305, -0.015031355628749375, -0.06676477469561941,
     -0.05565063627860118, -0.05137605781699061, 0.06019601767570881, -0.09113914348048607,
     0.12198699564215869, 0.05064983387891537, -0.21821146492315377, -0.10201388636254458],
    [-0.00383712721159228, -0.05443024576702591, -0.01256793348075937, -0.08813365797648723,
     0.17485769775042748, 0.025214365797045207, 0.07494656338562397, -0.06998070108596313,
     0.07744817020896026, 0.030696056195262264, 0.10575814459049988, -0.017882873012907644,
     0.012975656331249082, 0.13369681742755257, 0.014559198307486308, 0.041391919339340666,
     0.1484110007875088, 0.36030985112615704, -0.05418865141456875, -0.050764775917261515,
     0.03254316973478824, 0.03539112685064482, 0.06533467378092302, -0.30912280550529797,
     -0.25768213825837827, -0.23906586362939547, -0.020637632793312308, -0.00022331337887581803,
     -0.08628570371767244, -0.1745329222714361, -0.024067927226899644, -0.21754493603557237,
     0.029463935144022485, 0.061538678908497395, 0.03375332841845152, 0.07921967482014433,
     0.05946710015971199, 0.03649840257323514, 0.18210698156722926, 0.04667388480869496,
     8.626507701305769e-06, 0.0469867556409584, -0.06276704622858954, -0.1791897959437335,
     0.17268649020937124, -0.1888352229469689, -0.046945871315895456, 0.14577948211480055,
     0.1129239775772588, -0.11328063222737855, -0.1574310435011157, -0.0819750107401838,
     0.012979946743257613, -0.016092353749802404, 0.23803515091895253, 0.023384317388539633,
     -0.30282027552250756, 0.01638284010820714, 0.13543364301205718, -0.1215860661032707,
     -0.08367049603064435, 0.08483882908899529, -0.0004431848647373886, -0.07861586992416268],
    [-0.14804403755600964, -0.08512440644804636, -0.06394747372242182, -0.0004575970141697805,
     -0.2043746650888012, -0.04374173501667095, 0.11775529925597408, -0.2844978534972129,
     0.04440239633087662, 0.023717337995782656, -0.051179527614309016, 0.03570203353525708,
     -0.06017956430904858, -0.03455060720145377, 0.009449519103829324, -0.23454575614197243,
     0.17137352710244083, -0.08492758806239417, 0.11604706769064435, 0.07732840317313291,
     0.013131626731481404, 0.17530755090022143, -0.10064801517013948, 0.05337470423494454,
     0.09255730930450934, 0.10008395002175649, 0.09063736311928071, -0.13414209861498091,
     0.010277697050367136, -0.10540482797763767, -0.1228596684339347, 0.09091210819168671,
     0.048252166284900866, -0.18066130225251564, -0.029769890425384592, -0.1021625821320828,
     0.1390784992424739, -0.21255244175464416, -0.0634565230913135, -0.10392899603893548,
     0.18947963434480752, 0.1901101011119268, -0.12585555807026433, -0.20893277874382618,
     0.16586568222613365, 0.05283627633707155, 0.042797574747649114, 0.018020015397847047,
     -0.06832009323144829, -0.051275512977937386, -0.12949844497534707, -0.10645450056137466,
     0.227800315899422, -0.15329476793534857, -0.1791520941574062, -0.001920015218025161,
     -0.005381095587603319, 0.10972460099815146, 0.1827952415741994, -0.05268508458798251,
     -0.06955779386901564, 0.2884306058238582, -0.09008107781606672, -0.07553050141369802],
    [0.06808659692680286, 0.06269221088043901, 0.008780757117711757, 0.17252698585080956,
     -0.25796105063051866, 0.1071292474758533, -0.02320920976768838, 0.17754309288336775,
     -0.11522019045334257, 0.1362019579866682, 0.007640884150524753, 0.2019504757451038,
     -0.06077544466797391, -0.1402193539405949, -0.09311367890541877, 0.0493080657522085,
     0.09682486295851118, 0.07142426949944458, -0.009319477553329202, -0.20316848780447716,
     -0.2254729514027411, 0.1576589813896344, -0.011856441212723485, 0.07323162375883854,
     0.027470748399646895, -0.11908308267720887, 0.11645429213298883, -0.0038352518581288124,
     0.1289244833558475, -0.1045231273232324, 0.1521165649372714, 0.2005753961876462,
     -0.08141318128028943, -0.017677469085165518, -0.11650295044832898, 0.31619012196984614,
     -0.11671862239947879, -0.148434417287364, -0.010252064348209753, -0.048288865420295896,
     -0.01450753729304257, -0.00017919674515583933, -0.0856532247691801, -0.017434761707989868,
     -0.07573379923511613, -0.04152082543952059, -0.01362043137291509, 0.3694044748348245,
     -0.10851089306172991, -0.15344609942067966, 0.06647233910921316, -0.019778009359074953,
     0.009329623098555829, 0.005401021761514492, -0.02191754053855563, 0.10147291470472775,
     -0.17091025495876377, 0.09292951416465972, -0.17072042743327628, -0.07391767730726548,
     -0.19206043423473793, -0.09621918574006269, -0.08404634246068667, 0.02629688584870927],
]


def _pca_project_oracle() -> str:
    """Independent oracle for pca_project_embeddings (round 10,
    VERDICT r9 item 2 — the registry's last no_oracle row): the
    fitted components are a deterministic function of the sf0.01
    embeddings table (sign-normalized eigh on the exactly-oracled
    covariance; eigenvalue gaps ~3e-4 >> the ~1e-16 run-to-run
    aggregation-order noise, so the eigenvectors are stable to
    ~1e-12), so they are PINNED here as literals — the same
    discipline as the ANN pinned ids — and DuckDB recomputes the
    projection itself as plain SQL dot products. Rounding-boundary
    audit at pin time: min distance of any of the 2000 projected
    cells from a 4-decimal rounding boundary is 1.4e-8, four orders
    above cross-engine float noise. '+ 0' folds IEEE -0.0 as in
    pca_covariance. Pins apply at sf0.01, the driver's correctness
    scale."""
    rows = ", ".join(
        f"({k}, {i}, {w!r})"
        for k, row in enumerate(_PCA_COMPS_SF001)
        for i, w in enumerate(row))
    pcs = ",\n               ".join(
        f"ROUND(max(CASE WHEN k = {k} THEN v END), 4) + 0 AS pc{k}"
        for k in range(len(_PCA_COMPS_SF001)))
    return f"""
        WITH comp(k, i, w) AS (VALUES {rows}),
        p AS (
            SELECT e.vec_id, c.k,
                   sum(c.w * CAST(e.embedding[c.i + 1] AS DOUBLE)) AS v
            FROM embeddings e CROSS JOIN comp c
            WHERE e.embedding IS NOT NULL AND len(e.embedding) = 64
            GROUP BY 1, 2
        )
        SELECT vec_id, {pcs}
        FROM p GROUP BY vec_id
    """


def _gopher_sql(source: str = "documents",
                min_words: int = 50) -> str:
    """Gopher-rules oracle SQL, parametrized over the source
    relation and word-count floor — single source of truth for
    gopher_quality_docs, the pretrain_filter composition, and the
    end-to-end pipeline oracle."""
    return """
            WITH d AS (
                SELECT doc_id, text,
                       list_filter(regexp_split_to_array(trim(text),
                                                         '\\s+'),
                                   w -> w <> '') AS words,
                       string_split(text, chr(10)) AS lines
                FROM {source}
            ), m AS (
                SELECT doc_id,
                       CAST(len(words) AS BIGINT) AS n_words,
                       CAST(len(lines) AS BIGINT) AS n_lines,
                       CAST(COALESCE(list_sum(list_transform(
                           words, w -> length(w))), 0) AS BIGINT)
                           AS total_chars,
                       CAST(length(text) -
                            length(replace(text, '#', ''))
                            AS BIGINT) AS n_hash,
                       CAST((length(text) -
                             length(replace(text, '...', ''))) / 3
                            + length(text) -
                              length(replace(text, '…', ''))
                            AS BIGINT) AS n_ell,
                       CAST(len(list_filter(lines,
                           l -> starts_with(ltrim(l), '-')
                             OR starts_with(ltrim(l), '*')
                             OR starts_with(ltrim(l), '•')))
                           AS BIGINT) AS bullet,
                       CAST(len(list_filter(lines,
                           l -> rtrim(l) LIKE '%...'
                             OR rtrim(l) LIKE '%…'))
                           AS BIGINT) AS ell_end,
                       CAST(len(list_filter(words,
                           w -> regexp_matches(w, '[A-Za-z]')))
                           AS BIGINT) AS alpha,
                       CAST(len(list_distinct(list_filter(words,
                           w -> lower(w) IN ('the','be','to','of',
                                             'and','that','have',
                                             'with'))))
                           AS BIGINT) AS n_func
                FROM d
            )
            SELECT doc_id, n_words, n_lines,
                   (n_words >= {min_words} AND n_words <= 100000)
                       AS r_word_count,
                   (3 * n_words <= total_chars
                    AND total_chars <= 10 * n_words)
                       AS r_mean_word_len,
                   (10 * (n_hash + n_ell) <= n_words)
                       AS r_symbol_ratio,
                   (10 * bullet <= 9 * n_lines) AS r_bullet_lines,
                   (10 * ell_end <= 3 * n_lines) AS r_ellipsis_lines,
                   (10 * alpha >= 8 * n_words) AS r_alpha_words,
                   (n_func >= 2) AS r_func_words,
                   ((n_words >= {min_words} AND n_words <= 100000)
                    AND (3 * n_words <= total_chars
                         AND total_chars <= 10 * n_words)
                    AND (10 * (n_hash + n_ell) <= n_words)
                    AND (10 * bullet <= 9 * n_lines)
                    AND (10 * ell_end <= 3 * n_lines)
                    AND (10 * alpha >= 8 * n_words)
                    AND (n_func >= 2)) AS passes
            FROM m
        """.format(source=source, min_words=min_words)


def _oracle_sql_base() -> dict[str, str]:
    return {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   SUM(ROUND(l_extendedprice * 100, 0)) / 100 AS sum_base_price,
                   SUM(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)) / 100 AS sum_disc_price,
                   ROUND(AVG(l_quantity), 4) AS avg_qty,
                   ROUND(AVG(l_discount), 4) AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_shipping_revenue": """
            SELECT o_orderkey,
                   SUM(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)) / 100 AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey
            HAVING SUM(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)) / 100 > 100000
        """,
        "q5_nation_revenue": """
            SELECT n_name,
                   SUM(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)) / 100 AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY n_name
        """,
        "filter_pass": """
            SELECT l_orderkey, l_linenumber, l_quantity, l_discount
            FROM lineitem WHERE l_quantity >= 25.0 AND l_discount <= 0.05
        """,
        "filter_fail": """
            SELECT l_orderkey, l_linenumber, l_quantity, l_discount
            FROM lineitem WHERE NOT (l_quantity >= 25.0 AND l_discount <= 0.05)
        """,
        "filter_any": """
            SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
            FROM lineitem WHERE l_quantity >= 49.0 OR l_returnflag = 'R'
        """,
        "filter_expression": """
            SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
            FROM lineitem WHERE l_quantity >= 30 AND l_returnflag = 'R'
        """,
        "filter_substring_in": """
            SELECT p_partkey, p_name, p_type
            FROM part WHERE p_type LIKE '%ECO%'
        """,
        "filter_callable": """
            SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0
        """,
        "merge_where_case": """
            SELECT o_orderkey,
                   CASE WHEN o_totalprice > 200000
                        THEN o_orderpriority ELSE o_orderstatus END AS label
            FROM orders
        """,
        "groupby_mode": """
            SELECT l_returnflag, MODE(l_linenumber) AS mode_ln
            FROM lineitem GROUP BY l_returnflag
        """,
        "groupby_product": """
            SELECT l_orderkey, ROUND(PRODUCT(1 + l_discount), 4) AS prod_disc
            FROM lineitem WHERE l_orderkey < 1000 GROUP BY l_orderkey
        """,
        "sort_mixed_excel": """
            WITH m AS (
                SELECT o_orderkey,
                       CASE WHEN o_orderkey % 4 = 0 THEN CAST(o_totalprice AS VARCHAR)
                            WHEN o_orderkey % 4 = 1 THEN o_orderpriority
                            WHEN o_orderkey % 4 = 2 THEN
                                CASE WHEN o_orderkey % 8 = 2 THEN 'true' ELSE 'false' END
                       END AS v
                FROM orders WHERE o_orderkey < 2000
            ), k AS (
                SELECT o_orderkey, v,
                       LOWER(v) IN ('true','false') AS is_bool,
                       TRY_CAST(v AS DOUBLE) AS num
                FROM m
            )
            SELECT ROW_NUMBER() OVER (ORDER BY
                       CASE WHEN v IS NULL THEN 3
                            WHEN is_bool THEN 2
                            WHEN num IS NOT NULL THEN 0
                            ELSE 1 END ASC,
                       CASE WHEN num IS NOT NULL AND NOT is_bool THEN num END ASC NULLS LAST,
                       CASE WHEN is_bool THEN CAST(LOWER(v) = 'true' AS INT) END ASC NULLS LAST,
                       CASE WHEN num IS NULL AND NOT is_bool THEN v END ASC NULLS LAST,
                       o_orderkey ASC) - 1 AS pos,
                   o_orderkey, v
            FROM k
        """,
        "transpose_region": """
            SELECT 'r_name' AS r_regionkey,
                   MAX(CASE WHEN r_regionkey = 0 THEN r_name END) AS "0",
                   MAX(CASE WHEN r_regionkey = 1 THEN r_name END) AS "1",
                   MAX(CASE WHEN r_regionkey = 2 THEN r_name END) AS "2",
                   MAX(CASE WHEN r_regionkey = 3 THEN r_name END) AS "3",
                   MAX(CASE WHEN r_regionkey = 4 THEN r_name END) AS "4"
            FROM region
        """,
        "reindex_rows": """
            SELECT n_nationkey, n_name FROM nation WHERE n_nationkey IN (5, 3, 7, 20)
            UNION ALL
            SELECT NULL, NULL
        """,
        "imputation_mode": """
            SELECT event_id,
                   COALESCE(etype, (SELECT MODE(etype) FROM
                       (SELECT CASE WHEN event_id % 7 = 0 THEN NULL
                                    ELSE event_type END AS etype FROM events))) AS etype
            FROM (SELECT event_id,
                         CASE WHEN event_id % 7 = 0 THEN NULL
                              ELSE event_type END AS etype FROM events)
        """,
        "imputation_nn": """
            WITH c AS (
                SELECT c_custkey, c_nationkey,
                       CASE WHEN c_custkey % 10 = 0 THEN NULL
                            ELSE ROUND(c_acctbal, 2) END AS bal
                FROM customer WHERE c_custkey < 300
            ), rng AS (
                SELECT CAST(MAX(c_custkey) - MIN(c_custkey) AS DOUBLE) AS r_ck,
                       CAST(MAX(c_nationkey) - MIN(c_nationkey) AS DOUBLE) AS r_nk
                FROM c
            ), best AS (
                SELECT n.c_custkey, d.bal AS fill_bal,
                       ROW_NUMBER() OVER (PARTITION BY n.c_custkey ORDER BY
                           ABS(n.c_custkey - d.c_custkey) / rng.r_ck
                           + ABS(n.c_nationkey - d.c_nationkey) / rng.r_nk ASC,
                           d.c_custkey ASC) AS rn
                FROM c n CROSS JOIN rng JOIN c d ON d.bal IS NOT NULL
                WHERE n.bal IS NULL
            )
            SELECT c.c_custkey, ROUND(COALESCE(c.bal, b.fill_bal), 2) AS bal
            FROM c LEFT JOIN (SELECT c_custkey, fill_bal FROM best WHERE rn = 1) b
            ON c.c_custkey = b.c_custkey
        """,
        "asof_join_events": """
            SELECT l.event_id, r.event_id AS click_id,
                   ROUND(r.value, 2) AS click_value
            FROM (SELECT * FROM events WHERE event_type = 'error') l
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
            ON l.user_id = r.user_id AND r.ts <= l.ts
        """,
        "chunk_docs": """
            WITH t AS (
                SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS l
                FROM documents WHERE LENGTH(TRIM(text)) > 0
            ), c AS (
                SELECT doc_id, l,
                       GREATEST(CAST(CEIL((len(l) - 8) / 32.0) AS INT), 1) AS nc
                FROM t
            ), e AS (
                SELECT doc_id, l, UNNEST(range(0, nc)) AS cid FROM c
            )
            SELECT doc_id, CAST(cid AS INT) AS chunk_id,
                   MD5(array_to_string(l[CAST(cid*32+1 AS INT) : CAST(cid*32+40 AS INT)], ' '))
                       AS chunk_md5,
                   CAST(len(l[CAST(cid*32+1 AS INT) : CAST(cid*32+40 AS INT)]) AS INT)
                       AS chunk_tokens
            FROM e
        """,
        "contamination_docs": """
            WITH docs AS (
                SELECT doc_id,
                       string_split_regex(LOWER(TRIM(text)), '\\s+') AS l
                FROM documents
            ), gr AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(1, GREATEST(len(l) - 7, 1) + 1),
                           i -> array_to_string(l[CAST(i AS INT) : CAST(i+7 AS INT)], ' ')))
                       AS gs
                FROM docs
            ), dg AS (SELECT doc_id, UNNEST(gs) AS g FROM gr),
            pg AS (SELECT doc_id AS probe_id, UNNEST(gs) AS g
                   FROM gr WHERE doc_id < 5),
            ps AS (SELECT doc_id AS probe_id, len(gs) AS n_probe
                   FROM gr WHERE doc_id < 5)
            SELECT dg.doc_id, pg.probe_id,
                   COUNT(*) AS shared_grams,
                   ROUND(COUNT(*) / CAST(ANY_VALUE(ps.n_probe) AS DOUBLE), 4)
                       AS overlap
            FROM dg JOIN pg USING (g) JOIN ps ON ps.probe_id = pg.probe_id
            GROUP BY dg.doc_id, pg.probe_id
        """,
        "pack_chunks_docs": """
            WITH t AS (
                SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS l
                FROM documents WHERE LENGTH(TRIM(text)) > 0
            ), c AS (
                SELECT doc_id, l,
                       GREATEST(CAST(CEIL(len(l) / 40.0) AS INT), 1) AS nc
                FROM t
            ), e AS (
                SELECT doc_id, l, UNNEST(range(0, nc)) AS cid FROM c
            ), ch AS (
                SELECT e.doc_id, CAST(cid AS INT) AS chunk_id,
                       CAST(len(l[CAST(cid*40+1 AS INT) : CAST(cid*40+40 AS INT)]) AS INT)
                           AS chunk_tokens,
                       d.source
                FROM e JOIN documents d ON d.doc_id = e.doc_id
            ), packed AS (
                SELECT source, chunk_tokens,
                       CAST(FLOOR((SUM(chunk_tokens) OVER (
                                PARTITION BY source
                                ORDER BY doc_id, chunk_id
                                ROWS UNBOUNDED PRECEDING) - chunk_tokens)
                            / 256.0) AS BIGINT) AS pack_id
                FROM ch
            )
            SELECT source, pack_id, COUNT(*) AS n_chunks,
                   CAST(SUM(chunk_tokens) AS BIGINT) AS pack_tokens
            FROM packed GROUP BY source, pack_id
        """,
        "corpus_manifest": """
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars,
                   CAST(SUM(len(string_split_regex(TRIM(text), '\\s+'))) AS BIGINT)
                       AS n_tokens,
                   COUNT(DISTINCT lang) AS n_langs,
                   MIN(doc_id) AS min_doc_id,
                   MAX(doc_id) AS max_doc_id
            FROM documents GROUP BY source
        """,
        "weighted_sample_docs": """
            WITH d AS (
                SELECT doc_id, CAST(LENGTH(text) AS DOUBLE) AS w
                FROM documents
            ), m AS (SELECT AVG(w) AS mw FROM d)
            SELECT doc_id FROM d, m
            WHERE CAST('0x' || substring(md5('ws' || CAST(doc_id AS VARCHAR)), 1, 15)
                       AS UBIGINT) / 1152921504606846976.0
                  < LEAST(1.0, 0.3 * w / mw)
        """,
        "redact_pii_docs": """
            SELECT doc_id,
                   MD5(regexp_replace(regexp_replace(regexp_replace(
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com or https://ex.co/'
                            || CAST(doc_id AS VARCHAR),
                       '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}',
                       '[EMAIL]', 'g'),
                       'https?://[^\\s]+', '[URL]', 'g'),
                       '\\+?\\d[\\d\\-\\s]{7,}\\d', '[PHONE]', 'g')
                   ) AS redacted_md5
            FROM documents
        """,
        "repetition_docs": """
            WITH t AS (
                SELECT doc_id,
                       string_split_regex(LOWER(TRIM(text)), '\\s+') AS l
                FROM documents WHERE LENGTH(TRIM(text)) > 0
            ), g AS (
                SELECT doc_id,
                       CAST(len(l) AS DOUBLE) AS n_tok,
                       CAST(len(list_distinct(l)) AS DOUBLE) AS u_tok,
                       CASE WHEN len(l) >= 2 THEN
                           list_transform(range(1, len(l)),
                                          i -> l[i] || ' ' || l[i + 1])
                       ELSE l END AS grams
                FROM t
            )
            SELECT doc_id,
                   ROUND((n_tok - u_tok) / GREATEST(n_tok, 1.0), 4)
                       AS dup_token_frac,
                   ROUND((CAST(len(grams) AS DOUBLE)
                          - CAST(len(list_distinct(grams)) AS DOUBLE))
                         / GREATEST(CAST(len(grams) AS DOUBLE), 1.0), 4)
                       AS dup_ngram_frac
            FROM g
        """,
        "vocab_top_ngrams": """
            SELECT ngram, COUNT(*) AS cnt
            FROM (SELECT UNNEST(string_split_regex(LOWER(TRIM(text)), '\\s+'))
                      AS ngram FROM documents)
            WHERE ngram <> ''
            GROUP BY ngram
            ORDER BY cnt DESC, ngram ASC
            LIMIT 50
        """,
        "range_join_prices": """
            SELECT b.p_partkey,
                   COUNT(*) AS n_hits,
                   CAST(SUM(l.l_orderkey + l.l_linenumber) AS BIGINT) AS key_sum
            FROM (SELECT l_orderkey, l_linenumber, l_extendedprice
                  FROM lineitem WHERE l_orderkey < 2000) l
            JOIN (SELECT p_partkey,
                         p_retailprice * 10 - 50 AS lo,
                         p_retailprice * 10 + 50 AS hi
                  FROM part WHERE p_partkey <= 200) b
            ON l.l_extendedprice BETWEEN b.lo AND b.hi
            GROUP BY b.p_partkey
        """,
        "imputation_nn_lsh": """
            WITH c AS (
                SELECT c_custkey,
                       CASE WHEN c_custkey % 2 = 1 THEN NULL
                            ELSE ROUND(c_acctbal, 2) END AS bal
                FROM customer WHERE c_custkey >= 2 AND c_custkey < 600
            )
            SELECT n.c_custkey, ROUND(COALESCE(n.bal, d.bal), 2) AS bal
            FROM c n LEFT JOIN c d
            ON d.c_custkey = n.c_custkey - (n.c_custkey % 2) AND d.bal IS NOT NULL
        """,
        "pivot_long": """
            SELECT l_returnflag, 'l_linestatus=F' AS function,
                   ROUND(SUM(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2) AS value
            FROM lineitem GROUP BY l_returnflag
            UNION ALL
            SELECT l_returnflag, 'l_linestatus=O' AS function,
                   ROUND(SUM(l_quantity) FILTER (WHERE l_linestatus = 'O'), 2) AS value
            FROM lineitem GROUP BY l_returnflag
        """,
        "sort_alphanumeric": """
            WITH m AS (
                SELECT o_orderkey,
                       CASE WHEN o_orderkey % 3 = 0 THEN CAST(o_totalprice AS VARCHAR)
                            WHEN o_orderkey % 3 = 1 THEN o_orderpriority
                       END AS v
                FROM orders WHERE o_orderkey < 2000
            )
            SELECT ROW_NUMBER() OVER (ORDER BY v ASC NULLS FIRST, o_orderkey ASC) - 1 AS pos,
                   o_orderkey, v
            FROM m
        """,
        "drop_duplicates": """
            SELECT DISTINCT l_returnflag, l_linestatus, l_linenumber FROM lineitem
        """,
        "groupby_first_last": """
            SELECT o_custkey,
                   ARG_MIN(o_totalprice, o_orderkey) AS first_price,
                   ARG_MAX(o_totalprice, o_orderkey) AS last_price
            FROM orders GROUP BY o_custkey
        """,
        "date_range_expand": """
            SELECT o_orderkey, STRFTIME(CAST(day AS DATE), '%Y-%m-%d') AS day
            FROM (
                SELECT o.o_orderkey,
                       UNNEST(generate_series(
                           LEAST(CAST(o.o_orderdate AS DATE), CAST(s.ship AS DATE)),
                           GREATEST(CAST(o.o_orderdate AS DATE), CAST(s.ship AS DATE)),
                           INTERVAL 1 DAY)) AS day
                FROM orders o
                JOIN (SELECT l_orderkey, MIN(l_shipdate) AS ship
                      FROM lineitem GROUP BY l_orderkey) s
                ON o.o_orderkey = s.l_orderkey
                WHERE o.o_orderkey < 100
            )
        """,
        "statistics_text": """
            SELECT MIN(LENGTH(c_name)) AS min_len,
                   MAX(LENGTH(c_name)) AS max_len,
                   ROUND(AVG(LENGTH(c_name)), 4) AS avg_len,
                   COUNT(DISTINCT c_name) AS distinct
            FROM customer
        """,
        "index_rowids": """
            SELECT o_orderstatus, o_orderpriority,
                   array_to_string(list_sort(list(CAST(o_orderkey AS VARCHAR))), ',') AS row_ids
            FROM orders WHERE o_orderkey < 500
            GROUP BY o_orderstatus, o_orderpriority
        """,
        "sort_unix_mixed": """
            WITH m AS (
                SELECT o_orderkey,
                       CASE WHEN o_orderkey % 4 = 0 THEN CAST(o_totalprice AS VARCHAR)
                            WHEN o_orderkey % 4 = 1 THEN o_orderpriority
                            WHEN o_orderkey % 4 = 2 THEN
                                CASE WHEN o_orderkey % 8 = 2 THEN 'true' ELSE 'false' END
                       END AS v
                FROM orders WHERE o_orderkey < 2000
            ), k AS (
                SELECT o_orderkey, v,
                       LOWER(v) IN ('true','false') AS is_bool,
                       TRY_CAST(v AS DOUBLE) AS num
                FROM m
            )
            SELECT ROW_NUMBER() OVER (ORDER BY
                       CASE WHEN v IS NULL THEN 0
                            WHEN is_bool THEN 1
                            WHEN num IS NOT NULL THEN 2
                            ELSE 3 END ASC,
                       CASE WHEN num IS NOT NULL AND NOT is_bool THEN num END ASC NULLS FIRST,
                       CASE WHEN is_bool THEN CAST(LOWER(v) = 'true' AS INT) END ASC NULLS FIRST,
                       CASE WHEN num IS NULL AND NOT is_bool THEN v END ASC NULLS FIRST,
                       o_orderkey ASC) - 1 AS pos,
                   o_orderkey, v
            FROM k
        """,
        "xround_time_buckets": """
            SELECT STRFTIME(time_bucket(INTERVAL 30 MINUTE, ts), '%Y-%m-%d %H:%M:%S') AS bucket,
                   COUNT(*) AS n
            FROM events GROUP BY 1
        """,
        "csv_roundtrip_agg": """
            SELECT l_returnflag,
                   SUM(ROUND(l_quantity * 100, 0)) / 100 AS sum_qty,
                   COUNT(*) AS n,
                   CAST(SUM(l_orderkey + l_linenumber) AS BIGINT) AS key_sum
            FROM lineitem GROUP BY l_returnflag
        """,
        "json_roundtrip_agg": """
            SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
                   COUNT(*) AS n,
                   CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
                   MIN(n_name) AS first_name
            FROM nation GROUP BY n_regionkey
        """,
        "parquet_roundtrip_agg": """
            SELECT l_returnflag,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   COUNT(*) AS n
            FROM lineitem GROUP BY l_returnflag
        """,
        "xlsx_roundtrip_agg": _NATION_BY_REGION_SQL,
        "sql_script_md5": """
            SELECT md5('CREATE TABLE region_x (r_regionkey INTEGER, r_name TEXT);'
                       || chr(10) ||
                       string_agg('INSERT INTO region_x VALUES ('
                                  || CAST(r_regionkey AS VARCHAR) || ', '''
                                  || replace(r_name, '''', '''''') || ''');',
                                  chr(10) ORDER BY r_regionkey)) AS script_md5,
                   CAST(COUNT(*) + 1 AS BIGINT) AS n_lines
            FROM region
        """,
        "get_headers_nation": """
            SELECT * FROM (VALUES
                (CAST(0 AS BIGINT), 'n_nationkey'),
                (CAST(1 AS BIGINT), 'n_name'),
                (CAST(2 AS BIGINT), 'n_regionkey')) AS t(pos, name)
        """,
        "row_iteration_checksum": """
            WITH ordered AS (
                SELECT n_nationkey, n_name,
                       ROW_NUMBER() OVER (ORDER BY n_nationkey) AS rn
                FROM nation)
            SELECT COUNT(*) AS n,
                   CAST(SUM(rn * n_nationkey) AS BIGINT) AS weighted,
                   MD5(STRING_AGG(n_name, '|' ORDER BY n_nationkey))
                       AS name_md5
            FROM ordered
        """,
        "construction_api_agg": """
            WITH t(k, v) AS (VALUES (1, 'a'), (2, 'b'), (3, 'a'))
            SELECT v, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS k_sum,
                   CAST(SUM(k * 10) AS BIGINT) AS w_sum
            FROM t GROUP BY v
        """,
        "table_equality_check": """
            SELECT 'same' AS check, TRUE AS eq
            UNION ALL SELECT 'reordered', TRUE
            UNION ALL SELECT 'perturbed', FALSE
        """,
        "rename_reorder_project": """
            SELECT n_regionkey AS region_id, COUNT(*) AS n,
                   MIN(n_name) AS first_name
            FROM nation GROUP BY n_regionkey
        """,
        "ods_roundtrip_agg": _NATION_BY_REGION_SQL,
        "incremental_minhash_dedup_docs": """
            SELECT doc_id + 30000000 AS doc_id FROM documents
        """,
        "kmeans_embeddings": _kmeans_oracle_sql(),
        "pagerank_lineitem": _pagerank_oracle_sql(),
        "snapshot_diff_docs": """
            WITH old AS (SELECT doc_id, text FROM documents),
            new AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0
                            THEN 'v2 ' || text ELSE text END AS text
                FROM documents WHERE doc_id % 11 <> 0
                UNION ALL
                SELECT doc_id + 9000000 AS doc_id, text
                FROM documents WHERE doc_id % 13 = 0
            ),
            oh AS (SELECT doc_id, md5(text) AS h FROM old),
            nh AS (SELECT doc_id, md5(text) AS h FROM new)
            SELECT COALESCE(oh.doc_id, nh.doc_id) AS doc_id,
                   CASE WHEN oh.h IS NULL THEN 'added'
                        WHEN nh.h IS NULL THEN 'removed'
                        WHEN oh.h = nh.h THEN 'unchanged'
                        ELSE 'changed' END AS status
            FROM oh FULL OUTER JOIN nh ON oh.doc_id = nh.doc_id
        """,
        "hard_negatives_embeddings": """
            WITH q AS (SELECT vec_id AS qid, embedding AS qv,
                              label AS qlabel
                       FROM embeddings WHERE vec_id < 3),
            scored AS (
                SELECT q.qid, e.vec_id AS nid, e.label AS nlabel,
                       list_dot_product(q.qv, e.embedding)
                       / (SQRT(list_dot_product(q.qv, q.qv))
                          * SQRT(list_dot_product(e.embedding,
                                                  e.embedding))) AS cos,
                       ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                           list_dot_product(q.qv, e.embedding)
                           / (SQRT(list_dot_product(q.qv, q.qv))
                              * SQRT(list_dot_product(e.embedding,
                                                      e.embedding)))
                               DESC,
                           e.vec_id ASC) AS rn
                FROM q CROSS JOIN embeddings e
                WHERE e.vec_id <> q.qid
                  AND e.label IS DISTINCT FROM q.qlabel
            )
            SELECT qid, nid, ROUND(cos, 4) AS cos, rn, nlabel
            FROM scored WHERE rn <= 5
        """,
        "hybrid_search_docs": """
            WITH q(qid, qtext) AS (
                VALUES (1, 'spark window agg'),
                       (2, 'customer query batch'),
                       (3, 'vector scan merge')),
            toks AS (
                SELECT doc_id,
                       unnest(list_filter(regexp_split_to_array(
                           lower(text), '[^a-z0-9]+'), x -> x <> ''))
                           AS term
                FROM documents
            ),
            tf AS (SELECT doc_id, term, COUNT(*) AS tf
                   FROM toks GROUP BY doc_id, term),
            dl AS (SELECT doc_id, SUM(tf) AS dl
                   FROM tf GROUP BY doc_id),
            consts AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
            dft AS (SELECT term, COUNT(*) AS df
                    FROM tf GROUP BY term),
            qt AS (SELECT DISTINCT qid,
                          unnest(list_filter(regexp_split_to_array(
                              lower(qtext), '[^a-z0-9]+'),
                              x -> x <> '')) AS term
                   FROM q),
            bscored AS (
                SELECT qt.qid, tf.doc_id,
                       ROUND(SUM(
                           ln(1 + (consts.n - dft.df + 0.5)
                                  / (dft.df + 0.5))
                           * tf.tf * 2.2
                           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl
                                             / consts.avgdl))), 6)
                           AS score
                FROM tf
                JOIN qt USING (term)
                JOIN dft USING (term)
                JOIN dl USING (doc_id), consts
                GROUP BY qt.qid, tf.doc_id
            ),
            sparse AS (
                SELECT qid, doc_id, rank
                FROM (SELECT qid, doc_id,
                             ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY score DESC, doc_id) AS rank
                      FROM bscored)
                WHERE rank <= 20
            ),
            qv AS (SELECT vec_id + 1 AS qid, embedding AS qv
                   FROM embeddings WHERE vec_id < 3),
            dscored AS (
                SELECT qv.qid, e.vec_id AS doc_id,
                       ROW_NUMBER() OVER (PARTITION BY qv.qid ORDER BY
                           list_dot_product(qv.qv, e.embedding)
                           / (SQRT(list_dot_product(qv.qv, qv.qv))
                              * SQRT(list_dot_product(e.embedding,
                                                      e.embedding)))
                               DESC,
                           e.vec_id ASC) AS rank
                FROM qv CROSS JOIN embeddings e
                WHERE e.vec_id <> qv.qid
            ),
            dense AS (SELECT qid, doc_id, rank FROM dscored
                      WHERE rank <= 20),
            contrib AS (
                SELECT qid, doc_id,
                       CAST(floor(1000000000000.0 / (60 + rank))
                            AS BIGINT) AS c
                FROM sparse
                UNION ALL
                SELECT qid, doc_id,
                       CAST(floor(1000000000000.0 / (60 + rank))
                            AS BIGINT) AS c
                FROM dense
            ),
            fused AS (SELECT qid, doc_id, SUM(c) AS rrf_score,
                             COUNT(*) AS n_sources
                      FROM contrib GROUP BY qid, doc_id)
            SELECT CAST(qid AS BIGINT) AS qid, doc_id,
                   CAST(rank AS INT) AS rank,
                   CAST(rrf_score AS BIGINT) AS rrf_score,
                   CAST(n_sources AS BIGINT) AS n_sources
            FROM (SELECT qid, doc_id, rrf_score, n_sources,
                         ROW_NUMBER() OVER (PARTITION BY qid
                             ORDER BY rrf_score DESC, doc_id) AS rank
                  FROM fused)
            WHERE rank <= 10
        """,
        "preference_pairs_docs": """
            WITH resp AS (
                SELECT doc_id % 97 AS prompt_id, doc_id, text,
                       CAST(length(text) % 997 AS BIGINT) AS score
                FROM documents
            ),
            agg AS (
                SELECT prompt_id,
                       max(struct_pack(s := score, negid := -doc_id,
                                       t := text)) AS ch,
                       min(struct_pack(s := score, id := doc_id,
                                       t := text)) AS rj
                FROM resp GROUP BY prompt_id
            )
            SELECT prompt_id, -(ch.negid) AS chosen_id,
                   rj.id AS rejected_id,
                   md5(ch.t) AS chosen_md5, md5(rj.t) AS rejected_md5,
                   ch.s - rj.s AS pair_margin
            FROM agg
            WHERE ch.s - rj.s >= 50 AND -(ch.negid) != rj.id
        """,
        "pack_sequences_sft_docs": """
            WITH lists AS (
                SELECT doc_id,
                       list_filter(
                           regexp_split_to_array(trim(text), '\\s+'),
                           x -> x <> '') AS l
                FROM documents
            ),
            toks AS (
                SELECT doc_id, generate_subscripts(l, 1) AS i,
                       CAST(LENGTH(unnest(l)) * 131
                            + (generate_subscripts(l, 1) % 127)
                            AS INT) AS id,
                       CAST(generate_subscripts(l, 1) % 2 AS INT)
                           AS msk
                FROM lists
                UNION ALL
                SELECT doc_id, 2147483647 AS i, 0 AS id, 0 AS msk
                FROM documents
            ),
            stream AS (
                SELECT doc_id, id, msk,
                       ROW_NUMBER() OVER (ORDER BY doc_id, i) - 1
                           AS pos
                FROM toks
            ),
            marked AS (
                SELECT *, CASE WHEN pos = MIN(pos) OVER (
                              PARTITION BY doc_id) THEN 1 ELSE 0
                          END AS is_start
                FROM stream
            )
            SELECT CAST(pos // 64 AS BIGINT) AS seq_id,
                   MD5(string_agg(CAST(id AS VARCHAR), ','
                                  ORDER BY pos)) AS ids_md5,
                   MD5(string_agg(CAST(msk AS VARCHAR), ','
                                  ORDER BY pos)) AS mask_md5,
                   MD5(COALESCE(string_agg(
                       CASE WHEN is_start = 1
                            THEN CAST(pos % 64 AS VARCHAR) END, ','
                       ORDER BY pos), '')) AS starts_md5,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
            FROM marked
            GROUP BY seq_id
            HAVING COUNT(*) = 64
        """,
        "cluster_dedup_keep_best_docs": """
            WITH base AS (
                SELECT doc_id AS i FROM documents WHERE doc_id < 60
            ), members AS (
                SELECT i, i AS doc_id FROM base
                UNION ALL SELECT i, i + 100 FROM base WHERE i % 3 = 0
                UNION ALL SELECT i, i + 200 FROM base WHERE i % 5 = 0
            ), scored AS (
                SELECT i, doc_id, (doc_id * 7) % 13 AS quality
                FROM members
            ), ranked AS (
                SELECT doc_id, quality, ROW_NUMBER() OVER (
                    PARTITION BY i ORDER BY quality DESC, doc_id ASC
                ) AS rn FROM scored
            )
            SELECT doc_id, quality FROM ranked WHERE rn = 1
        """,
        "resize_images_agg": """
            SELECT doc_id,
                   CAST(4 AS INT) AS width,
                   CAST(4 AS INT) AS height,
                   (doc_id * 37) % 256 AS red_level
            FROM documents WHERE doc_id < 2000
        """,
        "resample_audio_meta": """
            SELECT doc_id,
                   16000 AS sample_rate,
                   20 + (doc_id % 7) * 5 AS duration_ms,
                   (doc_id * 131) % 32768 AS level_max,
                   (doc_id * 131) % 32768 AS level_min,
                   320 + (doc_id % 7) * 80 AS n_samples
            FROM documents WHERE doc_id < 2000
        """,
        "cluster_holdout_docs": """
            WITH RECURSIVE d AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
                FROM documents WHERE doc_id < 60
            ), g AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           generate_series(0, GREATEST(LENGTH(toks) - 2, 1) - 1),
                           i -> array_to_string(toks[i+1:i+3], ' '))) AS grams
                FROM d
            ), pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM g a JOIN g b ON a.doc_id < b.doc_id
                WHERE CAST(LENGTH(list_intersect(a.grams, b.grams)) AS DOUBLE)
                      / GREATEST(LENGTH(list_distinct(list_concat(a.grams, b.grams))), 1) >= 0.2
            ), edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION ALL
                SELECT id_b AS src, id_a AS dst FROM pairs
            ), reach(id, label) AS (
                SELECT DISTINCT src, src FROM edges
                UNION
                SELECT e.dst, r.label
                FROM reach r JOIN edges e ON e.src = r.id
            ), labeled AS (
                SELECT d.doc_id,
                       COALESCE(cc.component, d.doc_id) AS component
                FROM d LEFT JOIN (
                    SELECT id, MIN(label) AS component FROM reach GROUP BY id
                ) cc ON cc.id = d.doc_id
            )
            SELECT doc_id,
                   CASE WHEN CAST(('0x' || substring(md5('split' ||
                                  CAST(component AS VARCHAR)), 1, 15))
                             AS UBIGINT) / 1152921504606846976.0 < 0.3
                        THEN 'holdout' ELSE 'train' END AS side
            FROM labeled
        """,
        "hdf5_foreign_read": """
            SELECT * FROM (VALUES
              ('a_long',  10, '55'),
              ('b_float', 10, '45'),
              ('c_chunk', 10, '1045'),
              ('d_str',   10, 'alpha|bee|gamma|dd|epsil|zeta|eta|theta|iota|kappa'),
              ('e_vlen',  10, 'v0-|v1-x|v2-xx|v3-xxx|v4-xxxx|v5-|v6-x|v7-xx|v8-xxx|v9-xxxx'),
              ('f_zero',   7, '0'),
              ('g_compact', 10, '145'),
              ('grp/sub/h_nested', 3, '18')
            ) AS t(name, n, agg)
        """,
        "ohlc_resample_events": """
            WITH e AS (
                SELECT event_type, ts,
                       CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
                       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') || '|' ||
                           lpad(CAST(event_id AS VARCHAR), 12, '0')
                           AS okey
                FROM events
            )
            SELECT event_type,
                   time_bucket(INTERVAL '1 hour', ts) AS bucket_start,
                   arg_min(cents, okey) / 100.0 AS open,
                   MAX(cents) / 100.0 AS high,
                   MIN(cents) / 100.0 AS low,
                   arg_max(cents, okey) / 100.0 AS close,
                   COUNT(*) AS n_events,
                   SUM(cents) / 100.0 AS sum_value
            FROM e
            GROUP BY event_type, time_bucket(INTERVAL '1 hour', ts)
        """,
        "funnel_events": """
            WITH s0 AS (
                SELECT user_id, MIN(ts) AS t_view FROM events
                WHERE event_type = 'view' GROUP BY user_id
            ), s1 AS (
                SELECT e.user_id, MIN(ts) AS t_click
                FROM events e JOIN s0 USING (user_id)
                WHERE event_type = 'click' AND ts > t_view
                GROUP BY e.user_id
            ), s2 AS (
                SELECT e.user_id, MIN(ts) AS t_purchase
                FROM events e JOIN s1 USING (user_id)
                WHERE event_type = 'purchase' AND ts > t_click
                GROUP BY e.user_id
            )
            SELECT s0.user_id, t_view, t_click, t_purchase
            FROM s0 LEFT JOIN s1 USING (user_id)
                    LEFT JOIN s2 USING (user_id)
        """,
        "phrase_search_docs": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(LOWER(text),
                                                      '[^a-z0-9]+'),
                                   x -> x <> '') AS toks
                FROM documents
            ), m AS (
                SELECT doc_id,
                       list_filter(range(1, GREATEST(len(toks) - 1, 0) + 1),
                                   a -> toks[a] = 'table'
                                        AND toks[a + 1] = 'table')
                           AS anchors
                FROM t
            )
            SELECT doc_id, len(anchors) AS n_matches,
                   CAST(anchors[1] - 1 AS BIGINT) AS first_pos
            FROM m WHERE len(anchors) > 0
        """,
        "bloom_contamination_docs": """
            WITH docs AS (
                SELECT doc_id,
                       string_split_regex(LOWER(TRIM(text)), '\\s+') AS l
                FROM documents
            ), gr AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(1, GREATEST(len(l) - 7, 1) + 1),
                           i -> array_to_string(l[CAST(i AS INT) : CAST(i+7 AS INT)], ' ')))
                       AS gs
                FROM docs
            ), dg AS (SELECT doc_id, UNNEST(gs) AS g FROM gr),
            pg AS (SELECT doc_id AS probe_id, UNNEST(gs) AS g
                   FROM gr WHERE doc_id >= 5 AND doc_id < 15),
            ps AS (SELECT doc_id AS probe_id, len(gs) AS n_probe
                   FROM gr WHERE doc_id >= 5 AND doc_id < 15)
            SELECT dg.doc_id, pg.probe_id,
                   COUNT(*) AS shared_grams,
                   ROUND(COUNT(*) / CAST(ANY_VALUE(ps.n_probe) AS DOUBLE), 4)
                       AS overlap
            FROM dg JOIN pg USING (g) JOIN ps ON ps.probe_id = pg.probe_id
            GROUP BY dg.doc_id, pg.probe_id
        """,
        "tpz_reference_read": """
            SELECT * FROM (VALUES
              (1, 'alpha',   'x',  1152921504606846977, 0.5,  TRUE,
               TIMESTAMP '2021-01-01 00:00:00', DATE '2020-01-01',
               'red',   10, 10),
              (2, 'bravo',   NULL, NULL,                1.25, FALSE,
               TIMESTAMP '2021-01-01 07:00:00', DATE '2020-01-02',
               'green', 20, 20),
              (3, 'charlie', 'y',  3,                   -3.5, TRUE,
               TIMESTAMP '2021-01-01 14:00:00', DATE '2020-01-03',
               'blue',  30, 30),
              (4, 'delta',   NULL, 4,                   2.0,  FALSE,
               TIMESTAMP '2021-01-01 21:00:00', DATE '2020-01-04',
               'red',   40, 40),
              (5, 'écho',    'z',  NULL,                4.75, TRUE,
               TIMESTAMP '2021-01-02 04:00:00', DATE '2020-01-05',
               'green', 50, 50),
              (6, 'foxtrot', NULL, -7,                  10.0, FALSE,
               TIMESTAMP '2021-01-02 11:00:00', DATE '2020-01-06',
               'blue',  60, 60)
            ) AS t(n_key, name, maybe_note, amount, score, ok,
                   created, day_col, tag, dup_a, dup_b)
            ORDER BY n_key
        """,
        "tpz_roundtrip_agg": """
            SELECT n_regionkey, COUNT(*) AS n,
                   CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
                   COUNT(CASE WHEN n_nationkey % 3 <> 0
                              THEN UPPER(n_name) END) AS comments_kept,
                   SUM(n_nationkey * 1.5) AS score_sum,
                   MIN(n_name) AS first_name
            FROM nation GROUP BY n_regionkey
        """,
        "hdf5_roundtrip_agg": _NATION_BY_REGION_SQL,
        "xls_roundtrip_agg": """
            SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
                   COUNT(*) AS n,
                   CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
                   MIN(n_name) AS first_name
            FROM nation GROUP BY n_regionkey
        """,
        "gopher_quality_docs": _gopher_sql(),
        "gopher_repetition_docs": """
            WITH w AS (
                SELECT doc_id, text,
                       list_filter(regexp_split_to_array(trim(text),
                                                         '\\s+'),
                                   x -> x <> '') AS words,
                       string_split(text, chr(10)) AS lines,
                       string_split(text, chr(10) || chr(10)) AS paras
                FROM documents
            ), base AS (
                SELECT doc_id,
                       CAST(len(lines) AS BIGINT) AS n_lines,
                       CAST(len(list_distinct(lines)) AS BIGINT)
                           AS n_uniq_lines,
                       CAST(COALESCE(list_sum(list_transform(lines,
                           x -> length(x))), 0) AS BIGINT) AS line_chars,
                       CAST(COALESCE(list_sum(list_transform(
                           list_distinct(lines), x -> length(x))), 0)
                           AS BIGINT) AS uniq_line_chars,
                       CAST(len(paras) AS BIGINT) AS n_paras,
                       CAST(len(list_distinct(paras)) AS BIGINT)
                           AS n_uniq_paras,
                       CAST(COALESCE(list_sum(list_transform(paras,
                           x -> length(x))), 0) AS BIGINT) AS para_chars,
                       CAST(COALESCE(list_sum(list_transform(
                           list_distinct(paras), x -> length(x))), 0)
                           AS BIGINT) AS uniq_para_chars,
                       CAST(length(text) AS BIGINT) AS n_chars
                FROM w
            ), g AS (
                SELECT doc_id, n,
                       array_to_string(words[i:i+n-1], ' ') AS gram
                FROM w, UNNEST([2, 3, 4]) AS t(n),
                     UNNEST(range(1, len(words) - n + 2)) AS r(i)
                WHERE len(words) >= n
            ), cnts AS (
                SELECT doc_id, n, gram, COUNT(*) AS cnt
                FROM g GROUP BY ALL
            ), pertop AS (
                SELECT doc_id, n,
                       max(struct_pack(c := cnt, l := length(gram),
                                       g := gram)) AS t
                FROM cnts GROUP BY doc_id, n
            ), tops AS (
                SELECT doc_id,
                       MAX(CASE WHEN n = 2 THEN
                           CAST(t.c * t.l AS BIGINT) END) AS top2_chars,
                       MAX(CASE WHEN n = 3 THEN
                           CAST(t.c * t.l AS BIGINT) END) AS top3_chars,
                       MAX(CASE WHEN n = 4 THEN
                           CAST(t.c * t.l AS BIGINT) END) AS top4_chars
                FROM pertop GROUP BY doc_id
            )
            SELECT b.doc_id, n_lines, n_uniq_lines, line_chars,
                   uniq_line_chars, n_paras, n_uniq_paras, para_chars,
                   uniq_para_chars, n_chars,
                   COALESCE(top2_chars, 0) AS top2_chars,
                   COALESCE(top3_chars, 0) AS top3_chars,
                   COALESCE(top4_chars, 0) AS top4_chars,
                   (10 * (n_lines - n_uniq_lines) <= 3 * n_lines)
                       AS r_dup_lines,
                   (10 * (n_paras - n_uniq_paras) <= 3 * n_paras)
                       AS r_dup_paras,
                   (5 * (line_chars - uniq_line_chars) <= line_chars)
                       AS r_dup_line_chars,
                   (5 * (para_chars - uniq_para_chars) <= para_chars)
                       AS r_dup_para_chars,
                   (5 * COALESCE(top2_chars, 0) <= n_chars) AS r_top2,
                   (50 * COALESCE(top3_chars, 0) <= 9 * n_chars)
                       AS r_top3,
                   (25 * COALESCE(top4_chars, 0) <= 4 * n_chars)
                       AS r_top4,
                   ((10 * (n_lines - n_uniq_lines) <= 3 * n_lines)
                    AND (10 * (n_paras - n_uniq_paras) <= 3 * n_paras)
                    AND (5 * (line_chars - uniq_line_chars)
                         <= line_chars)
                    AND (5 * (para_chars - uniq_para_chars)
                         <= para_chars)
                    AND (5 * COALESCE(top2_chars, 0) <= n_chars)
                    AND (50 * COALESCE(top3_chars, 0) <= 9 * n_chars)
                    AND (25 * COALESCE(top4_chars, 0) <= 4 * n_chars))
                       AS passes
            FROM base b LEFT JOIN tops USING (doc_id)
        """,
        "gopher_dup_ngrams_docs": """
            WITH w AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(trim(text),
                                                         '\\s+'),
                                   x -> x <> '') AS words
                FROM documents
            ), base AS (
                SELECT doc_id,
                       CAST(COALESCE(list_sum(list_transform(
                           words, x -> length(x))), 0) AS BIGINT)
                           AS word_chars
                FROM w
            ), gstarts AS (
                SELECT doc_id, n, i - 1 AS j,
                       array_to_string(words[i:i+n-1], ' ') AS gram
                FROM w, UNNEST([5, 6, 7, 8, 9, 10]) AS t(n),
                     UNNEST(range(1, len(words) - n + 2)) AS r(i)
                WHERE len(words) >= n
            ), dupkeys AS (
                SELECT doc_id, n, gram
                FROM gstarts GROUP BY ALL HAVING COUNT(*) > 1
            ), dstarts AS (
                SELECT g.doc_id, g.n, g.j
                FROM gstarts g
                JOIN dupkeys USING (doc_id, n, gram)
            ), covered AS (
                SELECT DISTINCT doc_id, n, j + k AS p
                FROM dstarts, UNNEST(range(0, n)) AS u(k)
            ), toks AS (
                SELECT doc_id, i - 1 AS p, length(words[i]) AS l
                FROM w, UNNEST(range(1, len(words) + 1)) AS r(i)
            ), per AS (
                SELECT c.doc_id,
                       SUM(CASE WHEN c.n = 5 THEN t.l ELSE 0 END) d5,
                       SUM(CASE WHEN c.n = 6 THEN t.l ELSE 0 END) d6,
                       SUM(CASE WHEN c.n = 7 THEN t.l ELSE 0 END) d7,
                       SUM(CASE WHEN c.n = 8 THEN t.l ELSE 0 END) d8,
                       SUM(CASE WHEN c.n = 9 THEN t.l ELSE 0 END) d9,
                       SUM(CASE WHEN c.n = 10 THEN t.l ELSE 0 END) d10
                FROM covered c JOIN toks t USING (doc_id, p)
                GROUP BY c.doc_id
            )
            SELECT b.doc_id, word_chars,
                   CAST(COALESCE(d5, 0) AS BIGINT) AS dup5_chars,
                   CAST(COALESCE(d6, 0) AS BIGINT) AS dup6_chars,
                   CAST(COALESCE(d7, 0) AS BIGINT) AS dup7_chars,
                   CAST(COALESCE(d8, 0) AS BIGINT) AS dup8_chars,
                   CAST(COALESCE(d9, 0) AS BIGINT) AS dup9_chars,
                   CAST(COALESCE(d10, 0) AS BIGINT) AS dup10_chars,
                   (100 * COALESCE(d5, 0) <= 15 * word_chars)
                       AS r_dup5,
                   (100 * COALESCE(d6, 0) <= 14 * word_chars)
                       AS r_dup6,
                   (100 * COALESCE(d7, 0) <= 13 * word_chars)
                       AS r_dup7,
                   (100 * COALESCE(d8, 0) <= 12 * word_chars)
                       AS r_dup8,
                   (100 * COALESCE(d9, 0) <= 11 * word_chars)
                       AS r_dup9,
                   (100 * COALESCE(d10, 0) <= 10 * word_chars)
                       AS r_dup10,
                   ((100 * COALESCE(d5, 0) <= 15 * word_chars)
                    AND (100 * COALESCE(d6, 0) <= 14 * word_chars)
                    AND (100 * COALESCE(d7, 0) <= 13 * word_chars)
                    AND (100 * COALESCE(d8, 0) <= 12 * word_chars)
                    AND (100 * COALESCE(d9, 0) <= 11 * word_chars)
                    AND (100 * COALESCE(d10, 0) <= 10 * word_chars))
                       AS passes
            FROM base b LEFT JOIN per ON b.doc_id = per.doc_id
        """,
        "c4_clean_docs": """
            SELECT doc_id,
                   MD5(CASE WHEN doc_id % 5 <> 0 AND doc_id % 7 = 0
                       THEN
                         'The value ' || CAST(doc_id AS VARCHAR) ||
                         ' is good.' || chr(10) ||
                         'Totally fine sentence number ' ||
                         CAST(doc_id AS VARCHAR) || '!' || chr(10) ||
                         'Is this kept as well?' || chr(10) ||
                         'see lorem ipsum.'
                       ELSE
                         'The value ' || CAST(doc_id AS VARCHAR) ||
                         ' is good.' || chr(10) ||
                         'Totally fine sentence number ' ||
                         CAST(doc_id AS VARCHAR) || '!' || chr(10) ||
                         'Is this kept as well?'
                       END) AS clean_md5,
                   CAST(CASE WHEN doc_id % 5 <> 0 AND doc_id % 7 = 0
                        THEN 4 ELSE 3 END AS BIGINT) AS n_lines_kept,
                   (doc_id % 5 <> 0 AND doc_id % 7 <> 0) AS keep_page
            FROM documents
        """,
        "substring_dedup_docs": """
            SELECT doc_id,
                   MD5(CASE WHEN doc_id % 3 = 0 THEN
                         'a' || CAST(doc_id AS VARCHAR) ||
                         ' b' || CAST(doc_id AS VARCHAR) ||
                         ' c' || CAST(doc_id AS VARCHAR) ||
                         ' d' || CAST(doc_id AS VARCHAR)
                       ELSE
                         'a' || CAST(doc_id AS VARCHAR) ||
                         ' b' || CAST(doc_id AS VARCHAR) ||
                         ' c' || CAST(doc_id AS VARCHAR) ||
                         ' d' || CAST(doc_id AS VARCHAR) ||
                         ' e' || CAST(doc_id AS VARCHAR)
                       END) AS text_md5,
                   CAST(CASE WHEN doc_id % 3 = 0 THEN 4 ELSE 5 END
                        AS BIGINT) AS n_tokens_kept
            FROM documents
        """,
        "hdf5_chunked_roundtrip_agg": """
            SELECT o_orderstatus, COUNT(*) AS n,
                   CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
                   ROUND(MIN(o_totalprice), 2) AS min_price,
                   ROUND(MAX(o_totalprice), 2) AS max_price
            FROM orders GROUP BY o_orderstatus
        """,
        "zorder_events": _zorder_oracle(),
        "quality_classifier_docs": _logreg_oracle(),
        "column_profile": """
            SELECT 'l_orderkey' AS "column", COUNT(*) AS n,
                   COUNT(*) - COUNT(l_orderkey) AS n_nulls,
                   CAST(MIN(l_orderkey) AS VARCHAR) AS min,
                   CAST(MAX(l_orderkey) AS VARCHAR) AS max,
                   ROUND(AVG(CAST(l_orderkey AS DOUBLE)), 6) AS mean_r,
                   TRUE AS distinct_ok
            FROM lineitem
            UNION ALL
            SELECT 'l_quantity', COUNT(*),
                   COUNT(*) - COUNT(l_quantity),
                   CAST(MIN(l_quantity) AS VARCHAR),
                   CAST(MAX(l_quantity) AS VARCHAR),
                   ROUND(AVG(CAST(l_quantity AS DOUBLE)), 6), TRUE
            FROM lineitem
            UNION ALL
            SELECT 'l_returnflag', COUNT(*),
                   COUNT(*) - COUNT(l_returnflag),
                   CAST(MIN(l_returnflag) AS VARCHAR),
                   CAST(MAX(l_returnflag) AS VARCHAR),
                   CAST(NULL AS DOUBLE), TRUE
            FROM lineitem
            UNION ALL
            SELECT 'l_linestatus', COUNT(*),
                   COUNT(*) - COUNT(l_linestatus),
                   CAST(MIN(l_linestatus) AS VARCHAR),
                   CAST(MAX(l_linestatus) AS VARCHAR),
                   CAST(NULL AS DOUBLE), TRUE
            FROM lineitem
        """,
        "bm25_search_docs": """
            WITH q(qid, qtext) AS (
                VALUES (1, 'spark window agg'),
                       (2, 'customer query batch'),
                       (3, 'vector scan merge')),
            toks AS (
                SELECT doc_id,
                       unnest(list_filter(regexp_split_to_array(
                           lower(text), '[^a-z0-9]+'), x -> x <> ''))
                           AS term
                FROM documents
            ),
            tf AS (SELECT doc_id, term, COUNT(*) AS tf
                   FROM toks GROUP BY doc_id, term),
            dl AS (SELECT doc_id, SUM(tf) AS dl
                   FROM tf GROUP BY doc_id),
            consts AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
            dft AS (SELECT term, COUNT(*) AS df
                    FROM tf GROUP BY term),
            qt AS (SELECT DISTINCT qid,
                          unnest(list_filter(regexp_split_to_array(
                              lower(qtext), '[^a-z0-9]+'),
                              x -> x <> '')) AS term
                   FROM q),
            scored AS (
                SELECT qt.qid, tf.doc_id,
                       ROUND(SUM(
                           ln(1 + (consts.n - dft.df + 0.5)
                                  / (dft.df + 0.5))
                           * tf.tf * 2.2
                           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl
                                             / consts.avgdl))), 6)
                           AS score
                FROM tf
                JOIN qt USING (term)
                JOIN dft USING (term)
                JOIN dl USING (doc_id), consts
                GROUP BY qt.qid, tf.doc_id
            )
            SELECT CAST(qid AS BIGINT) AS qid, doc_id,
                   CAST(rank AS INT) AS rank, score
            FROM (SELECT qid, doc_id,
                         ROW_NUMBER() OVER (PARTITION BY qid
                             ORDER BY score DESC, doc_id) AS rank,
                         score
                  FROM scored)
            WHERE rank <= 5
        """,
        "bucketed_join_revenue": """
            SELECT c_mktsegment,
                   COUNT(*) AS n_orders,
                   ROUND(SUM(o_totalprice), 2) AS revenue,
                   COUNT(DISTINCT o_custkey) AS n_custs
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "pack_sequences_docs": """
            WITH lists AS (
                SELECT doc_id,
                       list_filter(
                           regexp_split_to_array(trim(text), '\\s+'),
                           x -> x <> '') AS l
                FROM documents
            ),
            toks AS (
                SELECT doc_id, generate_subscripts(l, 1) AS i,
                       CAST(LENGTH(unnest(l)) * 131
                            + (generate_subscripts(l, 1) % 127)
                            AS INT) AS id
                FROM lists
                UNION ALL
                SELECT doc_id, 2147483647 AS i, 0 AS id
                FROM documents
            ),
            stream AS (
                SELECT doc_id, id,
                       ROW_NUMBER() OVER (ORDER BY doc_id, i) - 1
                           AS pos
                FROM toks
            )
            SELECT CAST(pos // 64 AS BIGINT) AS seq_id,
                   MD5(string_agg(CAST(id AS VARCHAR), ','
                                  ORDER BY pos)) AS ids_md5,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
            FROM stream
            GROUP BY seq_id
            HAVING COUNT(*) = 64
        """,
        "hdf5_vlen_roundtrip": """
            SELECT n_regionkey, COUNT(*) AS n,
                   CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
                   MIN(n_name) AS first_name,
                   CAST(SUM(LENGTH(n_name)) AS BIGINT) AS name_chars
            FROM nation GROUP BY n_regionkey
        """,
        "salted_join_equivalence": """
            WITH fact AS (
                SELECT l_orderkey, l_linenumber,
                       CASE WHEN l_orderkey % 97 = 0 THEN NULL
                            WHEN l_orderkey % 10 < 9 THEN 1
                            ELSE l_suppkey END AS fk
                FROM lineitem),
            dim AS (
                SELECT s_suppkey, s_name FROM supplier
                WHERE s_suppkey < 100
                UNION ALL
                SELECT s_suppkey, s_name FROM supplier
                WHERE s_suppkey < 5)
            SELECT f.l_orderkey, f.l_linenumber, f.fk, d.s_name
            FROM fact f LEFT JOIN dim d ON f.fk = d.s_suppkey
        """,
        "xls_dates_roundtrip": """
            SELECT CAST(year(o_orderdate) AS INT) AS yr,
                   COUNT(*) AS n,
                   CAST(MIN(o_orderdate) AS TIMESTAMP) AS first_dt,
                   CAST(MAX(o_orderdate) AS TIMESTAMP) AS last_dt,
                   CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
            FROM orders WHERE o_orderkey % 97 = 0
            GROUP BY yr
        """,
        "html_roundtrip_agg": _NATION_BY_REGION_SQL,
        "q6_forecast_revenue": """
            SELECT SUM(ROUND(l_extendedprice * l_discount * 100, 0)) / 100 AS revenue,
                   COUNT(*) AS n
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1998-01-01'
              AND l_discount >= 0.03 AND l_discount <= 0.06
              AND l_quantity < 24
        """,
        "q14_promo_revenue": """
            SELECT SUM(CASE WHEN p_type = 'PROMO'
                            THEN ROUND(l_extendedprice * (1 - l_discount) * 100, 0)
                            ELSE 0.0 END) / 100 AS promo_revenue,
                   SUM(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)) / 100 AS total_revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1997-06-01'
              AND l_shipdate <  TIMESTAMP '1997-08-01'
        """,
        "q18_large_orders": """
            SELECT c_name, o_orderkey, o_totalprice, total_qty
            FROM (SELECT l_orderkey, ROUND(SUM(l_quantity), 2) AS total_qty
                  FROM lineitem GROUP BY l_orderkey
                  HAVING ROUND(SUM(l_quantity), 2) > 250) big
            JOIN orders ON big.l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        "q4_priority_exists": """
            SELECT o_orderpriority, COUNT(*) AS order_count
            FROM orders
            WHERE EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_shipdate > o_orderdate)
            GROUP BY o_orderpriority
        """,
        "count_value": """
            SELECT COUNT(*) AS n FROM lineitem WHERE l_returnflag = 'R'
        """,
        "groupby_cube": """
            SELECT COALESCE(o_orderstatus, 'ALL') AS status,
                   COALESCE(o_orderpriority, 'ALL') AS prio,
                   COUNT(*) AS n,
                   SUM(ROUND(o_totalprice * 100, 0)) / 100 AS price_sum
            FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "window_ntile": """
            SELECT o_orderkey, o_orderstatus,
                   NTILE(4) OVER (PARTITION BY o_orderstatus
                                  ORDER BY o_totalprice ASC, o_orderkey ASC)
                       AS quartile
            FROM orders
        """,
        "q19_disjunctive_filter": """
            SELECT SUM(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)) / 100 AS revenue,
                   COUNT(*) AS n
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size <= 10
                   AND l_quantity BETWEEN 1 AND 20)
               OR (p_brand = 'Brand#2' AND p_size <= 20
                   AND l_quantity BETWEEN 10 AND 30)
               OR (p_brand = 'Brand#3' AND p_size <= 30
                   AND l_quantity BETWEEN 20 AND 40)
        """,
        "groupby_rollup": """
            SELECT COALESCE(l_returnflag, 'ALL') AS rf,
                   COALESCE(l_linestatus, 'ALL') AS ls,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   COUNT(*) AS n
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "hopping_window": """
            SELECT ws AS w_start, event_type, COUNT(*) AS n,
                   SUM(ROUND(value * 100, 0)) / 100 AS val_sum
            FROM (SELECT e.*, u.ws
                  FROM events e,
                       LATERAL UNNEST(generate_series(
                           time_bucket(INTERVAL '15 minutes', ts)
                               - INTERVAL '45 minutes',
                           time_bucket(INTERVAL '15 minutes', ts),
                           INTERVAL '15 minutes')) AS u(ws))
            GROUP BY ws, event_type
        """,
        "deterministic_sample_orders": """
            SELECT COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
            FROM orders
            WHERE CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
                       AS UBIGINT) / 1152921504606846976.0 < 0.1
        """,
        "stratified_sample_docs": """
            SELECT lang, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
            FROM documents
            WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                       AS UBIGINT) / 1152921504606846976.0
                  < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
                              ELSE 0.1 END
            GROUP BY lang
        """,
        "statistics_dates": """
            SELECT MIN(l_shipdate) AS min,
                   MAX(l_shipdate) AS max,
                   CAST(to_timestamp(MEDIAN(epoch(l_shipdate))) AS TIMESTAMP) AS median,
                   COUNT(DISTINCT l_shipdate) AS distinct,
                   COUNT(l_shipdate) AS non_null
            FROM lineitem
        """,
        "unique_values": """
            SELECT DISTINCT p_brand FROM part
        """,
        "is_sorted": """
            WITH t AS (SELECT n_nationkey, n_name,
                              row_number() OVER () AS rid FROM nation),
                 l AS (SELECT n_nationkey, n_name,
                              LAG(n_nationkey, 1, n_nationkey) OVER (ORDER BY rid) AS pk,
                              LAG(n_name, 1, n_name) OVER (ORDER BY rid) AS pn
                       FROM t)
            SELECT BOOL_AND(n_nationkey >= pk) AS sorted_by_key,
                   BOOL_AND(n_name >= pn) AS sorted_by_name
            FROM l
        """,
        "remove_all": """
            SELECT n_regionkey, COUNT(*) AS n
            FROM nation
            WHERE n_name NOT IN ('CHINA', 'FRANCE', 'KENYA')
            GROUP BY n_regionkey
        """,
        "pandas_roundtrip_agg": """
            SELECT n_regionkey, COUNT(*) AS n,
                   CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
            FROM nation GROUP BY n_regionkey
        """,
        "json_columnar_roundtrip": _NATION_BY_REGION_SQL,
        "token_count_bpe": """
            SELECT doc_id,
                   LENGTH(regexp_extract_all(text, '[A-Za-z]+|\\d+|[^\\sA-Za-z\\d]')) AS n_tokens
            FROM documents
        """,
        "language_id_docs": """
            WITH t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
                       FROM documents),
            s AS (SELECT doc_id,
               [{'score': LENGTH(list_filter(toks, x -> x IN ('the','and','of','to','is'))), 'lang': 'en'},
                {'score': LENGTH(list_filter(toks, x -> x IN ('der','die','und','das','ist'))), 'lang': 'de'},
                {'score': LENGTH(list_filter(toks, x -> x IN ('le','la','et','les','est'))), 'lang': 'fr'},
                {'score': LENGTH(list_filter(toks, x -> x IN ('el','la','que','los','es'))), 'lang': 'es'}] AS sc
               FROM t)
            SELECT doc_id,
                   CASE WHEN list_max(sc).score > 0 THEN list_max(sc).lang
                        ELSE 'unknown' END AS lang_pred
            FROM s
        """,
        "dedup_clusters": """
            WITH RECURSIVE d AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
                FROM documents WHERE doc_id < 60
            ), g AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           generate_series(0, GREATEST(LENGTH(toks) - 2, 1) - 1),
                           i -> array_to_string(toks[i+1:i+3], ' '))) AS grams
                FROM d
            ), pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM g a JOIN g b ON a.doc_id < b.doc_id
                WHERE CAST(LENGTH(list_intersect(a.grams, b.grams)) AS DOUBLE)
                      / GREATEST(LENGTH(list_distinct(list_concat(a.grams, b.grams))), 1) >= 0.2
            ), edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION ALL
                SELECT id_b AS src, id_a AS dst FROM pairs
            ), reach(id, label) AS (
                SELECT DISTINCT src, src FROM edges
                UNION
                SELECT e.dst, r.label
                FROM reach r JOIN edges e ON e.src = r.id
            )
            SELECT d.doc_id,
                   COALESCE(cc.component, d.doc_id) AS component
            FROM d LEFT JOIN (
                SELECT id, MIN(label) AS component FROM reach GROUP BY id
            ) cc ON cc.id = d.doc_id
        """,
        "ngram_jaccard_pairs": """
            WITH d AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
                FROM documents WHERE doc_id < 40
            ), g AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           generate_series(0, GREATEST(LENGTH(toks) - 2, 1) - 1),
                           i -> array_to_string(toks[i+1:i+3], ' '))) AS grams
                FROM d
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   ROUND(CAST(LENGTH(list_intersect(a.grams, b.grams)) AS DOUBLE)
                         / GREATEST(LENGTH(list_distinct(list_concat(a.grams, b.grams))), 1), 4) AS jaccard
            FROM g a JOIN g b ON a.doc_id < b.doc_id
        """,
        "near_dup_embeddings": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(list_dot_product(a.embedding, b.embedding)
                         / (SQRT(list_dot_product(a.embedding, a.embedding))
                            * SQRT(list_dot_product(b.embedding, b.embedding))), 4) AS cos
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.embedding, b.embedding)
                  / (SQRT(list_dot_product(a.embedding, a.embedding))
                     * SQRT(list_dot_product(b.embedding, b.embedding))) >= 0.4
        """,
        "multimodal_decode": """
            SELECT doc_id,
                   64 + OCTET_LENGTH(ENCODE(text)) % 512 AS width,
                   64 + (OCTET_LENGTH(ENCODE(text)) * 7) % 512 AS height
            FROM documents
        """,
        "media_features": """
            WITH ex AS (
                SELECT doc_id, LENGTH(text) AS n,
                       UNNEST(RANGE(1, LENGTH(text) + 1)) AS i, text
                FROM documents
            ), b AS (
                SELECT doc_id, n,
                       ORD(SUBSTRING(text, CAST(i AS INT), 1)) % 8 AS bkt
                FROM ex
            )
            SELECT doc_id,
                   ROUND(COUNT(*) FILTER (WHERE bkt = 0)
                         / CAST(ANY_VALUE(n) AS DOUBLE), 4) AS f0,
                   ROUND(COUNT(*) FILTER (WHERE bkt = 7)
                         / CAST(ANY_VALUE(n) AS DOUBLE), 4) AS f7
            FROM b GROUP BY doc_id
        """,
        "groupby_accumulators": """
            SELECT l_returnflag,
                   ROUND(SUM(l_quantity), 2) AS sum_q,
                   MIN(l_quantity) AS min_q,
                   MAX(l_quantity) AS max_q,
                   ROUND(AVG(l_quantity), 4) AS avg_q,
                   COUNT(*) AS cnt,
                   COUNT(DISTINCT l_quantity) AS cntu,
                   ROUND(STDDEV_SAMP(l_quantity), 4) AS stdev_q,
                   ROUND(MEDIAN(l_quantity), 4) AS median_q
            FROM lineitem GROUP BY l_returnflag
        """,
        "distinct_keys": """
            SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        """,
        "unique_first": """
            SELECT o_orderstatus, o_orderpriority, MIN(o_orderkey) AS o_orderkey
            FROM orders GROUP BY o_orderstatus, o_orderpriority
        """,
        "join_inner": """
            SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE o_totalprice > 400000
        """,
        "join_left": """
            SELECT c_custkey, c_name, o_orderkey, o_totalprice
            FROM customer LEFT JOIN (
                SELECT * FROM orders WHERE o_totalprice > 450000
            ) o ON c_custkey = o_custkey
        """,
        "join_outer_merge_keys": """
            SELECT COALESCE(a.k, b.k) AS k, a.o_totalprice, b.o_orderstatus
            FROM (SELECT o_orderkey AS k, o_totalprice FROM orders WHERE o_orderkey % 3 = 0) a
            FULL OUTER JOIN (SELECT o_orderkey AS k, o_orderstatus FROM orders WHERE o_orderkey % 3 = 1) b
            ON a.k = b.k
        """,
        "join_cross": """
            SELECT r_regionkey, r_name, s_suppkey, s_name
            FROM region CROSS JOIN supplier
        """,
        "join_semi": """
            SELECT c_custkey, c_name FROM customer
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        """,
        "join_anti": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        """,
        "join_nullsafe": """
            SELECT c.k, COUNT(*) AS n_pairs, CAST(SUM(s.s_suppkey) AS BIGINT) AS sum_supp
            FROM (SELECT NULLIF(c_nationkey % 5, 3) AS k, c_custkey FROM customer) c
            JOIN (SELECT NULLIF(s_nationkey % 5, 3) AS k, s_suppkey FROM supplier) s
            ON c.k IS NOT DISTINCT FROM s.k
            GROUP BY c.k
        """,
        "lookup_first_match": """
            SELECT o_orderkey, first_ship, l_linenumber FROM (
                SELECT o.o_orderkey,
                       CAST(l.l_shipdate AS DATE) AS first_ship,
                       l.l_linenumber,
                       ROW_NUMBER() OVER (PARTITION BY o.o_orderkey
                           ORDER BY l.l_shipdate ASC NULLS LAST,
                                    l.l_linenumber ASC NULLS LAST) AS rn
                FROM orders o
                LEFT JOIN lineitem l
                  ON o.o_orderkey = l.l_orderkey AND l.l_shipdate >= o.o_orderdate
            ) WHERE rn = 1
        """,
        "pivot_wide": """
            SELECT l_returnflag,
                   ROUND(SUM(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2) AS "l_linestatus=F",
                   ROUND(SUM(l_quantity) FILTER (WHERE l_linestatus = 'O'), 2) AS "l_linestatus=O"
            FROM lineitem GROUP BY l_returnflag
        """,
        "melt_long": """
            SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
            UNION ALL
            SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice AS val FROM part
        """,
        "window_topn": """
            SELECT c_mktsegment, rn, c_custkey, c_acctbal FROM (
                SELECT c_mktsegment, c_custkey, c_acctbal,
                       ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                           ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
                FROM customer
            ) WHERE rn <= 3
        """,
        "window_running_sum": """
            SELECT o_custkey, o_orderkey,
                   ROUND(SUM(o_totalprice) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate ASC, o_orderkey ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
            FROM orders
        """,
        "window_lag": """
            SELECT o_custkey, o_orderkey,
                   LAG(o_totalprice) OVER w AS prev_price,
                   DATEDIFF('day', LAG(o_orderdate) OVER w, o_orderdate) AS days_since_prev
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
        """,
        "slice_step": """
            SELECT o_orderkey, o_totalprice FROM (
                SELECT o_orderkey, o_totalprice,
                       ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS idx
                FROM orders
            ) WHERE idx >= 10 AND idx < 200 AND (idx - 10) % 7 = 0
        """,
        "concat_tables": """
            SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity < 3
            UNION ALL
            SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity > 48
        """,
        "stack_tables": """
            SELECT n_nationkey, n_name, NULL AS r_name FROM nation
            UNION ALL
            SELECT r_regionkey AS n_nationkey, NULL AS n_name, r_name FROM region
        """,
        "repeat_table": """
            SELECT n_nationkey, n_name FROM nation
            UNION ALL SELECT n_nationkey, n_name FROM nation
            UNION ALL SELECT n_nationkey, n_name FROM nation
        """,
        "replace_values": """
            SELECT n_nationkey,
                   CASE n_name WHEN 'CHINA' THEN 'PRC'
                               WHEN 'UNITED STATES' THEN 'USA'
                               ELSE n_name END AS n_name
            FROM nation
        """,
        "drop_rows": """
            SELECT l_orderkey, l_returnflag, l_linestatus FROM lineitem
            WHERE NOT (l_returnflag IN ('R','F') OR l_linestatus IN ('R','F'))
        """,
        "column_select_pass": """
            SELECT o_orderkey AS okey,
                   CAST(o_orderkey AS BIGINT) AS v_int
            FROM orders WHERE o_orderkey % 3 = 0
        """,
        "column_select_fail": """
            SELECT o_orderkey,
                   'x' || CAST(o_orderkey AS VARCHAR) AS v,
                   'Column ''v'' failed to convert x' || CAST(o_orderkey AS VARCHAR) || ' to int' AS reject_reason
            FROM orders WHERE o_orderkey % 3 <> 0
        """,
        "imputation_ffill": """
            SELECT event_id,
                   ROUND(last_value(v IGNORE NULLS) OVER (
                       ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS value
            FROM (SELECT event_id,
                         CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
                  FROM events)
        """,
        "imputation_mean": """
            SELECT event_id,
                   ROUND(COALESCE(v, AVG(v) OVER ()), 2) AS value
            FROM (SELECT event_id,
                         CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
                  FROM events)
        """,
        "statistics_summary": """
            SELECT MIN(l_quantity) AS min, MAX(l_quantity) AS max,
                   ROUND(AVG(l_quantity), 4) AS mean,
                   ROUND(MEDIAN(l_quantity), 4) AS median,
                   ROUND(STDDEV_SAMP(l_quantity), 4) AS stdev,
                   COUNT(DISTINCT l_quantity) AS distinct,
                   ROUND(SUM(l_quantity), 2) AS sum,
                   COUNT(l_quantity) AS non_null
            FROM lineitem
        """,
        "histogram": """
            SELECT o_orderpriority, COUNT(*) AS count FROM orders GROUP BY o_orderpriority
        """,
        "xround_buckets": """
            SELECT CAST(FLOOR(o_totalprice / 1000) * 1000 AS BIGINT) AS bucket,
                   COUNT(*) AS n
            FROM orders GROUP BY 1
        """,
        "diff_tables": """
            WITH a AS (SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 15),
                 b AS (SELECT n_nationkey, n_name FROM nation WHERE n_nationkey >= 10),
                 ca AS (SELECT n_nationkey, n_name, COUNT(*) AS na FROM a GROUP BY 1,2),
                 cb AS (SELECT n_nationkey, n_name, COUNT(*) AS nb FROM b GROUP BY 1,2),
                 m AS (SELECT COALESCE(ca.n_nationkey, cb.n_nationkey) AS n_nationkey,
                              COALESCE(ca.n_name, cb.n_name) AS n_name,
                              COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
                       FROM ca FULL OUTER JOIN cb
                       ON ca.n_nationkey IS NOT DISTINCT FROM cb.n_nationkey
                      AND ca.n_name IS NOT DISTINCT FROM cb.n_name)
            SELECT '=' AS marker, n_nationkey, n_name FROM m WHERE LEAST(na, nb) > 0
            UNION ALL
            SELECT '-' AS marker, n_nationkey, n_name FROM m WHERE na - nb > 0
            UNION ALL
            SELECT '+' AS marker, n_nationkey, n_name FROM m WHERE nb - na > 0
        """,
        "sessionize_events": """
            WITH g AS (
                SELECT user_id, value, ts,
                       CASE WHEN LAG(ts) OVER w IS NULL
                                 OR EXTRACT(EPOCH FROM ts) - EXTRACT(EPOCH FROM LAG(ts) OVER w) > 1800
                            THEN 1 ELSE 0 END AS new_sess,
                       event_id
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
            ), s AS (
                SELECT user_id, value,
                       CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
                FROM g
            )
            SELECT user_id, session_seq, COUNT(*) AS n_events,
                   SUM(ROUND(value * 100, 0)) / 100 AS session_value
            FROM s GROUP BY user_id, session_seq
        """,
        "tumbling_window": """
            SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
                   event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "dedup_exact": """
            SELECT doc_id, n_chars FROM documents
            WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY text)
        """,
        "text_stats": """
            SELECT doc_id,
                   LENGTH(text) AS n_chars_computed,
                   LENGTH(regexp_split_to_array(TRIM(text), '\\s+')) AS n_tokens,
                   LENGTH(list_distinct(regexp_split_to_array(TRIM(text), '\\s+'))) AS n_uniq_tokens,
                   ROUND(LENGTH(REPLACE(TRIM(text), ' ', ''))
                         / LENGTH(regexp_split_to_array(TRIM(text), '\\s+')), 4) AS avg_token_len
            FROM documents WHERE LENGTH(TRIM(text)) > 0
        """,
        "doc_fingerprint": """
            SELECT doc_id,
                   MD5(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', '', 'g')) AS fp
            FROM documents
        """,
        "quality_score": """
            SELECT doc_id,
                   ROUND(sw / GREATEST(n_tok, 1), 4) AS stopword_ratio,
                   ROUND(LEAST(1.0, n_tok / 100.0) * 0.5
                         + LEAST(sw / GREATEST(n_tok, 1) * 5, 1.0) * 0.5, 4) AS quality
            FROM (
                SELECT doc_id,
                       CAST(LENGTH(regexp_split_to_array(TRIM(text), '\\s+')) AS DOUBLE) AS n_tok,
                       CAST(LENGTH(list_filter(regexp_split_to_array(LOWER(TRIM(text)), '\\s+'),
                            x -> x IN ('the','a','an','and','or','of','to','in','is','it')))
                            AS DOUBLE) AS sw
                FROM documents WHERE LENGTH(TRIM(text)) > 0
            )
        """,
        "trigram_substring_docs": """
            SELECT doc_id,
                   CAST((length(text) - length(replace(text,
                        'the table', ''))) / 9 AS BIGINT)
                       AS n_occurrences
            FROM documents
            WHERE contains(text, 'the table')
        """,
        "interpolate_events": """
            WITH s AS (
                SELECT user_id, ts, MAX(value) AS v FROM events
                WHERE event_type = 'click' GROUP BY user_id, ts
            ), t AS (
                SELECT event_id, user_id, ts FROM events
                WHERE event_type = 'error'
            ), b AS (
                SELECT t.event_id, t.ts, s.ts AS pts, s.v AS pv
                FROM t ASOF LEFT JOIN s
                  ON t.user_id = s.user_id AND s.ts <= t.ts
            ), f AS (
                SELECT t.event_id, s.ts AS nts, s.v AS nv
                FROM t ASOF LEFT JOIN s
                  ON t.user_id = s.user_id AND s.ts >= t.ts
            )
            SELECT b.event_id,
                   ROUND(CASE
                       WHEN pts IS NULL OR nts IS NULL THEN NULL
                       WHEN pts = nts THEN pv
                       ELSE pv + (nv - pv) *
                            ((CAST(epoch_us(b.ts) AS DOUBLE)
                              - CAST(epoch_us(pts) AS DOUBLE))
                             / (CAST(epoch_us(nts) AS DOUBLE)
                                - CAST(epoch_us(pts) AS DOUBLE)))
                   END, 4) AS value
            FROM b JOIN f USING (event_id)
        """,
        "fuzzy_join_customers": """
            SELECT a.c_custkey AS l_id, b.c_custkey AS r_id,
                   CAST(levenshtein(a.c_name, b.c_name) AS INTEGER)
                       AS dist
            FROM customer a JOIN customer b
              ON a.c_custkey < b.c_custkey
            WHERE levenshtein(a.c_name, b.c_name) <= 1
        """,
        "winnow_fps_docs": r"""
            WITH nrm AS (
                SELECT doc_id,
                       regexp_replace(lower(text), '\s+', ' ', 'g') AS s
                FROM documents WHERE doc_id < 20
            ), g AS (
                SELECT doc_id, CASE WHEN length(s) >= 8 THEN
                    list_transform(range(1, length(s) - 8 + 2),
                                   i -> substr(s, i, 8))
                    ELSE [] END AS gs
                FROM nrm
            ), h AS (
                SELECT doc_id,
                       list_transform(gs, x ->
                           CAST(('0x' || substr(md5(x), 1, 15))
                                AS UBIGINT)) AS hs
                FROM g
            ), wins AS (
                SELECT doc_id,
                       list_transform(
                           range(0, greatest(len(hs) - 4 + 1, 0)),
                           p -> {
                               'fp': list_min(hs[p+1:p+4]),
                               'pos': p + 4 - list_position(
                                   list_reverse(hs[p+1:p+4]),
                                   list_min(hs[p+1:p+4]))
                           }) AS ws
                FROM h
            )
            SELECT DISTINCT doc_id, CAST(u.w.fp AS BIGINT) AS fp,
                   CAST(u.w.pos AS INTEGER) AS pos
            FROM wins, UNNEST(ws) AS u(w)
        """,
        "winnow_matches_docs": r"""
            WITH nrm AS (
                SELECT doc_id,
                       regexp_replace(lower(text), '\s+', ' ', 'g') AS s
                FROM documents
            ), g AS (
                SELECT doc_id, CASE WHEN length(s) >= 12 THEN
                    list_transform(range(1, length(s) - 12 + 2),
                                   i -> substr(s, i, 12))
                    ELSE [] END AS gs
                FROM nrm
            ), h AS (
                SELECT doc_id,
                       list_transform(gs, x ->
                           CAST(('0x' || substr(md5(x), 1, 15))
                                AS UBIGINT)) AS hs
                FROM g
            ), fps AS (
                SELECT DISTINCT doc_id, CAST(u.f AS BIGINT) AS fp
                FROM h, UNNEST(list_transform(
                    range(0, greatest(len(hs) - 6 + 1, 0)),
                    p -> list_min(hs[p+1:p+6]))) AS u(f)
            ), keep AS (
                SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 25
            ), pruned AS (
                SELECT doc_id, fp FROM fps JOIN keep USING (fp)
            ), pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       count(*) AS shared_fps
                FROM pruned a JOIN pruned b
                  ON a.fp = b.fp AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b, shared_fps, rank FROM (
                SELECT pairs.*, CAST(row_number() OVER (
                    ORDER BY shared_fps DESC, id_a ASC, id_b ASC)
                    AS INTEGER) AS rank
                FROM pairs) WHERE rank <= 100
        """,
        "tfidf_keywords_docs": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(
                           regexp_replace(lower(text),
                                          '[^a-z0-9 ]', ' ', 'g'),
                           ' +'), t -> t != '') AS tk
                FROM documents
            ), tf AS (
                SELECT doc_id, u.t AS term, count(*) AS tf
                FROM toks, unnest(tk) AS u(t)
                GROUP BY 1, 2
            ), dft AS (
                SELECT term, count(*) AS dfc FROM tf GROUP BY 1
            ), n AS (
                -- N = tokenized docs, derived from tf (mirrors the
                -- Spark side's lazy single-scan N)
                SELECT count(DISTINCT doc_id) AS n FROM tf
            ), s AS (
                SELECT tf.doc_id, tf.term,
                       tf.tf * CAST(floor(1e6 * ln(
                           CAST(n.n + 1 AS DOUBLE)
                           / CAST(dft.dfc + 1 AS DOUBLE)))
                           AS BIGINT) AS score_micro
                FROM tf JOIN dft USING (term), n
            )
            SELECT doc_id, term, score_micro, rank FROM (
                SELECT s.*, CAST(row_number() OVER (
                    PARTITION BY doc_id
                    ORDER BY score_micro DESC, term ASC) AS INTEGER)
                    AS rank
                FROM s) WHERE rank <= 3
        """,
        "corr_matrix_lineitem": """
            SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
                   count(CASE WHEN l_quantity IS NOT NULL
                              AND l_extendedprice IS NOT NULL THEN 1 END) AS n,
                   ROUND(corr(l_quantity, l_extendedprice), 4) + 0 AS corr
            FROM lineitem
            UNION ALL
            SELECT 'l_quantity' AS col_a, 'l_discount' AS col_b,
                   count(CASE WHEN l_quantity IS NOT NULL
                              AND l_discount IS NOT NULL THEN 1 END) AS n,
                   ROUND(corr(l_quantity, l_discount), 4) + 0 AS corr
            FROM lineitem
            UNION ALL
            SELECT 'l_quantity' AS col_a, 'l_tax' AS col_b,
                   count(CASE WHEN l_quantity IS NOT NULL
                              AND l_tax IS NOT NULL THEN 1 END) AS n,
                   ROUND(corr(l_quantity, l_tax), 4) + 0 AS corr
            FROM lineitem
            UNION ALL
            SELECT 'l_extendedprice' AS col_a, 'l_discount' AS col_b,
                   count(CASE WHEN l_extendedprice IS NOT NULL
                              AND l_discount IS NOT NULL THEN 1 END) AS n,
                   ROUND(corr(l_extendedprice, l_discount), 4) + 0 AS corr
            FROM lineitem
            UNION ALL
            SELECT 'l_extendedprice' AS col_a, 'l_tax' AS col_b,
                   count(CASE WHEN l_extendedprice IS NOT NULL
                              AND l_tax IS NOT NULL THEN 1 END) AS n,
                   ROUND(corr(l_extendedprice, l_tax), 4) + 0 AS corr
            FROM lineitem
            UNION ALL
            SELECT 'l_discount' AS col_a, 'l_tax' AS col_b,
                   count(CASE WHEN l_discount IS NOT NULL
                              AND l_tax IS NOT NULL THEN 1 END) AS n,
                   ROUND(corr(l_discount, l_tax), 4) + 0 AS corr
            FROM lineitem
        """,
        "group_quantiles_events": """
            SELECT event_type, q, ROUND(val, 4) + 0 AS value
            FROM (
                SELECT event_type,
                       unnest([0.25, 0.5, 0.75, 0.95]) AS q,
                       unnest(quantile_cont(value,
                           [0.25, 0.5, 0.75, 0.95])) AS val
                FROM events GROUP BY event_type)
        """,
        "mutual_info_docs": """
            WITH j AS (
                SELECT lang AS x_, source AS y_, count(*) AS nxy
                FROM documents
                WHERE lang IS NOT NULL AND source IS NOT NULL
                GROUP BY 1, 2
            ), m AS (
                SELECT nxy,
                       sum(nxy) OVER (PARTITION BY x_) AS nx,
                       sum(nxy) OVER (PARTITION BY y_) AS ny,
                       sum(nxy) OVER () AS n
                FROM j
            )
            SELECT CAST(max(n) AS BIGINT) AS n,
                   ROUND(sum(CAST(nxy AS DOUBLE) / n
                             * ln(CAST(nxy AS DOUBLE) * n
                                  / (CAST(nx AS DOUBLE) * ny))),
                         4) + 0 AS mi_nats,
                   ROUND(-sum(CAST(nxy AS DOUBLE) / n
                              * ln(CAST(nx AS DOUBLE) / n)),
                         4) + 0 AS h_x,
                   ROUND(-sum(CAST(nxy AS DOUBLE) / n
                              * ln(CAST(ny AS DOUBLE) / n)),
                         4) + 0 AS h_y
            FROM m
        """,
        "rolling_avg_events": """
            SELECT event_id,
                   ROUND(avg(value) OVER w, 4) + 0 AS roll_avg,
                   count(value) OVER w AS roll_count,
                   ROUND(sum(value) OVER w, 4) + 0 AS roll_sum
            FROM events WHERE event_type = 'click'
            WINDOW w AS (PARTITION BY user_id ORDER BY ts
                         RANGE BETWEEN INTERVAL 15 MINUTES PRECEDING
                         AND CURRENT ROW)
        """,
        "state_intervals_events": """
            WITH o AS (
                SELECT user_id, event_type, ts, event_id,
                       CASE WHEN lag(event_type) OVER w
                                 IS NOT DISTINCT FROM event_type
                            THEN 0 ELSE 1 END AS chg
                FROM events
                WINDOW w AS (PARTITION BY user_id
                             ORDER BY ts, event_id)
            ), r AS (
                SELECT user_id, event_type, ts, event_id,
                       sum(chg) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING)
                           AS island
                FROM o
            ), iv AS (
                SELECT user_id, island,
                       min(event_type) AS state,
                       min(ts) AS valid_from,
                       count(*) AS n_obs
                FROM r GROUP BY 1, 2
            )
            SELECT user_id, state, valid_from,
                   lead(valid_from) OVER (PARTITION BY user_id
                                          ORDER BY island)
                       AS valid_to,
                   n_obs
            FROM iv
        """,
        "spearman_corr_lineitem": """
            WITH base AS (
                SELECT l_quantity, l_extendedprice, l_discount
                FROM lineitem
                WHERE l_quantity IS NOT NULL
                  AND l_extendedprice IS NOT NULL
                  AND l_discount IS NOT NULL
            ), r AS (
                SELECT rank() OVER (ORDER BY l_quantity) + (count(*) OVER (PARTITION BY l_quantity) - 1) / 2.0 AS rq,
                       rank() OVER (ORDER BY l_extendedprice) + (count(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0 AS rp,
                       rank() OVER (ORDER BY l_discount) + (count(*) OVER (PARTITION BY l_discount) - 1) / 2.0 AS rd
                FROM base
            )
            SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
                   count(*) AS n,
                   ROUND(corr(rq, rp), 4) + 0 AS rho
            FROM r
            UNION ALL
            SELECT 'l_quantity' AS col_a, 'l_discount' AS col_b,
                   count(*) AS n,
                   ROUND(corr(rq, rd), 4) + 0 AS rho
            FROM r
            UNION ALL
            SELECT 'l_extendedprice' AS col_a, 'l_discount' AS col_b,
                   count(*) AS n,
                   ROUND(corr(rp, rd), 4) + 0 AS rho
            FROM r
        """,
        "ks_test_events": """
            WITH s AS (
                SELECT value AS v,
                       count(*) FILTER (event_type = 'click') AS ca,
                       count(*) FILTER (event_type = 'view') AS cb
                FROM events
                WHERE value IS NOT NULL
                  AND event_type IN ('click', 'view')
                GROUP BY 1
            ), c AS (
                SELECT sum(ca) OVER (ORDER BY v) AS cum_a,
                       sum(cb) OVER (ORDER BY v) AS cum_b,
                       sum(ca) OVER () AS na, sum(cb) OVER () AS nb
                FROM s
            ), d AS (
                SELECT max(abs(cum_a / na - cum_b / nb)) AS dd,
                       max(na) AS na, max(nb) AS nb
                FROM c
            ), lam AS (
                SELECT dd, na, nb,
                       dd * sqrt(CAST(na AS DOUBLE) * nb
                                 / (na + nb)) AS l
                FROM d
            )
            -- lambda < 0.2: truncated-series branch is invalid but
            -- true p = 1 to 5e-13 (mirrors the Spark operator)
            SELECT CAST(na AS BIGINT) AS n_a,
                   CAST(nb AS BIGINT) AS n_b,
                   ROUND(dd, 4) + 0 AS d_stat,
                   ROUND(CASE WHEN l < 0.2 THEN 1.0 ELSE
                       least(1.0, greatest(0.0,
                       2 * (SELECT sum(
                            CASE WHEN j % 2 = 1 THEN 1.0
                                 ELSE -1.0 END
                            * exp(-2.0 * j * j * l * l))
                            FROM range(1, 101) t(j)))) END, 4) + 0
                       AS p_value
            FROM lam
        """,
        "chi2_docs": """
            WITH j AS (
                SELECT lang AS x_, source AS y_, count(*) AS nxy
                FROM documents
                WHERE lang IS NOT NULL AND source IS NOT NULL
                GROUP BY 1, 2
            ), m AS (
                SELECT nxy,
                       sum(nxy) OVER (PARTITION BY x_) AS nx,
                       sum(nxy) OVER (PARTITION BY y_) AS ny,
                       sum(nxy) OVER () AS n,
                       count(DISTINCT x_) OVER () AS kx,
                       count(DISTINCT y_) OVER () AS ky
                FROM j
            )
            SELECT CAST(max(n) AS BIGINT) AS n,
                   CAST((max(kx) - 1) * (max(ky) - 1) AS BIGINT)
                       AS dof,
                   ROUND(sum((nxy - CAST(nx AS DOUBLE) * ny / n)
                             * (nxy - CAST(nx AS DOUBLE) * ny / n)
                             / (CAST(nx AS DOUBLE) * ny / n)),
                         4) + 0 AS chi2,
                   CASE WHEN least(max(kx) - 1, max(ky) - 1) >= 1
                   THEN ROUND(sqrt(
                       sum((nxy - CAST(nx AS DOUBLE) * ny / n)
                           * (nxy - CAST(nx AS DOUBLE) * ny / n)
                           / (CAST(nx AS DOUBLE) * ny / n))
                       / (CAST(max(n) AS DOUBLE)
                          * least(max(kx) - 1, max(ky) - 1))),
                       4) + 0
                   END AS cramers_v
            FROM m
        """,
        "equidepth_hist_events": """
            WITH e AS (
                SELECT quantile_cont(value,
                    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
                    AS ed
                FROM events WHERE value IS NOT NULL
            )
            SELECT CAST(len(list_filter(ed, x -> value > x))
                        AS INTEGER) AS bin,
                   ROUND(min(value), 4) + 0 AS lo,
                   ROUND(max(value), 4) + 0 AS hi,
                   count(*) AS n_rows
            FROM events CROSS JOIN e
            WHERE value IS NOT NULL
            GROUP BY 1
        """,
        "heavy_hitters_docs": """
            WITH t AS (
                SELECT unnest(string_split_regex(lower(text),
                    '[^a-z0-9]+')) AS tok
                FROM documents
            ), f AS (
                SELECT tok, count(*) AS cnt FROM t
                WHERE tok <> '' GROUP BY 1
            ), n AS (SELECT sum(cnt) AS n FROM f)
            SELECT tok AS token, cnt,
                   ROUND(cnt / CAST(n.n AS DOUBLE), 6) + 0 AS share
            FROM f, n
            WHERE cnt > CAST(0.01 AS DOUBLE) * n.n
        """,
        "markov_events": """
            WITH p AS (
                SELECT event_type AS state,
                       lead(event_type) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS next_state
                FROM events
            )
            SELECT state, next_state, count(*) AS n,
                   ROUND(count(*) / CAST(sum(count(*)) OVER
                       (PARTITION BY state) AS DOUBLE), 4) + 0 AS p
            FROM p
            WHERE state IS NOT NULL AND next_state IS NOT NULL
            GROUP BY 1, 2
        """,
        "outliers_mad_events": """
            WITH s AS (
                SELECT event_type, median(value) AS med,
                       mad(value) AS mad
                FROM events WHERE value IS NOT NULL
                GROUP BY 1
            )
            SELECT e.event_id, e.event_type,
                   ROUND(e.value, 4) + 0 AS value
            FROM events e JOIN s
              ON e.event_type IS NOT DISTINCT FROM s.event_type
            WHERE e.value IS NOT NULL AND s.mad > 0
              AND abs(e.value - s.med) > 3.0 * 1.4826 * s.mad
        """,
        "benford_orders": """
            WITH o AS (
                SELECT CAST(floor(o_totalprice
                    / power(10, floor(log10(o_totalprice))))
                    AS INT) AS digit
                FROM orders
                WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
            ), g AS (
                SELECT digit, count(*) AS n_obs FROM o GROUP BY 1
            ), w AS (
                SELECT digit, n_obs, sum(n_obs) OVER () AS tot
                FROM g
            )
            SELECT digit, n_obs,
                   ROUND(n_obs / CAST(tot AS DOUBLE), 6) + 0
                       AS share,
                   ROUND(log10(1.0 + 1.0 / digit), 6) + 0
                       AS benford_share,
                   ROUND(CAST(tot AS DOUBLE)
                         * (n_obs / CAST(tot AS DOUBLE)
                            - log10(1.0 + 1.0 / digit))
                         * (n_obs / CAST(tot AS DOUBLE)
                            - log10(1.0 + 1.0 / digit))
                         / log10(1.0 + 1.0 / digit), 4) + 0
                       AS chi2_term
            FROM w
        """,
        "acf_events": """
            WITH l AS (
                SELECT value AS x,
                       lag(value, 1) OVER w AS y1,
                       lag(value, 2) OVER w AS y2,
                       lag(value, 3) OVER w AS y3,
                       lag(value, 4) OVER w AS y4,
                       lag(value, 5) OVER w AS y5
                FROM events
                WINDOW w AS (PARTITION BY user_id
                             ORDER BY ts, event_id)
            )
            SELECT 0 AS lag,
                   count(CASE WHEN x IS NOT NULL THEN 1 END) AS n,
                   ROUND(corr(x, x), 4) + 0 AS ccf FROM l
            UNION ALL SELECT 1,
                   count(CASE WHEN x IS NOT NULL
                              AND y1 IS NOT NULL THEN 1 END),
                   ROUND(corr(y1, x), 4) + 0 FROM l
            UNION ALL SELECT 2,
                   count(CASE WHEN x IS NOT NULL
                              AND y2 IS NOT NULL THEN 1 END),
                   ROUND(corr(y2, x), 4) + 0 FROM l
            UNION ALL SELECT 3,
                   count(CASE WHEN x IS NOT NULL
                              AND y3 IS NOT NULL THEN 1 END),
                   ROUND(corr(y3, x), 4) + 0 FROM l
            UNION ALL SELECT 4,
                   count(CASE WHEN x IS NOT NULL
                              AND y4 IS NOT NULL THEN 1 END),
                   ROUND(corr(y4, x), 4) + 0 FROM l
            UNION ALL SELECT 5,
                   count(CASE WHEN x IS NOT NULL
                              AND y5 IS NOT NULL THEN 1 END),
                   ROUND(corr(y5, x), 4) + 0 FROM l
        """,
        "gini_orders": """
            WITH r AS (
                SELECT o_totalprice AS x,
                       rank() OVER (ORDER BY o_totalprice)
                       + (count(*) OVER
                          (PARTITION BY o_totalprice) - 1) / 2.0
                           AS ar
                FROM orders WHERE o_totalprice IS NOT NULL
            )
            SELECT count(*) AS n,
                   ROUND(avg(x), 4) + 0 AS mean,
                   ROUND(2 * sum(ar * x) / (count(*) * sum(x))
                         - (count(*) + 1.0) / count(*), 6) + 0
                       AS gini,
                   ROUND(sum(CASE WHEN x > 0 THEN x * ln(x)
                                  ELSE 0 END)
                         / (count(*) * avg(x)) - ln(avg(x)), 6) + 0
                       AS theil
            FROM r
        """,
        "q7_volume_shipping": """
            SELECT n1.n_name AS supp_nation,
                   n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS INT) AS l_year,
                   ROUND(sum(l_extendedprice * (1 - l_discount)),
                         4) + 0 AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE l_shipdate BETWEEN '1996-01-01' AND '1997-12-31'
              AND ((n1.n_name = 'NATION_1'
                    AND n2.n_name = 'NATION_2')
                   OR (n1.n_name = 'NATION_2'
                       AND n2.n_name = 'NATION_1'))
            GROUP BY 1, 2, 3
        """,
        "q8_market_share": """
            WITH base AS (
                SELECT year(o_orderdate) AS o_year,
                       l_extendedprice * (1 - l_discount)
                           AS volume,
                       n1.n_name AS supp_nation
                FROM lineitem
                JOIN part ON l_partkey = p_partkey
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation n2 ON c_nationkey = n2.n_nationkey
                JOIN region ON n2.n_regionkey = r_regionkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation n1 ON s_nationkey = n1.n_nationkey
                WHERE p_type = 'PROMO' AND r_name = 'ASIA'
                  AND o_orderdate BETWEEN '1996-01-01'
                      AND '1997-12-31'
            )
            SELECT CAST(o_year AS INT) AS o_year,
                   ROUND(sum(CASE WHEN supp_nation = 'NATION_5'
                                  THEN volume ELSE 0 END)
                         / sum(volume), 6) + 0 AS mkt_share
            FROM base GROUP BY 1
        """,
        "q10_returned_items": """
            SELECT c_custkey, c_name, n_name,
                   ROUND(sum(l_extendedprice * (1 - l_discount)),
                         4) + 0 AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate BETWEEN '1995-10-01'
                  AND '1995-12-31'
            GROUP BY 1, 2, 3
            ORDER BY sum(l_extendedprice * (1 - l_discount)) DESC,
                     c_custkey
            LIMIT 20
        """,
        "q13_customer_distribution": """
            WITH per AS (
                SELECT c.c_custkey,
                       count(o.o_orderkey) AS c_count
                FROM customer c LEFT JOIN orders o
                  ON c.c_custkey = o.o_custkey
                GROUP BY 1
            )
            SELECT c_count, count(*) AS custdist
            FROM per GROUP BY 1
            ORDER BY custdist DESC, c_count DESC
        """,
        "q15_top_supplier": """
            WITH rev AS (
                SELECT l_suppkey AS supplier_no,
                       sum(l_extendedprice * (1 - l_discount))
                           AS total_revenue
                FROM lineitem
                WHERE l_shipdate BETWEEN '1996-01-01'
                    AND '1996-03-31'
                GROUP BY 1
            )
            SELECT s_suppkey, s_name,
                   ROUND(total_revenue, 4) + 0 AS total_revenue
            FROM rev JOIN supplier ON supplier_no = s_suppkey
            WHERE total_revenue = (SELECT max(total_revenue)
                                   FROM rev)
        """,
        "q2_min_cost_supplier": """
            WITH offers AS (
                SELECT l_partkey, l_suppkey,
                       min(l_extendedprice / l_quantity)
                           AS unit_cost
                FROM lineitem WHERE l_quantity > 0
                GROUP BY 1, 2
            ), oe AS (
                SELECT o.*, s_acctbal, s_name, n_name
                FROM offers o
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
                JOIN part ON l_partkey = p_partkey
                WHERE r_name = 'EUROPE' AND p_type = 'LARGE'
                  AND p_size <= 10
            )
            SELECT s_acctbal, s_name, n_name,
                   l_partkey AS p_partkey, unit_cost + 0 AS unit_cost
            FROM oe
            WHERE unit_cost = (SELECT min(unit_cost) FROM oe i
                               WHERE i.l_partkey = oe.l_partkey)
        """,
        "q9_product_profit": """
            SELECT n_name AS nation,
                   CAST(year(l_shipdate) AS INT) AS o_year,
                   ROUND(sum(l_extendedprice * (1 - l_discount)
                             - 0.6 * p_retailprice * l_quantity),
                         4) + 0 AS sum_profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%red%'
            GROUP BY 1, 2
        """,
        "q11_important_parts": """
            WITH val AS (
                SELECT l_partkey, sum(l_extendedprice
                                      * (1 - l_discount)) AS value
                FROM lineitem
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                WHERE n_name = 'NATION_3'
                GROUP BY 1
            )
            SELECT l_partkey AS p_partkey,
                   ROUND(value, 4) + 0 AS value
            FROM val
            WHERE value > (SELECT avg(value) * 2 FROM val)
        """,
        "q12_late_shipments": """
            SELECT l_linestatus,
                   CAST(sum(CASE WHEN o_orderpriority IN
                            ('1-URGENT', '2-HIGH') THEN 1
                            ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN
                            ('1-URGENT', '2-HIGH') THEN 0
                            ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate BETWEEN '1996-01-01' AND '1997-12-31'
              AND l_shipdate > o_orderdate + INTERVAL 90 DAY
            GROUP BY 1
        """,
        "q16_supplier_part_counts": """
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
              AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
              AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                    WHERE s_name LIKE '%7')
            GROUP BY 1, 2, 3
        """,
        "q17_small_qty_revenue": """
            SELECT ROUND(sum(l_extendedprice) / 7.0, 4) + 0
                       AS avg_yearly
            FROM lineitem l JOIN part ON l_partkey = p_partkey
            WHERE p_brand = 'Brand#23' AND p_type = 'MEDIUM'
              AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                                FROM lineitem i
                                WHERE i.l_partkey = l.l_partkey)
        """,
        "q20_promo_suppliers": """
            SELECT s_suppkey, s_name, n_name
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            WHERE s_suppkey IN (
                SELECT l_suppkey FROM lineitem
                WHERE l_partkey IN (SELECT p_partkey FROM part
                                    WHERE p_type = 'PROMO')
                  AND l_shipdate BETWEEN '1996-01-01'
                      AND '1996-12-31'
                GROUP BY l_suppkey, l_partkey
                HAVING sum(l_quantity) > 50
            )
        """,
        "q21_waiting_suppliers": """
            WITH w AS (
                SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
                FROM lineitem l1
                JOIN orders ON l1.l_orderkey = o_orderkey
                WHERE o_orderstatus = 'F'
                  AND l1.l_returnflag = 'R'
                  AND EXISTS (SELECT 1 FROM lineitem l2
                              WHERE l2.l_orderkey = l1.l_orderkey
                                AND l2.l_suppkey <> l1.l_suppkey)
                  AND NOT EXISTS (
                      SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
            )
            SELECT s_name, count(*) AS numwait
            FROM w JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY 1
        """,
        "q22_dormant_customers": """
            SELECT c_nationkey AS cntrycode,
                   count(*) AS numcust,
                   ROUND(sum(c_acctbal), 4) + 0 AS totacctbal
            FROM customer c
            WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                               WHERE c_acctbal > 0)
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderdate >= '2000-01-01')
            GROUP BY 1
        """,
        "cusum_events": """
            WITH c AS (
                SELECT ts AS t, sum(value) AS x, count(*) AS nn
                FROM events
                WHERE ts IS NOT NULL AND value IS NOT NULL
                GROUP BY 1
            ), m AS (
                SELECT sum(x) AS sx, sum(nn) AS sn FROM c
            ), w AS (
                SELECT t, sum(x) OVER (ORDER BY t) AS cx,
                       sum(nn) OVER (ORDER BY t) AS cn
                FROM c
            ), s AS (
                SELECT t, cn,
                       cx - (SELECT sx / sn FROM m) * cn AS s
                FROM w
            )
            SELECT CAST((SELECT sn FROM m) AS BIGINT) AS n,
                   ROUND((SELECT sx / sn FROM m), 4) + 0 AS mean,
                   CAST(cn AS BIGINT) AS cp_index, t AS cp_at,
                   ROUND(s, 4) + 0 AS cusum,
                   ROUND(abs(s), 4) + 0 AS cusum_abs
            FROM s ORDER BY abs(s) DESC, cn LIMIT 1
        """,
        "expectations_orders": """
            WITH agg AS (
                SELECT count(*) AS n,
                       sum(CASE WHEN o_custkey IS NULL
                           THEN 1 ELSE 0 END) AS v1,
                       sum(CASE WHEN o_totalprice IS NOT NULL
                                AND o_totalprice NOT BETWEEN
                                    0.0 AND 1000000.0
                           THEN 1 ELSE 0 END) AS v2,
                       sum(CASE WHEN o_orderstatus IS NOT NULL
                                AND o_orderstatus NOT IN
                                    ('F', 'O', 'P')
                           THEN 1 ELSE 0 END) AS v3,
                       sum(CASE WHEN o_orderpriority IS NOT NULL
                                AND NOT regexp_matches(
                                    o_orderpriority, '^[1-5]-')
                           THEN 1 ELSE 0 END) AS v4,
                       count(o_orderkey)
                           - count(DISTINCT o_orderkey) AS v5,
                       sum(CASE WHEN o_totalprice IS NOT NULL
                                AND o_totalprice < 0.01
                           THEN 1 ELSE 0 END) AS v6
                FROM orders
            )
            SELECT r.rule, r.col AS column, agg.n AS n_rows,
                   CAST(CASE r.rule
                       WHEN 'custkey_not_null' THEN v1
                       WHEN 'totalprice_range' THEN v2
                       WHEN 'status_in_set' THEN v3
                       WHEN 'priority_pattern' THEN v4
                       WHEN 'orderkey_unique' THEN v5
                       ELSE v6 END AS BIGINT) AS violations,
                   CASE WHEN agg.n > 0 THEN
                       CAST(agg.n - (CASE r.rule
                           WHEN 'custkey_not_null' THEN v1
                           WHEN 'totalprice_range' THEN v2
                           WHEN 'status_in_set' THEN v3
                           WHEN 'priority_pattern' THEN v4
                           WHEN 'orderkey_unique' THEN v5
                           ELSE v6 END) AS DOUBLE) / agg.n
                   END AS pass_rate
            FROM agg, (VALUES
                ('custkey_not_null', 'o_custkey'),
                ('totalprice_range', 'o_totalprice'),
                ('status_in_set', 'o_orderstatus'),
                ('priority_pattern', 'o_orderpriority'),
                ('orderkey_unique', 'o_orderkey'),
                ('price_positive', 'o_totalprice'))
                AS r(rule, col)
        """,
        "feature_scale_lineitem": """
            WITH st AS (
                SELECT quantile_cont(l_quantity, 0.5) AS mq,
                       quantile_cont(l_quantity, 0.75)
                           - quantile_cont(l_quantity, 0.25) AS sq,
                       quantile_cont(l_extendedprice, 0.5) AS mp,
                       quantile_cont(l_extendedprice, 0.75)
                           - quantile_cont(l_extendedprice, 0.25)
                           AS sp
                FROM lineitem
            )
            SELECT l_orderkey, l_linenumber,
                   CASE WHEN sq > 0
                        THEN (l_quantity - mq) / sq END
                       AS l_quantity_scaled,
                   CASE WHEN sp > 0
                        THEN (l_extendedprice - mp) / sp END
                       AS l_extendedprice_scaled
            FROM lineitem, st
        """,
        "weighted_quantiles_lineitem": """
            WITH c AS (
                SELECT l_extendedprice AS v,
                       sum(l_quantity) AS w
                FROM lineitem
                WHERE l_extendedprice IS NOT NULL
                  AND l_quantity IS NOT NULL AND l_quantity > 0
                GROUP BY 1
            ), w2 AS (
                SELECT v, sum(w) OVER (ORDER BY v) AS cw FROM c
            ), t AS (SELECT sum(w) AS tw FROM c)
            SELECT q.q, min(v) AS value
            FROM w2, t,
                 (VALUES (0.25), (0.5), (0.75), (0.95)) q(q)
            WHERE cw >= q.q * t.tw
            GROUP BY 1
        """,
        "seasonal_anomalies_events": """
            WITH m AS (
                SELECT hour(ts) AS p, count(*) AS n,
                       sum(value) AS s,
                       sum(value * value) AS ssq
                FROM events
                WHERE ts IS NOT NULL AND value IS NOT NULL
                GROUP BY 1
            ), g AS (
                SELECT sum(ssq - s * s / n) / sum(n) AS varr FROM m
            )
            SELECT event_id, value,
                   ROUND(s / n, 4) + 0 AS expected,
                   ROUND((value - s / n) / sqrt(varr), 4) + 0 AS z
            FROM events e JOIN m ON hour(e.ts) = m.p, g
            WHERE abs(value - s / n) > 3 * sqrt(varr)
        """,
        "winsorize_lineitem": """
            WITH st AS (
                SELECT quantile_cont(l_extendedprice, 0.01) AS lo,
                       quantile_cont(l_extendedprice, 0.99) AS hi
                FROM lineitem
            )
            SELECT l_orderkey, l_linenumber,
                   CASE WHEN l_extendedprice IS NOT NULL THEN
                       least(greatest(l_extendedprice, lo), hi)
                   END AS l_extendedprice_wins
            FROM lineitem, st
        """,
        "zipf_alpha_docs": """
            WITH c AS (
                SELECT tok, count(*) AS f
                FROM (SELECT UNNEST(string_split_regex(
                          LOWER(TRIM(text)), '\\s+')) AS tok
                      FROM documents)
                WHERE tok <> ''
                GROUP BY 1
            )
            SELECT count(*) AS n_tail, 5 AS fmin,
                   max(f) AS f_max,
                   ROUND(1 + count(*)
                         / sum(ln(CAST(f AS DOUBLE) / 4.5)), 6) + 0
                       AS alpha
            FROM c WHERE f >= 5
        """,
        "bigram_lm_docs": """
            WITH d AS (
                SELECT doc_id,
                       list_filter(string_split_regex(
                           lower(trim(text)), '\\s+'),
                           t -> t <> '') AS toks
                FROM documents
            ), big AS (
                SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
                FROM d, UNNEST(generate_series(1, len(toks) - 1))
                     AS g(i)
                WHERE len(toks) >= 2
            ), bg AS (
                SELECT w1, w2, count(*) AS cbg FROM big GROUP BY 1, 2
            ), uni AS (
                SELECT w, count(*) AS cu FROM (
                    SELECT UNNEST(list_filter(string_split_regex(
                        lower(trim(text)), '\\s+'),
                        t -> t <> '')) AS w
                    FROM documents) GROUP BY 1
            ), v AS (SELECT count(*) AS vv FROM uni)
            SELECT big.doc_id, count(*) AS n_bigrams,
                   ROUND(avg(ln((cbg + 0.5) / (cu + 0.5 * vv))), 4)
                       + 0 AS avg_logprob
            FROM big JOIN bg USING (w1, w2)
            JOIN uni ON big.w1 = uni.w, v
            GROUP BY 1
        """,
        "isotonic_calibration_events": """
            WITH cens AS (
                SELECT least(CAST(floor(least(value / 500.0, 1.0)
                                        * 20) AS INT), 19) AS bin,
                       count(*) AS n,
                       sum(CASE WHEN event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS pos
                FROM events
                WHERE value IS NOT NULL
                  AND least(value / 500.0, 1.0) >= 0
                GROUP BY 1
            ), cum AS (
                SELECT bin, n, pos,
                       sum(n) OVER (ORDER BY bin) AS cn,
                       sum(pos) OVER (ORDER BY bin) AS cp
                FROM cens
            ), seg AS (
                SELECT l.bin AS k, h.bin AS j,
                       CAST(h.cp - (l.cp - l.pos) AS DOUBLE)
                           / (h.cn - (l.cn - l.n)) AS seg_mean
                FROM cum l JOIN cum h ON l.bin <= h.bin
            ), inn AS (
                SELECT i.bin AS i, s.k, min(seg_mean) AS mn
                FROM seg s JOIN cens i
                  ON s.k <= i.bin AND i.bin <= s.j
                GROUP BY 1, 2
            ), fit AS (
                SELECT i AS bin, max(mn) AS calibrated
                FROM inn GROUP BY 1
            )
            SELECT cens.bin, n, CAST(pos AS BIGINT) AS pos,
                   CAST(pos AS DOUBLE) / n AS rate, calibrated
            FROM cens JOIN fit USING (bin)
        """,
        "referential_audit_orders": """
            WITH a AS (
                SELECT 'orders_customer' AS relation,
                       count(*) AS n_rows,
                       count(o_custkey) AS n_nonnull_fk,
                       sum(CASE WHEN o_custkey IS NOT NULL
                                AND c_custkey IS NULL
                           THEN 1 ELSE 0 END) AS orphans
                FROM orders LEFT JOIN
                     (SELECT DISTINCT c_custkey FROM customer) c
                     ON o_custkey = c_custkey
            ), b AS (
                SELECT 'part_sold' AS relation,
                       count(*) AS n_rows,
                       count(p_partkey) AS n_nonnull_fk,
                       sum(CASE WHEN p_partkey IS NOT NULL
                                AND l_partkey IS NULL
                           THEN 1 ELSE 0 END) AS orphans
                FROM part LEFT JOIN
                     (SELECT DISTINCT l_partkey FROM lineitem) l
                     ON p_partkey = l_partkey
            )
            SELECT relation, n_rows, n_nonnull_fk,
                   CAST(orphans AS BIGINT) AS orphans,
                   CASE WHEN n_nonnull_fk > 0 THEN
                       CAST(n_nonnull_fk - orphans AS DOUBLE)
                           / n_nonnull_fk END AS ok_rate
            FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
        """,
        "json_props_events": """
            SELECT event_type,
                   count(CAST(json_extract(props, '$.k')
                              AS BIGINT)) AS n,
                   CAST(sum(CAST(json_extract(props, '$.k')
                            AS BIGINT)) AS BIGINT) AS sum_k,
                   min(CAST(json_extract(props, '$.k')
                            AS BIGINT)) AS min_k,
                   max(CAST(json_extract(props, '$.k')
                            AS BIGINT)) AS max_k
            FROM events GROUP BY 1
        """,
        "ranking_metrics_docs": """
            WITH ranked AS (
                SELECT lang AS q, doc_id AS id,
                       CAST(source = 'web' AS DOUBLE) AS rel,
                       row_number() OVER (PARTITION BY lang
                           ORDER BY CAST(n_chars AS DOUBLE) DESC,
                                    doc_id ASC) AS pos,
                       row_number() OVER (PARTITION BY lang
                           ORDER BY CAST(source = 'web' AS DOUBLE)
                                    DESC, doc_id ASC) AS ipos
                FROM documents
                WHERE lang IS NOT NULL AND doc_id IS NOT NULL
                  AND n_chars IS NOT NULL AND source IS NOT NULL
            ), per_q AS (
                SELECT q,
                       sum(CASE WHEN pos <= 10
                           THEN rel / log2(pos + 1.0)
                           ELSE 0 END) AS dcg,
                       sum(CASE WHEN ipos <= 10
                           THEN rel / log2(ipos + 1.0)
                           ELSE 0 END) AS idcg,
                       max(CASE WHEN pos <= 10 AND rel > 0
                           THEN 1.0 / pos END) AS rr,
                       max(rel) AS maxrel
                FROM ranked GROUP BY 1
            )
            SELECT count(*) AS n_queries,
                   ROUND(avg(dcg / idcg), 6) + 0 AS ndcg,
                   ROUND(avg(coalesce(rr, 0.0)), 6) + 0 AS mrr
            FROM per_q WHERE maxrel > 0
        """,
        "logrank_events": """
            WITH base AS (
                SELECT value AS t,
                       (event_type <> 'error') AS obs,
                       CAST(user_id % 2 AS INT) AS grp
                FROM events
                WHERE value IS NOT NULL AND user_id IS NOT NULL
                  AND event_type IS NOT NULL
            ), cens AS (
                SELECT t,
                       count(*) FILTER (obs AND grp = 0) AS da,
                       count(*) FILTER (obs AND grp = 1) AS db,
                       count(*) FILTER (grp = 0) AS na,
                       count(*) FILTER (grp = 1) AS nb
                FROM base GROUP BY 1
            ), w AS (
                SELECT t, da, db,
                       (SELECT sum(na) FROM cens)
                           - sum(na) OVER (ORDER BY t) + na AS ra,
                       (SELECT sum(nb) FROM cens)
                           - sum(nb) OVER (ORDER BY t) + nb AS rb
                FROM cens
            ), ev AS (
                SELECT sum(da - CAST(ra AS DOUBLE) * (da + db)
                                / (ra + rb)) AS o_e,
                       sum(CASE WHEN ra + rb > 1 THEN
                           CAST(ra AS DOUBLE) * rb * (da + db)
                           * (ra + rb - da - db)
                           / (CAST(ra + rb AS DOUBLE)
                              * (ra + rb) * (ra + rb - 1))
                           ELSE 0 END) AS v
                FROM w WHERE da + db > 0
            )
            SELECT CAST((SELECT sum(na) FROM cens) AS BIGINT)
                       AS n_a,
                   CAST((SELECT sum(nb) FROM cens) AS BIGINT)
                       AS n_b,
                   ROUND(CASE WHEN v > 0 THEN o_e * o_e / v END, 4)
                       + 0 AS chi2
            FROM ev
        """,
        "psi_orders_drift": """
            WITH e AS (
                SELECT o_totalprice AS v FROM orders
                WHERE o_orderdate < '1998-01-01'
                  AND o_totalprice IS NOT NULL
            ), a AS (
                SELECT o_totalprice AS v FROM orders
                WHERE o_orderdate >= '1998-01-01'
                  AND o_totalprice IS NOT NULL
            ), ed AS (
                SELECT DISTINCT unnest(quantile_cont(v,
                    [0.1, 0.2, 0.3, 0.4, 0.5,
                     0.6, 0.7, 0.8, 0.9])) AS edge
                FROM e
            ), k AS (SELECT count(*) + 1 AS k FROM ed),
            ce AS (
                SELECT (SELECT count(*) FROM ed WHERE v >= edge)
                           AS bin, count(*) AS ne
                FROM e GROUP BY 1
            ), ca AS (
                SELECT (SELECT count(*) FROM ed WHERE v >= edge)
                           AS bin, count(*) AS na
                FROM a GROUP BY 1
            ), j AS (
                SELECT coalesce(ce.bin, ca.bin) AS bin, ne, na
                FROM ce FULL JOIN ca ON ce.bin = ca.bin
            ), tot AS (
                SELECT sum(ne) AS te, sum(na) AS ta FROM j
            )
            SELECT k.k AS bins,
                   CAST(te AS BIGINT) AS n_expected,
                   CAST(ta AS BIGINT) AS n_actual,
                   ROUND((SELECT sum(
                       ((coalesce(ne, 0) + 0.5) / (te + 0.5 * k.k)
                        - (coalesce(na, 0) + 0.5) / (ta + 0.5 * k.k))
                       * ln(((coalesce(ne, 0) + 0.5)
                             / (te + 0.5 * k.k))
                            / ((coalesce(na, 0) + 0.5)
                               / (ta + 0.5 * k.k)))) FROM j), 6)
                       + 0 AS psi
            FROM tot, k
        """,
        "gains_table_events": """
            WITH b AS (
                SELECT value / 500.0 AS s,
                       (event_type = 'purchase') AS y
                FROM events WHERE value IS NOT NULL
            ), ed AS (
                SELECT DISTINCT unnest(quantile_cont(s,
                    [0.1, 0.2, 0.3, 0.4, 0.5,
                     0.6, 0.7, 0.8, 0.9])) AS edge
                FROM b
            ), c AS (
                SELECT (SELECT count(*) FROM ed)
                       - (SELECT count(*) FROM ed WHERE s >= edge)
                           AS band,
                       count(*) AS n,
                       sum(CASE WHEN y THEN 1 ELSE 0 END) AS pos
                FROM b GROUP BY 1
            ), cum AS (
                SELECT band, n, pos,
                       sum(pos) OVER (ORDER BY band) AS cum_pos,
                       sum(n) OVER (ORDER BY band) AS cum_n
                FROM c
            ), tot AS (
                SELECT max(cum_pos) AS tp, max(cum_n) AS tn FROM cum
            )
            SELECT band, n, CAST(pos AS BIGINT) AS pos,
                   CAST(cum_pos AS BIGINT) AS cum_pos,
                   CASE WHEN tp > 0 THEN
                       CAST(cum_pos AS DOUBLE) / tp END
                       AS cum_capture,
                   CASE WHEN tp > 0 AND cum_n > 0 THEN
                       (CAST(cum_pos AS DOUBLE) / cum_n)
                       / (CAST(tp AS DOUBLE) / tn) END AS lift
            FROM cum, tot
        """,
        "group_cusum_events": """
            WITH c AS (
                SELECT event_type AS g, ts AS t,
                       sum(value) AS x, count(*) AS nn
                FROM events
                WHERE ts IS NOT NULL AND value IS NOT NULL
                  AND event_type IS NOT NULL
                GROUP BY 1, 2
            ), w AS (
                SELECT g, t,
                       sum(x) OVER (PARTITION BY g ORDER BY t)
                           AS cx,
                       sum(nn) OVER (PARTITION BY g ORDER BY t)
                           AS cn,
                       sum(x) OVER (PARTITION BY g) AS tx,
                       sum(nn) OVER (PARTITION BY g) AS tn
                FROM c
            ), s AS (
                SELECT g, t, cn, tn, tx,
                       cx - (tx / tn) * cn AS s
                FROM w
            ), r AS (
                SELECT g, t, cn, tn, tx, s,
                       row_number() OVER (PARTITION BY g
                           ORDER BY abs(s) DESC, cn ASC) AS rk
                FROM s
            )
            SELECT g AS event_type, CAST(tn AS BIGINT) AS n,
                   ROUND(tx / tn, 4) + 0 AS mean,
                   CAST(cn AS BIGINT) AS cp_index, t AS cp_at,
                   ROUND(s, 4) + 0 AS cusum,
                   ROUND(abs(s), 4) + 0 AS cusum_abs
            FROM r WHERE rk = 1
        """,
        "column_entropy_docs": """
            WITH cens AS (
                SELECT col, val, count(*) AS c
                FROM (
                    SELECT 'lang' AS col, CAST(lang AS VARCHAR)
                        AS val FROM documents
                    UNION ALL
                    SELECT 'source', CAST(source AS VARCHAR)
                    FROM documents
                ) WHERE val IS NOT NULL
                GROUP BY 1, 2
            ), per AS (
                SELECT col, sum(c) AS n, count(*) AS nd,
                       sum(c * ln(CAST(c AS DOUBLE))) AS clc
                FROM cens GROUP BY 1
            )
            SELECT col AS "column", CAST(n AS BIGINT) AS n,
                   nd AS n_distinct,
                   ROUND(ln(CAST(n AS DOUBLE)) - clc / n, 6) + 0
                       AS entropy,
                   ROUND(CASE WHEN nd > 1 THEN
                       (ln(CAST(n AS DOUBLE)) - clc / n)
                       / ln(CAST(nd AS DOUBLE)) END, 6) + 0
                       AS norm_entropy
            FROM per
        """,
        "pmi_collocations_docs": """
            WITH d AS (
                SELECT list_filter(string_split_regex(
                           lower(trim(text)), '\\s+'),
                           t -> t <> '') AS toks
                FROM documents
            ), big AS (
                SELECT toks[i] AS w1, toks[i + 1] AS w2
                FROM d, UNNEST(generate_series(1, len(toks) - 1))
                     AS g(i)
                WHERE len(toks) >= 2
            ), bg AS (
                SELECT w1, w2, count(*) AS pair_count
                FROM big GROUP BY 1, 2 HAVING count(*) >= 5
            ), uni AS (
                SELECT w, count(*) AS cu FROM (
                    SELECT UNNEST(list_filter(string_split_regex(
                        lower(trim(text)), '\\s+'),
                        t -> t <> '')) AS w
                    FROM documents) GROUP BY 1
            ), tot AS (SELECT sum(cu) AS n FROM uni)
            SELECT bg.w1, bg.w2, pair_count,
                   ROUND(ln(CAST(n AS DOUBLE) * pair_count
                            / (CAST(u1.cu AS DOUBLE) * u2.cu)), 6)
                       + 0 AS pmi
            FROM bg
            JOIN uni u1 ON bg.w1 = u1.w
            JOIN uni u2 ON bg.w2 = u2.w, tot
            ORDER BY ln(CAST(n AS DOUBLE) * pair_count
                        / (CAST(u1.cu AS DOUBLE) * u2.cu)) DESC,
                     bg.w1, bg.w2
            LIMIT 50
        """,
        "session_summary_events": """
            WITH o AS (
                SELECT user_id, ts, event_type, event_id,
                       CASE WHEN epoch_us(ts)
                                 - epoch_us(lag(ts) OVER w)
                                 IS NULL
                            OR epoch_us(ts)
                                 - epoch_us(lag(ts) OVER w)
                                 > 1800000000
                            THEN 1 ELSE 0 END AS ns
                FROM events
                WHERE user_id IS NOT NULL AND ts IS NOT NULL
                WINDOW w AS (PARTITION BY user_id
                             ORDER BY ts, event_id)
            ), s AS (
                SELECT user_id, ts, event_type, event_id,
                       sum(ns) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS sid
                FROM o
            ), per AS (
                SELECT user_id, sid, count(*) AS n,
                       arg_min(event_type,
                               strftime(ts, '%Y-%m-%d %H:%M:%S.%f')
                               || '|' || lpad(CAST(event_id
                                                   AS VARCHAR),
                                              12, '0')) AS entry,
                       epoch_us(max(ts)) - epoch_us(min(ts))
                           AS dur
                FROM s GROUP BY 1, 2
            )
            SELECT entry AS entry_type, count(*) AS n_sessions,
                   CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS bounces,
                   CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)
                        AS DOUBLE) / count(*) AS bounce_rate,
                   CAST(sum(n) AS DOUBLE) / count(*) AS avg_events,
                   CAST(sum(dur) AS DOUBLE) / 1e6 / count(*)
                       AS avg_duration_s
            FROM per GROUP BY 1
        """,
        "association_rules_lineitem": """
            WITH base AS (
                SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
                FROM lineitem
                WHERE l_orderkey IS NOT NULL
                  AND l_partkey IS NOT NULL
            ), supp AS (
                SELECT it, count(*) AS s FROM base GROUP BY 1
            ), nb AS (
                SELECT count(DISTINCT bk) AS n FROM base
            ), pairs AS (
                SELECT l.it AS a, r.it AS b, count(*) AS support
                FROM base l JOIN base r
                  ON l.bk = r.bk AND l.it <> r.it
                GROUP BY 1, 2 HAVING count(*) >= 3
            )
            SELECT a, b, support,
                   CAST(support AS DOUBLE) / sa.s AS confidence,
                   CAST(nb.n AS DOUBLE) * support
                       / (CAST(sa.s AS DOUBLE) * sb.s) AS lift
            FROM pairs
            JOIN supp sa ON pairs.a = sa.it
            JOIN supp sb ON pairs.b = sb.it, nb
            ORDER BY CAST(nb.n AS DOUBLE) * support
                     / (CAST(sa.s AS DOUBLE) * sb.s) DESC, a, b
            LIMIT 50
        """,
        "funnel_window_events": """
            WITH s0 AS (
                SELECT user_id, MIN(ts) AS t_view FROM events
                WHERE event_type = 'view' GROUP BY user_id
            ), s1 AS (
                SELECT e.user_id, MIN(ts) AS t_click
                FROM events e JOIN s0 USING (user_id)
                WHERE event_type = 'click' AND ts > t_view
                  AND epoch_us(ts) - epoch_us(t_view)
                      <= 3600000000
                GROUP BY e.user_id
            ), s2 AS (
                SELECT e.user_id, MIN(ts) AS t_purchase
                FROM events e JOIN s1 USING (user_id)
                WHERE event_type = 'purchase' AND ts > t_click
                  AND epoch_us(ts) - epoch_us(t_click)
                      <= 3600000000
                GROUP BY e.user_id
            )
            SELECT s0.user_id, t_view, t_click, t_purchase
            FROM s0 LEFT JOIN s1 USING (user_id)
                    LEFT JOIN s2 USING (user_id)
        """,
        "additive_seasonal_events": """
            WITH m AS (
                SELECT hour(ts) AS h, dayofweek(ts) AS d,
                       avg(value) AS mv
                FROM events
                WHERE ts IS NOT NULL AND value IS NOT NULL
                GROUP BY GROUPING SETS ((hour(ts)),
                                        (dayofweek(ts)), ())
            ), hm AS (
                SELECT h, mv AS hmean FROM m WHERE h IS NOT NULL
            ), dm AS (
                SELECT d, mv AS dmean FROM m
                WHERE d IS NOT NULL AND h IS NULL
            ), gm AS (
                SELECT mv AS grand FROM m
                WHERE h IS NULL AND d IS NULL
            ), j AS (
                SELECT event_id, value,
                       hmean + dmean - grand AS fit
                FROM events JOIN hm ON hour(ts) = h
                JOIN dm ON dayofweek(ts) = d, gm
                WHERE value IS NOT NULL
            ), s AS (
                SELECT *, (SELECT stddev_pop(value - fit) FROM j)
                           AS sd
                FROM j
            )
            SELECT event_id, value,
                   ROUND(fit, 4) + 0 AS expected,
                   ROUND((value - fit) / sd, 4) + 0 AS z
            FROM s WHERE abs(value - fit) > 3 * sd
        """,
        "interarrival_events": """
            WITH g AS (
                SELECT user_id,
                       CAST(epoch_us(ts)
                            - epoch_us(lag(ts) OVER (
                                PARTITION BY user_id
                                ORDER BY ts, event_id)) AS DOUBLE)
                           / 1e6 AS gap
                FROM events
                WHERE user_id IS NOT NULL AND ts IS NOT NULL
            )
            SELECT user_id, count(*) AS n_gaps,
                   ROUND(avg(gap), 4) + 0 AS mean_gap_s,
                   ROUND(stddev_pop(gap), 4) + 0 AS sd_gap_s,
                   ROUND(CASE WHEN avg(gap) > 0 THEN
                       stddev_pop(gap) / avg(gap) END, 6) + 0 AS cv,
                   ROUND(CASE WHEN stddev_pop(gap) + avg(gap) > 0
                       THEN (stddev_pop(gap) - avg(gap))
                            / (stddev_pop(gap) + avg(gap)) END, 6)
                       + 0 AS burstiness
            FROM g WHERE gap IS NOT NULL
            GROUP BY 1
        """,
        "bootstrap_ci_orders": """
            WITH rows_ AS (
                SELECT o_totalprice AS x, o_orderkey AS id, b.b
                FROM orders, (SELECT unnest(range(0, 100)) AS b) b
                WHERE o_totalprice IS NOT NULL
                  AND o_orderkey IS NOT NULL
            ), wtd AS (
                SELECT b, x,
                       CAST(CAST(('0x' || substr(md5(
                           CAST(id AS VARCHAR) || '_'
                           || CAST(b AS VARCHAR)), 1, 8))
                           AS BIGINT) AS DOUBLE) / 4294967296.0
                           AS u
                FROM rows_
            ), w AS (
                SELECT b, x,
                       CASE WHEN u < 0.36787944117144233 THEN 0
                            WHEN u < 0.7357588823428847 THEN 1
                            WHEN u < 0.9196986029286058 THEN 2
                            WHEN u < 0.9810118431238462 THEN 3
                            WHEN u < 0.9963401531726563 THEN 4
                            WHEN u < 0.9994058151824183 THEN 5
                            WHEN u < 0.9999167588507119 THEN 6
                            ELSE 7 END AS wgt
                FROM wtd
            ), per_b AS (
                SELECT b, sum(wgt * x) / sum(wgt) AS m
                FROM w GROUP BY 1
            ), ci AS (
                SELECT quantile_cont(m, 0.025) AS lo,
                       quantile_cont(m, 0.975) AS hi,
                       count(*) AS nb
                FROM per_b
            )
            SELECT (SELECT count(*) FROM orders
                    WHERE o_totalprice IS NOT NULL
                      AND o_orderkey IS NOT NULL) AS n,
                   ROUND((SELECT avg(o_totalprice) FROM orders
                          WHERE o_totalprice IS NOT NULL
                            AND o_orderkey IS NOT NULL), 4) + 0
                       AS estimate,
                   ROUND(lo, 4) + 0 AS lo,
                   ROUND(hi, 4) + 0 AS hi,
                   nb AS n_resamples
            FROM ci
        """,
        "active_users_events": """
            WITH pairs AS (
                SELECT DISTINCT user_id AS u,
                       date_trunc('day', ts) AS d
                FROM events
                WHERE ts IS NOT NULL AND user_id IS NOT NULL
            ), days AS (SELECT DISTINCT d AS day FROM pairs),
            expl AS (
                SELECT u, o.off,
                       d + to_days(CAST(o.off AS INT)) AS day
                FROM pairs, (SELECT unnest(range(0, 28)) AS off) o
            ), per AS (
                SELECT day,
                       count(DISTINCT CASE WHEN off < 1 THEN u END)
                           AS au_1,
                       count(DISTINCT CASE WHEN off < 7 THEN u END)
                           AS au_7,
                       count(DISTINCT CASE WHEN off < 28 THEN u END)
                           AS au_28
                FROM expl GROUP BY 1
            )
            SELECT days.day, au_1, au_7, au_28,
                   CAST(au_1 AS DOUBLE) / au_28 AS stickiness
            FROM days JOIN per ON days.day = per.day
        """,
        "category_index_orders": """
            WITH s AS (
                SELECT o_orderstatus AS v,
                       row_number() OVER (ORDER BY count(*) DESC,
                                          o_orderstatus) - 1 AS i
                FROM orders WHERE o_orderstatus IS NOT NULL
                GROUP BY 1
            ), p AS (
                SELECT o_orderpriority AS v,
                       row_number() OVER (ORDER BY count(*) DESC,
                                          o_orderpriority) - 1 AS i
                FROM orders WHERE o_orderpriority IS NOT NULL
                GROUP BY 1
            )
            SELECT o_orderstatus, s.i AS o_orderstatus_idx,
                   o_orderpriority, p.i AS o_orderpriority_idx,
                   count(*) AS n
            FROM orders
            LEFT JOIN s ON o_orderstatus = s.v
            LEFT JOIN p ON o_orderpriority = p.v
            GROUP BY 1, 2, 3, 4
        """,
        "quantile_discretize_lineitem": """
            WITH ep AS (
                SELECT unnest(quantile_cont(l_extendedprice,
                    [0.1, 0.2, 0.3, 0.4, 0.5,
                     0.6, 0.7, 0.8, 0.9])) AS e
                FROM lineitem
            ), eq AS (
                SELECT DISTINCT e FROM ep
            ), qp AS (
                SELECT unnest(quantile_cont(l_quantity,
                    [0.1, 0.2, 0.3, 0.4, 0.5,
                     0.6, 0.7, 0.8, 0.9])) AS e
                FROM lineitem
            ), qq AS (
                SELECT DISTINCT e FROM qp
            )
            SELECT CASE WHEN l_extendedprice IS NOT NULL THEN
                       CAST((SELECT count(*) FROM eq
                             WHERE l_extendedprice >= e) AS INT)
                   END AS l_extendedprice_bin,
                   CASE WHEN l_quantity IS NOT NULL THEN
                       CAST((SELECT count(*) FROM qq
                             WHERE l_quantity >= e) AS INT)
                   END AS l_quantity_bin,
                   count(*) AS n
            FROM lineitem GROUP BY 1, 2
        """,
        "ols_lineitem": """
            SELECT l_returnflag,
                   count(*) FILTER (l_quantity IS NOT NULL
                       AND l_extendedprice IS NOT NULL) AS n,
                   ROUND(covar_pop(l_extendedprice, l_quantity)
                         / var_pop(l_quantity), 4) + 0 AS slope,
                   ROUND(avg(l_extendedprice)
                         - covar_pop(l_extendedprice, l_quantity)
                           / var_pop(l_quantity)
                           * avg(l_quantity), 4) + 0 AS intercept,
                   ROUND(covar_pop(l_extendedprice, l_quantity)
                         * covar_pop(l_extendedprice, l_quantity)
                         / (var_pop(l_quantity)
                            * var_pop(l_extendedprice)), 6) + 0
                       AS r2
            FROM lineitem GROUP BY 1
        """,
        "km_survival_events": """
            WITH c AS (
                SELECT value AS t,
                       count(*) FILTER (event_type <> 'error')
                           AS d,
                       count(*) FILTER (event_type = 'error')
                           AS cns
                FROM events WHERE value IS NOT NULL GROUP BY 1
            ), w AS (
                SELECT t, d, cns,
                       sum(d + cns) OVER (ORDER BY t) AS cum,
                       (SELECT sum(d + cns) FROM c) AS N
                FROM c
            ), r AS (
                SELECT t, d, N - cum + d + cns AS n_risk FROM w
            ), s AS (
                SELECT t, d, n_risk,
                       exp(sum(CASE WHEN d > 0 AND d < n_risk
                               THEN ln(1 - CAST(d AS DOUBLE)
                                           / n_risk)
                               WHEN d > 0 THEN -1.0e6
                               ELSE 0 END)
                           OVER (ORDER BY t)) AS surv
                FROM r
            )
            SELECT t AS duration, CAST(n_risk AS BIGINT)
                       AS n_at_risk,
                   d AS n_events, ROUND(surv, 4) + 0 AS survival
            FROM s WHERE d > 0
        """,
        "auc_events": """
            WITH b AS (
                SELECT value / 500.0 AS s,
                       CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END AS y
                FROM events WHERE value IS NOT NULL
            ), r AS (
                SELECT y, rank() OVER (ORDER BY s)
                       + (count(*) OVER (PARTITION BY s) - 1) / 2.0
                       AS ar
                FROM b
            )
            SELECT CAST(sum(y) AS BIGINT) AS n_pos,
                   CAST(count(*) - sum(y) AS BIGINT) AS n_neg,
                   (sum(CASE WHEN y = 1 THEN ar END)
                    - CAST(sum(y) AS DOUBLE) * (sum(y) + 1) / 2.0)
                   / (CAST(sum(y) AS DOUBLE) * (count(*) - sum(y)))
                       AS auc
            FROM r
        """,
        "calibration_events": """
            WITH b AS (
                SELECT least(value / 500.0, 1.0) AS s,
                       CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END AS y
                FROM events WHERE value IS NOT NULL
            )
            SELECT CAST(least(floor(s * 10), 9) AS INT) AS bin,
                   count(*) AS n,
                   ROUND(avg(s), 4) + 0 AS mean_score,
                   sum(y) / CAST(count(*) AS DOUBLE) AS frac_pos
            FROM b GROUP BY 1
        """,
        "confusion_events": """
            WITH b AS (
                SELECT value / 500.0 AS s,
                       event_type = 'purchase' AS y
                FROM events WHERE value IS NOT NULL
            ), c AS (
                SELECT count(*) FILTER (s >= 0.3 AND y) AS tp,
                       count(*) FILTER (s >= 0.3 AND NOT y) AS fp,
                       count(*) FILTER (s < 0.3 AND NOT y) AS tn,
                       count(*) FILTER (s < 0.3 AND y) AS fn
                FROM b
            ), m AS (
                SELECT tp, fp, tn, fn,
                       CASE WHEN tp + fp > 0
                            THEN tp / CAST(tp + fp AS DOUBLE)
                       END AS prec,
                       CASE WHEN tp + fn > 0
                            THEN tp / CAST(tp + fn AS DOUBLE)
                       END AS rec
                FROM c
            )
            SELECT tp, fp, tn, fn,
                   CASE WHEN tp + fp + tn + fn > 0 THEN
                       (tp + tn)
                       / CAST(tp + fp + tn + fn AS DOUBLE)
                   END AS accuracy,
                   prec AS precision, rec AS recall,
                   CASE WHEN prec IS NOT NULL AND rec IS NOT NULL
                        AND prec + rec > 0
                        THEN 2.0 * prec * rec / (prec + rec)
                   END AS f1
            FROM m
        """,
        "attribution_events": """
            WITH c AS (
                SELECT event_type AS t, value AS v,
                       last_value(CASE WHEN event_type IN
                           ('view', 'click', 'signup')
                           THEN event_type END IGNORE NULLS)
                       OVER (PARTITION BY user_id
                             ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS channel
                FROM events
            )
            SELECT channel, count(*) AS n_conversions,
                   ROUND(sum(v), 4) + 0 AS attributed_value
            FROM c WHERE t = 'purchase'
            GROUP BY 1
        """,
        "target_encode_orders": """
            WITH s AS (
                SELECT o_orderpriority AS cat, o_orderkey % 5 AS f,
                       sum(o_totalprice) AS s,
                       count(o_totalprice) AS c
                FROM orders GROUP BY 1, 2
            ), w AS (
                SELECT *,
                       COALESCE(sum(s) OVER (PARTITION BY cat), 0)
                           AS ts,
                       sum(c) OVER (PARTITION BY cat) AS tc,
                       COALESCE(sum(s) OVER (PARTITION BY f), 0)
                           AS fs,
                       sum(c) OVER (PARTITION BY f) AS fc,
                       sum(s) OVER () AS gs, sum(c) OVER () AS gc
                FROM s
            ), e AS (
                SELECT cat, f,
                       ((ts - COALESCE(s, 0))
                        + 20.0 * (CASE WHEN gc - fc > 0 THEN
                            (COALESCE(gs, 0) - fs)
                            / CAST(gc - fc AS DOUBLE)
                            ELSE 0 END))
                       / (CAST(tc - c AS DOUBLE) + 20.0) AS te
                FROM w
            )
            SELECT o.o_orderkey, o.o_orderpriority,
                   ROUND(e.te, 4) + 0 AS te
            FROM orders o LEFT JOIN e
              ON o.o_orderpriority IS NOT DISTINCT FROM e.cat
             AND (o.o_orderkey % 5) IS NOT DISTINCT FROM e.f
        """,
        "path_ngrams_events": """
            WITH p AS (
                SELECT event_type AS s0,
                       lead(event_type, 1) OVER w AS s1,
                       lead(event_type, 2) OVER w AS s2
                FROM events
                WINDOW w AS (PARTITION BY user_id
                             ORDER BY ts, event_id)
            ), c AS (
                SELECT concat_ws(' -> ', s0, s1, s2) AS path,
                       count(*) AS n_occurrences
                FROM p
                WHERE s0 IS NOT NULL AND s1 IS NOT NULL
                  AND s2 IS NOT NULL
                GROUP BY 1
            )
            SELECT path, n_occurrences,
                   CAST(row_number() OVER (
                       ORDER BY n_occurrences DESC, path ASC)
                       AS INTEGER) AS rank
            FROM c
            ORDER BY n_occurrences DESC, path ASC
            LIMIT 20
        """,
        "jaccard_join_docs": """
            WITH s AS (
                SELECT doc_id,
                       list_distinct(list_filter(
                           regexp_split_to_array(
                               regexp_replace(lower(text),
                                              '[^a-z0-9 ]', ' ', 'g'),
                               ' +'), t -> t != '')) AS tk
                FROM documents WHERE doc_id % 10 = 0
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(len(list_intersect(a.tk, b.tk)) AS BIGINT)
                       AS n_common,
                   CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
                   / (len(a.tk) + len(b.tk)
                      - len(list_intersect(a.tk, b.tk))) AS jaccard
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE len(a.tk) > 0 AND len(b.tk) > 0
              AND CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
                  / (len(a.tk) + len(b.tk)
                     - len(list_intersect(a.tk, b.tk))) >= 0.8
        """,
        "outliers_events": """
            WITH s AS (
                SELECT event_type, avg(value) AS m,
                       stddev_samp(value) AS sd
                FROM events WHERE value IS NOT NULL
                GROUP BY 1
            )
            -- null-safe join: Spark's eqNullSafe gives a NULL-keyed
            -- group real fences, so the oracle must match it rather
            -- than JOIN USING (which drops NULL keys)
            SELECT e.event_id, e.event_type,
                   ROUND(e.value, 4) + 0 AS value
            FROM events e JOIN s
              ON e.event_type IS NOT DISTINCT FROM s.event_type
            WHERE e.value IS NOT NULL AND s.sd > 0
              AND abs(e.value - s.m) > 3.0 * s.sd
        """,
        "ab_welch_events": """
            WITH g AS (
                SELECT event_type AS g, count(*) AS n,
                       avg(value) AS m, var_samp(value) AS v
                FROM events WHERE value IS NOT NULL
                GROUP BY 1 HAVING count(*) >= 2
            )
            -- '+ 0' folds IEEE -0.0 (which DuckDB ROUND preserves
            -- but Spark F.round canonicalizes) to +0.0 so the hash
            -- compare sees identical representations; the CASE
            -- mirrors Spark's NULL-on-degenerate-pair guard.
            SELECT a.g AS g_a, b.g AS g_b, a.n AS na, b.n AS nb,
                   ROUND(a.m, 4) + 0 AS mean_a,
                   ROUND(b.m, 4) + 0 AS mean_b,
                   CASE WHEN a.v / a.n + b.v / b.n > 0 THEN
                       ROUND((a.m - b.m)
                             / sqrt(a.v / a.n + b.v / b.n), 4) + 0
                   END AS t_stat,
                   CASE WHEN a.v / a.n + b.v / b.n > 0 THEN
                       ROUND((a.v / a.n + b.v / b.n)
                             * (a.v / a.n + b.v / b.n)
                             / ((a.v / a.n) * (a.v / a.n) / (a.n - 1)
                                + (b.v / b.n) * (b.v / b.n)
                                  / (b.n - 1)),
                             2) + 0
                   END AS dof
            FROM g a JOIN g b ON a.g < b.g
        """,
        "ema_events": """
            WITH RECURSIVE ordered AS (
                SELECT user_id, event_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                FROM events
                WHERE event_type = 'click' AND value IS NOT NULL
            ), ema AS (
                SELECT user_id, event_id, rn, value AS e
                FROM ordered WHERE rn = 1
                UNION ALL
                SELECT o.user_id, o.event_id, o.rn,
                       0.75 * ema.e + 0.25 * o.value
                FROM ema JOIN ordered o
                  ON o.user_id = ema.user_id AND o.rn = ema.rn + 1
            )
            SELECT user_id, event_id, e AS ema FROM ema
        """,
        "dsir_weights_docs": """
            WITH toks AS (
                SELECT doc_id, lang,
                       list_filter(regexp_split_to_array(
                           regexp_replace(lower(text),
                                          '[^a-z0-9 ]', ' ', 'g'),
                           ' +'), t -> t != '') AS tk
                FROM documents
            ), grams AS (
                SELECT doc_id, lang,
                       list_concat(tk, CASE WHEN len(tk) >= 2 THEN
                           list_transform(range(1, len(tk)),
                               i -> tk[i] || ' ' || tk[i + 1])
                           ELSE [] END) AS gs
                FROM toks
            ), g AS (
                SELECT doc_id, lang,
                       CAST(('0x' || substr(md5(u.g), 1, 8)) AS UBIGINT)
                           % 256 AS b
                FROM grams, unnest(gs) AS u(g)
            ), rawc AS (
                SELECT b, count(*) AS c FROM g GROUP BY b
            ), tgtc AS (
                SELECT b, count(*) AS c FROM g WHERE lang = 'fr'
                GROUP BY b
            ), tot AS (
                SELECT (SELECT sum(c) FROM rawc) AS tr,
                       (SELECT coalesce(sum(c), 0) FROM tgtc) AS tt
            ), lam AS (
                SELECT r.b, CAST(floor(1e6 * (
                        ln((coalesce(t.c, 0) + 1)
                           / CAST(tot.tt + 256 AS DOUBLE))
                      - ln((r.c + 1)
                           / CAST(tot.tr + 256 AS DOUBLE))))
                    AS BIGINT) AS lam
                FROM rawc r LEFT JOIN tgtc t USING (b), tot
            ), w AS (
                SELECT g.doc_id, count(*) AS n_grams,
                       sum(lam.lam) AS s
                FROM g JOIN lam USING (b) GROUP BY g.doc_id
            )
            SELECT d.doc_id,
                   coalesce(w.n_grams, 0) AS n_grams,
                   CAST(coalesce(w.s, 0) AS BIGINT) AS dsir_micro
            FROM documents d LEFT JOIN w USING (doc_id)
        """,
        "dsir_select_docs": """
            WITH toks AS (
                SELECT doc_id, lang,
                       list_filter(regexp_split_to_array(
                           regexp_replace(lower(text),
                                          '[^a-z0-9 ]', ' ', 'g'),
                           ' +'), t -> t != '') AS tk
                FROM documents
            ), grams AS (
                SELECT doc_id, lang,
                       list_concat(tk, CASE WHEN len(tk) >= 2 THEN
                           list_transform(range(1, len(tk)),
                               i -> tk[i] || ' ' || tk[i + 1])
                           ELSE [] END) AS gs
                FROM toks
            ), g AS (
                SELECT doc_id, lang,
                       CAST(('0x' || substr(md5(u.g), 1, 8)) AS UBIGINT)
                           % 256 AS b
                FROM grams, unnest(gs) AS u(g)
            ), rawc AS (
                SELECT b, count(*) AS c FROM g GROUP BY b
            ), tgtc AS (
                SELECT b, count(*) AS c FROM g WHERE lang = 'fr'
                GROUP BY b
            ), tot AS (
                SELECT (SELECT sum(c) FROM rawc) AS tr,
                       (SELECT coalesce(sum(c), 0) FROM tgtc) AS tt
            ), lam AS (
                SELECT r.b, CAST(floor(1e6 * (
                        ln((coalesce(t.c, 0) + 1)
                           / CAST(tot.tt + 256 AS DOUBLE))
                      - ln((r.c + 1)
                           / CAST(tot.tr + 256 AS DOUBLE))))
                    AS BIGINT) AS lam
                FROM rawc r LEFT JOIN tgtc t USING (b), tot
            ), w AS (
                SELECT g.doc_id, count(*) AS n_grams,
                       sum(lam.lam) AS s
                FROM g JOIN lam USING (b) GROUP BY g.doc_id
            ), full_w AS (
                SELECT d.doc_id,
                       coalesce(w.n_grams, 0) AS n_grams,
                       CAST(coalesce(w.s, 0) AS BIGINT) AS dsir_micro
                FROM documents d LEFT JOIN w USING (doc_id)
            )
            SELECT doc_id, n_grams, dsir_micro,
                   CAST(row_number() OVER (ORDER BY dsir_micro DESC,
                                           doc_id ASC) AS INTEGER)
                       AS rank
            FROM full_w
            ORDER BY dsir_micro DESC, doc_id ASC
            LIMIT 50
        """,
        "pca_covariance_embeddings": """
            WITH pairs AS (
                SELECT CAST(i.i AS INTEGER) AS i,
                       CAST(j.j AS INTEGER) AS j
                FROM range(0, 64) i(i), range(0, 64) j(j)
                WHERE j.j >= i.i
            )
            -- '+ 0': 64 of the 2080 cells are tiny negatives that
            -- round to zero at 4 decimals; DuckDB ROUND keeps the
            -- IEEE sign (-0.0) while Spark F.round canonicalizes to
            -- +0.0 — numerically equal but hash-different. -0.0 + 0
            -- is +0.0, matching Spark's representation exactly.
            SELECT p.i, p.j,
                   ROUND(avg(CAST(e.embedding[p.i + 1] AS DOUBLE)
                             * CAST(e.embedding[p.j + 1] AS DOUBLE))
                         - avg(CAST(e.embedding[p.i + 1] AS DOUBLE))
                         * avg(CAST(e.embedding[p.j + 1] AS DOUBLE)),
                         4) + 0 AS cov
            FROM pairs p, embeddings e
            GROUP BY p.i, p.j
        """,
        "bpe_train_docs": """
            WITH n AS (
                SELECT COUNT(*) FILTER (WHERE doc_id % 10 < 5) AS n1,
                       COUNT(*) FILTER (WHERE doc_id % 10 >= 5
                                        AND doc_id % 10 < 8) AS n2
                FROM documents
            )
            SELECT CAST(1 AS INTEGER) AS merge_rank, 'a' AS mleft,
                   'b' AS mright, n1 AS pair_count FROM n
            UNION ALL
            SELECT CAST(2 AS INTEGER), 'a', 'ab', n1 FROM n
            UNION ALL
            SELECT CAST(3 AS INTEGER), 'c', 'd', n2 FROM n
        """,
        "retention_cohorts_events": """
            WITH cohort AS (
                SELECT user_id,
                       time_bucket(INTERVAL '7 days', MIN(ts),
                                   TIMESTAMP '1970-01-01') AS cohort_start
                FROM events GROUP BY user_id
            ), active AS (
                SELECT DISTINCT user_id,
                       time_bucket(INTERVAL '7 days', ts,
                                   TIMESTAMP '1970-01-01') AS bucket
                FROM events
            )
            SELECT c.cohort_start,
                   CAST(date_diff('second', c.cohort_start, a.bucket)
                        / 604800 AS BIGINT) AS period,
                   COUNT(DISTINCT a.user_id) AS n_users
            FROM active a JOIN cohort c USING (user_id)
            GROUP BY c.cohort_start, period
        """,
        "batched_topk_embeddings": """
            WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                       WHERE vec_id >= 3 AND vec_id < 10),
                 scored AS (
                     SELECT q.qid, e.vec_id AS nid,
                            list_dot_product(q.qv, e.embedding)
                            / (SQRT(list_dot_product(q.qv, q.qv))
                               * SQRT(list_dot_product(e.embedding, e.embedding))) AS cos,
                            ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                                list_dot_product(q.qv, e.embedding)
                                / (SQRT(list_dot_product(q.qv, q.qv))
                                   * SQRT(list_dot_product(e.embedding, e.embedding))) DESC,
                                e.vec_id ASC) AS rn
                     FROM q CROSS JOIN embeddings e
                     WHERE e.vec_id <> q.qid
                 )
            SELECT qid, nid, ROUND(cos, 4) AS cos, rn
            FROM scored WHERE rn <= 7
        """,
        "embedding_topk": """
            WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3),
                 scored AS (
                     SELECT q.qid, e.vec_id AS nid,
                            list_dot_product(q.qv, e.embedding)
                            / (SQRT(list_dot_product(q.qv, q.qv))
                               * SQRT(list_dot_product(e.embedding, e.embedding))) AS cos,
                            ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                                list_dot_product(q.qv, e.embedding)
                                / (SQRT(list_dot_product(q.qv, q.qv))
                                   * SQRT(list_dot_product(e.embedding, e.embedding))) DESC,
                                e.vec_id ASC) AS rn
                     FROM q CROSS JOIN embeddings e
                     WHERE e.vec_id <> q.qid
                 )
            SELECT qid, nid, ROUND(cos, 4) AS cos, rn
            FROM scored WHERE rn <= 5
        """,
        # Derived-invariant oracles for the hash pipelines: the Spark
        # side runs the real MinHash/SimHash machinery over a corpus
        # where near-dup == exact-dup by construction (_dup_fixture);
        # DuckDB reproduces the construction and the exact-dedup
        # ground truth verbatim.
        "vocab_shift_docs": """
            WITH norm AS (
                SELECT doc_id,
                       lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))
                           AS t
                FROM documents
            ), tk AS (
                SELECT doc_id, tok FROM (
                    SELECT doc_id, unnest(string_split(t, ' ')) AS tok
                    FROM norm)
                WHERE tok <> ''
            ), ca AS (
                SELECT tok, COUNT(*) AS ca FROM tk
                WHERE doc_id % 2 = 0 GROUP BY tok
            ), cb AS (
                SELECT tok, COUNT(*) AS cb FROM tk
                WHERE doc_id % 2 = 1 GROUP BY tok
            ), j AS (
                SELECT COALESCE(ca.ca, 0) AS ca, COALESCE(cb.cb, 0) AS cb
                FROM ca FULL OUTER JOIN cb ON ca.tok = cb.tok
            ), tot AS (
                SELECT SUM(ca) AS na, SUM(cb) AS nb,
                       SUM(CASE WHEN ca > 0 THEN 1 ELSE 0 END) AS va,
                       SUM(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS vb,
                       COUNT(*) AS vu
                FROM j
            ), terms AS (
                SELECT (j.ca + 0.5) / (t.na + 0.5 * t.vu) AS pa,
                       (j.cb + 0.5) / (t.nb + 0.5 * t.vu) AS pb,
                       (pa + pb) / 2.0 AS m,
                       FLOOR(1000000.0 * (0.5 *
                           (pa * ln(pa / m) + pb * ln(pb / m)))) AS q
                FROM j CROSS JOIN tot t
            )
            SELECT CAST(t.va AS BIGINT) AS vocab_a,
                   CAST(t.vb AS BIGINT) AS vocab_b,
                   CAST(t.vu AS BIGINT) AS vocab_union,
                   CAST(t.na AS BIGINT) AS n_tokens_a,
                   CAST(t.nb AS BIGINT) AS n_tokens_b,
                   CAST((SELECT SUM(q) FROM terms) AS BIGINT)
                       AS js_micronats
            FROM tot t
        """,
        "minhash_dedup_docs": """
            WITH corpus AS (
                SELECT doc_id, doc_id AS text_key FROM documents
                UNION ALL
                SELECT doc_id + 10000000 AS doc_id, doc_id AS text_key
                FROM documents WHERE doc_id % 4 = 0
            )
            SELECT MIN(doc_id) AS doc_id FROM corpus GROUP BY text_key
        """,
        "line_dedup_docs": """
            SELECT doc_id,
                   MD5(CASE WHEN doc_id % 3 = 0 THEN
                         'line-' || CAST(doc_id AS VARCHAR) || '-a' ||
                         chr(10) ||
                         'line-' || CAST(doc_id AS VARCHAR) || '-b'
                       ELSE
                         'line-' || CAST(doc_id AS VARCHAR) || '-a' ||
                         chr(10) || 'mid-' || CAST(doc_id AS VARCHAR) ||
                         chr(10) ||
                         'line-' || CAST(doc_id AS VARCHAR) || '-b'
                       END) AS text_md5,
                   CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 3 END
                        AS BIGINT) AS n_lines_kept
            FROM documents
        """,
        "semantic_dedup_embeddings": """
            WITH corpus AS (
                SELECT vec_id, vec_id AS vec_key FROM embeddings
                UNION ALL
                SELECT vec_id + 10000000 AS vec_id, vec_id AS vec_key
                FROM embeddings WHERE vec_id % 4 = 0
            )
            SELECT MIN(vec_id) AS vec_id FROM corpus GROUP BY vec_key
        """,
        "perplexity_docs": """
            WITH dd AS (
                SELECT doc_id,
                       lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))
                           AS norm
                FROM documents
            ), dn AS (
                SELECT doc_id, norm FROM dd WHERE length(norm) >= 3
            ), grams AS (
                SELECT doc_id, substr(norm, CAST(i AS INT), 3) AS gram
                FROM (SELECT doc_id, norm,
                             unnest(range(1, length(norm) - 1)) AS i
                      FROM dn)
            ), counts AS (
                SELECT gram, COUNT(*) AS cnt FROM grams GROUP BY gram
            ), prefixes AS (
                SELECT substr(gram, 1, 2) AS pfx, SUM(cnt) AS pcnt
                FROM counts GROUP BY pfx
            ), vocab AS (
                SELECT COUNT(DISTINCT substr(norm, CAST(i AS INT), 1)) AS v
                FROM (SELECT norm,
                             unnest(range(1, length(norm) + 1)) AS i
                      FROM dn)
            )
            SELECT g.doc_id, COUNT(*) AS n_ngrams,
                   CAST(SUM(FLOOR(1000.0 * ln(
                        (c.cnt + 0.5) / (p.pcnt + 0.5 * vocab.v))))
                        AS BIGINT) AS millinats
            FROM grams g
            JOIN counts c ON g.gram = c.gram
            JOIN prefixes p ON substr(g.gram, 1, 2) = p.pfx
            CROSS JOIN vocab
            GROUP BY g.doc_id
        """,
        "simhash_docs": """
            WITH corpus AS (
                SELECT doc_id, doc_id AS text_key FROM documents
                UNION ALL
                SELECT doc_id + 10000000 AS doc_id, doc_id AS text_key
                FROM documents WHERE doc_id % 4 = 0
            )
            SELECT COUNT(*) AS n_docs,
                   COUNT(DISTINCT text_key) AS n_sigs,
                   COUNT(DISTINCT text_key) AS n_texts
            FROM corpus
        """,
        "simhash_near_dup_docs": """
            SELECT doc_id AS id_a, doc_id + 10000000 AS id_b,
                   CAST(0 AS INT) AS hamming
            FROM documents WHERE doc_id % 4 = 0
        """,
        # ANN oracles assert the deterministic recall floor: with
        # seeded hyperplanes / seeded k-means the approximate top-k is
        # a fixed set; since round 6 the oracle is INDEPENDENT — the
        # engine's approx ids are pinned as literals and DuckDB
        # recomputes the exact top-5 and the overlap itself (see
        # _ann_overlap_oracle).
        "lsh_topk_embeddings": _ann_overlap_oracle(
            "(0,73),(0,334),(0,365),(0,387),(0,423),"
            "(1,27),(1,64),(1,195),(1,386),(1,407),"
            "(2,112),(2,117),(2,145),(2,320),(2,418)"),
        "ivf_topk_embeddings": _ann_overlap_oracle(
            "(0,7),(0,73),(0,334),(0,365),(0,423),"
            "(1,27),(1,64),(1,124),(1,386),(1,407),"
            "(2,117),(2,145),(2,188),(2,320),(2,450)"),
        "pq_topk_embeddings": _ann_overlap_oracle(
            "(0,73),(0,334),(0,365),(0,387),(0,423),"
            "(1,27),(1,64),(1,124),(1,386),(1,407),"
            "(2,112),(2,117),(2,145),(2,188),(2,450)"),
        "ivfpq_topk_embeddings": _ann_overlap_oracle(
            "(0,73),(0,320),(0,365),(0,387),(0,423),"
            "(1,64),(1,195),(1,386),(1,402),(1,407),"
            "(2,112),(2,117),(2,145),(2,188),(2,450)"),
        "holdout_split_orders": """
            WITH u AS (
                SELECT o_orderkey,
                       CAST(('0x' || substring(md5('split' || CAST(o_orderkey AS VARCHAR)), 1, 15))
                            AS UBIGINT) / 1152921504606846976.0 AS h
                FROM orders
            )
            SELECT CASE WHEN h < 0.1 THEN 'holdout' ELSE 'train' END AS split,
                   COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
            FROM u GROUP BY 1
        """,
        "wav_decode_meta": """
            SELECT doc_id,
                   CAST(16000 AS INT) AS sample_rate,
                   CAST(1 AS INT) AS channels,
                   CAST((800 + (doc_id % 10) * 160) * 1000 / 16000 AS BIGINT)
                       AS duration_ms
            FROM documents
        """,
        "jpeg_decode_dims": """
            SELECT doc_id,
                   CAST(16 + doc_id % 9 AS INT) AS width,
                   CAST(12 + doc_id % 5 AS INT) AS height,
                   CAST(doc_id % 2 AS DOUBLE) AS mean_red_bit
            FROM documents
        """,
        "gif_decode_dims": """
            SELECT doc_id,
                   CAST(16 + doc_id % 9 AS INT) AS width,
                   CAST(12 + doc_id % 5 AS INT) AS height,
                   CAST(doc_id % 2 AS DOUBLE) AS mean_red_bit
            FROM documents
        """,
        "audio_features_meta": """
            SELECT doc_id,
                   CAST(16000 AS INT) AS sample_rate,
                   CAST(200 AS BIGINT) AS duration_ms,
                   CAST(200 * (1 + doc_id % 8) - 1 AS BIGINT)
                       AS zero_crossings,
                   CAST(1 + doc_id % 8 AS BIGINT) AS centroid_bucket,
                   CAST(1 + doc_id % 2 AS BIGINT) AS amp_bit
            FROM documents
        """,
        "video_frames_meta": """
            WITH base AS (
                SELECT doc_id, 3 + doc_id % 4 AS n
                FROM documents WHERE doc_id % 5 = 0
            ), s AS (
                SELECT doc_id, n, CAST((n - 1) // 2 + 1 AS BIGINT)
                           AS n_sampled
                FROM base)
            SELECT doc_id, n_sampled,
                   CAST(16 + doc_id % 9 AS INT) AS width,
                   CAST(12 + doc_id % 5 AS INT) AS height,
                   CAST(200 * (n_sampled - 1) AS BIGINT) AS max_t_ms,
                   CAST(n_sampled * (doc_id % 2) AS BIGINT) AS luma_bits
            FROM s
        """,
        "png_decode_dims": """
            SELECT doc_id,
                   CAST(8 + doc_id % 5 AS INT) AS width,
                   CAST(6 + doc_id % 3 AS INT) AS height,
                   CAST(doc_id % 2 AS DOUBLE) AS mean_red
            FROM documents
        """,
        "canonical_urls_docs": """
            WITH raw AS (
                SELECT doc_id,
                       'HTTPS://Example' || CAST(doc_id % 7 AS VARCHAR)
                       || '.COM:443/Path/' || CAST(doc_id AS VARCHAR)
                       || '/?utm_source=x&id=' || CAST(doc_id AS VARCHAR)
                       || '&utm_campaign=y&fbclid=abc&myfbclid=keep#frag' AS url
                FROM documents
            ), s1 AS (
                SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM raw
            ), s2 AS (
                SELECT doc_id,
                       lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*)', 1))
                       || regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*', '') AS u
                FROM s1
            ), s3 AS (
                SELECT doc_id,
                       regexp_replace(regexp_replace(u,
                           '^(http://[^/?#:]*):80(/|\\?|$)', '\\1\\2'),
                           '^(https://[^/?#:]*):443(/|\\?|$)', '\\1\\2') AS u
                FROM s2
            ), s4 AS (
                SELECT doc_id,
                       regexp_replace(u,
                           '([?&])(utm_[A-Za-z0-9_]+|fbclid|gclid|msclkid|mc_eid)=[^&#]*',
                           '\\1', 'g') AS u
                FROM s3
            ), s5 AS (
                SELECT doc_id,
                       regexp_replace(regexp_replace(u,
                           '&{2,}', '&', 'g'), '\\?&', '?') AS u
                FROM s4
            )
            SELECT doc_id,
                   regexp_replace(regexp_replace(u,
                       '[?&]+$', ''), '/+$', '') AS url_canon
            FROM s5
        """,
        "interval_join_events": """
            SELECT e.user_id, COUNT(*) AS n_pairs,
                   CAST(SUM(e.event_id + c.event_id) AS BIGINT) AS pair_sum
            FROM events e JOIN events c
              ON e.user_id = c.user_id
             AND e.event_type = 'error' AND c.event_type = 'click'
             AND epoch(e.ts) >= epoch(c.ts)
             AND epoch(e.ts) <= epoch(c.ts) + 3600
            GROUP BY e.user_id
        """,
        "normalize_docs": """
            SELECT doc_id,
                   md5(trim(regexp_replace(
                       lower(nfc_normalize('Cafe' || chr(769) || '   ' || text)),
                       '\\s+', ' ', 'g'))) AS norm_md5
            FROM documents
        """,
        "unicode_sort_rank": """
            WITH named AS (
                SELECT (CASE WHEN n_nationkey % 3 = 0 THEN 'Ä'
                             WHEN n_nationkey % 3 = 1 THEN 'é'
                             ELSE 'a' END) || n_name AS accented
                FROM nation
            )
            SELECT accented,
                   CAST(ROW_NUMBER() OVER (ORDER BY accented COLLATE de)
                        AS INT) AS rnk
            FROM named
        """,
        "mixture_sample_docs": """
            WITH counts AS (
                SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang
            ), shares(lang, share) AS (
                VALUES ('en', CAST(0.5 AS DOUBLE)), ('de', CAST(0.25 AS DOUBLE)),
                       ('fr', CAST(0.125 AS DOUBLE)), ('es', CAST(0.125 AS DOUBLE))
            ), n_total AS (
                SELECT MIN(cnt / share) AS nt
                FROM counts JOIN shares USING (lang) WHERE share > 0
            ), rates AS (
                SELECT lang, LEAST(CAST(1.0 AS DOUBLE),
                                   share * (SELECT nt FROM n_total) / cnt) AS rate
                FROM counts JOIN shares USING (lang)
            )
            SELECT d.lang, COUNT(*) AS n,
                   CAST(SUM(d.doc_id) AS BIGINT) AS id_sum
            FROM documents d JOIN rates r ON d.lang = r.lang
            WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
                       AS UBIGINT) / 1152921504606846976.0 < r.rate
            GROUP BY d.lang
        """,
        "token_budget_docs": """
            WITH toks AS (
                SELECT doc_id, source,
                       len(string_split(text, ' ')) AS n_tok,
                       CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                            AS UBIGINT) / 1152921504606846976.0 AS h
                FROM documents
            ), runs AS (
                SELECT source, doc_id, n_tok,
                       SUM(n_tok) OVER (PARTITION BY source
                           ORDER BY h ASC, doc_id ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_tok
                FROM toks
            )
            SELECT source, COUNT(*) AS n,
                   CAST(SUM(doc_id) AS BIGINT) AS id_sum,
                   CAST(SUM(n_tok) AS BIGINT) AS tok_sum
            FROM runs WHERE run_tok <= 600 GROUP BY source
        """,
        "incremental_dedup_docs": """
            WITH new_batch AS (
                SELECT doc_id + 1000000 AS doc_id, text
                FROM documents WHERE doc_id % 5 = 1
                UNION ALL
                SELECT doc_id + 2000000 AS doc_id, text || ' v2' AS text
                FROM documents WHERE doc_id % 5 = 2
                UNION ALL
                SELECT doc_id + 3000000 AS doc_id, text || ' v2' AS text
                FROM documents WHERE doc_id % 5 = 2
            ), fresh AS (
                SELECT n.doc_id, n.text FROM new_batch n
                WHERE NOT EXISTS (
                    SELECT 1 FROM documents s WHERE s.text = n.text)
            )
            SELECT MIN(doc_id) AS doc_id FROM fresh GROUP BY text
        """,
        "shuffle_order_docs": """
            WITH h AS (
                SELECT doc_id,
                       CAST(('0x' || substring(md5('epoch1' || CAST(doc_id AS VARCHAR)), 1, 15))
                            AS UBIGINT) / 1152921504606846976.0 AS u
                FROM documents
            )
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY u ASC, doc_id ASC) AS INT) AS rnk
            FROM h
            ORDER BY u ASC, doc_id ASC LIMIT 20
        """,
        "quota_cap_docs": """
            WITH ranked AS (
                SELECT source, doc_id,
                       ROW_NUMBER() OVER (PARTITION BY source ORDER BY
                           CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                                AS UBIGINT) / 1152921504606846976.0 ASC,
                           doc_id ASC) AS rnk
                FROM documents
            )
            SELECT source, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
            FROM ranked WHERE rnk <= 15 GROUP BY source
        """,
        "char_entropy_docs": """
            WITH ch AS (
                SELECT doc_id, unnest(regexp_extract_all(text, '[^\n]')) AS c
                FROM documents
            ), cnt AS (
                SELECT doc_id, c, count(*) AS n FROM ch GROUP BY 1, 2
            ), per AS (
                SELECT doc_id, sum(n) AS n, count(*) AS nd,
                       sum(n * ln(CAST(n AS DOUBLE))) AS clc
                FROM cnt GROUP BY 1
            )
            SELECT doc_id, CAST(n AS BIGINT) AS n_chars_counted,
                   nd AS n_distinct_chars,
                   ROUND(ln(CAST(n AS DOUBLE)) - clc / n, 6) + 0 AS entropy
            FROM per
        """,
        "kfold_splits_docs": """
            WITH f AS (
                SELECT CAST(CAST(('0x' || substring(
                           md5('cv' || CAST(doc_id AS VARCHAR)), 1, 15))
                           AS UBIGINT) % 5 AS INT) AS fold,
                       doc_id, length(text) AS chars
                FROM documents
            )
            SELECT fold, count(*) AS n_docs,
                   CAST(sum(doc_id) AS BIGINT) AS id_sum,
                   CAST(sum(chars) AS BIGINT) AS char_sum
            FROM f GROUP BY 1
        """,
        "tokenizer_fertility_docs": """
            WITH f AS (
                SELECT lang,
                       len(regexp_extract_all(text,
                           '[A-Za-z]+|[0-9]+|[^ \t\n' || chr(11) ||
                           chr(12) || chr(13) || 'A-Za-z0-9]')) AS toks,
                       length(text) AS chars
                FROM documents
            )
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(toks) AS BIGINT) AS n_tokens,
                   CAST(sum(chars) AS BIGINT) AS n_chars,
                   ROUND(CAST(sum(toks) AS DOUBLE) / sum(chars), 6) + 0
                       AS fertility
            FROM f GROUP BY 1
        """,
        "script_mix_docs": """
            WITH per AS (
                SELECT lang, length(text) AS n,
                       length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                           AS lat,
                       length(regexp_replace(text, '[^0-9]', '', 'g'))
                           AS dig,
                       length(regexp_replace(text,
                           '[^ ' || chr(9) || chr(10) || chr(11) || chr(12)
                           || chr(13) || ']', '', 'g')) AS wsp
                FROM documents WHERE text IS NOT NULL
            )
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n) AS BIGINT) AS chars_total,
                   CAST(sum(lat) AS BIGINT) AS chars_latin,
                   CAST(sum(dig) AS BIGINT) AS chars_digit,
                   CAST(sum(wsp) AS BIGINT) AS chars_ws,
                   CAST(sum(n) - sum(lat) - sum(dig) - sum(wsp) AS BIGINT)
                       AS chars_other,
                   ROUND(sum(lat) / CAST(sum(n) AS DOUBLE), 6) + 0
                       AS latin_frac
            FROM per GROUP BY 1
        """,
        "merge_upsert_orders": """
            WITH kept AS (
                SELECT o_orderkey, o_orderstatus, o_totalprice
                FROM orders WHERE o_orderkey % 10 NOT IN (0, 1)
            ), upd AS (
                SELECT o_orderkey, 'X' AS o_orderstatus,
                       o_totalprice + 1000 AS o_totalprice
                FROM orders WHERE o_orderkey % 10 = 1
            ), ins AS (
                SELECT o_orderkey + 1000000000 AS o_orderkey,
                       o_orderstatus, o_totalprice
                FROM orders WHERE o_orderkey % 10 = 2
            ), merged AS (
                SELECT * FROM kept UNION ALL
                SELECT * FROM upd UNION ALL
                SELECT * FROM ins
            )
            SELECT o_orderstatus, count(*) AS n,
                   SUM(ROUND(o_totalprice * 100, 0)) / 100 AS sum_price
            FROM merged GROUP BY 1
        """,
    }
