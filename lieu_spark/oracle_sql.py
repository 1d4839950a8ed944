"""DuckDB oracle SQL — the ANSI twins of lieu_spark/queries.py.

Engine-parity rules embodied here:
- thresholds on similarities use exact integer arithmetic
  (10*inter >= 9*uni), never float compares;
- doubles only appear pre-rounding (x1e6 -> bigint) and with explicit
  CAST(... AS DOUBLE) so float32 columns never accumulate in float32;
- ranks order by the rounded value + id tie-break;
- canonicalization is the RE2 twin of the Spark/Java regex (identical on
  this corpus; documented caveat: Turkish dotted-I differs).
"""

from __future__ import annotations

from .config import DEFAULT_CONFIG as _CFG

# canonical tokens of column ``text`` (alias: toks)
_TOKS = (
    "CASE WHEN trim(regexp_replace(lower(text), '[^\\p{L}\\p{N}]+', ' ', 'g')) = '' "
    "THEN []::VARCHAR[] "
    "ELSE string_split(trim(regexp_replace(lower(text), '[^\\p{L}\\p{N}]+', ' ', 'g')), ' ') END"
)

# k=5 shingles over toks (list of strings, duplicates kept)
_SHINGLES = (
    "CASE WHEN len(toks) = 0 THEN []::VARCHAR[] "
    "WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')] "
    "ELSE list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' ')) END"
)

_DOCS_AUG = """
aug AS (
    SELECT doc_id, text, lang, source, n_chars FROM documents
    UNION ALL
    SELECT doc_id + 100000, text, lang, source, n_chars FROM documents WHERE doc_id < 25
    UNION ALL
    SELECT doc_id + 200000, text || ' zz yy xx qq ww', lang, source, n_chars
    FROM documents WHERE doc_id >= 25 AND doc_id < 50
)
"""

# distinct shingle rows per augmented doc: (doc_id, n_sh, sh)
_AUG_SHINGLES = f"""
{_DOCS_AUG},
tok AS (SELECT doc_id, {_TOKS} AS toks FROM aug),
shl AS (SELECT doc_id, list_distinct({_SHINGLES}) AS shs FROM tok),
ex AS (SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS sh FROM shl)
"""

_JACCARD_PAIRS = f"""
WITH {_AUG_SHINGLES},
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           max(a.n_sh) AS na, max(b.n_sh) AS nb, count(*) AS inter
    FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
pairs AS (
    SELECT id_a, id_b, inter, na + nb - inter AS uni,
           CAST(round(CAST(inter AS DOUBLE) / (na + nb - inter) * 1e6) AS BIGINT) AS j6
    FROM inter
)
"""

ORACLE: dict[str, str] = {}

ORACLE["agg_lineitem"] = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n_rows,
       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY 1, 2
"""

ORACLE["join_enrich"] = """
SELECT n_name, count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
"""

ORACLE["anti_join"] = """
SELECT n_name, count(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY n_name ORDER BY n_name
"""

ORACLE["semi_join"] = """
SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey, count(*) AS n_suppliers
FROM supplier
WHERE EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_suppkey = s_suppkey
      AND l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate < TIMESTAMP '1996-01-01'
)
GROUP BY s_nationkey ORDER BY s_nationkey
"""

ORACLE["argmax_per_group"] = """
WITH ranked AS (
    SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, c_custkey, c_acctbal,
           row_number() OVER (PARTITION BY c_nationkey
                              ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
    FROM customer
)
SELECT c_nationkey, c_custkey AS top_custkey,
       CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents
FROM ranked WHERE rn = 1 ORDER BY c_nationkey
"""

ORACLE["topk_orders"] = """
SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""

ORACLE["set_ops"] = """
SELECT count(*) AS n_custkeys FROM (
    SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1994
    EXCEPT
    SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
)
"""

ORACLE["rollup_sales"] = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       count(*) AS n_rows,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY gid, returnflag, linestatus
"""

ORACLE["cube_sales"] = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       count(*) AS n_rows,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY gid, returnflag, linestatus
"""

ORACLE["revenue_by_nation"] = """
SELECT n_name, count(*) AS n_items,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND c_nationkey = s_nationkey
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name ORDER BY n_name
"""

ORACLE["window_events"] = """
WITH ranked AS (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
           count(*) OVER (PARTITION BY user_id) AS cnt
    FROM events
)
SELECT user_id, max(cnt) AS n_events,
       max(CASE WHEN rn = 1 THEN event_type END) AS first_type,
       max(CASE WHEN rn = cnt THEN event_type END) AS last_type
FROM ranked GROUP BY user_id ORDER BY user_id
"""

ORACLE["sessionize"] = """
WITH lagged AS (
    SELECT user_id, ts, event_id,
           CAST(floor(epoch(ts)) AS BIGINT)
           - lag(CAST(floor(epoch(ts)) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
    FROM events
),
flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS new_sess
    FROM lagged
),
sess AS (
    SELECT user_id,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
),
per_sess AS (
    SELECT user_id, session_id, count(*) AS sess_events
    FROM sess GROUP BY user_id, session_id
)
SELECT user_id, count(*) AS n_sessions, max(sess_events) AS max_session_events,
       CAST(sum(sess_events) AS BIGINT) AS n_events
FROM per_sess GROUP BY user_id ORDER BY user_id
"""

ORACLE["id_assignment"] = """
SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS assigned_id
FROM documents ORDER BY doc_id
"""

ORACLE["json_extract"] = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
"""

ORACLE["term_counts_top"] = f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
pos AS (
    SELECT doc_id, CAST(i - 1 AS INT) AS pos, toks[i] AS token
    FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM tok)
),
counts AS (
    SELECT doc_id, token, count(*) AS tf, min(pos) AS first_pos
    FROM pos GROUP BY doc_id, token
),
ranked AS (
    SELECT doc_id, token, tf, first_pos,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY tf DESC, first_pos ASC, token ASC) AS rank
    FROM counts
)
SELECT doc_id, rank, token, tf, first_pos FROM ranked
WHERE rank <= 3 ORDER BY doc_id, rank
"""

ORACLE["tfidf_top_terms"] = f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
n AS (SELECT count(*) AS n_docs FROM tok),
tf AS (
    SELECT doc_id, unnest(toks) AS token FROM tok
),
tfc AS (SELECT doc_id, token, count(*) AS tf FROM tf GROUP BY doc_id, token),
dfc AS (
    SELECT token, count(*) AS df
    FROM (SELECT DISTINCT doc_id, unnest(toks) AS token FROM tok)
    GROUP BY token
),
scored AS (
    SELECT t.doc_id, t.token, t.tf, d.df,
           CAST(round(ln(t.tf + 1.0) * ln(CAST(n.n_docs AS DOUBLE) / d.df) * 1e6)
                AS BIGINT) AS score6
    FROM tfc t JOIN dfc d USING (token) CROSS JOIN n
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score6 DESC, token ASC) AS rank
    FROM scored
)
SELECT doc_id, token, tf, df, score6 FROM ranked WHERE rank = 1 ORDER BY doc_id
"""

ORACLE["multiset_jaccard"] = f"""
WITH {_DOCS_AUG},
tok AS (SELECT doc_id, {_TOKS} AS toks FROM aug),
tf AS (
    SELECT doc_id, token, count(*) AS tf
    FROM (SELECT doc_id, unnest(toks) AS token FROM tok)
    GROUP BY doc_id, token
),
tot AS (SELECT doc_id, sum(tf) AS total FROM tf GROUP BY doc_id),
base AS (
    SELECT doc_id AS id_a, doc_id + 200000 AS id_b
    FROM documents WHERE doc_id >= 25 AND doc_id < 50
),
inter AS (
    SELECT b.id_a, b.id_b, sum(least(ta.tf, tb.tf)) AS inter_tf
    FROM base b
    JOIN tf ta ON ta.doc_id = b.id_a
    JOIN tf tb ON tb.doc_id = b.id_b AND tb.token = ta.token
    GROUP BY b.id_a, b.id_b
)
SELECT i.id_a, i.id_b, CAST(i.inter_tf AS BIGINT) AS inter_tf,
       CAST(sa.total + sb.total - i.inter_tf AS BIGINT) AS denom_tf,
       CAST(round(CAST(i.inter_tf AS DOUBLE)
            / (sa.total + sb.total - i.inter_tf) * 1e6) AS BIGINT) AS mj6
FROM inter i
JOIN tot sa ON sa.doc_id = i.id_a
JOIN tot sb ON sb.doc_id = i.id_b
ORDER BY id_a
"""

ORACLE["order_price_quantiles"] = """
SELECT o_orderpriority,
       CAST(quantile_disc(CAST(round(o_totalprice * 100) AS BIGINT), 0.5) AS BIGINT) AS p50_cents,
       CAST(quantile_disc(CAST(round(o_totalprice * 100) AS BIGINT), 0.9) AS BIGINT) AS p90_cents,
       count(*) AS n_orders
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

ORACLE["weighted_jaccard"] = f"""
WITH {_DOCS_AUG},
t AS (SELECT doc_id, {_TOKS} AS toks FROM aug),
tok AS (SELECT doc_id, unnest(list_distinct(toks)) AS token FROM t),
w AS (
    SELECT token,
           CAST(round(ln(CAST((SELECT count(*) FROM aug) AS DOUBLE) / count(*)) * 1e6) AS BIGINT) AS w6
    FROM tok GROUP BY token
),
tw AS (SELECT doc_id, tok.token, w6 FROM tok JOIN w USING (token)),
per AS (SELECT doc_id, sum(w6) AS w_tot FROM tw GROUP BY doc_id),
pairs AS (
    SELECT doc_id AS id_a, doc_id + 100000 AS id_b FROM documents WHERE doc_id < 25
    UNION ALL
    SELECT doc_id, doc_id + 200000 FROM documents WHERE doc_id >= 25 AND doc_id < 50
),
inter AS (
    SELECT p.id_a, p.id_b, sum(a.w6) AS w_inter
    FROM pairs p
    JOIN tw a ON a.doc_id = p.id_a
    JOIN tw b ON b.doc_id = p.id_b AND b.token = a.token
    GROUP BY p.id_a, p.id_b
)
SELECT p.id_a, p.id_b,
       CAST(coalesce(i.w_inter, 0) AS BIGINT) AS w_inter,
       CAST(sa.w_tot + sb.w_tot - coalesce(i.w_inter, 0) AS BIGINT) AS w_union,
       CASE WHEN sa.w_tot + sb.w_tot - coalesce(i.w_inter, 0) > 0
            THEN CAST(round(CAST(coalesce(i.w_inter, 0) AS DOUBLE)
                 / (sa.w_tot + sb.w_tot - coalesce(i.w_inter, 0)) * 1e6) AS BIGINT)
            ELSE 0 END AS wj6
FROM pairs p
LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
JOIN per sa ON sa.doc_id = p.id_a
JOIN per sb ON sb.doc_id = p.id_b
ORDER BY p.id_a
"""

# Bucketed word index + blended verifier (geo_word_index.py:18-26 /
# spark/dedupe.py:118-161 analog): (lang, source) cells, sparse cells
# alias to the densest same-lang sibling (>= 5 docs, ties source ASC),
# per-bucket integer IDF, blend floor((6*bucket + 4*global + 5)/10).
ORACLE["bucketed_weighted_jaccard"] = f"""
WITH {_DOCS_AUG},
counts AS (SELECT lang, source, count(*) AS n FROM aug GROUP BY lang, source),
tgt AS (
    SELECT lang, source AS _tgt FROM (
        SELECT lang, source,
               row_number() OVER (PARTITION BY lang ORDER BY n DESC, source ASC) AS rk
        FROM counts WHERE n >= 5)
    WHERE rk = 1
),
alias_map AS (
    SELECT c.lang, c.source,
           CASE WHEN c.n < 5 AND t._tgt IS NOT NULL THEN t._tgt
                ELSE c.source END AS eff_source
    FROM counts c LEFT JOIN tgt t USING (lang)
),
t AS (SELECT doc_id, lang, source, {_TOKS} AS toks FROM aug),
tok AS (SELECT doc_id, lang, source, unnest(list_distinct(toks)) AS token FROM t),
eff AS (
    SELECT tok.doc_id, tok.token, a.lang, a.eff_source
    FROM tok JOIN alias_map a USING (lang, source)
),
-- doc-level (from t, not eff): a doc whose text tokenizes empty still
-- belongs to its bucket and counts toward n_docs — the Spark side's
-- countDistinct over ALL bucketed docs, and the same convention as the
-- global N
nb AS (SELECT a.lang, a.eff_source, count(DISTINCT t2.doc_id) AS n_docs
       FROM t t2 JOIN alias_map a USING (lang, source)
       GROUP BY a.lang, a.eff_source),
bdf AS (SELECT lang, eff_source, token, count(*) AS df
        FROM eff GROUP BY lang, eff_source, token),
bw AS (
    SELECT b.lang, b.eff_source, b.token,
           CAST(round(ln(CAST(n.n_docs AS DOUBLE) / b.df) * 1e6) AS BIGINT) AS w6
    FROM bdf b JOIN nb n USING (lang, eff_source)
),
tw AS (SELECT e.doc_id, e.lang, e.eff_source, e.token, w.w6
       FROM eff e JOIN bw w USING (lang, eff_source, token)),
per AS (SELECT doc_id, sum(w6) AS w_tot FROM tw GROUP BY doc_id),
gw AS (
    SELECT token,
           CAST(round(ln(CAST((SELECT count(*) FROM aug) AS DOUBLE) / count(*)) * 1e6) AS BIGINT) AS w6
    FROM tok GROUP BY token
),
gtw AS (SELECT tok.doc_id, tok.token, gw.w6 FROM tok JOIN gw USING (token)),
gper AS (SELECT doc_id, sum(w6) AS w_tot FROM gtw GROUP BY doc_id),
pairs AS (
    SELECT doc_id AS id_a, doc_id + 100000 AS id_b FROM documents WHERE doc_id < 25
    UNION ALL
    SELECT doc_id, doc_id + 200000 FROM documents WHERE doc_id >= 25 AND doc_id < 50
),
binter AS (
    SELECT p.id_a, p.id_b, sum(a.w6) AS w_inter
    FROM pairs p JOIN tw a ON a.doc_id = p.id_a
                 JOIN tw b2 ON b2.doc_id = p.id_b AND b2.token = a.token
    GROUP BY p.id_a, p.id_b
),
ginter AS (
    SELECT p.id_a, p.id_b, sum(a.w6) AS w_inter
    FROM pairs p JOIN gtw a ON a.doc_id = p.id_a
                 JOIN gtw b2 ON b2.doc_id = p.id_b AND b2.token = a.token
    GROUP BY p.id_a, p.id_b
),
bucket_of AS (SELECT DISTINCT doc_id AS id_a, lang, eff_source FROM eff),
scored AS (
    SELECT p.id_a, p.id_b, bo.lang, bo.eff_source,
           CASE WHEN sa.w_tot + sb.w_tot - coalesce(bi.w_inter, 0) > 0
                THEN CAST(round(CAST(coalesce(bi.w_inter, 0) AS DOUBLE)
                     / (sa.w_tot + sb.w_tot - coalesce(bi.w_inter, 0)) * 1e6) AS BIGINT)
                ELSE 0 END AS wj6_bucket,
           CASE WHEN ga.w_tot + gb.w_tot - coalesce(gi.w_inter, 0) > 0
                THEN CAST(round(CAST(coalesce(gi.w_inter, 0) AS DOUBLE)
                     / (ga.w_tot + gb.w_tot - coalesce(gi.w_inter, 0)) * 1e6) AS BIGINT)
                ELSE 0 END AS wj6_global
    FROM pairs p
    LEFT JOIN binter bi ON bi.id_a = p.id_a AND bi.id_b = p.id_b
    LEFT JOIN ginter gi ON gi.id_a = p.id_a AND gi.id_b = p.id_b
    JOIN bucket_of bo ON bo.id_a = p.id_a
    JOIN per sa ON sa.doc_id = p.id_a
    JOIN per sb ON sb.doc_id = p.id_b
    JOIN gper ga ON ga.doc_id = p.id_a
    JOIN gper gb ON gb.doc_id = p.id_b
)
SELECT id_a, id_b, lang, eff_source, wj6_bucket, wj6_global,
       CAST(floor((6 * wj6_bucket + 4 * wj6_global + 5) / 10.0) AS BIGINT) AS blended6
FROM scored ORDER BY id_a
"""

# Soft-TFIDF (lieu similarity.py:14-60): full-kernel oracle — DuckDB's
# jaro_winkler_similarity IS the reference for the Spark-side numpy JW
# (byte-level, boost iff jaro > 0.7, prefix cap 4, floored half-
# transpositions; all probed + fuzz-matched at sim6 quantization).
# Top-64 rarest tokens per doc ranked by integers (df ASC, tf DESC,
# token ASC); L2 norm over the FULL vector; iteration side = fewer kept
# tokens (strict swap), argmax ties -> larger j.
# Quantization boundary note: JW similarities are quantized to sim6 and
# the token cap ranks by integers, so no comparison/argmax can flip
# cross-engine; the remaining float surface is score_norm (ln/sqrt) and
# the final contribution sum, where a 1-ulp libm difference could in
# principle flip round() at an exact .5 boundary. For any FIXED corpus
# both engines are deterministic (either always green or always red —
# this fixture is green at sf0.01 and sf0.1); exact integer parity all
# the way down would require integer log(), which neither engine has.
ORACLE["soft_tfidf_pairs"] = f"""
WITH entbase AS (
    SELECT doc_id,
           text || ' ' || array_to_string(
             list_transform(range(0, 6),
               k -> 'entity' || lpad(CAST(doc_id * 10 + k AS VARCHAR), 6, '0')),
             ' ') AS text
    FROM documents
),
typo AS (
    SELECT doc_id, text FROM entbase
    UNION ALL
    SELECT doc_id + 300000,
           array_to_string(
             list_transform({_TOKS},
               t -> CASE WHEN length(t) >= 5
                         THEN t[1:2] || t[4:4] || t[3:3] || t[5:]
                         ELSE t END),
             ' ') AS text
    FROM entbase WHERE doc_id < 25
),
tok AS (SELECT doc_id, {_TOKS} AS toks FROM typo),
n AS (SELECT count(*) AS n_docs FROM tok),
tfc AS (SELECT doc_id, token, count(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS token FROM tok)
        GROUP BY doc_id, token),
dfc AS (SELECT token, count(*) AS df
        FROM (SELECT DISTINCT doc_id, unnest(toks) AS token FROM tok)
        GROUP BY token),
scored AS (
    SELECT t.doc_id, t.token, t.tf, d.df,
           ln(t.tf + 1.0) * ln(CAST(n.n_docs AS DOUBLE) / d.df) AS score
    FROM tfc t JOIN dfc d USING (token) CROSS JOIN n
),
norms AS (SELECT doc_id, sqrt(sum(score * score)) AS l2, count(*) AS n_distinct
          FROM scored GROUP BY doc_id),
normed AS (
    SELECT s.doc_id, s.token, s.tf, s.df,
           CASE WHEN nm.l2 > 0 THEN s.score / nm.l2
                ELSE 1.0 / sqrt(nm.n_distinct) END AS score_norm
    FROM scored s JOIN norms nm USING (doc_id)
),
ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                      ORDER BY df ASC, tf DESC, token ASC) AS rk FROM normed),
side AS (
    -- L2-renormalized over the KEPT vector (matches
    -- softtfidf.capped_token_scores: identical docs score 1.0 at any
    -- length; a no-op when n_distinct <= soft_max_tokens)
    SELECT doc_id, token,
           CASE WHEN kn > 0 THEN score_norm / kn ELSE score_norm END AS score_norm,
           j, n_tok
    FROM (
        SELECT doc_id, token, score_norm,
               row_number() OVER (PARTITION BY doc_id ORDER BY token ASC) - 1 AS j,
               count(*) OVER (PARTITION BY doc_id) AS n_tok,
               sqrt(sum(score_norm * score_norm) OVER (PARTITION BY doc_id)) AS kn
        FROM ranked WHERE rk <= {_CFG.soft_max_tokens}
    )
),
pairs AS (SELECT doc_id AS id_a, doc_id + 300000 AS id_b
          FROM documents WHERE doc_id < 25),
nt AS (SELECT DISTINCT doc_id, n_tok FROM side),
orient AS (
    SELECT p.id_a, p.id_b, sa.n_tok AS n_a, sb.n_tok AS n_b,
           CASE WHEN sb.n_tok < sa.n_tok THEN p.id_b ELSE p.id_a END AS id_1,
           CASE WHEN sb.n_tok < sa.n_tok THEN p.id_a ELSE p.id_b END AS id_2
    FROM pairs p JOIN nt sa ON sa.doc_id = p.id_a
                 JOIN nt sb ON sb.doc_id = p.id_b
),
combos AS (
    SELECT o.id_a, o.id_b, o.n_a, o.n_b, t1.token AS tok1,
           t1.score_norm AS s1, t2.score_norm AS s2, t2.j AS j2,
           CAST(round(jaro_winkler_similarity(t1.token, t2.token) * 1e6)
                AS BIGINT) AS sim6
    FROM orient o JOIN side t1 ON t1.doc_id = o.id_1
                  JOIN side t2 ON t2.doc_id = o.id_2
),
best AS (SELECT *, row_number() OVER (PARTITION BY id_a, id_b, tok1
                    ORDER BY sim6 DESC, j2 DESC) AS rn FROM combos),
soft AS (
    SELECT id_a, id_b, CAST(max(n_a) AS INT) AS n_a, CAST(max(n_b) AS INT) AS n_b,
           CAST(count(*) FILTER (WHERE sim6 >= {_CFG.soft_theta6}) AS INT) AS n_close,
           CAST(round(1e6 * coalesce(
               sum(CASE WHEN sim6 >= {_CFG.soft_theta6} THEN sim6 / 1e6 * s1 * s2 END), 0))
               AS BIGINT) AS soft6
    FROM best WHERE rn = 1 GROUP BY id_a, id_b
),
shl AS (SELECT doc_id, list_distinct({_SHINGLES}) AS shs FROM tok),
ex AS (SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS sh FROM shl),
sj AS (
    SELECT p.id_a, p.id_b, max(a.n_sh) AS na, max(b.n_sh) AS nb,
           count(*) AS inter
    FROM pairs p JOIN ex a ON a.doc_id = p.id_a
                 JOIN ex b ON b.doc_id = p.id_b AND b.sh = a.sh
    GROUP BY p.id_a, p.id_b
)
SELECT s.id_a, s.id_b, s.n_a, s.n_b, s.n_close, s.soft6,
       CAST(coalesce(round(CAST(sj.inter AS DOUBLE)
            / (sj.na + sj.nb - sj.inter) * 1e6), 0) AS BIGINT) AS shingle_j6
FROM soft s LEFT JOIN sj ON sj.id_a = s.id_a AND sj.id_b = s.id_b
ORDER BY s.id_a
"""

# No-space-script fallback (functions/text.char_kgram_hash_set): word
# tokenizer degenerates to ONE token on unsegmented CJK -> word-shingle
# tier is exact-match-only (token_j6 = 0), char 12-grams separate.
# k interpolated from _CFG.char_kgram_k below (plain string: the regex
# braces make an f-string awkward)
ORACLE["cjk_neardup_pairs"] = """
WITH src AS (
    SELECT doc_id,
           translate(trim(regexp_replace(lower(text), '[^\\p{L}\\p{N}]+', ' ', 'g')),
                     'abcdefghijklmnopqrstuvwxyz0123456789 ',
                     '零一二三四五六七八九十百千万億兆京垓壱弐参肆伍陸漆捌玖拾佰仟萬田中山川木水') AS t
    FROM documents WHERE doc_id < 25
),
aug AS (
    SELECT doc_id, t FROM src
    UNION ALL
    SELECT doc_id + 400000, t || '馬鹿' FROM src
),
grams AS (
    SELECT doc_id,
           list_distinct(CASE WHEN length(t) = 0 THEN []::VARCHAR[]
                WHEN length(t) < __K__ THEN [t]
                ELSE list_transform(range(1, length(t) - __KM2__), i -> t[i:i+__KM1__]) END) AS gs,
           list_distinct(CASE WHEN length(t) = 0 THEN []::VARCHAR[]
                ELSE [t] END) AS toksh
    FROM aug
),
pairs AS (SELECT doc_id AS id_a, doc_id + 400000 AS id_b
          FROM documents WHERE doc_id < 25),
j AS (
    SELECT p.id_a, p.id_b,
           len(a.gs) AS n_grams_a, len(b.gs) AS n_grams_b,
           len(list_intersect(a.gs, b.gs)) AS ci,
           len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)) AS cu,
           len(list_intersect(a.toksh, b.toksh)) AS ti,
           len(a.toksh) + len(b.toksh) - len(list_intersect(a.toksh, b.toksh)) AS tu
    FROM pairs p JOIN grams a ON a.doc_id = p.id_a
                 JOIN grams b ON b.doc_id = p.id_b
)
SELECT id_a, id_b, CAST(n_grams_a AS INT) AS n_grams_a,
       CAST(n_grams_b AS INT) AS n_grams_b,
       CASE WHEN cu > 0 THEN CAST(round(CAST(ci AS DOUBLE) / cu * 1e6) AS BIGINT)
            ELSE 0 END AS char_j6,
       CASE WHEN tu > 0 THEN CAST(round(CAST(ti AS DOUBLE) / tu * 1e6) AS BIGINT)
            ELSE 0 END AS token_j6
FROM j ORDER BY id_a
"""
ORACLE["cjk_neardup_pairs"] = (
    ORACLE["cjk_neardup_pairs"]
    .replace("__KM2__", str(_CFG.char_kgram_k - 2))
    .replace("__KM1__", str(_CFG.char_kgram_k - 1))
    .replace("__K__", str(_CFG.char_kgram_k))
)


ORACLE["index_merge_batches"] = f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
d AS (
    SELECT doc_id, token
    FROM (SELECT doc_id, unnest(list_distinct(toks)) AS token FROM tok)
    WHERE regexp_full_match(token, '[a-z0-9]{{3,}}')
),
b0 AS (SELECT token, count(*) AS df FROM d WHERE doc_id % 2 = 0 GROUP BY token),
b1 AS (SELECT token, count(*) AS df FROM d WHERE doc_id % 2 = 1 GROUP BY token),
merged AS (
    SELECT token, sum(df) AS df_total, count(*) AS n_batches
    FROM (SELECT * FROM b0 UNION ALL SELECT * FROM b1)
    GROUP BY token
)
SELECT token, CAST(df_total AS BIGINT) AS df_total, n_batches FROM merged
WHERE df_total >= 4 ORDER BY token
"""

ORACLE["above_avg_orders"] = """
WITH o AS (
    SELECT o_custkey, CAST(round(o_totalprice * 100) AS BIGINT) AS order_cents
    FROM orders
),
per AS (
    SELECT o_custkey, sum(order_cents) AS sum_cents, count(*) AS n_ord
    FROM o GROUP BY o_custkey
)
SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
       count(*) AS n_above,
       CAST(sum(order_cents) AS BIGINT) AS sum_above_cents
FROM o JOIN per USING (o_custkey)
JOIN customer ON o_custkey = c_custkey
WHERE 2 * order_cents * n_ord > 3 * sum_cents
GROUP BY c_nationkey ORDER BY c_nationkey
"""

ORACLE["conditional_agg_shipmodes"] = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count,
       count(*) AS n_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate < TIMESTAMP '1996-01-01'
GROUP BY l_returnflag ORDER BY l_returnflag
"""

ORACLE["ntile_price_deciles"] = """
WITH o AS (
    SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS order_cents
    FROM orders
),
bucketed AS (
    SELECT order_cents,
           CAST(ntile(10) OVER (ORDER BY order_cents ASC, o_orderkey ASC) AS BIGINT)
               AS decile
    FROM o
)
SELECT decile, count(*) AS n_orders, CAST(sum(order_cents) AS BIGINT) AS sum_cents,
       min(order_cents) AS min_cents, max(order_cents) AS max_cents
FROM bucketed GROUP BY decile ORDER BY decile
"""

ORACLE["doc_tokens"] = f"""
WITH tok AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(coalesce(text, '')),
            '[a-z]+|[0-9]|[^a-z0-9\\s]')) AS BIGINT) AS bpe_tokens
FROM tok ORDER BY doc_id
"""

ORACLE["doc_quality"] = f"""
WITH tok AS (SELECT doc_id, coalesce(text, '') AS text, {_TOKS} AS toks FROM documents)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_m,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CASE WHEN length(text) > 0 THEN CAST(round(
            CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
            * 1e6 / length(text)) AS BIGINT) ELSE 0 END AS alpha_ratio6,
       CASE WHEN length(text) > 0 THEN CAST(round(
            CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
            * 1e6 / length(text)) AS BIGINT) ELSE 0 END AS punct_ratio6,
       CASE WHEN len(toks) > 0 THEN CAST(round(
            CAST(len(list_filter(toks, t -> list_contains(
                ['the','a','of','and','to','in','is','it'], t))) AS DOUBLE)
            * 1e6 / len(toks)) AS BIGINT) ELSE 0 END AS stopword_ratio6,
       CASE WHEN len(toks) > 0 THEN CAST(round(
            CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
            * 1e6 / len(toks)) AS BIGINT) ELSE 0 END AS mean_token_len6
FROM tok ORDER BY doc_id
"""

ORACLE["doc_langid"] = f"""
WITH tok AS (SELECT doc_id, coalesce(text, '') AS text, {_TOKS} AS toks FROM documents),
hits AS (
    SELECT doc_id, text,
        len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','it'], t))) AS h_en,
        len(list_filter(toks, t -> list_contains(['el','la','de','y','que','los','en','un'], t))) AS h_es,
        len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','ein','zu','den'], t))) AS h_de,
        len(list_filter(toks, t -> list_contains(['le','la','et','les','des','un','une','est'], t))) AS h_fr
    FROM tok
)
SELECT doc_id,
    CASE WHEN length(text) > 0
              AND CAST(length(regexp_replace(text, '[^\\x00-\\x7f]', '', 'g')) AS DOUBLE)
                  / length(text) < 0.5 THEN 'other'
         WHEN greatest(h_en, h_es, h_de, h_fr) = 0 THEN 'unknown'
         WHEN h_en >= h_es AND h_en >= h_de AND h_en >= h_fr THEN 'en'
         WHEN h_es >= h_de AND h_es >= h_fr THEN 'es'
         WHEN h_de >= h_fr THEN 'de'
         ELSE 'fr' END AS lang_guess
FROM hits ORDER BY doc_id
"""

ORACLE["binary_meta"] = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS payload_sha
FROM documents ORDER BY doc_id
"""

# F15 zip5 analog: regex-normalized structured codes as blocking keys
# (lieu dedupe.py:76-78 us_zip5_pattern / use_zip5)
ORACLE["ref_code_blocking"] = """
WITH coded AS (
    SELECT doc_id,
           printf('REF-%05d-%04d', doc_id % 200, doc_id % 10000) AS code
    FROM documents
),
normed AS (
    SELECT doc_id,
           regexp_extract(code, '^REF-([0-9]{5})-?([0-9]{4})$', 1) AS block_key
    FROM coded
)
SELECT block_key, CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS rep_id
FROM normed GROUP BY block_key HAVING count(*) > 1 ORDER BY block_key
"""

ORACLE["exact_dup_groups"] = f"""
WITH {_DOCS_AUG}
SELECT sha256(text) AS text_sha, count(*) AS group_size, min(doc_id) AS rep_id
FROM aug GROUP BY sha256(text) HAVING count(*) > 1 ORDER BY rep_id
"""

ORACLE["exact_dup_pairs"] = f"""
WITH {_DOCS_AUG},
g AS (SELECT doc_id, sha256(text) AS sha FROM aug),
reps AS (SELECT sha, min(doc_id) AS rep FROM g GROUP BY sha)
SELECT r.rep AS id_a, g.doc_id AS id_b
FROM g JOIN reps r USING (sha) WHERE g.doc_id != r.rep
ORDER BY id_a, id_b
"""

ORACLE["ngram_jaccard_pairs"] = f"""
{_JACCARD_PAIRS}
SELECT id_a, id_b, inter, uni, j6 FROM pairs WHERE 2 * inter >= uni
ORDER BY id_a, id_b
"""

ORACLE["dedupe_pairs_pipeline"] = f"""
{_JACCARD_PAIRS},
shas AS (SELECT doc_id, sha256(text) AS sha FROM aug)
SELECT p.id_a, p.id_b, p.j6,
       CAST(sa.sha = sb.sha AS INT) AS is_exact_i
FROM pairs p
JOIN shas sa ON sa.doc_id = p.id_a
JOIN shas sb ON sb.doc_id = p.id_b
WHERE 10 * p.inter >= 9 * p.uni OR sa.sha = sb.sha
ORDER BY id_a, id_b
"""

ORACLE["dedupe_clusters"] = f"""
WITH RECURSIVE {_DOCS_AUG.strip()},
tok AS (SELECT doc_id, {_TOKS} AS toks FROM aug),
shl AS (SELECT doc_id, list_distinct({_SHINGLES}) AS shs FROM tok),
ex AS (SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS sh FROM shl),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           max(a.n_sh) AS na, max(b.n_sh) AS nb, count(*) AS inter
    FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
jpairs AS (
    SELECT id_a, id_b FROM inter WHERE 10 * inter >= 9 * (na + nb - inter)
),
g AS (SELECT doc_id, sha256(text) AS sha FROM aug),
reps AS (SELECT sha, min(doc_id) AS rep FROM g GROUP BY sha),
epairs AS (
    SELECT r.rep AS id_a, g.doc_id AS id_b
    FROM g JOIN reps r USING (sha) WHERE g.doc_id != r.rep
),
allp AS (SELECT * FROM jpairs UNION SELECT * FROM epairs),
edges AS (SELECT id_a AS u, id_b AS v FROM allp
          UNION SELECT id_b, id_a FROM allp),
walk(id, comp) AS (
    SELECT doc_id, doc_id FROM aug
    UNION
    SELECT e.v, w.comp FROM walk w JOIN edges e ON e.u = w.id
)
SELECT id AS doc_id, min(comp) AS cluster_id FROM walk GROUP BY id ORDER BY doc_id
"""

ORACLE["cluster_size_hist"] = f"""
SELECT cluster_size, count(*) AS n_clusters, CAST(sum(cluster_size) AS BIGINT) AS n_docs
FROM (
    SELECT cluster_id, count(*) AS cluster_size
    FROM ({ORACLE["dedupe_clusters"]})
    GROUP BY cluster_id
)
GROUP BY cluster_size ORDER BY cluster_size
"""

ORACLE["match_pairs"] = f"""
{_JACCARD_PAIRS},
shas AS (SELECT doc_id, sha256(text) AS sha FROM aug)
SELECT p.id_a, p.id_b, p.j6,
       CAST(sa.sha = sb.sha AS INT) AS is_exact_i
FROM pairs p
JOIN shas sa ON sa.doc_id = p.id_a
JOIN shas sb ON sb.doc_id = p.id_b
WHERE p.id_a < 100000 AND p.id_b >= 100000
  AND (10 * p.inter >= 9 * p.uni OR sa.sha = sb.sha)
ORDER BY id_a, id_b
"""

ORACLE["contamination_pairs"] = f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
shl AS (SELECT doc_id, list_distinct({_SHINGLES}) AS shs FROM tok),
ev AS (
    SELECT doc_id AS eval_id, len(shs) AS eval_sh, unnest(shs) AS sh
    FROM shl WHERE doc_id < 50
),
tr AS (
    SELECT doc_id AS train_id, unnest(shs) AS sh
    FROM shl WHERE doc_id >= 50
),
hits AS (
    SELECT ev.eval_id, tr.train_id, max(ev.eval_sh) AS eval_sh,
           count(*) AS shared
    FROM ev JOIN tr USING (sh)
    GROUP BY ev.eval_id, tr.train_id
)
SELECT eval_id, train_id, shared, eval_sh,
       CAST(round(CAST(shared AS DOUBLE) / eval_sh * 1e6) AS BIGINT)
           AS containment6
FROM hits WHERE shared >= 3 ORDER BY eval_id, train_id
"""

ORACLE["response_pairs_ranked"] = f"""
{_JACCARD_PAIRS},
shas AS (SELECT doc_id, sha256(text) AS sha FROM aug),
dupes AS (
    SELECT p.id_a, p.id_b, p.j6,
           CASE WHEN sa.sha = sb.sha THEN 'exact_duplicate'
                ELSE 'likely_duplicate' END AS classification
    FROM pairs p
    JOIN shas sa ON sa.doc_id = p.id_a
    JOIN shas sb ON sb.doc_id = p.id_b
    WHERE 10 * p.inter >= 9 * p.uni OR sa.sha = sb.sha
),
sym AS (
    SELECT id_a AS doc_id, id_b AS other_id, j6, classification FROM dupes
    UNION ALL
    SELECT id_b, id_a, j6, classification FROM dupes
),
comp AS (SELECT * FROM ({ORACLE["dedupe_clusters"]})),
ranked AS (
    SELECT s.doc_id, s.other_id, s.j6 AS sim6, s.classification,
           CAST(c.doc_id = c.cluster_id AS INT) AS other_canonical_i,
           row_number() OVER (PARTITION BY s.doc_id
                              ORDER BY s.j6 DESC, s.other_id ASC) AS rank
    FROM sym s JOIN comp c ON c.doc_id = s.other_id
)
SELECT doc_id, rank, other_id, classification, sim6, other_canonical_i
FROM ranked ORDER BY doc_id, rank
"""

ORACLE["transcript_roundtrip"] = f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
nz AS (SELECT doc_id, toks, len(toks) AS n FROM tok WHERE len(toks) > 0),
chunks AS (
    SELECT doc_id,
           CAST(i - 1 AS INT) AS turn_idx,
           array_to_string(toks[(i-1)*12+1 : (i-1)*12+12], ' ') AS turn_text
    FROM (SELECT doc_id, toks, n, unnest(range(1, CAST(ceil(n / 12.0) AS BIGINT) + 1)) AS i FROM nz)
)
SELECT doc_id, count(*) AS n_turns,
       sha256(string_agg(turn_text, ' ' ORDER BY turn_idx)) AS reassembled_sha
FROM chunks GROUP BY doc_id ORDER BY doc_id
"""

# vec_id < 1000: mirrors queries.BRUTE_ANN_CAP — the brute-force twin is
# a bounded exactness oracle, never the production plan (see queries.py)
_COS_PAIRS = """
WITH ex AS (
    SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS i,
           unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
    FROM embeddings WHERE vec_id < 1000
),
nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
dots AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.v * b.v) AS dp
    FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id != b.vec_id
    GROUP BY a.vec_id, b.vec_id
),
cpairs AS (
    SELECT d.id_a, d.id_b,
           CAST(round(CASE WHEN na.nrm > 0 AND nb.nrm > 0
                           THEN d.dp / (na.nrm * nb.nrm) * 1e6 ELSE 0 END) AS BIGINT) AS cos6
    FROM dots d JOIN nrm na ON na.vec_id = d.id_a JOIN nrm nb ON nb.vec_id = d.id_b
)
"""

ORACLE["ann_topk"] = f"""
{_COS_PAIRS}
SELECT id_a AS vec_id, rank, id_b AS nbr_id, cos6 FROM (
    SELECT id_a, id_b, cos6,
           row_number() OVER (PARTITION BY id_a ORDER BY cos6 DESC, id_b ASC) AS rank
    FROM cpairs
) WHERE rank <= 5 ORDER BY vec_id, rank
"""

# vector analog of _DOCS_AUG: 25 planted exact-copy vectors keep the
# neardup checks non-vacuous (background max cosine ~0.51 at sf0.01)
_EMB_AUG = """
emb AS (
    SELECT vec_id, embedding FROM embeddings WHERE vec_id < 1000
    UNION ALL
    SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id < 25
)
"""

_COS_PAIRS_AUG = f"""
WITH {_EMB_AUG},
ex AS (
    SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS i,
           unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
    FROM emb
),
nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
dots AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.v * b.v) AS dp
    FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id != b.vec_id
    GROUP BY a.vec_id, b.vec_id
),
cpairs AS (
    SELECT d.id_a, d.id_b,
           CAST(round(CASE WHEN na.nrm > 0 AND nb.nrm > 0
                           THEN d.dp / (na.nrm * nb.nrm) * 1e6 ELSE 0 END) AS BIGINT) AS cos6
    FROM dots d JOIN nrm na ON na.vec_id = d.id_a JOIN nrm nb ON nb.vec_id = d.id_b
)
"""

ORACLE["embedding_neardup"] = f"""
{_COS_PAIRS_AUG}
SELECT id_a, id_b, cos6 FROM cpairs
WHERE cos6 >= 950000 AND id_a < id_b ORDER BY id_a, id_b
"""

# ---------------------------------------------------------------------------
# export-backed oracles (lieu_spark.oracle_export): the hash kernels'
# OUTPUT tables (band keys, simhash values, winnow fingerprints, LSH
# buckets) are parquet files the driver query writes and DuckDB reads,
# so the RELATIONAL half of each formerly rows-only path — grouping,
# collision joins, pair generation, cosine re-rank — is value-verified.
# ---------------------------------------------------------------------------

from .oracle_export import export_path as _ep  # noqa: E402

ORACLE["minhash_band_sizes"] = f"""
SELECT band, band_hash, count(*) AS bsize,
       count(*) > {_CFG.hot_band_cap} AS is_hot
FROM read_parquet('{_ep("minhash_bands")}/*.parquet')
GROUP BY band, band_hash ORDER BY band, band_hash
"""

_SIM_WIDTH = _CFG.simhash_bits // _CFG.simhash_chunks
_SIM_MASK = (1 << _SIM_WIDTH) - 1

# (simhash >> k) & mask extracts bits [k, k+width) regardless of DuckDB's
# arithmetic shift on negative BIGINTs — the mask discards the sign fill,
# matching Spark's shiftrightunsigned+AND chunking bit for bit.
ORACLE["simhash_pairs"] = f"""
WITH sh AS (SELECT id, simhash FROM read_parquet('{_ep("simhash_values")}/*.parquet')),
ck AS (
    SELECT id, CAST(i AS BIGINT) AS chunk,
           (simhash >> (CAST(i AS INT) * {_SIM_WIDTH})) & {_SIM_MASK} AS chunk_bits
    FROM sh, (SELECT unnest(range({_CFG.simhash_chunks})) AS i)
),
cand AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM ck a JOIN ck b
      ON a.chunk = b.chunk AND a.chunk_bits = b.chunk_bits AND a.id < b.id
)
SELECT c.id_a, c.id_b,
       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
FROM cand c
JOIN sh sa ON sa.id = c.id_a
JOIN sh sb ON sb.id = c.id_b
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {_CFG.simhash_hamming_max}
ORDER BY id_a, id_b
"""

ORACLE["span_candidates"] = f"""
WITH fp AS (SELECT id, h FROM read_parquet('{_ep("winnow_fingerprints")}/*.parquet')),
flt AS (
    SELECT id, h FROM (
        SELECT id, h, count(*) OVER (PARTITION BY h) AS df FROM fp
    ) WHERE df <= {_CFG.span_stop_docfreq}
)
SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared_fp
FROM flt a JOIN flt b ON a.h = b.h AND a.id < b.id
GROUP BY 1, 2 HAVING count(*) >= {_CFG.span_min_shared}
ORDER BY id_a, id_b
"""


def _rerank_cpairs(src: str) -> str:
    """Shared exact-cosine re-rank CTE chain: candidates (a ``cand``
    CTE with id_a/id_b must precede) -> cos6 pairs, over vector source
    ``src``. One definition so the norm-guard / rounding convention
    cannot diverge between the ANN oracles."""
    return f"""ex AS (
    SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS i,
           unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
    FROM {src}
),
nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
dots AS (
    SELECT c2.id_a, c2.id_b, sum(a.v * b.v) AS dp
    FROM cand c2
    JOIN ex a ON a.vec_id = c2.id_a
    JOIN ex b ON b.vec_id = c2.id_b AND b.i = a.i
    GROUP BY c2.id_a, c2.id_b
),
cpairs AS (
    SELECT d.id_a, d.id_b,
           CAST(round(CASE WHEN na.nrm > 0 AND nb.nrm > 0
                           THEN d.dp / (na.nrm * nb.nrm) * 1e6 ELSE 0 END) AS BIGINT) AS cos6
    FROM dots d JOIN nrm na ON na.vec_id = d.id_a JOIN nrm nb ON nb.vec_id = d.id_b
)"""

# candidate pairs from the exported LSH bucket table; exact-cosine re-rank
# on the rounded value with id tie-break (same cos6 convention as ann_topk)
_ANN_BUCKET_RERANK = f"""
WITH b AS (SELECT id, "table", bucket FROM read_parquet('{_ep("ann_buckets")}/*.parquet')),
cand AS (
    SELECT DISTINCT l.id AS id_a, r.id AS id_b
    FROM b l JOIN b r
      ON l."table" = r."table" AND l.bucket = r.bucket AND l.id != r.id
),
{_rerank_cpairs("embeddings")}
"""

ORACLE["ann_lsh_topk"] = f"""
{_ANN_BUCKET_RERANK}
SELECT id_a AS vec_id, rank, id_b AS nbr_id, cos6 FROM (
    SELECT id_a, id_b, cos6,
           row_number() OVER (PARTITION BY id_a ORDER BY cos6 DESC, id_b ASC) AS rank
    FROM cpairs
) WHERE rank <= 5 ORDER BY vec_id, rank
"""

# IVF ANN from the exported (id, probe_rank, cell) assignment table:
# members are probe_rank = 0 rows, a query's candidates are the members
# of its probed cells; exact-cosine re-rank + top-5 on (cos6 desc, id)
ORACLE["ann_ivf_topk"] = f"""
WITH c AS (SELECT id, probe_rank, cell FROM read_parquet('{_ep("ivf_cells")}/*.parquet')),
cand AS (
    SELECT DISTINCT p.id AS id_a, m.id AS id_b
    FROM c p JOIN c m ON m.cell = p.cell AND m.probe_rank = 0 AND m.id != p.id
),
{_rerank_cpairs("embeddings")}
SELECT id_a AS vec_id, rank, id_b AS nbr_id, cos6 FROM (
    SELECT id_a, id_b, cos6,
           row_number() OVER (PARTITION BY id_a ORDER BY cos6 DESC, id_b ASC) AS rank
    FROM cpairs
) WHERE rank <= 5 ORDER BY vec_id, rank
"""

# Multi-probe LSH from the exported (id, table, probe_rank, bucket)
# table: members are probe_rank = 0 rows, a query's candidates are the
# members of every bucket on its probe list (the IVF probes-vs-members
# shape); exact-cosine re-rank + top-5 on (cos6 desc, id)
ORACLE["ann_multiprobe_topk"] = f"""
WITH p AS (SELECT id, "table", probe_rank, bucket FROM read_parquet('{_ep("mp_probes")}/*.parquet')),
cand AS (
    SELECT DISTINCT q.id AS id_a, m.id AS id_b
    FROM p q JOIN p m ON m."table" = q."table" AND m.bucket = q.bucket
                     AND m.probe_rank = 0 AND m.id != q.id
),
{_rerank_cpairs("embeddings")}
SELECT id_a AS vec_id, rank, id_b AS nbr_id, cos6 FROM (
    SELECT id_a, id_b, cos6,
           row_number() OVER (PARTITION BY id_a ORDER BY cos6 DESC, id_b ASC) AS rank
    FROM cpairs
) WHERE rank <= 5 ORDER BY vec_id, rank
"""

# LSH near-dup runs over the AUGMENTED vectors (planted exact copies),
# with its own bucket export; re-rank restricted to exported candidates
# semantic decontamination: the exported two-sided bucket table gives
# the eval->train candidate collisions; DuckDB re-derives every cosine
# (shared _rerank_cpairs convention) and the per-train-doc hit counts.
ORACLE["semantic_decon"] = f"""
WITH emb AS (
    SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500
    UNION ALL
    SELECT vec_id + 200000, embedding FROM embeddings
    WHERE vec_id >= 500 AND vec_id < 550
    UNION ALL
    SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id < 25
),
b AS (SELECT id, "table", bucket, side
      FROM read_parquet('{_ep("decon_buckets")}/*.parquet')),
cand AS (
    SELECT DISTINCT l.id AS id_a, r.id AS id_b
    FROM b l JOIN b r ON l."table" = r."table" AND l.bucket = r.bucket
    WHERE l.side = 'eval' AND r.side = 'train'
),
{_rerank_cpairs("emb")}
SELECT id_b AS train_id, CAST(count(*) AS BIGINT) AS n_eval_hits,
       CAST(max(cos6) AS BIGINT) AS max_cos6
FROM cpairs WHERE cos6 >= 950000
GROUP BY id_b ORDER BY train_id
"""

ORACLE["embedding_neardup_lsh"] = f"""
WITH {_EMB_AUG},
b AS (SELECT id, "table", bucket FROM read_parquet('{_ep("neardup_buckets")}/*.parquet')),
cand AS (
    SELECT DISTINCT l.id AS id_a, r.id AS id_b
    FROM b l JOIN b r
      ON l."table" = r."table" AND l.bucket = r.bucket AND l.id != r.id
),
{_rerank_cpairs("emb")}
SELECT id_a, id_b, cos6 FROM cpairs
WHERE cos6 >= 950000 AND id_a < id_b ORDER BY id_a, id_b
"""

# Leakage-safe splits: the split is a function of CLUSTER id, so no
# duplicate pair can straddle splits. DuckDB independently re-derives
# the pair set (jaccard-or-sha over aug), the recursive-CTE clusters,
# the md5 split thresholds, AND the leak audit — a regression to
# per-doc splitting mismatches on xor_ids and leaked_pairs both.
_LEAK_BUCKET = (
    "CAST(concat('0x', substr(md5('r3leak' || CAST(cluster_id AS VARCHAR)), 1, 15)) "
    "AS BIGINT) % 1000000"
)
ORACLE["leakage_safe_splits"] = f"""
{_JACCARD_PAIRS},
shas AS (SELECT doc_id, sha256(text) AS sha FROM aug),
dupes AS (
    SELECT p.id_a, p.id_b FROM pairs p
    JOIN shas sa ON sa.doc_id = p.id_a
    JOIN shas sb ON sb.doc_id = p.id_b
    WHERE 10 * p.inter >= 9 * p.uni OR sa.sha = sb.sha
),
comp AS (SELECT * FROM ({ORACLE["dedupe_clusters"]})),
asg AS (
    SELECT doc_id, cluster_id,
           CASE WHEN {_LEAK_BUCKET} < 800000 THEN 'train'
                WHEN {_LEAK_BUCKET} < 900000 THEN 'val'
                ELSE 'test' END AS split
    FROM comp
),
leaks AS (
    SELECT a.split, sum(CASE WHEN a.split != b.split THEN 1 ELSE 0 END) AS leaked
    FROM dupes d JOIN asg a ON a.doc_id = d.id_a JOIN asg b ON b.doc_id = d.id_b
    GROUP BY a.split
),
base AS (
    SELECT split, count(*) AS n_docs, count(DISTINCT cluster_id) AS n_clusters,
           bit_xor(doc_id) AS xor_ids
    FROM asg GROUP BY split
)
SELECT b.split, b.n_docs, b.n_clusters, b.xor_ids,
       CAST(coalesce(l.leaked, 0) AS BIGINT) AS leaked_pairs
FROM base b LEFT JOIN leaks l USING (split) ORDER BY split
"""

# Mixture sampling: per-group md5-bucket thresholds re-derived row by
# row (same portable hash as split_assign); bit_xor verifies every
# kept row's membership, not just the realized per-group rates.
ORACLE["mixture_sample"] = """
WITH kept AS (
    SELECT doc_id, lang
    FROM documents
    WHERE CAST(concat('0x', substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 15))
               AS BIGINT) % 1000000
          < CASE lang WHEN 'en' THEN 1000000
                      WHEN 'de' THEN 500000
                      WHEN 'fr' THEN 500000
                      WHEN 'es' THEN 250000
                      ELSE 100000 END
)
SELECT lang, count(*) AS n_kept, bit_xor(doc_id) AS xor_ids
FROM kept GROUP BY lang ORDER BY lang
"""

# Next-fit sequence packing replayed as a recursive CTE: same portable
# md5 shard, same doc_id order, same fill/rollover rule (new bin when
# fill + n would exceed 256; an oversize doc gets its own bin). Every
# per-document (shard, seq) placement is value-verified. ``o`` is
# MATERIALIZED: inlined, the recursive join re-tokenizes every document
# once per iteration (141 s vs 0.5 s at sf0.1, same rows).
ORACLE["pack_sequences"] = f"""
WITH RECURSIVE tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
d AS (
    SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(CAST(concat('0x', substr(md5('pack' || CAST(doc_id AS VARCHAR)), 1, 15))
                     AS BIGINT) % 1000000 % 8 AS INT) AS shard
    FROM tok
),
o AS MATERIALIZED (
    SELECT doc_id, n_tokens, shard,
           row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
    FROM d
),
walk(shard, rn, doc_id, n_tokens, fill, seq) AS (
    SELECT shard, rn, doc_id, n_tokens, n_tokens, CAST(0 AS BIGINT) FROM o WHERE rn = 1
    UNION ALL
    SELECT n.shard, n.rn, n.doc_id, n.n_tokens,
           CASE WHEN w.fill + n.n_tokens > 256 THEN n.n_tokens
                ELSE w.fill + n.n_tokens END,
           CASE WHEN w.fill + n.n_tokens > 256 THEN w.seq + 1 ELSE w.seq END
    FROM walk w JOIN o n ON n.shard = w.shard AND n.rn = w.rn + 1
)
SELECT doc_id, shard, seq, n_tokens FROM walk ORDER BY doc_id
"""

# SemDeDup greedy within-cell prune from the exported (id, cell,
# cent_cos6) assignment table: rank by (cent_cos6 DESC, id ASC) within
# cell, a member is dropped iff ANY earlier-ranked member of its cell
# has cosine >= 0.95 with it (upper-triangular max, the published
# SemDeDup sweep). The k-means quantizer is the only non-SQL kernel;
# rank window + ordered pair join + exact-cosine prune + keep flag are
# all re-derived here.
ORACLE["semantic_dedup"] = f"""
WITH {_EMB_AUG},
asg AS (SELECT id, cell, cent_cos6 FROM read_parquet('{_ep("semdedup_cells")}/*.parquet')),
rk AS (
    SELECT id, cell, cent_cos6,
           row_number() OVER (PARTITION BY cell ORDER BY cent_cos6 DESC, id ASC) AS rnk
    FROM asg
),
cand AS (
    SELECT a.id AS id_a, b.id AS id_b
    FROM rk a JOIN rk b ON a.cell = b.cell AND a.rnk < b.rnk
),
{_rerank_cpairs("emb")}
SELECT a.id AS vec_id, a.cell, a.cent_cos6,
       CAST(CASE WHEN d.id_b IS NULL THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM asg a
LEFT JOIN (SELECT DISTINCT id_b FROM cpairs WHERE cos6 >= 950000) d ON d.id_b = a.id
ORDER BY vec_id
"""

# multimodal REAL header decode over the mixed BMP/PNG/JPEG/GIF fixture:
# DuckDB re-derives format/width/height/channels from doc_id ARITHMETIC
# (the fixture encodes pure integer functions of the id into genuine
# container headers — synthetic_image_payloads) and n_bytes from
# octet_length of the exported payload bytes; the documents join anchors
# id validity and completeness. A header misparse in the Spark-side
# decoder mismatches on dims; a dropped/duplicated doc mismatches on
# row count.
ORACLE["multimodal_meta"] = f"""
SELECT m.doc_id, octet_length(p.payload) AS n_bytes,
       CASE d.doc_id % 4 WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
            WHEN 2 THEN 'jpeg' ELSE 'gif' END AS format,
       CAST(8 + d.doc_id % 24 AS INTEGER) AS width,
       CAST(8 + (d.doc_id * 7) % 24 AS INTEGER) AS height,
       CAST(CASE WHEN d.doc_id % 4 = 3 THEN 3
                 WHEN d.doc_id % 4 = 2
                 THEN CASE WHEN d.doc_id % 2 = 0 THEN 3 ELSE 1 END
                 ELSE CASE WHEN d.doc_id % 2 = 0 THEN 3 ELSE 4 END
            END AS INTEGER) AS channels
FROM read_parquet('{_ep("multimodal_meta")}/*.parquet') m
JOIN read_parquet('{_ep("multimodal_payloads")}/*.parquet') p USING (doc_id)
JOIN documents d ON m.doc_id = d.doc_id
ORDER BY m.doc_id
"""

# per-group cap: the Spark side keeps (bucket < b*) plus an id-ranked
# remainder inside the boundary bucket b*, which is exactly the first
# `cap` rows per group under the (md5 bucket, doc_id) order — so the
# twin is one plain window rank over the same portable key.
ORACLE["group_cap"] = """
WITH b AS (
  SELECT doc_id, lang,
         CAST(concat('0x', substr(md5('cap' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 1000000 AS bkt
  FROM documents
),
r AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY bkt, doc_id) AS rn
  FROM b
)
SELECT doc_id, lang FROM r WHERE rn <= 70 ORDER BY doc_id
"""

# corpus-level cap: global_cap is cap_per_group with one constant
# group, so the twin is the group_cap twin without the PARTITION BY —
# one window rank over the same portable (md5 bucket, doc_id) key.
ORACLE["global_cap"] = """
WITH b AS (
  SELECT doc_id, lang,
         CAST(concat('0x', substr(md5('gcap' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 1000000 AS bkt
  FROM documents
),
r AS (
  SELECT doc_id, lang, row_number() OVER (ORDER BY bkt, doc_id) AS rn
  FROM b
)
SELECT doc_id, lang FROM r WHERE rn <= 150 ORDER BY doc_id
"""

# token-budget selection: the Spark side locates the boundary score
# class / boundary bucket at aggregate level (weighted cap_per_group
# recipe — no global sort), which keeps exactly the maximal prefix of
# the (quality6 DESC, md5 bucket, doc_id) order whose cumulative token
# count stays <= the budget — so the twin is one plain window cumsum
# over the same portable total order. The quality CTE mirrors
# analysis.quality_score6 operation-for-operation (IEEE doubles round
# identically — same shape as the proven _AUG_QUALITY twin).
ORACLE["token_budget_select"] = f"""
WITH tok AS (SELECT doc_id, coalesce(text, '') AS text, {_TOKS} AS toks FROM documents),
qfeat AS (
    SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CASE WHEN length(text) > 0 THEN CAST(round(
            CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
            * 1e6 / length(text)) AS BIGINT) ELSE 0 END AS alpha6,
       CASE WHEN length(text) > 0 THEN CAST(round(
            CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
            * 1e6 / length(text)) AS BIGINT) ELSE 0 END AS punct6,
       CASE WHEN len(toks) > 0 THEN CAST(round(
            CAST(len(list_filter(toks, t -> list_contains(
                ['the','a','of','and','to','in','is','it'], t))) AS DOUBLE)
            * 1e6 / len(toks)) AS BIGINT) ELSE 0 END AS stop6
    FROM tok
),
qual AS (
    SELECT doc_id, n_tokens, CAST(round(
        (0.3 * (CAST(least(n_tokens, 100) AS DOUBLE) / 100.0)
         + 0.4 * (CAST(alpha6 AS DOUBLE) / 1e6)
         + 0.3 * least(CAST(stop6 AS DOUBLE) / 1e6 * 4.0, 1.0))
        * (1.0 - least(CAST(punct6 AS DOUBLE) / 1e6 * 2.0, 1.0)) * 1e6
    ) AS BIGINT) AS quality6
    FROM qfeat
),
b AS (
    SELECT doc_id, quality6, n_tokens,
           CAST(concat('0x', substr(md5('tb' || CAST(doc_id AS VARCHAR)), 1, 15))
                AS BIGINT) % 1000000 AS bkt
    FROM qual
),
r AS (
    SELECT doc_id, quality6, n_tokens,
           sum(n_tokens) OVER (ORDER BY quality6 DESC, bkt ASC, doc_id ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
    FROM b
)
SELECT doc_id, quality6, n_tokens FROM r WHERE cum <= 12000 ORDER BY doc_id
"""

# sliding-window chunking: both engines derive chunk counts from the
# same exact-integer formula (HF convention: 1 window if the doc fits,
# else ceil((n - max)/step) + 1), and the window text from the shared
# tokenizer twin — DuckDB's 1-based inclusive list slice toks[s+1:s+32]
# is exactly Spark's slice(toks, s+1, 32) (both clamp at the end).
ORACLE["chunk_documents"] = f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM tok
      WHERE len(toks) > 0),
c AS (SELECT doc_id, toks,
             CAST(CASE WHEN n <= 32 THEN 1
                  ELSE (n - 32 + 23) // 24 + 1 END AS BIGINT) AS c
      FROM n),
ch AS (SELECT doc_id, toks, unnest(generate_series(0, c - 1)) AS chunk_idx
       FROM c)
SELECT doc_id,
       CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(chunk_idx * 24 AS BIGINT) AS start_tok,
       CAST(len(toks[chunk_idx * 24 + 1 : chunk_idx * 24 + 32]) AS BIGINT)
           AS n_chunk_tokens,
       array_to_string(toks[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ')
           AS chunk_text
FROM ch ORDER BY doc_id, chunk_idx
"""

# temperature mixture sampling: DuckDB re-derives the whole rate chain
# — per-lang counts, quantized sqrt weights (sqrt is IEEE
# correctly-rounded, so round(sqrt(n)*1e9) is the identical BIGINT in
# both engines; the shared 1/N^alpha factor cancels and is never
# computed), exact integer normalizer, the rate in the same IEEE
# association order, and every md5-bucket membership.
ORACLE["temperature_mixture"] = """
WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang),
s AS (SELECT lang, n,
             CAST(round(sqrt(CAST(n AS DOUBLE)) * 1e9) AS BIGINT) AS s
      FROM c),
t AS (SELECT CAST(sum(n) AS BIGINT) AS ntot, CAST(sum(s) AS BIGINT) AS stot
      FROM s),
r AS (SELECT lang,
             CAST(round(least(1.0,
                  0.4 * CAST(ntot AS DOUBLE) / CAST(n AS DOUBLE)
                      * CAST(s AS DOUBLE) / CAST(stot AS DOUBLE)) * 1000000)
                  AS BIGINT) AS thr
      FROM s, t)
SELECT d.doc_id, d.lang
FROM documents d JOIN r ON d.lang IS NOT DISTINCT FROM r.lang
WHERE CAST(concat('0x', substr(md5('temp' || CAST(d.doc_id AS VARCHAR)), 1, 15))
           AS BIGINT) % 1000000 < r.thr
ORDER BY d.doc_id
"""

# bigram-LM quality scoring: DuckDB re-derives the full chain — bigram
# stream, bigram/context counts, vocabulary size, Laplace-smoothed ln
# scores (integer-scaled per the repo convention), per-doc average —
# from the raw text with the shared tokenizer twin.
ORACLE["lm_quality"] = f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
big AS (
  SELECT doc_id,
         unnest(generate_series(2, len(toks))) AS i,
         toks
  FROM tok WHERE len(toks) >= 2
),
bg AS (SELECT doc_id, toks[i-1] AS w1, toks[i] AS w2 FROM big),
bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY w1, w2),
cc AS (SELECT w1, CAST(count(*) AS BIGINT) AS c_ctx FROM bg GROUP BY w1),
v AS (
  SELECT CAST(count(DISTINCT t) AS DOUBLE) AS vsize
  FROM (SELECT unnest(toks) AS t FROM tok)
),
scored AS (
  SELECT g.doc_id,
         CAST(round(ln((b.c + 1.0) / (c.c_ctx + v.vsize)) * 1e6) AS BIGINT)
           AS score6
  FROM bg g JOIN bc b USING (w1, w2) JOIN cc c USING (w1) CROSS JOIN v
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(round(avg(score6)) AS BIGINT) AS lm_score6
FROM scored GROUP BY doc_id ORDER BY doc_id
"""

# CCNet head/middle/tail: perplexity terciles of the bigram-LM score —
# composes the finished lm_quality twin; ntile() splits ties identically
# in both engines under the same total order (score DESC, doc_id).
ORACLE["ccnet_buckets"] = f"""
WITH lmq AS ({ORACLE["lm_quality"]}),
b AS (SELECT doc_id, lm_score6,
             ntile(3) OVER (ORDER BY lm_score6 DESC, doc_id ASC) AS t
      FROM lmq)
SELECT doc_id, lm_score6,
       CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM b ORDER BY doc_id
"""

# C4-style line dedup: DuckDB re-derives the WHOLE chain from the raw
# text — the 12-word chunking, the planted blank separator + per-
# (doc_id % 7) footer line, first-occurrence ranking over (doc_id,
# position), and the sha256 of the reassembled kept text in original
# order. Blank (trim-empty) lines are EXEMPT from dedup on both sides —
# paragraph structure, not boilerplate — so every doc keeps its planted
# separator. The Spark side keys the shuffle on md5(line) (fixed-width
# key) but keeps the same first-occurrence semantics, so the kept_sha
# witness must agree byte-for-byte; the left join keeps a fully-deduped
# doc visible as n_kept = 0.
ORACLE["line_dedup"] = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
built AS (
  SELECT doc_id, list_concat(
    list_transform(
      generate_series(0, CAST(ceil(len(words) / 12.0) AS INT) - 1),
      i -> array_to_string(words[12*i+1:12*i+12], ' ')),
    ['', 'footer boilerplate ' || CAST(doc_id % 7 AS VARCHAR)]
  ) AS lines FROM w
),
lined AS (
  SELECT doc_id, i, lines[i] AS line
  FROM (SELECT doc_id, lines,
               unnest(generate_series(1, len(lines))) AS i
        FROM built)
),
ranked AS (
  SELECT doc_id, i, line,
         row_number() OVER (PARTITION BY line ORDER BY doc_id, i) AS rn
  FROM lined
),
tot AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
  FROM lined GROUP BY doc_id
),
reb AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         sha256(string_agg(line, chr(10) ORDER BY i)) AS kept_sha
  FROM ranked WHERE rn = 1 OR trim(line) = '' GROUP BY doc_id
)
SELECT t.doc_id, t.n_lines,
       coalesce(r.n_kept, CAST(0 AS BIGINT)) AS n_kept,
       coalesce(r.kept_sha, sha256('')) AS kept_sha
FROM tot t LEFT JOIN reb r USING (doc_id)
ORDER BY doc_id
"""

# normalize-then-exact-hash dedupe: the oracle rebuilds the variant
# fixture (counter prefix + upper-case), applies the identical
# lower/strip-digits/collapse-ws/trim chain, and verifies every group
# assignment via the sorted member list — not just group counts.
ORACLE["normalized_exact_dup"] = """
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000,
         CAST((doc_id * 7919) % 97 AS VARCHAR) || ' ' || upper(text)
  FROM documents WHERE doc_id % 3 = 0
),
n AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(coalesce(text, '')),
             '[0-9]+', '', 'g'), '\\s+', ' ', 'g'))) AS norm_key
  FROM aug
)
SELECT norm_key, CAST(count(*) AS BIGINT) AS n_docs,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS members
FROM n GROUP BY norm_key HAVING count(*) > 1 ORDER BY norm_key
"""

# corpus-wide top-25 trigrams (n-gram boilerplate screen): same shared
# tokenizer, same (tf desc, ngram) total order so the cut at 25 is
# engine-exact.
ORACLE["top_ngrams"] = f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tri AS (
  SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS ngram
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
        FROM tok WHERE len(toks) >= 3)
)
SELECT ngram, CAST(count(*) AS BIGINT) AS tf,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS df
FROM tri GROUP BY ngram ORDER BY tf DESC, ngram LIMIT 25
"""

# Gopher-style rule filter: every signal and flag re-derived from the
# raw text with the shared tokenizer; flags as INT on both sides (the
# driver's value hash is type-sensitive).
ORACLE["gopher_rules"] = f"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, regexp_replace(text, '[a-z]', '9', 'g')
  FROM documents WHERE doc_id < 10
  UNION ALL
  SELECT doc_id + 200000, regexp_replace(text, ' ', '', 'g')
  FROM documents WHERE doc_id < 10
),
tok AS (SELECT doc_id, {_TOKS} AS toks FROM aug),
s AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CASE WHEN len(toks) > 0 THEN CAST(round(
              CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum')
                   AS DOUBLE) * 1e6 / len(toks)) AS BIGINT)
              ELSE 0 END AS mean_token_len6,
         CASE WHEN len(toks) > 0 THEN CAST(round(
              CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
                   AS DOUBLE) * 1e6 / len(toks)) AS BIGINT)
              ELSE 0 END AS alpha_word_ratio6,
         CAST(len(list_filter(toks, t -> list_contains(
              ['the','a','of','and','to','in','is','it'], t))) AS BIGINT)
           AS stop_hits
  FROM tok
)
SELECT doc_id, n_tokens, mean_token_len6, alpha_word_ratio6, stop_hits,
       CAST(n_tokens >= 50 AND n_tokens <= 100000 AS INT) AS r_len,
       CAST(mean_token_len6 >= 3000000 AND mean_token_len6 <= 10000000 AS INT)
         AS r_mean,
       CAST(stop_hits >= 2 AS INT) AS r_stop,
       CAST(alpha_word_ratio6 >= 800000 AS INT) AS r_alpha,
       CAST(n_tokens >= 50 AND n_tokens <= 100000
            AND mean_token_len6 >= 3000000 AND mean_token_len6 <= 10000000
            AND stop_hits >= 2 AND alpha_word_ratio6 >= 800000 AS INT) AS keep
FROM s ORDER BY doc_id
"""

# audio REAL decode over the deterministic WAV fixture: DuckDB
# re-derives the ENTIRE decode from doc_id ARITHMETIC — rate/channels/
# frames from the fixture formulas, n_bytes from the canonical 44-byte
# header layout, duration from exact integer division, and xor_samples
# by replaying the fixture's sample formula over a frame x channel
# series and xor-folding the unsigned-16-bit values, which must equal
# the xor-fold of the samples the Spark side ACTUALLY decoded from the
# PCM bytes. The series bounds (255 frames, 2 channels) are the
# fixture formulas' maxima. No export channel: every expectation is
# pure arithmetic; a header misparse, sample misalignment, endianness
# slip, or channel-interleave bug mismatches on xor_samples.
ORACLE["audio_meta"] = """
WITH params AS (
  SELECT doc_id,
         CAST(8000 * (1 + doc_id % 3) AS INTEGER) AS sample_rate,
         CAST(1 + doc_id % 2 AS INTEGER) AS channels,
         CAST(64 + (doc_id * 13) % 192 AS BIGINT) AS n_frames
  FROM documents
),
xors AS (
  SELECT p.doc_id,
         CAST(bit_xor((p.doc_id * 7 + t.t * 31 + c.c * 17) % 65536) AS BIGINT)
           AS xor_samples
  FROM params p
  JOIN generate_series(0, 255) AS t(t) ON t.t < p.n_frames
  JOIN generate_series(0, 1) AS c(c) ON c.c < p.channels
  GROUP BY p.doc_id
)
SELECT p.doc_id,
       CAST(44 + p.n_frames * p.channels * 2 AS BIGINT) AS n_bytes,
       p.sample_rate,
       p.channels,
       CAST(16 AS INTEGER) AS bits,
       p.n_frames,
       CAST(p.n_frames * 1000000 // p.sample_rate AS BIGINT) AS duration_us,
       x.xor_samples
FROM params p JOIN xors x USING (doc_id)
ORDER BY p.doc_id
"""

# video REAL decode over the deterministic AVI/MJPEG fixture: DuckDB
# re-derives dims/frames/rate from the fixture formulas and pix_sum by
# replaying the per-frame solid-color formula over a frame series —
# which must equal the sum of the pixel values the Spark side ACTUALLY
# decoded from each frame's JPEG entropy stream (solid q100 frames
# roundtrip exactly; n_uniform_frames == n_frames asserts full-frame
# constancy of the real decode). The series bound (8) is the fixture's
# n_frames maximum. No export channel: pure arithmetic.
ORACLE["video_meta"] = """
WITH params AS (
  SELECT doc_id,
         CAST(8 * (1 + doc_id % 2) AS INTEGER) AS width,
         CAST(8 * (1 + (doc_id % 4) // 2) AS INTEGER) AS height,
         CAST(3 + doc_id % 6 AS BIGINT) AS n_frames,
         CAST(33333 + (doc_id % 5) * 1000 AS BIGINT) AS us_per_frame
  FROM documents
),
sums AS (
  SELECT p.doc_id,
         CAST(SUM(((p.doc_id * 11 + f.f * 29) % 256) * 65536
                + ((p.doc_id * 7 + f.f * 13) % 256) * 256
                + ((p.doc_id * 3 + f.f * 5) % 256)) AS BIGINT) AS pix_sum
  FROM params p
  JOIN generate_series(0, 8) AS f(f) ON f.f < p.n_frames
  GROUP BY p.doc_id
)
SELECT p.doc_id, p.width, p.height, p.n_frames, p.us_per_frame,
       CAST(p.n_frames * p.us_per_frame AS BIGINT) AS duration_us,
       p.n_frames AS n_uniform_frames,
       s.pix_sum
FROM params p JOIN sums s USING (doc_id)
ORDER BY p.doc_id
"""

# rolling polynomial fingerprint: the ORDER-SENSITIVE fold is re-derived
# by DuckDB from the exported per-token hash sequence (list_reduce over
# the pos-ordered list, same modulus chain as functions/analysis.py:118);
# docs with no tokens fold to 0 on both sides
ORACLE["doc_fingerprint"] = f"""
SELECT d.doc_id, COALESCE(f.fingerprint, 0) AS fingerprint
FROM documents d
LEFT JOIN (
    SELECT doc_id,
           list_reduce(list(th ORDER BY pos),
                       (acc, x) -> (acc * 131 + x) % 2147483647)
             % 2147483647 AS fingerprint
    FROM read_parquet('{_ep("doc_token_hashes")}/*.parquet')
    GROUP BY doc_id
) f USING (doc_id)
ORDER BY d.doc_id
"""

# copied spans: the LCS argmax is kernel-side, but every reported span
# must be a GENUINE common substring at the reported offsets with the
# reported length (>= the query's span_min_len=40) — the oracle returns
# exactly the exported spans passing that check, so a fabricated or
# misaligned span drops out and fails the compare
ORACLE["copied_spans"] = f"""
SELECT s.id_a, s.id_b, s.start_a, s.start_b, s.length
FROM read_parquet('{_ep("copied_spans_out")}/*.parquet') s
JOIN read_parquet('{_ep("span_docs")}/*.parquet') a ON s.id_a = a.conv_id
JOIN read_parquet('{_ep("span_docs")}/*.parquet') b ON s.id_b = b.conv_id
WHERE s.length >= 40
  AND substr(a.doc, s.start_a + 1, s.length) = substr(b.doc, s.start_b + 1, s.length)
ORDER BY s.id_a, s.id_b
"""

# span SCRUBBING: DuckDB independently merges each copy-side doc's cut
# intervals (running-max window -> group -> min/max) and rebuilds the
# kept text as the ordered concatenation of gap segments (LAG(e) gives
# each gap's start; a synthetic tail row covers max(e)..len) — no fold
# needed. The sha of every scrubbed doc must equal the Spark-side
# Catalyst aggregate fold's output exactly; docs with no spans pass
# through with n_cut = 0.
ORACLE["span_scrub"] = f"""
WITH spans AS (
  SELECT * FROM read_parquet('{_ep("scrub_spans")}/*.parquet')
),
docs AS (
  SELECT conv_id, doc FROM read_parquet('{_ep("scrub_docs")}/*.parquet')
),
iv AS (
  SELECT id_b AS conv_id, CAST(start_b AS BIGINT) AS s,
         CAST(start_b + length AS BIGINT) AS e
  FROM spans
),
flagged AS (
  SELECT conv_id, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (
                PARTITION BY conv_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS ng
  FROM iv
),
grouped AS (
  SELECT conv_id, s, e,
         SUM(ng) OVER (PARTITION BY conv_id ORDER BY s, e
                       ROWS UNBOUNDED PRECEDING) AS grp
  FROM flagged
),
merged AS (
  SELECT conv_id, grp, MIN(s) AS s, MAX(e) AS e
  FROM grouped GROUP BY conv_id, grp
),
segs AS (
  SELECT conv_id,
         COALESCE(LAG(e) OVER (PARTITION BY conv_id ORDER BY s), 0) AS gs,
         s AS ge
  FROM merged
  UNION ALL
  SELECT conv_id, MAX(e) AS gs, NULL AS ge FROM merged GROUP BY conv_id
),
kept AS (
  SELECT g.conv_id,
         string_agg(
           substr(d.doc, CAST(g.gs + 1 AS BIGINT),
                  CAST(COALESCE(g.ge, length(d.doc)) - g.gs AS BIGINT)),
           '' ORDER BY g.gs
         ) AS kept_text
  FROM segs g JOIN docs d USING (conv_id)
  GROUP BY g.conv_id
),
ncuts AS (
  SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_cut FROM merged GROUP BY conv_id
)
SELECT d.conv_id,
       COALESCE(n.n_cut, 0) AS n_cut,
       sha256(COALESCE(k.kept_text, d.doc)) AS scrub_sha
FROM docs d
LEFT JOIN kept k USING (conv_id)
LEFT JOIN ncuts n USING (conv_id)
ORDER BY d.conv_id
"""

# as-of join: DuckDB's native ASOF LEFT JOIN is the oracle for the
# union+window composition in operators/asof.py; the build side is
# pre-deduped per (user_id, ts) so tie-breaking is engine-portable
ORACLE["asof_join"] = """
WITH clicks AS (
    SELECT user_id, ts, max(event_id) AS click_id
    FROM events WHERE event_type = 'click' GROUP BY user_id, ts
),
errs AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
)
SELECT e.event_id, e.user_id,
       epoch_us(e.ts) AS err_us,
       coalesce(c.click_id, -1) AS click_id,
       coalesce(epoch_us(e.ts) - epoch_us(c.ts), -1) AS gap_us
FROM errs e ASOF LEFT JOIN clicks c
  ON e.user_id = c.user_id AND e.ts >= c.ts
ORDER BY event_id
"""

# bounded range join: plain SQL BETWEEN join is the oracle for the
# time-bucketed equi-join in operators/rangejoin.py
ORACLE["range_join_events"] = """
WITH errs AS (
    SELECT event_id, user_id, epoch_us(ts) AS ts_us
    FROM events WHERE event_type = 'error'
),
clicks AS (
    SELECT user_id, epoch_us(ts) AS ts_us, event_id AS click_id
    FROM events WHERE event_type = 'click'
),
matched AS (
    SELECT e.event_id, count(*) AS n_clicks_72h, max(c.click_id) AS last_click_id
    FROM errs e JOIN clicks c
      ON e.user_id = c.user_id
     AND c.ts_us BETWEEN e.ts_us - 259200000000 AND e.ts_us
    GROUP BY e.event_id
)
SELECT e.event_id, e.user_id,
       coalesce(m.n_clicks_72h, 0) AS n_clicks_72h,
       coalesce(m.last_click_id, -1) AS last_click_id
FROM errs e LEFT JOIN matched m USING (event_id)
ORDER BY event_id
"""

# boilerplate-turn removal: same 12-token turn derivation as
# transcript_roundtrip, boilerplate = turn text in >= 2 distinct convs,
# kept turns reassembled in turn order and sha-verified — so the oracle
# checks exactly WHICH turns were dropped, not just the counts
ORACLE["boilerplate_scrub"] = f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
nz AS (SELECT doc_id, toks, len(toks) AS n FROM tok WHERE len(toks) > 0),
chunks AS (
    SELECT doc_id,
           CAST(i - 1 AS INT) AS turn_idx,
           array_to_string(toks[(i-1)*12+1 : (i-1)*12+12], ' ') AS turn_text
    FROM (SELECT doc_id, toks, n, unnest(range(1, CAST(ceil(n / 12.0) AS BIGINT) + 1)) AS i FROM nz)
),
boiler AS (
    SELECT turn_text FROM chunks WHERE turn_text <> ''
    GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
),
kept AS (
    SELECT c.doc_id, c.turn_idx, c.turn_text
    FROM chunks c LEFT JOIN boiler b USING (turn_text)
    WHERE b.turn_text IS NULL
),
base AS (SELECT doc_id, count(*) AS n_turns FROM chunks GROUP BY doc_id),
ka AS (
    SELECT doc_id, count(*) AS n_kept,
           sha256(string_agg(turn_text, ' ' ORDER BY turn_idx)) AS kept_sha
    FROM kept GROUP BY doc_id
)
SELECT b.doc_id AS conv_id, b.n_turns,
       coalesce(k.n_kept, 0) AS n_kept,
       coalesce(k.kept_sha, '') AS kept_sha
FROM base b LEFT JOIN ka k USING (doc_id) ORDER BY conv_id
"""

# deterministic training-order shuffle: same md5 order key, same
# bucket-mod shard, same partitioned rank — DuckDB re-derives the whole
# permutation from scratch, so every (shard, pos) placement is
# value-verified (md5 hex is lowercase ASCII in both engines, so the
# lexicographic order keys agree byte-for-byte)
ORACLE["info_gain_terms"] = f"""
WITH tok AS (SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents),
nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM tok),
wt AS (SELECT doc_id, unnest(toks) AS w FROM tok),
marg AS (SELECT w, count(*) AS df FROM wt GROUP BY w HAVING count(*) >= 5),
prs AS (
    SELECT a.w AS w, b.w AS c, count(*) AS co
    FROM wt a JOIN wt b ON a.doc_id = b.doc_id AND a.w <> b.w
    JOIN marg m1 ON a.w = m1.w
    JOIN marg m2 ON b.w = m2.w
    GROUP BY a.w, b.w
),
ny AS (SELECT w, CAST(sum(co) AS DOUBLE) AS n_y FROM prs GROUP BY w),
px AS (SELECT w AS c, df / (SELECT n_docs FROM nd) AS p_c FROM marg),
joint AS (
    SELECT p.w, (p.co / ny.n_y) AS p_xy, px.p_c
    FROM prs p JOIN ny USING (w) JOIN px ON p.c = px.c
),
ig AS (
    SELECT w, greatest(0.0, sum(p_xy * log2(p_xy / p_c))) AS ig
    FROM joint GROUP BY w
),
lonely AS (
    SELECT w, -log2(df / (SELECT n_docs FROM nd)) AS ig FROM marg
    WHERE w NOT IN (SELECT w FROM ig)
),
allig AS (SELECT * FROM ig UNION ALL SELECT * FROM lonely)
SELECT w AS token, CAST(round(ig * 1e6) AS BIGINT) AS ig6
FROM allig WHERE regexp_matches(w, '^[a-z0-9]{{3,}}$') ORDER BY token
"""

ORACLE["corpus_shuffle"] = """
WITH keyed AS (
    SELECT doc_id,
           md5('ord' || CAST(doc_id AS VARCHAR)) AS okey,
           CAST(CAST(concat('0x', substr(md5('ord' || CAST(doc_id AS VARCHAR)), 1, 15))
                     AS BIGINT) % 1000000 % 16 AS INT) AS shard
    FROM documents
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY okey, doc_id)
            AS BIGINT) AS pos
FROM keyed ORDER BY doc_id
"""

# deterministic split: md5 is bit-identical across engines, so DuckDB
# re-derives every row's assignment from scratch (no export channel)
ORACLE["split_assign"] = """
WITH assigned AS (
    SELECT doc_id, lang,
           CAST(concat('0x', substr(md5('r3' || CAST(doc_id AS VARCHAR)), 1, 15))
                AS BIGINT) % 1000000 AS bucket
    FROM documents
),
labeled AS (
    SELECT doc_id, lang,
           CASE WHEN bucket < 800000 THEN 'train'
                WHEN bucket < 900000 THEN 'val'
                ELSE 'test' END AS split
    FROM assigned
)
SELECT split, lang, count(*) AS n_docs, bit_xor(doc_id) AS xor_ids
FROM labeled GROUP BY split, lang ORDER BY split, lang
"""

# PII scrub: byte-identical Java/RE2 regex patterns imported from the
# production module so a pattern change mismatches instead of drifting;
# replacement order (email, ssn, phone, ip) replayed verbatim.
from .functions.redact import PII_PATTERNS as _PII  # noqa: E402

_P_EMAIL = _PII["email"]
_P_SSN = _PII["ssn"]
_P_PHONE = _PII["phone"]
_P_IP = _PII["ip"]

ORACLE["pii_scrub"] = f"""
WITH aug AS (
    SELECT doc_id,
           coalesce(text, '') || CASE doc_id % 5
             WHEN 0 THEN printf(' contact user%d@example.com', doc_id)
             WHEN 1 THEN printf(' call 555-867-%04d now', doc_id % 10000)
             WHEN 2 THEN printf(' host 10.%d.0.1 up', doc_id % 256)
             WHEN 3 THEN printf(' ssn 123-45-%04d on file', doc_id % 10000)
             ELSE '' END AS text
    FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_P_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_P_PHONE}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(text, '{_P_IP}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(text, '{_P_SSN}')) AS BIGINT) AS n_ssns,
       sha256(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
           '{_P_EMAIL}', '<EMAIL>', 'g'),
           '{_P_SSN}', '<SSN>', 'g'),
           '{_P_PHONE}', '<PHONE>', 'g'),
           '{_P_IP}', '<IP>', 'g')) AS redacted_sha
FROM aug ORDER BY doc_id
"""

# composite quality score over docs_aug (twin of analysis.quality_score6:
# same operation order so the IEEE doubles round identically)
_AUG_QUALITY = f"""
{_DOCS_AUG},
qtok AS (SELECT doc_id, coalesce(text, '') AS text, {_TOKS} AS toks FROM aug),
qfeat AS (
    SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CASE WHEN length(text) > 0 THEN CAST(round(
            CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
            * 1e6 / length(text)) AS BIGINT) ELSE 0 END AS alpha6,
       CASE WHEN length(text) > 0 THEN CAST(round(
            CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
            * 1e6 / length(text)) AS BIGINT) ELSE 0 END AS punct6,
       CASE WHEN len(toks) > 0 THEN CAST(round(
            CAST(len(list_filter(toks, t -> list_contains(
                ['the','a','of','and','to','in','is','it'], t))) AS DOUBLE)
            * 1e6 / len(toks)) AS BIGINT) ELSE 0 END AS stop6
    FROM qtok
),
qual AS (
    SELECT doc_id, CAST(round(
        (0.3 * (CAST(least(n_tokens, 100) AS DOUBLE) / 100.0)
         + 0.4 * (CAST(alpha6 AS DOUBLE) / 1e6)
         + 0.3 * least(CAST(stop6 AS DOUBLE) / 1e6 * 4.0, 1.0))
        * (1.0 - least(CAST(punct6 AS DOUBLE) / 1e6 * 2.0, 1.0)) * 1e6
    ) AS BIGINT) AS quality6
    FROM qfeat
)
"""

ORACLE["cluster_representatives"] = f"""
WITH {_AUG_QUALITY.strip()},
comp AS (SELECT * FROM ({ORACLE["dedupe_clusters"]})),
ranked AS (
    SELECT c.cluster_id, c.doc_id, q.quality6,
           row_number() OVER (PARTITION BY c.cluster_id
                              ORDER BY q.quality6 DESC, c.doc_id ASC) AS rn,
           count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
    FROM comp c JOIN qual q USING (doc_id)
)
SELECT cluster_id, doc_id AS rep_id, quality6 AS rep_quality6,
       CAST(cluster_size AS BIGINT) AS cluster_size
FROM ranked WHERE rn = 1 ORDER BY cluster_id
"""

ORACLE["tool_transitions"] = f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
nz AS (SELECT doc_id, len(toks) AS n FROM tok WHERE len(toks) > 0),
turns AS (
    SELECT doc_id AS conv_id, CAST(i - 1 AS INT) AS turn_idx
    FROM (SELECT doc_id, unnest(range(1, CAST(ceil(n / 12.0) AS BIGINT) + 1)) AS i
          FROM nz)
),
st AS (
    SELECT conv_id, turn_idx,
           CASE WHEN turn_idx % 2 = 1 THEN
                'assistant' || CASE (conv_id + turn_idx) % 4
                                 WHEN 0 THEN ':search'
                                 WHEN 1 THEN ':code'
                                 ELSE '' END
           ELSE 'user' END AS state
    FROM turns
),
tr AS (
    SELECT coalesce(lag(state) OVER (PARTITION BY conv_id ORDER BY turn_idx),
                    'START') AS prev_state,
           state
    FROM st
)
SELECT prev_state, state, count(*) AS n_transitions
FROM tr GROUP BY prev_state, state ORDER BY prev_state, state
"""

ORACLE["doc_repetition"] = f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
nz AS (SELECT doc_id, toks FROM tok WHERE len(toks) >= 2),
big AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks)),
                  i -> toks[i] || ' ' || toks[i + 1])) AS bg
    FROM nz
),
cnt AS (SELECT doc_id, bg, count(*) AS c FROM big GROUP BY doc_id, bg),
agg AS (
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
           count(*) AS n_distinct_bigrams, max(c) AS top_cnt
    FROM cnt GROUP BY doc_id
)
SELECT doc_id, n_bigrams, n_distinct_bigrams,
       CAST(round(CAST(top_cnt AS DOUBLE) * 1e6 / n_bigrams) AS BIGINT)
           AS top_bigram_ratio6,
       CAST(round(CAST(n_bigrams - n_distinct_bigrams AS DOUBLE) * 1e6 / n_bigrams)
           AS BIGINT) AS dup_bigram_ratio6
FROM agg ORDER BY doc_id
"""

# ---------------------------------------------------------------------------
# curate_funnel: the COMPOSED curation pipeline re-derived from scratch.
# One row per stage: (stage, n_rows, bit_xor of member ids) — membership
# verification of every stage boundary, not just counts. The config the
# Spark query runs with is defined HERE so both sides move together.
from .curate import CurateConfig as _CurateConfig  # noqa: E402

FUNNEL_CFG = _CurateConfig(pack_capacity=256, pack_nshards=8)
FUNNEL_HOLDOUT_MAX = 10


def _redact_sql(expr: str) -> str:
    """DuckDB twin of functions/redact.redact_pii: the same patterns in
    the same PII_PATTERNS order (email, ssn, phone, ip), replace-all."""
    out = f"coalesce({expr}, '')"
    for kind, pat in _PII.items():
        out = f"regexp_replace({out}, '{pat}', '<{kind.upper()}>', 'g')"
    return out


_FC = FUNNEL_CFG
ORACLE["curate_funnel"] = f"""
WITH RECURSIVE
docs AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents),
-- annotate: raw-text quality + token count (twin of analysis.quality_score6)
rtok AS (SELECT doc_id, coalesce(text, '') AS text, {_TOKS} AS toks FROM docs),
rfeat AS (
    SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CASE WHEN length(text) > 0 THEN CAST(round(
            CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
            * 1e6 / length(text)) AS BIGINT) ELSE 0 END AS alpha6,
       CASE WHEN length(text) > 0 THEN CAST(round(
            CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
            * 1e6 / length(text)) AS BIGINT) ELSE 0 END AS punct6,
       CASE WHEN len(toks) > 0 THEN CAST(round(
            CAST(len(list_filter(toks, t -> list_contains(
                ['the','a','of','and','to','in','is','it'], t))) AS DOUBLE)
            * 1e6 / len(toks)) AS BIGINT) ELSE 0 END AS stop6
    FROM rtok
),
rq AS (
    SELECT doc_id, n_tokens, CAST(round(
        (0.3 * (CAST(least(n_tokens, 100) AS DOUBLE) / 100.0)
         + 0.4 * (CAST(alpha6 AS DOUBLE) / 1e6)
         + 0.3 * least(CAST(stop6 AS DOUBLE) / 1e6 * 4.0, 1.0))
        * (1.0 - least(CAST(punct6 AS DOUBLE) / 1e6 * 2.0, 1.0)) * 1e6
    ) AS BIGINT) AS quality6
    FROM rfeat
),
-- raw-text repetition signals (twin of analysis.repetition_signals)
rbig AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks)),
                  i -> toks[i] || ' ' || toks[i + 1])) AS bg
    FROM rtok WHERE len(toks) >= 2
),
rcnt AS (SELECT doc_id, bg, count(*) AS c FROM rbig GROUP BY doc_id, bg),
rrep AS (
    SELECT doc_id,
           CAST(round(CAST(max(c) AS DOUBLE) * 1e6 / sum(c)) AS BIGINT)
               AS tb6,
           CAST(round(CAST(sum(c) - count(*) AS DOUBLE) * 1e6 / sum(c)) AS BIGINT)
               AS db6
    FROM rcnt GROUP BY doc_id
),
-- quality/repetition gate
surv AS MATERIALIZED (
    SELECT q.doc_id FROM rq q LEFT JOIN rrep r USING (doc_id)
    WHERE q.n_tokens >= {_FC.min_tokens}
      AND q.quality6 >= {_FC.min_quality6}
      AND coalesce(r.tb6, 0) <= {_FC.max_top_bigram_ratio6}
      AND coalesce(r.db6, 0) <= {_FC.max_dup_bigram_ratio6}
),
-- PII scrub on survivors (the filtered stage's shipped text)
scrub AS MATERIALIZED (
    SELECT d.doc_id, {_redact_sql("d.text")} AS text
    FROM docs d JOIN surv USING (doc_id)
),
-- decontamination vs the scrubbed holdout (doc_id < {FUNNEL_HOLDOUT_MAX})
ho AS (
    SELECT doc_id AS eval_id, {_redact_sql("text")} AS text
    FROM docs WHERE doc_id < {FUNNEL_HOLDOUT_MAX}
),
htok AS (SELECT eval_id, {_TOKS} AS toks FROM ho),
hsh AS (SELECT eval_id, list_distinct({_SHINGLES}) AS shs FROM htok),
hex AS (SELECT eval_id, len(shs) AS eval_sh, unnest(shs) AS sh FROM hsh),
stok AS MATERIALIZED (SELECT doc_id, {_TOKS} AS toks FROM scrub),
ssh AS (SELECT doc_id, list_distinct({_SHINGLES}) AS shs FROM stok),
sex AS (SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS sh FROM ssh),
contam AS (
    SELECT DISTINCT doc_id FROM (
        SELECT e.eval_id, s.doc_id, max(e.eval_sh) AS eval_sh,
               count(*) AS shared
        FROM hex e JOIN sex s ON e.sh = s.sh
        GROUP BY e.eval_id, s.doc_id
    )
    WHERE shared >= {_FC.contamination_min_shared}
      AND CAST(round(CAST(shared AS DOUBLE) / eval_sh * 1e6) AS BIGINT)
          >= {_FC.contamination_min_containment6}
),
decon AS MATERIALIZED (
    SELECT doc_id FROM scrub
    WHERE doc_id NOT IN (SELECT doc_id FROM contam)
),
-- dedupe over decon: brute Jaccard >= 0.9 on scrubbed shingles ∪ exact sha,
-- connected components with the pipeline's STRING id ordering
dex AS (SELECT s.doc_id, s.n_sh, s.sh FROM sex s JOIN decon USING (doc_id)),
dinter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           max(a.n_sh) AS na, max(b.n_sh) AS nb, count(*) AS inter
    FROM dex a JOIN dex b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
jp AS (SELECT id_a, id_b FROM dinter WHERE 10 * inter >= 9 * (na + nb - inter)),
gsha AS (
    SELECT s.doc_id, sha256(s.text) AS sha FROM scrub s JOIN decon USING (doc_id)
),
erep AS (SELECT sha, min(doc_id) AS rep FROM gsha GROUP BY sha),
ep AS (
    SELECT r.rep AS id_a, g.doc_id AS id_b
    FROM gsha g JOIN erep r USING (sha) WHERE g.doc_id != r.rep
),
allp AS (SELECT * FROM jp UNION SELECT * FROM ep),
edges AS (SELECT id_a AS u, id_b AS v FROM allp
          UNION SELECT id_b, id_a FROM allp),
walk(id, comp) AS (
    SELECT doc_id, CAST(doc_id AS VARCHAR) FROM decon
    UNION
    SELECT e.v, w.comp FROM walk w JOIN edges e ON e.u = w.id
),
comp AS MATERIALIZED (
    SELECT id AS doc_id, CAST(min(comp) AS BIGINT) AS cluster_id
    FROM walk GROUP BY id
),
-- cluster-level md5 split (salt '{_FC.split_salt}', 0.8/0.1/0.1)
spl AS MATERIALIZED (
    SELECT doc_id, cluster_id,
           CASE WHEN bucket < 800000 THEN 'train'
                WHEN bucket < 900000 THEN 'val'
                ELSE 'test' END AS split
    FROM (
        SELECT doc_id, cluster_id,
               CAST(concat('0x', substr(md5('{_FC.split_salt}'
                    || CAST(cluster_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 1000000 AS bucket
        FROM comp
    )
),
-- representatives: quality argmax per cluster, doc_id tie-break
keptt AS MATERIALIZED (
    SELECT doc_id FROM (
        SELECT c.doc_id,
               row_number() OVER (PARTITION BY c.cluster_id
                                  ORDER BY q.quality6 DESC, c.doc_id ASC) AS rn
        FROM comp c JOIN rq q USING (doc_id)
    ) WHERE rn = 1
),
-- next-fit packing of kept docs per (split, shard): n_tokens on the
-- SCRUBBED text, shard = md5('pack' || id) % {_FC.pack_nshards},
-- capacity {_FC.pack_capacity}
pk AS (
    SELECT k.doc_id, s.split,
           CAST(CAST(concat('0x', substr(md5('pack'
                || CAST(k.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                % 1000000 % {_FC.pack_nshards} AS INT) AS shard,
           CAST(len(st.toks) AS BIGINT) AS n_tokens
    FROM keptt k JOIN spl s USING (doc_id) JOIN stok st USING (doc_id)
),
-- next-fit fold per (split, shard) WITHOUT a recursive CTE (a recursive
-- join here re-evaluates the whole upstream funnel chain once per
-- iteration — measured 181 s vs ~5 s). The fold encodes (seq, fill) in
-- one BIGINT acc = seq * 1000000 + fill (fill < 1e6 for any real doc);
-- list_reduce seeds acc with the first element's n_tokens, which is
-- exactly (seq 0, fill n_tokens) — the same sweep as the pwalk
-- recursion in ORACLE["pack_sequences"], replayed as a fold
pfold AS (
    SELECT split, shard,
           list_reduce(list(n_tokens ORDER BY doc_id),
               (acc, x) -> CASE
                   WHEN acc % 1000000 + x > {_FC.pack_capacity}
                   THEN (acc // 1000000 + 1) * 1000000 + x
                   ELSE acc + x END) AS accf
    FROM pk GROUP BY split, shard
),
binid AS (
    SELECT (CASE split WHEN 'train' THEN 0 WHEN 'val' THEN 1 ELSE 2 END)
           * CAST(1000000000 AS BIGINT)
           + shard * CAST(1000000 AS BIGINT) + seq AS bin_id
    FROM (SELECT split, shard, unnest(range(0, accf // 1000000 + 1)) AS seq
          FROM pfold)
)
SELECT 'annotated' AS stage, count(*) AS n_rows, bit_xor(doc_id) AS xor_ids FROM docs
UNION ALL SELECT 'filtered', count(*), bit_xor(doc_id) FROM surv
UNION ALL SELECT 'decontaminated', count(*), bit_xor(doc_id) FROM decon
UNION ALL SELECT 'clusters', count(*), bit_xor(cluster_id)
          FROM (SELECT DISTINCT cluster_id FROM comp)
UNION ALL SELECT concat('split_', split), count(*), bit_xor(doc_id)
          FROM spl GROUP BY split
UNION ALL SELECT 'kept', count(*), bit_xor(doc_id) FROM keptt
UNION ALL SELECT 'packed_bins', count(*), bit_xor(bin_id) FROM binid
ORDER BY stage
"""

# DSIR importance weights: DuckDB re-derives the entire chain from the
# raw text — unigram+bigram features, md5 bucket hashing (the portable
# hash_bucket recipe, 'dsir' salt, m=1024), both Laplace-smoothed
# bucket models, the integer-scaled per-bucket ln-ratio deltas, and
# every document's summed weight. Sums are CAST to BIGINT (DuckDB
# SUM(BIGINT) -> HUGEINT would break the driver's arrow-level hash).
ORACLE["dsir_weights"] = f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
fe AS (
  SELECT doc_id,
         unnest(list_concat(
           toks,
           CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
                ELSE list_transform(generate_series(2, len(toks)),
                                    i -> toks[i-1] || ' ' || toks[i]) END
         )) AS ng
  FROM tok
),
b AS (
  SELECT doc_id, doc_id % 5 = 0 AS tgt,
         CAST(concat('0x', substr(md5('dsir' || ng), 1, 15)) AS BIGINT)
           % 1024 AS bkt
  FROM fe
),
cnt AS (
  SELECT bkt,
         CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         CAST(sum(CASE WHEN NOT tgt THEN 1 ELSE 0 END) AS BIGINT) AS cr
  FROM b GROUP BY bkt
),
tot AS (
  SELECT CAST(coalesce(sum(ct), 0) AS DOUBLE) AS nt,
         CAST(coalesce(sum(cr), 0) AS DOUBLE) AS nr
  FROM cnt
),
wt AS (
  SELECT bkt,
         CAST(round((ln((ct + 1.0) / (nt + 1024.0))
                   - ln((cr + 1.0) / (nr + 1024.0))) * 1e6) AS BIGINT)
           AS delta6
  FROM cnt CROSS JOIN tot
),
dc AS (
  SELECT doc_id, bkt, CAST(count(*) AS BIGINT) AS c
  FROM b GROUP BY doc_id, bkt
),
sc AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_feats,
         CAST(sum(c * delta6) AS BIGINT) AS logw6
  FROM dc JOIN wt USING (bkt) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(d.doc_id % 5 = 0 AS INT) AS is_target,
       coalesce(sc.n_feats, CAST(0 AS BIGINT)) AS n_feats,
       coalesce(sc.logw6, CAST(0 AS BIGINT)) AS logw6
FROM documents d LEFT JOIN sc USING (doc_id)
ORDER BY d.doc_id
"""

# --- geo blocking (F9/F11) -------------------------------------------
# closed-form geohash-4 in integer SQL: interleave 10 lon bits (odd
# positions) with 10 lat bits (even positions), then 4 base32 chars by
# substring-on-alphabet — the exact arithmetic of functions/geo.py.
_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"
_GH4_Z = " + ".join(
    [f"(((nlon) >> {j}) & 1) * {1 << (2 * j + 1)}" for j in range(10)]
    + [f"(((nlat) >> {j}) & 1) * {1 << (2 * j)}" for j in range(10)]
)
_GH4_CHARS = " || ".join(
    f"substr('{_B32}', CAST(((z >> {5 * (3 - k)}) & 31) + 1 AS INT), 1)"
    for k in range(4)
)
# 9-cell fan (center idx 0, then the Spark loop order), with latitude
# validity and longitude wrap mod 2^10
_GH4_FAN = """
  (VALUES (0, 0, 0), (1, -1, -1), (2, -1, 0), (3, -1, 1), (4, 0, -1),
          (5, 0, 1), (6, 1, -1), (7, 1, 0), (8, 1, 1)) AS f(idx, dlat, dlon)
"""

# F11 + F9: expected coordinates re-derived from doc_id arithmetic
# (never parsed — the STRING parsing is what the Spark side is being
# tested on), DMS hemisphere sign applied (the documented reference-bug
# fix), longitude wrapped with the same 180 - fmod(180 - lon, 360)
# double chain, then the quantize/interleave/base32 replay.
ORACLE["geo_blocking"] = f"""
WITH v AS (
  SELECT doc_id, doc_id % 4 AS var,
         1000 + (doc_id * 37) % 7900 AS lat_c,
         1000 + (doc_id * 73) % 7900 AS lon_c,
         CASE WHEN doc_id % 2 = 1 THEN -1.0 ELSE 1.0 END AS lat_sgn,
         CASE WHEN doc_id % 3 <> 0 THEN -1.0 ELSE 1.0 END AS lon_sgn,
         10 + doc_id % 79 AS dd,
         (doc_id * 7) % 60 AS dm,
         (doc_id * 13) % 60 AS ds
  FROM documents
),
val AS (
  SELECT doc_id,
    CASE WHEN var = 2
         THEN lat_sgn * (CAST(dd AS DOUBLE) + dm / 60.0 + ds / 3600.0)
         ELSE lat_sgn * (CAST(lat_c AS DOUBLE) / 100.0) END AS lat,
    CASE WHEN var = 2
         THEN lon_sgn * (CAST(dd AS DOUBLE) + dm / 60.0 + ds / 3600.0)
         ELSE lon_sgn * (CAST(lon_c AS DOUBLE) / 100.0) END AS lon0
  FROM v
),
w AS (
  SELECT doc_id, lat, 180.0 - fmod(180.0 - lon0, 360.0) AS lon FROM val
),
q AS (
  SELECT doc_id,
         CAST(round(lat * 1e6) AS BIGINT) AS lat6,
         CAST(round(lon * 1e6) AS BIGINT) AS lon6,
         least(CAST(floor((lat + 90.0) / 180.0 * 1024.0) AS BIGINT), 1023) AS latq,
         least(CAST(floor((lon + 180.0) / 360.0 * 1024.0) AS BIGINT), 1023) AS lonq
  FROM w
),
cells AS (
  SELECT doc_id, lat6, lon6, f.idx,
         latq + f.dlat AS nlat,
         ((lonq + f.dlon) % 1024 + 1024) % 1024 AS nlon
  FROM q, {_GH4_FAN}
  WHERE latq + f.dlat BETWEEN 0 AND 1023
),
zt AS (SELECT doc_id, lat6, lon6, idx, {_GH4_Z} AS z FROM cells),
gs AS (SELECT doc_id, lat6, lon6, idx, {_GH4_CHARS} AS gh FROM zt)
SELECT doc_id, lat6, lon6,
       min(CASE WHEN idx = 0 THEN gh END) AS gh,
       string_agg(gh, ',' ORDER BY idx) AS cells_cat
FROM gs GROUP BY doc_id, lat6, lon6 ORDER BY doc_id
"""

# F9 sparse-cell aliasing: grid fixture on exact dyadic offsets, every
# blocking key counted (cell + 8 neighbors), sparse cells (< 250)
# alias to the argmax-count qualifying neighbor (gh tie-break DESC) —
# counts, fan and argmax all re-derived.
ORACLE["geo_aliases"] = f"""
WITH d AS (
  SELECT doc_id,
         10.0 + (doc_id % 3) * (180.0 / 1024.0) AS lat,
         20.0 + (doc_id % 5) * (360.0 / 1024.0) AS lon
  FROM documents
),
q AS (
  SELECT doc_id,
         least(CAST(floor((lat + 90.0) / 180.0 * 1024.0) AS BIGINT), 1023) AS latq,
         least(CAST(floor((lon + 180.0) / 360.0 * 1024.0) AS BIGINT), 1023) AS lonq
  FROM d
),
cells AS (
  SELECT doc_id,
         latq + f.dlat AS nlat,
         ((lonq + f.dlon) % 1024 + 1024) % 1024 AS nlon
  FROM q, {_GH4_FAN}
  WHERE latq + f.dlat BETWEEN 0 AND 1023
),
zt AS (SELECT doc_id, nlat, nlon, {_GH4_Z} AS z FROM cells),
by_geo AS (
  SELECT {_GH4_CHARS} AS geo, min(nlat) AS latq, min(nlon) AS lonq,
         CAST(count(*) AS BIGINT) AS raw_docs
  FROM zt GROUP BY z
),
tot AS (SELECT CAST(coalesce(sum(raw_docs), 1) AS DOUBLE) AS t FROM by_geo),
norm AS (
  SELECT geo, latq, lonq,
         CAST(round(raw_docs * 10000.0 / t) AS BIGINT) AS n_docs
  FROM by_geo CROSS JOIN tot
),
keep AS (SELECT geo, n_docs FROM norm WHERE n_docs >= 556),
sparse AS (SELECT geo, latq, lonq FROM norm WHERE n_docs < 556),
fan AS (
  SELECT s.geo, s.latq + f.dlat AS nlat,
         ((s.lonq + f.dlon) % 1024 + 1024) % 1024 AS nlon
  FROM sparse s, {_GH4_FAN}
  WHERE f.idx > 0 AND s.latq + f.dlat BETWEEN 0 AND 1023
),
fz AS (SELECT geo, {_GH4_Z} AS z FROM fan),
fg AS (SELECT geo, {_GH4_CHARS} AS neighbor FROM fz),
ranked AS (
  SELECT fg.geo, fg.neighbor, k.n_docs,
         row_number() OVER (PARTITION BY fg.geo
                            ORDER BY k.n_docs DESC, fg.neighbor DESC) AS rn
  FROM fg JOIN keep k ON k.geo = fg.neighbor
)
SELECT geo, neighbor AS alias_geo FROM ranked WHERE rn = 1 ORDER BY geo
"""

# F12 safe_decode: expected text / fallback flag / byte length all
# re-derived from doc_id arithmetic (strlen = BYTE length of the utf-8
# arm; the latin-1 arm is one byte per char by construction).
ORACLE["safe_decode"] = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'héllo ' || CAST(doc_id AS VARCHAR)
            ELSE 'café ' || CAST(doc_id AS VARCHAR) END AS decoded,
       CAST(doc_id % 2 AS INT) AS fallback,
       CAST(CASE WHEN doc_id % 2 = 0
                 THEN strlen('héllo ' || CAST(doc_id AS VARCHAR))
                 ELSE length('café ' || CAST(doc_id AS VARCHAR)) END AS INT)
         AS n_bytes
FROM documents ORDER BY doc_id
"""

# --- distributed BPE training ----------------------------------------
# DuckDB RE-LEARNS the merges: distinct-word counts (hapax pruned),
# wrapped-symbol sequences, then 6 macro-generated stages of
# pair-count -> argmax (count DESC, w1, w2) -> greedy string-replace
# merge — the identical chain the Spark side runs. MATERIALIZED is
# load-bearing: every v{i} feeds both p{i+1} and v{i+1}.
_BPE_N = 6


def _bpe_chain(n: int) -> str:
    stages = ["""
wc AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(toks) AS word
        FROM (SELECT {toks} AS toks FROM documents))
  GROUP BY word HAVING count(*) >= 2
),
v0 AS MATERIALIZED (
  SELECT word, cnt,
         ' ' || array_to_string(
           list_transform(generate_series(1, length(word)),
                          i -> substr(word, i, 1)), '  ') || ' ' AS seq
  FROM wc
)""".format(toks=_TOKS)]
    for i in range(1, n + 1):
        stages.append(f"""
b{i} AS (
  SELECT cnt, unnest(generate_series(2, len(syms))) AS j, syms
  FROM (SELECT cnt, string_split(trim(seq), '  ') AS syms FROM v{i - 1})
  WHERE len(syms) >= 2
),
p{i} AS (
  SELECT syms[j-1] AS w1, syms[j] AS w2,
         CAST(sum(cnt) AS BIGINT) AS pair_count
  FROM b{i} GROUP BY 1, 2
),
m{i} AS MATERIALIZED (
  SELECT CAST({i} AS INT) AS step, w1, w2, pair_count
  FROM p{i} ORDER BY pair_count DESC, w1, w2 LIMIT 1
),
v{i} AS MATERIALIZED (
  SELECT v.word, v.cnt,
         replace(v.seq, ' ' || m.w1 || '  ' || m.w2 || ' ',
                 ' ' || m.w1 || m.w2 || ' ') AS seq
  FROM v{i - 1} v CROSS JOIN m{i} m
)""")
    return ",".join(stages)


ORACLE["bpe_merges"] = f"""
WITH {_bpe_chain(_BPE_N)}
SELECT step, w1, w2, pair_count FROM (
  {" UNION ALL ".join(f"SELECT * FROM m{i}" for i in range(1, _BPE_N + 1))}
) ORDER BY step
"""

ORACLE["bpe_token_counts"] = f"""
WITH {_bpe_chain(_BPE_N)},
seg AS (
  SELECT word, CAST(len(string_split(trim(seq), '  ')) AS BIGINT) AS n_sub
  FROM v{_BPE_N}
),
dw AS (
  SELECT doc_id, unnest(toks) AS word
  FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
),
pw AS (
  SELECT dw.doc_id,
         coalesce(seg.n_sub, CAST(length(dw.word) AS BIGINT)) AS n_sub
  FROM dw LEFT JOIN seg USING (word)
),
agg AS (
  SELECT doc_id, CAST(sum(n_sub) AS BIGINT) AS n_bpe_tokens,
         CAST(count(*) AS BIGINT) AS n_words
  FROM pw GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(agg.n_bpe_tokens, CAST(0 AS BIGINT)) AS n_bpe_tokens,
       coalesce(agg.n_words, CAST(0 AS BIGINT)) AS n_words
FROM documents d LEFT JOIN agg USING (doc_id)
ORDER BY d.doc_id
"""

# exact 13-gram verbatim decontamination: DuckDB re-derives the planted
# aug corpus, every distinct 13-token window's md5-prefix key, and the
# per-train-doc hit counts — the GPT-3-style verbatim rule next to the
# containment sweep of contamination_pairs.
ORACLE["verbatim_13gram_decon"] = f"""
WITH {_DOCS_AUG},
tok AS (SELECT doc_id, {_TOKS} AS toks FROM aug),
g AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(toks) < 13 THEN []::VARCHAR[]
                ELSE list_transform(generate_series(13, len(toks)),
                     i -> substr(md5(array_to_string(toks[i-12:i], ' ')), 1, 16))
           END)) AS g
  FROM tok
),
ev AS (SELECT doc_id AS eval_id, g FROM g WHERE doc_id < 25),
tr AS (SELECT doc_id AS train_id, g FROM g WHERE doc_id >= 100000)
SELECT tr.train_id,
       CAST(count(DISTINCT tr.g) AS BIGINT) AS n_shared_13grams,
       CAST(count(DISTINCT ev.eval_id) AS BIGINT) AS n_eval_docs
FROM tr JOIN ev USING (g)
GROUP BY tr.train_id ORDER BY tr.train_id
"""

# Bloom-prefiltered decontamination (operators/bloom.py): DuckDB
# re-builds the m-bit bitmap word by word (the bit-63 CASE mirrors Java
# shiftleft's two's-complement wrap, which DuckDB's << rejects as an
# overflow), replays all k md5 probes per training gram, every
# membership verdict, and the exact survivor join — so the oracle
# re-derives the SAME false positives, not just the true hits.
_BLOOM_M = 65536
_BLOOM_K = 4
_BLOOM_SHIFT = (
    "CASE WHEN ({b}) = 63 THEN CAST(-9223372036854775808 AS BIGINT) "
    "ELSE CAST(1 AS BIGINT) << CAST(({b}) AS INT) END"
)

ORACLE["bloom_decon"] = f"""
WITH {_DOCS_AUG},
tok AS (SELECT doc_id, {_TOKS} AS toks FROM aug),
g AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(toks) < 13 THEN []::VARCHAR[]
                ELSE list_transform(generate_series(13, len(toks)),
                     i -> substr(md5(array_to_string(toks[i-12:i], ' ')), 1, 16))
           END)) AS g
  FROM tok
),
ev AS MATERIALIZED (SELECT DISTINCT g FROM g WHERE doc_id < 25),
tr AS (SELECT doc_id AS train_id, g FROM g WHERE doc_id >= 100000),
seeds AS (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS s),
evp AS (
  SELECT CAST(concat('0x', substr(md5('bloom' || s || ':' || g), 1, 15))
              AS BIGINT) % {_BLOOM_M} AS pos
  FROM ev CROSS JOIN seeds
),
words AS MATERIALIZED (
  SELECT pos // 64 AS word_idx,
         bit_or({_BLOOM_SHIFT.format(b="pos % 64")}) AS word
  FROM evp GROUP BY 1
),
trp AS (
  SELECT train_id, g,
         CAST(concat('0x', substr(md5('bloom' || s || ':' || g), 1, 15))
              AS BIGINT) % {_BLOOM_M} AS pos
  FROM tr CROSS JOIN seeds
),
hit AS (
  SELECT train_id, g,
         bool_and((coalesce(w.word, CAST(0 AS BIGINT))
                   & ({_BLOOM_SHIFT.format(b="pos % 64")})) <> 0) AS might
  FROM trp LEFT JOIN words w ON w.word_idx = trp.pos // 64
  GROUP BY train_id, g
),
surv AS (SELECT train_id, g FROM hit WHERE might)
SELECT surv.train_id,
       CAST(count(DISTINCT surv.g) AS BIGINT) AS n_bloom_grams,
       CAST(count(DISTINCT CASE WHEN ev.g IS NOT NULL THEN surv.g END)
            AS BIGINT) AS n_exact_grams
FROM surv LEFT JOIN ev ON surv.g = ev.g
GROUP BY surv.train_id ORDER BY surv.train_id
"""

# NB quality classifier (functions/classify.py): DuckDB re-derives the
# heuristic seed labels from the proven quality twin, both
# class-conditional hashed-bucket models (Laplace-smoothed, buckets
# seen only in unlabeled docs included with np = nn = 0), the
# doc-count prior, every per-bucket integer-scaled delta6, and every
# per-doc score + verdict — exact integer math end to end.
ORACLE["nb_quality"] = f"""
WITH {_AUG_QUALITY.strip()},
lab AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN quality6 >= 620000 THEN 1
              WHEN quality6 < 480000 THEN 0 END AS seed_label
  FROM qual
),
fb AS (
  SELECT t.doc_id,
         CAST(concat('0x', substr(md5('nbq:' || u.tk), 1, 15)) AS BIGINT)
           % 4096 AS b
  FROM qtok t, unnest(t.toks) AS u(tk)
),
dbc AS MATERIALIZED (
  SELECT fb.doc_id, b, lab.seed_label AS lbl, count(*) AS c
  FROM fb JOIN lab USING (doc_id) GROUP BY 1, 2, 3
),
cls AS (
  SELECT b,
         sum(CASE WHEN lbl = 1 THEN c ELSE 0 END) AS np,
         sum(CASE WHEN lbl = 0 THEN c ELSE 0 END) AS nn
  FROM dbc GROUP BY b
),
tot AS (SELECT CAST(sum(np) AS DOUBLE) AS npt,
               CAST(sum(nn) AS DOUBLE) AS nnt FROM cls),
pri AS (
  SELECT CAST(round(ln(
           (sum(CASE WHEN seed_label = 1 THEN 1 ELSE 0 END) + 1.0)
         / (sum(CASE WHEN seed_label = 0 THEN 1 ELSE 0 END) + 1.0)) * 1e6)
         AS BIGINT) AS prior6
  FROM lab
),
wt AS (
  SELECT b,
         CAST(round((ln((np + 1.0) / (npt + 4096.0))
                   - ln((nn + 1.0) / (nnt + 4096.0))) * 1e6)
              AS BIGINT) AS delta6
  FROM cls CROSS JOIN tot
),
doc AS (
  SELECT dbc.doc_id,
         CAST(sum(c) AS BIGINT) AS n_feats,
         CAST(sum(c * delta6) AS BIGINT) AS lik6
  FROM dbc JOIN wt USING (b) GROUP BY 1
)
SELECT lab.doc_id,
       lab.seed_label,
       coalesce(doc.n_feats, 0) AS n_feats,
       CAST(pri.prior6 + coalesce(doc.lik6, 0) AS BIGINT) AS score6,
       CAST(round(CAST(pri.prior6 + coalesce(doc.lik6, 0) AS DOUBLE)
                  / greatest(coalesce(doc.n_feats, 0), 1)) AS BIGINT) AS mean6,
       CAST((pri.prior6 + coalesce(doc.lik6, 0)) > 0 AS INT) AS pred
FROM lab LEFT JOIN doc USING (doc_id) CROSS JOIN pri
ORDER BY lab.doc_id
"""

# nearest-centroid embedding classifier: micro-unit quantization,
# half-away-from-zero integer centroid means (// on non-negative
# magnitudes == Spark's div), exact integer squared distances, ties to
# the smaller label.
ORACLE["centroid_classify"] = """
WITH v AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS v6
  FROM embeddings
),
tr AS (SELECT * FROM v WHERE vec_id % 5 <> 0),
te AS MATERIALIZED (SELECT * FROM v WHERE vec_id % 5 = 0),
el AS (
  SELECT label, i AS pos, v6[i] AS x
  FROM (SELECT label, v6, unnest(generate_series(1, len(v6))) AS i FROM tr)
),
cen AS MATERIALIZED (
  SELECT label, pos,
         CAST(CASE WHEN sum(x) >= 0
              THEN (2 * sum(x) + count(*)) // (2 * count(*))
              ELSE -((-2 * sum(x) + count(*)) // (2 * count(*)))
         END AS BIGINT) AS cent6
  FROM el GROUP BY 1, 2
),
sc AS (
  SELECT te.vec_id, te.label AS true_label, cen.label AS cand,
         CAST(sum((te.v6[cen.pos] - cen.cent6) * (te.v6[cen.pos] - cen.cent6))
              AS BIGINT) AS d2
  FROM te CROSS JOIN cen
  GROUP BY 1, 2, 3
),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cand) AS rn
  FROM sc
)
SELECT vec_id, true_label, cand AS pred_label, d2,
       CAST(cand = true_label AS INT) AS correct
FROM rk WHERE rn = 1 ORDER BY vec_id
"""

# snapshot CDC: the new snapshot re-derived by the same deterministic
# edit, one full-outer id join, delta-side hash sets split moves from
# true adds/removes.
ORACLE["snapshot_diff"] = """
WITH old AS (SELECT doc_id, md5(text) AS h FROM documents),
k AS (
  SELECT CASE WHEN doc_id % 53 = 11 THEN doc_id + 700000 ELSE doc_id END AS nid,
         CASE WHEN doc_id % 53 = 11 THEN text
              WHEN doc_id % 31 = 7 THEN text || ' rev two'
              ELSE text END AS ntext
  FROM documents WHERE doc_id % 97 <> 3
),
neu AS (
  SELECT nid AS doc_id, md5(ntext) AS h FROM k
  UNION ALL
  SELECT doc_id + 800000, md5('fresh snapshot doc ' || CAST(doc_id AS VARCHAR))
  FROM documents WHERE doc_id < 15
),
j AS MATERIALIZED (
  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, o.h AS oh, n.h AS nh
  FROM old o FULL OUTER JOIN neu n ON o.doc_id = n.doc_id
),
rmh AS (SELECT DISTINCT oh AS h FROM j WHERE nh IS NULL),
adh AS (SELECT DISTINCT nh AS h FROM j WHERE oh IS NULL)
SELECT doc_id,
       CASE WHEN oh IS NOT NULL AND nh IS NOT NULL AND oh = nh THEN 'unchanged'
            WHEN oh IS NOT NULL AND nh IS NOT NULL THEN 'changed'
            WHEN nh IS NULL THEN
              CASE WHEN oh IN (SELECT h FROM adh) THEN 'moved_out'
                   ELSE 'removed' END
            ELSE
              CASE WHEN nh IN (SELECT h FROM rmh) THEN 'moved_in'
                   ELSE 'added' END
       END AS status
FROM j ORDER BY doc_id
"""

# tiered dedup budget report: the lined corpus + three plant families,
# doc tiers re-aggregated from the (sha, norm_key) grain exactly like
# the Spark plan, the line tier replaying the first-occurrence rule,
# percentages by truncating integer division on both engines.
ORACLE["dedup_tiers"] = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
built AS (
  SELECT doc_id, list_concat(
    list_transform(
      generate_series(0, CAST(ceil(len(words) / 12.0) AS INT) - 1),
      i -> array_to_string(words[12*i+1:12*i+12], ' ')),
    ['', 'footer boilerplate ' || CAST(doc_id % 7 AS VARCHAR)]
  ) AS lines FROM w
),
aug AS MATERIALIZED (
  SELECT doc_id, lines FROM built
  UNION ALL
  SELECT doc_id + 100000, lines FROM built WHERE doc_id < 25
  UNION ALL
  SELECT doc_id + 200000, list_concat(lines, ['appended suffix line zz'])
  FROM built WHERE doc_id >= 25 AND doc_id < 50
  UNION ALL
  SELECT doc_id + 300000, list_transform(lines, l -> upper(l))
  FROM built WHERE doc_id % 3 = 0
),
doc AS (SELECT doc_id, lines, array_to_string(lines, chr(10)) AS text FROM aug),
bt AS (
  SELECT doc_id,
         md5(text) AS sha,
         md5(trim(regexp_replace(regexp_replace(lower(coalesce(text, '')),
             '[0-9]+', '', 'g'), '\\s+', ' ', 'g'))) AS nkey,
         CAST(len({_TOKS}) AS BIGINT) AS ntok
  FROM doc
),
g AS MATERIALIZED (
  SELECT sha, nkey, CAST(count(*) AS BIGINT) AS cnt,
         min(doc_id) AS mid, min(ntok) AS ntok
  FROM bt GROUP BY 1, 2
),
raw AS MATERIALIZED (
  SELECT '1_raw' AS tier, CAST(sum(cnt) AS BIGINT) AS n_units,
         CAST(sum(cnt * ntok) AS BIGINT) AS n_tokens FROM g
),
ex AS (
  SELECT '2_exact' AS tier, CAST(count(*) AS BIGINT) AS n_units,
         CAST(sum(t) AS BIGINT) AS n_tokens
  FROM (SELECT sha, min(ntok) AS t FROM g GROUP BY sha)
),
nm AS (
  SELECT '3_normalized' AS tier, CAST(count(*) AS BIGINT) AS n_units,
         CAST(sum(t) AS BIGINT) AS n_tokens
  FROM (SELECT nkey, arg_min(ntok, mid) AS t FROM g GROUP BY nkey)
),
lined AS (
  SELECT doc_id, i, lines[i] AS line
  FROM (SELECT doc_id, lines, unnest(generate_series(1, len(lines))) AS i
        FROM aug)
),
keptall AS (
  SELECT doc_id, line
  FROM (SELECT doc_id, line,
               row_number() OVER (PARTITION BY line ORDER BY doc_id, i) AS rn
        FROM lined WHERE trim(line) <> '')
  WHERE rn = 1
  UNION ALL
  SELECT doc_id, line FROM lined WHERE trim(line) = ''
),
ln AS (
  -- n_units: docs with >= 1 NON-BLANK surviving line (blank lines are
  -- dedup-exempt and must not make a rebuilt-empty doc count as a
  -- surviving unit) — in lockstep with operators/tiers.py
  SELECT '4_line' AS tier,
         CAST(count(DISTINCT CASE WHEN trim(text) <> '' THEN doc_id END)
              AS BIGINT) AS n_units,
         CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM (SELECT doc_id, line AS text FROM keptall)
),
tiers AS (
  SELECT * FROM raw UNION ALL SELECT * FROM ex
  UNION ALL SELECT * FROM nm UNION ALL SELECT * FROM ln
),
rawt AS (SELECT n_tokens AS raw_tokens FROM raw)
SELECT tier, n_units, n_tokens,
       CAST((1000000 * n_tokens) // raw_tokens AS BIGINT) AS tokens_pct6
FROM tiers CROSS JOIN rawt
ORDER BY tier
"""

# cross-snapshot refresh parity: the refreshed cluster map must equal a
# from-scratch dedupe of the EDITED corpus, which DuckDB re-derives
# directly (exact shingle-Jaccard >= 0.9 pairs ∪ sha star edges,
# recursive-CTE connected components, component-min cluster ids) —
# the same recipe as the driver-green dedupe_clusters twin, over the
# deterministic snapshot edit instead of the raw aug corpus.
ORACLE["refresh_clusters"] = f"""
WITH RECURSIVE {_DOCS_AUG.strip().rstrip()},
ed AS MATERIALIZED (
    SELECT CASE WHEN doc_id % 13 = 5 THEN doc_id + 500000 ELSE doc_id END AS doc_id,
           CASE WHEN doc_id % 17 = 3 THEN text || ' rev tail qq' ELSE text END AS text
    FROM aug WHERE doc_id % 11 <> 2
    UNION ALL
    SELECT doc_id + 900000, text || ' zz yy xx qq ww' FROM aug WHERE doc_id < 12
),
tok AS (SELECT doc_id, {_TOKS} AS toks FROM ed),
shl AS (SELECT doc_id, list_distinct({_SHINGLES}) AS shs FROM tok),
ex AS (SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS sh FROM shl),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           max(a.n_sh) AS na, max(b.n_sh) AS nb, count(*) AS inter
    FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
jpairs AS (
    SELECT id_a, id_b FROM inter WHERE 10 * inter >= 9 * (na + nb - inter)
),
g AS (SELECT doc_id, sha256(text) AS sha FROM ed),
reps AS (SELECT sha, min(doc_id) AS rep FROM g GROUP BY sha),
epairs AS (
    SELECT r.rep AS id_a, g.doc_id AS id_b
    FROM g JOIN reps r USING (sha) WHERE g.doc_id != r.rep
),
allp AS (SELECT * FROM jpairs UNION SELECT * FROM epairs),
edges AS (SELECT id_a AS u, id_b AS v FROM allp
          UNION SELECT id_b, id_a FROM allp),
walk(id, comp) AS (
    SELECT doc_id, doc_id FROM ed
    UNION
    SELECT e.v, w.comp FROM walk w JOIN edges e ON e.u = w.id
)
SELECT id AS doc_id, min(comp) AS cluster_id FROM walk GROUP BY id ORDER BY doc_id
"""

# UniMax water-filling allocation: the closed form's boundary test is
# exact-integer (cap * remaining + cumprev <= budget over the cap-sorted
# group table), so the capped prefix is engine-portable; the two final
# divisions (remainder share, epochs) are single IEEE ops evaluated in
# the same association order on exact integer inputs — bit-identical.
ORACLE["unimax_mixture"] = f"""
WITH tok AS (SELECT lang, {_TOKS} AS toks FROM documents),
c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(toks)) AS BIGINT) AS n_tokens
      FROM tok GROUP BY lang),
k AS (SELECT lang, n_docs, n_tokens,
             CAST(2 * n_tokens AS BIGINT) AS cap FROM c),
w AS (SELECT *,
             CAST(row_number() OVER (ORDER BY cap, lang) AS BIGINT) AS i,
             CAST(sum(cap) OVER (ORDER BY cap, lang
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(count(*) OVER () AS BIGINT) AS nl
      FROM k),
f AS (SELECT *,
             (cap * (nl - i + 1) + (cum - cap) <= 40000) AS capped FROM w),
s AS (SELECT *,
             CAST(coalesce(max(CASE WHEN capped THEN cum END) OVER (), 0)
                  AS BIGINT) AS kcum,
             CAST(nl - coalesce(max(CASE WHEN capped THEN i END) OVER (), 0)
                  AS BIGINT) AS nun
      FROM f)
SELECT lang, n_docs, n_tokens,
       CAST(round(CASE WHEN capped THEN CAST(cap AS DOUBLE)
                       ELSE CAST(40000 - kcum AS DOUBLE) / nun END)
            AS BIGINT) AS alloc_tokens,
       CAST(round((CASE WHEN capped THEN CAST(cap AS DOUBLE)
                        ELSE CAST(40000 - kcum AS DOUBLE) / nun END)
                  / n_tokens * 1e6) AS BIGINT) AS epochs6
FROM s ORDER BY lang
"""

# unimax_expand twin: composes the finished allocation chain, then
# replays the expansion — floor(epochs) integer copies via
# generate_series plus one more when the doc's md5 bucket clears the
# fractional-epoch threshold (epochs6 % 1e6, the shared 1e6 grid).
ORACLE["unimax_sample"] = f"""
WITH alloc AS ({ORACLE["unimax_mixture"]}),
c AS (SELECT d.doc_id, d.lang,
             CAST(a.epochs6 // 1000000 AS BIGINT)
             + CASE WHEN CAST(concat('0x', substr(md5('umx' ||
                        CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                        % 1000000 < a.epochs6 % 1000000
                    THEN 1 ELSE 0 END AS copies
      FROM documents d JOIN alloc a ON d.lang IS NOT DISTINCT FROM a.lang)
SELECT doc_id, lang, CAST(unnest(generate_series(1, copies)) AS BIGINT) AS epoch
FROM c WHERE copies >= 1
ORDER BY doc_id, epoch
"""

# --- image perceptual dedup (functions/imagehash.py) -----------------------
# Arithmetic twin of the synthetic_photo_payloads fixture: bit j of the
# aHash is the Walsh-16 parity bit_count((doc_id%16) & (j%16)) % 2 XOR
# up to doc_id%3 single-bit flips at (doc_id*7)%64 / (doc_id*13)%64 —
# XOR written as sum % 2. The Spark side derives the SAME bits from a
# REAL container decode (zlib/LZW/Huffman -> luma -> NN resize -> mean
# threshold), so a value match proves the whole codec+hash chain. The
# pairs oracle brute-forces ALL pairs (no blocking assumption): with 8
# pigeonhole chunks the engine's guarantee covers hamming <= 7 > the
# 6 threshold, so the engine must equal the brute-force answer exactly.
_IMG_BITS = """
ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents WHERE doc_id < 480),
grid AS (SELECT CAST(unnest(range(64)) AS BIGINT) AS j),
bits AS (
    SELECT doc_id, j,
        (bit_count((doc_id % 16) & (j % 16))
         + CASE WHEN doc_id % 3 >= 1 AND j = (doc_id * 7) % 64 THEN 1 ELSE 0 END
         + CASE WHEN doc_id % 3 >= 2 AND j = (doc_id * 13) % 64 THEN 1 ELSE 0 END
        ) % 2 AS bit
    FROM ids, grid
)"""

ORACLE["image_neardup"] = f"""
WITH {_IMG_BITS},
ham AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS hamming
    FROM bits a JOIN bits b ON a.j = b.j AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
FROM ham WHERE hamming <= 6
ORDER BY id_a, id_b
"""

ORACLE["image_dedup_groups"] = f"""
WITH {_IMG_BITS},
sig AS (
    SELECT doc_id, string_agg(CAST(bit AS VARCHAR), '' ORDER BY j) AS sig
    FROM bits GROUP BY doc_id
)
SELECT min(doc_id) AS rep_id, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT CASE CAST((doc_id // 16) % 4 AS INT)
                 WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
                 WHEN 2 THEN 'jpeg' ELSE 'gif' END) AS BIGINT) AS n_formats
FROM sig GROUP BY sig HAVING count(*) > 1
ORDER BY rep_id
"""

# --- video near-dup (frame-fingerprint set Jaccard) -------------------------
# Arithmetic twin of video.synthetic_clip_payloads + imagehash aHash:
# clip i's frame f carries the Walsh tile of group (i+f)%16, so the
# frame's 64-bit perceptual hash is derivable bit-by-bit (bit j =
# bit_count(grp & (j%16)) % 2) and packed into the SIGNED value via a
# hi/lo split (DuckDB's << errors at bit 63; (hi - 2^32 when the sign
# bit is set) * 2^32 + lo reconstructs Spark's long exactly). fp_xor
# puts the hash VALUES in the verified output, so the match proves the
# AVI demux + per-frame Huffman decode + aHash values themselves.
ORACLE["video_neardup"] = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents WHERE doc_id < 160),
gbits AS (
    SELECT grp, j, bit_count(grp & (j % 16)) % 2 AS bit
    FROM (SELECT CAST(unnest(range(16)) AS BIGINT) AS grp),
         (SELECT CAST(unnest(range(64)) AS BIGINT) AS j)
),
gh AS (
    SELECT grp,
           CAST(sum(CASE WHEN j < 32 AND bit = 1
                    THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS lo,
           CAST(sum(CASE WHEN j >= 32 AND bit = 1
                    THEN (1::BIGINT << CAST(j - 32 AS INT)) ELSE 0 END) AS BIGINT) AS hi
    FROM gbits GROUP BY grp
),
ghv AS (
    SELECT grp,
           (hi - CASE WHEN hi >= 2147483648 THEN 4294967296 ELSE 0 END)
           * 4294967296 + lo AS fp
    FROM gh
),
fh AS (
    SELECT DISTINCT w.doc_id, g.fp
    FROM (SELECT doc_id, (doc_id + CAST(unnest(range(4)) AS BIGINT)) % 16 AS grp
          FROM ids) w
    JOIN ghv g USING (grp)
),
shared AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           count(*) AS shared_fp, bit_xor(a.fp) AS fp_xor
    FROM fh a JOIN fh b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(shared_fp AS BIGINT) AS shared_fp, fp_xor,
       CAST(round(1e6 * shared_fp / (8 - shared_fp)) AS BIGINT) AS jaccard6
FROM shared WHERE round(1e6 * shared_fp / (8 - shared_fp)) >= 300000
ORDER BY id_a, id_b
"""

# --- audio near-dup (window-fingerprint set Jaccard) ------------------------
# The fingerprints are re-derived VALUE-exactly: stored int16 sample
# (g*31 + t*17) % 65536 - 32768 reads back as uint16
# (g*31 + t*17 + 32768) % 65536, xor-folded at bit lane 16*(t%3)
# (lanes stop at 47 — exact signed-64 in both engines). fp_xor carries
# the values into the verified output.
ORACLE["audio_neardup"] = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents WHERE doc_id < 120),
fpw AS (
    SELECT doc_id, w,
           bit_xor(((((doc_id + w) % 12) * 31 + t * 17 + 32768) % 65536)
                   << CAST(16 * (t % 3) AS INT)) AS fp
    FROM (SELECT doc_id, CAST(unnest(range(4)) AS BIGINT) AS w FROM ids),
         (SELECT CAST(unnest(range(256)) AS BIGINT) AS t)
    GROUP BY doc_id, w
),
fh AS (SELECT DISTINCT doc_id, fp FROM fpw),
shared AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           count(*) AS shared_fp, bit_xor(a.fp) AS fp_xor
    FROM fh a JOIN fh b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(shared_fp AS BIGINT) AS shared_fp, fp_xor,
       CAST(round(1e6 * shared_fp / (8 - shared_fp)) AS BIGINT) AS jaccard6
FROM shared WHERE round(1e6 * shared_fp / (8 - shared_fp)) >= 300000
ORDER BY id_a, id_b
"""

# Clusters of the image fixture are its Walsh groups (cliques under
# hamming<=6; cross-group distance >= 20 — tests/test_imagehash.py), so
# cluster_id = min(doc_id) = the group index, and the representative's
# dimensions replay the fixture's member-index arithmetic: the JPEG arm
# ((doc_id//16)%4 == 2) is fixed 64x64, lossless arms 8k with
# k = 1 + ((doc_id//16)//4) % 4. The Spark side RUNS real CC over the
# decoded-pixel pair set; any transitivity or ranking bug diverges.
ORACLE["image_dedup_reps"] = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents WHERE doc_id < 480),
dims AS (
    SELECT doc_id, doc_id % 16 AS grp,
           CASE WHEN (doc_id // 16) % 4 = 2 THEN 64
                ELSE 8 * (1 + ((doc_id // 16) // 4) % 4) END AS w
    FROM ids
),
ranked AS (
    SELECT doc_id, grp, w,
           row_number() OVER (PARTITION BY grp ORDER BY w * w DESC, doc_id) AS rk,
           count(*) OVER (PARTITION BY grp) AS n_members,
           min(doc_id) OVER (PARTITION BY grp) AS cluster_id
    FROM dims
)
SELECT cluster_id, CAST(n_members AS BIGINT) AS n_members,
       doc_id AS rep_id, CAST(w AS INTEGER) AS rep_width,
       CAST(w AS INTEGER) AS rep_height
FROM ranked WHERE rk = 1
ORDER BY cluster_id
"""

# hard negatives = ann_topk with a label-mismatch filter before ranking
ORACLE["hard_negatives"] = f"""
{_COS_PAIRS}
SELECT id_a AS vec_id, rank, id_b AS neg_id, neg_label, cos6 FROM (
    SELECT c.id_a, c.id_b, lb.label AS neg_label, c.cos6,
           row_number() OVER (PARTITION BY c.id_a
                              ORDER BY c.cos6 DESC, c.id_b ASC) AS rank
    FROM cpairs c
    JOIN embeddings la ON la.vec_id = c.id_a
    JOIN embeddings lb ON lb.vec_id = c.id_b
    WHERE la.label != lb.label
) WHERE rank <= 3 ORDER BY vec_id, rank
"""

# Visual decon: same tile-bit arithmetic as image_neardup, extended to
# the eval ids (480..487); a train row survives iff NO eval image is
# within hamming 6. The oracle derives that from first principles — it
# does NOT assume the group structure the fixture happens to plant.
ORACLE["image_decon"] = """
WITH allids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents WHERE doc_id < 488),
grid AS (SELECT CAST(unnest(range(64)) AS BIGINT) AS j),
bits AS (
    SELECT doc_id, j,
        (bit_count((doc_id % 16) & (j % 16))
         + CASE WHEN doc_id % 3 >= 1 AND j = (doc_id * 7) % 64 THEN 1 ELSE 0 END
         + CASE WHEN doc_id % 3 >= 2 AND j = (doc_id * 13) % 64 THEN 1 ELSE 0 END
        ) % 2 AS bit
    FROM allids, grid
),
cont AS (
    SELECT DISTINCT t.doc_id
    FROM bits t JOIN bits e ON t.j = e.j
    WHERE t.doc_id < 480 AND e.doc_id >= 480
    GROUP BY t.doc_id, e.doc_id
    HAVING sum(CASE WHEN t.bit <> e.bit THEN 1 ELSE 0 END) <= 6
)
SELECT doc_id,
       CASE CAST((doc_id // 16) % 4 AS INT)
            WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
            WHEN 2 THEN 'jpeg' ELSE 'gif' END AS format
FROM allids
WHERE doc_id < 480 AND doc_id NOT IN (SELECT doc_id FROM cont)
ORDER BY doc_id
"""

ORACLE["kmv_distinct"] = """
WITH h AS (
    SELECT DISTINCT event_type, strftime(ts, '%Y-%m-%d') AS day,
           CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 10))
                AS BIGINT) + 1 AS hv
    FROM events
),
r AS (
    SELECT event_type, day, hv,
           row_number() OVER (PARTITION BY event_type, day ORDER BY hv) AS rn,
           count(*) OVER (PARTITION BY event_type, day) AS nd
    FROM h
)
SELECT event_type, day, nd AS n_exact, hv AS kth_min,
       CASE WHEN nd < 32 THEN nd
            ELSE (31 * 1099511627776) // hv END AS kmv_estimate
FROM r
WHERE rn <= 32 AND rn = LEAST(nd, 32)
ORDER BY event_type, day
"""

ORACLE["cms_heavy_hitters"] = f"""
WITH tok AS (SELECT {_TOKS} AS toks FROM documents),
tc AS (
    SELECT token, count(*) AS true_tf
    FROM (SELECT unnest(toks) AS token FROM tok)
    GROUP BY token
),
grid AS (
    SELECT d.r AS cms_row,
           CAST(concat('0x', substr(md5(CAST(d.r AS VARCHAR) || ':' || token),
                                    1, 15)) AS BIGINT) % 256 AS cms_bucket,
           CAST(sum(true_tf) AS BIGINT) AS cms_count
    FROM tc, (SELECT unnest([0, 1, 2, 3]) AS r) d
    GROUP BY 1, 2
),
top AS (
    SELECT token, true_tf,
           row_number() OVER (ORDER BY true_tf DESC, token) AS rank
    FROM tc QUALIFY rank <= 20
),
probe AS (
    SELECT t.rank, t.token, t.true_tf, d.r AS cms_row,
           CAST(concat('0x', substr(md5(CAST(d.r AS VARCHAR) || ':' || t.token),
                                    1, 15)) AS BIGINT) % 256 AS cms_bucket
    FROM top t, (SELECT unnest([0, 1, 2, 3]) AS r) d
)
SELECT p.rank, p.token, p.true_tf, min(g.cms_count) AS cms_tf,
       min(g.cms_count) - p.true_tf AS overcount
FROM probe p JOIN grid g USING (cms_row, cms_bucket)
GROUP BY p.rank, p.token, p.true_tf
ORDER BY p.rank
"""

ORACLE["event_funnel"] = """
WITH staged AS (
    SELECT user_id, ts, event_type,
           min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t1
    FROM events
),
staged2 AS (
    SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
                  OVER (PARTITION BY user_id) AS t2
    FROM staged
),
staged3 AS (
    SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
                  OVER (PARTITION BY user_id) AS t3
    FROM staged2
),
per_user AS (
    SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
    FROM staged3 GROUP BY user_id
),
totals AS (
    SELECT count(t1) AS n1, count(t2) AS n2, count(t3) AS n3,
           CAST(sum(CASE WHEN t2 IS NOT NULL THEN
                CAST(floor(epoch(t2)) AS BIGINT)
                - CAST(floor(epoch(t1)) AS BIGINT) END) AS BIGINT) AS lag2,
           CAST(sum(CASE WHEN t3 IS NOT NULL THEN
                CAST(floor(epoch(t3)) AS BIGINT)
                - CAST(floor(epoch(t2)) AS BIGINT) END) AS BIGINT) AS lag3
    FROM per_user
)
SELECT stage, n_users, sum_lag_s FROM (
    SELECT '1_view' AS stage, n1 AS n_users, CAST(NULL AS BIGINT) AS sum_lag_s
    FROM totals
    UNION ALL
    SELECT '2_click', n2, lag2 FROM totals
    UNION ALL
    SELECT '3_purchase', n3, lag3 FROM totals
) ORDER BY stage
"""

ORACLE["theta_sketch_ops"] = """
WITH h AS (
    SELECT DISTINCT event_type,
           CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 10))
                AS BIGINT) + 1 AS hv
    FROM events
),
r AS (
    SELECT event_type, hv,
           row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
           count(*) OVER (PARTITION BY event_type) AS nd
    FROM h
),
sk AS (
    SELECT event_type, hv, nd,
           CASE WHEN nd >= 32
                THEN max(CASE WHEN rn = 32 THEN hv END)
                     OVER (PARTITION BY event_type)
                ELSE 1099511627777 END AS theta
    FROM r WHERE rn <= 32
),
ret AS (SELECT * FROM sk WHERE hv < theta),
th AS (SELECT DISTINCT event_type, theta, nd FROM ret),
pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           LEAST(a.theta, b.theta) AS th, a.nd AS nd_a, b.nd AS nd_b
    FROM th a JOIN th b ON a.event_type < b.event_type
),
ka AS (
    SELECT p.type_a, p.type_b, count(*) AS ka
    FROM pairs p JOIN ret r ON r.event_type = p.type_a AND r.hv < p.th
    GROUP BY 1, 2
),
kb AS (
    SELECT p.type_a, p.type_b, count(*) AS kb
    FROM pairs p JOIN ret r ON r.event_type = p.type_b AND r.hv < p.th
    GROUP BY 1, 2
),
ki AS (
    SELECT p.type_a, p.type_b, count(*) AS ki
    FROM pairs p
    JOIN ret a ON a.event_type = p.type_a AND a.hv < p.th
    JOIN ret b ON b.event_type = p.type_b AND b.hv = a.hv
    GROUP BY 1, 2
),
ex AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           count(*) AS exact_inter
    FROM (SELECT DISTINCT event_type, user_id FROM events) a
    JOIN (SELECT DISTINCT event_type, user_id FROM events) b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
)
SELECT p.type_a, p.type_b,
       p.nd_a + p.nd_b - COALESCE(ex.exact_inter, 0) AS exact_union,
       CASE WHEN p.th > 1099511627776
            THEN COALESCE(ka.ka, 0) + COALESCE(kb.kb, 0) - COALESCE(ki.ki, 0)
            ELSE (1099511627776 * (COALESCE(ka.ka, 0) + COALESCE(kb.kb, 0)
                                   - COALESCE(ki.ki, 0))) // p.th
       END AS theta_union_est,
       COALESCE(ex.exact_inter, 0) AS exact_inter,
       CASE WHEN p.th > 1099511627776 THEN COALESCE(ki.ki, 0)
            ELSE (1099511627776 * COALESCE(ki.ki, 0)) // p.th
       END AS theta_inter_est
FROM pairs p
LEFT JOIN ka USING (type_a, type_b)
LEFT JOIN kb USING (type_a, type_b)
LEFT JOIN ki USING (type_a, type_b)
LEFT JOIN ex USING (type_a, type_b)
ORDER BY type_a, type_b
"""

ORACLE["histogram_quantiles"] = """
WITH oc AS (
    SELECT o_orderpriority AS prio,
           CAST(round(o_totalprice * 100) AS BIGINT) AS pc
    FROM orders
),
stats AS (SELECT prio, min(pc) AS vmin, max(pc) AS vmax, count(*) AS n
          FROM oc GROUP BY prio),
wb AS (
    SELECT oc.prio, pc, vmin, n,
           GREATEST((vmax - vmin) // 256 + 1, 1) AS width
    FROM oc JOIN stats USING (prio)
),
hist AS (
    SELECT prio, vmin, width, n, (pc - vmin) // width AS bucket,
           count(*) AS bn
    FROM wb GROUP BY 1, 2, 3, 4, 5
),
cum AS (
    SELECT *, CAST(sum(bn) OVER (PARTITION BY prio ORDER BY bucket)
                   AS BIGINT) AS cum
    FROM hist
),
probes AS (
    SELECT c.*, p.pct, (n * p.pct + 99) // 100 AS target
    FROM cum c, (SELECT unnest([50, 90, 99]) AS pct) p
),
hit AS (
    SELECT prio, pct, n,
           vmin + bucket * width
               + ((target - (cum - bn) - 1) * width) // bn AS est,
           row_number() OVER (PARTITION BY prio, pct ORDER BY bucket) AS rn
    FROM probes WHERE cum >= target
),
firstb AS (SELECT prio, pct, n, est FROM hit WHERE rn = 1),
ranked AS (
    SELECT prio, pc,
           row_number() OVER (PARTITION BY prio ORDER BY pc) AS rn
    FROM oc
)
SELECT f.prio AS o_orderpriority, f.pct, f.n AS n, f.est AS est_cents,
       r.pc AS exact_cents, f.est - r.pc AS err_cents
FROM firstb f
JOIN ranked r ON r.prio = f.prio AND r.rn = (f.n * f.pct + 99) // 100
ORDER BY o_orderpriority, pct
"""

# KMV rollup mergeability: both chains (day synopses -> merged vs the
# direct whole-stream sketch) re-derived from the same md5 grid; the
# est_match column carries the losslessness invariant into the hash.
ORACLE["sketch_rollup"] = """
WITH h AS (
    SELECT DISTINCT event_type, strftime(ts, '%Y-%m-%d') AS day,
           CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 10))
                AS BIGINT) + 1 AS hv
    FROM events
),
syn AS (
    SELECT event_type, day, hv FROM (
        SELECT event_type, day, hv,
               row_number() OVER (PARTITION BY event_type, day ORDER BY hv) AS rn
        FROM h)
    WHERE rn <= 32
),
mu AS (SELECT DISTINCT event_type, hv FROM syn),
mr AS (
    SELECT event_type, hv,
           row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
           count(*) OVER (PARTITION BY event_type) AS nd
    FROM mu
),
merged AS (
    SELECT event_type, nd AS n_syn,
           CAST(CASE WHEN nd < 32 THEN nd
                     ELSE (31 * 1099511627776) // hv END AS BIGINT) AS merged_est
    FROM mr WHERE rn <= 32 AND rn = LEAST(nd, 32)
),
dh AS (SELECT DISTINCT event_type, hv FROM h),
dr AS (
    SELECT event_type, hv,
           row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
           count(*) OVER (PARTITION BY event_type) AS nd
    FROM dh
),
direct AS (
    SELECT event_type, nd AS n_exact,
           CAST(CASE WHEN nd < 32 THEN nd
                     ELSE (31 * 1099511627776) // hv END AS BIGINT) AS direct_est
    FROM dr WHERE rn <= 32 AND rn = LEAST(nd, 32)
),
days AS (
    SELECT event_type,
           count(DISTINCT strftime(ts, '%Y-%m-%d')) AS n_days
    FROM events GROUP BY event_type
)
SELECT m.event_type, y.n_days, d.n_exact, m.n_syn,
       m.merged_est, d.direct_est,
       CAST(m.merged_est = d.direct_est AS INT) AS est_match
FROM merged m
JOIN direct d USING (event_type)
JOIN days y USING (event_type)
ORDER BY event_type
"""

# Soft dedup: cluster sizes, ppm weights and every md5-Bernoulli keep
# decision re-derived over the normalized_exact_dup augmented frame.
ORACLE["soft_dedup"] = """
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000,
         CAST((doc_id * 7919) % 97 AS VARCHAR) || ' ' || upper(text)
  FROM documents WHERE doc_id % 3 = 0
),
n AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(coalesce(text, '')),
             '[0-9]+', '', 'g'), '\\s+', ' ', 'g'))) AS norm_key
  FROM aug
),
s AS (
  SELECT doc_id, norm_key,
         CAST(count(*) OVER (PARTITION BY norm_key) AS BIGINT) AS csize,
         CAST(min(doc_id) OVER (PARTITION BY norm_key) AS BIGINT) AS grp,
         row_number() OVER (PARTITION BY norm_key ORDER BY doc_id) AS crank
  FROM n
),
ww AS (
  SELECT doc_id, grp, csize,
         1000000 // csize
         + CAST(crank <= 1000000 % csize AS BIGINT) AS weight_ppm
  FROM s
)
SELECT doc_id, grp, csize, weight_ppm,
       CAST(CAST(concat('0x', substr(md5('soft' || CAST(doc_id AS VARCHAR)),
                                     1, 15)) AS BIGINT) % 1000000
            < weight_ppm AS INT) AS kept
FROM ww ORDER BY doc_id
"""


_AUX_SIGS = """
aux_turns AS (SELECT doc_id, gs.t FROM aug, generate_series(0, 2) gs(t)),
aux_tools AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 AND t = 1 THEN 'web_search'
                WHEN doc_id % 5 = 0 AND t = 2 THEN 'calculator' END AS tool
    FROM aux_turns),
aux_sigs AS (
    -- length-prefixed injective encoding, ordered on the PREFIXED
    -- string — must mirror operators/asymmetry.field_signatures
    SELECT doc_id AS conv_id,
           string_agg(DISTINCT (CAST(length(tool) AS VARCHAR) || ':' || tool),
                      '|'
                      ORDER BY (CAST(length(tool) AS VARCHAR) || ':' || tool))
               AS sig
    FROM aux_tools WHERE tool IS NOT NULL GROUP BY doc_id)
"""

ORACLE["asymmetry_guard"] = f"""
WITH {_DOCS_AUG},
g AS (SELECT doc_id, sha256(text) AS sha FROM aug),
reps AS (SELECT sha, min(doc_id) AS rep FROM g GROUP BY sha),
pairs AS (SELECT r.rep AS id_a, g.doc_id AS id_b
          FROM g JOIN reps r USING (sha) WHERE g.doc_id != r.rep),
{_AUX_SIGS}
SELECT p.id_a, p.id_b,
       CASE WHEN (sa.sig IS NOT NULL) != (sb.sig IS NOT NULL)
            THEN 'null_dupe' ELSE 'exact_duplicate' END AS status,
       sa.sig AS sig_a, sb.sig AS sig_b
FROM pairs p
LEFT JOIN aux_sigs sa ON sa.conv_id = p.id_a
LEFT JOIN aux_sigs sb ON sb.conv_id = p.id_b
ORDER BY id_a, id_b
"""

ORACLE["verdict_revision"] = f"""
WITH {_DOCS_AUG},
{_AUX_SIGS},
pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 3),
st AS (SELECT id_a, id_b,
              CASE WHEN id_a % 2 = 0 THEN 'needs_review'
                   ELSE 'likely_duplicate' END AS status_before
       FROM pairs)
SELECT s.id_a, s.id_b, s.status_before,
       CASE WHEN s.status_before = 'needs_review'
                 AND sa.sig IS NOT NULL AND sb.sig IS NOT NULL
                 AND sa.sig = sb.sig
            THEN 'likely_duplicate'
            WHEN s.status_before = 'likely_duplicate'
                 AND sa.sig IS NOT NULL AND sb.sig IS NOT NULL
                 AND sa.sig != sb.sig
            THEN 'needs_review'
            ELSE s.status_before END AS status,
       CAST(sa.sig IS NOT NULL AND sb.sig IS NOT NULL AND sa.sig = sb.sig
            AS INT) AS same_f
FROM st s
LEFT JOIN aux_sigs sa ON sa.conv_id = s.id_a
LEFT JOIN aux_sigs sb ON sb.conv_id = s.id_b
ORDER BY id_a, id_b
"""
