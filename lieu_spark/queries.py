"""Driver-contract queries: one entry per implemented operator family
(SURVEY.md §2), each with a DuckDB oracle twin in oracle_sql.py.

Conventions for exact cross-engine value-hash matching:
- money sums -> bigint cents (doubles summed in different orders differ);
- ratios/similarities -> round(1e6 * x) as bigint (j6/cos6 columns);
- ranks computed on the *rounded* value with explicit id tie-breaks;
- every computed column aliased identically in Spark and SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .config import DedupeConfig
from .functions import analysis as A
from .functions import text as T
from .functions.minhash import with_minhash
from .functions.multimodal import with_binary_payload
from .functions.sampling import corpus_shuffle, mixture_sample, split_assign
from .functions.vectors import cosine_with_norms, dot, norm
from .operators.asof import asof_join
from .operators.boilerplate import remove_boilerplate_turns
from .operators.rangejoin import interval_join
from .operators.cluster import clusters_with_singletons, connected_components
from .operators.exact import exact_star_pairs
from .operators.lsh import band_table, candidate_pairs
from .operators.packing import pack_sequences
from .operators.verify import verify_pairs

CFG = DedupeConfig()
K = CFG.shingle_k


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Per-(session, sf_dir) persisted memo for derived frames shared by many
# driver queries (features, shingle pairs, clusters). The driver harness
# runs all queries() entries in ONE session; without this, every
# dedupe-family query re-derives tokenize/shingle/MinHash/CC from
# scratch — the per-query wall that truncated the r3 correctness
# artifact. Everything memoized is a small bounded table at oracle SFs
# (a few rows per document), and a fresh session (new applicationId)
# never sees a stale entry.
_MEMO: dict[tuple, DataFrame] = {}


def _memo(spark: SparkSession, sf_dir: str, key: str, build) -> DataFrame:
    k = (spark.sparkContext.applicationId, sf_dir, key)
    df = _MEMO.get(k)
    if df is None:
        df = build().persist()
        _MEMO[k] = df
    return df


def cents(col) -> F.Column:
    return F.round(col * 100).cast("long")


# ---------------------------------------------------------------------------
# shared derived datasets
# ---------------------------------------------------------------------------


def docs_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ exact copies (doc_id<25, +100000) ∪ near copies with a
    5-token suffix (25<=doc_id<50, +200000) — planted dupes expressible
    identically in SQL."""
    d = load(spark, sf_dir, "documents")
    exact = d.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    near = d.filter((F.col("doc_id") >= 25) & (F.col("doc_id") < 50)).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz yy xx qq ww")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    return d.select("doc_id", "text", "lang", "source", "n_chars").unionByName(
        exact
    ).unionByName(near)


def typo_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ per-token-typo copies (doc_id < 25, +300000): every
    token with >= 5 chars gets chars 3 and 4 swapped ("receive" ->
    "reecive"). Per-token edits tank shingle Jaccard (every k-window
    containing an edited token differs) while Jaro-Winkler stays ~0.97
    per token — the exact case lieu's Soft-TFIDF tier exists for. The
    edit rule is expressible identically in DuckDB string slicing (the
    affected docs are ASCII, so codepoint vs byte slicing agree).

    Every doc first gets 6 deterministic ENTITY tokens appended
    ("entity000030".."entity000035" for doc 3): the synthetic corpus is
    a ~50-common-word soup in which every doc shares most tokens
    exactly, so no bag-of-tokens metric separates dup pairs from random
    pairs — real transcripts carry distinctive entity mentions (names,
    ids, paths), which is precisely the rare-token mass Soft-TFIDF
    weights. The df=1 entity tokens dominate both sides' L2 norms; a
    typo'd entity still matches its twin at jw~0.978 >= theta, while
    cross-doc entities stay below theta."""
    d = load(spark, sf_dir, "documents")
    ents = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(5)),
            lambda k: F.concat(
                F.lit("entity"),
                F.lpad((F.col("doc_id") * 10 + k).cast("string"), 6, "0"),
            ),
        ),
    )
    d = d.select("doc_id", F.concat_ws(" ", F.col("text"), ents).alias("text"))
    toks = T.tokenize(F.col("text"))
    typo = F.transform(
        toks,
        lambda t: F.when(
            F.length(t) >= 5,
            F.concat(
                t.substr(F.lit(1), F.lit(2)),
                t.substr(F.lit(4), F.lit(1)),
                t.substr(F.lit(3), F.lit(1)),
                t.substr(F.lit(5), F.length(t)),
            ),
        ).otherwise(t),
    )
    typod = d.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.array_join(typo, " ").alias("text"),
    )
    return d.select("doc_id", "text").unionByName(typod)


def doc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """docs_aug as degenerate one-turn conversations -> feature table
    (persisted memo — shared by every dedupe-family driver query)."""

    def build() -> DataFrame:
        d = docs_aug(spark, sf_dir)
        df = d.select(
            F.col("doc_id").alias("conv_id"),
            F.col("text").alias("doc"),
            F.sha2(F.col("text"), 256).alias("text_sha"),
        )
        df = df.withColumn("tokens", T.tokenize(F.col("doc")))
        df = df.withColumn("token_hashes", T.token_hashes(F.col("tokens")))
        return df.withColumn(
            "shingle_hashes", T.shingle_hash_set(F.col("token_hashes"), K)
        )

    return _memo(spark, sf_dir, "doc_features", build)


def spans_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copied spans at span_min_len=40 over doc_features (persisted
    memo — the LCS kernel is the most expensive driver-query stage, and
    both copied_spans and span_scrub consume the same table)."""

    def build() -> DataFrame:
        from .config import DedupeConfig as DC
        from .operators.spans import copied_spans, winnow_span_candidates

        cfg = DC(span_min_len=40)
        feats = doc_features(spark, sf_dir)
        cand = winnow_span_candidates(feats, cfg)
        docs = feats.select("conv_id", "doc")
        pa = docs.select(F.col("conv_id").alias("id_a"), F.col("doc").alias("doc_a"))
        pb = docs.select(F.col("conv_id").alias("id_b"), F.col("doc").alias("doc_b"))
        return copied_spans(cand.join(pa, "id_a").join(pb, "id_b"), cfg)

    return _memo(spark, sf_dir, "copied_spans_df", build)


def feats_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_features + MinHash signatures at the default config
    (persisted memo — shared by the pipeline/match/response/band
    queries, which previously each recomputed the signature pass)."""
    return _memo(
        spark, sf_dir, "feats_minhash",
        lambda: with_minhash(doc_features(spark, sf_dir), CFG),
    )


def transcripts_from_docs(spark: SparkSession, sf_dir: str, chunk: int = 12) -> DataFrame:
    """Deterministic transcripts derived from documents: canonical tokens
    split into ``chunk``-token turns (SQL-expressible twin)."""
    d = load(spark, sf_dir, "documents")
    toks = T.tokenize(F.col("text"))
    n = F.size(toks)
    turns = F.transform(
        F.sequence(F.lit(0), F.ceil(n / F.lit(chunk)).cast("int") - 1),
        lambda i: F.struct(
            i.cast("int").alias("turn_idx"),
            F.concat_ws(" ", F.slice(toks, i * chunk + 1, chunk)).alias("turn_text"),
        ),
    )
    return (
        d.filter(n > 0)
        .select(F.col("doc_id").alias("conv_id"), F.explode(turns).alias("t"))
        .select(
            "conv_id",
            F.col("t.turn_idx").alias("turn_idx"),
            F.col("t.turn_text").alias("turn_text"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H-ish operator parity (SURVEY §2.2-2.7)
# ---------------------------------------------------------------------------


def q_agg_lineitem(spark, sf_dir):
    """A1 count-per-key / partial agg."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.round(F.col("l_quantity")).cast("long")).alias("sum_qty"),
            F.sum(cents(F.col("l_extendedprice"))).alias("sum_price_cents"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_join_enrich(spark, sf_dir):
    """J1/J2 enrich joins: orders -> customer -> nation rollup."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(cents(F.col("o_totalprice"))).alias("sum_price_cents"),
        )
        .orderBy("n_name")
    )


def q_anti_join(spark, sf_dir):
    """J4 anti join: customers with no orders, per nation."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("n_name")
    )


def q_semi_join(spark, sf_dir):
    """Semi join: suppliers with >=1 lineitem shipped in 1995."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1996-01-01")
    )
    s = load(spark, sf_dir, "supplier")
    return (
        s.join(li, s.s_suppkey == li.l_suppkey, "left_semi")
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n_suppliers"))
        .orderBy("s_nationkey")
    )


def q_argmax_per_group(spark, sf_dir):
    """A6/O3 arg-max per group with deterministic tie-break."""
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_nationkey",
            F.col("c_custkey").alias("top_custkey"),
            cents(F.col("c_acctbal")).alias("acctbal_cents"),
        )
        .orderBy("c_nationkey")
    )


def q_topk_orders(spark, sf_dir):
    """O1/O4 global top-k with tie-break."""
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", cents(F.col("o_totalprice")).alias("price_cents"))
    )


def q_rollup_sales(spark, sf_dir):
    """A10 grouping sets: ROLLUP over (returnflag, linestatus) with
    grouping_id — the super-aggregate capability the reference lacks and
    SURVEY §2.4 notes Spark provides for free. Grouped-out columns are
    coalesced to 'ALL' so cross-engine value hashing never sorts NULLs."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("n_rows"),
            F.sum(cents(F.col("l_extendedprice"))).alias("sum_price_cents"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "gid",
            "n_rows",
            "sum_price_cents",
        )
        .orderBy("gid", "returnflag", "linestatus")
    )


def q_cube_sales(spark, sf_dir):
    """A10 grouping sets, CUBE variant: all 2^2 grouping combinations of
    (returnflag, linestatus) — the cross-classified super-aggregate the
    rollup query doesn't produce (it omits the linestatus-only set)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("n_rows"),
            F.sum(cents(F.col("l_extendedprice"))).alias("sum_price_cents"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "gid",
            "n_rows",
            "sum_price_cents",
        )
        .orderBy("gid", "returnflag", "linestatus")
    )


def q_revenue_by_nation(spark, sf_dir):
    """TPC-H Q5-shaped 6-table join: region-filtered revenue per nation
    for one order year. Dims (region, nation) broadcast; fact-fact joins
    (orders-lineitem, customer-orders) shuffle on their keys; the
    supplier-nation co-location predicate (s_nationkey = c_nationkey)
    prunes cross-nation pairs. Revenue in cents, rounded per row."""
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    # range predicate (not year()) so it pushes down to the parquet scan
    # and prunes date partitions at scale — asserted in test_plans.py
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    rev = F.round(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100
    ).cast("long")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter(c.c_nationkey == s.s_nationkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(rev).alias("revenue_cents"),
        )
        .orderBy("n_name")
    )


def q_set_ops(spark, sf_dir):
    """§2.7 set ops: custkeys ordering in 1994 but not in 1995."""
    o = load(spark, sf_dir, "orders")
    y94 = o.filter(F.year("o_orderdate") == 1994).select("o_custkey").distinct()
    y95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey").distinct()
    return y94.exceptAll(y95).agg(F.count("*").alias("n_custkeys"))


def q_window_events(spark, sf_dir):
    """W1-analog stable ordering: per user first/last event type."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.expr("min_by(event_type, struct(ts, event_id))").alias("first_type"),
            F.expr("max_by(event_type, struct(ts, event_id))").alias("last_type"),
        )
        .orderBy("user_id")
    )


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30 min) — batch analog of the streaming
    session window."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet ts is TIMESTAMP_NTZ; ANSI mode forbids a direct long cast —
    # route through ltz (session tz is UTC) for floor-epoch seconds
    epoch = F.col("ts").cast("timestamp_ltz").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    sess = e.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ).withColumn(
        "session_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_sess = sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("sess_events")
    )
    return (
        per_sess.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("sess_events").alias("max_session_events"),
            F.sum("sess_events").alias("n_events"),
        )
        .orderBy("user_id")
    )


def q_id_assignment(spark, sf_dir):
    """S4 parity: stable id assignment — the reference's zipWithIndex
    replaced by a deterministic row_number over a total order."""
    d = load(spark, sf_dir, "documents")
    w = Window.orderBy("doc_id")
    return d.select("doc_id").withColumn(
        "assigned_id", F.row_number().over(w).cast("long")
    ).orderBy("doc_id")


def q_json_extract(spark, sf_dir):
    """S2 parity: JSON parse of the events props payload."""
    e = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("k").alias("sum_k"), F.max("k").alias("max_k"))
        .orderBy("event_type")
    )


def q_term_counts_top(spark, sf_dir):
    """A2/A3/W2 parity: within-doc term counts with ordered positions —
    posexplode + groupBy + deterministic top-3 per doc."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.posexplode(T.tokenize(F.col("text"))).alias("pos", "token"))
    counts = toks.groupBy("doc_id", "token").agg(
        F.count("*").alias("tf"), F.min("pos").alias("first_pos")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("first_pos").asc(), F.col("token").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "rank", "token", "tf", "first_pos")
        .orderBy("doc_id", "rank")
    )


def q_tfidf_top_terms(spark, sf_dir):
    """A9 parity: TF-IDF word index — top term per doc by integer-scaled
    score (log(tf+1)*log(N/df), rank on score6 + token tie-break)."""
    d = load(spark, sf_dir, "documents")
    docs_tokens = d.select("doc_id", T.tokenize(F.col("text")).alias("tokens"))
    # N as a lazy broadcast scalar — no action during plan construction
    n = docs_tokens.agg(F.count("*").cast("double").alias("_n_docs"))
    tf = (
        docs_tokens.select("doc_id", F.explode("tokens").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = (
        docs_tokens.select(
            "doc_id", F.explode(F.array_distinct("tokens")).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").alias("df"))
    )
    scored = tf.join(dfreq, "token").crossJoin(F.broadcast(n)).withColumn(
        "score6",
        F.round(
            F.log(F.col("tf") + F.lit(1.0))
            * F.log(F.col("_n_docs") / F.col("df"))
            * 1e6
        ).cast("long"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score6").desc(), F.col("token").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") == 1)
        .select("doc_id", "token", "tf", "df", "score6")
        .orderBy("doc_id")
    )


def q_multiset_jaccard(spark, sf_dir):
    """F6 parity: the reference's term-frequency-weighted Jaccard
    (lib/lieu/similarity.py:63-79) on the planted near-copy pairs:
    sum(min(c1,c2)) / (sum(c1)+sum(c2)-sum(min))."""
    d = docs_aug(spark, sf_dir)
    tf = (
        d.select("doc_id", F.explode(T.tokenize(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    tot = tf.groupBy("doc_id").agg(F.sum("tf").alias("total"))
    # planted near pairs: (x, x+200000) for 25 <= x < 50
    base = d.filter((F.col("doc_id") >= 25) & (F.col("doc_id") < 50)).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 200000).alias("id_b")
    )
    ta = tf.select(F.col("doc_id").alias("id_a"), "token", F.col("tf").alias("tf_a"))
    tb = tf.select(F.col("doc_id").alias("id_b"), "token", F.col("tf").alias("tf_b"))
    inter = (
        base.join(ta, "id_a")
        .join(tb, ["id_b", "token"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.least("tf_a", "tf_b")).alias("inter_tf"))
    )
    sa = tot.select(F.col("doc_id").alias("id_a"), F.col("total").alias("tot_a"))
    sb = tot.select(F.col("doc_id").alias("id_b"), F.col("total").alias("tot_b"))
    out = inter.join(sa, "id_a").join(sb, "id_b")
    return out.select(
        "id_a",
        "id_b",
        "inter_tf",
        (F.col("tot_a") + F.col("tot_b") - F.col("inter_tf")).alias("denom_tf"),
        F.round(
            F.col("inter_tf").cast("double")
            / (F.col("tot_a") + F.col("tot_b") - F.col("inter_tf")).cast("double")
            * 1e6
        )
        .cast("long")
        .alias("mj6"),
    ).orderBy("id_a")


def q_order_price_quantiles(spark, sf_dir):
    """Distribution analytics: discrete percentiles per group.
    percentile_disc picks an actual element (no interpolation), so the
    result is bit-exact across engines — the continuous variant is one
    ulp-divergence away from a hash mismatch."""
    o = load(spark, sf_dir, "orders")
    return (
        o.withColumn("cents", cents(F.col("o_totalprice")))
        .groupBy("o_orderpriority")
        .agg(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)")
            .cast("long")
            .alias("p50_cents"),
            F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY cents)")
            .cast("long")
            .alias("p90_cents"),
            F.count("*").alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


def q_index_merge_batches(spark, sf_dir):
    """S8 parity (incremental batch-over-batch index merge —
    ``update_doc_frequency``, lib/lieu/spark/tfidf.py:43-45): fold a new
    batch's doc frequencies into an existing index with union + sum, then
    apply the min-count filter (P7, spark/tfidf.py:39-40). Batches are
    the even/odd doc_id halves so the split is engine-independent.
    Tokens restricted to ASCII [a-z0-9]{3,} so cross-engine string
    ordering can't diverge on non-BMP code points."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(T.tokenize(F.col("text")))).alias("token"),
    ).filter(F.col("token").rlike("^[a-z0-9]{3,}$"))
    df_of = lambda part: (
        toks.filter(F.pmod(F.col("doc_id"), F.lit(2)) == part)
        .groupBy("token")
        .agg(F.count("*").alias("df"))
    )
    merged = (
        df_of(0)
        .unionByName(df_of(1))
        .groupBy("token")
        .agg(F.sum("df").alias("df_total"), F.count("*").alias("n_batches"))
    )
    return merged.filter(F.col("df_total") >= 4).orderBy("token")


def q_cluster_size_hist(spark, sf_dir):
    """Cluster-size distribution over the dedupe output — the two-level
    aggregation a training-data pipeline runs to audit dedupe yield
    (how many docs live in groups of what size before canonical-only
    filtering)."""
    clusters = q_dedupe_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count("*").alias("n_clusters"),
            (F.sum("cluster_size")).alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


def q_above_avg_orders(spark, sf_dir):
    """Correlated-aggregate pattern (TPC-H Q17 shape), decorrelated the
    way Catalyst plans it: per-customer aggregate joined back to the fact
    table. Predicate kept in exact integer math (2*cents*n > 3*sum) so
    no engine-specific float average can diverge."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", cents(F.col("o_totalprice")).alias("order_cents")
    )
    per_cust = o.groupBy("o_custkey").agg(
        F.sum("order_cents").alias("sum_cents"), F.count("*").alias("n_ord")
    )
    flagged = o.join(per_cust, "o_custkey").filter(
        2 * F.col("order_cents") * F.col("n_ord") > 3 * F.col("sum_cents")
    )
    c = load(spark, sf_dir, "customer")
    return (
        flagged.join(c, flagged.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_above"),
            F.sum("order_cents").alias("sum_above_cents"),
        )
        .orderBy("c_nationkey")
    )


def q_conditional_agg_shipmodes(spark, sf_dir):
    """TPC-H Q12 shape — conditional aggregation (SUM(CASE WHEN ...)):
    per return flag, 1995-shipped line counts split by order priority.
    The map-side-combinable way to pivot small category sets without a
    pivot shuffle. Integer predicate on cents avoids float compares."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1996-01-01")
    )
    o = load(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~urgent, 1).otherwise(0)).alias("low_line_count"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("l_returnflag")
    )


def q_ntile_price_deciles(spark, sf_dir):
    """ntile window: global price deciles with a unique total order
    (cents, orderkey) so bucket boundaries are engine-exact. A global
    ntile needs a single-partition sort — fine for a bounded stats table;
    at 100 TB the scale path is percentile_disc cutpoints (see
    order_price_quantiles) or approx_percentile, never a global window."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", cents(F.col("o_totalprice")).alias("order_cents")
    )
    w = Window.orderBy(F.col("order_cents").asc(), F.col("o_orderkey").asc())
    return (
        o.withColumn("decile", F.ntile(10).over(w).cast("long"))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("order_cents").alias("sum_cents"),
            F.min("order_cents").alias("min_cents"),
            F.max("order_cents").alias("max_cents"),
        )
        .orderBy("decile")
    )


def q_weighted_jaccard(spark, sf_dir):
    """F4/F5 analog upgraded from "superseded": IDF-weighted Jaccard on
    the planted pairs — shared rare tokens count more than shared
    boilerplate, the reference's soft-TFIDF intent
    (lib/lieu/similarity.py:14-60) with engine-reproducible integer
    weights. Exact copies score wj6 = 1e6 exactly."""
    from .functions.weighting import idf_weights, weighted_jaccard_for_pairs

    d = docs_aug(spark, sf_dir)
    docs_tokens = d.select("doc_id", T.tokenize(F.col("text")).alias("tokens"))
    weights = idf_weights(docs_tokens)
    base = load(spark, sf_dir, "documents")
    exact = base.filter(F.col("doc_id") < 25).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 100000).alias("id_b")
    )
    near = base.filter((F.col("doc_id") >= 25) & (F.col("doc_id") < 50)).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 200000).alias("id_b")
    )
    pairs = exact.unionByName(near)
    return weighted_jaccard_for_pairs(pairs, docs_tokens, weights).orderBy("id_a")


def q_bucketed_weighted_jaccard(spark, sf_dir):
    """Bucketed word index + blended verifier — the transcript analog of
    the reference's per-geo statistics: (lang, source) cells with sparse
    cells alias-merged into the densest same-lang sibling
    (lib/lieu/spark/geo_word_index.py:18-26), per-bucket IDF, and a
    bucket-heavy blend 0.6*bucket + 0.4*global
    (lib/lieu/spark/dedupe.py:118-161) in integer tenths. Planted pairs
    as in weighted_jaccard; DuckDB-matched end to end."""
    from .functions.weighting import blended_weighted_jaccard

    d = docs_aug(spark, sf_dir)
    docs_tokens = d.select("doc_id", T.tokenize(F.col("text")).alias("tokens"))
    base = load(spark, sf_dir, "documents")
    exact = base.filter(F.col("doc_id") < 25).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 100000).alias("id_b")
    )
    near = base.filter((F.col("doc_id") >= 25) & (F.col("doc_id") < 50)).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 200000).alias("id_b")
    )
    pairs = exact.unionByName(near)
    return blended_weighted_jaccard(
        pairs, d, docs_tokens, min_docs=5
    ).orderBy("id_a")


def q_soft_tfidf_pairs(spark, sf_dir):
    """F4/F5 closed: lieu's token-edit-tolerant Soft-TFIDF verifier
    (/root/reference/lib/lieu/similarity.py:14-60) over planted
    per-token-typo pairs — the case the set-based shingle tier
    misclassifies (shingle_j6 ~ 0) and Soft-TFIDF catches (soft6 high).

    Fully DuckDB-oracle-checked INCLUDING the Jaro-Winkler kernel:
    functions/softtfidf.py matches DuckDB's jaro_winkler_similarity
    bit-for-bit at sim6 quantization (byte-level matching, boost iff
    jaro > 0.7, floored half-transpositions — all probed)."""
    from .functions.softtfidf import soft_tfidf_for_pairs

    d = typo_aug(spark, sf_dir)
    docs_tokens = d.select("doc_id", T.tokenize(F.col("text")).alias("tokens"))
    base = load(spark, sf_dir, "documents")
    pairs = base.filter(F.col("doc_id") < 25).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 300000).alias("id_b")
    )
    # theta/cap come from the SAME DedupeConfig the oracle SQL
    # interpolates (oracle_sql.py reads _CFG.soft_theta6 /
    # soft_max_tokens) — a config change moves both sides together
    from .config import DEFAULT_CONFIG as _DC

    soft = soft_tfidf_for_pairs(
        pairs, docs_tokens,
        theta6=_DC.soft_theta6, max_tokens=_DC.soft_max_tokens,
    )
    # the shingle-tier verdict on the same pairs, as the contrast column
    f = d.withColumn("tokens", T.tokenize(F.col("text")))
    f = f.withColumn("th", T.token_hashes(F.col("tokens")))
    f = f.withColumn("sh", T.shingle_hash_set(F.col("th"), K))
    sa = f.select(
        F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"),
        F.size("sh").alias("na"),
    )
    sb = f.select(
        F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"),
        F.size("sh").alias("nb"),
    )
    shj = pairs.join(sa, "id_a").join(sb, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    uni = F.col("na") + F.col("nb") - inter
    shj = shj.select(
        "id_a",
        "id_b",
        F.when(
            uni > 0, F.round(inter.cast("double") / uni.cast("double") * 1e6)
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("shingle_j6"),
    )
    return soft.join(shj, ["id_a", "id_b"]).orderBy("id_a")


# no-space-script synth: 37 CJK chars covering [a-z0-9 ] under translate()
CJK37 = "零一二三四五六七八九十百千万億兆京垓壱弐参肆伍陸漆捌玖拾佰仟萬田中山川木水"
LATIN37 = "abcdefghijklmnopqrstuvwxyz0123456789 "


def cjk_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsegmented-CJK synth corpus: canonical latin docs (doc_id < 25)
    translated char-for-char into a CJK stream (space maps to a CJK char
    too, so the whole doc is ONE token under the word tokenizer), plus
    near-dup copies (+400000) with a 2-char suffix appended. Both
    engines express translate() identically."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 25)
    cjk = F.translate(T.canonicalize(F.col("text")), LATIN37, CJK37)
    base = d.select("doc_id", cjk.alias("text"))
    near = base.select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        F.concat(F.col("text"), F.lit("馬鹿")).alias("text"),
    )
    return base.unionByName(near)


def q_cjk_neardup_pairs(spark, sf_dir):
    """No-space-script near-dup detection (the libpostal-tokenizer gap,
    /root/reference/lib/lieu/dedupe.py:328-331): on unsegmented CJK the
    word tokenizer yields ONE token, so the word-shingle tier
    degenerates to exact match (token_j6 = 0 on every planted near-dup)
    while the char-k-gram fallback tier separates them (char_j6 high).
    Both tiers DuckDB-oracle-checked via string grams."""
    d = cjk_aug(spark, sf_dir)
    f = d.withColumn("tokens", T.tokenize(F.col("text")))
    f = f.withColumn("th", T.token_hashes(F.col("tokens")))
    f = f.withColumn("tok_sh", T.shingle_hash_set(F.col("th"), K))
    f = f.withColumn("cns", T.canon_nospace(F.col("text")))
    f = f.withColumn("chr_sh", T.char_kgram_hash_set(F.col("cns"), CFG.char_kgram_k))
    base = load(spark, sf_dir, "documents")
    pairs = base.filter(F.col("doc_id") < 25).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 400000).alias("id_b")
    )
    sa = f.select(
        F.col("doc_id").alias("id_a"),
        F.col("tok_sh").alias("tok_a"), F.col("chr_sh").alias("chr_a"),
    )
    sb = f.select(
        F.col("doc_id").alias("id_b"),
        F.col("tok_sh").alias("tok_b"), F.col("chr_sh").alias("chr_b"),
    )
    j = pairs.join(sa, "id_a").join(sb, "id_b")

    def j6(a, b):
        inter = F.size(F.array_intersect(a, b))
        uni = F.size(a) + F.size(b) - inter
        return (
            F.when(uni > 0, F.round(inter.cast("double") / uni.cast("double") * 1e6))
            .otherwise(F.lit(0))
            .cast("long")
        )

    return j.select(
        "id_a",
        "id_b",
        F.size("chr_a").alias("n_grams_a"),
        F.size("chr_b").alias("n_grams_b"),
        j6(F.col("chr_a"), F.col("chr_b")).alias("char_j6"),
        j6(F.col("tok_a"), F.col("tok_b")).alias("token_j6"),
    ).orderBy("id_a")


# ---------------------------------------------------------------------------
# text analysis (F-functions / training-data ops)
# ---------------------------------------------------------------------------


def q_doc_tokens(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        A.ws_token_count(F.col("text")).alias("ws_tokens"),
        A.bpe_token_count(F.col("text")).alias("bpe_tokens"),
    ).orderBy("doc_id")


def q_doc_quality(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    q = A.quality_columns(F.col("text"))
    return d.select(
        "doc_id",
        q["n_chars"].alias("n_chars_m"),
        q["n_tokens"].alias("n_tokens"),
        q["alpha_ratio6"].alias("alpha_ratio6"),
        q["punct_ratio6"].alias("punct_ratio6"),
        q["stopword_ratio6"].alias("stopword_ratio6"),
        q["mean_token_len6"].alias("mean_token_len6"),
    ).orderBy("doc_id")


def q_doc_langid(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", A.lang_guess(F.col("text")).alias("lang_guess")).orderBy(
        "doc_id"
    )


def q_ref_code_blocking(spark, sf_dir):
    """F15 closed: the reference normalizes US zips 'NNNNN-NNNN' to the
    5-digit prefix before using them as blocking keys
    (/root/reference/lib/lieu/dedupe.py:76-78,240-246 us_zip5_pattern /
    use_zip5). Transcript analog: structured ref-codes are normalized
    with regexp_extract to their stable prefix and grouped into blocking
    cells. Codes are synthesized deterministically from doc_id (the
    corpus carries no structured IDs) so both engines build the same
    input SQL-expressibly; doc_id mod 200 gives ~2-3 docs per cell at
    sf0.01 — non-vacuous groups."""
    d = load(spark, sf_dir, "documents")
    coded = d.select(
        "doc_id",
        F.format_string(
            "REF-%05d-%04d", (F.col("doc_id") % 200).cast("int"),
            (F.col("doc_id") % 10000).cast("int"),
        ).alias("code"),
    )
    normed = coded.select(
        "doc_id",
        F.regexp_extract(F.col("code"), r"^REF-([0-9]{5})-?([0-9]{4})$", 1).alias(
            "block_key"
        ),
    )
    return (
        normed.groupBy("block_key")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("rep_id"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("block_key")
    )


def q_doc_fingerprint(spark, sf_dir):
    # rows-only check (xxhash64 not reproducible in DuckDB); pytest
    # verifies against the pure-python oracle instead
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id", A.doc_fingerprint(F.col("text")).alias("fingerprint")
    ).orderBy("doc_id")


def q_audio_meta(spark, sf_dir):
    """REAL audio decode over a deterministic WAV fixture
    (functions/audio.synthetic_audio_payloads): every doc gets a genuine
    RIFF/PCM payload whose rate/channels/frames — and the xor-checksum
    of every decoded 16-bit sample — are pure integer functions of
    doc_id, so the DuckDB oracle re-derives the FULL decode (header walk
    AND pcm samples) from arithmetic alone; no export channel needed."""
    from .functions.audio import decode_audio_meta, synthetic_audio_payloads

    d = load(spark, sf_dir, "documents").select("doc_id")
    return decode_audio_meta(synthetic_audio_payloads(d)).orderBy("doc_id")


def q_video_meta(spark, sf_dir):
    """REAL video decode over a deterministic AVI/MJPEG fixture
    (functions/video.synthetic_video_payloads): every doc gets a genuine
    RIFF/AVI container of solid-color baseline-JPEG frames whose
    dims/count/rate — and the decoded pixel value of every frame — are
    pure integer functions of (doc_id, frame_idx). Solid 8x8-aligned
    frames roundtrip EXACTLY through the q100 JPEG path, so the DuckDB
    oracle re-derives the container walk AND the full per-frame entropy
    decode from arithmetic alone; no export channel."""
    from .functions.video import decode_video_meta, synthetic_video_payloads

    # the documents table is one file split at oracle scale: spread the
    # pure-python encode + decode over the cores instead of one task
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return decode_video_meta(synthetic_video_payloads(d)).orderBy("doc_id")


def q_lm_quality(spark, sf_dir):
    """Model-based quality scoring: corpus-trained Laplace-smoothed
    bigram LM, per-doc mean bigram log-likelihood (integer-scaled).
    DuckDB re-derives the whole chain — bigram/context counts, vocab
    size, ln scores, the per-doc average — from the raw text."""
    from .functions.analysis import bigram_lm_scores

    d = load(spark, sf_dir, "documents")
    return bigram_lm_scores(d).orderBy("doc_id")


def q_group_cap(spark, sf_dir):
    """Exact deterministic per-group cap (the domain-cap step of
    web-scale curation): keep at most 70 docs per lang under the stable
    (md5 bucket, doc_id) order. lang is skewed at sf0.01 (en=218,
    de=70 exactly at cap, fr=64 under), so one query exercises the
    over-cap boundary ranking, the exact-fit group, and the
    pass-through-whole group. DuckDB re-derives every kept row with a
    plain per-group row_number over the same portable order."""
    from .functions.sampling import cap_per_group

    d = load(spark, sf_dir, "documents")
    return cap_per_group(
        d.select("doc_id", "lang"), "lang", "doc_id", cap=70, salt="cap"
    ).orderBy("doc_id")


def q_global_cap(spark, sf_dir):
    """Exact deterministic k-of-corpus sample (the "exactly 10k eval
    docs" contract): global_cap is cap_per_group with one constant
    group, so only the boundary md5 bucket is ever id-ranked — no
    global sort at any scale. k=150 < 500 docs at sf0.01 exercises the
    boundary bucket; DuckDB re-derives every kept row with one plain
    row_number over the same portable (md5 bucket, doc_id) order."""
    from .functions.sampling import global_cap

    d = load(spark, sf_dir, "documents")
    return global_cap(
        d.select("doc_id", "lang"), "doc_id", k=150, salt="gcap"
    ).orderBy("doc_id")


def q_token_budget_select(spark, sf_dir):
    """Exact deterministic best-first selection under a token budget
    (the "keep the highest-quality docs until T training tokens" step of
    corpus assembly): order by (quality_score6 DESC, md5 bucket, doc_id)
    and keep the maximal prefix whose cumulative whitespace-token count
    stays <= 12000 (~44% of the sf0.01 corpus, so the boundary score
    class and its boundary bucket are both exercised). No global sort at
    any scale — the boundary is located twice at aggregate level
    (functions/sampling.token_budget_select, the weighted cap_per_group
    recipe). DuckDB re-derives every kept row with one plain window
    cumsum over the same portable total order."""
    from .functions.sampling import token_budget_select

    d = load(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        A.quality_score6(F.col("text")).alias("quality6"),
        A.ws_token_count(F.col("text")).alias("n_tokens"),
    )
    return token_budget_select(
        scored, "doc_id", "quality6", "n_tokens", budget=12000, salt="tb"
    ).orderBy("doc_id")


def q_chunk_documents(spark, sf_dir):
    """Sliding-window chunking of over-length docs into 32-token
    training windows with 8-token overlap (HF return_overflowing_tokens
    convention; operators/chunking.py) — the step that runs BEFORE
    pack_sequences so no document exceeds the model context. Docs at
    sf0.01 span 1-99 tokens, so the query exercises single-chunk docs,
    multi-chunk docs (up to 4 windows), and short final windows. Pure
    Catalyst: staged tokenize + one narrow explode, no shuffle; DuckDB
    re-derives every chunk boundary and window text from the shared
    tokenizer twin with generate_series + list slicing."""
    from .operators.chunking import chunk_documents

    d = load(spark, sf_dir, "documents")
    return chunk_documents(
        d.select("doc_id", "text"), max_tokens=32, overlap=8
    ).orderBy("doc_id", "chunk_idx")


def q_temperature_mixture(spark, sf_dir):
    """Temperature-based mixture sampling (mC4/XLM-R alpha-temperature
    recipe) over documents.lang at alpha=0.5, target 40% of the corpus:
    keep-rates are derived FROM the corpus (p_g^0.5 renormalized) with
    no driver-side rate dict — counts, quantized sqrt weights, integer
    normalizer, and thresholds all inside the plan (lazy broadcast
    1-row agg for the totals). en is downsampled below 0.4, the rarer
    langs above it (sf0.01: en 218 / zh 75 / es 73 / de 70 / fr 64), so
    the reweighting is visible in the kept counts. sqrt is IEEE
    correctly-rounded, so the quantized weights — and every membership
    — are bit-identical in DuckDB."""
    from .functions.sampling import temperature_sample

    d = load(spark, sf_dir, "documents")
    return temperature_sample(
        d.select("doc_id", "lang"), "lang", "doc_id",
        alpha=0.5, target_frac=0.4, salt="temp",
    ).orderBy("doc_id")


def q_ccnet_buckets(spark, sf_dir):
    """CCNet's head/middle/tail split (Wenzek et al. 2020 §4.3): docs
    bucketed into perplexity terciles of the corpus-trained bigram LM
    score — downstream pipelines keep 'head', sample 'middle', drop
    'tail'. Exact ntile(3) over (lm_score6 DESC, doc_id) here so the
    DuckDB twin is value-exact; at 100 TB the scale path is two
    percentile cutpoints from approx_percentile + a stateless filter
    (same documented trade as ntile_price_deciles — the exact global
    window is the ORACLE shape, not the production shape). Scoreless
    docs (< 2 tokens, no bigrams) drop out, mirroring the LM."""
    from pyspark.sql import Window

    from .functions.analysis import bigram_lm_scores

    d = load(spark, sf_dir, "documents")
    s = bigram_lm_scores(d).select("doc_id", "lm_score6")
    w = Window.orderBy(F.desc("lm_score6"), F.asc("doc_id"))
    return (
        s.withColumn("t", F.ntile(3).over(w))
        .select(
            "doc_id",
            "lm_score6",
            F.when(F.col("t") == 1, "head")
            .when(F.col("t") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .orderBy("doc_id")
    )


def lined_docs(spark, sf_dir, words_per_line: int = 12, footer_mod: int = 7):
    """documents reshaped into a (doc_id, lines) view: the raw
    space-separated text chunked into 12-word lines, then one BLANK
    separator line (every doc shares it — exercises the blank-line
    dedup exemption), then one shared footer line ``footer boilerplate
    <doc_id % 7>`` — ~1/7 of the corpus shares each footer, so line
    dedup must keep exactly the first occurrence and drop the rest
    while every blank separator survives. Both engines derive the
    identical lines from the raw text (no export channel needed)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    d = d.withColumn("__words", F.split(F.col("text"), " "))
    d = d.withColumn(
        "__nl", F.ceil(F.size("__words") / F.lit(words_per_line)).cast("int")
    )
    body = F.transform(
        F.sequence(F.lit(0), F.col("__nl") - 1),
        lambda i: F.array_join(
            F.slice(F.col("__words"), i * words_per_line + 1, words_per_line), " "
        ),
    )
    footer = F.concat(
        F.lit("footer boilerplate "),
        (F.col("doc_id") % footer_mod).cast("string"),
    )
    return d.select(
        "doc_id", F.concat(body, F.array(F.lit(""), footer)).alias("lines")
    )


def q_line_dedup(spark, sf_dir):
    """C4/RefinedWeb-style corpus-wide line dedup, first occurrence kept
    (operators/linededup.py): repeated lines (the planted shared footers
    plus any natural chunk collisions) survive only at their first
    (doc_id, line_idx). Output is per-doc (n_lines, n_kept, kept_sha) —
    the sha256 of the kept text is an exact order-sensitive witness, so
    the DuckDB twin re-derives the whole chain: chunking, first-
    occurrence ranking, and reassembly."""
    from .operators.linededup import dedupe_lines, explode_lines

    lined = explode_lines(lined_docs(spark, sf_dir))
    return dedupe_lines(lined).orderBy("doc_id")


def q_normalized_exact_dup(spark, sf_dir):
    """Normalize-then-exact-hash dedupe tier (functions/text.py
    normalize_template): docs differing only in case / digits /
    whitespace hash identically. Fixture: every doc_id % 3 == 0 gains a
    byte-distinct variant (+100000) prefixed with a doc-dependent
    counter and upper-cased — normalization-identical to its source.
    Groups of size > 1 are reported with the full sorted member list so
    the oracle verifies every assignment, not just the counts."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    var = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(
            ((F.col("doc_id") * 7919) % 97).cast("string"),
            F.lit(" "),
            F.upper(F.col("text")),
        ).alias("text"),
    )
    aug = d.unionByName(var)
    return (
        aug.withColumn("norm_key", F.md5(T.normalize_template(F.col("text"))))
        .groupBy("norm_key")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
            ).alias("members"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("norm_key")
    )


def q_top_ngrams(spark, sf_dir):
    """Corpus-wide top-25 token trigrams with term and doc frequency —
    the n-gram-level boilerplate screen (Gopher's 'most common n-gram'
    signals). Pure Catalyst: staged token array, sequence+transform
    trigram build, one explode, one map-side-combinable agg; the
    (tf desc, ngram) total order makes the top-25 cut deterministic in
    both engines."""
    d = load(spark, sf_dir, "documents").withColumn(
        "__toks", T.tokenize(F.col("text"))
    )
    d = d.filter(F.size("__toks") >= 3)
    tri = F.transform(
        F.sequence(F.lit(1), F.size("__toks") - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(F.col("__toks"), i),
            F.element_at(F.col("__toks"), i + 1),
            F.element_at(F.col("__toks"), i + 2),
        ),
    )
    occ = d.select("doc_id", F.explode(tri).alias("ngram"))
    return (
        occ.groupBy("ngram")
        .agg(
            F.count("*").cast("long").alias("tf"),
            F.countDistinct("doc_id").cast("long").alias("df"),
        )
        .orderBy(F.col("tf").desc(), F.col("ngram"))
        .limit(25)
    )


def q_gopher_rules(spark, sf_dir):
    """Gopher-style composite rule filter (functions/analysis.py
    gopher_rules). The natural corpus exercises the token-count floor
    and the stopword floor both ways; the alphabetic-word floor and the
    mean-length band cannot fail on an all-latin word soup, so two
    planted variants (doc_id < 10) cover them: a digit-soup copy
    (+100000, every letter -> '9': alpha ratio 0) and a de-spaced copy
    (+200000, one giant token: mean length far above the band). Every
    rule therefore rejects at least one doc and passes others."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    small = d.filter(F.col("doc_id") < 10)
    digit_soup = small.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace(F.col("text"), "[a-z]", "9").alias("text"),
    )
    despaced = small.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.regexp_replace(F.col("text"), " ", "").alias("text"),
    )
    aug = d.unionByName(digit_soup).unionByName(despaced)
    return A.gopher_rules(aug).orderBy("doc_id")


def q_binary_meta(spark, sf_dir):
    d = with_binary_payload(load(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.length(F.col("payload")).cast("long").alias("n_bytes"),
        F.col("payload_sha").alias("payload_sha"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# document dedupe (exact / n-gram Jaccard / clusters / pipeline)
# ---------------------------------------------------------------------------


def q_exact_dup_groups(spark, sf_dir):
    d = docs_aug(spark, sf_dir).withColumn("text_sha", F.sha2(F.col("text"), 256))
    return (
        d.groupBy("text_sha")
        .agg(F.count("*").alias("group_size"), F.min("doc_id").alias("rep_id"))
        .filter(F.col("group_size") > 1)
        .orderBy("rep_id")
    )


def q_exact_dup_pairs(spark, sf_dir):
    d = docs_aug(spark, sf_dir).select(
        F.col("doc_id").alias("conv_id"), F.sha2(F.col("text"), 256).alias("text_sha")
    )
    return exact_star_pairs(d).orderBy("id_a", "id_b")


def _shingle_pairs(spark, sf_dir):
    """Relational n-gram Jaccard: explode distinct shingles, self-join.
    Returns every co-shingling pair with integer (inter, uni) counts —
    thresholds are applied by callers with exact integer predicates.
    Persisted memo: the pair table is shared by the jaccard/cluster/
    split-family queries."""
    return _memo(spark, sf_dir, "shingle_pairs", lambda: _shingle_pairs_build(spark, sf_dir))


def _shingle_pairs_build(spark, sf_dir):
    feats = doc_features(spark, sf_dir).select(
        "conv_id", "shingle_hashes", F.size("shingle_hashes").alias("n_sh")
    )
    ex = feats.select(
        F.col("conv_id"), F.col("n_sh"), F.explode("shingle_hashes").alias("h")
    )
    l = ex.select(
        F.col("conv_id").alias("id_a"), F.col("n_sh").alias("na"), "h"
    )
    r = ex.select(
        F.col("conv_id").alias("id_b"), F.col("n_sh").alias("nb"), "h"
    )
    inter = (
        l.join(r, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count("*").alias("inter"))
    )
    out = inter.withColumn("uni", F.col("na") + F.col("nb") - F.col("inter"))
    # j6 expression shape must match the SQL oracle exactly: (i/u)*1e6
    out = out.withColumn(
        "j6",
        F.round(
            F.col("inter").cast("double") / F.col("uni").cast("double") * 1e6
        ).cast("long"),
    )
    return out.select("id_a", "id_b", "inter", "uni", "j6")


def q_ngram_jaccard_pairs(spark, sf_dir):
    p = _shingle_pairs(spark, sf_dir)
    return p.filter(2 * F.col("inter") >= F.col("uni")).orderBy("id_a", "id_b")


def q_dedupe_pairs_pipeline(spark, sf_dir):
    """Flagship cross-check: the full MinHash/LSH pipeline's verified
    duplicate pairs must equal the SQL brute-force Jaccard >= 0.9 pairs
    (LSH miss probability at J>=0.9 is ~1e-15 with b=32, r=4)."""
    feats = feats_minhash(spark, sf_dir)
    bands = band_table(feats, CFG)
    cand = candidate_pairs(bands, CFG, distinct=False).unionByName(
        exact_star_pairs(feats.select("conv_id", "text_sha"))
    ).dropDuplicates(["id_a", "id_b"])
    v = verify_pairs(cand, feats, CFG)
    dupes = v.filter(F.col("status").isin("exact_duplicate", "likely_duplicate"))
    return dupes.select(
        "id_a",
        "id_b",
        F.round(F.col("jaccard") * 1e6).cast("long").alias("j6"),
        F.col("is_exact").cast("int").alias("is_exact_i"),
    ).orderBy("id_a", "id_b")


def q_dedupe_clusters(spark, sf_dir):
    """Connected components over J>=0.9 ∪ exact pairs, with singletons.
    Persisted memo: CC runs driver-side convergence actions, and three
    other queries (size hist, representatives, leakage splits) reuse the
    cluster map — without the memo each re-ran the whole contraction."""

    def build():
        pairs = (
            _shingle_pairs(spark, sf_dir)
            .filter(10 * F.col("inter") >= 9 * F.col("uni"))
            .select("id_a", "id_b")
        )
        exact = q_exact_dup_pairs(spark, sf_dir).select("id_a", "id_b")
        comp = connected_components(
            pairs.unionByName(exact).dropDuplicates(["id_a", "id_b"])
        )
        all_ids = docs_aug(spark, sf_dir).select(F.col("doc_id").alias("conv_id"))
        return clusters_with_singletons(all_ids, comp).select(
            F.col("conv_id").alias("doc_id"), "cluster_id"
        )

    return _memo(spark, sf_dir, "dedupe_clusters", build).orderBy("doc_id")


def q_match_pairs(spark, sf_dir):
    """J7 parity (AddressDeduperSpark.match, spark/dedupe.py:24-48):
    dedupe an incoming set against a canonical set. Canonical = the base
    documents; incoming = the planted exact/near copies. Output = pairs
    verified likely-or-exact, which the SQL brute force reproduces."""
    feats = feats_minhash(spark, sf_dir)
    canon = feats.filter(F.col("conv_id") < 100000)
    inc = feats.filter(F.col("conv_id") >= 100000)
    from .operators.lsh import match_pairs as mp

    cand = mp(band_table(canon, CFG), band_table(inc, CFG), CFG).select(
        F.col("canonical_id").alias("id_a"), F.col("incoming_id").alias("id_b")
    )
    # exact path across sets: same sha star restricted to cross pairs
    exact_cross = (
        canon.select(F.col("conv_id").alias("id_a"), "text_sha")
        .join(inc.select(F.col("conv_id").alias("id_b"), "text_sha"), "text_sha")
        .select("id_a", "id_b")
    )
    v = verify_pairs(
        cand.unionByName(exact_cross).dropDuplicates(["id_a", "id_b"]), feats, CFG
    )
    dupes = v.filter(F.col("status").isin("exact_duplicate", "likely_duplicate"))
    return dupes.select(
        "id_a",
        "id_b",
        F.round(F.col("jaccard") * 1e6).cast("long").alias("j6"),
        F.col("is_exact").cast("int").alias("is_exact_i"),
    ).orderBy("id_a", "id_b")


def q_contamination_pairs(spark, sf_dir):
    """Decontamination sweep — the training-data op LLM pipelines run
    before every release: which TRAINING documents contain n-gram
    material from the EVAL set (here: doc_id < 50 stands in for the
    benchmark suite). Metric is CONTAINMENT (shared / eval shingles),
    not Jaccard — a 100-word benchmark fully embedded in a 10k-word doc
    must score 1.0, which symmetric Jaccard would dilute to ~0.01.
    Scale shape: explode distinct shingles on both sides, equi-join on
    the shingle hash (never a cross join), count per pair."""
    d = load(spark, sf_dir, "documents")
    feats = d.select("doc_id", T.tokenize(F.col("text")).alias("tokens"))
    feats = feats.withColumn("th", T.token_hashes(F.col("tokens")))
    feats = feats.select(
        "doc_id", T.shingle_hash_set(F.col("th"), K).alias("sh")
    )
    ev = feats.filter(F.col("doc_id") < 50).select(
        F.col("doc_id").alias("eval_id"),
        F.size("sh").alias("eval_sh"),
        F.explode("sh").alias("h"),
    )
    tr = feats.filter(F.col("doc_id") >= 50).select(
        F.col("doc_id").alias("train_id"), F.explode("sh").alias("h")
    )
    hits = (
        ev.join(tr, "h")
        .groupBy("eval_id", "train_id", "eval_sh")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= 3)
    )
    return hits.select(
        "eval_id",
        "train_id",
        "shared",
        "eval_sh",
        F.round(
            F.col("shared").cast("double") / F.col("eval_sh").cast("double") * 1e6
        ).cast("long").alias("containment6"),
    ).orderBy("eval_id", "train_id")


def q_response_pairs_ranked(spark, sf_dir):
    """DedupeResponse parity (lieu api.py:48-144) + W3 reverse-similarity
    ordering (api.py:142-143): per doc, its same_as neighbor list built
    by operators/response.dedupe_responses, flattened with rank
    (similarity desc, other_id asc) and the neighbor's canonical flag."""
    from .operators.cluster import clusters_with_singletons as cws
    from .operators.cluster import connected_components as cc
    from .operators.response import dedupe_responses
    from .operators.verify import dupe_pairs

    feats = feats_minhash(spark, sf_dir)
    bands = band_table(feats, CFG)
    cand = candidate_pairs(bands, CFG, distinct=False).unionByName(
        exact_star_pairs(feats.select("conv_id", "text_sha"))
    ).dropDuplicates(["id_a", "id_b"])
    v = verify_pairs(cand, feats, CFG)
    all_ids = feats.select("conv_id")
    clusters = cws(all_ids, cc(dupe_pairs(v)))
    resp = dedupe_responses(all_ids, v, clusters)
    flat = resp.select(
        "conv_id", F.posexplode("same_as").alias("rank0", "e")
    )
    return flat.select(
        F.col("conv_id").alias("doc_id"),
        (F.col("rank0") + 1).cast("long").alias("rank"),
        F.col("e.other_id").alias("other_id"),
        F.col("e.classification").alias("classification"),
        F.round(F.col("e.similarity") * 1e6).cast("long").alias("sim6"),
        F.col("e.is_canonical").cast("int").alias("other_canonical_i"),
    ).orderBy("doc_id", "rank")


def q_transcript_roundtrip(spark, sf_dir):
    """W1 stable-ordering assembly: chunked transcripts reassemble to the
    canonical document text (per-turn text equality invariant)."""
    t = transcripts_from_docs(spark, sf_dir)
    assembled = (
        t.groupBy("conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.array_sort(
                F.collect_list(F.struct(F.col("turn_idx"), F.col("turn_text")))
            ).alias("turns"),
        )
        .withColumn(
            "doc",
            F.concat_ws(" ", F.transform(F.col("turns"), lambda s: s["turn_text"])),
        )
    )
    return assembled.select(
        F.col("conv_id").alias("doc_id"),
        "n_turns",
        F.sha2(F.col("doc"), 256).alias("reassembled_sha"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# embeddings / ANN
# ---------------------------------------------------------------------------


# Hard bound on the brute-force cosine twin: these two queries exist as
# EXACTNESS ORACLES for the LSH/IVF scale paths, and a cartesian product
# must never silently become the production plan at a larger corpus.
# 1000 covers every vector at the driver's sf0.01 gate (500 ids) while
# capping the pair explosion at 1000^2 anywhere else; the scale-safe
# value-verified entries are ann_lsh_topk / embedding_neardup_lsh.
BRUTE_ANN_CAP = 1000


def emb_aug(spark, sf_dir) -> DataFrame:
    """embeddings (bounded) ∪ exact copies (vec_id<25, +100000) — the
    vector analog of docs_aug: the synthetic embeddings have no natural
    near-dups (max background cosine ~0.51 at sf0.01), so the neardup
    queries plant 25 cos=1.0 pairs, SQL-expressible identically, to keep
    their oracle check non-vacuous."""
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < BRUTE_ANN_CAP)
    copies = e.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    return e.select("vec_id", "embedding").unionByName(copies)


def _cosine_pairs(spark, sf_dir, aug: bool = False):
    if aug:
        e = emb_aug(spark, sf_dir).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        )
    else:
        e = load(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") < BRUTE_ANN_CAP
        ).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        )
    e = e.withColumn("nrm", norm(F.col("vec")))
    a = e.select(
        F.col("id").alias("id_a"), F.col("vec").alias("vec_a"), F.col("nrm").alias("nrm_a")
    )
    b = e.select(
        F.col("id").alias("id_b"), F.col("vec").alias("vec_b"), F.col("nrm").alias("nrm_b")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") != F.col("id_b"))
        .withColumn(
            "cos6",
            F.round(
                cosine_with_norms(
                    dot(F.col("vec_a"), F.col("vec_b")), F.col("nrm_a"), F.col("nrm_b")
                )
                * 1e6
            ).cast("long"),
        )
        .select("id_a", "id_b", "cos6")
    )


def q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-5; rank on the ROUNDED value + id tie-break
    so ordering is engine-independent."""
    pairs = _cosine_pairs(spark, sf_dir)
    w = Window.partitionBy("id_a").orderBy(F.col("cos6").desc(), F.col("id_b").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(F.col("id_a").alias("vec_id"), "rank", F.col("id_b").alias("nbr_id"), "cos6")
        .orderBy("vec_id", "rank")
    )


def q_embedding_neardup(spark, sf_dir):
    """Brute-force near-dup sweep over emb_aug (25 planted cos=1.0
    pairs): the bounded exactness oracle for embedding_neardup_lsh."""
    pairs = _cosine_pairs(spark, sf_dir, aug=True)
    return (
        pairs.filter((F.col("cos6") >= 950000) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b", "cos6")
        .orderBy("id_a", "id_b")
    )


def q_asof_join(spark, sf_dir):
    """As-of join (operators/asof.py): attribute every 'error' event to
    the newest preceding-or-simultaneous 'click' by the same user. The
    build side is pre-deduped to one row per (user_id, ts) so the
    greatest-event_id tie rule is engine-portable (DuckDB ASOF picks an
    unspecified row on duplicate build timestamps)."""
    e = load(spark, sf_dir, "events")
    errs = e.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    j = asof_join(errs, clicks, on=["user_id"], ts_col="ts",
                  build_cols=["click_id"], prefix="c_")
    # parquet ts is TIMESTAMP_NTZ; ANSI forbids a direct numeric cast —
    # route via ltz (session tz UTC) for epoch-microsecond longs
    err_us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    click_us = F.unix_micros(F.col("c_ts").cast("timestamp_ltz"))
    return j.select(
        "event_id",
        "user_id",
        err_us.alias("err_us"),
        F.coalesce(F.col("c_click_id"), F.lit(-1).cast("long")).alias("click_id"),
        F.coalesce(err_us - click_us, F.lit(-1).cast("long")).alias("gap_us"),
    ).orderBy("event_id")


def q_range_join_events(spark, sf_dir):
    """Bounded range join (operators/rangejoin.py): per error event,
    count clicks by the same user in the preceding 72 hours and keep
    the newest such click id. The bucketed equi-join does the pairing;
    zero-click errors re-attach via a left join on event_id."""
    e = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    errs = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", us.alias("ts_us")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", us.alias("ts_us"), F.col("event_id").alias("click_id")
    )
    j = interval_join(
        errs, clicks, on=["user_id"], ts_col="ts_us",
        lo=-259_200_000_000, hi=0, prefix="c_",
    )
    counts = j.groupBy("event_id").agg(
        F.count("*").alias("n_clicks_72h"),
        F.max("c_click_id").alias("last_click_id"),
    )
    return (
        errs.join(counts, "event_id", "left")
        .select(
            "event_id",
            "user_id",
            F.coalesce("n_clicks_72h", F.lit(0).cast("long")).alias("n_clicks_72h"),
            F.coalesce("last_click_id", F.lit(-1).cast("long")).alias("last_click_id"),
        )
        .orderBy("event_id")
    )


def pii_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with deterministically planted PII tails (the synthetic
    corpus is a word soup with no natural PII): doc_id % 5 selects one
    of email / phone / ip / ssn / none, each synthesized from doc_id so
    DuckDB builds the byte-identical input with printf."""
    d = load(spark, sf_dir, "documents")
    m = F.col("doc_id") % 5
    tail = (
        F.when(m == 0, F.format_string(" contact user%d@example.com", F.col("doc_id")))
        .when(m == 1, F.format_string(" call 555-867-%04d now", F.col("doc_id") % 10000))
        .when(m == 2, F.format_string(" host 10.%d.0.1 up", F.col("doc_id") % 256))
        .when(m == 3, F.format_string(" ssn 123-45-%04d on file", F.col("doc_id") % 10000))
        .otherwise(F.lit(""))
    )
    return d.select(
        "doc_id", F.concat(F.coalesce(F.col("text"), F.lit("")), tail).alias("text")
    )


def q_pii_scrub(spark, sf_dir):
    """PII detection + redaction (functions/redact.py) — the scrub pass
    every training-data pipeline runs before text leaves the raw zone.
    Pure Catalyst regex projection: no UDF, no shuffle, scales linearly
    and pushes down with the scan. Counts are taken on the original
    text; the redacted text is verified whole via its sha256 (same
    patterns, same fixed rule order, replayed by the DuckDB twin)."""
    from .functions import redact as R

    d = pii_aug(spark, sf_dir)
    c = R.pii_counts(F.col("text"))
    return d.select(
        "doc_id",
        c["email"].alias("n_emails"),
        c["phone"].alias("n_phones"),
        c["ip"].alias("n_ips"),
        c["ssn"].alias("n_ssns"),
        F.sha2(R.redact_pii(F.col("text")), 256).alias("redacted_sha"),
    ).orderBy("doc_id")


def q_cluster_representatives(spark, sf_dir):
    """Canonical-document selection: after dedupe clustering, keep ONE
    representative per cluster — the highest-quality member (composite
    quality_score6, doc_id tie-break). This is the step that turns a
    cluster map into the kept corpus. Scale shape: a single map-side-
    combinable agg (min over a (neg-quality, id) struct) instead of a
    window sort — one shuffle on cluster_id, no per-cluster sort."""
    clusters = q_dedupe_clusters(spark, sf_dir)
    qual = docs_aug(spark, sf_dir).select(
        "doc_id", A.quality_score6(F.col("text")).alias("quality6")
    )
    j = clusters.join(qual, "doc_id")
    agg = j.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size"),
        F.min(
            F.struct(
                (-F.col("quality6")).alias("negq"), F.col("doc_id").alias("rep_id")
            )
        ).alias("b"),
    )
    return agg.select(
        "cluster_id",
        F.col("b.rep_id").alias("rep_id"),
        (-F.col("b.negq")).alias("rep_quality6"),
        "cluster_size",
    ).orderBy("cluster_id")


def q_doc_repetition(spark, sf_dir):
    """Gopher/C4-style repetition signals (functions/analysis.
    repetition_signals — shared with the curate() composed pipeline):
    per-doc top-bigram fraction and duplicate-bigram fraction — the
    boilerplate / loop-generation filter signals LLM corpora are
    screened with."""
    d = load(spark, sf_dir, "documents")
    return A.repetition_signals(d).orderBy("doc_id")


def q_tool_transitions(spark, sf_dir):
    """Agent-transcript flow analytics: Markov transition counts over
    per-turn (role[:tool]) states — the \"what does the agent do after a
    search\" profile run over conversation logs. role/tool are
    synthesized deterministically from (conv_id, turn_idx) (the parquet
    documents table has no transcript twin) so DuckDB derives the same
    input. Scale shape: one lag window partitioned by conv_id (bounded
    per-key state, single shuffle) feeding a map-side-combinable count
    agg over a tiny state space."""
    t = transcripts_from_docs(spark, sf_dir)
    state = F.when(
        F.col("turn_idx") % 2 == 1,
        F.concat(
            F.lit("assistant"),
            F.when((F.col("conv_id") + F.col("turn_idx")) % 4 == 0, ":search")
            .when((F.col("conv_id") + F.col("turn_idx")) % 4 == 1, ":code")
            .otherwise(""),
        ),
    ).otherwise(F.lit("user"))
    st = t.select("conv_id", "turn_idx", state.alias("state"))
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    tr = st.select(
        F.coalesce(F.lag("state").over(w), F.lit("START")).alias("prev_state"),
        "state",
    )
    return (
        tr.groupBy("prev_state", "state")
        .agg(F.count("*").alias("n_transitions"))
        .orderBy("prev_state", "state")
    )


def q_split_assign(spark, sf_dir):
    """Deterministic train/val/test split (functions/sampling.py): md5
    hash-bucket thresholding, portable across engines. Per-(split, lang)
    counts plus a bit_xor checksum of doc_ids so the compare verifies
    the ASSIGNMENT of every row, not just the split sizes."""
    d = load(spark, sf_dir, "documents")
    d = d.withColumn("split", split_assign(F.col("doc_id"), salt="r3"))
    return (
        d.groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.expr("bit_xor(doc_id)").alias("xor_ids"),
        )
        .orderBy("split", "lang")
    )


def q_leakage_safe_splits(spark, sf_dir):
    """Leakage-safe train/val/test: assign the split at the NEAR-DUP-
    CLUSTER level (split_assign over cluster_id), so no duplicate pair
    can straddle train and test — the contamination-prevention step a
    per-doc split misses. ``leaked_pairs`` is computed from the engine's
    own verified pair set and must be 0 for every split; the DuckDB twin
    independently re-derives pairs, clusters, assignments AND the leak
    count, so a regression to per-doc splitting mismatches on both the
    xor checksum and the leak column.

    Scale shape: clusters come from the CC operator (O(log n) rounds);
    the split is one pure-Catalyst projection; the leak audit is two
    broadcast-able joins of the pair table against the assignment."""
    clusters = q_dedupe_clusters(spark, sf_dir)
    assigned = clusters.withColumn(
        "split", split_assign(F.col("cluster_id"), salt="r3leak")
    )
    pairs = (
        _shingle_pairs(spark, sf_dir)
        .filter(10 * F.col("inter") >= 9 * F.col("uni"))
        .select("id_a", "id_b")
        .unionByName(q_exact_dup_pairs(spark, sf_dir).select("id_a", "id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = assigned.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a"))
    sb = assigned.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b"))
    leaks = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .groupBy(F.col("split_a").alias("split"))
        .agg(
            F.sum((F.col("split_a") != F.col("split_b")).cast("int"))
            .cast("long")
            .alias("leaked")
        )
    )
    base = assigned.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("cluster_id").alias("n_clusters"),
        F.expr("bit_xor(doc_id)").alias("xor_ids"),
    )
    return (
        base.join(leaks, "split", "left")
        .select(
            "split",
            "n_docs",
            "n_clusters",
            "xor_ids",
            F.coalesce(F.col("leaked"), F.lit(0).cast("long")).alias("leaked_pairs"),
        )
        .orderBy("split")
    )


def q_mixture_sample(spark, sf_dir):
    """Deterministic data mixing (functions/sampling.mixture_sample):
    downsample each language to its target rate via the portable md5
    bucket — the mixture-weighting step of corpus assembly. Per-lang
    kept counts plus a bit_xor of kept doc_ids, so DuckDB verifies the
    MEMBERSHIP of every row, not just the realized rates."""
    d = load(spark, sf_dir, "documents")
    kept = mixture_sample(
        d,
        {"en": 1.0, "de": 0.5, "fr": 0.5, "es": 0.25},
        group_col="lang",
        id_col="doc_id",
        salt="mix",
        default_rate=0.1,
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count("*").alias("n_kept"),
            F.expr("bit_xor(doc_id)").alias("xor_ids"),
        )
        .orderBy("lang")
    )


def q_pack_sequences(spark, sf_dir):
    """Deterministic next-fit sequence packing (operators/packing.py):
    shard by portable md5 hash, order by doc_id within the shard, fill
    256-token bins. Returns the per-document assignment — DuckDB replays
    the identical sweep with a recursive CTE, so every (shard, seq)
    placement is value-verified, not just the bin counts."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", A.ws_token_count(F.col("text")).alias("n_tokens")
    )
    return pack_sequences(d, capacity=256, nshards=8).orderBy("doc_id")


def q_boilerplate_scrub(spark, sf_dir):
    """Boilerplate-turn removal (operators/boilerplate.py): drop turns
    whose text recurs in >= 2 distinct conversations — the line-dedup
    step of corpus curation, transcript-shaped. Per-conversation kept
    counts plus a sha of the reassembled kept text, so DuckDB verifies
    exactly WHICH turns were dropped, not just how many."""
    t = transcripts_from_docs(spark, sf_dir)
    kept = remove_boilerplate_turns(t, min_df=2)
    base = t.groupBy("conv_id").agg(F.count("*").alias("n_turns"))
    ka = kept.groupBy("conv_id").agg(
        F.count("*").alias("n_kept"),
        F.sha2(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("turn_idx"), F.col("turn_text")))
                    ),
                    lambda s: s["turn_text"],
                ),
            ),
            256,
        ).alias("kept_sha"),
    )
    return (
        base.join(ka, "conv_id", "left")
        .select(
            "conv_id",
            "n_turns",
            F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
            F.coalesce(F.col("kept_sha"), F.lit("")).alias("kept_sha"),
        )
        .orderBy("conv_id")
    )


def q_info_gain_terms(spark, sf_dir):
    """A8 closed (the last SURVEY §2 row without a SQL oracle):
    information gain per token, reference-parity semantics
    (functions/weighting.information_gain; reference
    lib/lieu/information_gain.py:47-102) — context = the other distinct
    tokens co-occurring in a document, p(x) = docfreq(x)/num_docs,
    ig(y) = max(0, sum_x p(x|y) * log2(p(x|y) / p(x))) with the joint
    row-normalized per word (p(x|y) = co(y,x)/n_y), and -log2(p(y)) for
    tokens that never co-occur. The joint/marginal/log2 chain is pure
    relational algebra over exact integer counts, so the DuckDB twin
    replays it end to end; the output is 1e6-quantized (same convention
    as tfidf score6) and restricted to ASCII tokens so cross-engine
    string ordering cannot diverge. min_count prunes the vocabulary up
    front, as the reference's min-count filter does (P7)."""
    from .functions.weighting import information_gain

    d = load(spark, sf_dir, "documents")
    docs_tokens = d.select("doc_id", T.tokenize(F.col("text")).alias("tokens"))
    ig = information_gain(docs_tokens, min_count=5)
    return (
        ig.filter(F.col("token").rlike("^[a-z0-9]{3,}$"))
        .select("token", F.round(F.col("ig") * 1e6).cast("long").alias("ig6"))
        .orderBy("token")
    )


def q_corpus_shuffle(spark, sf_dir):
    """Deterministic training-order shuffle (functions/sampling.
    corpus_shuffle): portable md5 order key, sharded window rank — one
    hash shuffle + per-shard sort, no rand(), no global range sort.
    Returns every document's (shard, pos) so DuckDB re-derives the
    entire permutation from scratch, value-verifying each placement."""
    d = load(spark, sf_dir, "documents").select("doc_id")
    return corpus_shuffle(d, id_col="doc_id", salt="ord", nshards=16).orderBy(
        "doc_id"
    )


def q_dsir_weights(spark, sf_dir):
    """DSIR data selection (functions/weighting.dsir_logweights): hashed
    unigram+bigram importance weights of every document against a
    deterministic target slice (doc_id % 5 == 0 stands in for the
    high-quality target corpus). Per-bucket ln-ratio deltas are
    integer-scaled BEFORE the per-doc sum, so the score is exact integer
    arithmetic; buckets are md5-hashed (engine-portable) and DuckDB
    re-derives the full chain — features, buckets, both smoothed models,
    every doc's weight — from the raw text."""
    from .functions.weighting import dsir_logweights

    d = load(spark, sf_dir, "documents")
    return dsir_logweights(d, F.pmod(F.col("doc_id"), F.lit(5)) == 0).orderBy(
        "doc_id"
    )


def _geo_coord_strings(d):
    """Deterministic coordinate-STRING fixture from doc_id, cycling the
    reference's four accepted formats (coordinates.py:110-167): junk-
    wrapped decimal, decimal+hemisphere, DMS with unit marks, plain
    signed decimal. All integer arithmetic, so the DuckDB oracle
    re-derives every expected value without parsing."""
    lat_c = F.lit(1000) + F.pmod(F.col("doc_id") * 37, F.lit(7900))
    lon_c = F.lit(1000) + F.pmod(F.col("doc_id") * 73, F.lit(7900))
    lat_neg = F.pmod(F.col("doc_id"), F.lit(2)) == 1
    lon_neg = F.pmod(F.col("doc_id"), F.lit(3)) != 0
    v = F.pmod(F.col("doc_id"), F.lit(4))

    def dec(c):
        return F.concat(
            F.floor(c / 100).cast("int").cast("string"),
            F.lit("."),
            F.lpad(F.pmod(c, F.lit(100)).cast("string"), 2, "0"),
        )

    def signed(c, neg):
        return F.concat(F.when(neg, F.lit("-")).otherwise(F.lit("")), dec(c))

    dd = F.lit(10) + F.pmod(F.col("doc_id"), F.lit(79))
    dm = F.pmod(F.col("doc_id") * 7, F.lit(60))
    ds = F.pmod(F.col("doc_id") * 13, F.lit(60))

    # half the DMS rows use the unicode marks, half uppercase D/M/S —
    # the reference parses both (its regexes compile with re.I), so the
    # fixture exercises the case-insensitive twin; the oracle derives
    # the expected decimal from doc_id arithmetic either way
    upper_marks = F.pmod(F.col("doc_id"), F.lit(8)) >= 4

    def dms(neg, pos_c, neg_c):
        def mark(uni, asc):
            return F.when(upper_marks, F.lit(asc)).otherwise(F.lit(uni))

        return F.concat(
            dd.cast("string"),
            mark("°", "D"),
            dm.cast("string"),
            mark("′", "M"),
            ds.cast("string"),
            mark("″", "S"),
            F.when(neg, F.lit(neg_c)).otherwise(F.lit(pos_c)),
        )

    lat_s = (
        F.when(v == 0, F.concat(F.lit("lat "), signed(lat_c, lat_neg), F.lit("°")))
        .when(
            v == 1,
            F.concat(dec(lat_c), F.lit(" "), F.when(lat_neg, F.lit("S")).otherwise(F.lit("N"))),
        )
        .when(v == 2, dms(lat_neg, "N", "S"))
        .otherwise(signed(lat_c, lat_neg))
    )
    lon_s = (
        F.when(v == 0, F.concat(F.lit("lon "), signed(lon_c, lon_neg), F.lit("°")))
        .when(
            v == 1,
            F.concat(dec(lon_c), F.lit(" "), F.when(lon_neg, F.lit("W")).otherwise(F.lit("E"))),
        )
        .when(v == 2, dms(lon_neg, "E", "W"))
        .otherwise(signed(lon_c, lon_neg))
    )
    return d.select("doc_id", lat_s.alias("lat_s"), lon_s.alias("lon_s"))


def q_geo_blocking(spark, sf_dir):
    """F11 + F9 end to end: parse four coordinate-string formats
    (functions/geo.parse_latlon — DMS hemisphere sign APPLIED, the
    documented reference-bug fix) then geohash-4 cell + 8 neighbors as
    blocking keys (geo.geohash_cells — closed-form bit interleave,
    pure Catalyst). DuckDB re-derives every expected coordinate from
    doc_id arithmetic and replays the quantize/interleave/base32 chain
    in integer SQL, so cell ids must match bit-for-bit."""
    from .functions.geo import geohash_cells, geohash_encode, parse_latlon

    d = _geo_coord_strings(load(spark, sf_dir, "documents").select("doc_id"))
    p = parse_latlon(F.col("lat_s"), F.col("lon_s"))
    return (
        d.withColumn("__p", p)
        .select(
            "doc_id",
            F.round(F.col("__p.lat") * 1e6).cast("long").alias("lat6"),
            F.round(F.col("__p.lon") * 1e6).cast("long").alias("lon6"),
            geohash_encode(F.col("__p.lat"), F.col("__p.lon"), 4).alias("gh"),
            F.array_join(
                geohash_cells(F.col("__p.lat"), F.col("__p.lon"), 4), ","
            ).alias("cells_cat"),
        )
        .orderBy("doc_id")
    )


def q_geo_aliases(spark, sf_dir):
    """F9's sparse-cell aliasing (reference geo_word_index.py:19-26):
    docs cluster on a 3x5 grid of adjacent geohash-4 cells (exact
    dyadic offsets — 180/1024 and 360/1024 are exact doubles, so the
    quantization is reproducible everywhere), total_docs_by_geo counts
    every blocking key (cell + 8 neighbors), and cells under the
    min-doc threshold alias to their most-populated qualifying
    neighbor (argmax count, geohash tie-break). Counts are normalized
    to per-10k-of-total (lazy broadcast 1-row scalar, no action) so
    the keep/sparse split is scale-invariant — the same cells alias at
    every sf instead of the fixed threshold going vacuous as the
    corpus grows. DuckDB re-derives the grid, the fan-in counts, the
    normalization, and every alias choice."""
    from .functions.geo import geo_aliases, geohash_cells_exploded

    d = load(spark, sf_dir, "documents").select("doc_id")
    lat = F.lit(10.0) + F.pmod(F.col("doc_id"), F.lit(3)).cast("double") * F.lit(
        180.0 / 1024
    )
    lon = F.lit(20.0) + F.pmod(F.col("doc_id"), F.lit(5)).cast("double") * F.lit(
        360.0 / 1024
    )
    # DataFrame-level fan-out: explode the 9 offsets first, encode once
    # (the Column-array form inlines the interleave+encode 9x and its
    # analysis/codegen wall dominated this query at small sf)
    by_geo = (
        geohash_cells_exploded(d, lat, lon, 4)
        .groupBy("geo")
        .agg(F.count("*").alias("n_docs"))
    )
    tot = by_geo.agg(
        F.coalesce(F.sum("n_docs"), F.lit(1)).cast("double").alias("_tot")
    )
    per10k = by_geo.crossJoin(F.broadcast(tot)).select(
        "geo",
        F.round(F.col("n_docs") * 10000.0 / F.col("_tot"))
        .cast("long")
        .alias("n_docs"),
    )
    return geo_aliases(per10k, min_doc_count=556, precision=4).orderBy("geo")


def q_safe_decode(spark, sf_dir):
    """F12 safe_decode (reference lib/lieu/encoding.py:8-21): UTF-8
    first, latin-1 fallback, as a pure Catalyst branch over
    is_valid_utf8 (functions/text.safe_decode). The fixture alternates
    genuine UTF-8 payloads (multi-byte é) with latin-1 bytes (0xE9 —
    invalid UTF-8); DuckDB re-derives the decoded text, the fallback
    flag, and the byte length from doc_id arithmetic."""
    from .functions.text import is_utf8, safe_decode

    d = load(spark, sf_dir, "documents").select("doc_id")
    payload = F.when(
        F.pmod(F.col("doc_id"), F.lit(2)) == 0,
        F.encode(
            F.concat(F.lit("héllo "), F.col("doc_id").cast("string")), "UTF-8"
        ),
    ).otherwise(
        F.encode(
            F.concat(F.lit("café "), F.col("doc_id").cast("string")), "ISO-8859-1"
        )
    )
    b = d.withColumn("b", payload)
    return b.select(
        "doc_id",
        safe_decode(F.col("b")).alias("decoded"),
        (~is_utf8(F.col("b"))).cast("int").alias("fallback"),
        F.octet_length("b").cast("int").alias("n_bytes"),
    ).orderBy("doc_id")


def _bpe_vocab(spark, sf_dir):
    """Shared trained-BPE state for the bpe_* queries: 6 merges over
    the documents word table, hapax words pruned (min_word_count=2)."""
    from .functions.bpe import train_bpe

    def build():
        d = load(spark, sf_dir, "documents")
        merges, vocab = train_bpe(d, n_merges=6, min_word_count=2)
        return merges.unionByName(
            vocab.select(
                F.lit(0).alias("step"),
                F.col("word").alias("w1"),
                F.col("seq").alias("w2"),
                F.col("cnt").alias("pair_count"),
            )
        )

    return _memo(spark, sf_dir, "bpe_state", build)


def q_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training (functions/bpe.train_bpe,
    Sennrich et al. 2016): 6 merge steps learned over the distinct-word
    table (hapax pruned), each step = one combinable pair-count agg +
    one broadcast argmax merge applied via the wrapped-symbol string
    replace (greedy left-to-right, exactly the published merge pass).
    DuckDB RE-LEARNS all 6 merges from raw text through the identical
    chain and must pick the same pairs with the same counts."""
    st = _bpe_vocab(spark, sf_dir)
    return st.filter(F.col("step") > 0).select(
        "step", "w1", "w2", "pair_count"
    ).orderBy("step")


def q_bpe_token_counts(spark, sf_dir):
    """Per-doc token counts under the learned BPE segmentation: doc
    words join the broadcast vocab for subword counts (out-of-vocab
    words fall back to character count), empty docs visible with 0 —
    the corpus is touched once, the merge loop never sees it. DuckDB
    re-trains the tokenizer AND re-counts every document."""
    from .functions.bpe import bpe_token_counts

    st = _bpe_vocab(spark, sf_dir)
    vocab = st.filter(F.col("step") == 0).select(
        F.col("w1").alias("word"),
        F.col("pair_count").alias("cnt"),
        F.col("w2").alias("seq"),
    )
    d = load(spark, sf_dir, "documents")
    return bpe_token_counts(d, vocab).orderBy("doc_id")


def q_verbatim_13gram_decon(spark, sf_dir):
    """GPT-3/Llama-style EXACT 13-gram decontamination (the verbatim
    rule, complementing the containment sweep of contamination_pairs):
    a TRAINING doc is flagged if it shares ANY exact 13-token window
    with an eval doc. Eval = originals with doc_id < 25, train = the
    planted aug copies (exact + suffixed). Scale shape: distinct
    13-gram md5 prefixes per doc (fixed 16-byte join key — never
    shuffling 13-word strings), equi-join on the hash, one combinable
    agg; the md5 key keeps the DuckDB twin pure SQL."""
    aug = docs_aug(spark, sf_dir)
    toks = aug.select("doc_id", T.tokenize(F.col("text")).alias("toks"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "CASE WHEN size(toks) < 13 THEN array() "
                    "ELSE transform(sequence(13, size(toks)), "
                    "i -> substring(md5(array_join(slice(toks, i-12, 13), ' ')), 1, 16)) END"
                )
            )
        ).alias("g"),
    )
    ev = grams.filter(F.col("doc_id") < 25).select(
        F.col("doc_id").alias("eval_id"), "g"
    )
    tr = grams.filter(F.col("doc_id") >= 100000).select(
        F.col("doc_id").alias("train_id"), "g"
    )
    return (
        tr.join(ev, "g")
        .groupBy("train_id")
        .agg(
            F.countDistinct("g").cast("long").alias("n_shared_13grams"),
            F.countDistinct("eval_id").cast("long").alias("n_eval_docs"),
        )
        .orderBy("train_id")
    )


BLOOM_M = 1 << 16
BLOOM_K = 4


def q_bloom_decon(spark, sf_dir):
    """Bloom-prefiltered verbatim decontamination (operators/bloom.py)
    — the zero-shuffle screening shape of the 13-gram rule: the eval
    corpus's gram keys fold into a fixed m-bit bitmap (<= m/64
    relational words -> ONE broadcast map row), every training gram is
    k closed-form md5-probe bit tests in codegen (no join, no shuffle
    on the training side), and the exact equi-join runs ONLY on the
    screened survivors. Output: per flagged training doc, the bloom-hit
    distinct-gram count and the exactly-shared count — Bloom has no
    false negatives, so n_exact_grams <= n_bloom_grams row by row and
    every verbatim_13gram_decon doc must reappear here. DuckDB
    re-derives the bitmap words, all k probes per gram, every
    membership verdict, and the survivor join."""
    from .operators.bloom import bloom_screen, bloom_words

    aug = docs_aug(spark, sf_dir)
    toks = aug.select("doc_id", T.tokenize(F.col("text")).alias("toks"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "CASE WHEN size(toks) < 13 THEN array() "
                    "ELSE transform(sequence(13, size(toks)), "
                    "i -> substring(md5(array_join(slice(toks, i-12, 13), ' ')), 1, 16)) END"
                )
            )
        ).alias("g"),
    )
    ev = grams.filter(F.col("doc_id") < 25).select("g").distinct()
    tr = grams.filter(F.col("doc_id") >= 100000).select(
        F.col("doc_id").alias("train_id"), "g"
    )
    bloom = bloom_words(ev, "g", m=BLOOM_M, k=BLOOM_K)
    survivors = bloom_screen(tr, bloom, "g", m=BLOOM_M, k=BLOOM_K).filter(
        "might_contain"
    )
    exact = survivors.join(ev.withColumn("__x", F.lit(1)), "g", "left")
    return (
        exact.groupBy("train_id")
        .agg(
            F.countDistinct("g").cast("long").alias("n_bloom_grams"),
            F.countDistinct(F.when(F.col("__x") == 1, F.col("g")))
            .cast("long")
            .alias("n_exact_grams"),
        )
        .orderBy("train_id")
    )


NB_SEED_HI = 620000
NB_SEED_LO = 480000


def q_nb_quality(spark, sf_dir):
    """FastText-style model-based quality classifier (functions/
    classify.nb_quality_scores — the CCNet/FineWeb-Edu filter stage):
    the quality6 heuristic seeds labels on the tails of the corpus
    (>= 620000 positive, < 480000 negative, middle unlabeled), a
    multinomial Naive Bayes over md5-hashed unigram buckets fits on
    the seeds only, and EVERY augmented doc gets an exact-integer
    score6 and an int verdict. DuckDB re-derives the seed labels, the
    class-conditional bucket models, the doc-count prior, every
    per-bucket delta6, and every verdict."""
    from .functions.classify import NB_BUCKETS, nb_quality_scores

    aug = docs_aug(spark, sf_dir)
    q6 = A.quality_score6(F.col("text"))
    seed = F.when(q6 >= NB_SEED_HI, 1).when(q6 < NB_SEED_LO, 0)
    return nb_quality_scores(aug, seed, m=NB_BUCKETS).orderBy("doc_id")


def q_centroid_classify(spark, sf_dir):
    """Nearest-centroid (Rocchio) embedding classifier
    (functions/classify.centroid_fit/centroid_predict) — the
    embedding-space quality/domain classifier stage (FineWeb-Edu /
    DataComp recipe: label a slice, fit prototypes, score the corpus).
    vec_id % 5 == 0 holds out as the test split; centroids fit on the
    rest in exact integer micro-units; every test vector is assigned to
    the label with the smallest integer squared Euclidean distance
    (ties to the smaller label). DuckDB re-derives the quantization,
    every centroid coordinate, and every assignment."""
    from .functions.classify import centroid_fit, centroid_predict

    e = load(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id",
        "label",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1e6).cast("long")
        ).alias("v6"),
    )
    train = v.filter(F.col("vec_id") % 5 != 0)
    test = v.filter(F.col("vec_id") % 5 == 0).select(
        "vec_id", F.col("label").alias("true_label"), "v6"
    )
    model = centroid_fit(train)
    pred = centroid_predict(test, model)
    return pred.select(
        "vec_id",
        "true_label",
        "pred_label",
        "d2",
        (F.col("pred_label") == F.col("true_label")).cast("int").alias("correct"),
    ).orderBy("vec_id")


def q_snapshot_diff(spark, sf_dir):
    """Snapshot CDC (operators/diff.snapshot_diff): the new snapshot is
    a deterministic edit of documents — doc_id % 97 == 3 dropped,
    doc_id % 53 == 11 re-keyed (+700000, content identical: a move),
    doc_id % 31 == 7 revised (suffix appended), doc_id < 15 spawn
    brand-new +800000 rows. One full-outer id join classifies
    unchanged/changed; the removed/added delta sides cross-check
    content hashes to split renames (moved_out/moved_in) from true
    removals/additions. DuckDB re-derives the edit, both joins, and
    every verdict."""
    from .operators.diff import snapshot_diff

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    rm = F.col("doc_id") % 97 == 3
    mv = F.col("doc_id") % 53 == 11
    ch = F.col("doc_id") % 31 == 7
    kept = d.filter(~rm)
    new = kept.select(
        F.when(mv, F.col("doc_id") + 700000).otherwise(F.col("doc_id")).alias(
            "doc_id"
        ),
        F.when(mv, F.col("text"))
        .when(ch, F.concat(F.col("text"), F.lit(" rev two")))
        .otherwise(F.col("text"))
        .alias("text"),
    ).unionByName(
        d.filter(F.col("doc_id") < 15).select(
            (F.col("doc_id") + 800000).alias("doc_id"),
            F.concat(
                F.lit("fresh snapshot doc "), F.col("doc_id").cast("string")
            ).alias("text"),
        )
    )
    return snapshot_diff(d, new).orderBy("doc_id")


def q_dedup_tiers(spark, sf_dir):
    """Tiered dedup budget report (operators/tiers.tier_report): doc and
    token survival through raw -> exact-hash -> normalized-hash ->
    corpus-wide line dedup over the lined corpus plus three plant
    families (exact copies +100000, near copies with an extra shared
    suffix line +200000 — survive both doc tiers, die at the line tier
    — and upper-cased variants +300000 — survive exact, collapse under
    normalization). tokens_pct6 is exact integer division, so every
    cell is engine-exact."""
    from .operators.tiers import tier_report

    lined = lined_docs(spark, sf_dir)
    exact = lined.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "lines"
    )
    near = lined.filter((F.col("doc_id") >= 25) & (F.col("doc_id") < 50)).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(
            F.col("lines"), F.array(F.lit("appended suffix line zz"))
        ).alias("lines"),
    )
    upper = lined.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.transform("lines", lambda l: F.upper(l)).alias("lines"),
    )
    aug = lined.unionByName(exact).unionByName(near).unionByName(upper)
    return tier_report(aug).orderBy("tier")


def q_refresh_clusters(spark, sf_dir):
    """Cross-snapshot dedupe refresh (operators/refresh.refresh_dedupe):
    the old snapshot is docs_aug with its full dedupe state (the
    memoized feature table, its band table, and the verified pair set);
    the new snapshot is a deterministic edit — doc_id % 11 == 2 removed
    (orphaning some exact groups' star centers and banded reps, the
    promotion/repair path), % 13 == 5 re-keyed (+500000 — exercises
    content-addressed feature reuse: renames are never re-shingled),
    % 17 == 3 revised (' rev tail qq' appended, re-featurized), and
    doc_id < 12 spawning +900000 near-copies (the near-plant suffix
    recipe, joining their originals' clusters). Only the delta is
    re-shingled/re-banded; the refreshed cluster map must equal a
    from-scratch run, which DuckDB re-derives directly over the edited
    corpus (exact shingle-Jaccard pairs ∪ sha star, recursive-CTE CC)."""
    from .operators.refresh import refresh_dedupe

    feats = feats_minhash(spark, sf_dir)
    bands = band_table(feats.filter(F.size("shingle_hashes") > 0), CFG)
    cand = (
        candidate_pairs(bands, CFG, distinct=False)
        .unionByName(exact_star_pairs(feats.select("conv_id", "text_sha")))
        .dropDuplicates(["id_a", "id_b"])
    )
    verified = verify_pairs(cand, feats, CFG)

    d = docs_aug(spark, sf_dir).select("doc_id", "text")
    edited = d.filter(F.col("doc_id") % 11 != 2).select(
        F.when(F.col("doc_id") % 13 == 5, F.col("doc_id") + 500000)
        .otherwise(F.col("doc_id"))
        .alias("conv_id"),
        F.when(
            F.col("doc_id") % 17 == 3, F.concat(F.col("text"), F.lit(" rev tail qq"))
        )
        .otherwise(F.col("text"))
        .alias("doc"),
    ).unionByName(
        d.filter(F.col("doc_id") < 12).select(
            (F.col("doc_id") + 900000).alias("conv_id"),
            F.concat(F.col("text"), F.lit(" zz yy xx qq ww")).alias("doc"),
        )
    )
    new_convs = edited.withColumn("text_sha", F.sha2(F.col("doc"), 256))

    def featurize(df):
        out = df.select("conv_id", "doc", "text_sha")
        out = out.withColumn("tokens", T.tokenize(F.col("doc")))
        out = out.withColumn("token_hashes", T.token_hashes(F.col("tokens")))
        out = out.withColumn(
            "shingle_hashes", T.shingle_hash_set(F.col("token_hashes"), K)
        )
        return with_minhash(out, CFG)

    res = refresh_dedupe(new_convs, feats, bands, verified, CFG, featurize)
    return res.clusters.select(
        F.col("conv_id").alias("doc_id"), "cluster_id"
    ).orderBy("doc_id")


def q_unimax_mixture(spark, sf_dir):
    """UniMax budget allocation (Chung et al. 2023) over documents.lang:
    split a 40k-token budget equally across languages, capping each at
    2 epochs of its available tokens — the water-filling answer to the
    mixture question temperature_mixture trades off with one alpha.
    At sf0.01 the four non-en languages cap at 2 epochs (7.1-8.3k
    tokens each) and en absorbs the 9.2k remainder at ~0.78 epochs, so
    both branches of the closed form are exercised. One agg collapses
    the corpus to 5 rows; every window runs on that tiny table. DuckDB
    re-derives the whole chain — tokenize, per-lang totals, sorted-
    prefix boundary, remainder split — from the raw text."""
    from .functions.sampling import unimax_allocation
    from .functions.text import tokenize

    d = load(spark, sf_dir, "documents")
    weighted = d.select(
        "lang", F.size(tokenize(F.col("text"))).cast("long").alias("n_toks")
    )
    return unimax_allocation(
        weighted, "lang", "n_toks", budget=40000, epochs_cap=2
    )


def q_unimax_sample(spark, sf_dir):
    """unimax_mixture made actionable: the allocation is expanded into
    the mixture itself — capped languages (epochs exactly 2.0 at
    sf0.01) appear twice per doc, en's fractional 0.78 epochs becomes a
    deterministic md5-bucket subset appearing once. (doc_id, lang,
    epoch) rows; DuckDB re-derives the allocation chain then replays
    the expansion with generate_series + the same bucket threshold."""
    from .functions.sampling import unimax_allocation, unimax_expand
    from .functions.text import tokenize

    d = load(spark, sf_dir, "documents")
    weighted = d.select(
        "doc_id", "lang",
        F.size(tokenize(F.col("text"))).cast("long").alias("n_toks"),
    )
    alloc = unimax_allocation(weighted, "lang", "n_toks", budget=40000,
                              epochs_cap=2)
    return (
        unimax_expand(weighted, alloc, "lang", "doc_id", salt="umx")
        .select("doc_id", "lang", "epoch")
        .orderBy("doc_id", "epoch")
    )


def _image_hashes(spark, sf_dir):
    """Shared perceptual-hash table over the deterministic photo
    fixture (functions/imagehash.synthetic_photo_payloads): 480 real
    BMP/PNG/JPEG/GIF payloads decoded at the PIXEL level and hashed
    (aHash + dHash). Memoized — both image queries reuse one decode
    pass per session."""
    from .functions.imagehash import perceptual_hash_table, synthetic_photo_payloads

    def build():
        # explicit repartition: the source is one small parquet file
        # (1 scan partition) and AQE coalesces by BYTES — without this
        # every pure-python container decode serializes on one core
        d = (
            load(spark, sf_dir, "documents")
            .select("doc_id")
            .filter(F.col("doc_id") < 480)
            .repartition(max(spark.sparkContext.defaultParallelism, 8))
        )
        return perceptual_hash_table(synthetic_photo_payloads(d))

    return _memo(spark, sf_dir, "image_hashes", build)


def q_image_neardup(spark, sf_dir):
    """Multimodal near-dup: perceptual aHash over REAL pixel decodes of
    all four native containers, pigeonhole chunk blocking (8 chunks =>
    exact recall for hamming <= 7), JVM-side bit_count verify. The
    fixture's planted groups span containers AND resolutions (the same
    8x8 master tile NN-upscaled 1-4x into BMP/PNG/GIF and 8x into a
    REAL entropy-coded JPEG), so only resize-invariant perceptual
    hashing finds them. DuckDB re-derives every pair's hamming distance
    from doc_id arithmetic alone (Walsh-code tiles + per-doc bit
    flips) — a match proves container encode -> zlib/LZW/Huffman pixel
    decode -> luma -> NN resize -> aHash -> blocking -> verify end to
    end."""
    from .functions.imagehash import image_neardup_pairs

    hashes = _image_hashes(spark, sf_dir)
    return image_neardup_pairs(hashes, hamming_max=6, chunks=8).orderBy(
        "id_a", "id_b"
    )


def q_image_dedup_groups(spark, sf_dir):
    """Perceptual-EXACT image dedup groups: group by the aHash value —
    members collapse across container formats and pixel sizes (the
    unflipped tile of each Walsh group renders as BMP, PNG,
    entropy-coded JPEG, AND GIF at several resolutions and hashes
    identically: n_formats = 4 on those groups). DuckDB re-derives the
    group structure from the fixture's bit arithmetic, grouping on the
    64-bit pattern string."""
    hashes = _image_hashes(spark, sf_dir)
    return (
        hashes.groupBy("ahash")
        .agg(
            F.min("doc_id").alias("rep_id"),
            F.count("*").alias("n_docs"),
            F.countDistinct("format").alias("n_formats"),
        )
        .filter(F.col("n_docs") > 1)
        .select("rep_id", "n_docs", "n_formats")
        .orderBy("rep_id")
    )


def q_video_neardup(spark, sf_dir):
    """Video near-dup via frame-fingerprint sets: real AVI/MJPEG clips
    are fanned out to their '00dc' JPEG frames (functions/video.py),
    every frame is entropy-decoded and perceptually hashed
    (functions/imagehash.py), and clips pair up through an equi-join on
    the frame hash — the media analog of the LSH band join; Jaccard of
    the distinct frame-hash sets clears 0.3. The clip fixture plants
    cyclic-interval overlaps (offset 1 -> 3/5, offset 2 -> 1/3), so
    partial similarity is exercised, not just identity. DuckDB
    re-derives every pair's shared count and jaccard6 from doc_id
    arithmetic — a match proves container demux -> per-frame Huffman
    decode -> luma -> aHash -> set-Jaccard end to end."""
    from .functions.video import synthetic_clip_payloads, video_frame_hashes
    from .operators.mediadedup import fingerprint_jaccard_pairs

    def build():
        d = (
            load(spark, sf_dir, "documents")
            .select("doc_id")
            .filter(F.col("doc_id") < 160)
            .repartition(max(spark.sparkContext.defaultParallelism, 8))
        )
        return video_frame_hashes(synthetic_clip_payloads(d))

    fps = _memo(spark, sf_dir, "video_frame_hashes", build)
    return fingerprint_jaccard_pairs(fps, min_jaccard6=300000).orderBy(
        "id_a", "id_b"
    )


def q_audio_neardup(spark, sf_dir):
    """Audio near-dup via window fingerprints: real RIFF/PCM tracks
    decode (functions/audio.py), each 256-sample window folds into a
    48-bit xor-lane fingerprint, and tracks pair through the same
    fingerprint equi-join + set-Jaccard operator the video path uses
    (operators/mediadedup.py). The track fixture plants the same
    cyclic-interval overlap structure as the clip fixture. DuckDB
    re-derives the fingerprints THEMSELVES (bit_xor over the sample
    formula's shifted lanes) and every pair — the full decode + fold
    chain is value-verified, not just the group structure."""
    from .functions.audio import audio_fingerprint_table, synthetic_track_payloads
    from .operators.mediadedup import fingerprint_jaccard_pairs

    def build():
        d = (
            load(spark, sf_dir, "documents")
            .select("doc_id")
            .filter(F.col("doc_id") < 120)
            .repartition(max(spark.sparkContext.defaultParallelism, 8))
        )
        return audio_fingerprint_table(synthetic_track_payloads(d))

    fps = _memo(spark, sf_dir, "audio_fingerprints", build)
    return fingerprint_jaccard_pairs(fps, min_jaccard6=300000).orderBy(
        "id_a", "id_b"
    )


def q_image_dedup_reps(spark, sf_dir):
    """Media dedup composed end-to-end: perceptual near-dup pairs ->
    connected components (the same large-star/small-star contraction
    the text pipeline uses, operators/cluster.py) -> per-cluster
    BEST-QUALITY representative (max pixel area, doc_id tie-break) —
    the keep-the-best-copy policy of image corpus dedup. The fixture's
    16 Walsh groups are cliques under hamming<=6, so clusters, sizes,
    and each rep's dimensions are pure doc_id arithmetic for DuckDB; a
    match proves pairs -> CC transitive closure -> quality ranking."""
    from .functions.imagehash import image_neardup_pairs
    from .operators.cluster import connected_components

    hashes = _image_hashes(spark, sf_dir)
    pairs = image_neardup_pairs(hashes, hamming_max=6, chunks=8)
    comp = connected_components(pairs.select("id_a", "id_b"))
    joined = comp.join(
        hashes.select(
            F.col("doc_id").alias("conv_id"), "width", "height"
        ),
        "conv_id",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        (F.col("width").cast("long") * F.col("height")).desc(), F.col("conv_id")
    )
    ranked = joined.withColumn("rk", F.row_number().over(w))
    sizes = joined.groupBy("cluster_id").agg(F.count("*").alias("n_members"))
    return (
        ranked.filter(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("conv_id").alias("rep_id"),
            F.col("width").alias("rep_width"),
            F.col("height").alias("rep_height"),
        )
        .join(sizes, "cluster_id")
        .select("cluster_id", "n_members", "rep_id", "rep_width", "rep_height")
        .orderBy("cluster_id")
    )


def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive/embedding training: for
    each vector, the top-3 most-similar vectors carrying a DIFFERENT
    label — the nearest points across the decision boundary, i.e. the
    negatives a contrastive loss learns most from. Brute cosine over
    the bounded eval set (the LSH/IVF paths in operators/ann.py are the
    scale substrate — hard-negative mining at corpus scale is exactly
    an ANN query with a label-mismatch post-filter); rank on the
    ROUNDED cos6 with id tie-break so ordering is engine-portable."""
    pairs = _cosine_pairs(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    la = emb.select(F.col("vec_id").alias("id_a"), F.col("label").alias("label_a"))
    lb = emb.select(F.col("vec_id").alias("id_b"), F.col("label").alias("label_b"))
    w = Window.partitionBy("id_a").orderBy(F.col("cos6").desc(), F.col("id_b").asc())
    return (
        pairs.join(F.broadcast(la), "id_a")
        .join(F.broadcast(lb), "id_b")
        .filter(F.col("label_a") != F.col("label_b"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("id_a").alias("vec_id"),
            "rank",
            F.col("id_b").alias("neg_id"),
            F.col("label_b").alias("neg_label"),
            "cos6",
        )
        .orderBy("vec_id", "rank")
    )


def q_image_decon(spark, sf_dir):
    """Visual decontamination (the media analog of the verbatim /
    semantic text decon stages): training images whose perceptual aHash
    lands within hamming 6 of ANY eval-set image are dropped via
    cross-table pigeonhole blocking + a left-anti join
    (functions/imagehash.image_decon_keep). Eval set = docs 480..487
    (Walsh groups 0-7), so exactly the trains in groups 8-15 survive —
    but the ORACLE assumes none of that: DuckDB re-derives every
    train-eval hamming distance from doc_id arithmetic and keeps the
    complement."""
    from .functions.imagehash import (
        image_decon_keep,
        perceptual_hash_table,
        synthetic_photo_payloads,
    )

    train = _image_hashes(spark, sf_dir)
    ev_ids = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .filter((F.col("doc_id") >= 480) & (F.col("doc_id") < 488))
        .repartition(8)
    )
    ev = perceptual_hash_table(synthetic_photo_payloads(ev_ids))
    return (
        image_decon_keep(train, ev, hamming_max=6, chunks=8)
        .select("doc_id", "format")
        .orderBy("doc_id")
    )


def q_kmv_distinct(spark, sf_dir):
    """KMV (bottom-k) distinct-count sketch per (event_type, day) —
    the brief's "novel sketch" operator class (the reference counts
    exactly; lib/lieu has no sketch surface). k=32, estimate =
    31 * 2^40 div h_32 over the md5 hash grid; cells with fewer than 32
    distinct users report exactly, so both estimator branches are
    exercised. Deterministic: DuckDB re-derives every hash, rank and
    quotient from the same md5 arithmetic."""
    from .functions.sketches import kmv_distinct

    e = load(spark, sf_dir, "events").select(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
    )
    return (
        kmv_distinct(e, ["event_type", "day"], "user_id", k=32)
        .orderBy("event_type", "day")
    )


def q_cms_heavy_hitters(spark, sf_dir):
    """Count-Min sketch frequency estimates for the corpus top-20 terms:
    one tokenize pass feeds the exact term counts; the 4x256 CMS grid is
    derived FROM those counts (no second scan) and broadcast for the
    top-20 lookup. overcount = cms_tf - true_tf is the CMS invariant
    (>= 0 always — min over rows never undercounts). DuckDB replays the
    grid, the top-20 rank, and every min-of-4 estimate."""
    from .functions.sketches import cms_lookup, cms_table

    d = load(spark, sf_dir, "documents")
    tc = (
        d.select(F.explode(T.tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("true_tf"))
    )
    cms = cms_table(tc, "token", "true_tf", depth=4, width=256)
    # distributed sort-limit (TakeOrderedAndProject) first, THEN rank the
    # surviving 20 rows — never a full-vocab single-partition window
    top20 = tc.orderBy(F.col("true_tf").desc(), F.col("token").asc()).limit(20)
    w = Window.orderBy(F.col("true_tf").desc(), F.col("token").asc())
    top = top20.withColumn("rank", F.row_number().over(w))
    return (
        cms_lookup(top, cms, "token", depth=4, width=256)
        .select(
            "rank",
            "token",
            "true_tf",
            F.col("cms_est").alias("cms_tf"),
            (F.col("cms_est") - F.col("true_tf")).alias("overcount"),
        )
        .orderBy("rank")
    )


def q_event_funnel(spark, sf_dir):
    """Ordered conversion funnel view -> click -> purchase in ONE
    exchange: stage timestamps are nested conditional mins over the same
    user partition (t2 = first click strictly after the first view, t3 =
    first purchase strictly after that click — each window reuses the
    prior's Exchange), then a singleton agg unpivoted to one row per
    stage. n_users counts users reaching the stage in order; sum_lag_s
    totals the floor-epoch seconds from the previous stage."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    ts = F.col("ts")
    typ = F.col("event_type")
    e2 = e.withColumn("t1", F.min(F.when(typ == "view", ts)).over(w))
    e2 = e2.withColumn(
        "t2", F.min(F.when((typ == "click") & (ts > F.col("t1")), ts)).over(w)
    )
    e2 = e2.withColumn(
        "t3", F.min(F.when((typ == "purchase") & (ts > F.col("t2")), ts)).over(w)
    )
    per_user = e2.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    sec = lambda c: F.col(c).cast("timestamp_ltz").cast("long")  # noqa: E731
    totals = per_user.agg(
        F.count("t1").alias("n1"),
        F.count("t2").alias("n2"),
        F.count("t3").alias("n3"),
        F.sum(F.when(F.col("t2").isNotNull(), sec("t2") - sec("t1"))).alias("lag2"),
        F.sum(F.when(F.col("t3").isNotNull(), sec("t3") - sec("t2"))).alias("lag3"),
    )
    return totals.selectExpr(
        "stack(3, '1_view', n1, CAST(NULL AS BIGINT),"
        " '2_click', n2, lag2,"
        " '3_purchase', n3, lag3) AS (stage, n_users, sum_lag_s)"
    ).orderBy("stage")


def q_theta_sketch_ops(spark, sf_dir):
    """Theta-sketch set operations (Dasgupta et al. 2016): pairwise
    audience union/intersection estimates between event-type user sets,
    computed ENTIRELY on k=32-row synopses (pair theta = min threshold,
    estimate = |S| * 2^40 div theta). Exact union/intersection ride along
    as verification columns (the distinct-pair join a sketch user would
    skip at scale). Deterministic md5 grid: DuckDB replays thresholds,
    retained sets, and every quotient."""
    from .functions.sketches import theta_pair_ops, theta_sketches

    e = load(spark, sf_dir, "events")
    sk = theta_sketches(e, "event_type", "user_id", k=32)
    est = theta_pair_ops(sk, "event_type").withColumnsRenamed(
        {"grp_a": "type_a", "grp_b": "type_b"}
    )
    du = e.select("event_type", "user_id").distinct()
    ex = (
        du.alias("a")
        .join(
            du.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("exact_inter"))
    )
    return (
        est.join(ex, ["type_a", "type_b"], "left")
        .withColumn("exact_inter", F.coalesce("exact_inter", F.lit(0)))
        .select(
            "type_a",
            "type_b",
            (F.col("nd_a") + F.col("nd_b") - F.col("exact_inter")).alias(
                "exact_union"
            ),
            "theta_union_est",
            "exact_inter",
            "theta_inter_est",
        )
        .orderBy("type_a", "type_b")
    )


def q_histogram_quantiles(spark, sf_dir):
    """Histogram quantile sketch: per-priority p50/p90/p99 of the order
    price read off a 256-bucket fixed-width histogram with in-bucket
    linear interpolation — the mergeable one-pass synopsis that replaces
    the per-group sort exact quantiles need. Exact rank-k values ride
    along (err_cents column) via a window rank the sketch path avoids.
    All integer cents math; DuckDB replays buckets, cumsums, and the
    interpolation."""
    from .functions.sketches import histogram_quantiles

    oc = load(spark, sf_dir, "orders").select(
        "o_orderpriority", cents(F.col("o_totalprice")).alias("price_cents")
    )
    est = histogram_quantiles(
        oc, ["o_orderpriority"], "price_cents", pcts=(50, 90, 99), nbuckets=256
    )
    ranked = oc.select(
        F.col("o_orderpriority").alias("prio2"),
        "price_cents",
        F.row_number()
        .over(Window.partitionBy("o_orderpriority").orderBy("price_cents"))
        .alias("rn"),
    )
    return (
        est.join(
            ranked,
            (F.col("o_orderpriority") == F.col("prio2"))
            & (F.col("rn") == F.expr("(n * pct + 99) div 100")),
        )
        .select(
            "o_orderpriority",
            "pct",
            "n",
            F.col("est").alias("est_cents"),
            F.col("price_cents").alias("exact_cents"),
            (F.col("est") - F.col("price_cents")).alias("err_cents"),
        )
        .orderBy("o_orderpriority", "pct")
    )


def q_sketch_rollup(spark, sf_dir):
    """Mergeable-synopsis rollup — the property that makes sketches the
    100 TB answer: per-(event_type, day) KMV synopses (k=32 retained
    hashes each) are merged up to per-event_type WITHOUT re-touching the
    raw stream (kmv_merge: union O(days * k) rows, re-rank, bottom-k),
    and the rolled-up estimate must equal the direct whole-stream
    sketch exactly (any hash with global rank r <= k has rank <= r
    inside its own day, so every day synopsis retained it — losslessness
    is structural, not approximate). est_match carries the invariant
    into the verified output; DuckDB re-derives both chains from the
    same md5 grid."""
    from .functions.sketches import kmv_distinct, kmv_merge, kmv_synopses

    e = load(spark, sf_dir, "events").select(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
    )
    syn = kmv_synopses(e, ["event_type", "day"], "user_id", k=32)
    merged = kmv_merge(syn, ["event_type"], k=32).select(
        "event_type",
        "n_syn",
        F.col("kmv_estimate").alias("merged_est"),
    )
    direct = kmv_distinct(e, ["event_type"], "user_id", k=32).select(
        F.col("event_type").alias("et2"),
        "n_exact",
        F.col("kmv_estimate").alias("direct_est"),
    )
    ndays = e.groupBy("event_type").agg(
        F.countDistinct("day").alias("n_days")
    ).select(F.col("event_type").alias("et3"), "n_days")
    return (
        merged.join(direct, F.col("event_type") == F.col("et2"))
        .join(ndays, F.col("event_type") == F.col("et3"))
        .select(
            "event_type",
            "n_days",
            "n_exact",
            "n_syn",
            "merged_est",
            "direct_est",
            (F.col("merged_est") == F.col("direct_est")).cast("int").alias("est_match"),
        )
        .orderBy("event_type")
    )


def q_soft_dedup(spark, sf_dir):
    """Soft dedup (duplicate-aware reweighting) — instead of hard-
    dropping duplicates, every member of a normalize-then-hash cluster
    (the normalized_exact_dup tier; fixture reuses its augmented frame
    so real multi-member clusters exist) gets weight 1/cluster_size and
    a deterministic md5-Bernoulli keep at that rate: expected surviving
    mass per cluster is one document, the survivor is an unbiased draw
    (no min-id/first-crawl bias), and the weights double as loss
    weights. One hash exchange on the cluster key; DuckDB re-derives
    every cluster size, ppm weight, and keep decision."""
    from .functions.sampling import soft_dedup_weights

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    var = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(
            ((F.col("doc_id") * 7919) % 97).cast("string"),
            F.lit(" "),
            F.upper(F.col("text")),
        ).alias("text"),
    )
    aug = d.unionByName(var)
    keyed = aug.select(
        "doc_id", F.md5(T.normalize_template(F.col("text"))).alias("norm_key")
    )
    out = soft_dedup_weights(keyed, "norm_key", "doc_id", salt="soft")
    grp = out.withColumn(
        "grp", F.min("doc_id").over(Window.partitionBy("norm_key")).cast("long")
    )
    return grp.select(
        "doc_id", "grp", "csize", "weight_ppm", "kept"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# P8 asymmetric-evidence guard + F10 verdict revision (operators/asymmetry.py;
# reference lib/lieu/dedupe.py:103-108,166-169 and 356-372)
# ---------------------------------------------------------------------------


def _aux_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 3-turn (conv_id, turn_idx, tool) rows over docs_aug
    — the SQL-expressible tool-usage fixture for the auxiliary-field
    rules: 'web_search' on turn 1 of doc_id % 3 == 0 convs,
    'calculator' on turn 2 of doc_id % 5 == 0 convs."""
    d = docs_aug(spark, sf_dir).select("doc_id")
    t = d.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(2))).alias("turn_idx")
    )
    tool = F.when(
        (F.col("doc_id") % 3 == 0) & (F.col("turn_idx") == 1),
        F.lit("web_search"),
    ).when(
        (F.col("doc_id") % 5 == 0) & (F.col("turn_idx") == 2),
        F.lit("calculator"),
    )
    return t.select(
        F.col("doc_id").alias("conv_id"), "turn_idx", tool.alias("tool")
    )


def q_asymmetry_guard(spark, sf_dir):
    """P8 (lib/lieu/dedupe.py:103-108): exact byte-duplicate pairs where
    the tool-usage field is present in exactly one conversation are
    refused (null_dupe) instead of classified — asymmetric evidence.
    Pair set = the exact sha star over docs_aug (the exact_dup_pairs
    fixture); signatures from the deterministic _aux_transcripts rule,
    so DuckDB re-derives the whole chain."""
    from .operators.asymmetry import apply_asymmetry_guard, field_signatures

    d = docs_aug(spark, sf_dir).select(
        F.col("doc_id").alias("conv_id"), F.sha2(F.col("text"), 256).alias("text_sha")
    )
    pairs = exact_star_pairs(d).withColumn("status", F.lit("exact_duplicate"))
    sigs = field_signatures(_aux_transcripts(spark, sf_dir), "tool")
    out = apply_asymmetry_guard(pairs, sigs)
    sa = sigs.select(F.col("conv_id").alias("id_a"), F.col("field_sig").alias("sig_a"))
    sb = sigs.select(F.col("conv_id").alias("id_b"), F.col("field_sig").alias("sig_b"))
    return (
        out.join(sa, "id_a", "left")
        .join(sb, "id_b", "left")
        .select("id_a", "id_b", "status", "sig_a", "sig_b")
        .orderBy("id_a", "id_b")
    )


def q_verdict_revision(spark, sf_dir):
    """F10 (PhoneNumberDeduper.revised_dupe_class,
    lib/lieu/dedupe.py:356-372): needs_review pairs whose tool
    signatures match upgrade to likely_duplicate; likely pairs with
    both-present-but-different signatures downgrade. Pair set =
    (doc_id, doc_id+3) so both directions fire (ids 3 apart share the
    %3 'web_search' family but split on the %5 'calculator' one);
    base verdicts alternate on id_a parity."""
    from .operators.asymmetry import field_signatures, revise_verdicts

    d = load(spark, sf_dir, "documents").select("doc_id")
    pairs = d.select(F.col("doc_id").alias("id_a")).join(
        d.select(F.col("doc_id").alias("id_b")),
        F.col("id_b") == F.col("id_a") + 3,
    )
    status = F.when(
        F.col("id_a") % 2 == 0, F.lit("needs_review")
    ).otherwise(F.lit("likely_duplicate"))
    verified = pairs.withColumn("status_before", status).withColumn(
        "status", F.col("status_before")
    )
    sigs = field_signatures(_aux_transcripts(spark, sf_dir), "tool")
    out = revise_verdicts(verified, sigs, keep_same_field=True)
    return out.select(
        "id_a",
        "id_b",
        "status_before",
        "status",
        F.col("same_field").cast("int").alias("same_f"),
    ).orderBy("id_a", "id_b")
