"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``   — flagship: full KG pipeline at sf0.001 → triples.
``queries()``      — one entry per implemented operator (SURVEY.md §2).
``oracle_sql()``   — DuckDB-equivalent ANSI SQL for every SQL-expressible
                     query (same column names/aliases, deterministic
                     ordering-insensitive values). Non-SQL ops (pandas-UDF
                     extraction, MinHash/xxhash64 paths, CC, emitter) have no
                     oracle entry → driver records rows-only checks; those are
                     covered by pytest goldens instead (tests/).

Numeric policy for cross-engine equality: money sums go through
``decimal(18,2)`` (exact, order-independent) and are rounded+cast to double;
ratios divide exact integers in float64 (IEEE-deterministic in both engines).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------


def _session_memo(spark: SparkSession, key: tuple, build):
    """``build()`` memoized ON the session object: the value dies with its
    session, and a later session (maybe with the same ``id``) never sees it."""
    memo = vars(spark).setdefault("_kbgen_memo", {})
    if key not in memo:
        memo[key] = build()
    return memo[key]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan handle per (session, path), memoized (round 6, guide §5):
    every ``spark.read.parquet`` call re-lists the path and re-reads the
    footer schema on the driver — ~0.1 s each, so a 6-table query paid
    ~0.5 s of pure driver work per plan build. The cached object is an
    UNEXECUTED scan node — no data, no results, nothing persisted; every
    action still computes from the parquet files exactly as before (the
    same way any application holds its table handles instead of re-opening
    them per query).

    The file listing is fixed at the first read: a table rewritten in place
    needs a new session."""
    path = f"{sf_dir}/{name}.parquet"
    return _session_memo(spark, ("table", path), lambda: spark.read.parquet(path))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the end-to-end KG construction pipeline at sf0.001."""
    from kbgen_spark.pipeline import run_pipeline

    return run_pipeline(spark, "/root/testdata/sf0.001").triples


# --------------------------------------------------------------------------
# A. aggregations
# --------------------------------------------------------------------------


def q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(dec("l_quantity")), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(dec("l_extendedprice")), 2).cast("double").alias("sum_base_price"),
            F.round(
                F.sum(
                    (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))).cast(
                        "decimal(28,6)"
                    )
                ),
                4,
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def agg_rollup_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


def agg_cube_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
        )
    )


def agg_distinct_counts(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.count("*").alias("n_customers"),
    )


def agg_degree_histogram(spark, sf_dir):
    """A4-shaped: out-degree histogram of the orders 'graph' (customer→order)."""
    o = _t(spark, sf_dir, "orders")
    deg = o.groupBy("o_custkey").agg(F.count("*").alias("deg"))
    return deg.groupBy("deg").agg(F.count("*").alias("n_customers")).orderBy("deg")


def agg_grouping_sets_orders(spark, sf_dir):
    """A9 — explicit GROUPING SETS (rollup/cube's general form)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
        )
    )


def q6_revenue_delta(spark, sf_dir):
    """TPC-H Q6 shape: pure scan-filter-agg — pushdown showcase."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice").cast("decimal(18,2)")
                        * F.col("l_discount").cast("decimal(18,2)")
                    ).cast("decimal(28,6)")
                ),
                4,
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n"),
        )
    )


def pivot_orders_status(spark, sf_dir):
    """Pivot (wide counts per status) — mirrored with CASE sums in DuckDB."""
    o = _t(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        F.col("o_orderpriority").alias("priority"),
        F.coalesce("F", F.lit(0)).cast("bigint").alias("n_f"),
        F.coalesce("O", F.lit(0)).cast("bigint").alias("n_o"),
        F.coalesce("P", F.lit(0)).cast("bigint").alias("n_p"),
    )


# --------------------------------------------------------------------------
# B. joins
# --------------------------------------------------------------------------


def join_broadcast_chain(spark, sf_dir):
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_acctbal"),
        )
    )


def join_semi_customers_with_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
    )


def join_anti_customers_without_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    big_orders = o.filter(F.col("o_totalprice") > 450000)
    return (
        c.join(big_orders, c.c_custkey == big_orders.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


def q3_top_revenue_orders(spark, sf_dir):
    """Round-6 plan shape (guide §2.3 "aggregate before you shuffle", §3.1):
    revenue partial-aggregates per l_orderkey BEFORE any join — lineitem's
    ~4 rows/order collapse in their scan partitions (the table is laid out
    by orderkey, so map-side combine does most of the work) and the joins
    probe ~orders-sized input instead of lineitem-sized. orders/customer
    carry no broadcast hint: under ``autoBroadcastJoinThreshold`` the
    planner already builds them as broadcast sides (test-pinned at sf0.01),
    and once they outgrow it the join shuffles instead of broadcasting an
    unbounded table. o_orderkey is unique, so grouping by l_orderkey first
    then re-aggregating per (o_orderkey, c_mktsegment) is exact algebra —
    decimal sums are associative — and the driver-hash result is unchanged
    (verified). Measured 1.83 s → 1.31 s at sf0.1/local[32] (min-of-4)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
    ).cast("decimal(28,6)")
    per_order = li.groupBy("l_orderkey").agg(F.sum(rev).alias("_rev"))
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "c_mktsegment")
        .agg(F.round(F.sum("_rev"), 4).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q5_region_nation_revenue(spark, sf_dir):
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
    ).cast("decimal(28,6)")
    # supplier, nation and region stay explicit broadcasts (guide §3.1;
    # nation/region are fixed-size, supplier is 1/150 of orders). orders
    # and customer carry no hint: under ``autoBroadcastJoinThreshold`` the
    # planner already builds them as broadcast sides (test-pinned at
    # sf0.01), and once they outgrow it the join shuffles instead of
    # broadcasting an unbounded table.
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(c.c_nationkey == s.s_nationkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum(rev), 4).cast("double").alias("revenue"))
    )


def join_salted_hot_key(spark, sf_dir):
    """K2 — salted join of skewed events against a small dim; semantics equal
    a plain join (the oracle is the plain SQL)."""
    from kbgen_spark.plans.skew import salted_join

    e = _t(spark, sf_dir, "events")
    dim = spark.createDataFrame(
        [("click", 1), ("view", 2), ("purchase", 10), ("signup", 5), ("error", 0)],
        "event_type string, weight int",
    )
    j = salted_join(e, dim, "event_type", buckets=8)
    return j.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum((F.col("value").cast("decimal(18,6)") * F.col("weight")).cast("decimal(28,6)")),
            4,
        )
        .cast("double")
        .alias("weighted_value"),
    )


# --------------------------------------------------------------------------
# C. windows
# --------------------------------------------------------------------------


def window_topk_orders_per_customer(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    )


def window_lag_event_gap(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    prev = F.lag(ms).over(w)
    return e.select(
        "user_id", "event_id", (ms - prev).alias("gap_ms")
    ).filter(F.col("gap_ms").isNotNull())


def window_rolling_sum_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        F.round(F.sum(F.col("value").cast("decimal(18,6)")).over(w), 4)
        .cast("double")
        .alias("rolling_value"),
    )


def window_ntile_customers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    w = Window.orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return c.select("c_custkey", F.ntile(4).over(w).cast("bigint").alias("quartile"))


def window_dense_rank_parts(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return p.select("p_brand", "p_partkey", F.dense_rank().over(w).cast("bigint").alias("rk")).filter(
        F.col("rk") <= 5
    )


# --------------------------------------------------------------------------
# D. sorts / top-k / per-group top-1
# --------------------------------------------------------------------------


def topk_expensive_parts(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return (
        p.orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
        .limit(20)
        .select("p_partkey", "p_name", "p_retailprice")
    )


def per_group_top1_order(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.expr("max_by(o_orderkey, struct(o_totalprice, o_orderkey))").alias(
            "best_orderkey"
        ),
        F.max("o_totalprice").alias("best_price"),
    )


def window_percentiles(spark, sf_dir):
    """W5 — exact interpolated percentiles per group."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.min("value"), 6).alias("vmin"),
        F.round(F.max("value"), 6).alias("vmax"),
    )


def asof_join_purchases(spark, sf_dir):
    """J8 — as-of join via union+window (no BroadcastNestedLoop): each event
    gets the latest prior purchase value of the same user."""
    from kbgen_spark.operators.temporal import asof_join

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    p = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 6).alias("pvalue"))
    )
    out = asof_join(e, p, on="user_id", ts="ts", right_cols=["pvalue"])
    return out.select("event_id", "user_id", "event_type", F.col("pvalue_r").alias("last_purchase_value"))


# --------------------------------------------------------------------------
# E. set operations
# --------------------------------------------------------------------------


def set_except_customers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    urgent = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    rich = c.filter(F.col("c_acctbal") > 0).select("c_custkey")
    return rich.exceptAll(urgent).distinct()


def set_intersect_orderkeys(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = o.filter(F.col("o_totalprice") > 100).select(F.col("o_orderkey").alias("k"))
    disc = li.filter(F.col("l_discount") > 0.05).select(F.col("l_orderkey").alias("k"))
    return big.intersect(disc)


def set_union_keys(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_orderkey").alias("k"))
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("k")
    )
    return a.union(b).distinct()


# --------------------------------------------------------------------------
# F. scalar function families
# --------------------------------------------------------------------------


def string_funcs_parts(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("uname"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.substring("p_name", 1, 5).alias("prefix"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
    )


def math_funcs_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.pow("l_quantity", 2), 4).alias("qty_sq"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("log_price"),
        F.floor("l_quantity").cast("bigint").alias("qty_floor"),
        F.round(F.sqrt("l_tax"), 6).alias("tax_sqrt"),
    )


def array_funcs_documents(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
        F.array_join(F.slice(toks, 1, 3), " ").alias("first3"),
        F.array_join(F.sort_array(F.array_distinct(toks)), ",").alias("vocab"),
    )


def map_funcs_orders(spark, sf_dir):
    """F4 — map construction/access; result exploded back to rows so the
    oracle can mirror it relationally."""
    o = _t(spark, sf_dir, "orders")
    per = o.groupBy("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))
    mapped = per.groupBy("o_orderstatus").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("o_orderpriority", "n")))
        ).alias("m")
    )
    return mapped.select(
        "o_orderstatus",
        F.explode("m").alias("priority", "n"),
    )


def json_funcs_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.select(k.alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n"))
        .orderBy("k")
    )


def date_funcs_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    return (
        e.groupBy(day.alias("day"))
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("day")
    )


def window_first_last_events(spark, sf_dir):
    """W-family: first_value/last_value over a full-frame window."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return e.select(
        "user_id",
        "event_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
    )


def array_hof_documents(spark, sf_dir):
    """F3 higher-order array functions: exists / forall / filter+reduce."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.exists(toks, lambda t: t == "the").alias("has_the"),
        F.forall(toks, lambda t: F.length(t) > 0).alias("all_nonempty"),
        F.aggregate(
            F.filter(toks, lambda t: F.length(t) >= 4),
            F.lit(0).cast("bigint"),
            lambda acc, t: acc + F.length(t).cast("bigint"),
        ).alias("long_tok_chars"),
    )


def regexp_extract_parts(spark, sf_dir):
    """F1 regexp_extract: first word + trailing digits of the brand."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.regexp_extract("p_brand", r"(\d+)$", 1).alias("brand_num"),
    )


def hash_funcs_customers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.md5("c_name").alias("md5_name"),
        F.sha2(F.col("c_name"), 256).alias("sha256_name"),
    )


# --------------------------------------------------------------------------
# G. time windows (streaming shapes as batch)
# --------------------------------------------------------------------------


def tumbling_event_counts(spark, sf_dir):
    from kbgen_spark.streaming.ingest import tumbling_counts

    return tumbling_counts(_t(spark, sf_dir, "events"), "1 hour")


def session_window_counts(spark, sf_dir):
    from kbgen_spark.streaming.ingest import session_counts

    e = _t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    return session_counts(e, "5 minutes")


# --------------------------------------------------------------------------
# H. KG pipeline — SQL-expressible derivations over the raw documents table
# --------------------------------------------------------------------------


def kg_gazetteer(spark, sf_dir):
    """Unigram gazetteer derivation (FIXTURES.md §2) — frequency-ranked."""
    from kbgen_spark import fixtures as FX

    g = FX.build_gazetteer(_t(spark, sf_dir, "documents"))
    # restrict to the SQL-mirrorable core: unigrams from the corpus (plural
    # variants and phrases are separate surface rows; unigram rows = tokens).
    toks = _t(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("tok")
    ).distinct()
    return (
        g.join(toks, g.surface_form == toks.tok, "left_semi")
        .filter(~F.col("surface_form").contains(" "))
        .select("surface_form", "entity_id", "entity_type", F.round("prior", 8).alias("prior"))
    )


def kg_mentions_by_entity(spark, sf_dir):
    """Single-token mention counts per entity (extract+link, SQL shape)."""
    from kbgen_spark import fixtures as FX

    d = _t(spark, sf_dir, "documents")
    g = FX.build_gazetteer(d)
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    return (
        toks.join(F.broadcast(g), toks.tok == g.surface_form)
        .groupBy("entity_id", "entity_type")
        .agg(
            F.count("*").alias("n_mentions"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


def _one_span_docs(d):
    """Flat documents → one-text-span interleaved shape (shared by the
    mention-detection oracle entries)."""
    return d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )


def kg_mentions_greedy_sql(spark, sf_dir):
    """V1 mention detection with a REAL oracle (round 4): the shipped
    greedy longest-match scan (extract_mentions, which picks its Catalyst
    formulation from the gazetteer size) over the gazetteer's uni/bigram
    subset (round 5: the full gazetteer carries 3-5-token phrases — see
    kg_mentions_kgram for the any-k entry; THIS entry pins the k<=2 regime
    where the island-parity closed form exists), on flat docs treated as
    one text span each. DuckDB replays the same greedy automaton in closed
    form via island-parity windows: a bigram candidate is selected iff its
    row_number within a run of consecutive bigram-candidate positions is
    odd, and a unigram fires iff no bigram candidate sits at its position
    and the previous position's bigram wasn't selected — an independent
    formulation checked against the Spark automaton. Aggregated per
    mention (count + sum of positions) so the compare stays compact while
    remaining fully sensitive to WHICH positions greedy selection picked."""
    from kbgen_spark import fixtures as FX
    from kbgen_spark.operators.extract import extract_mentions

    d = _t(spark, sf_dir, "documents")
    gaz2 = FX.build_gazetteer(d).filter(
        F.size(F.split("surface_form", " ")) <= 2
    )
    out = extract_mentions(_one_span_docs(d), gaz2)
    return (
        out.groupBy("mention")
        .agg(
            F.count("*").alias("n"),
            F.sum("tok_start").alias("sum_pos"),
        )
    )


def kg_mentions_literal(spark, sf_dir):
    """The SHIPPED extract default under the driver gate (round 5):
    whole-gazetteer-literal mention detection — the greedy automaton runs
    fully array-side with the gazetteer inlined as InSet plan literals,
    zero joins / zero shuffles (plan-asserted in pytest). Same aggregation
    and the same recursive-decomposition DuckDB oracle as
    kg_mentions_kgram, so the two entries pin that the literal plan and
    the broadcast-join sparse decomposition agree with the independent
    cross-engine replay on identical input."""
    from kbgen_spark import fixtures as FX
    from kbgen_spark.operators.extract import extract_mentions_sql_literal

    d = _t(spark, sf_dir, "documents")
    out = extract_mentions_sql_literal(_one_span_docs(d), FX.build_gazetteer(d))
    return out.groupBy("mention").agg(
        F.count("*").alias("n"),
        F.sum("tok_start").alias("sum_pos"),
        F.min("tok_start").alias("min_pos"),
    )


def kg_mentions_kgram(spark, sf_dir):
    """Round-5 V1 generalization oracle: greedy longest-match over the FULL
    gazetteer — unigrams, 2-5-token phrases (FIXTURES N_NGRAM_PHRASES) and
    plural variants — via the anchored k-token candidate joins + sparse
    greedy decomposition (extract_mentions_sql_sparse, k derived from the
    gazetteer: the formulation extract_mentions takes above the literal
    cap, forced here so it stays under the oracle at fixture size). DuckDB
    mirrors the n-gram gazetteer derivation, generates candidates by
    position × length, and replays the SAME greedy automaton with a
    list_reduce fold over (pos asc, len desc)-ordered candidates; the
    pure-python reference
    (detect_mentions_py) pins the automaton itself in pytest, so the
    cross-engine agreement checks candidate generation + fold semantics on
    genuinely multi-length input. Aggregated per mention (count, sum and min
    of positions) — compact but fully sensitive to greedy selection."""
    from kbgen_spark import fixtures as FX
    from kbgen_spark.operators.extract import extract_mentions_sql_sparse

    d = _t(spark, sf_dir, "documents")
    out = extract_mentions_sql_sparse(_one_span_docs(d), FX.build_gazetteer(d))
    return out.groupBy("mention").agg(
        F.count("*").alias("n"),
        F.sum("tok_start").alias("sum_pos"),
        F.min("tok_start").alias("min_pos"),
    )


def kg_cooccur_pairs(spark, sf_dir):
    """Doc-scope co-occurrence pair counts (materialize, SQL shape).

    Round-6 plan shape (guide §2.4 "two operations keyed the same way can
    share one exchange"): the entity stream repartitions by doc_id ONCE —
    hash partitioning on doc_id co-locates every (doc_id, entity_id) pair,
    which satisfies both the distinct's clustering AND the self-join's,
    so neither inserts its own exchange; the self-join builds a shuffled
    hash table instead of sort-merge (per-doc groups are gazetteer-bounded).
    Measured 0.99 → 0.82 s for the pair phase at sf0.1/local[32],
    identical output. The layout is materialize's ``partition_by_doc``
    (the session's shuffle partitions, never a local-core constant)."""
    from kbgen_spark import fixtures as FX
    from kbgen_spark.operators.materialize import partition_by_doc

    d = _t(spark, sf_dir, "documents")
    g = FX.build_gazetteer(d)
    ents = partition_by_doc(
        d.select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok"))
        .join(F.broadcast(g), F.col("tok") == g.surface_form)
        .select("doc_id", "entity_id")
    ).distinct()
    a = ents.select("doc_id", F.col("entity_id").alias("e1"))
    b = ents.select("doc_id", F.col("entity_id").alias("e2")).hint("SHUFFLE_HASH")
    return (
        a.join(b, "doc_id")
        .filter(F.col("e1") < F.col("e2"))
        .groupBy("e1", "e2")
        .agg(F.count("*").alias("n_docs"))
    )


def kg_entity_degree(spark, sf_dir):
    pairs = kg_cooccur_pairs(spark, sf_dir)
    both = pairs.select(F.col("e1").alias("entity")).unionByName(
        pairs.select(F.col("e2").alias("entity"))
    )
    return both.groupBy("entity").agg(F.count("*").alias("degree"))


def kg_multitype_dist(spark, sf_dir):
    """A2 over the (unigram) gazetteer's (entity, type) pairs."""
    g = kg_gazetteer(spark, sf_dir)
    mt = g.groupBy("entity_id").agg(
        F.array_join(F.sort_array(F.collect_set("entity_type")), "|").alias("mt")
    )
    return mt.groupBy("mt").agg(F.count("*").alias("n"))


# --------------------------------------------------------------------------
# I. training-data ops (SQL-expressible variants)
# --------------------------------------------------------------------------


def kg_split_type_assertions(spark, sf_dir):
    """P3 — split rdf:type assertions from relation triples over a
    SQL-derivable KB (gazetteer type rows + co-occurrence relation rows)."""
    from kbgen_spark.operators.materialize import split_type_assertions

    g = kg_gazetteer(spark, sf_dir)
    type_triples = g.select(
        F.col("entity_id").alias("subj"),
        F.lit("rdf:type").alias("pred"),
        F.col("entity_type").alias("obj"),
    ).distinct()
    rel_triples = kg_cooccur_pairs(spark, sf_dir).select(
        F.col("e1").alias("subj"),
        F.lit("P_cooccur").alias("pred"),
        F.col("e2").alias("obj"),
    )
    triples = type_triples.unionByName(rel_triples)
    typed, rels = split_type_assertions(triples)
    return (
        typed.select(F.lit("type").alias("part"), "pred")
        .unionByName(rels.select(F.lit("rel").alias("part"), "pred"))
        .groupBy("part", "pred")
        .agg(F.count("*").alias("n"))
    )


def rules_chain_inference(spark, sf_dir):
    """J6 — 2-atom horn rule fired at confidence 1.0 (deterministic, so the
    DuckDB oracle can mirror it exactly): P_cooccur(a,b) ∧ P_cooccur(b,c)
    ⇒ P_reach2(a,c)."""
    from kbgen_spark.models.rules import apply_horn_rules, parse_amie_rule

    triples = kg_cooccur_pairs(spark, sf_dir).select(
        F.col("e1").alias("subj"),
        F.lit("P_cooccur").alias("pred"),
        F.col("e2").alias("obj"),
    )
    rule = parse_amie_rule(
        "?a <P_cooccur> ?b  ?b <P_cooccur> ?c => ?a <P_reach2> ?c", 1.0
    )
    return apply_horn_rules(triples, [rule], seed=42)


def type_closure_nations(spark, sf_dir):
    """Type-hierarchy closure (SURVEY §1.1) over a deterministic DAG derived
    from nation→region→WORLD; iterative self-join, DuckDB-mirrorable."""
    from kbgen_spark.models.learn import type_closure

    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    edges = (
        n.join(r, n.n_regionkey == r.r_regionkey)
        .select(F.col("n_name").alias("type"), F.col("r_name").alias("parent"))
        .unionByName(
            r.select(F.col("r_name").alias("type"), F.lit("WORLD").alias("parent"))
        )
    )
    return type_closure(edges)


def dedup_bow_exact(spark, sf_dir):
    """Exact dedup on the bag-of-distinct-words identity."""
    d = _t(spark, sf_dir, "documents")
    key = F.md5(
        F.array_join(F.sort_array(F.array_distinct(F.split("text", " "))), " ")
    )
    return (
        d.groupBy(key.alias("bow_hash"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


def dedup_ngram_jaccard_pairs(spark, sf_dir):
    from kbgen_spark.operators.dedup import dedup_ngram_jaccard

    d = _t(spark, sf_dir, "documents")
    out = dedup_ngram_jaccard(d, threshold=0.9)
    return out.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def similarity_cosine_topk(spark, sf_dir):
    from kbgen_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    return cosine_topk(emb, q, k=5).select(
        "qid", "vec_id", F.col("rank").cast("bigint").alias("rank")
    )


def lang_id_documents(spark, sf_dir):
    from kbgen_spark.operators.textstats import lang_id

    return lang_id(_t(spark, sf_dir, "documents"))


def quality_scores_documents(spark, sf_dir):
    from kbgen_spark.operators.textstats import quality_score

    return quality_score(_t(spark, sf_dir, "documents"))


def token_counts_documents(spark, sf_dir):
    from kbgen_spark.operators.textstats import token_counts

    return token_counts(_t(spark, sf_dir, "documents"))


def fingerprint_md5_documents(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", F.md5("text").alias("md5_fp"))


def embedding_norms(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    return emb.select("vec_id", "label", F.round(norm, 4).alias("l2_norm"))


# --------------------------------------------------------------------------
# J. non-SQL-expressible ops — rows-only driver checks, pytest-covered
# --------------------------------------------------------------------------


def pipeline_triples(spark, sf_dir):
    """Full pipeline output, memoized per session and sf_dir (deterministic,
    so caching is sound): the emit/canon entries below all derive from it,
    and without the checkpoint every action would replay the whole flow."""
    from kbgen_spark.pipeline import run_pipeline

    build = lambda: run_pipeline(spark, sf_dir).triples.localCheckpoint(eager=True)
    return _session_memo(spark, ("pipeline", sf_dir), build)


def pipeline_mentions_udf(spark, sf_dir):
    """The Iterator-pandas-UDF trie path, exercised explicitly (the pipeline
    default is the pure-Catalyst path since round 4 — see
    kg_mentions_literal / kg_mentions_kgram for its DuckDB-oracled twins;
    equality of the paths is pinned in tests/test_pipeline.py)."""
    from kbgen_spark import fixtures as FX
    from kbgen_spark.operators.extract import extract_mentions

    flat = FX.load_flat_documents(spark, sf_dir)
    return extract_mentions(
        FX.interleave_documents(flat), FX.build_gazetteer(flat), use_udf=True
    )


def canon_components(spark, sf_dir):
    from kbgen_spark import fixtures as FX
    from kbgen_spark.pipeline import build_canon_map

    gaz = lambda: FX.build_gazetteer(FX.load_flat_documents(spark, sf_dir))
    build = lambda: build_canon_map(gaz()).localCheckpoint(eager=True)
    return _session_memo(spark, ("canon", sf_dir), build)


def canon_map_mirror(spark, sf_dir):
    """G1/G2/J5 canonicalization with a REAL cross-engine oracle (round 5 —
    upgrades the rows-only canon_components check): build_canon_map over the
    full fixture gazetteer with the md5-60-bit MinHash family injected and
    the DISTRIBUTED path forced (local_threshold=0 — the LSH band self-join,
    large/small-star connected components, and min-struct rep selection all
    execute as Spark plans; the driver-local mirror is bit-equal by pytest
    pin). DuckDB replays the identical chain — char-bigram shingles, 32
    md5-60-bit min-hashes, 16 band-slice buckets (bucket equality IS slice
    equality; the xxhash64 bucket code Spark uses is only an equi-join key),
    candidate pairs, exact bigram-Jaccard >= 0.5 verify — then resolves
    components by recursive transitive closure (min reachable surface) and
    applies the same min-tuple rep selection. Any divergence in candidate
    generation, CC, or rep tie-breaks fails the value hash."""
    from kbgen_spark import fixtures as FX
    from kbgen_spark.fixtures_openvocab import mirrorable_shingle_hash
    from kbgen_spark.pipeline import build_canon_map

    flat = FX.load_flat_documents(spark, sf_dir)
    gaz = FX.build_gazetteer(flat)
    return build_canon_map(
        gaz, local_threshold=0, shingle_hash=mirrorable_shingle_hash
    )


def pipeline_triples_mirror(spark, sf_dir):
    """The FLAGSHIP end-to-end query with a full cross-engine oracle
    (round 5): extract → link → canonicalize → materialize, every stage
    replayed in DuckDB. Same stage operators run_pipeline composes, over
    one-text-span docs (the kgram entry pins the span machinery; the
    golden e2e test pins interleaved spans at fixture scale), with the
    md5-60-bit MinHash family injected into canon so the LSH chain is
    mirrorable. The oracle replays: any-k greedy mention detection
    (recursive decomposition), per-surface top-1 link verdicts
    (prior desc, entity_id asc), the full canon chain (shingles → minhash →
    band buckets → Jaccard verify → components by transitive closure → min
    reps), and triple assembly (doc-scope typed pairs + span-scope
    gap/order patterns, distinct). Output: distinct (subj, pred, obj)."""
    from kbgen_spark import fixtures as FX
    from kbgen_spark.fixtures_openvocab import mirrorable_shingle_hash
    from kbgen_spark.operators.extract import extract_mentions
    from kbgen_spark.operators.link import link_and_canonicalize
    from kbgen_spark.operators.materialize import assemble_triples
    from kbgen_spark.pipeline import build_canon_map

    d = _t(spark, sf_dir, "documents")
    gaz = FX.build_gazetteer(d)
    patterns = FX.build_relation_patterns(spark)
    mentions = extract_mentions(_one_span_docs(d), gaz)
    canon = build_canon_map(gaz, shingle_hash=mirrorable_shingle_hash)
    return assemble_triples(link_and_canonicalize(mentions, gaz, canon), patterns)


def emit_m1_sample(spark, sf_dir):
    from kbgen_spark.models.emit import emit_synthetic
    from kbgen_spark.models.learn import learn_m1

    triples = pipeline_triples(spark, sf_dir)
    types = canon_components(spark, sf_dir).select(
        F.col("canon_id").alias("entity"), F.col("canon_type").alias("type")
    ).distinct()
    model = learn_m1(triples, types)
    return emit_synthetic(spark, model, 10_000, seed=42, mode="m1")


def emit_m2_sample(spark, sf_dir):
    from kbgen_spark.models.emit import emit_synthetic
    from kbgen_spark.models.learn import learn_m2

    triples = pipeline_triples(spark, sf_dir)
    types = canon_components(spark, sf_dir).select(
        F.col("canon_id").alias("entity"), F.col("canon_type").alias("type")
    ).distinct()
    model = learn_m2(triples, types)
    return emit_synthetic(spark, model, 10_000, seed=42, mode="m2")


def emit_emi_sample(spark, sf_dir):
    """eMi mode: entity selection ∝ degree (popularity bias)."""
    from kbgen_spark.models.emit import emit_synthetic
    from kbgen_spark.models.learn import learn_emi

    triples = pipeline_triples(spark, sf_dir)
    types = canon_components(spark, sf_dir).select(
        F.col("canon_id").alias("entity"), F.col("canon_type").alias("type")
    ).distinct()
    model = learn_emi(triples, types)
    return emit_synthetic(spark, model, 10_000, seed=42, mode="emi")


def emit_m3_rules_sample(spark, sf_dir):
    """M3: horn rules fired over the M1 emission in one apply_horn_rules
    call — a 1-atom rule (P_near ⇒ P_implied at 0.7) AND a 2-atom chain
    rule (P_near(x,z) ∧ P_follows(z,y) ⇒ P_chain(x,y) at 0.5)."""
    from kbgen_spark.models.rules import apply_horn_rules, parse_amie_rule

    base = emit_m1_sample(spark, sf_dir)
    rules = [
        parse_amie_rule("?x <P_near> ?y => ?x <P_implied> ?y", 0.7),
        parse_amie_rule("?x <P_near> ?z  ?z <P_follows> ?y => ?x <P_chain> ?y", 0.5),
    ]
    return apply_horn_rules(base, rules, seed=42)


def minhash_doc_pairs(spark, sf_dir):
    """MinHash-LSH near-dup pairs. The DuckDB oracle computes ALL pairs with
    word-3-shingle Jaccard ≥ τ; the LSH path (k=32, b=16, r=2: candidate
    probability 1−(1−j²)^16 ≈ 0.9897 at j=0.5, ≈ 1 at the fixture's actual
    near-dup similarities) finds the same set on this corpus — verified, and
    deterministic (xxhash64), so the equality is stable across runs. A
    recall<1 LSH miss would surface as a hash mismatch, which is exactly
    what the oracle is for.

    The documents table is one parquet row group; dedup_minhash_lsh itself
    spreads such an under-split scan across the shuffle partitions before
    its shingle fan-out. The same A/B left simhash flat and made ngram
    WORSE, so only the MinHash operator does this."""
    from kbgen_spark.operators.dedup import dedup_minhash_lsh

    out = dedup_minhash_lsh(_t(spark, sf_dir, "documents"), threshold=0.5)
    return out.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def simhash_doc_pairs(spark, sf_dir):
    """SimHash near-dup pairs, cross-engine-mirrorable variant: the token
    hash is the first 15 hex chars of md5 (60 bits, always positive — both
    engines then agree on >>, &, xor and bit_count), so the ENTIRE simhash +
    banding + Hamming pipeline has an exact DuckDB oracle."""
    from kbgen_spark.operators.dedup import dedup_simhash

    md5_60 = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("bigint")
    out = dedup_simhash(
        _t(spark, sf_dir, "documents"),
        max_hamming=3,
        bits=60,
        token_hash=md5_60,
    )
    return out.select("a", "b", F.col("hamming").cast("bigint").alias("hamming"))


def ivf_ann_topk(spark, sf_dir):
    """Multi-probe IVF/LSH ANN (probes=7 → all Hamming-1 buckets of the
    6-bit code). Measured recall@5 vs the exact path is pinned in
    tests/test_rules_hierarchy.py: ≥ 0.9 on clustered data (the IVF regime);
    0.39 on the weak-similarity fixture (top-5 cosine ≈ 0.3 — an information
    limit of that data, documented there).

    Round 4: the bucket code uses the md5-60-bit sign family
    (md5_sign_hash) so DuckDB replays the exact code→probe→candidate→top-k
    chain — this entry is oracle-checked, not rows-only (VERDICT r3 #4).
    Float scores are dropped from the compare (rank + vec_id fully determine
    the result; same convention as similarity_cosine_topk)."""
    from kbgen_spark.operators.similarity import ivf_topk, md5_sign_hash

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("qid"), "embedding")
    out = ivf_topk(emb, q, k=5, nbits=6, probes=7, sign_hash=md5_sign_hash)
    return out.select("qid", "vec_id", "rank")


def ann_recall_at_k(spark, sf_dir):
    """Per-query recall@5 of the multi-probe ANN path vs the exact cosine
    top-k — the recall *measurement* as a first-class query. Oracle-checked
    since round 4: both sides of the recall ratio are replayed in DuckDB
    (the ANN side via the md5-60-bit sign family)."""
    from kbgen_spark.operators.similarity import cosine_topk, ivf_topk, md5_sign_hash

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    exact = cosine_topk(emb, q, k=5).select("qid", "vec_id")
    approx = ivf_topk(emb, q, k=5, nbits=6, probes=7, sign_hash=md5_sign_hash).select(
        F.col("qid").alias("aqid"), F.col("vec_id").alias("avec")
    )
    hit = exact.join(
        approx,
        (exact.qid == approx.aqid) & (exact.vec_id == approx.avec),
        "left",
    )
    return (
        hit.groupBy("qid")
        .agg(
            (F.count("avec") / F.count("*")).alias("recall_at_5"),
        )
        .orderBy("qid")
    )


def embedding_near_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-dup dedup under the oracle gate (round 5):
    plant deterministic perturbed copies (md5-60-bit noise, vec_id+100000 —
    regenerated bit-identically by DuckDB), then find all cosine ≥ 0.98
    pairs via BANDED hyperplane LSH (3 bands × 4 sign bits, md5 sign family)
    + exact verify. Candidate generation is a per-band equi-join on ids only
    — never all-pairs, vectors joined back post-dedup. Completes the dedup
    family (exact / minhash / simhash / ngram-jaccard / embedding-cosine)
    with its scale path driver-checked."""
    from kbgen_spark.operators.similarity import (
        cosine_near_dup_banded,
        md5_sign_hash,
        planted_near_dup_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings")
    aug = planted_near_dup_embeddings(emb, n_dups=50, eps=0.02)
    return cosine_near_dup_banded(
        aug, threshold=0.98, bands=3, bits_per_band=4, sign_hash=md5_sign_hash
    )


def media_feature_extraction(spark, sf_dir):
    """Media decode-contract plumbing as a driver row. The operator returns
    ``feature array<float>``; the driver's canonicalizer pandas-sorts every
    column, and list values are unhashable there — so the ENTRY projects the
    array to a deterministic CSV string (the full-array values stay pinned in
    tests/test_multimodal_contract.py; the operator's array API is untouched).
    Rows-only check: no SQL oracle (mapInPandas decode)."""
    from kbgen_spark import fixtures as FX
    from kbgen_spark.operators.multimodal import extract_media_features, media_spans

    docs = FX.interleave_documents(FX.load_flat_documents(spark, sf_dir))
    feats = extract_media_features(media_spans(docs))
    return feats.select(
        "doc_id",
        "span_idx",
        "kind",
        "media_ref",
        "n_bytes",
        "width",
        "height",
        F.array_join(
            F.transform("feature", lambda x: F.format_number(x, 6)), ","
        ).alias("feature_csv"),
    )


# --------------------------------------------------------------------------
# open-vocabulary dedup fixture (round-2 verdict item 3): ~10k-token open
# vocabulary + planted near-dup pairs, derived deterministically from the
# documents table's doc_ids in BOTH engines (see fixtures_openvocab.py for
# the shared generation spec; the ov_* CTEs in oracle_sql() mirror it).
# --------------------------------------------------------------------------


def openvocab_ngram_pairs(spark, sf_dir):
    """Exact token-set Jaccard (PPJoin prefix filter) on the open-vocabulary
    corpus — selectivity is real here: only the ~10% planted pairs qualify,
    and the prefix filter actually prunes (the prune ratio is pinned in
    tests/test_openvocab.py and recorded in PLANS.md)."""
    from kbgen_spark.fixtures_openvocab import open_vocab_corpus
    from kbgen_spark.operators.dedup import dedup_ngram_jaccard

    d = open_vocab_corpus(_t(spark, sf_dir, "documents"))
    out = dedup_ngram_jaccard(d, threshold=0.6)
    return out.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


# 16 hashes in 4 bands x 4 rows: candidate probability 1-(1-j^4)^4 ≈ 0.42
# at j=0.6, ≈ 0.87 at j=0.8 — the planted pairs (shingle-Jaccard 0.45-1.0)
# are genuinely missable, so openvocab_lsh_recall lands measurably below
# 1.0 and the candidate-verification oracle proves it is tracked exactly.
_OV_LSH_K = 16
_OV_LSH_BANDS = 4
_OV_TAU = 0.4


def openvocab_minhash_pairs(spark, sf_dir):
    """MinHash-LSH near-dup pairs with CANDIDATE-PAIR verification oracle
    (round-2 verdict item 3's flagged debt): the md5-60-bit hash family lets
    DuckDB replay the exact signatures → bands → candidates → verify chain,
    so the oracle checks precisely what LSH computes. An LSH recall miss no
    longer silently breaks an all-pairs equality — recall is measured
    explicitly by openvocab_lsh_recall instead."""
    from kbgen_spark.fixtures_openvocab import (
        mirrorable_shingle_hash,
        open_vocab_corpus,
    )
    from kbgen_spark.operators.dedup import dedup_minhash_lsh

    d = open_vocab_corpus(_t(spark, sf_dir, "documents"))
    out = dedup_minhash_lsh(
        d,
        k=_OV_LSH_K,
        bands=_OV_LSH_BANDS,
        threshold=_OV_TAU,
        shingle_hash=mirrorable_shingle_hash,
    )
    return out.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def openvocab_lsh_recall(spark, sf_dir):
    """LSH recall as a driver-checked single-row metric: n_exact = all pairs
    with 3-word-shingle Jaccard ≥ τ (inverted-index exact join), n_found =
    those surviving the k=_OV_LSH_K / b=_OV_LSH_BANDS (16 hashes, 4 bands ×
    4 rows) LSH blocking. Both engines compute both
    sides, so a sub-1.0 recall is *evidenced*, not hidden (the k/bands are
    sized so the fixture genuinely exercises recall < 1)."""
    from kbgen_spark.fixtures_openvocab import (
        mirrorable_shingle_hash,
        open_vocab_corpus,
    )
    from kbgen_spark.operators.dedup import dedup_minhash_lsh, doc_shingle_sets

    d = open_vocab_corpus(_t(spark, sf_dir, "documents"))
    sh = doc_shingle_sets(d)
    flat = sh.select("doc_id", F.explode("sh").alias("s"))
    inter = (
        flat.alias("x")
        .join(flat.alias("y"), "s")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .agg(F.count("*").alias("i"))
    )
    sizes = sh.select("doc_id", F.size("sh").alias("sz"))
    exact = (
        inter.join(sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sza")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("szb")), "b")
        .filter(
            F.col("i").cast("double") / (F.col("sza") + F.col("szb") - F.col("i"))
            >= _OV_TAU
        )
        .select("a", "b")
    )
    found = dedup_minhash_lsh(
        d,
        k=_OV_LSH_K,
        bands=_OV_LSH_BANDS,
        threshold=_OV_TAU,
        shingle_hash=mirrorable_shingle_hash,
    ).select("a", "b", F.lit(1).alias("hit"))
    marked = exact.join(found, ["a", "b"], "left")
    return marked.agg(
        F.count("*").alias("n_exact"),
        F.coalesce(F.sum("hit"), F.lit(0)).alias("n_found"),
        F.round(
            F.coalesce(F.sum("hit"), F.lit(0)).cast("double") / F.count("*"), 4
        ).alias("recall"),
    )


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------


def pii_scrub_documents(spark, sf_dir):
    """Training-data PII hygiene over `documents` (SURVEY §2.14 Q10): the
    synthetic corpus carries no PII, so deterministic emails / URLs / phone
    numbers are planted from doc_id IDENTICALLY on both engines, then
    ``scrub_pii`` (pure-JVM regexp_count/regexp_replace, one projection,
    zero shuffles) counts and redacts them. Leftmost-non-overlapping regex
    semantics agree between Java regex (Spark) and RE2 (DuckDB) for these
    patterns, which is what makes the scrub exactly oracle-mirrorable; the
    scrubbed text is md5'd so the compare stays compact while remaining
    positionally exact."""
    from kbgen_spark.operators.textstats import scrub_pii

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or visit https://ex.org/d/"),
            F.col("doc_id").cast("string"),
            F.lit(" or call 555-010-"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
        ).alias("text"),
    )
    out = scrub_pii(docs)
    return out.select(
        "doc_id",
        "n_email",
        "n_url",
        "n_phone",
        F.md5("scrubbed").alias("scrub_md5"),
    ).orderBy("doc_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING CONTRACT: the correctness driver checks only the FIRST 50
    # entries of this dict.  Entries that still need a green driver row
    # (new oracles, changed code paths, or rows riding on old evidence)
    # MUST be listed first; entries with green rows in past
    # CORRECTNESS_r*.json history may safely sit past the 50-entry window.
    # When adding a query, insert it at the TOP and demote the oldest
    # already-evidenced entry.
    # Round-6 layout (VERDICT r5 #8 + the optimization round's own
    # changed paths): tier 1 holds (a) every entry whose Spark-side code
    # or dependency changed this round — the gazetteer family (linear
    # one-scan derivation), the mention-detection entries (SQL-string
    # literal plan), the canon/pipeline mirrors (fused collect, verdict
    # broadcast, SHUFFLE_HASH assemble), minhash (input redistribution),
    # simhash (expr-string votes), q3/q5 (pre-agg/broadcast) — and (b) all
    # 18 tier-3 entries that were riding on r04 evidence, rotated back in
    # per the registry contract. The window fills to EXACTLY 50 with
    # r05-green unchanged entries; 18 r05-green unchanged entries rotate
    # out on fresh r05 evidence. All 76 entries re-verified green locally
    # this round at sf0.01 AND sf0.001 (tools/compare_oracle.py).
    return {
        # -- tier 1a: Spark-side code or dependency CHANGED this round ---
        "kg_mentions_kgram": kg_mentions_kgram,
        "kg_mentions_greedy_sql": kg_mentions_greedy_sql,
        "kg_mentions_literal": kg_mentions_literal,
        "canon_map_mirror": canon_map_mirror,
        "pipeline_triples_mirror": pipeline_triples_mirror,
        "kg_gazetteer": kg_gazetteer,
        "kg_mentions_by_entity": kg_mentions_by_entity,
        "kg_cooccur_pairs": kg_cooccur_pairs,
        "kg_entity_degree": kg_entity_degree,
        "kg_multitype_dist": kg_multitype_dist,
        "kg_split_type_assertions": kg_split_type_assertions,
        "rules_chain_inference": rules_chain_inference,
        "minhash_doc_pairs": minhash_doc_pairs,
        "simhash_doc_pairs": simhash_doc_pairs,
        "q3_top_revenue_orders": q3_top_revenue_orders,
        "q5_region_nation_revenue": q5_region_nation_revenue,
        # -- tier 1b: green in r04, rotated past the r05 window — due for
        #    fresh evidence per the ledger contract (VERDICT r5 #8) ------
        "embedding_norms": embedding_norms,
        "fingerprint_md5_documents": fingerprint_md5_documents,
        "token_counts_documents": token_counts_documents,
        "join_salted_hot_key": join_salted_hot_key,
        "window_topk_orders_per_customer": window_topk_orders_per_customer,
        "window_lag_event_gap": window_lag_event_gap,
        "window_rolling_sum_events": window_rolling_sum_events,
        "window_first_last_events": window_first_last_events,
        "window_ntile_customers": window_ntile_customers,
        "date_funcs_events": date_funcs_events,
        "hash_funcs_customers": hash_funcs_customers,
        "array_hof_documents": array_hof_documents,
        "regexp_extract_parts": regexp_extract_parts,
        "tumbling_event_counts": tumbling_event_counts,
        "session_window_counts": session_window_counts,
        "ivf_ann_topk": ivf_ann_topk,
        "ann_recall_at_k": ann_recall_at_k,
        # -- tier 2: r05-green, unchanged, kept in-window (fills to 50) --
        "dedup_ngram_jaccard_pairs": dedup_ngram_jaccard_pairs,
        "similarity_cosine_topk": similarity_cosine_topk,
        "lang_id_documents": lang_id_documents,
        "openvocab_ngram_pairs": openvocab_ngram_pairs,
        "openvocab_minhash_pairs": openvocab_minhash_pairs,
        "openvocab_lsh_recall": openvocab_lsh_recall,
        "q1_pricing_summary": q1_pricing_summary,
        "agg_rollup_orders": agg_rollup_orders,
        "agg_cube_lineitem": agg_cube_lineitem,
        "agg_distinct_counts": agg_distinct_counts,
        "agg_degree_histogram": agg_degree_histogram,
        "agg_grouping_sets_orders": agg_grouping_sets_orders,
        "q6_revenue_delta": q6_revenue_delta,
        "pivot_orders_status": pivot_orders_status,
        "join_broadcast_chain": join_broadcast_chain,
        "join_semi_customers_with_orders": join_semi_customers_with_orders,
        "join_anti_customers_without_orders": join_anti_customers_without_orders,
        # --------- 50-entry window boundary (slots 1-50 above) ----------
        # -- tier 3 (past the window): green in r05, oracle-backed,
        #    unchanged code paths — rotate back in when evidence ages ----
        "embedding_near_dup_pairs": embedding_near_dup_pairs,
        "pii_scrub_documents": pii_scrub_documents,
        "window_dense_rank_parts": window_dense_rank_parts,
        "topk_expensive_parts": topk_expensive_parts,
        "per_group_top1_order": per_group_top1_order,
        "window_percentiles": window_percentiles,
        "asof_join_purchases": asof_join_purchases,
        "set_except_customers": set_except_customers,
        "set_intersect_orderkeys": set_intersect_orderkeys,
        "set_union_keys": set_union_keys,
        "string_funcs_parts": string_funcs_parts,
        "math_funcs_lineitem": math_funcs_lineitem,
        "array_funcs_documents": array_funcs_documents,
        "map_funcs_orders": map_funcs_orders,
        "json_funcs_events": json_funcs_events,
        "type_closure_nations": type_closure_nations,
        "dedup_bow_exact": dedup_bow_exact,
        "quality_scores_documents": quality_scores_documents,
        # -- tier 4 (past the window): permanently no_oracle by design —
        #    pytest-covered (golden / property / χ²); driver rows would
        #    only ever be rows-only, so they don't spend checked slots.
        "media_feature_extraction": media_feature_extraction,
        "pipeline_triples": pipeline_triples,
        "pipeline_mentions_udf": pipeline_mentions_udf,
        "canon_components": canon_components,
        "emit_m1_sample": emit_m1_sample,
        "emit_m2_sample": emit_m2_sample,
        "emit_emi_sample": emit_emi_sample,
        "emit_m3_rules_sample": emit_m3_rules_sample,
    }


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

_GAZ_CTE = """
with toks as (
    select unnest(string_split(text, ' ')) as tok from documents
),
uni as (
    select tok, count(*) as cnt from toks group by tok
),
ranked as (
    select tok, cnt, row_number() over (order by cnt desc, tok asc) as rank
    from uni
),
gaz as (
    select
        tok as surface_form,
        'E' || lpad(cast(rank as varchar), 5, '0') as entity_id,
        case cast((rank - 1) % 3 as int)
            when 0 then 'thing' when 1 then 'action' else 'system'
        end as entity_type,
        1.0 / rank as prior
    from ranked
)
"""


def _ngram_sql_parts() -> tuple[str, str, str, int]:
    """tl/uni/ranked/grams/phr — the corpus-derived any-k n-gram gazetteer
    derivation replayed identically by the kg_mentions_kgram,
    pipeline_triples_mirror and canon_map_mirror oracles. Quotas and rank
    offsets come from kbgen_spark.fixtures.N_NGRAM_PHRASES — the Spark
    fixture's single source of truth — so a quota change propagates to the
    fixture and all three oracles in ONE edit (round-5 review: this chain
    plus the quota/offset literals was pasted verbatim three times)."""
    from kbgen_spark.fixtures import N_NGRAM_PHRASES, _phrase_rank_offset

    ns = sorted(N_NGRAM_PHRASES)
    branches = "\n                    union all\n".join(
        "                    select {n} as n, "
        "unnest(list_transform(range(1, len(t){m}),\n"
        "                        i -> array_to_string(t[i:i+{u}], ' '))) as gram\n"
        "                    from tl where len(t) >= {n}".format(
            n=n, m="" if n == 2 else f" - {n - 2}", u=n - 1
        )
        for n in ns
    )
    ctes = f"""tl as materialized (
                select doc_id, string_split(text, ' ') as t from documents
            ),
            uni as (
                select tok, count(*) as cnt
                from (select unnest(string_split(text, ' ')) as tok
                      from documents) x
                group by tok
            ),
            ranked as (
                select tok, row_number() over (order by cnt desc, tok asc) as rank
                from uni
            ),
            grams as (
                select n, gram, count(*) as cnt from (
{branches}
                ) g group by n, gram
            ),
            phr as (
                select gram, n,
                       row_number() over (partition by n
                                          order by cnt desc, gram asc) as r
                from grams
            )"""
    quota = " or ".join(f"(n = {n} and r <= {N_NGRAM_PHRASES[n]})" for n in ns)
    whens = " ".join(f"when {n} then {_phrase_rank_offset(n)}" for n in ns[:-1])
    offset_case = f"case n {whens} else {_phrase_rank_offset(ns[-1])} end"
    return ctes, quota, offset_case, max(ns)


_NGRAM_GAZ_CTES, _NGRAM_QUOTA_PRED, _NGRAM_OFFSET_CASE, _NGRAM_MAX_N = (
    _ngram_sql_parts()
)


def _ann_cte(qmax: int) -> str:
    """Shared DuckDB CTE chain replaying ivf_topk(nbits=6, probes=7,
    sign_hash=md5_sign_hash) exactly: L2-normalize → 6-bit hyperplane code
    (sign of the ±-signed component sum, signs from md5-60-bit parity —
    bit-equal across engines) → multi-probe fan-out of the QUERY side to the
    bucket plus all six Hamming-1 neighbors → distinct candidates → cosine
    scores → per-query rank. Queries are vec_id < ``qmax``."""
    nrm = (
        "list_transform(embedding, x -> cast(x as double) / "
        "sqrt(list_sum(list_transform(embedding, "
        "y -> cast(y as double)*cast(y as double)))))"
    )

    def proj(b: int) -> str:
        return (
            "list_sum(list_transform(range(1, 65), j -> case when "
            f"cast('0x'||substr(md5('hp:{b}:'||(j-1)),1,15) as bigint) % 2 = 0 "
            "then v[j] else -v[j] end))"
        )

    bucket = " + ".join(
        f"(case when {proj(b)} > 0 then {1 << b} else 0 end)" for b in range(6)
    )
    flips = ", ".join(f"xor(qb, {1 << i})" for i in range(6))
    return f"""
            with norm as (
                select vec_id, {nrm} as v from embeddings
            ),
            bucketed as (
                select vec_id, v, ({bucket}) as bucket from norm
            ),
            q as (
                select vec_id as qid, v as qv, bucket as qb
                from bucketed where vec_id < {qmax}
            ),
            probed as (
                select qid, qv, unnest([qb, {flips}]) as bucket from q
            ),
            cand as (
                select distinct p.qid, e.vec_id
                from probed p join bucketed e
                  on p.bucket = e.bucket and p.qid != e.vec_id
            ),
            scored as (
                select c.qid, c.vec_id,
                       round(list_dot_product(q.qv, e.v), 6) as score
                from cand c
                join q on c.qid = q.qid
                join bucketed e on c.vec_id = e.vec_id
            ),
            ranked as (
                select qid, vec_id,
                       row_number() over (partition by qid
                                          order by score desc, vec_id asc) as rank
                from scored
            )"""


def _hp_code_sql(nbits: int) -> str:
    """DuckDB expression for the ``nbits``-bit md5-family hyperplane sign
    code over a normalized list column ``v`` — the same derivation as
    _ann_cte's bucket, factored for reuse (near-dup banding uses 12 bits)."""

    def proj(b: int) -> str:
        return (
            "list_sum(list_transform(range(1, 65), j -> case when "
            f"cast('0x'||substr(md5('hp:{b}:'||(j-1)),1,15) as bigint) % 2 = 0 "
            "then v[j] else -v[j] end))"
        )

    return " + ".join(
        f"(case when {proj(b)} > 0 then {1 << b} else 0 end)" for b in range(nbits)
    )


def oracle_sql() -> dict[str, str]:
    from kbgen_spark.operators.textstats import PII_PATTERNS

    _PII = dict(PII_PATTERNS)
    langs = {
        "en": ["the", "and", "of", "to", "a"],
        "de": ["der", "die", "und", "das", "ist"],
        "fr": ["le", "la", "et", "les", "des"],
        "es": ["el", "la", "los", "que", "de"],
        "zh": ["的", "是", "在", "了", "和"],
    }

    def inlist(ms):
        return ", ".join(f"'{m}'" for m in ms)

    all_markers = inlist([m for l in sorted(langs) for m in langs[l]])
    hits = {
        l: f"len(list_filter(string_split(text,' '), t -> t in ({inlist(ms)})))"
        for l, ms in langs.items()
    }
    # argmax with ties → lexicographically greatest lang (mirrors Spark's
    # array_max over struct(hits, lang))
    mx = f"greatest({hits['en']}, {hits['de']}, {hits['fr']}, {hits['es']}, {hits['zh']})"
    pred_lang = (
        f"case when {mx} = 0 then 'und' "
        f"when {hits['zh']} = {mx} then 'zh' "
        f"when {hits['fr']} = {mx} then 'fr' "
        f"when {hits['es']} = {mx} then 'es' "
        f"when {hits['en']} = {mx} then 'en' "
        f"else 'de' end"
    )

    # Shared CTE chain regenerating the open-vocabulary corpus exactly as
    # kbgen_spark.fixtures_openvocab.open_vocab_corpus does (md5-60-bit
    # positive bigints agree between Spark and DuckDB on %, >>, &; keep the
    # two generation specs in sync).
    ov_corpus = """
        ov_base as (
            select doc_id,
                   case when doc_id % 10 = 1 then doc_id - 1 else doc_id end as base
            from documents
        ),
        ov_pos as (
            select doc_id, base,
                   unnest(range(0, 30 + cast(('0x'||substr(md5('len:'||base),1,15)) as bigint) % 31)) as i
            from ov_base
        ),
        ov_h as (
            select doc_id, base, i,
                   cast(('0x'||substr(md5('tok:'||base||':'||i),1,15)) as bigint) as h
            from ov_pos
        ),
        ov_toks as (
            select doc_id, i,
                   case when (doc_id % 10 = 1)
                             and cast(('0x'||substr(md5('mut:'||doc_id||':'||i),1,15)) as bigint) % 20 = 0
                        then 'x' || ((h >> 3) % 39119)
                        when h % 3 = 0 then 'c' || ((h >> 3) % 50)
                        else 'w' || ((h >> 3) % 39119)
                   end as tok
            from ov_h
        )"""
    # 3-word shingle sets + exact pairwise Jaccard over the open corpus
    # (doc order by i; len >= 30 so the short-doc branch never fires).
    ov_shingles = """,
        ov_text as (
            select doc_id, list(tok order by i) as t from ov_toks group by doc_id
        ),
        ov_sh as (
            select distinct doc_id,
                   unnest(list_transform(range(1, len(t) - 1),
                                         i -> array_to_string(t[i:i+2], ' '))) as s
            from ov_text
        ),
        ov_sz as (select doc_id, count(*) as sz from ov_sh group by doc_id),
        ov_inter as (
            select x.doc_id as a, y.doc_id as b, count(*) as i
            from ov_sh x join ov_sh y on x.s = y.s and x.doc_id < y.doc_id
            group by a, b
        ),
        ov_exact as (
            select a, b, cast(i as double) / (sa.sz + sb.sz - i) as jac
            from ov_inter join ov_sz sa on ov_inter.a = sa.doc_id
            join ov_sz sb on ov_inter.b = sb.doc_id
        )"""
    # the EXACT md5-60-bit LSH chain dedup_minhash_lsh runs with
    # mirrorable_shingle_hash: k signatures, b bands x r rows, bucket =
    # the band's signature slice joined with ','.
    ov_r = _OV_LSH_K // _OV_LSH_BANDS
    ov_lsh = f""",
        ov_sig as (
            select doc_id, j,
                   min(cast(('0x'||substr(md5(s||'#'||j),1,15)) as bigint)) as sig
            from ov_sh, range({_OV_LSH_K}) t(j)
            group by doc_id, j
        ),
        ov_band as (
            select doc_id, j // {ov_r} as band,
                   array_to_string(list(sig order by j), ',') as bucket
            from ov_sig group by doc_id, j // {ov_r}
        ),
        ov_cand as (
            select distinct a.doc_id as a, b.doc_id as b
            from ov_band a join ov_band b
              on a.band = b.band and a.bucket = b.bucket and a.doc_id < b.doc_id
        ),
        ov_found as (
            select e.a, e.b, e.jac
            from ov_exact e join ov_cand c on e.a = c.a and e.b = c.b
            where e.jac >= {_OV_TAU}
        )"""
    out = {
        "openvocab_ngram_pairs": f"""
            with {ov_corpus},
            ov_set as (select distinct doc_id, tok from ov_toks),
            ov_usz as (select doc_id, count(*) as sz from ov_set group by doc_id),
            ov_uinter as (
                select x.doc_id as a, y.doc_id as b, count(*) as i
                from ov_set x join ov_set y on x.tok = y.tok and x.doc_id < y.doc_id
                group by a, b
            )
            select a, b, round(jac, 6) as jaccard from (
                select a, b, cast(i as double) / (sa.sz + sb.sz - i) as jac
                from ov_uinter join ov_usz sa on ov_uinter.a = sa.doc_id
                join ov_usz sb on ov_uinter.b = sb.doc_id) t
            where jac >= 0.6
        """,
        "openvocab_minhash_pairs": f"""
            with {ov_corpus}{ov_shingles}{ov_lsh}
            select a, b, round(jac, 6) as jaccard from ov_found
        """,
        "openvocab_lsh_recall": f"""
            with {ov_corpus}{ov_shingles}{ov_lsh},
            ov_ge as (select a, b from ov_exact where jac >= {_OV_TAU})
            select (select count(*) from ov_ge) as n_exact,
                   (select count(*) from ov_found) as n_found,
                   round(cast((select count(*) from ov_found) as double)
                         / (select count(*) from ov_ge), 4) as recall
        """,
        "q1_pricing_summary": """
            select l_returnflag, l_linestatus,
                cast(round(sum(cast(l_quantity as decimal(18,2))), 2) as double) as sum_qty,
                cast(round(sum(cast(l_extendedprice as decimal(18,2))), 2) as double) as sum_base_price,
                cast(round(sum(cast(cast(l_extendedprice as decimal(18,2)) * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2))) as decimal(28,6))), 4) as double) as sum_disc_price,
                count(*) as count_order
            from lineitem group by l_returnflag, l_linestatus
            order by l_returnflag, l_linestatus
        """,
        "agg_rollup_orders": """
            select coalesce(o_orderstatus, 'ALL') as status,
                   coalesce(o_orderpriority, 'ALL') as priority,
                   count(*) as n_orders,
                   cast(round(sum(cast(o_totalprice as decimal(18,2))), 2) as double) as total_price
            from orders group by rollup(o_orderstatus, o_orderpriority)
        """,
        "agg_cube_lineitem": """
            select coalesce(l_returnflag, 'ALL') as returnflag,
                   coalesce(l_linestatus, 'ALL') as linestatus,
                   count(*) as n
            from lineitem group by cube(l_returnflag, l_linestatus)
        """,
        "agg_distinct_counts": """
            select c_mktsegment, count(distinct c_nationkey) as n_nations,
                   count(*) as n_customers
            from customer group by c_mktsegment
        """,
        "agg_degree_histogram": """
            with deg as (select o_custkey, count(*) as deg from orders group by o_custkey)
            select deg, count(*) as n_customers from deg group by deg order by deg
        """,
        "agg_grouping_sets_orders": """
            select coalesce(o_orderstatus, 'ALL') as status,
                   coalesce(o_orderpriority, 'ALL') as priority,
                   count(*) as n
            from orders
            group by grouping sets ((o_orderstatus), (o_orderpriority), ())
        """,
        "q6_revenue_delta": """
            select
                cast(round(sum(cast(cast(l_extendedprice as decimal(18,2)) * cast(l_discount as decimal(18,2)) as decimal(28,6))), 4) as double) as revenue,
                count(*) as n
            from lineitem
            where l_discount >= 0.05 and l_discount <= 0.07 and l_quantity < 24
        """,
        "pivot_orders_status": """
            select o_orderpriority as priority,
                   cast(sum(case when o_orderstatus = 'F' then 1 else 0 end) as bigint) as n_f,
                   cast(sum(case when o_orderstatus = 'O' then 1 else 0 end) as bigint) as n_o,
                   cast(sum(case when o_orderstatus = 'P' then 1 else 0 end) as bigint) as n_p
            from orders group by o_orderpriority
        """,
        "window_first_last_events": """
            select user_id, event_id,
                first_value(event_type) over w as first_type,
                last_value(event_type) over w as last_type
            from events
            window w as (partition by user_id order by ts, event_id
                         rows between unbounded preceding and unbounded following)
        """,
        "array_hof_documents": """
            select doc_id,
                len(list_filter(string_split(text,' '), t -> t = 'the')) > 0 as has_the,
                len(list_filter(string_split(text,' '), t -> length(t) = 0)) = 0 as all_nonempty,
                cast(coalesce(list_sum(list_transform(
                    list_filter(string_split(text,' '), t -> length(t) >= 4),
                    t -> length(t))), 0) as bigint) as long_tok_chars
            from documents
        """,
        "regexp_extract_parts": """
            select p_partkey,
                coalesce(regexp_extract(p_name, '^(\\w+)', 1), '') as first_word,
                coalesce(regexp_extract(p_brand, '(\\d+)$', 1), '') as brand_num
            from part
        """,
        "join_broadcast_chain": """
            select r_name, count(*) as n_customers,
                   cast(round(sum(cast(c_acctbal as decimal(18,2))), 2) as double) as sum_acctbal
            from customer c join nation n on c.c_nationkey = n.n_nationkey
            join region r on n.n_regionkey = r.r_regionkey
            group by r_name
        """,
        "join_semi_customers_with_orders": """
            select c_mktsegment, count(*) as n from customer c
            where exists (select 1 from orders o where o.o_custkey = c.c_custkey)
            group by c_mktsegment
        """,
        "join_anti_customers_without_orders": """
            select c_custkey, c_mktsegment from customer c
            where not exists (select 1 from orders o
                              where o.o_custkey = c.c_custkey
                                and o.o_totalprice > 450000)
        """,
        "q3_top_revenue_orders": """
            select o_orderkey, c_mktsegment,
                cast(round(sum(cast(cast(l_extendedprice as decimal(18,2)) * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2))) as decimal(28,6))), 4) as double) as revenue
            from lineitem l join orders o on l.l_orderkey = o.o_orderkey
            join customer c on o.o_custkey = c.c_custkey
            group by o_orderkey, c_mktsegment
            order by revenue desc, o_orderkey asc limit 10
        """,
        "q5_region_nation_revenue": """
            select r_name, n_name,
                cast(round(sum(cast(cast(l_extendedprice as decimal(18,2)) * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2))) as decimal(28,6))), 4) as double) as revenue
            from lineitem l
            join orders o on l.l_orderkey = o.o_orderkey
            join customer c on o.o_custkey = c.c_custkey
            join supplier s on l.l_suppkey = s.s_suppkey
            join nation n on c.c_nationkey = n.n_nationkey
            join region r on n.n_regionkey = r.r_regionkey
            where c.c_nationkey = s.s_nationkey
            group by r_name, n_name
        """,
        "join_salted_hot_key": """
            with dim(event_type, weight) as (
                values ('click', 1), ('view', 2), ('purchase', 10), ('signup', 5), ('error', 0)
            )
            select e.event_type, count(*) as n,
                cast(round(sum(cast(cast(value as decimal(18,6)) * weight as decimal(28,6))), 4) as double) as weighted_value
            from events e join dim d on e.event_type = d.event_type
            group by e.event_type
        """,
        "window_topk_orders_per_customer": """
            select o_custkey, o_orderkey, rn from (
                select o_custkey, o_orderkey,
                    row_number() over (partition by o_custkey order by o_totalprice desc, o_orderkey asc) as rn
                from orders) t where rn <= 3
        """,
        "window_lag_event_gap": """
            select user_id, event_id, gap_ms from (
                select user_id, event_id,
                    epoch_ms(ts) - lag(epoch_ms(ts)) over (partition by user_id order by ts, event_id) as gap_ms
                from events) t where gap_ms is not null
        """,
        "window_rolling_sum_events": """
            select user_id, event_id,
                cast(round(sum(cast(value as decimal(18,6))) over (
                    partition by user_id order by ts, event_id
                    rows between 4 preceding and current row), 4) as double) as rolling_value
            from events
        """,
        "window_ntile_customers": """
            select c_custkey, ntile(4) over (order by c_acctbal desc, c_custkey asc) as quartile
            from customer
        """,
        "window_dense_rank_parts": """
            select p_brand, p_partkey, rk from (
                select p_brand, p_partkey,
                    dense_rank() over (partition by p_brand order by p_retailprice desc, p_partkey asc) as rk
                from part) t where rk <= 5
        """,
        "topk_expensive_parts": """
            select p_partkey, p_name, p_retailprice from part
            order by p_retailprice desc, p_partkey asc limit 20
        """,
        "per_group_top1_order": """
            select o_custkey, o_orderkey as best_orderkey, o_totalprice as best_price
            from (
                select o_custkey, o_orderkey, o_totalprice,
                    row_number() over (partition by o_custkey order by o_totalprice desc, o_orderkey desc) as rn,
                    max(o_totalprice) over (partition by o_custkey) as mx
                from orders) t
            where rn = 1
        """,
        "window_percentiles": """
            select event_type,
                round(quantile_cont(value, 0.5), 6) as p50,
                round(quantile_cont(value, 0.9), 6) as p90,
                round(min(value), 6) as vmin,
                round(max(value), 6) as vmax
            from events group by event_type
        """,
        "asof_join_purchases": """
            with p as (
                select user_id, ts, round(max(value), 6) as pvalue
                from events where event_type = 'purchase' group by user_id, ts
            )
            select e.event_id, e.user_id, e.event_type,
                   p.pvalue as last_purchase_value
            from events e asof left join p
              on e.user_id = p.user_id and e.ts >= p.ts
        """,
        "set_except_customers": """
            select distinct c_custkey from (
                select c_custkey from customer where c_acctbal > 0
                except all
                select distinct o_custkey as c_custkey from orders
                where o_orderpriority = '1-URGENT') t
        """,
        "set_intersect_orderkeys": """
            select o_orderkey as k from orders where o_totalprice > 100
            intersect
            select l_orderkey as k from lineitem where l_discount > 0.05
        """,
        "set_union_keys": """
            select distinct k from (
                select o_orderkey as k from orders where o_orderstatus = 'F'
                union all
                select o_orderkey as k from orders where o_orderpriority = '1-URGENT') t
        """,
        "string_funcs_parts": """
            select p_partkey, upper(p_name) as uname, length(p_name) as name_len,
                substring(p_name, 1, 5) as prefix,
                regexp_replace(p_name, '[aeiou]', '_', 'g') as devoweled,
                concat_ws('/', p_brand, p_type) as brand_type
            from part
        """,
        "math_funcs_lineitem": """
            select l_orderkey, l_linenumber,
                round(pow(l_quantity, 2), 4) as qty_sq,
                round(ln(l_extendedprice + 1), 6) as log_price,
                cast(floor(l_quantity) as bigint) as qty_floor,
                round(sqrt(l_tax), 6) as tax_sqrt
            from lineitem where l_quantity > 0
        """,
        "array_funcs_documents": """
            select doc_id,
                len(string_split(text, ' ')) as n_tokens,
                len(list_distinct(string_split(text, ' '))) as n_distinct,
                array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ') as first3,
                array_to_string(list_sort(list_distinct(string_split(text, ' '))), ',') as vocab
            from documents
        """,
        "map_funcs_orders": """
            select o_orderstatus, o_orderpriority as priority, count(*) as n
            from orders group by o_orderstatus, o_orderpriority
        """,
        "json_funcs_events": """
            select cast(json_extract(props, '$.k') as int) as k, count(*) as n
            from events group by k order by k
        """,
        "date_funcs_events": """
            select date_trunc('day', ts) as day,
                   count(*) as n, count(distinct user_id) as n_users
            from events group by day order by day
        """,
        "hash_funcs_customers": """
            select c_custkey, md5(c_name) as md5_name, sha256(c_name) as sha256_name
            from customer
        """,
        "tumbling_event_counts": """
            select date_trunc('hour', ts) as win_start, event_type,
                count(*) as n_events,
                cast(round(sum(cast(value as decimal(18,6))), 6) as double) as sum_value
            from events group by win_start, event_type
        """,
        "session_window_counts": """
            with gaps as (
                select user_id, ts,
                    case when epoch_ms(ts) - lag(epoch_ms(ts)) over w >= 300000
                         or lag(ts) over w is null then 1 else 0 end as new_session
                from events
                window w as (partition by user_id order by ts)
            ),
            islands as (
                select user_id, ts,
                    sum(new_session) over (partition by user_id order by ts
                        rows between unbounded preceding and current row) as sid
                from gaps
            )
            select user_id, min(ts) as session_start, count(*) as n_events
            from islands group by user_id, sid
        """,
        "kg_gazetteer": _GAZ_CTE
        + """
            select surface_form, entity_id, entity_type, round(prior, 8) as prior
            from gaz
        """,
        "kg_mentions_by_entity": _GAZ_CTE
        + """
            , mention_toks as (
                select doc_id, unnest(string_split(text, ' ')) as tok from documents
            )
            select entity_id, entity_type, count(*) as n_mentions,
                   count(distinct doc_id) as n_docs
            from mention_toks m join gaz g on m.tok = g.surface_form
            group by entity_id, entity_type
        """,
        # Greedy longest-match mention detection (V1) — full gazetteer
        # (unigrams + top-10 bigram phrases + top-5 plural variants), greedy
        # scan replayed via island-parity windows: within a run of
        # CONSECUTIVE bigram-candidate positions the scan selects every other
        # one starting at the run head (the unrolled cursor recurrence);
        # a unigram fires iff its position has no bigram candidate and the
        # previous position's bigram was not selected.
        "kg_mentions_greedy_sql": """
            with tl as (
                select doc_id, string_split(text, ' ') as t from documents
            ),
            uni as (
                select tok, count(*) as cnt
                from (select unnest(string_split(text, ' ')) as tok from documents) x
                group by tok
            ),
            ranked as (
                select tok, row_number() over (order by cnt desc, tok asc) as rank
                from uni
            ),
            big0 as (
                select unnest(list_transform(range(1, len(t)),
                                             i -> t[i] || ' ' || t[i+1])) as bg
                from tl where len(t) >= 2
            ),
            bi as (
                select bg, row_number() over (order by count(*) desc, bg asc) as brank
                from big0 group by bg
            ),
            surfaces as (
                select distinct surface_form from (
                    select tok as surface_form from ranked
                    union all
                    select bg from bi where brank <= 10
                    union all
                    select tok || 's' from ranked where rank <= 5
                ) u
            ),
            g1 as (select surface_form from surfaces
                   where not contains(surface_form, ' ')),
            g2 as (select surface_form from surfaces
                   where len(string_split(surface_form, ' ')) = 2),
            ptok as (
                select doc_id, i - 1 as pos, t[i] as tok,
                       case when i < len(t) then t[i] || ' ' || t[i+1] end as bg
                from (select doc_id, unnest(range(1, len(t) + 1)) as i, t from tl)
            ),
            m2 as (
                select p.doc_id, p.pos, p.bg as mention
                from ptok p join g2 on p.bg = g2.surface_form
            ),
            isl as (
                select doc_id, pos, mention,
                       pos - row_number() over (partition by doc_id order by pos) as grp
                from m2
            ),
            m2sel as (
                select doc_id, pos, mention
                from (select doc_id, pos, mention,
                             row_number() over (partition by doc_id, grp
                                                order by pos) as rn
                      from isl) s
                where rn % 2 = 1
            ),
            m1 as (
                select p.doc_id, p.pos, p.tok as mention
                from ptok p join g1 on p.tok = g1.surface_form
                where not exists (select 1 from m2
                                  where m2.doc_id = p.doc_id and m2.pos = p.pos)
                  and not exists (select 1 from m2sel s
                                  where s.doc_id = p.doc_id and s.pos = p.pos - 1)
            ),
            mentions as (
                select * from m2sel union all select * from m1
            )
            select mention, count(*) as n, cast(sum(pos) as bigint) as sum_pos
            from mentions group by mention
        """,
        # Round-5 any-k mention detection. Candidate generation mirrors the
        # n-gram gazetteer (FIXTURES N_NGRAM_PHRASES) position × length;
        # greedy longest-match is replayed by a DECOMPOSITION independent of
        # Spark's cursor fold: (1) a unigram match advances the cursor by
        # exactly one position, so the cursor state at any multi-token
        # candidate depends only on previously FIRED multi-token matches —
        # the recursion therefore runs over the (rare) multi candidates
        # alone, keeping per-position only the LONGEST one (if the longest
        # is cursor-blocked so is every shorter; unblocked, longest wins);
        # (2) a unigram then fires iff its position is not covered by a
        # fired multi. MATERIALIZED CTEs keep the recursion from re-running
        # the gram derivation per iteration (measured 10.3 s -> 1.8 s).
        "kg_mentions_kgram": f"""
            with recursive {_NGRAM_GAZ_CTES},
            surfaces as materialized (
                select distinct surface_form from (
                    select tok as surface_form from ranked
                    union all
                    select gram from phr
                    where {_NGRAM_QUOTA_PRED}
                    union all
                    select tok || 's' from ranked where rank <= 5
                ) u
            ),
            slen as (
                select surface_form,
                       len(string_split(surface_form, ' ')) as sl
                from surfaces
            ),
            cand as materialized (
                select p.doc_id, p.pos, s.sl, p.phrase as mention
                from (
                    select doc_id, cast(i - 1 as int) as pos,
                           cast(L as int) as L,
                           array_to_string(t[i:i+L-1], ' ') as phrase
                    from (select doc_id, unnest(range(1, len(t) + 1)) as i, t
                          from tl)
                    cross join (select unnest(range(1, {_NGRAM_MAX_N + 1})) as L) ls(L)
                    where i + L - 1 <= len(t)
                ) p
                join slen s on p.phrase = s.surface_form and p.L = s.sl
            ),
            multi as materialized (
                select doc_id, pos, sl, mention from (
                    select doc_id, pos, sl, mention,
                           row_number() over (partition by doc_id, pos
                                              order by sl desc) as rk
                    from cand where sl >= 2
                ) where rk = 1
            ),
            r as (
                select doc_id, 0 as cur, cast(null as varchar) as mention,
                       -1 as pos, 0 as sl
                from (select distinct doc_id from multi)
                union all
                select o.doc_id, o.pos + o.sl as cur, o.mention, o.pos, o.sl
                from r, lateral (
                    select doc_id, pos, sl, mention
                    from multi m
                    where m.doc_id = r.doc_id and m.pos >= r.cur
                    order by m.pos asc
                    limit 1
                ) o
            ),
            fired as (select doc_id, pos, sl, mention from r where pos >= 0),
            mentions as (
                select doc_id, pos, mention from fired
                union all
                select u.doc_id, u.pos, u.mention
                from cand u
                where u.sl = 1
                  and not exists (
                      select 1 from fired f
                      where f.doc_id = u.doc_id
                        and u.pos >= f.pos and u.pos < f.pos + f.sl
                  )
            )
            select mention, count(*) as n,
                   cast(sum(pos) as bigint) as sum_pos,
                   cast(min(pos) as int) as min_pos
            from mentions group by mention
        """,
        # Round-5 flagship oracle: the WHOLE pipeline — any-k greedy mention
        # detection (kgram decomposition), per-surface top-1 link verdicts
        # (prior desc, entity_id asc — exact linking reduces scoring to the
        # prior, link.py link_verdicts), md5-60-bit canon chain + recursive
        # transitive closure (canon_map_mirror's), then triple assembly:
        # doc-scope typed pairs (P_co_occurs thing→action) and span-scope
        # gap/order patterns (P_near action→system |Δ|<=5; P_follows
        # thing→system Δ in 1..3 ordered), distinct (subj, pred, obj).
        # Pattern literals mirror fixtures.build_relation_patterns.
        "pipeline_triples_mirror": f"""
            with recursive {_NGRAM_GAZ_CTES},
            gaz0 as (
                select tok as surface_form, rank from ranked
                union all
                select gram, (select count(*) from uni)
                       + {_NGRAM_OFFSET_CASE} + r
                from phr
                where {_NGRAM_QUOTA_PRED}
            ),
            gazent as (
                select surface_form,
                       'E' || lpad(cast(rank as varchar), 5, '0') as entity_id,
                       case cast((rank - 1) % 3 as int)
                           when 0 then 'thing' when 1 then 'action'
                           else 'system'
                       end as entity_type,
                       1.0 / rank as prior
                from gaz0
            ),
            gazfull as materialized (
                select surface_form, entity_id, entity_type, prior from gazent
                union all
                select g.surface_form || 's', g.entity_id, g.entity_type,
                       g.prior
                from gazent g
                join ranked rk on g.surface_form = rk.tok and rk.rank <= 5
            ),
            surf as materialized (select distinct surface_form from gazfull),
            slen as (
                select surface_form,
                       len(string_split(surface_form, ' ')) as sl
                from surf
            ),
            mcand as materialized (
                select p.doc_id, p.pos, s.sl, p.phrase as mention
                from (
                    select doc_id, cast(i - 1 as int) as pos,
                           cast(L as int) as L,
                           array_to_string(t[i:i+L-1], ' ') as phrase
                    from (select doc_id, unnest(range(1, len(t) + 1)) as i, t
                          from tl)
                    cross join (select unnest(range(1, {_NGRAM_MAX_N + 1})) as L) ls(L)
                    where i + L - 1 <= len(t)
                ) p
                join slen s on p.phrase = s.surface_form and p.L = s.sl
            ),
            multi as materialized (
                select doc_id, pos, sl, mention from (
                    select doc_id, pos, sl, mention,
                           row_number() over (partition by doc_id, pos
                                              order by sl desc) as rk
                    from mcand where sl >= 2
                ) where rk = 1
            ),
            r as (
                select doc_id, 0 as cur, cast(null as varchar) as mention,
                       -1 as pos, 0 as sl
                from (select distinct doc_id from multi)
                union all
                select o.doc_id, o.pos + o.sl as cur, o.mention, o.pos, o.sl
                from r, lateral (
                    select doc_id, pos, sl, mention
                    from multi m
                    where m.doc_id = r.doc_id and m.pos >= r.cur
                    order by m.pos asc
                    limit 1
                ) o
            ),
            fired as (select doc_id, pos, sl, mention from r where pos >= 0),
            mentions as materialized (
                select doc_id, pos, mention from fired
                union all
                select u.doc_id, u.pos, u.mention
                from mcand u
                where u.sl = 1
                  and not exists (
                      select 1 from fired f
                      where f.doc_id = u.doc_id
                        and u.pos >= f.pos and u.pos < f.pos + f.sl
                  )
            ),
            verdict as (
                select surface_form, entity_id, entity_type
                from (select surface_form, entity_id, entity_type,
                             row_number() over (
                                 partition by surface_form
                                 order by prior desc, entity_id asc
                             ) as rn
                      from gazfull) v
                where rn = 1
            ),
            links as materialized (
                select m.doc_id, m.pos, v.entity_id, v.entity_type
                from mentions m join verdict v on m.mention = v.surface_form
            ),
            sh as materialized (
                select distinct surface_form,
                       case when len(surface_form) >= 2
                            then substr(surface_form, i, 2)
                            else surface_form end as shingle
                from (select surface_form,
                             unnest(range(1, greatest(len(surface_form) - 1,
                                                      1) + 1)) as i
                      from surf) s
            ),
            sig as (
                select surface_form, j,
                       min(cast(('0x'||substr(md5(shingle||'#'||j),1,15))
                                as bigint)) as h
                from sh, range(32) t(j)
                group by surface_form, j
            ),
            band as (
                select surface_form, j // 2 as band,
                       array_to_string(list(h order by j), ',') as bucket
                from sig group by surface_form, j // 2
            ),
            bcand as (
                select distinct a.surface_form as a, b.surface_form as b
                from band a join band b
                  on a.band = b.band and a.bucket = b.bucket
                 and a.surface_form < b.surface_form
            ),
            ssz as (
                select surface_form, count(*) as sz from sh group by surface_form
            ),
            iv as (
                select x.surface_form as a, y.surface_form as b,
                       count(*) as i
                from sh x join sh y
                  on x.shingle = y.shingle
                 and x.surface_form < y.surface_form
                group by 1, 2
            ),
            ver as (
                select c.a, c.b
                from bcand c
                join iv on iv.a = c.a and iv.b = c.b
                join ssz sa on c.a = sa.surface_form
                join ssz sb on c.b = sb.surface_form
                where cast(iv.i as double) / (sa.sz + sb.sz - iv.i) >= 0.5
            ),
            edges as materialized (
                select a as s, b as d from ver
                union all
                select b, a from ver
            ),
            reach as (
                select surface_form as src, surface_form as dst from surf
                union
                select rc.src, e.d from reach rc join edges e on rc.dst = e.s
            ),
            comp as (
                select src as surface_form, min(dst) as component
                from reach group by src
            ),
            gcanon as (
                select g.surface_form, g.entity_id, g.entity_type, c.component
                from gazfull g join comp c on g.surface_form = c.surface_form
            ),
            crep as (
                select component, entity_id as canon_id,
                       entity_type as canon_type
                from (select component, entity_id, entity_type,
                             row_number() over (
                                 partition by component
                                 order by entity_id asc, entity_type asc
                             ) as rn
                      from gcanon) s
                where rn = 1
            ),
            cmap as materialized (
                select entity_id, canon_id, canon_type
                from (select gcanon.entity_id, crep.canon_id, crep.canon_type,
                             row_number() over (
                                 partition by gcanon.entity_id
                                 order by crep.canon_id asc, crep.canon_type asc
                             ) as rn
                      from gcanon
                      join crep on gcanon.component = crep.component) s
                where rn = 1
            ),
            clinks as materialized (
                select l.doc_id, l.pos,
                       c.canon_id as entity_c, c.canon_type as type_c
                from links l join cmap c on l.entity_id = c.entity_id
            ),
            ents as materialized (
                select distinct doc_id, entity_c, type_c from clinks
            ),
            doc_triples as (
                select distinct s.entity_c as subj,
                       'P_co_occurs' as pred,
                       o.entity_c as obj
                from ents s join ents o on s.doc_id = o.doc_id
                where s.type_c = 'thing' and o.type_c = 'action'
                  and s.entity_c != o.entity_c
            ),
            span_near as (
                select distinct s.entity_c as subj,
                       'P_near' as pred,
                       o.entity_c as obj
                from clinks s join clinks o on s.doc_id = o.doc_id
                where s.type_c = 'action' and o.type_c = 'system'
                  and s.entity_c != o.entity_c
                  and abs(s.pos - o.pos) <= 5
            ),
            span_follows as (
                select distinct s.entity_c as subj,
                       'P_follows' as pred,
                       o.entity_c as obj
                from clinks s join clinks o on s.doc_id = o.doc_id
                where s.type_c = 'thing' and o.type_c = 'system'
                  and s.entity_c != o.entity_c
                  and abs(s.pos - o.pos) <= 3
                  and s.pos < o.pos
            )
            select distinct subj, pred, obj from (
                select * from doc_triples
                union all select * from span_near
                union all select * from span_follows
            ) u
        """,
        # Round-5 canon oracle: the ENTIRE distributed canonicalization
        # chain replayed — full n-gram gazetteer derivation, char-bigram
        # shingles (whole string when len<2, mirroring char_ngrams), 32
        # md5-60-bit min-hashes, 16 bands x 2 rows bucketed by SLICE
        # EQUALITY (Spark's xxhash64 bucket code is just an equi-join key
        # for the slice; a hash collision there would only add a false
        # candidate, which the exact verify filters in both engines),
        # exact bigram-Jaccard >= 0.5 verify, connected components via
        # recursive transitive closure (component = min reachable surface,
        # matching CC's min-member contract), then per-component /
        # per-entity min-tuple rep selection identical to Spark's
        # min(struct(...)) field ordering.
        "canon_map_mirror": f"""
            with recursive {_NGRAM_GAZ_CTES},
            gaz0 as (
                select tok as surface_form, rank from ranked
                union all
                select gram, (select count(*) from uni)
                       + {_NGRAM_OFFSET_CASE} + r
                from phr
                where {_NGRAM_QUOTA_PRED}
            ),
            gazent as (
                select surface_form,
                       'E' || lpad(cast(rank as varchar), 5, '0') as entity_id,
                       case cast((rank - 1) % 3 as int)
                           when 0 then 'thing' when 1 then 'action'
                           else 'system'
                       end as entity_type
                from gaz0
            ),
            gazfull as materialized (
                select surface_form, entity_id, entity_type from gazent
                union all
                select g.surface_form || 's', g.entity_id, g.entity_type
                from gazent g
                join ranked rk on g.surface_form = rk.tok and rk.rank <= 5
            ),
            surf as materialized (select distinct surface_form from gazfull),
            sh as materialized (
                select distinct surface_form,
                       case when len(surface_form) >= 2
                            then substr(surface_form, i, 2)
                            else surface_form end as shingle
                from (select surface_form,
                             unnest(range(1, greatest(len(surface_form) - 1,
                                                      1) + 1)) as i
                      from surf) s
            ),
            sig as (
                select surface_form, j,
                       min(cast(('0x'||substr(md5(shingle||'#'||j),1,15))
                                as bigint)) as h
                from sh, range(32) t(j)
                group by surface_form, j
            ),
            band as (
                select surface_form, j // 2 as band,
                       array_to_string(list(h order by j), ',') as bucket
                from sig group by surface_form, j // 2
            ),
            cand as (
                select distinct a.surface_form as a, b.surface_form as b
                from band a join band b
                  on a.band = b.band and a.bucket = b.bucket
                 and a.surface_form < b.surface_form
            ),
            ssz as (
                select surface_form, count(*) as sz from sh group by surface_form
            ),
            iv as (
                select x.surface_form as a, y.surface_form as b,
                       count(*) as i
                from sh x join sh y
                  on x.shingle = y.shingle
                 and x.surface_form < y.surface_form
                group by 1, 2
            ),
            ver as (
                select c.a, c.b
                from cand c
                join iv on iv.a = c.a and iv.b = c.b
                join ssz sa on c.a = sa.surface_form
                join ssz sb on c.b = sb.surface_form
                where cast(iv.i as double) / (sa.sz + sb.sz - iv.i) >= 0.5
            ),
            edges as materialized (
                select a as s, b as d from ver
                union all
                select b, a from ver
            ),
            reach as (
                select surface_form as src, surface_form as dst from surf
                union
                select r.src, e.d from reach r join edges e on r.dst = e.s
            ),
            comp as (
                select src as surface_form, min(dst) as component
                from reach group by src
            ),
            gc as (
                select g.surface_form, g.entity_id, g.entity_type, c.component
                from gazfull g join comp c on g.surface_form = c.surface_form
            ),
            canon as (
                select component, entity_id as canon_id,
                       entity_type as canon_type
                from (select component, entity_id, entity_type,
                             row_number() over (
                                 partition by component
                                 order by entity_id asc, entity_type asc
                             ) as rn
                      from gc) s
                where rn = 1
            )
            select entity_id, canon_id, canon_type
            from (select gc.entity_id, canon.canon_id, canon.canon_type,
                         row_number() over (
                             partition by gc.entity_id
                             order by canon.canon_id asc, canon.canon_type asc
                         ) as rn
                  from gc join canon on gc.component = canon.component) s
            where rn = 1
        """,
        "kg_cooccur_pairs": _GAZ_CTE
        + """
            , ents as (
                select distinct doc_id, entity_id
                from (select doc_id, unnest(list_distinct(string_split(text,' '))) as tok
                      from documents) t
                join gaz g on t.tok = g.surface_form
            )
            select a.entity_id as e1, b.entity_id as e2, count(*) as n_docs
            from ents a join ents b on a.doc_id = b.doc_id and a.entity_id < b.entity_id
            group by e1, e2
        """,
        "kg_entity_degree": _GAZ_CTE
        + """
            , ents as (
                select distinct doc_id, entity_id
                from (select doc_id, unnest(list_distinct(string_split(text,' '))) as tok
                      from documents) t
                join gaz g on t.tok = g.surface_form
            ),
            pairs as (
                select a.entity_id as e1, b.entity_id as e2
                from ents a join ents b on a.doc_id = b.doc_id and a.entity_id < b.entity_id
                group by e1, e2
            )
            select entity, count(*) as degree from (
                select e1 as entity from pairs union all select e2 as entity from pairs) t
            group by entity
        """,
        "kg_multitype_dist": _GAZ_CTE
        + """
            , mt as (
                select entity_id,
                    array_to_string(list_sort(list_distinct(list(entity_type))), '|') as mt
                from gaz group by entity_id
            )
            select mt, count(*) as n from mt group by mt
        """,
        "kg_split_type_assertions": _GAZ_CTE
        + """
            , type_triples as (
                select distinct entity_id as subj, 'rdf:type' as pred,
                       entity_type as obj
                from gaz
            ),
            ents as (
                select distinct doc_id, entity_id
                from (select doc_id, unnest(list_distinct(string_split(text,' '))) as tok
                      from documents) t
                join gaz g on t.tok = g.surface_form
            ),
            rel_triples as (
                select a.entity_id as subj, 'P_cooccur' as pred, b.entity_id as obj
                from ents a join ents b
                  on a.doc_id = b.doc_id and a.entity_id < b.entity_id
                group by subj, obj
            ),
            triples as (
                select * from type_triples union all select * from rel_triples
            )
            select case when pred = 'rdf:type' then 'type' else 'rel' end as part,
                   pred, count(*) as n
            from triples group by part, pred
        """,
        "rules_chain_inference": _GAZ_CTE
        + """
            , ents as (
                select distinct doc_id, entity_id
                from (select doc_id, unnest(list_distinct(string_split(text,' '))) as tok
                      from documents) t
                join gaz g on t.tok = g.surface_form
            ),
            pairs as (
                select a.entity_id as e1, b.entity_id as e2
                from ents a join ents b
                  on a.doc_id = b.doc_id and a.entity_id < b.entity_id
                group by e1, e2
            ),
            base as (select e1 as subj, 'P_cooccur' as pred, e2 as obj from pairs),
            fired as (
                select distinct a.e1 as subj, 'P_reach2' as pred, b.e2 as obj
                from pairs a join pairs b on a.e2 = b.e1
            )
            select * from base
            union all
            select * from fired
        """,
        "type_closure_nations": """
            with edges as (
                select n_name as type, r_name as parent
                from nation n join region r on n.n_regionkey = r.r_regionkey
                union all
                select r_name as type, 'WORLD' as parent from region
            ),
            closure as (
                select type, parent as ancestor from edges
                union
                select a.type, b.parent as ancestor
                from edges a join edges b on a.parent = b.type
            )
            select distinct type, ancestor from closure
        """,
        "minhash_doc_pairs": """
            with toks as (
                select doc_id, string_split(text, ' ') as t from documents
            ),
            sh as (
                select doc_id,
                    case when len(t) < 3 then [array_to_string(t, ' ')]
                         else list_transform(range(1, len(t) - 1),
                                             i -> array_to_string(t[i:i+2], ' '))
                    end as shs
                from toks
            ),
            flat as (
                select distinct doc_id, unnest(shs) as s from sh
            ),
            sizes as (select doc_id, count(*) as sz from flat group by doc_id),
            inter as (
                select x.doc_id as a, y.doc_id as b, count(*) as i
                from flat x join flat y on x.s = y.s and x.doc_id < y.doc_id
                group by a, b
            )
            select a, b, round(jac, 6) as jaccard from (
                select a, b, cast(i as double) / (sa.sz + sb.sz - i) as jac
                from inter join sizes sa on inter.a = sa.doc_id
                join sizes sb on inter.b = sb.doc_id) t
            where jac >= 0.5
        """,
        "simhash_doc_pairs": """
            with toks as (
                select doc_id, unnest(string_split(text, ' ')) as tok from documents
            ),
            h as (
                select doc_id,
                    cast(('0x' || substr(md5(tok), 1, 15)) as bigint) as h
                from toks
            ),
            votes as (
                select doc_id, bit,
                    sum(case when (h >> cast(bit as int)) & 1 = 1 then 1 else -1 end) as s
                from h, range(60) t(bit)
                group by doc_id, bit
            ),
            fp as (
                select doc_id,
                    cast(sum(case when s > 0
                             then (cast(1 as bigint) << cast(bit as int))
                             else 0 end) as bigint) as simhash
                from votes group by doc_id
            ),
            banded as (
                select doc_id, simhash, band,
                    (simhash >> cast(band * 15 as int)) & 32767 as bucket
                from fp, range(4) b(band)
            )
            select distinct a.doc_id as a, b.doc_id as b,
                cast(bit_count(xor(a.simhash, b.simhash)) as bigint) as hamming
            from banded a join banded b
              on a.band = b.band and a.bucket = b.bucket and a.doc_id < b.doc_id
            where bit_count(xor(a.simhash, b.simhash)) <= 3
        """,
        "dedup_bow_exact": """
            select md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) as bow_hash,
                count(*) as n_docs, min(doc_id) as keep_id
            from documents group by bow_hash having count(*) > 1
        """,
        "dedup_ngram_jaccard_pairs": """
            with toks as (
                select doc_id, unnest(list_distinct(string_split(text,' '))) as tok
                from documents
            ),
            sizes as (select doc_id, count(*) as sz from toks group by doc_id),
            inter as (
                select x.doc_id as a, y.doc_id as b, count(*) as i
                from toks x join toks y on x.tok = y.tok and x.doc_id < y.doc_id
                group by a, b
            )
            select a, b, round(jac, 6) as jaccard from (
                select a, b, cast(i as double) / (sa.sz + sb.sz - i) as jac
                from inter join sizes sa on inter.a = sa.doc_id
                join sizes sb on inter.b = sb.doc_id) t
            where jac >= 0.9
        """,
        "ivf_ann_topk": _ann_cte(5)
        + """
            select qid, vec_id, rank from ranked where rank <= 5
        """,
        "ann_recall_at_k": _ann_cte(20)
        + """
            , approx as (select qid, vec_id from ranked where rank <= 5),
            exact_scored as (
                select q.qid, e.vec_id,
                       round(list_dot_product(q.qv, e.v), 6) as score
                from q, norm e where q.qid != e.vec_id
            ),
            exact as (
                select qid, vec_id from (
                    select qid, vec_id,
                           row_number() over (partition by qid
                                              order by score desc, vec_id asc) as rank
                    from exact_scored) t
                where rank <= 5
            )
            select x.qid,
                   cast(count(a.vec_id) as double) / count(*) as recall_at_5
            from exact x left join approx a
              on x.qid = a.qid and x.vec_id = a.vec_id
            group by x.qid
        """,
        # Replays embedding_near_dup_pairs end-to-end: md5-noise plant →
        # L2 normalize → 12-bit md5-sign hyperplane code → 3×4-bit bands →
        # distinct candidate pairs sharing any band → exact cosine ≥ 0.98.
        "embedding_near_dup_pairs": f"""
            with base as (
                select vec_id,
                       list_transform(embedding, x -> cast(x as double)) as emb
                from embeddings
            ),
            dups as (
                select vec_id + 100000 as vid,
                       list_transform(range(1, 65), j -> emb[j] +
                           cast((cast('0x'||substr(md5('nd:'||cast(vec_id as varchar)||':'||cast(j-1 as varchar)),1,15) as bigint) % 2001) - 1000 as double)
                           / 1000.0 * 0.02
                       ) as emb2
                from base where vec_id < 50
            ),
            allv as (
                select vec_id, emb from base
                union all
                select vid as vec_id, emb2 as emb from dups
            ),
            norm as (
                select vec_id,
                       list_transform(emb, x -> x / sqrt(list_sum(list_transform(emb, y -> y*y)))) as v
                from allv
            ),
            coded as (
                select vec_id, v, ({_hp_code_sql(12)}) as code from norm
            ),
            bands as (
                select vec_id, band, (code >> (band * 4)) & 15 as bucket
                from coded cross join (select unnest([0, 1, 2]) as band) bs
            ),
            cand as (
                select distinct x.vec_id as a, y.vec_id as b
                from bands x join bands y
                  on x.band = y.band and x.bucket = y.bucket
                 and x.vec_id < y.vec_id
            )
            select a, b, cosine from (
                select c.a, c.b,
                       round(list_dot_product(x.v, y.v), 6) as cosine
                from cand c
                join norm x on c.a = x.vec_id
                join norm y on c.b = y.vec_id) t
            where cosine >= 0.98
        """,
        "similarity_cosine_topk": """
            with q as (select vec_id as qid, embedding as qv from embeddings where vec_id < 5),
            scored as (
                select qid, vec_id,
                    round(list_dot_product(
                        list_transform(qv, x -> cast(x as double) / sqrt(list_sum(list_transform(qv, y -> cast(y as double)*cast(y as double))))),
                        list_transform(embedding, x -> cast(x as double) / sqrt(list_sum(list_transform(embedding, y -> cast(y as double)*cast(y as double)))))
                    ), 6) as score
                from embeddings, q where qid != vec_id
            )
            select qid, vec_id, rank from (
                select qid, vec_id,
                    row_number() over (partition by qid order by score desc, vec_id asc) as rank
                from scored) t
            where rank <= 5
        """,
        "lang_id_documents": f"""
            select doc_id, {pred_lang} as pred_lang, {mx} as marker_hits
            from documents
        """,
        "quality_scores_documents": f"""
            select doc_id,
                length(text) as len_chars,
                len(string_split(text,' ')) as n_tokens,
                round(cast(length(replace(text, ' ', '')) as double) / len(string_split(text,' ')), 6) as mean_tok_len,
                round(cast(len(list_filter(string_split(text,' '), t -> t in ({all_markers}))) as double) / len(string_split(text,' ')), 6) as stopword_ratio,
                round(cast(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) as double) / length(text), 6) as alpha_ratio,
                round(1.0 - cast(len(list_distinct(string_split(text,' '))) as double) / len(string_split(text,' ')), 6) as repetition,
                round(
                    0.25 * least(cast(len(string_split(text,' ')) as double) / 100.0, 1.0)
                  + 0.25 * (cast(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) as double) / length(text))
                  + 0.25 * (cast(len(list_distinct(string_split(text,' '))) as double) / len(string_split(text,' ')))
                  + 0.25 * least(5.0 * cast(len(list_filter(string_split(text,' '), t -> t in ({all_markers}))) as double) / len(string_split(text,' ')), 1.0)
                , 6) as quality
            from documents
        """,
        "token_counts_documents": """
            select doc_id,
                len(string_split(text,' ')) as ws_tokens,
                len(list_distinct(string_split(text,' '))) as distinct_tokens,
                cast(ceil(cast(length(replace(text,' ','')) as double) / 4.0) as bigint) as subword_est
            from documents
        """,
        "fingerprint_md5_documents": """
            select doc_id, md5(text) as md5_fp from documents
        """,
        "embedding_norms": """
            select vec_id, label,
                round(sqrt(list_sum(list_transform(embedding, x -> cast(x as double) * cast(x as double)))), 4) as l2_norm
            from embeddings
        """,
        # Same plant + scrub as pii_scrub_documents; patterns interpolated
        # from the single source of truth (textstats.PII_PATTERNS) so the
        # engines cannot drift. DuckDB regexp_replace needs the 'g' flag to
        # match Spark's replace-all semantics.
        "pii_scrub_documents": f"""
            with aug as (
                select doc_id,
                       text || ' contact user' || cast(doc_id as varchar)
                            || '@example.com or visit https://ex.org/d/'
                            || cast(doc_id as varchar)
                            || ' or call 555-010-'
                            || lpad(cast(doc_id % 10000 as varchar), 4, '0')
                       as text
                from documents
            )
            select doc_id,
                cast(len(regexp_extract_all(text, '{_PII["email"]}')) as bigint) as n_email,
                cast(len(regexp_extract_all(text, '{_PII["url"]}')) as bigint) as n_url,
                cast(len(regexp_extract_all(text, '{_PII["phone"]}')) as bigint) as n_phone,
                md5(regexp_replace(regexp_replace(regexp_replace(text,
                    '{_PII["email"]}', '[EMAIL]', 'g'),
                    '{_PII["url"]}', '[URL]', 'g'),
                    '{_PII["phone"]}', '[PHONE]', 'g')) as scrub_md5
            from aug
            order by doc_id
        """,
    }
    # the shipped literal extract is checked against the SAME recursive
    # decomposition replay as the fold-path kgram entry (identical input
    # and aggregation) — one oracle string, two independent Spark plans.
    out["kg_mentions_literal"] = out["kg_mentions_kgram"]
    return out
