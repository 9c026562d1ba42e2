"""Driver-contract query library: storage + analytics operators.

Every function takes ``(spark, sf_dir)`` and returns a DataFrame; each has a
matching ANSI-SQL oracle in ``ORACLES`` (run by DuckDB over the same parquet).
Conventions that make the driver's order-insensitive value-hash match:

- every computed column is aliased identically in Spark and SQL;
- money aggregates run in DECIMAL (exact, associative — immune to Spark's
  nondeterministic float summation order), then round + cast to double;
- timestamps are rendered to strings with explicit formats;
- every top-k / page query has a deterministic total order (unique tiebreak).

Scale notes are inline per query: where the plan broadcasts, where it
shuffles, and why that survives a 100× scale-up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawl4ai_llm_spark.session import load_table

DEC = "decimal(18,6)"


# --------------------------------------------------------------------------
# storage/query family — the reference's list_products pipeline re-expressed
# over the driver's documents table (SURVEY.md §2.3 Q1-Q7)
# --------------------------------------------------------------------------


def q_list_page(spark: SparkSession, sf: str) -> DataFrame:
    """Q1-Q4+Q6: filter → sort → offset/limit → hydrate (flagship op,
    ref json_storage.py:609-690). Deterministic total order via doc_id
    tiebreak. At scale: filter + projection push to the parquet scan; the
    global sort is a single range-partitioned shuffle of the filtered rows;
    limit+offset execute as TakeOrderedAndProject on small pages."""
    docs = load_table(spark, sf, "documents")
    return (
        docs.where(F.col("lang") == "en")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
        .offset(100)
        .limit(100)
        .select("doc_id", "lang", "source", "n_chars")
    )


def q_count_envelope(spark: SparkSession, sf: str) -> DataFrame:
    """Q5+Q7: pagination envelope arithmetic — total and total_pages
    (min 1, ref json_storage.py:668)."""
    docs = load_table(spark, sf, "documents")
    total = docs.where(F.col("lang") == "en").agg(F.count("*").alias("total"))
    return total.select(
        "total",
        F.greatest(F.ceil(F.col("total") / 100.0), F.lit(1)).cast("long").alias("total_pages"),
    )


def q_point_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """S6: point lookup by key. At scale this prunes to one bucket/partition;
    the predicate reaches the scan (PushedFilters)."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.where(F.col("l_orderkey") == 42)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
        )
    )


def q_multi_key_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """S7: batch key lookup preserving input order (ref json_storage.py:
    332-379) — the rank column IS the input order, computed via
    array_position instead of a driver-side loop."""
    ids = [7, 3, 11, 5, 42]
    docs = load_table(spark, sf, "documents")
    ids_arr = F.array(*[F.lit(i).cast("long") for i in ids])
    return (
        docs.where(F.col("doc_id").isin(ids))
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.array_position(ids_arr, F.col("doc_id")).cast("long").alias("lookup_rank"),
        )
    )


def q_dup_check(spark: SparkSession, sf: str) -> DataFrame:
    """E9/D2: duplicate detection as a semi-join — "which ids of the incoming
    batch already exist?" (ref json_storage.py:250-254). At scale the small
    batch side broadcasts; no full-table shuffle."""
    orders = load_table(spark, sf, "orders")
    batch = orders.where(F.col("o_orderkey") % 7 == 0).select("o_orderkey")
    existing = orders.where(F.col("o_orderkey") % 3 == 0).select("o_orderkey")
    return batch.join(existing, "o_orderkey", "left_semi").select(
        F.col("o_orderkey").alias("dup_id")
    )


def q_shallow_merge(spark: SparkSession, sf: str) -> DataFrame:
    """D3/E8: shallow-merge update semantics ({**existing, **update}) as a
    left join + provided-key resolution — the MERGE WHEN MATCHED analog."""
    cust = load_table(spark, sf, "customer")
    updates = (
        cust.where(F.col("c_acctbal") > 9000)
        .select("c_custkey", F.lit("VIP").alias("u_segment"))
    )
    return (
        cust.join(F.broadcast(updates), "c_custkey", "left")
        .select(
            "c_custkey",
            F.coalesce("u_segment", "c_mktsegment").alias("segment"),
        )
    )


# --------------------------------------------------------------------------
# analytics family — the relational categories SURVEY §2.6 maps to Spark
# --------------------------------------------------------------------------


def q_agg_pricing(spark: SparkSession, sf: str) -> DataFrame:
    """Aggregation (TPC-H Q1 shape): map-side partial agg → single shuffle on
    a tiny key space. DECIMAL arithmetic keeps the result order-independent."""
    li = load_table(spark, sf, "lineitem")
    disc = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast(DEC)), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast(DEC)), 2).cast("double").alias("sum_base_price"),
            F.round(F.sum(disc), 2).cast("double").alias("sum_disc_price"),
            F.round(F.avg(F.col("l_quantity").cast(DEC)), 4).cast("double").alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def q_join_revenue_topn(spark: SparkSession, sf: str) -> DataFrame:
    """Join + agg + top-k (TPC-H Q3 shape). customer is the small dimension —
    broadcast; the qualifying ORDER KEYS (orders ⋈ BUILDING customers,
    projected to o_orderkey — guide §2.3 "project before the exchange" /
    §3.2 semi-join reduction) are resolved first and joined into lineitem,
    so the fact table joins against a ~5× smaller single-column build side
    and only matching line items reach the aggregation. Top-10 is
    TakeOrdered, no full sort. At scale the orders⋈cust reduction is the
    semi-join pre-filter; locally both joins broadcast under the
    threshold — the one shuffle left is the groupBy's."""
    cust = load_table(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    rev = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    bldg_orders = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("o_orderkey")
    )
    return (
        # explicit hint: the post-join size ESTIMATE is unknown to Catalyst
        # (guide §3.1 — estimates are often wrong after filters/joins), so
        # without it the planner falls back to shuffling the fact table
        li.join(F.broadcast(bldg_orders), li.l_orderkey == bldg_orders.o_orderkey)
        .groupBy("o_orderkey")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


def q_join_region_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-join star shape (TPC-H Q5 flavor): two tiny dims broadcast
    (nation, region), one mid dim broadcast (supplier); the fact table never
    shuffles for the dimension joins — only for the final tiny groupBy."""
    li = load_table(spark, sf, "lineitem")
    supp = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region").where(F.col("r_name") == "ASIA")
    rev = F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
    )


def q_topk_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """Window top-k per group — the frontier's per-host priority-drain
    pattern (SURVEY §2.7 C6) on orders: one shuffle on the partition key,
    rank, filter. AQE handles moderate key skew; the frontier path adds
    explicit salting for pathological skew."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf, "orders").where(F.col("o_custkey") < 50)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", F.col("rn").cast("long").alias("rn"))
    )


def q_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    """Set operations (frontier-minus-seen pattern): customers having any
    order EXCEPT customers having a completed ('F') order."""
    orders = load_table(spark, sf, "orders")
    with_orders = orders.select("o_custkey").distinct()
    with_f = orders.where(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    return with_orders.exceptAll(with_f).select(F.col("o_custkey").alias("custkey"))


def q_events_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Time-windowed aggregation (streaming-shaped, run on a bounded table):
    tumbling 1-hour windows per event type. In Structured Streaming this same
    expression runs incrementally with a watermark; semantics identical."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)), 2).cast("double").alias("sum_value"),
        )
    )


def q_events_json(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured extraction: JSON path access on a string column
    (schema-on-read parity, E10) + aggregation over the extracted key."""
    ev = load_table(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select(k.alias("k"))
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(F.count("*").alias("n"), F.sum("k").alias("sum_k"))
    )


def q_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization via window lag: new session when a user's gap > 30 min.
    The stateful-streaming analog (applyInPandasWithState) shares these
    semantics; expressed here as lag + cumulative sum — one shuffle on
    user_id, everything else window-local."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; session tz is UTC so the timestamp cast is identity
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    with_flag = ev.withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    with_sid = with_flag.withColumn("session_seq", F.sum("new_session").over(w))
    return (
        with_sid.groupBy("user_id", "session_seq")
        .agg(F.count("*").alias("n_events"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
        )
    )


def q_rollup_orders(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP aggregation (status × priority hierarchy) — subtotal rows are
    computed in the same shuffle via grouping-set expansion."""
    orders = load_table(spark, sf, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast(DEC)), 2).cast("double").alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total",
        )
    )


def q_exists_subquery(spark: SparkSession, sf: str) -> DataFrame:
    """EXISTS / semi-join: customers with at least 2 orders in 1995."""
    orders = load_table(spark, sf, "orders")
    hot = (
        orders.where(F.year("o_orderdate") == 1995)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_1995"))
        .where(F.col("n_1995") >= 2)
    )
    cust = load_table(spark, sf, "customer")
    return cust.join(hot, cust.c_custkey == hot.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


def q_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    """NOT EXISTS / anti-join: parts never ordered in bulk (quantity ≥ 45) —
    the frontier-minus-seen shape on the analytics schema. The quantity
    filter pushes to the lineitem scan before the anti-join builds."""
    part = load_table(spark, sf, "part")
    li = load_table(spark, sf, "lineitem").where(F.col("l_quantity") >= 45)
    return part.join(li, part.p_partkey == li.l_partkey, "left_anti").select(
        "p_partkey", "p_brand"
    )


def q_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact interpolated percentiles of order value per status (sort-based
    exact aggregation; at 100 TB the approx_percentile sketch replaces it —
    this is the exactness baseline)."""
    orders = load_table(spark, sf, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.95)"), 4).alias("p95"),
        F.count("*").alias("n"),
    )


ORACLES: dict[str, str] = {
    "q_rollup_orders": """
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
        FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    "q_exists_subquery": """
        SELECT c_custkey, c_mktsegment FROM customer
        WHERE EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND YEAR(o_orderdate) = 1995
            GROUP BY o_custkey HAVING COUNT(*) >= 2
        )
    """,
    "q_anti_join": """
        SELECT p_partkey, p_brand FROM part
        WHERE NOT EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_partkey = p_partkey AND l_quantity >= 45
        )
    """,
    "q_percentiles": """
        SELECT o_orderstatus,
               ROUND(QUANTILE_CONT(o_totalprice, 0.5), 4) AS p50,
               ROUND(QUANTILE_CONT(o_totalprice, 0.95), 4) AS p95,
               COUNT(*) AS n
        FROM orders GROUP BY o_orderstatus
    """,
    "q_list_page": """
        SELECT doc_id, lang, source, n_chars FROM documents
        WHERE lang = 'en'
        ORDER BY n_chars DESC, doc_id ASC
        LIMIT 100 OFFSET 100
    """,
    "q_count_envelope": """
        SELECT total, GREATEST(CAST(CEIL(total / 100.0) AS BIGINT), 1) AS total_pages
        FROM (SELECT COUNT(*) AS total FROM documents WHERE lang = 'en')
    """,
    "q_point_lookup": """
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
               STRFTIME(l_shipdate, '%Y-%m-%d') AS ship_date
        FROM lineitem WHERE l_orderkey = 42
    """,
    "q_multi_key_lookup": """
        WITH ids(id, lookup_rank) AS (VALUES (7,1),(3,2),(11,3),(5,4),(42,5))
        SELECT d.doc_id, d.lang, d.n_chars, CAST(ids.lookup_rank AS BIGINT) AS lookup_rank
        FROM documents d JOIN ids ON d.doc_id = ids.id
    """,
    "q_dup_check": """
        SELECT o_orderkey AS dup_id FROM orders
        WHERE o_orderkey % 7 = 0 AND o_orderkey % 3 = 0
    """,
    "q_shallow_merge": """
        SELECT c_custkey,
               CASE WHEN c_acctbal > 9000 THEN 'VIP' ELSE c_mktsegment END AS segment
        FROM customer
    """,
    "q_agg_pricing": """
        SELECT l_returnflag, l_linestatus,
               CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS sum_disc_price,
               CAST(ROUND(AVG(CAST(l_quantity AS DECIMAL(18,6))), 4) AS DOUBLE) AS avg_qty,
               COUNT(*) AS count_order
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
    "q_join_revenue_topn": """
        SELECT o_orderkey,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderkey
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10
    """,
    "q_join_region_revenue": """
        SELECT n_name,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
    """,
    "q_topk_per_group": """
        SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
            FROM orders WHERE o_custkey < 50
        ) WHERE rn <= 3
    """,
    "q_set_ops": """
        SELECT o_custkey AS custkey FROM orders
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    "q_events_hourly": """
        SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
               event_type,
               COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    "q_events_json": """
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
               COUNT(*) AS n,
               -- DuckDB SUM(BIGINT) yields HUGEINT (decimal128) in Arrow;
               -- Spark's F.sum(long) is int64 — cast so the physical types match.
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        FROM events GROUP BY 1
    """,
    "q_sessionize": """
        WITH flagged AS (
            -- FLOOR(EPOCH(.)) matches Spark's timestamp→long cast (whole
            -- seconds), keeping the >1800 boundary decision identical
            SELECT user_id, ts, event_id,
                   CASE WHEN CAST(FLOOR(EPOCH(ts)) AS BIGINT) - LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) OVER w IS NULL
                             OR CAST(FLOOR(EPOCH(ts)) AS BIGINT) - LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) OVER w > 1800
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sid AS (
            SELECT user_id,
                   SUM(new_session) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING) AS session_seq
            FROM flagged
        ), per_session AS (
            SELECT user_id, session_seq, COUNT(*) AS n_events
            FROM sid GROUP BY 1, 2
        )
        SELECT user_id, COUNT(*) AS n_sessions, MAX(n_events) AS max_session_events
        FROM per_session GROUP BY 1
    """,
}

QUERIES = {
    name: fn
    for name, fn in [
        ("q_list_page", q_list_page),
        ("q_count_envelope", q_count_envelope),
        ("q_point_lookup", q_point_lookup),
        ("q_multi_key_lookup", q_multi_key_lookup),
        ("q_dup_check", q_dup_check),
        ("q_shallow_merge", q_shallow_merge),
        ("q_agg_pricing", q_agg_pricing),
        ("q_join_revenue_topn", q_join_revenue_topn),
        ("q_join_region_revenue", q_join_region_revenue),
        ("q_topk_per_group", q_topk_per_group),
        ("q_set_ops", q_set_ops),
        ("q_events_hourly", q_events_hourly),
        ("q_sessionize", q_sessionize),
        ("q_events_json", q_events_json),
        ("q_rollup_orders", q_rollup_orders),
        ("q_exists_subquery", q_exists_subquery),
        ("q_anti_join", q_anti_join),
        ("q_percentiles", q_percentiles),
    ]
}
