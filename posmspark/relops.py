"""Relational operator suite — SURVEY.md §2 coverage over the driver
testdata, each query paired with a DuckDB-oracle ANSI SQL string.

Every entry re-expresses one reference operator (cited per query) as an
idiomatic Spark DataFrame plan. Conventions that keep the oracle
comparison exact:
  - every computed column is aliased IDENTICALLY in Spark and SQL
  - float aggregates are rounded (decimal-stable across engines)
  - timestamps cross the boundary as formatted strings
  - ties in window/top-k are always broken by a unique key

Registry: QUERIES[name] = (spark_fn, duckdb_sql | None). A None oracle
means the op is not SQL-expressible (spatial/minhash/etc.) -> the
driver runs a rows-only check and pytest covers it against a numpy
oracle instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# scans / filters / projections (S2, O1-O5, O9)


def q_scan_filter_project(spark, sf):
    """S2+O1: pushdown filter + projection + row-level compute
    (reference: SetAttributeFilter, exposm/reader.py:20-28)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.filter((F.col("l_shipdate") >= "1995-06-01")
                  & (F.col("l_quantity") < 10))
        .select(
            "l_orderkey", "l_linenumber",
            # price*discount is 4-decimal-exact -> round(.,4) is never a
            # half-way case (round(.,2) would be, and engines disagree there)
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
            .alias("net_price"),
            "l_returnflag",
        )
    )


SQL_SCAN_FILTER_PROJECT = """
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice * (1 - l_discount), 4) AS net_price,
       l_returnflag
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-06-01' AND l_quantity < 10
"""


def q_coalesce_upper(spark, sf):
    """O2+O4: coalesce fallback + uppercase (extract.py:100-112)."""
    d = _t(spark, sf, "documents")
    return d.filter(F.col("n_chars") > 100).select(
        "doc_id",
        F.coalesce("source", "lang").alias("src"),
        F.upper("lang").alias("lang_uc"),
    )


SQL_COALESCE_UPPER = """
SELECT doc_id, coalesce(source, lang) AS src, upper(lang) AS lang_uc
FROM documents WHERE n_chars > 100
"""


def q_id_prefix(spark, sf):
    """O3+T1: layer-dispatched id prefixing (exposm/utils.py:13-35)."""
    c = _t(spark, sf, "customer")
    return c.select(
        F.concat(
            F.when(F.col("c_mktsegment") == "BUILDING", F.lit("N"))
            .when(F.col("c_mktsegment") == "MACHINERY", F.lit("W"))
            .otherwise(F.lit("R")),
            F.col("c_custkey").cast("string"),
        ).alias("osm_style_id"),
        F.col("c_name").alias("name"),
    )


SQL_ID_PREFIX = """
SELECT (CASE WHEN c_mktsegment = 'BUILDING' THEN 'N'
             WHEN c_mktsegment = 'MACHINERY' THEN 'W'
             ELSE 'R' END) || CAST(c_custkey AS VARCHAR) AS osm_style_id,
       c_name AS name
FROM customer
"""


def q_boundary_predicate(spark, sf):
    """O5: tag predicate filter (extract.py:128-137)."""
    e = _t(spark, sf, "events")
    return e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.round("value", 2).alias("value_r")
    )


SQL_BOUNDARY_PREDICATE = """
SELECT event_id, user_id, round(value, 2) AS value_r
FROM events WHERE event_type = 'click'
"""


def q_filler_filter(spark, sf):
    """T3+T4: synthetic-id generation + left(id,3)!='xxx' filter
    (proc_functions.sql:128,243)."""
    p = _t(spark, sf, "part")
    ids = p.select(
        F.when(F.col("p_type") == "PROMO",
               F.concat(F.lit("xxx"), F.col("p_partkey").cast("string")))
        .otherwise(F.concat(F.lit("R"), F.col("p_partkey").cast("string")))
        .alias("gid"),
        "p_size",
    )
    return ids.filter(F.substring("gid", 1, 3) != "xxx")


SQL_FILLER_FILTER = """
WITH ids AS (
  SELECT CASE WHEN p_type = 'PROMO'
              THEN 'xxx' || CAST(p_partkey AS VARCHAR)
              ELSE 'R' || CAST(p_partkey AS VARCHAR) END AS gid,
         p_size
  FROM part
)
SELECT gid, p_size FROM ids WHERE substring(gid, 1, 3) <> 'xxx'
"""


# ---------------------------------------------------------------------------
# joins (O7, O11-O17)


def q_anti_join(spark, sf):
    """O17/O26: set difference as anti-join (extract.py:27-61)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


SQL_ANTI_JOIN = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def q_semi_join(spark, sf):
    """O15: EXISTS semi-join (django models.py:11-39 indicator query)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


SQL_SEMI_JOIN = """
SELECT c_custkey, c_mktsegment FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def q_unusable_anti_join(spark, sf):
    """O7: unusable-feature carry-forward skip (extract.py:73,201-206):
    rows flagged bad in one pass are anti-joined away in the next."""
    li = _t(spark, sf, "lineitem")
    bad = _t(spark, sf, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select(F.col("o_orderkey").alias("l_orderkey"))
    return (
        li.join(bad, "l_orderkey", "left_anti")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_lines"),
             F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


SQL_UNUSABLE_ANTI_JOIN = """
SELECT l_returnflag, count(*) AS n_lines, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
WHERE l_orderkey NOT IN (
  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
GROUP BY l_returnflag
"""


def q_hierarchy_join(spark, sf):
    """O13: chained dimension joins, broadcast build sides
    (proc_functions.sql:337-362 simple_admin views)."""
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_cust"),
             F.round(F.sum("c_acctbal"), 2).alias("acctbal_sum"))
    )


SQL_HIERARCHY_JOIN = """
SELECT r_name, n_name, count(*) AS n_cust,
       round(sum(c_acctbal), 2) AS acctbal_sum
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_mapping_override(spark, sf):
    """O8: per-key config override with default fallback
    (admin_mapping.yaml + extract.py:218-239)."""
    n = _t(spark, sf, "nation")
    ov = spark.createDataFrame(
        [("FRANCE", "EU-CORE"), ("GERMANY", "EU-CORE"), ("CHINA", "APAC-CORE")],
        ["n_name", "zone_override"],
    )
    return (
        n.join(F.broadcast(ov), "n_name", "left")
        .select(
            "n_name",
            F.coalesce("zone_override", F.lit("DEFAULT")).alias("zone"),
        )
    )


SQL_MAPPING_OVERRIDE = """
SELECT n_name, coalesce(ov.zone_override, 'DEFAULT') AS zone
FROM nation
LEFT JOIN (VALUES ('FRANCE','EU-CORE'), ('GERMANY','EU-CORE'),
                  ('CHINA','APAC-CORE')) AS ov(name, zone_override)
  ON n_name = ov.name
"""


def q_first_match(spark, sf):
    """O24: first-match-wins per group, explicit priority tie-break
    (exposm/utils.py:43-48 first R-tree hit)."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("first_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("first_date"),
        )
    )


SQL_FIRST_MATCH = """
SELECT o_custkey, o_orderkey AS first_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS first_date
FROM (SELECT *, row_number() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders) WHERE rn = 1
"""


def q_set_difference(spark, sf):
    """O26: EXCEPT both directions with a side tag (check files,
    extract.py:40-61)."""
    p = _t(spark, sf, "part").select(F.col("p_partkey").alias("k"))
    l = _t(spark, sf, "lineitem").select(F.col("l_partkey").alias("k"))
    missing = p.exceptAll(l.distinct()).distinct().withColumn(
        "side", F.lit("never_ordered"))
    new = l.distinct().exceptAll(p).withColumn("side", F.lit("unknown_part"))
    return missing.unionByName(new)


SQL_SET_DIFFERENCE = """
SELECT k, 'never_ordered' AS side FROM (
  SELECT p_partkey AS k FROM part
  EXCEPT SELECT DISTINCT l_partkey FROM lineitem)
UNION ALL
SELECT k, 'unknown_part' AS side FROM (
  SELECT DISTINCT l_partkey AS k FROM lineitem
  EXCEPT SELECT p_partkey FROM part)
"""


def q_union_bag(spark, sf):
    """O25: bag union of two sources (proc_functions.sql:301-304)."""
    c = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("key"), F.lit("customer").alias("src"))
    s = _t(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("key"), F.lit("supplier").alias("src"))
    return c.unionByName(s).filter(F.col("key") <= 50)


SQL_UNION_BAG = """
SELECT * FROM (
  SELECT c_custkey AS key, 'customer' AS src FROM customer
  UNION ALL
  SELECT s_suppkey AS key, 'supplier' AS src FROM supplier)
WHERE key <= 50
"""


# ---------------------------------------------------------------------------
# aggregations (O18-O22 analogs)


def q_pricing_summary(spark, sf):
    """O20 + TPC-H Q1 shape: the workhorse groupBy aggregate."""
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
            .alias("sum_disc_price"),
            # avg from the already-rounded sum so both engines divide
            # bit-identical doubles (no half-way disagreement)
            F.round(F.round(F.sum("l_quantity"), 2) / F.count(F.lit(1)), 6)
            .alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(round(sum(l_quantity), 2) / count(*), 6) AS avg_qty,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_rollup_hierarchy(spark, sf):
    """O18/O19 analog: levels 2->1->0 re-aggregation as ONE rollup pass
    (replaces proc_functions.sql:104-197 three sequential passes)."""
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    j = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return j.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.round(F.sum("c_acctbal"), 2).alias("acctbal_sum"),
    )


SQL_ROLLUP_HIERARCHY = """
SELECT r_name, n_name, count(*) AS n_cust,
       round(sum(c_acctbal), 2) AS acctbal_sum
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_distinct_exact(spark, sf):
    """exact count-distinct per group (O20/O22 tile-stats analog)."""
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.countDistinct("c_mktsegment").alias("n_segments"),
            F.count(F.lit(1)).alias("n_cust"),
        )
    )


SQL_DISTINCT_EXACT = """
SELECT n_name, count(DISTINCT c_mktsegment) AS n_segments, count(*) AS n_cust
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_pivot_status(spark, sf):
    """conditional aggregation fan-out (level multiplexer O10 analog)."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    j = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return j.groupBy("n_name").agg(
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_f"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_o"),
        F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)).alias("n_p"),
    )


SQL_PIVOT_STATUS = """
SELECT n_name,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_case_bucket(spark, sf):
    """T-series CASE classification + min/max aggregates."""
    o = _t(spark, sf, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "mid")
        .otherwise("large")
    )
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


SQL_CASE_BUCKET = """
SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
            WHEN o_totalprice < 150000 THEN 'mid'
            ELSE 'large' END AS bucket,
       count(*) AS n,
       round(min(o_totalprice), 2) AS min_price,
       round(max(o_totalprice), 2) AS max_price
FROM orders GROUP BY 1
"""


def q_date_trunc_hourly(spark, sf):
    """tile-style time bucketing of the events table (O22 raster axis)."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
            .alias("hour")
        )
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.round(F.sum("value"), 2) / F.count(F.lit(1)), 6)
             .alias("avg_value"))
    )


SQL_DATE_TRUNC_HOURLY = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       count(*) AS n_events,
       round(round(sum(value), 2) / count(*), 6) AS avg_value
FROM events GROUP BY 1
"""


def q_json_extract(spark, sf):
    """nested props extraction (config-map analog, settings.py:41-46)."""
    e = _t(spark, sf, "events")
    return (
        e.withColumn("k_val", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("event_type")
        .agg(F.sum("k_val").alias("k_sum"), F.count(F.lit(1)).alias("n"))
    )


SQL_JSON_EXTRACT = """
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum,
       count(*) AS n
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# windows / sorts / limits (O23, O24)


def q_window_running(spark, sf):
    """running aggregate in deterministic order (ordered cursor loops,
    generate_geojson.py:162-167, as a window)."""
    o = _t(spark, sf, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


SQL_WINDOW_RUNNING = """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
FROM orders
"""


def q_topk(spark, sf):
    """O23 ordered output + deterministic top-k."""
    o = _t(spark, sf, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
        .limit(15)
    )


SQL_TOPK = """
SELECT o_orderkey, round(o_totalprice, 2) AS price
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 15
"""


def q_sessionize(spark, sf):
    """gap-based sessionization (the batch analog of the streaming
    session-window op; north-rule 'resumable batch stages')."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = F.col("ts").cast("timestamp").cast("long")  # parquet reads as NTZ
    gap = secs - F.lag(secs).over(w)
    sess = e.withColumn(
        "new_sess",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
    )
    return sess.groupBy("user_id").agg(
        F.sum("new_sess").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


SQL_SESSIONIZE = """
WITH g AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
              OR date_diff('second',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events)
SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM g GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# string / format functions (T1-T11)


def q_string_funcs(spark, sf):
    """T2/T7/T10: upper, %.6E byte-level format (extract_poly.py:135),
    regexp extraction (exposm/utils.py:105-115)."""
    p = _t(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_uc"),
        F.format_string("%.6E", F.col("p_retailprice")).alias("price_sci"),
        F.format_string("%.2f", F.col("p_retailprice")).alias("price_fmt"),
        F.regexp_extract("p_brand", r"(\d+)", 1).alias("brand_num"),
        F.substring("p_type", 1, 4).alias("type4"),
        F.lower("p_type").alias("type_lc"),
    )


SQL_STRING_FUNCS = """
SELECT p_partkey, upper(p_name) AS name_uc,
       printf('%.6E', p_retailprice) AS price_sci,
       printf('%.2f', p_retailprice) AS price_fmt,
       regexp_extract(p_brand, '(\\d+)', 1) AS brand_num,
       substring(p_type, 1, 4) AS type4,
       lower(p_type) AS type_lc
FROM part
"""


def q_snap_to_grid(spark, sf):
    """G12: ST_SnapToGrid(geom, 0.00005) analog as column arithmetic
    (POSMmanagement/process.py:85-102) — here snapping price values to a
    0.05 grid; the geometry variant is geom.snap_to_grid (unit-tested)."""
    p = _t(spark, sf, "part")
    snapped = F.round(F.col("p_retailprice") / 0.05) * 0.05
    return p.select(
        "p_partkey", F.round(snapped, 2).alias("price_snapped")
    )


SQL_SNAP_TO_GRID = """
SELECT p_partkey, round(round(p_retailprice / 0.05) * 0.05, 2) AS price_snapped
FROM part
"""


def q_problem_url(spark, sf):
    """T6: problem-link URL building (exposm/utils.py:118-126 format)."""
    e = _t(spark, sf, "events")
    return e.filter(F.col("event_type") == "error").select(
        "event_id",
        F.format_string(
            "https://problems.example/?id=%d&v=%.2f#map=18", "event_id", "value"
        ).alias("problem_url"),
    )


SQL_PROBLEM_URL = """
SELECT event_id,
       printf('https://problems.example/?id=%d&v=%.2f#map=18',
              event_id, value) AS problem_url
FROM events WHERE event_type = 'error'
"""


# ---------------------------------------------------------------------------
# training-data ops: dedup / text stats / similarity (north-rule additions)


def q_rand_indicators(spark, sf):
    """O21/T11: demo indicator generation (create_demodata.py:12-43) as
    seeded DETERMINISTIC pseudo-randoms (md5-derived uniforms) so the
    oracle can reproduce them bit-for-bit."""
    n = _t(spark, sf, "nation")

    def u(col, salt):
        h = F.conv(F.substring(F.md5(F.concat(F.lit(salt), col)), 1, 12),
                   16, 10).cast("long")
        return F.round(h % 1000000 / 1000000.0, 6)

    return n.select(
        F.col("n_name").alias("name"),
        u(F.col("n_name"), "a|").alias("factor_a"),
        u(F.col("n_name"), "b|").alias("factor_b"),
    )


SQL_RAND_INDICATORS = """
SELECT n_name AS name,
       round(CAST('0x' || substring(md5('a|' || n_name), 1, 12) AS BIGINT)
             % 1000000 / 1000000.0, 6) AS factor_a,
       round(CAST('0x' || substring(md5('b|' || n_name), 1, 12) AS BIGINT)
             % 1000000 / 1000000.0, 6) AS factor_b
FROM nation
"""


def q_dedup_exact(spark, sf):
    """exact dedup via content signature: md5 of the sorted distinct
    token set; keep min doc_id per group (hash-groupBy dedup).
    spread_input (r06) parallelizes the per-row sort+md5 when the scan
    is a single-row-group file."""
    from posmspark import session as _session

    d = _session.spread_input(_t(spark, sf, "documents"))
    sig = F.md5(
        F.array_join(F.array_sort(F.array_distinct(F.split("text", " "))), " ")
    )
    return (
        d.withColumn("sig", sig)
        .groupBy("sig")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


SQL_DEDUP_EXACT = """
SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))),
           ' ')) AS sig,
       min(doc_id) AS keep_doc_id, count(*) AS n_docs
FROM documents GROUP BY 1
"""


#: BPE-ish pre-tokenizer: letter runs | digit runs | single punct —
#: the GPT-2-style split shape, engine-portable regex subset
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def q_token_stats(spark, sf):
    """token counting (whitespace + BPE-ish regex) + quality scoring
    (length / stopword ratios). spread_input (r06) parallelizes the
    regexp_count when the scan is a single-row-group file."""
    from posmspark import session as _session

    d = _session.spread_input(_t(spark, sf, "documents"))
    toks = F.split("text", " ")
    stop = F.filter(toks, lambda x: x.isin("the", "a"))
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.regexp_count(F.col("text"), F.lit(BPE_TOKEN_RE))
        .alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_actual"),
        F.round(F.size(stop) / F.size(toks), 4).alias("stopword_ratio"),
    )


SQL_TOKEN_STATS = """
SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
         AS n_bpe_tokens,
       length(text) AS n_chars_actual,
       round(len(list_filter(string_split(text, ' '),
                 x -> x IN ('the', 'a'))) * 1.0
             / len(string_split(text, ' ')), 4) AS stopword_ratio
FROM documents
"""


def q_lang_quality(spark, sf):
    """language-ID heuristic + length-bucket quality class."""
    d = _t(spark, sf, "documents")
    guess = (
        F.when(F.col("text").like("% the %"), "en-like").otherwise("other")
    )
    quality = (
        F.when(F.col("n_chars") < 120, "short")
        .when(F.col("n_chars") < 400, "medium")
        .otherwise("long")
    )
    return d.groupBy(guess.alias("lang_guess"), quality.alias("quality")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 3).alias("avg_chars"),
    )


SQL_LANG_QUALITY = """
SELECT CASE WHEN text LIKE '% the %' THEN 'en-like' ELSE 'other' END
         AS lang_guess,
       CASE WHEN n_chars < 120 THEN 'short'
            WHEN n_chars < 400 THEN 'medium' ELSE 'long' END AS quality,
       count(*) AS n_docs, round(avg(n_chars), 3) AS avg_chars
FROM documents GROUP BY 1, 2
"""


def q_repetition_stats(spark, sf):
    """Gopher-style repetition quality signals per document: the share
    of word 2-grams claimed by the most frequent 2-gram, the share of
    2-gram slots whose gram occurs more than once, and the most
    frequent single word's share of tokens — the repetition filters a
    training-data pipeline runs before dedup (cf. Rae et al. 2021 §A1).

    Cross-engine exactness: every metric stays an integer count until
    ONE exact IEEE division (ints << 2^53, correctly rounded in both
    engines), so no rounding grid is needed. max(count) avoids any
    argmax tie-break entirely. Scale shape: MAP-ONLY — every metric is
    local to one document, computed by sorting the per-row token /
    2-gram arrays and run-length-folding them in a single `aggregate`
    expression: one scan, ZERO exchanges at any size (plan-pinned).
    The token array is a materialized column, never re-split inside a
    lambda, and each string is compared to its sorted neighbor exactly
    once (a zip_with flags array feeds an integer-only fold)."""
    return repetition_stats_transform(_t(spark, sf, "documents"))


def repetition_stats_transform(d: DataFrame) -> DataFrame:
    """Shared batch/stream transform behind q_repetition_stats: being
    stateless map-only (no aggregation state, no watermark), the SAME
    plan runs unchanged as a Structured Streaming append-mode
    transform — pinned by the batch/stream parity test."""
    toks = (d.select("doc_id", F.split("text", " ").alias("w"))
            .withColumn("n_tokens", F.size("w"))
            .filter(F.col("n_tokens") >= 2))
    # MAP-ONLY: every metric is local to one document, so sort each
    # array and run-length it inside a single `aggregate` fold — ZERO
    # shuffle at any scale. (The first cut exploded tokens into a
    # global (doc_id, tok) groupBy; the 10x bench measured 20.5x wall
    # growth for 10x docs — ~600M exploded string-keyed rows spilling
    # through one exchange. This shape is exactly linear.)
    arr = toks.select(
        "doc_id", "n_tokens",
        F.array_sort(F.expr(
            "transform(sequence(0, size(w) - 2),"
            " i -> concat(element_at(w, i + 1), ' ',"
            " element_at(w, i + 2)))")).alias("sg"),
        F.array_sort("w").alias("sw"))

    def runstats(col):
        # longest equal run (mx) and total members of runs longer
        # than 1 (dup). Each string is compared to its sorted neighbor
        # ONCE, in the zip_with producing a boolean flags array; the
        # fold itself is integer-only (Spark does no CSE inside HOF
        # lambdas, so putting the compare in the fold would pay it
        # twice per element — review r05)
        return F.expr(f"""aggregate(
          zip_with(slice({col}, 1, size({col}) - 1),
                   slice({col}, 2, size({col}) - 1), (x, y) -> x = y),
          named_struct('cur', 1L, 'mx', 1L, 'dup', 0L),
          (st, same) -> named_struct(
            'cur', IF(same, st.cur + 1L, 1L),
            'mx', greatest(st.mx, IF(same, st.cur + 1L, 1L)),
            'dup', st.dup + IF(NOT same AND st.cur > 1L,
                               st.cur, 0L)),
          st -> named_struct(
            'mx', st.mx,
            'dup', st.dup + IF(st.cur > 1L, st.cur, 0L)))""")

    # explode(array(struct(...))) is a Generate node — a CollapseProject
    # barrier, so each heavy fold is evaluated ONCE even though its
    # fields feed multiple output columns (the r01 expression-blowup
    # pitfall class)
    staged = arr.select(
        "doc_id", "n_tokens",
        F.explode(F.array(F.struct(
            runstats("sg").alias("g"),
            runstats("sw").alias("t")))).alias("st"))
    n_grams = (F.col("n_tokens") - 1).cast("double")
    return staged.select(
        "doc_id", "n_tokens",
        (F.col("st.g.mx").cast("double") / n_grams)
        .alias("top_2gram_frac"),
        (F.col("st.g.dup").cast("double") / n_grams)
        .alias("dup_2gram_frac"),
        (F.col("st.t.mx").cast("double")
         / F.col("n_tokens").cast("double")).alias("top_word_frac"))


SQL_REPETITION_STATS = """
WITH toks AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS w,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents),
t2 AS (SELECT * FROM toks WHERE n_tokens >= 2),
grams AS (
  SELECT doc_id, n_tokens,
         unnest(list_transform(range(n_tokens - 1),
                i -> w[i + 1] || ' ' || w[i + 2])) AS gram
  FROM t2),
gagg AS (
  SELECT doc_id, n_tokens, max(c) AS top_c, sum(c) AS n_grams,
         sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_g
  FROM (SELECT doc_id, n_tokens, gram, count(*) AS c
        FROM grams GROUP BY doc_id, n_tokens, gram)
  GROUP BY doc_id, n_tokens),
wc AS (
  SELECT doc_id, max(cw) AS top_w
  FROM (SELECT doc_id, word, count(*) AS cw
        FROM (SELECT doc_id, unnest(w) AS word FROM t2)
        GROUP BY doc_id, word)
  GROUP BY doc_id)
SELECT g.doc_id, g.n_tokens,
       CAST(g.top_c AS DOUBLE) / CAST(g.n_grams AS DOUBLE)
         AS top_2gram_frac,
       CAST(g.dup_g AS DOUBLE) / CAST(g.n_grams AS DOUBLE)
         AS dup_2gram_frac,
       CAST(w.top_w AS DOUBLE) / CAST(g.n_tokens AS DOUBLE)
         AS top_word_frac
FROM gagg g JOIN wc w ON w.doc_id = g.doc_id
"""


#: doc-frequency above which a shingle counts as boilerplate and is
#: excluded from CANDIDATE generation (never from the exact Jaccard).
NGRAM_MAX_SHINGLE_FREQ = 50


def _doc_shingles(spark, sf):
    """Distinct word 3-gram shingles of the documents table — thin
    wrapper over dedup.shingles (ONE shingle kernel to maintain).
    spread_input parallelizes the string work when the scan is a
    single-row-group file (r06; no-op on multi-split inputs)."""
    from posmspark import dedup
    from posmspark import session as _session

    return dedup.shingles(
        _session.spread_input(_t(spark, sf, "documents")), n=3)


def q_ngram_jaccard_pairs(spark, sf):
    """near-dup detection: word-3-gram Jaccard >= 0.8 pairs.

    Scale shape (the 100-TB guard): candidate pairs come from
    dedup.bucket_pairs on *cold* shingles only — shingles shared by
    more than NGRAM_MAX_SHINGLE_FREQ docs are boilerplate and excluded
    from candidate generation, so a hot shingle can never emit M^2/2
    pairs (dedup.minhash_signatures applies the same cap). The exact
    Jaccard is then computed over the FULL shingle sets of candidate
    pairs only, so emitted values are unchanged; a pair whose shared
    shingles are ALL boilerplate is the one class deliberately skipped.
    """
    # The shingle stage feeds three downstream branches (hot filter,
    # candidate generation, the per-pair exact-intersection joins);
    # stage it once — at 100 TB you materialize the shingle table, you
    # don't redo the string work per branch. The STAGED form is per-doc
    # int64 hash ARRAYS (r05; see dedup.shingle_hash_arrays): one row
    # per doc, cheap to cache, per-doc counts fall out of F.size.
    # spread_input (r06) parallelizes the string stage when the scan is
    # a single-row-group file (measured 4.1s -> ~1s materialize).
    from posmspark import dedup
    from posmspark import session as _session

    sha = _session.stage_persist(dedup.shingle_hash_arrays(
        _session.spread_input(_t(spark, sf, "documents")), n=3))
    shh = sha.select("doc_id", F.explode("shs").alias("sh_h"))
    hot = (
        shh.groupBy("sh_h").agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > NGRAM_MAX_SHINGLE_FREQ).select("sh_h")
    )
    cold = shh.join(F.broadcast(hot), "sh_h", "left_anti")
    # cold shingles have df <= NGRAM_MAX_SHINGLE_FREQ by construction,
    # so that is the bucket bound: in-JVM pair expansion, no self-join
    cand = dedup.bucket_pairs(
        cold, ["sh_h"], "doc_id", cap=NGRAM_MAX_SHINGLE_FREQ).select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    # exact intersection per candidate pair from the STAGED arrays
    # (r06): attach each side's full hash array and count the overlap
    # in-JVM — n_inter = |shs_a ∩ shs_b| covers hot AND cold shingles
    # in one expression, n_a/n_b are the array sizes. This replaces the
    # r05 hot-recovery chain (two merge-hinted sort joins over every
    # hot occurrence row + a groupBy + a left join) and the two
    # merge-hinted count joins: 4 sort-merge joins -> 2 narrow equi-
    # joins whose build/probe sides AQE sizes from the cache's REAL
    # statistics (measured 3.9s -> <1s on the hot-recovery stage).
    # Values unchanged: arrays hold the same distinct-per-doc hashes
    # the row joins matched on (same 2^-64 collision corner), and
    # array_intersect of duplicate-free arrays is exactly the shared-
    # shingle count. Candidate pairs are O(docs) by the cap argument,
    # the arrays are ~bounded by doc length: both joins stay linear.
    sa = sha.select(F.col("doc_id").alias("doc_a"),
                    F.col("shs").alias("_shs_a"))
    sb = sha.select(F.col("doc_id").alias("doc_b"),
                    F.col("shs").alias("_shs_b"))
    # size-ratio prefilter before the intersection: J <= min(n_a, n_b)
    # / max(n_a, n_b), and the kept pairs have round(J, 4) >= 0.8, i.e.
    # J >= 0.79995. The integer test at 0.79 keeps a margin below that,
    # so it drops only pairs the Jaccard filter drops too.
    n_a, n_b = F.size("_shs_a"), F.size("_shs_b")
    return (
        cand.join(sa, "doc_a").join(sb, "doc_b")
        .filter(100 * F.least(n_a, n_b) >= 79 * F.greatest(n_a, n_b))
        .select(
            "doc_a", "doc_b",
            F.size(F.array_intersect("_shs_a", "_shs_b")).alias("n_inter"),
            F.size("_shs_a").alias("n_a"), F.size("_shs_b").alias("n_b"))
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4),
        )
        .filter(F.col("jaccard") >= 0.8)
        .select("doc_a", "doc_b", "jaccard")
    )


SQL_NGRAM_JACCARD_PAIRS = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(1, greatest(len(t) - 2, 0)),
             i -> array_to_string(t[i:i+2], ' '))) AS shingle
    FROM toks)),
hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 50),
cold AS (SELECT * FROM sh ANTI JOIN hot USING (shingle)),
inter_cold AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_cold
  FROM cold a JOIN cold b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
hot_sh AS (SELECT * FROM sh SEMI JOIN hot USING (shingle)),
inter_hot AS (
  SELECT ic.doc_a, ic.doc_b, count(*) AS n_hot
  FROM inter_cold ic
  JOIN hot_sh a ON a.doc_id = ic.doc_a
  JOIN hot_sh b ON b.doc_id = ic.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2),
counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT ic.doc_a, ic.doc_b,
         ic.n_cold + coalesce(ih.n_hot, 0) AS n_inter
  FROM inter_cold ic
  LEFT JOIN inter_hot ih ON ih.doc_a = ic.doc_a AND ih.doc_b = ic.doc_b)
SELECT doc_a, doc_b,
       round(n_inter * 1.0 / (ca.n_sh + cb.n_sh - n_inter), 4) AS jaccard
FROM inter
JOIN counts ca ON ca.doc_id = doc_a
JOIN counts cb ON cb.doc_id = doc_b
WHERE round(n_inter * 1.0 / (ca.n_sh + cb.n_sh - n_inter), 4) >= 0.8
"""


def q_minhash_band_candidates(spark, sf):
    """MinHash+LSH candidate pairs: per-band min(md5(band || shingle))
    signatures; docs colliding on any band signature are candidates.
    md5 is identical across engines, so this is fully oracle-checkable.

    Skew guard (the 100-TB shape): each shingle keeps only its
    NGRAM_MAX_SHINGLE_FREQ smallest doc_ids before banding. A hot
    boilerplate shingle — or an exact-duplicate cluster of M docs,
    whose members share EVERY shingle — then feeds at most K docs into
    any band bucket, so the (band, sig) pair expansion emits <= K^2/2
    pairs per bucket instead of M^2/2. Unlike dropping hot shingles
    outright (the round-2 approach, whose blind spot was whole clusters
    larger than K — ADVICE r02), sampling keeps the K representatives of
    every large cluster pairable; only members beyond the K smallest ids
    of ALL their shingles go uncandidated (run exact dedup first — see
    dedup.py module docstring).

    r06: the shingle stage feeds exactly ONE consumer now (the grouped
    signature build inside minhash_signatures), so the stage_persist —
    which materialized 2.6M exploded string rows through the cache — is
    gone; see dedup.minhash_signatures for the one-pass shape."""
    from posmspark import dedup

    sigs = dedup.minhash_signatures(
        _doc_shingles(spark, sf), n_bands=4,
        max_shingle_freq=NGRAM_MAX_SHINGLE_FREQ, portable_hash=True)
    return dedup.lsh_candidate_pairs(sigs).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))


SQL_MINHASH_BAND_CANDIDATES = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(1, greatest(len(t) - 2, 0)),
             i -> array_to_string(t[i:i+2], ' '))) AS shingle
    FROM toks)),
capped AS (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle,
           row_number() OVER (PARTITION BY shingle ORDER BY doc_id) AS rn
    FROM sh) WHERE rn <= 50),
sigs AS (
  SELECT doc_id, band,
         min(md5(CAST(band AS VARCHAR) || '|' || shingle)) AS sig
  FROM capped CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band)
  GROUP BY doc_id, band)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM sigs a JOIN sigs b
  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
"""


def q_minhash_verified_dups(spark, sf):
    """MinHash+LSH end-to-end THROUGH the dedup module (signatures ->
    banded candidates -> exact-Jaccard verify), oracle-checked: the
    portable md5 band hash is byte-identical in DuckDB, so the whole
    LSH+verify path gets a rows+schema+hash row (promoted from
    rows-only, VERDICT r02 item 7). Skew guard = K-smallest-ids
    sampling per shingle (see q_minhash_band_candidates)."""
    from posmspark import dedup

    from posmspark import session as _session

    sh = _session.stage_persist(_doc_shingles(spark, sf))
    sigs = dedup.minhash_signatures(
        sh, n_bands=8, max_shingle_freq=NGRAM_MAX_SHINGLE_FREQ,
        portable_hash=True)
    cand = dedup.lsh_candidate_pairs(sigs)
    out = dedup.verify_jaccard(cand, sh, threshold=0.8)
    return out.select("id_a", "id_b",
                      F.round("jaccard", 4).alias("jaccard"))


SQL_MINHASH_VERIFIED_DUPS = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(1, greatest(len(t) - 2, 0)),
             i -> array_to_string(t[i:i+2], ' '))) AS shingle
    FROM toks)),
capped AS (
  SELECT doc_id, shingle FROM (
    SELECT doc_id, shingle,
           row_number() OVER (PARTITION BY shingle ORDER BY doc_id) AS rn
    FROM sh) WHERE rn <= 50),
sigs AS (
  SELECT doc_id, band,
         min(md5(CAST(band AS VARCHAR) || '|' || shingle)) AS sig
  FROM capped CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS band)
  GROUP BY doc_id, band),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sigs a JOIN sigs b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2)
SELECT id_a, id_b,
       round(n_inter * 1.0 / (ca.n_sh + cb.n_sh - n_inter), 4) AS jaccard
FROM inter
JOIN counts ca ON ca.doc_id = id_a
JOIN counts cb ON cb.doc_id = id_b
WHERE n_inter * 1.0 / (ca.n_sh + cb.n_sh - n_inter) >= 0.8
"""


def q_simhash_pigeonhole_pairs(spark, sf):
    """SimHash near-dup pairs, oracle-checked (promoted per VERDICT r02
    item 7): engine-portable 32-bit fingerprint — bit b of token t is
    the high bit of md5(t)'s (b+1)-th hex nibble; fingerprint bit b =
    sign of the per-doc token sum. Candidates via the pigeonhole block
    join (4 x 8-bit blocks: two fps within hamming<=3 agree on >=1
    block), verified with bit_count(xor). The production 64-bit FNV
    pandas_udf kernel stays in posmspark/dedup.py (rows-only entry
    simhash_near_pairs); this variant shares the pigeonhole/verify
    shape and is hash-checkable vs DuckDB. Buckets are capped at the
    50 smallest doc ids (exact-dup clusters share every block value —
    same sampling guard as minhash)."""
    from posmspark import dedup

    d = _t(spark, sf, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
    ).withColumn("h", F.md5("tok"))
    bits = toks.select(
        "doc_id", "h", F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b"))
    score = (
        bits.withColumn(
            "s",
            F.when(
                F.expr("substring(h, b + 1, 1)")
                .isin("8", "9", "a", "b", "c", "d", "e", "f"),
                1,
            ).otherwise(-1),
        )
        .groupBy("doc_id", "b")
        .agg(F.sum("s").alias("score"))
    )
    fp = score.groupBy("doc_id").agg(
        F.sum(
            F.expr("CASE WHEN score > 0"
                   " THEN shiftleft(CAST(1 AS BIGINT), b) ELSE 0 END")
        ).alias("fp")
    )
    blocks = (
        fp.select("doc_id", "fp",
                  F.explode(F.sequence(F.lit(0), F.lit(3))).alias("blk"))
        .withColumn("val", F.expr("shiftright(fp, blk * 8) & 255"))
    )
    cand = dedup.bucket_pairs(blocks, ["blk", "val"], "doc_id", cap=50,
                              payload_cols=("fp",))
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
            .cast("bigint"))
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
    )


SQL_SIMHASH_PIGEONHOLE_PAIRS = """
WITH toks AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents)),
hashed AS (SELECT doc_id, md5(tok) AS h FROM toks),
bits AS (
  SELECT doc_id, h, b,
         CASE WHEN substring(h, b + 1, 1) IN
                   ('8','9','a','b','c','d','e','f')
              THEN 1 ELSE -1 END AS s
  FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b)),
score AS (
  SELECT doc_id, b, sum(s) AS score FROM bits GROUP BY doc_id, b),
fp AS (
  SELECT doc_id,
         sum(CASE WHEN score > 0 THEN (CAST(1 AS BIGINT) << b)
                  ELSE 0 END) AS fp
  FROM score GROUP BY doc_id),
blocks_all AS (
  SELECT doc_id, fp, blk, (fp >> (blk * 8)) & 255 AS val
  FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS blk)),
blocks AS (
  SELECT doc_id, fp, blk, val FROM (
    SELECT *, row_number() OVER (PARTITION BY blk, val
                                 ORDER BY doc_id) AS rn
    FROM blocks_all) WHERE rn <= 50),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.fp AS fp_a, b.fp AS fp_b
  FROM blocks a JOIN blocks b
    ON a.blk = b.blk AND a.val = b.val AND a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(fp_a, fp_b)) <= 3
"""


def q_embedding_label_centroids(spark, sf):
    """per-label embedding centroids (posexplode + group avg) — the
    aggregation half of embedding-space dedup/clustering."""
    e = _t(spark, sf, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("pos", "val"))
    return (
        ex.filter(F.col("pos") < 8)  # first 8 dims keep the output small
        .groupBy("label", "pos")
        # decimal sum is exact and aggregation-order-independent, so the
        # distributed partial agg matches DuckDB's sequential sum bit-for-bit
        .agg(
            F.round(
                F.sum(F.col("val").cast("decimal(20,10)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_val")
        )
    )


SQL_EMBEDDING_LABEL_CENTROIDS = """
SELECT label, i - 1 AS pos,
       round(CAST(sum(CAST(embedding[i] AS DECIMAL(20,10))) AS DOUBLE)
             / count(*), 6) AS avg_val
FROM embeddings
CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS i)
GROUP BY label, i - 1
"""


def q_ann_cosine_topk(spark, sf):
    """brute-force cosine top-k ANN baseline: query = vec_id 0 against
    all others; JVM-side F.aggregate/zip_with dot products (no Python
    in the loop). The LSH-bucketed scale path lives in posmspark/ann.py."""
    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"))
    j = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    dot = F.expr(
        "aggregate(zip_with(embedding, q_emb,"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    na = F.expr(
        "sqrt(aggregate(embedding, CAST(0.0 AS DOUBLE),"
        " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )
    nq = F.expr(
        "sqrt(aggregate(q_emb, CAST(0.0 AS DOUBLE),"
        " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )
    return (
        j.withColumn("cos_sim", F.round(dot / (na * nq), 6))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .select("vec_id", "label", "cos_sim")
        .limit(10)
    )


SQL_ANN_COSINE_TOPK = """
WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label,
       round(
         list_sum(list_transform(generate_series(1, len(embedding)),
           i -> CAST(embedding[i] AS DOUBLE) * CAST(q_emb[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(embedding,
              v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
          * sqrt(list_sum(list_transform(q_emb,
              v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))), 6) AS cos_sim
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
"""


def _embedding_dup_fixture(spark, sf):
    """Shared base+pert fixture for BOTH cosine-dup registry queries:
    every 5th vector gets a deterministic perturbed twin (per-element
    double arithmetic both engines reproduce bit-identically). The two
    Spark queries and SQL_EMBEDDING_COSINE_DUPS's base/pert CTEs must
    stay expression-identical — one helper so they cannot desync
    (review r05)."""
    e = _t(spark, sf, "embeddings")
    base = e.select(
        "vec_id",
        F.expr("transform(embedding, v -> CAST(v AS DOUBLE))").alias("emb"),
    )
    pert = e.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.expr(
            "transform(sequence(1, size(embedding)),"
            " i -> CAST(element_at(embedding, i) AS DOUBLE)"
            " * (CAST(1.0 AS DOUBLE)"
            "    + CAST(0.0001 AS DOUBLE) * CAST(i % 7 - 3 AS DOUBLE)))"
        ).alias("emb"),
    )
    return base.unionByName(pert)


def q_embedding_cosine_dups(spark, sf):
    """embedding-cosine near-dup dedup (north-rule LLM-pipeline op,
    completing the dedup family: exact / minhash / simhash / ngram /
    embedding). The synthetic embeddings table has no natural near-dups
    (max pairwise cosine ~0.52), so the query first derives
    deterministic perturbed copies of every 5th vector
    (_embedding_dup_fixture), then finds ALL pairs at cosine >= 0.99.
    At dim=64/threshold=0.99 the exact grid of ann.cosine_near_pairs
    cannot prune (its measured-quadratic corner: 129s at 9.6k
    vectors), so the query calls the scale-safe LSH+exact-verify path,
    ann.cosine_near_pairs_lsh, at the SAME 16-bit x 8-table
    configuration the embedding_cosine_dups_lsh registry row
    hash-proved against this very oracle in r05. DuckDB brute-forces
    the same pairs for the hash gate (rows unchanged)."""
    from posmspark import ann

    pairs = ann.cosine_near_pairs_lsh(
        _embedding_dup_fixture(spark, sf), threshold=0.99, spark=spark,
        dim=64, id_col="vec_id", emb_col="emb", n_planes=16, n_tables=8)
    return pairs.select(
        "id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))


SQL_EMBEDDING_COSINE_DUPS = """
WITH base AS (
  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
  FROM embeddings
), pert AS (
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(generate_series(1, len(embedding)),
           i -> CAST(embedding[i] AS DOUBLE)
                * (CAST(1.0 AS DOUBLE)
                   + CAST(0.0001 AS DOUBLE) * CAST(i % 7 - 3 AS DOUBLE)))
           AS emb
  FROM embeddings WHERE vec_id % 5 = 0
), allv AS (
  SELECT * FROM base UNION ALL SELECT * FROM pert
), scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    list_sum(list_transform(generate_series(1, len(a.emb)),
      i -> a.emb[i] * b.emb[i]))
    / (sqrt(list_sum(list_transform(a.emb, v -> v * v)))
     * sqrt(list_sum(list_transform(b.emb, v -> v * v)))) AS c
  FROM allv a JOIN allv b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(c, 6) AS cos_sim FROM scored WHERE c >= 0.99
"""


def q_embedding_cosine_dups_lsh(spark, sf):
    """embedding near-dup dedup through the LSH SCALE path
    (ann.cosine_near_pairs_lsh) over the SAME fixture — and the SAME
    brute-force DuckDB oracle — as embedding_cosine_dups. The oracle
    row is therefore a cross-engine RECALL proof: signed-hyperplane
    band candidates (16 bits x 8 tables, fixed seed -> deterministic)
    + exact cosine verify must reproduce the full exact pair set
    DuckDB derives by O(n^2) brute force. Precision is structural
    (exact verify); recall at the fixture's twin cosine (~0.99998,
    per-bit agree ~0.998) has miss probability ~1e-12 per pair, and
    with fixed planes the outcome is deterministic, so the hash gate
    is stable. At 100 TB this is the variant that survives: the exact
    grid blocker degenerates on high-dim near-isotropic embeddings
    (see ann.cosine_near_pairs_lsh docstring + BENCH/ann_scaling.py).
    """
    from posmspark import ann

    pairs = ann.cosine_near_pairs_lsh(
        _embedding_dup_fixture(spark, sf), threshold=0.99, spark=spark,
        dim=64, id_col="vec_id", emb_col="emb", n_planes=16, n_tables=8)
    return pairs.select(
        "id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))


def q_knn_topk_flat(spark, sf):
    """O16 under the ORACLE gate: cell-ring-expansion kNN, flattened to
    (point, rank, site_id, dist_m) rows. Points and sites derive from
    parquet tables with exact integer-modular arithmetic both engines
    reproduce bit-identically, so DuckDB can brute-force the same kNN
    with the same haversine formula. knn_cellring's exactness vs brute
    force is additionally pinned by tests/test_knn.py; this entry
    proves the full distributed chain against an independent engine.
    """
    import pandas as pd

    from posmspark.joins import knn_cellring

    c = _t(spark, sf, "customer").filter(F.col("c_custkey") % 10 == 0)
    pts = c.select(
        "c_custkey",
        ((F.col("c_custkey") * 11 % 700) / 10.0 - 10.0).alias("lon"),
        ((F.col("c_custkey") * 29 % 500) / 10.0 - 25.0).alias("lat"),
    )
    s = _t(spark, sf, "supplier").select(
        F.col("s_suppkey").cast("string").alias("site_id"),
        ((F.col("s_suppkey") * 37 % 720) / 10.0 - 18.0).alias("lon"),
        ((F.col("s_suppkey") * 53 % 400) / 10.0 - 20.0).alias("lat"),
    )
    sites_pdf: pd.DataFrame = s.toPandas()  # bounded dimension table
    out = knn_cellring(pts, sites_pdf, k=3, spark=spark,
                       point_key="c_custkey")
    return out.select(
        "c_custkey",
        F.posexplode("knn").alias("pos", "nn"),
    ).select(
        "c_custkey",
        (F.col("pos") + 1).alias("rank"),
        F.col("nn.site_id").alias("site_id"),
        F.round(F.col("nn.dist_m"), 2).alias("dist_m"),
    )


SQL_KNN_TOPK_FLAT = """
WITH pts AS (
  SELECT c_custkey,
         (c_custkey * 11 % 700) / 10.0 - 10.0 AS plon,
         (c_custkey * 29 % 500) / 10.0 - 25.0 AS plat
  FROM customer WHERE c_custkey % 10 = 0),
sites AS (
  SELECT CAST(s_suppkey AS VARCHAR) AS site_id,
         (s_suppkey * 37 % 720) / 10.0 - 18.0 AS slon,
         (s_suppkey * 53 % 400) / 10.0 - 20.0 AS slat
  FROM supplier),
d AS (
  SELECT c_custkey, site_id,
         2 * 6371008.8 * asin(sqrt(least(1.0,
             pow(sin(radians(slat - plat) / 2), 2)
             + cos(radians(plat)) * cos(radians(slat))
               * pow(sin(radians(slon - plon) / 2), 2)))) AS dist_m
  FROM pts CROSS JOIN sites),
r AS (
  SELECT *, row_number() OVER (
      PARTITION BY c_custkey ORDER BY dist_m, site_id) AS rank
  FROM d)
SELECT c_custkey, rank, site_id, round(dist_m, 2) AS dist_m
FROM r WHERE rank <= 3
"""


#: (class, token, weight) scoring profiles for n-gram language/domain ID.
#: In production these come from per-language trigram frequency tables;
#: the operator is profile-agnostic — fixtures use corpus-appropriate
#: word-grams so the classifier has signal on the synthetic documents.
LANGID_PROFILES = [
    ("query-ish", "query", 3), ("query-ish", "scan", 2),
    ("query-ish", "hash", 1),
    ("stream-ish", "stream", 3), ("stream-ish", "window", 2),
    ("stream-ish", "batch", 1),
    ("table-ish", "table", 3), ("table-ish", "row", 2),
    ("table-ish", "line", 1),
]


def q_langid_ngram(spark, sf):
    """n-gram language-ID (task-brief text-analysis op): score each doc
    against weighted n-gram profiles via occurrence counting — all
    JVM-side (length/replace arithmetic), no UDF — argmax class with a
    deterministic (score desc, class asc) tie-break, then the corpus
    distribution per true lang label."""
    d = _t(spark, sf, "documents")
    profs = spark.createDataFrame(
        LANGID_PROFILES, "cls string, gram string, w int")
    occ = (
        (F.length("text") - F.length(F.expr("replace(text, gram, '')")))
        / F.length("gram")
    )
    scores = (
        d.select("doc_id", "lang", "text")
        .join(F.broadcast(profs))
        .groupBy("doc_id", "lang", "cls")
        .agg(F.sum(occ * F.col("w")).alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("cls"))
    best = scores.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1)
    return (
        best.groupBy("lang", F.col("cls").alias("lang_guess"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


SQL_LANGID_NGRAM = """
WITH profs(cls, gram, w) AS (VALUES
  ('query-ish', 'query', 3), ('query-ish', 'scan', 2),
  ('query-ish', 'hash', 1),
  ('stream-ish', 'stream', 3), ('stream-ish', 'window', 2),
  ('stream-ish', 'batch', 1),
  ('table-ish', 'table', 3), ('table-ish', 'row', 2),
  ('table-ish', 'line', 1)),
scores AS (
  SELECT doc_id, lang, cls,
         sum((length(text) - length(replace(text, gram, '')))
             / length(gram) * w) AS score
  FROM documents CROSS JOIN profs
  GROUP BY 1, 2, 3),
best AS (
  SELECT *, row_number() OVER (
      PARTITION BY doc_id ORDER BY score DESC, cls ASC) AS rn
  FROM scores)
SELECT lang, cls AS lang_guess, count(*) AS n_docs
FROM best WHERE rn = 1 GROUP BY 1, 2
"""


def q_doc_fingerprint(spark, sf):
    """Document fingerprinting (task-brief op): minimum window-hash
    fingerprint — hash every 16-char window, keep the minimum (the
    winnowing/Rabin-Karp selection rule; md5 stands in for the
    polynomial so DuckDB reproduces it bit-for-bit; the O(n) polynomial
    rolling kernel lives in textx.rolling_window_hashes, unit-tested).
    Near-identical docs share fingerprints; output is the distinct
    fingerprint census."""
    d = _t(spark, sf, "documents")
    fp = F.expr(
        "array_min(transform(sequence(1, greatest(length(text) - 15, 1)),"
        " i -> md5(substring(text, i, 16))))"
    )
    per_doc = d.select("doc_id", fp.alias("fingerprint"))
    return (
        per_doc.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min("doc_id").alias("first_doc"))
        .filter(F.col("n_docs") >= 1)
    )


SQL_DOC_FINGERPRINT = """
WITH per_doc AS (
  SELECT doc_id,
         list_min(list_transform(
             generate_series(1, greatest(length(text) - 15, 1)),
             i -> md5(substring(text, i, 16)))) AS fingerprint
  FROM documents)
SELECT fingerprint, count(*) AS n_docs, min(doc_id) AS first_doc
FROM per_doc GROUP BY 1
"""


# ---------------------------------------------------------------------------
# registry


QUERIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "scan_filter_project": (q_scan_filter_project, SQL_SCAN_FILTER_PROJECT),
    "coalesce_upper": (q_coalesce_upper, SQL_COALESCE_UPPER),
    "id_prefix": (q_id_prefix, SQL_ID_PREFIX),
    "boundary_predicate": (q_boundary_predicate, SQL_BOUNDARY_PREDICATE),
    "filler_filter": (q_filler_filter, SQL_FILLER_FILTER),
    "anti_join": (q_anti_join, SQL_ANTI_JOIN),
    "semi_join": (q_semi_join, SQL_SEMI_JOIN),
    "unusable_anti_join": (q_unusable_anti_join, SQL_UNUSABLE_ANTI_JOIN),
    "hierarchy_join": (q_hierarchy_join, SQL_HIERARCHY_JOIN),
    "mapping_override": (q_mapping_override, SQL_MAPPING_OVERRIDE),
    "first_match": (q_first_match, SQL_FIRST_MATCH),
    "set_difference": (q_set_difference, SQL_SET_DIFFERENCE),
    "union_bag": (q_union_bag, SQL_UNION_BAG),
    "pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
    "rollup_hierarchy": (q_rollup_hierarchy, SQL_ROLLUP_HIERARCHY),
    "distinct_exact": (q_distinct_exact, SQL_DISTINCT_EXACT),
    "pivot_status": (q_pivot_status, SQL_PIVOT_STATUS),
    "case_bucket": (q_case_bucket, SQL_CASE_BUCKET),
    "date_trunc_hourly": (q_date_trunc_hourly, SQL_DATE_TRUNC_HOURLY),
    "json_extract": (q_json_extract, SQL_JSON_EXTRACT),
    "window_running": (q_window_running, SQL_WINDOW_RUNNING),
    "topk": (q_topk, SQL_TOPK),
    "sessionize": (q_sessionize, SQL_SESSIONIZE),
    "string_funcs": (q_string_funcs, SQL_STRING_FUNCS),
    "snap_to_grid": (q_snap_to_grid, SQL_SNAP_TO_GRID),
    "problem_url": (q_problem_url, SQL_PROBLEM_URL),
    "rand_indicators": (q_rand_indicators, SQL_RAND_INDICATORS),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "token_stats": (q_token_stats, SQL_TOKEN_STATS),
    "repetition_stats": (q_repetition_stats, SQL_REPETITION_STATS),
    "lang_quality": (q_lang_quality, SQL_LANG_QUALITY),
    "ngram_jaccard_pairs": (q_ngram_jaccard_pairs, SQL_NGRAM_JACCARD_PAIRS),
    "minhash_band_candidates": (q_minhash_band_candidates,
                                SQL_MINHASH_BAND_CANDIDATES),
    "minhash_verified_dups": (q_minhash_verified_dups,
                              SQL_MINHASH_VERIFIED_DUPS),
    "simhash_pigeonhole_pairs": (q_simhash_pigeonhole_pairs,
                                 SQL_SIMHASH_PIGEONHOLE_PAIRS),
    "embedding_label_centroids": (q_embedding_label_centroids,
                                  SQL_EMBEDDING_LABEL_CENTROIDS),
    "ann_cosine_topk": (q_ann_cosine_topk, SQL_ANN_COSINE_TOPK),
    "embedding_cosine_dups": (q_embedding_cosine_dups,
                              SQL_EMBEDDING_COSINE_DUPS),
    "embedding_cosine_dups_lsh": (q_embedding_cosine_dups_lsh,
                                  SQL_EMBEDDING_COSINE_DUPS),
    "knn_topk_flat": (q_knn_topk_flat, SQL_KNN_TOPK_FLAT),
    "langid_ngram": (q_langid_ngram, SQL_LANGID_NGRAM),
    "doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
}
