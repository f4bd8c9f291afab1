"""Driver-facing query surface: SURVEY §2 operators on the synthetic star schema.

Each entry re-expresses one reference operator (or extension operator)
as an idiomatic DataFrame plan over the driver's TPC-H-ish tables
(``/root/testdata/sf*/``), paired with the ANSI-SQL oracle DuckDB runs
on the same parquet. Column names/aliases are identical on both sides
(the driver's compare sorts columns by name before hashing).

Float discipline: double-typed aggregates are ``round(x, 2)``-ed on
BOTH sides so summation-order differences between engines can't leak
into the hash. Sums of integer columns are cast to BIGINT on the
DuckDB side (DuckDB widens SUM(BIGINT) to HUGEINT; Spark keeps LONG).

Scale notes are inline per query — which joins broadcast, where the
shuffles are, and why the plan survives 100 TB.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from bikes_data_warehouse_etl_spark.operators.cdc import anti_join_new_rows
from bikes_data_warehouse_etl_spark.operators.merge import classify_changes, scd1_merge
from bikes_data_warehouse_etl_spark.plans.date_dim import (
    build_act_perd_dim,
    build_date_dim,
)
from bikes_data_warehouse_etl_spark.sources.parquet import read_table


@dataclass(frozen=True)
class QuerySpec:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # None → driver records rows-only check


QUERIES: dict[str, QuerySpec] = {}


def _q(name: str, oracle: Optional[str]):
    def reg(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            raise ValueError(f"query {name!r} is registered twice")
        QUERIES[name] = QuerySpec(spark=fn, oracle=oracle)
        return fn

    return reg


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# S1-S3 / P1 / P5: scan + projection + filter with pushdown
# ---------------------------------------------------------------------------
@_q(
    "pushdown_scan",
    """
    SELECT l_orderkey, l_partkey, ROUND(l_extendedprice, 2) AS price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2000-01-01' AND l_quantity > 45
    """,
)
def q_pushdown_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered projection scan (S3/P1/P5).

    Scale: the filter and 3-column projection reach the parquet reader
    (PushedFilters + ReadSchema in explain) — at 100 TB this skips whole
    row groups via min/max stats and reads 3 of 11 columns.
    """
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp"))
        & (F.col("l_quantity") > 45)
    ).select(
        "l_orderkey",
        "l_partkey",
        F.round("l_extendedprice", 2).alias("price"),
    )


# ---------------------------------------------------------------------------
# J2 + A1: the flagship — Prdct_Sm_Fct re-expressed (items ⋈ orders → rollup)
# ---------------------------------------------------------------------------
@_q(
    "prdct_sm_fct",
    """
    SELECT l_partkey AS prdct_id,
           CAST(o_orderdate AS DATE) AS act_perd_dt,
           ROUND(SUM(l_extendedprice), 2) AS sale_amt,
           CAST(SUM(l_quantity) AS BIGINT) AS prdct_cnt
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY l_partkey, CAST(o_orderdate AS DATE)
    """,
)
def q_prdct_sm_fct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product×date sales rollup — the reference's Prdct_Sm_Fct
    (ref BikesDWSQl.sql:22-39): fact⋈fact inner join, hash aggregate.

    Scale: lineitem⋈orders is the one genuinely large join — sort-merge
    on l_orderkey with AQE skew handling; the groupBy emits partial
    (map-side) aggregates before the shuffle on (partkey, date).
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey, "inner")
        .groupBy(
            F.col("l_partkey").alias("prdct_id"),
            F.col("o_orderdate").cast("date").alias("act_perd_dt"),
        )
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("sale_amt"),
            F.sum("l_quantity").cast("long").alias("prdct_cnt"),
        )
    )


# ---------------------------------------------------------------------------
# A2-A4: Ordr_Sm_Fct — conditional (pivot-style) aggregation
# ---------------------------------------------------------------------------
@_q(
    "ordr_sm_fct",
    """
    SELECT o_custkey AS cust_id,
           CAST(COUNT(*) AS BIGINT) AS ordr_cnt,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent_cnt,
           CAST(SUM(CASE WHEN o_orderpriority <> '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS non_urgent_cnt,
           ROUND(SUM(o_totalprice), 2) AS ordr_amt,
           ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END), 2) AS fulfilled_amt,
           CAST(FLOOR(CAST(ROUND(ROUND(SUM(o_totalprice), 2) * 100, 0) AS BIGINT)
                      / COUNT(o_totalprice)) AS BIGINT) AS avg_ordr_amt_cents
    FROM orders
    GROUP BY o_custkey
    """,
)
def q_ordr_sm_fct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-grain rollup with online/offline-style conditional sums —
    the reference's Ordr_Sm_Fct (ref BikesDWSQl.sql:41-72: SUM(1),
    SUM(CASE WHEN Ordertype='Online' …), AVG(RATING)).

    Scale: single hash aggregate with map-side partials; no join.
    """
    o = _t(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    return o.groupBy(F.col("o_custkey").alias("cust_id")).agg(
        F.count(F.lit(1)).alias("ordr_cnt"),
        F.sum(F.when(urgent, 1).otherwise(0)).cast("long").alias("urgent_cnt"),
        F.sum(F.when(~urgent, 1).otherwise(0)).cast("long").alias("non_urgent_cnt"),
        F.round(F.sum("o_totalprice"), 2).alias("ordr_amt"),
        F.round(
            F.sum(
                F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice")).otherwise(
                    F.lit(0.0)
                )
            ),
            2,
        ).alias("fulfilled_amt"),
        # average in integer cents: AVG's accumulation order differs
        # between engines at the last ulp, and a 2dp-rounded sum divided
        # by a count lands exactly on half-cent boundaries — so the mean
        # is derived from an exact integer-cents sum with floor division
        F.floor(
            F.round(F.round(F.sum("o_totalprice"), 2) * 100, 0).cast("long")
            / F.count("o_totalprice")
        )
        .cast("long")
        .alias("avg_ordr_amt_cents"),
    )


# ---------------------------------------------------------------------------
# J4: incremental composite-key anti-join CDC — Ordr_Dtl_Fct pattern
# ---------------------------------------------------------------------------
@_q(
    "ordr_dtl_fct_cdc",
    """
    WITH existing AS (
        SELECT l_orderkey, l_partkey
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderdate < TIMESTAMP '2000-01-01'
    ),
    incoming AS (
        SELECT l_orderkey, l_partkey, l_extendedprice, l_quantity
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT i.l_orderkey AS ordr_id,
           i.l_partkey AS prdct_id,
           ROUND(SUM(i.l_extendedprice), 2) AS sale_amt,
           CAST(SUM(i.l_quantity) AS BIGINT) AS prdct_cnt
    FROM incoming i
    LEFT JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM existing) e
      ON i.l_orderkey = e.l_orderkey AND i.l_partkey = e.l_partkey
    WHERE e.l_orderkey IS NULL
    GROUP BY i.l_orderkey, i.l_partkey
    """,
)
def q_ordr_dtl_fct_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental order-detail fact via composite-key anti-join CDC —
    the reference's Ordr_Dtl_Fct guard (ref BikesDWSQl.sql:92-100:
    LEFT JOIN fact ON (Ordr_ID, Prdct_ID) WHERE IS NULL).

    The 'existing fact' is simulated as everything shipped before the
    cutoff; the anti-join admits only new (order, part) pairs.

    Scale: the existing side is pruned to its two key columns before
    the join (see anti_join_new_rows); left_anti needs no row
    materialization of the probe side's payload.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    joined = li.join(o, li.l_orderkey == o.o_orderkey, "inner")
    existing = joined.filter(
        F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp")
    ).select("l_orderkey", "l_partkey")
    fresh = anti_join_new_rows(
        joined.select("l_orderkey", "l_partkey", "l_extendedprice", "l_quantity"),
        existing,
        ["l_orderkey", "l_partkey"],
    )
    return fresh.groupBy(
        F.col("l_orderkey").alias("ordr_id"),
        F.col("l_partkey").alias("prdct_id"),
    ).agg(
        F.round(F.sum("l_extendedprice"), 2).alias("sale_amt"),
        F.sum("l_quantity").cast("long").alias("prdct_cnt"),
    )


# ---------------------------------------------------------------------------
# J3: dimension build — left-join enrichment chain (Cust_Dim / Str_Dim)
# ---------------------------------------------------------------------------
@_q(
    "cust_dim",
    """
    SELECT c_custkey AS cust_id,
           c_name AS cust_name,
           c_mktsegment AS segment,
           ROUND(c_acctbal, 2) AS acct_bal,
           n_name AS nation,
           r_name AS region
    FROM customer
    LEFT JOIN nation ON c_nationkey = n_nationkey
    LEFT JOIN region ON n_regionkey = r_regionkey
    """,
)
def q_cust_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer dimension: projection/rename + left-join enrichment —
    the reference's Cust_Dim + Str_Dim⟕Address pattern
    (ref BikesDWSQl.sql:108-139).

    Scale: nation/region are broadcast automatically (far under the
    10 MB threshold) — zero shuffles on the customer side.
    """
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .select(
            F.col("c_custkey").alias("cust_id"),
            F.col("c_name").alias("cust_name"),
            F.col("c_mktsegment").alias("segment"),
            F.round("c_acctbal", 2).alias("acct_bal"),
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
        )
    )


@_q(
    "prdct_dim",
    """
    SELECT p_partkey AS prdct_id,
           p_name AS prdct_name,
           p_brand AS brand,
           p_type AS prdct_type,
           CASE WHEN p_size <= 10 THEN 'SMALL'
                WHEN p_size <= 30 THEN 'MEDIUM'
                ELSE 'LARGE' END AS size_band,
           ROUND(p_retailprice, 2) AS retail_price
    FROM part
    WHERE p_retailprice > 0
    """,
)
def q_prdct_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product dimension with CASE-derived attribute — the reference's
    Prdct_Dim projection + CASE pattern (ref BikesDWSQl.sql:141-170,
    F18)."""
    p = _t(spark, sf_dir, "part")
    return p.filter(F.col("p_retailprice") > 0).select(
        F.col("p_partkey").alias("prdct_id"),
        F.col("p_name").alias("prdct_name"),
        F.col("p_brand").alias("brand"),
        F.col("p_type").alias("prdct_type"),
        F.when(F.col("p_size") <= 10, "SMALL")
        .when(F.col("p_size") <= 30, "MEDIUM")
        .otherwise("LARGE")
        .alias("size_band"),
        F.round("p_retailprice", 2).alias("retail_price"),
    )


# ---------------------------------------------------------------------------
# W1 + §2.8 calendar suite: generated date dimension
# ---------------------------------------------------------------------------
@_q(
    "date_dim",
    """
    SELECT d AS date,
           CAST(dayofmonth(d) AS INT) AS date_day,
           strftime(d, '%A') AS date_weekday,
           CAST(floor((dayofyear(d) + dayofweek(date_trunc('year', d)) + 1 - 2) / 7) + 1 AS INT) AS date_week,
           CAST(dayofweek(d) + 1 AS INT) AS date_weekdayid,
           CAST(month(d) AS INT) AS date_month,
           strftime(d, '%B') AS date_monthname,
           CAST(quarter(d) AS INT) AS date_quarter,
           CAST(year(d) AS INT) AS date_year
    FROM (SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '2001-12-31', INTERVAL 1 DAY)) AS DATE) AS d)
    """,
)
def q_date_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATETAB replacement: sequence-generated date spine with the full
    calendar attribute set (ref Createtables_BIKES.sql:5-28), including
    SQL-Server calendar-week numbering and 1=Sunday weekday ids.

    Scale: pure generator — no donor table, no shuffle, whole-stage
    codegen end to end (the reference needed ROW_NUMBER over an
    unrelated table).

    DuckDB's ``dayofweek`` is 0=Sunday, hence the +1 on the oracle side.
    """
    return build_date_dim(spark, "1995-01-01", "2001-12-31")


@_q(
    "act_perd_dim",
    """
    WITH spine AS (
      SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '2001-12-31', INTERVAL 1 DAY)) AS DATE) AS d
    ),
    base AS (
      SELECT d,
             d - CAST(dayofweek(d) AS INT) AS sow,
             DATE '2001-06-20' - CAST(dayofweek(DATE '2001-06-20') AS INT) AS sow0
      FROM spine
    )
    SELECT d AS date,
           'Q' || CAST(quarter(d) AS VARCHAR) AS quarter_name,
           CAST(year(d) * 100 + month(d) AS INT) AS yyyymm_key,
           CASE WHEN year(d) = 2001 THEN 'Y' ELSE 'N' END AS cytd_flag,
           CASE WHEN year(d) = 2000 THEN 'Y' ELSE 'N' END AS pytd_flag,
           CASE WHEN sow = sow0 THEN 'Y' ELSE 'N' END AS cw_flag,
           CASE WHEN sow = sow0 - 7 THEN 'Y' ELSE 'N' END AS pw_flag,
           CASE WHEN sow >= sow0 - 28 AND sow < sow0 THEN 'Y' ELSE 'N' END AS w4_flag,
           CASE WHEN sow >= sow0 - 91 AND sow < sow0 THEN 'Y' ELSE 'N' END AS w13_flag
    FROM base
    """,
)
def q_act_perd_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Act_Perd_Dim derivations (ref BikesDWSQl.sql:172-200) against a
    pinned as-of date of 2001-06-20: quarter names, yyyymm key,
    CYTD/PYTD flags, Sunday-start current/prev/4/13-trailing-week
    flags."""
    dim = build_act_perd_dim(spark, "1995-01-01", "2001-12-31", "2001-06-20")
    return dim.select(
        "date",
        "quarter_name",
        "yyyymm_key",
        "cytd_flag",
        "pytd_flag",
        "cw_flag",
        "pw_flag",
        "w4_flag",
        "w13_flag",
    )


# ---------------------------------------------------------------------------
# SCD1: change classification + merge (the ETL's core operator)
# ---------------------------------------------------------------------------
# src batch: even custkeys, with acctbal bumped for custkey%10==0 (updates),
# plus brand-new keys custkey+100000000 for custkey%25==0 (inserts;
# the offset sits far above every replicated key range — make_sf1
# replicas step custkey by 1e6, so a 1e6 insert offset would collide
# with real keys at sf>=1 and turn 'inserts' into updates).
_SCD1_SRC_SQL = """
    SELECT c_custkey, c_name, ROUND(c_acctbal + 100, 2) AS c_acctbal, c_mktsegment
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal, c_mktsegment
    FROM customer WHERE c_custkey % 2 = 0 AND c_custkey % 10 <> 0
    UNION ALL
    SELECT c_custkey + 100000000, c_name, ROUND(c_acctbal, 2), 'NEWSEG'
    FROM customer WHERE c_custkey % 25 = 0
"""

_SCD1_TGT_SQL = """
    SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal, c_mktsegment
    FROM customer
"""


def _scd1_frames(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal"), "c_mktsegment"
    )
    k = F.col("c_custkey")
    updates = c.filter(k % 10 == 0).withColumn(
        "c_acctbal", F.round(F.col("c_acctbal") + 100, 2)
    )
    unchanged = c.filter((k % 2 == 0) & (k % 10 != 0))
    inserts = c.filter(k % 25 == 0).select(
        (k + 100000000).alias("c_custkey"),
        "c_name",
        "c_acctbal",
        F.lit("NEWSEG").alias("c_mktsegment"),
    )
    src = updates.unionByName(unchanged).unionByName(inserts)
    return src, c


@_q(
    "scd1_classify",
    f"""
    WITH src AS ({_SCD1_SRC_SQL}), tgt AS ({_SCD1_TGT_SQL})
    SELECT s.c_custkey, s.c_name, s.c_acctbal, s.c_mktsegment,
           CASE WHEN t.c_custkey IS NULL THEN 'I'
                WHEN (s.c_name IS DISTINCT FROM t.c_name)
                  OR (s.c_acctbal IS DISTINCT FROM t.c_acctbal)
                  OR (s.c_mktsegment IS DISTINCT FROM t.c_mktsegment) THEN 'U'
                ELSE 'N' END AS change_flag
    FROM src s LEFT JOIN tgt t ON s.c_custkey = t.c_custkey
    """,
)
def q_scd1_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD1 change classification: left join + null-safe comparison →
    I/U/N flags — the intent of the reference's INS_FLAG/UPD_FLAG
    row-lambdas (ref ETLScript_withSCDimplementation.py:57-65), with
    the NaN!=NaN re-update bug fixed (SURVEY §1.5.4)."""
    src, tgt = _scd1_frames(spark, sf_dir)
    return classify_changes(
        src, tgt, ["c_custkey"], ["c_name", "c_acctbal", "c_mktsegment"]
    )


@_q(
    "scd1_merge",
    f"""
    WITH src AS ({_SCD1_SRC_SQL}), tgt AS ({_SCD1_TGT_SQL})
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM src
    UNION ALL
    SELECT t.c_custkey, t.c_name, t.c_acctbal, t.c_mktsegment
    FROM tgt t LEFT JOIN src s ON t.c_custkey = s.c_custkey
    WHERE s.c_custkey IS NULL
    """,
)
def q_scd1_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD1 upsert merge: source overwrites matched keys, new keys
    append, untouched target rows pass through — the set-based rewrite
    of the reference's per-row UPDATE loop (ref :86-121, bug §1.5.5
    fixed). Idempotent: re-running with the same batch is a no-op."""
    src, tgt = _scd1_frames(spark, sf_dir)
    return scd1_merge(tgt, src, ["c_custkey"])


# ---------------------------------------------------------------------------
# A5: exact deduplication
# ---------------------------------------------------------------------------
@_q(
    "dedup_exact",
    """
    SELECT CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS content_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS dup_cnt
    FROM documents
    GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content: hash-groupBy keeping the lowest doc_id —
    the scalable form of the reference's dropDuplicates (A5, ref :26).

    The shuffle key is the 60-bit portable content hash, not the text —
    8 bytes per row regardless of document size (the oracle mirrors the
    md5-prefix hash exactly; production passes ``hash_fn=hash64_fast``).
    """
    from bikes_data_warehouse_etl_spark.operators.dedup import exact_dedup

    d = _t(spark, sf_dir, "documents")
    return exact_dedup(d, "text", "doc_id").select(
        "content_hash",
        F.col("keep_doc_id").cast("long").alias("keep_doc_id"),
        "dup_cnt",
    )


# ---------------------------------------------------------------------------
# O1/O2: global sort + top-k
# ---------------------------------------------------------------------------
@_q(
    "top_revenue",
    """
    SELECT o_custkey AS cust_id, ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY o_custkey
    ORDER BY revenue DESC, cust_id ASC
    LIMIT 10
    """,
)
def q_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by aggregate (O1+O2 upgraded to a live query).

    Scale: Spark turns orderBy+limit into TakeOrderedAndProject —
    per-partition top-k then a k-row merge on the driver; no global
    sort materialization. Tie-broken by cust_id for determinism.
    """
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_custkey").alias("cust_id"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("cust_id").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Window functions (W1 generalized): ranking / lag over partitions
# ---------------------------------------------------------------------------
@_q(
    "window_order_ranks",
    """
    SELECT o_orderkey AS ordr_id,
           o_custkey AS cust_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS order_seq,
           ROUND(o_totalprice - LAG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2) AS delta_vs_prev
    FROM orders
    """,
)
def q_window_order_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order sequencing with ROW_NUMBER and LAG — the
    engine-level generalization of the reference's single ROW_NUMBER
    use (W1, ref Createtables_BIKES.sql:19).

    Scale: one shuffle on o_custkey; both window functions share the
    same partitioning+ordering so Spark evaluates them in one Window
    physical node.
    """
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        F.col("o_orderkey").alias("ordr_id"),
        F.col("o_custkey").alias("cust_id"),
        F.row_number().over(w).cast("long").alias("order_seq"),
        F.round(
            F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2
        ).alias("delta_vs_prev"),
    )


# ---------------------------------------------------------------------------
# Set operations (§2.7 upgraded): union / intersect / except
# ---------------------------------------------------------------------------
@_q(
    "set_ops",
    """
    SELECT c_custkey AS cust_id, 'both' AS bucket FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    ) t1
    UNION ALL
    SELECT c_custkey AS cust_id, 'building_only' AS bucket FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    ) t2
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION over key sets (§2.7 — the reference
    only has implicit append-union; full set algebra is engine
    surface)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("cust_id")
    )
    fulfilled = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("cust_id")
    )
    both = building.intersect(fulfilled).withColumn("bucket", F.lit("both"))
    only = building.subtract(fulfilled).withColumn("bucket", F.lit("building_only"))
    return both.unionByName(only)
