"""ETL / data-integration queries (SURVEY.md §1, M4): rule-table
harmonization with provenance, lineage tracking, and integrity
assertion validation — the reference pipeline's own surface re-expressed
as broadcast joins + assertion queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.num import DEC, dsum, sql_dsum
from ..io import load_table
from ..operators.harmonize import (
    apply_rules,
    assertion_report,
    rules_frame,
    with_lineage,
)
from ..registry import register

#: Event-type harmonization rules: messy source vocabulary → canonical
#: activity classes (the shape of the reference's variant-code → HISCO /
#: standard-geo mappings).
EVENT_RULES = [
    ("click", "interaction", "R001"),
    ("view", "interaction", "R002"),
    ("purchase", "transaction", "R003"),
    ("signup", "account", "R004"),
    # 'error' is deliberately unmapped -> falls through to the sentinel.
]


@register("etl_harmonize", oracle=f"""
SELECT CASE event_type
         WHEN 'click' THEN 'interaction'
         WHEN 'view' THEN 'interaction'
         WHEN 'purchase' THEN 'transaction'
         WHEN 'signup' THEN 'account'
         ELSE '__unmapped__' END AS canonical,
       CASE event_type
         WHEN 'click' THEN 'R001'
         WHEN 'view' THEN 'R002'
         WHEN 'purchase' THEN 'R003'
         WHEN 'signup' THEN 'R004'
       END AS rule_id,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS total_value
FROM events
GROUP BY 1, 2
""", tags=("etl",))
def etl_harmonize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-table harmonization: broadcast-join the rule set onto the
    fact stream, keep rule-id provenance, aggregate per canonical class.
    Unmapped source values surface explicitly instead of disappearing."""
    e = load_table(spark, sf_dir, "events")
    rules = rules_frame(spark, EVENT_RULES)
    harmonized = apply_rules(e, rules, "event_type")
    return (harmonized.groupBy("canonical", "rule_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 dsum("value").alias("total_value")))


@register("etl_lineage", oracle="""
SELECT 'documents.parquet' AS source_file,
       'b1' AS batch_id,
       lang,
       COUNT(*) AS n_rows
FROM documents
GROUP BY lang
""", tags=("etl", "lineage"))
def etl_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineage columns carried through a transform: every output row
    knows its originating file and processing batch (the engine's
    PROV-O analog)."""
    d = with_lineage(load_table(spark, sf_dir, "documents"), batch_id="b1")
    return (d.groupBy("source_file", "batch_id", "lang")
            .agg(F.count(F.lit(1)).alias("n_rows")))


@register("etl_assertions", oracle="""
SELECT 'lineitem_fk_orders' AS check_name, COUNT(*) AS n_violations
FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
UNION ALL
SELECT 'orders_fk_customer', COUNT(*)
FROM orders WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
UNION ALL
SELECT 'orders_pk_unique', COUNT(*) FROM (
  SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)
UNION ALL
SELECT 'lineitem_null_keys', COUNT(*)
FROM lineitem WHERE l_orderkey IS NULL OR l_partkey IS NULL OR l_suppkey IS NULL
UNION ALL
SELECT 'events_value_range', COUNT(*) FROM events WHERE value IS NULL
""", tags=("etl", "quality"))
def etl_assertions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrity-constraint validation of the integrated star schema:
    FK coverage, PK uniqueness, null-key and measure-domain checks —
    each an anti-join/aggregate expected to report zero violations
    (the engine's RDF-Data-Cube well-formedness analog)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    e = load_table(spark, sf_dir, "events")
    checks = {
        "lineitem_fk_orders":
            li.join(o, li.l_orderkey == o.o_orderkey, "left_anti"),
        "orders_fk_customer":
            o.join(c, o.o_custkey == c.c_custkey, "left_anti"),
        "orders_pk_unique":
            o.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("n"))
             .filter(F.col("n") > 1),
        "lineitem_null_keys":
            li.filter(F.col("l_orderkey").isNull()
                      | F.col("l_partkey").isNull()
                      | F.col("l_suppkey").isNull()),
        "events_value_range": e.filter(F.col("value").isNull()),
    }
    return assertion_report(checks)


@register("etl_pipeline", oracle=f"""
SELECT CASE event_type
         WHEN 'click' THEN 'interaction'
         WHEN 'view' THEN 'interaction'
         WHEN 'purchase' THEN 'transaction'
         WHEN 'signup' THEN 'account'
         ELSE '__unmapped__' END AS canonical,
       COUNT(*) AS n_rows,
       {sql_dsum('value')} AS total_value
FROM events
GROUP BY 1
""", tags=("etl", "pipeline"))
def etl_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full integration pipeline end-to-end (ingest → harmonize →
    validate → publish → re-read): aggregates are computed from the
    PUBLISHED partitioned parquet, so a match proves the whole flow —
    not just the harmonize transform — preserved the data."""
    from ..io import derived_dir
    from ..pipeline import IntegrationPipeline

    e = load_table(spark, sf_dir, "events")
    pipe = IntegrationPipeline(spark, rules=EVENT_RULES,
                               src_col="event_type", batch_id="b1",
                               key_cols=["event_id", "user_id"])
    sink = derived_dir(sf_dir, "published_events")
    result = pipe.run(e, sink)
    if result.n_published == 0:   # empty batch: publish wrote no data files
        return spark.createDataFrame(
            [], "canonical string, n_rows long, total_value double")
    published = spark.read.parquet(result.published_path)
    return (published.groupBy(F.col("canonical").cast("string").alias("canonical"))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 dsum("value").alias("total_value")))


@register("etl_observations", oracle="""
WITH cube AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
         c_mktsegment AS segment,
         COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
)
SELECT yr, segment, 'order_count' AS measure, CAST(n AS DOUBLE) AS value FROM cube
UNION ALL
SELECT yr, segment, 'total_price', total FROM cube
""", tags=("etl", "cube"))
def etl_observations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observation export — the engine's RDF-Data-Cube analog
    (SURVEY.md §1.1): the integrated star schema published as LONG-form
    observations, one row per (dimension tuple, measure, value), the
    shape the reference emits as qb:Observation triples. Wide cube →
    unpivot; every observation carries its full dimension key."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cube = (o.join(c, o.o_custkey == c.c_custkey)
            .groupBy(F.year("o_orderdate").cast("long").alias("yr"),
                     F.col("c_mktsegment").alias("segment"))
            .agg(F.count(F.lit(1)).alias("order_count"),
                 dsum("o_totalprice").alias("total_price")))
    return (cube.withColumn("order_count", F.col("order_count").cast("double"))
            .unpivot(["yr", "segment"], ["order_count", "total_price"],
                     "measure", "value"))


@register("etl_merge_upsert", oracle="""
WITH updates AS (
  SELECT c_custkey AS key,
         c_acctbal + 100.0 AS acctbal,
         'UPDATED' AS mktsegment
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey + 10000000 AS key,
         0.0 AS acctbal,
         'NEW' AS mktsegment
  FROM customer WHERE c_custkey % 13 = 0
)
SELECT COALESCE(u.key, c.c_custkey) AS key,
       COALESCE(u.acctbal, c.c_acctbal) AS acctbal,
       COALESCE(u.mktsegment, c.c_mktsegment) AS mktsegment,
       CASE WHEN c.c_custkey IS NULL THEN 'insert'
            WHEN u.key IS NULL THEN 'keep'
            ELSE 'update' END AS op
FROM customer c
FULL OUTER JOIN updates u ON u.key = c.c_custkey
""", tags=("etl", "merge"))
def etl_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE / SCD-1 upsert expressed relationally: a full-outer join of
    the current dimension with a change set, COALESCE picking the
    update when present — update-in-place, insert-new, keep-unmatched
    in one pass, each row tagged with the op it took.

    This is the engine-agnostic core of what Delta/Iceberg MERGE INTO
    compiles to; on a lake-format table the same change-set frame feeds
    the native MERGE (sources/connectors.py gate). Scale: one shuffle
    on the merge key for the fact side; a small change set broadcasts
    and the shuffle disappears entirely."""
    c = load_table(spark, sf_dir, "customer")
    updates = (c.filter(F.col("c_custkey") % 7 == 0)
               .select(F.col("c_custkey").alias("key"),
                       (F.col("c_acctbal") + 100.0).alias("acctbal"),
                       F.lit("UPDATED").alias("mktsegment"))
               .unionAll(
                   c.filter(F.col("c_custkey") % 13 == 0)
                   .select((F.col("c_custkey") + 10000000).alias("key"),
                           F.lit(0.0).alias("acctbal"),
                           F.lit("NEW").alias("mktsegment"))))
    merged = c.join(updates, updates["key"] == c["c_custkey"], "full_outer")
    return merged.select(
        F.coalesce(updates["key"], c["c_custkey"]).alias("key"),
        F.coalesce(updates["acctbal"], c["c_acctbal"]).alias("acctbal"),
        F.coalesce(updates["mktsegment"], c["c_mktsegment"]).alias("mktsegment"),
        F.when(c["c_custkey"].isNull(), "insert")
         .when(updates["key"].isNull(), "keep")
         .otherwise("update").alias("op"))


@register("etl_scd2", oracle="""
WITH hist AS (
  SELECT o_custkey AS key,
         o_orderdate AS eff_from,
         o_orderpriority AS attr,
         row_number() OVER (PARTITION BY o_custkey, o_orderdate
                            ORDER BY o_orderkey DESC) AS rn
  FROM orders
), dedup AS (SELECT key, eff_from, attr FROM hist WHERE rn = 1),
versioned AS (
  SELECT key, attr,
         strftime(eff_from, '%Y-%m-%d') AS eff_from,
         COALESCE(strftime(lead(eff_from) OVER (PARTITION BY key
                                                ORDER BY eff_from),
                           '%Y-%m-%d'), '9999-12-31') AS eff_to
  FROM dedup
)
SELECT key, attr, eff_from, eff_to,
       CASE WHEN eff_to = '9999-12-31' THEN TRUE ELSE FALSE END AS is_current
FROM versioned
WHERE key % 50 = 0
""", tags=("etl", "scd"))
def etl_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build: a change history (latest order
    priority per customer per day, deterministic keep-last) becomes
    versioned rows with [eff_from, eff_to) validity ranges via
    lead() over the change sequence — open versions get the sentinel
    end date and an is_current flag.

    This is the versioned-dimension core of warehouse loads: one window
    shuffle on the dimension key, no self-join (the lead() formulation
    replaces the classic correlated next-change subquery). The key%50
    slice keeps the checked output compact; the plan is identical
    without it."""
    o = load_table(spark, sf_dir, "orders")
    w_keep = Window.partitionBy("o_custkey", "o_orderdate") \
                   .orderBy(F.col("o_orderkey").desc())
    dedup = (o.withColumn("_rn", F.row_number().over(w_keep))
             .filter(F.col("_rn") == 1)
             .select(F.col("o_custkey").alias("key"),
                     F.col("o_orderdate").alias("eff_from_ts"),
                     F.col("o_orderpriority").alias("attr")))
    w_seq = Window.partitionBy("key").orderBy("eff_from_ts")
    eff_to = F.coalesce(
        F.date_format(F.lead("eff_from_ts").over(w_seq), "yyyy-MM-dd"),
        F.lit("9999-12-31"))
    return (dedup.select(
        "key", "attr",
        F.date_format("eff_from_ts", "yyyy-MM-dd").alias("eff_from"),
        eff_to.alias("eff_to"))
        .withColumn("is_current", F.col("eff_to") == "9999-12-31")
        .filter(F.col("key") % 50 == 0))


@register("etl_profile", oracle="""
SELECT 'o_custkey' AS col, COUNT(*) AS n_rows,
       COUNT(*) - COUNT(o_custkey) AS n_nulls,
       COUNT(DISTINCT o_custkey) AS n_distinct,
       CAST(MIN(o_custkey) AS VARCHAR) AS min_s,
       CAST(MAX(o_custkey) AS VARCHAR) AS max_s
FROM orders
UNION ALL
SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
       COUNT(DISTINCT o_totalprice),
       CAST(ROUND(MIN(o_totalprice), 2) AS VARCHAR),
       CAST(ROUND(MAX(o_totalprice), 2) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderdate', COUNT(*), COUNT(*) - COUNT(o_orderdate),
       COUNT(DISTINCT o_orderdate),
       strftime(MIN(o_orderdate), '%Y-%m-%d'),
       strftime(MAX(o_orderdate), '%Y-%m-%d')
FROM orders
UNION ALL
SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
       COUNT(DISTINCT o_orderpriority),
       MIN(o_orderpriority), MAX(o_orderpriority)
FROM orders
""", tags=("etl", "profile"))
def etl_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the data-quality fingerprint an integration
    pipeline records before accepting a source): null count, distinct
    count, typed min/max per column — computed in ONE pass as a single
    wide aggregation, then unpivoted to long form. The oracle computes
    each column independently; the engine reads the table once
    regardless of column count (the thing that matters when the table
    is 100 TB and the profile covers 300 columns)."""
    o = load_table(spark, sf_dir, "orders")
    n = F.count(F.lit(1))
    wide = o.agg(
        n.alias("n_rows"),
        (n - F.count("o_custkey")).alias("nulls_custkey"),
        F.countDistinct("o_custkey").alias("nd_custkey"),
        F.min("o_custkey").cast("string").alias("min_custkey"),
        F.max("o_custkey").cast("string").alias("max_custkey"),
        (n - F.count("o_totalprice")).alias("nulls_totalprice"),
        F.countDistinct("o_totalprice").alias("nd_totalprice"),
        F.round(F.min("o_totalprice"), 2).cast("string").alias("min_totalprice"),
        F.round(F.max("o_totalprice"), 2).cast("string").alias("max_totalprice"),
        (n - F.count("o_orderdate")).alias("nulls_orderdate"),
        F.countDistinct("o_orderdate").alias("nd_orderdate"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("min_orderdate"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("max_orderdate"),
        (n - F.count("o_orderpriority")).alias("nulls_priority"),
        F.countDistinct("o_orderpriority").alias("nd_priority"),
        F.min("o_orderpriority").alias("min_priority"),
        F.max("o_orderpriority").alias("max_priority"),
    )
    stack_expr = F.expr("""stack(4,
        'o_custkey',      nulls_custkey,    nd_custkey,    min_custkey,    max_custkey,
        'o_totalprice',   nulls_totalprice, nd_totalprice, min_totalprice, max_totalprice,
        'o_orderdate',    nulls_orderdate,  nd_orderdate,  min_orderdate,  max_orderdate,
        'o_orderpriority',nulls_priority,   nd_priority,   min_priority,   max_priority
    ) AS (col, n_nulls, n_distinct, min_s, max_s)""")
    return wide.select(stack_expr, "n_rows") \
               .select("col", "n_rows", "n_nulls", "n_distinct",
                       "min_s", "max_s")


@register("etl_observe_metrics", oracle=f"""
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS total
FROM orders
WHERE o_totalprice > 1000
GROUP BY o_orderstatus
""", tags=("etl", "observe"))
def etl_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime metric observation (df.observe + Observation): the
    pipeline's row count and value total are collected AS the query
    executes — zero extra passes over the data, the monitoring pattern
    for long ETL chains at 100 TB (a separate count() would re-read the
    table). The observed metrics are cross-checked against the
    returned aggregate inside the query body, so a divergence between
    what the job observed and what it returned fails loudly; the
    oracle then verifies the returned aggregate itself."""
    from pyspark.sql import Observation

    o = load_table(spark, sf_dir, "orders")
    if o.isEmpty():   # no rows observed: the metrics row has NULL sums
        return spark.createDataFrame(
            [], "o_orderstatus string, n_orders long, total double")
    obs = Observation("etl_metrics")
    filtered = (o.filter(F.col("o_totalprice") > 1000)
                .observe(obs,
                         F.count(F.lit(1)).alias("n_rows"),
                         F.sum(F.col("o_totalprice").cast(DEC))
                          .cast("double").alias("sum_total")))
    result = (filtered.groupBy("o_orderstatus")
              .agg(F.count(F.lit(1)).alias("n_orders"),
                   dsum("o_totalprice").alias("total"))
              .localCheckpoint(eager=True))  # force execution -> metrics
    got = obs.get
    check = result.agg(F.sum("n_orders").alias("n"),
                       F.sum(F.col("total").cast(DEC)).cast("double")
                        .alias("t")).collect()[0]
    assert got["n_rows"] == check.n, (got, check)
    assert abs(got["sum_total"] - check.t) < 1e-6, (got, check)
    return result


@register("etl_golden_record", oracle="""
WITH ranked AS (
  SELECT user_id, event_type, value, ts, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn_recent,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id) AS rn_value
  FROM events
)
SELECT user_id,
       MAX(CASE WHEN rn_recent = 1 THEN event_type END) AS latest_type,
       MAX(CASE WHEN rn_recent = 1
                THEN strftime(ts, '%Y-%m-%d %H:%M:%S.%f') END) AS latest_ts,
       ROUND(MAX(CASE WHEN rn_value = 1 THEN value END), 4) AS peak_value,
       COUNT(*) AS n_events
FROM ranked
GROUP BY user_id
""", tags=("etl", "survivorship"))
def etl_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship: one consolidated row per entity
    where DIFFERENT attributes survive from DIFFERENT source rows —
    the most recent event donates the type/timestamp, the peak event
    donates the value (each under its own deterministic tie-break).
    This is the attribute-level merge step of master-data integration
    (exact dedup keeps whole rows; survivorship composes fields). One
    window shuffle on the entity key, both rankings over the same
    partitioning, then a conditional aggregation collapses to one row
    per key."""
    e = load_table(spark, sf_dir, "events")
    w_recent = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    w_value = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), "event_id")
    ranked = e.select(
        "user_id", "event_type", "value", "ts",
        F.row_number().over(w_recent).alias("rn_recent"),
        F.row_number().over(w_value).alias("rn_value"))
    recent = F.when(F.col("rn_recent") == 1, F.col("event_type"))
    recent_ts = F.when(
        F.col("rn_recent") == 1,
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
    peak = F.when(F.col("rn_value") == 1, F.col("value"))
    return (ranked.groupBy("user_id")
            .agg(F.max(recent).alias("latest_type"),
                 F.max(recent_ts).alias("latest_ts"),
                 F.round(F.max(peak), 4).alias("peak_value"),
                 F.count(F.lit(1)).alias("n_events")))


@register("etl_cdc_apply", oracle="""
WITH log AS (
  SELECT user_id AS key, ts, event_id AS seq,
         CASE WHEN event_type IN ('click', 'view') THEN 'upsert'
              WHEN event_type = 'error' THEN 'delete'
              ELSE 'upsert' END AS op,
         value AS val
  FROM events
),
latest AS (
  SELECT key, op, val
  FROM log
  QUALIFY row_number() OVER (PARTITION BY key
                             ORDER BY ts DESC, seq DESC) = 1
)
SELECT key, ROUND(val, 4) AS val
FROM latest
WHERE op <> 'delete'
ORDER BY key
""", tags=("etl", "cdc"))
def etl_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log application (Debezium-shaped): a change stream of
    upserts/deletes per key collapses to final table state by taking
    the LAST operation per key in (ts, seq) order — a delete as the
    last op removes the key entirely, anything else materializes its
    value. One window shuffle on the key; contrast with
    etl_merge_upsert (set-based MERGE) — CDC apply must respect
    per-key operation ORDER, not just presence. The events fixture
    stands in for the change log (error = tombstone)."""
    e = load_table(spark, sf_dir, "events")
    log = e.select(
        F.col("user_id").alias("key"), "ts",
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "error", "delete")
         .otherwise("upsert").alias("op"),
        F.col("value").alias("val"))
    w = Window.partitionBy("key").orderBy(F.col("ts").desc(),
                                          F.col("seq").desc())
    return (log.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & (F.col("op") != "delete"))
            .select("key", F.round("val", 4).alias("val"))
            .orderBy("key"))


@register("etl_table_checksum", oracle="""
SELECT source,
       COUNT(*) AS n_rows,
       CAST(bit_xor(CAST(CONCAT('0x',
              substr(md5(CONCAT_WS('|', doc_id, text, lang, source,
                                   n_chars)), 1, 15)) AS BIGINT))
            AS BIGINT) AS checksum
FROM documents
GROUP BY source
""", tags=("etl", "integrity"))
def etl_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy table checksum — the replication/migration
    validation primitive: per-shard (source) row count + an
    order-independent digest, comparable across engines, clusters and
    copies without moving any data.

    Digest = bit_xor of a 60-bit md5 prefix of each row's canonical
    '|'-joined rendering: XOR is commutative/associative (partial
    aggregation order never matters) and never overflows, so the
    digest is exact at any scale; the shuffle carries |shards| rows of
    (count, 8-byte checksum) regardless of table size. Two sides of a
    replication disagree => checksums differ with probability
    1 - 2^-60 per shard. Exact-typed columns only (ints/strings here)
    — float columns must be rounded to a canonical rendering first."""
    d = load_table(spark, sf_dir, "documents")
    return (d.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.expr("bit_xor(CAST(conv(substring(md5(concat_ws('|', "
                        "doc_id, text, lang, source, n_chars)), 1, 15), "
                        "16, 10) AS BIGINT))").alias("checksum")))


MATVIEW_ORACLE = f"""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS total_price,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_orderkey
FROM orders
"""


@register("etl_matview_refresh", oracle=MATVIEW_ORACLE + "GROUP BY o_orderpriority",
          tags=("etl", "incremental"))
def etl_matview_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance via partial-aggregate
    algebra — at 100 TB you refresh a rollup from the day's delta, you
    do not rescan history. The base materialization (orders with
    o_orderkey % 10 != 0) and the delta batch (the remaining 10%) are
    each aggregated to mergeable partials (count, exact decimal sum,
    max), then MERGED group-wise: counts and decimal sums add, max
    takes greatest. The oracle is the full recompute over ALL of
    orders, so the test proves merge(base_agg, delta_agg) ==
    full_agg exactly — the algebraic property that makes map-side
    combine, AQE stage retries, and this refresh pattern all correct.

    Scale posture: the refresh cost is |delta| + |groups|, independent
    of the base table size; partials stay mergeable because the sum is
    the exact decimal accumulator (a float sum would drift between the
    merged and recomputed paths)."""
    o = load_table(spark, sf_dir, "orders")

    def partial(df: DataFrame) -> DataFrame:
        return (df.groupBy("o_orderpriority")
                .agg(F.count(F.lit(1)).alias("n_orders"),
                     F.sum(F.col("o_totalprice").cast(DEC)).alias("_dec_sum"),
                     F.max("o_orderkey").alias("max_orderkey")))

    base = partial(o.filter(F.col("o_orderkey") % 10 != 0))   # materialized
    delta = partial(o.filter(F.col("o_orderkey") % 10 == 0))  # new batch
    return (base.unionByName(delta)
            .groupBy("o_orderpriority")
            .agg(F.sum("n_orders").alias("n_orders"),
                 F.sum("_dec_sum").cast("double").alias("total_price"),
                 F.max("max_orderkey").alias("max_orderkey")))


@register("etl_er_blocked", oracle="""
WITH dirty AS (
  SELECT p_partkey AS d_key,
         CASE WHEN p_partkey % 4 = 0
              THEN SUBSTR(p_name, 1, 4) || SUBSTR(p_name, 6, 100000)
              ELSE p_name END AS d_name
  FROM part
),
cand AS (
  SELECT d.d_key, c.p_partkey AS matched_key,
         levenshtein(d.d_name, c.p_name) AS dist
  FROM dirty d
  JOIN part c ON SUBSTR(d.d_name, 1, 4) = SUBSTR(c.p_name, 1, 4)
  WHERE levenshtein(d.d_name, c.p_name) <= 2
)
SELECT d_key, matched_key, CAST(dist AS INT) AS dist
FROM cand
QUALIFY row_number() OVER (PARTITION BY d_key
                           ORDER BY dist, matched_key) = 1
""", tags=("etl", "fuzzy", "entity-resolution"))
def etl_er_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity resolution — the integrator's dirty-name →
    master-record match (complementing etl_fuzzy_match, which maps
    variant CODES onto a broadcastable canonical list — here BOTH sides
    are record-sized): a "dirty" feed (every 4th part name gets a
    deterministic one-char deletion) is resolved against the clean
    dimension by (1) an EQUALITY blocking join on the 4-char name
    prefix, (2) a Levenshtein <= 2 residual inside the block, (3) a
    best-match window (min distance, then smallest key).

    Scale posture: the expensive O(|a|·|b|) edit distance runs only on
    pairs that share a block — the join is a plain hash/sort-merge
    equality join (plan-audited: no cartesian), with per-block fan-out
    bounded by prefix selectivity (the skew guard for a hot prefix is
    the same max-frequency cutoff dedup uses). The honest blocked-ER
    caveat applies and is part of the design: a typo INSIDE the block
    key cannot be recovered by this pass — production stacks multiple
    blocking passes (prefix, phonetic, length-band) exactly like the
    multi-sketch dedup family here."""
    part = load_table(spark, sf_dir, "part")
    dirty = part.select(
        F.col("p_partkey").alias("d_key"),
        F.when(F.col("p_partkey") % 4 == 0,
               F.concat(F.expr("substr(p_name, 1, 4)"),
                        F.expr("substr(p_name, 6, 100000)")))
         .otherwise(F.col("p_name")).alias("d_name"))
    # r12 rewrite (guide §8 — decide on lightweight proxies, attach
    # back): the block join exploded to 45M ROW pairs (8 prefix blocks
    # over 20k rows) and ran the Levenshtein DP on every one (~35 s at
    # sf0.1), but dist depends only on the NAME pair and the fixture
    # vocabulary is tiny (64 distinct p_name / ~128 distinct d_name).
    # So: DP over distinct-name pairs only (<=8k), pick the best match
    # per d_name, then attach to rows by equality join. The per-d_key
    # argmin over (dist, matched_key) factors through names: for a
    # fixed c_name the minimal (dist, key) is (dist, min key of that
    # name), so best-per-d_name with min-key-per-c_name is the same
    # lexicographic minimum the row-level window took. The banded
    # levenshtein(l, r, 2) returns the exact distance when <= 2 (else
    # -1), so surviving dist values are identical. Oracle unchanged.
    cmin = (part.groupBy(F.col("p_name").alias("c_name"))
            .agg(F.min("p_partkey").alias("matched_key")))
    pair = (dirty.select("d_name").distinct()
            .join(cmin, F.expr("substr(d_name, 1, 4)")
                  == F.expr("substr(c_name, 1, 4)"))
            .withColumn("dist", F.levenshtein("d_name", "c_name", 2))
            .filter(F.col("dist") >= 0))
    wn = Window.partitionBy("d_name").orderBy("dist", "matched_key")
    best = (pair.withColumn("_rn", F.row_number().over(wn))
            .filter(F.col("_rn") == 1)
            .select("d_name", "matched_key", "dist"))
    return (dirty.join(F.broadcast(best), "d_name")
            .select("d_key", "matched_key",
                    F.col("dist").cast("int").alias("dist")))


@register("etl_k_anonymity", oracle="""
WITH qi AS (
  SELECT lang, source, CAST(floor(n_chars / 100) AS BIGINT) AS size_bucket
  FROM documents
), groups AS (
  SELECT lang, source, size_bucket, CAST(COUNT(*) AS BIGINT) AS k
  FROM qi GROUP BY lang, source, size_bucket
)
SELECT k,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(k) AS BIGINT) AS n_rows,
       ROUND(CAST(SUM(k) AS DOUBLE)
             / CAST(SUM(SUM(k)) OVER () AS DOUBLE), 6) AS pct_rows,
       CASE WHEN k < 5 THEN 'suppress' ELSE 'ok' END AS risk
FROM groups GROUP BY k
""", tags=("etl", "privacy"))
def etl_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers: documents grouped by
    the attacker-visible combination (lang, source, size bucket); a
    group of size k means each member is indistinguishable from k-1
    others. The output is the k-spectrum — how many equivalence classes
    and rows sit at each anonymity level, with the standard k < 5
    classes flagged for suppression/generalization before release.
    The privacy gate a training-data publisher runs next to
    text_pii_redact (pointwise PII) — this one catches IDENTIFIABILITY
    BY COMBINATION, which per-field redaction cannot.

    Shape: two map-side-combinable aggregations (rows -> equivalence
    classes -> k-spectrum); the second input is already tiny. The
    percentage denominator rides a window over the k-spectrum frame
    (|distinct k| rows). Linear scan at any scale."""
    d = load_table(spark, sf_dir, "documents")
    groups = (d.groupBy("lang", "source",
                        F.floor(F.col("n_chars") / 100).cast("long")
                         .alias("size_bucket"))
              .agg(F.count(F.lit(1)).alias("k")))
    w_all = Window.partitionBy()
    return (groups.groupBy("k")
            .agg(F.count(F.lit(1)).alias("n_groups"),
                 F.sum("k").alias("n_rows"))
            .select("k", "n_groups", "n_rows",
                    F.round(F.col("n_rows").cast("double")
                            / F.sum("n_rows").over(w_all).cast("double"), 6)
                     .alias("pct_rows"),
                    F.when(F.col("k") < 5, "suppress").otherwise("ok")
                     .alias("risk")))


@register("etl_er_multipass", oracle="""
WITH dirty AS (
  SELECT p_partkey AS d_key,
         CASE WHEN p_partkey % 4 = 0
              THEN substr(p_name, 1, (p_partkey % length(p_name)))
                   || substr(p_name, (p_partkey % length(p_name)) + 2)
              ELSE p_name END AS d_name
  FROM part
),
cand AS (
  SELECT d.d_key, c.p_partkey AS matched_key,
         levenshtein(d.d_name, c.p_name) AS dist
  FROM dirty d
  JOIN part c ON substr(d.d_name, 1, 4) = substr(c.p_name, 1, 4)
  WHERE levenshtein(d.d_name, c.p_name) <= 2
  UNION
  SELECT d.d_key, c.p_partkey,
         levenshtein(d.d_name, c.p_name)
  FROM dirty d
  JOIN part c ON substr(d.d_name, length(d.d_name) - 3, 4)
                 = substr(c.p_name, length(c.p_name) - 3, 4)
  WHERE levenshtein(d.d_name, c.p_name) <= 2
)
SELECT d_key, matched_key, CAST(dist AS INT) AS dist
FROM cand
QUALIFY row_number() OVER (PARTITION BY d_key
                           ORDER BY dist, matched_key) = 1
""", tags=("etl", "fuzzy", "entity-resolution"))
def etl_er_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass blocked entity resolution — the production posture
    etl_er_blocked's docstring promises: candidates are the UNION of a
    4-char PREFIX block and a 4-char SUFFIX block, so a single-char
    deletion anywhere is recoverable by at least one pass whenever
    len >= 8 (delete at p <= 4 keeps the suffix, p <= len-4 keeps the
    prefix; only len-7 names torn at p = 4 escape both — the honest
    blocked-ER residual). The dirty feed is harder than er_blocked's:
    the deletion position ROAMS (p = 1 + key % len), including inside
    the prefix block, which pass A alone cannot recover.

    Scale posture identical to every blocking pass here: two equality
    hash joins (never a cartesian), a cheap Levenshtein residual only
    on block-mates, one best-match window. Passes stack linearly —
    each added block multiplies candidates by its selectivity, not the
    corpus."""
    part = load_table(spark, sf_dir, "part")
    dirty = part.select(
        F.col("p_partkey").alias("d_key"),
        F.when(F.col("p_partkey") % 4 == 0,
               F.concat(F.expr("substr(p_name, 1, "
                               "p_partkey % length(p_name))"),
                        F.expr("substr(p_name, "
                               "(p_partkey % length(p_name)) + 2, "
                               "100000)")))
         .otherwise(F.col("p_name")).alias("d_name"))
    clean = part.select(F.col("p_partkey").alias("matched_key"),
                        F.col("p_name").alias("c_name"))

    # r12 rewrite (guide §8 — same argument as etl_er_blocked): both
    # blocking passes run in NAME space (<=462 distinct d_name x 64
    # distinct c_name), their name-pair candidates union-distinct
    # BEFORE the DP so a pair found by both passes pays one banded
    # Levenshtein, the best match per d_name is picked with
    # min-key-per-c_name (the same lexicographic (dist, matched_key)
    # minimum the row-level window took), and rows attach back by one
    # broadcast equality join. Row pairs: 45M -> <=30k name pairs.
    dnames = dirty.select("d_name").distinct()
    cnames = clean.select("c_name").distinct()

    def pass_names(cond):
        return dnames.join(cnames, cond).select("d_name", "c_name")

    pre = pass_names(F.expr("substr(d_name, 1, 4)")
                     == F.expr("substr(c_name, 1, 4)"))
    suf = pass_names(F.expr("substr(d_name, length(d_name) - 3, 4)")
                     == F.expr("substr(c_name, length(c_name) - 3, 4)"))
    cmin = (clean.groupBy("c_name")
            .agg(F.min("matched_key").alias("matched_key")))
    pair = (pre.unionByName(suf).distinct()
            .join(cmin, "c_name")
            .withColumn("dist", F.levenshtein("d_name", "c_name", 2))
            .filter(F.col("dist") >= 0))
    wn = Window.partitionBy("d_name").orderBy("dist", "matched_key")
    best = (pair.withColumn("_rn", F.row_number().over(wn))
            .filter(F.col("_rn") == 1)
            .select("d_name", "matched_key", "dist"))
    return (dirty.join(F.broadcast(best), "d_name")
            .select("d_key", "matched_key",
                    F.col("dist").cast("int").alias("dist")))


@register("etl_backfill", oracle=f"""
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS total_value
FROM events
GROUP BY 1
""", tags=("etl", "backfill", "incremental"))
def etl_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-scoped backfill with DYNAMIC partition overwrite —
    the daily-pipeline repair pattern: a materialized day-partitioned
    rollup holds an undercount for a window of days (here days 10–14,
    planted by materializing them from only half the events — the
    late-data shape), and the fix recomputes JUST that window from the
    source and INSERT-OVERWRITEs it. ``partitionOverwriteMode=dynamic``
    is the load-bearing setting: static overwrite mode would wipe the
    WHOLE table and rewrite history (the classic backfill footgun);
    dynamic replaces only the partitions present in the incoming
    frame. A test pins the untouched partitions' files byte-identical
    (same names, sizes, mtimes) across the backfill.

    The oracle is the full recompute over events, so one missed or
    doubled partition fails the gate. At 100 TB the cost is
    |window days|, independent of table history — the same
    partial-recompute economics as etl_matview_refresh, but at the
    storage layout layer."""
    import os

    from ..io import derived_dir

    e = load_table(spark, sf_dir, "events")
    if e.isEmpty():
        return spark.createDataFrame(
            [], "n_events long, total_value double, day string")
    daily_src = (e.withColumn("day", F.date_format("ts", "yyyy-MM-dd")))

    def rollup(df: DataFrame) -> DataFrame:
        return (df.groupBy("day")
                .agg(F.count(F.lit(1)).alias("n_events"),
                     dsum("value").alias("total_value")))

    window = (F.dayofmonth(F.to_date("day")) >= 10) & \
             (F.dayofmonth(F.to_date("day")) <= 14)
    target = os.path.join(derived_dir(sf_dir, "backfill_rollup"),
                          f"pid{os.getpid()}")
    # Initial materialization: good days full, window days undercounted
    # (built from every other event — the stale/late-data state).
    initial = (rollup(daily_src).filter(~window)
               .unionByName(
                   rollup(daily_src.filter(F.col("event_id") % 2 == 0))
                   .filter(window)))
    (initial.write.mode("overwrite").partitionBy("day").parquet(target))
    # Backfill: recompute ONLY the window from the full source; dynamic
    # mode overwrites just those day partitions.
    (rollup(daily_src).filter(window)
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("day").parquet(target))
    # Partition-column reads infer DATE; the contract (and oracle)
    # speak yyyy-MM-dd strings.
    return (spark.read.parquet(target)
            .select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                    "n_events", "total_value"))
