"""Relational operator inventory (SURVEY §2.1-2.4, §2.7) over the driver
star schema. Each query registers a Spark plan and its DuckDB oracle.

The reference performs no relational joins/aggregations (its only
join-like behavior is the UTC-key merge, SURVEY §2.3/§2.5) — every row
here is engine surface (`ext`), the absence established by SURVEY §0
(the repo's only code file is class.nmea.parser.php:1-399).

Scale notes applied throughout:
- dimension joins use explicit ``F.broadcast`` (region/nation/part/
  customer/supplier stay broadcast-able at 100 TB fact scale);
- fact-fact joins are plain equi-joins → AQE picks SMJ/shuffle-hash
  and splits skew;
- every window partitions by a real key (never a global orderBy,
  except the global-sort operator itself, which is bounded by LIMIT
  and executes as TakeOrderedAndProject);
- aggregation rounding is applied on BOTH sides to absorb
  floating-point reassociation across partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from gps_stream_processing_spark.operators.asof import asof_join
from gps_stream_processing_spark.plans.registry import (
    is_classic_session,
    register,
    spread_scan,
    table,
)
from gps_stream_processing_spark.session import scoped_conf
from gps_stream_processing_spark.workdir import land_dir

# ---------------------------------------------------------------- §2.1 scans


@register(
    "q_scan",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    """,
    doc="Parquet scan + projection + pushdown predicate (SURVEY §2.1). "
    "`.explain` shows PushedFilters on l_shipdate and a 4-column ReadSchema.",
)
def q_scan(spark: SparkSession, sf: str) -> DataFrame:
    return (
        table(spark, sf, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
        )
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


@register(
    "q_read_json",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY event_type
    """,
    doc="JSON source round-trip (SURVEY §2.1): events → json lines on disk "
    "→ spark.read.json with explicit schema (no inference pass) → counts. "
    "Full oracle: Spark's JSON writer emits exact-round-trip doubles and "
    "ISO timestamps, so the aggregate over the round-tripped rows equals "
    "the aggregate over the original table.",
)
def q_read_json(spark: SparkSession, sf: str) -> DataFrame:
    import os

    out = land_dir("json", sf)
    # _SUCCESS is written last: a killed writer leaves no marker and the
    # next caller rewrites, instead of reading a partial directory
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        table(spark, sf, "events").coalesce(4).write.mode("overwrite").json(out)
    from gps_stream_processing_spark.sources.tables import read_json_events

    return (
        read_json_events(spark, out)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


@register(
    "q_read_csv",
    oracle="""
    SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM nation GROUP BY n_regionkey
    """,
    doc="CSV source round-trip (SURVEY §2.1): nation dim → csv on disk → "
    "spark.read.csv with explicit schema (no inference) → grouped counts. "
    "Full oracle over the original table (integer columns survive the "
    "csv round-trip exactly).",
)
def q_read_csv(spark: SparkSession, sf: str) -> DataFrame:
    import os

    out = land_dir("csv", sf)
    # _SUCCESS is written last: a killed writer leaves no marker and the
    # next caller rewrites, instead of reading a partial directory
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        table(spark, sf, "nation").coalesce(1).write.mode("overwrite").option(
            "header", True
        ).csv(out)
    n = spark.read.schema("n_nationkey int, n_name string, n_regionkey int").option(
        "header", True
    ).csv(out)
    return n.groupBy("n_regionkey").agg(F.count("*").alias("n_nations"))


@register(
    "q_read_text",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(text)) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
    doc="Plain-text source round-trip (SURVEY §2.1 — the last built-in "
    "reader beside csv/json/orc/xml/binaryFile/parquet: the format raw "
    "web-scrape and log corpora actually arrive in): documents → "
    "tab-delimited UTF-8 lines on disk → spark.read.text (one 'value' "
    "column, line-splittable — at 100 TB each executor scans its own "
    "byte ranges) → a 3-way split projection → grouped counts. The "
    "corpus is tab/newline-free so the round-trip is lossless; full "
    "oracle over the original table.",
)
def q_read_text(spark: SparkSession, sf: str) -> DataFrame:
    import os

    out = land_dir("text", sf)
    # _SUCCESS is written last: a killed writer leaves no marker and the
    # next caller rewrites, instead of reading a partial directory
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        table(spark, sf, "documents").select(
            F.concat_ws("\t", "doc_id", "lang", "text").alias("value")
        ).coalesce(4).write.mode("overwrite").text(out)
    lines = spark.read.text(out)
    parts = F.split(F.col("value"), "\t", 3)
    return (
        lines.select(
            parts.getItem(1).alias("lang"),
            F.length(parts.getItem(2)).cast("bigint").alias("n_chars"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@register(
    "q_read_orc",
    oracle="""
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(c_acctbal), 2) AS sum_bal
    FROM customer GROUP BY c_mktsegment
    """,
    doc="ORC source round-trip (SURVEY §2.1): customer dim → ORC on disk "
    "(Spark's second built-in columnar format, zlib-striped) → "
    "spark.read.orc → grouped aggregate. Full oracle over the original "
    "table — numerics survive the columnar round-trip bit-exactly.",
)
def q_read_orc(spark: SparkSession, sf: str) -> DataFrame:
    import os

    out = land_dir("orc", sf)
    # _SUCCESS is written last: a killed writer leaves no marker and the
    # next caller rewrites, instead of reading a partial directory
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        table(spark, sf, "customer").write.mode("overwrite").orc(out)
    c = spark.read.orc(out)
    return c.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"), F.round(F.sum("c_acctbal"), 2).alias("sum_bal")
    )


@register(
    "q_sink_parquet",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
    """,
    doc="Partitioned parquet sink + partition-pruned re-read (SURVEY "
    "§2.1): orders written partitionBy(o_orderstatus); the re-read scan "
    "of one partition prunes the others (the on-disk layout a 100 TB "
    "deployment uses for its date keys). The round-trip is lossless, so "
    "the re-read aggregate carries a full oracle over the source table.",
)
def q_sink_parquet(spark: SparkSession, sf: str) -> DataFrame:

    out = land_dir("sink", sf)
    (
        table(spark, sf, "orders")
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(out)
    )
    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("sum_price")
    )


@register(
    "q_dpp",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
    GROUP BY event_type
    """,
    doc="Dynamic partition pruning (SURVEY §2.1/§4.2): events landed "
    "date-partitioned (the 100 TB on-disk layout), then joined to a "
    "selectively-filtered calendar dim on the partition column. The "
    "date filter lives ONLY on the dim side — the fact scan is pruned "
    "at runtime via the DPP subquery (PartitionFilters: "
    "dynamicpruningexpression, pinned by tests/test_plans.py), so only "
    "7 of 30 date directories are read. Round-trip is lossless → full "
    "oracle as a plain WHERE over the source table.",
)
def q_dpp(spark: SparkSession, sf: str) -> DataFrame:
    fact = date_partitioned_events(spark, sf)
    cal = (
        spark.range(0, 40)
        .select(F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias("d"))
        .filter(F.col("d").between("2024-01-08", "2024-01-14"))
    )
    return (
        fact.join(F.broadcast(cal), fact.event_date == cal.d)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def date_partitioned_events(spark: SparkSession, sf: str) -> DataFrame:
    """Land events partitioned by event_date (directory-per-day, the
    standard big-fact layout) and return the partitioned scan.
    Idempotent per sf dir."""
    import os

    out = os.path.join(land_dir("dpp", sf), "events")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        (
            table(spark, sf, "events")
            .withColumn("event_date", F.col("ts").cast("date"))
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(out)
        )
    return spark.read.parquet(out)


# ------------------------------------------------------- §2.2 filters / proj


@register(
    "q_filter_pred",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type, p_size
    FROM part
    WHERE p_size BETWEEN 10 AND 40
      AND (p_brand IN ('Brand#1','Brand#12','Brand#23')
           OR NOT (p_type LIKE 'ECO%'))
      AND p_name IS NOT NULL
    """,
    doc="Compound predicates: AND/OR/NOT, IN, BETWEEN, LIKE, IS NULL "
    "(the reference *declared* min-sat/max-DOP filters, never enforced: "
    "class.nmea.parser.php:40-77, header :13).",
)
def q_filter_pred(spark: SparkSession, sf: str) -> DataFrame:
    p = table(spark, sf, "part")
    return p.filter(
        F.col("p_size").between(10, 40)
        & (
            F.col("p_brand").isin("Brand#1", "Brand#12", "Brand#23")
            | ~F.col("p_type").like("ECO%")
        )
        & F.col("p_name").isNotNull()
    ).select("p_partkey", "p_name", "p_brand", "p_type", "p_size")


@register(
    "q_case_when",
    oracle="""
    SELECT event_id,
           CASE WHEN value < 10 THEN 'low'
                WHEN value < 100 THEN 'mid'
                ELSE 'high' END AS band,
           COALESCE(NULLIF(event_type, 'view'), 'none') AS masked_type,
           CASE WHEN value IS NULL THEN 'missing' ELSE 'present' END AS presence
    FROM events
    """,
    doc="CASE WHEN banding (DOP-band spec comment class.nmea.parser.php:44-50) "
    "+ coalesce/nullif conditionals (SURVEY §2.6).",
)
def q_case_when(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    return e.select(
        "event_id",
        F.when(F.col("value") < 10, "low")
        .when(F.col("value") < 100, "mid")
        .otherwise("high")
        .alias("band"),
        F.coalesce(F.nullif(F.col("event_type"), F.lit("view")), F.lit("none")).alias(
            "masked_type"
        ),
        F.when(F.col("value").isNull(), "missing").otherwise("present").alias("presence"),
    )


@register(
    "q_distinct",
    oracle="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
    doc="Duplicate elimination (SURVEY §2.2).",
)
def q_distinct(spark: SparkSession, sf: str) -> DataFrame:
    return table(spark, sf, "orders").select("o_orderstatus", "o_orderpriority").distinct()


# ---------------------------------------------------------------- §2.3 joins


@register(
    "q_join_inner",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, o.o_custkey, o.o_orderstatus,
           l.l_quantity, o.o_totalprice
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F' AND l.l_shipdate < TIMESTAMP '1997-01-01'
    """,
    doc="Fact-fact inner equi-join; planner's choice of SMJ/shuffle-hash, "
    "AQE handles skew (SURVEY §2.3).",
)
def q_join_inner(spark: SparkSession, sf: str) -> DataFrame:
    l = table(spark, sf, "lineitem").filter(F.col("l_shipdate") < "1997-01-01")
    o = table(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    return l.join(o, l.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_linenumber", "o_custkey", "o_orderstatus", "l_quantity", "o_totalprice"
    )


@register(
    "q_join_broadcast",
    oracle="""
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l.l_quantity), 2) AS sum_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
    doc="Broadcast hash join: part is a small dim → explicit broadcast() "
    "hint keeps the fact side shuffle-free (SURVEY §2.3).",
)
def q_join_broadcast(spark: SparkSession, sf: str) -> DataFrame:
    l = table(spark, sf, "lineitem")
    p = table(spark, sf, "part")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@register(
    "q_join_outer",
    oracle="""
    SELECT c.c_custkey, c.c_acctbal, o.o_orderkey, o.o_totalprice
    FROM (SELECT * FROM customer WHERE c_acctbal > 5000) c
    FULL OUTER JOIN (SELECT * FROM orders WHERE o_totalprice > 200000) o
      ON c.c_custkey = o.o_custkey
    """,
    doc="Full outer join with unmatched rows surviving on both sides "
    "(left/right are restrictions of the same operator; SURVEY §2.3).",
)
def q_join_outer(spark: SparkSession, sf: str) -> DataFrame:
    c = table(spark, sf, "customer").filter(F.col("c_acctbal") > 5000)
    o = table(spark, sf, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "full").select(
        "c_custkey", "c_acctbal", "o_orderkey", "o_totalprice"
    )


@register(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
    doc="Left semi join (EXISTS; SURVEY §2.3).",
)
def q_join_semi(spark: SparkSession, sf: str) -> DataFrame:
    c = table(spark, sf, "customer")
    o = table(spark, sf, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
    doc="Left anti join (NOT EXISTS; SURVEY §2.3).",
)
def q_join_anti(spark: SparkSession, sf: str) -> DataFrame:
    c = table(spark, sf, "customer")
    o = table(spark, sf, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "q_join_cross",
    oracle="""
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    WHERE r.r_regionkey <> n.n_regionkey
    """,
    doc="Cross join + theta filter (BNLJ; both sides tiny — the only "
    "place a cartesian is acceptable; SURVEY §2.3).",
)
def q_join_cross(spark: SparkSession, sf: str) -> DataFrame:
    r = table(spark, sf, "region")
    n = table(spark, sf, "nation")
    return r.crossJoin(n).filter(F.col("r_regionkey") != F.col("n_regionkey")).select(
        "r_name", "n_name"
    )


@register(
    "q_join_range",
    oracle="""
    SELECT b.band,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(e.value), 2) AS sum_value
    FROM events e
    JOIN (VALUES (0.0, 50.0, 'tiny'), (50.0, 150.0, 'small'),
                 (150.0, 300.0, 'mid'), (300.0, 1000.0, 'big')) b(lo, hi, band)
      ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.band
    """,
    doc="Non-equi range join: events banded by value interval. The band "
    "dim is broadcast → a broadcast nested-loop with a tiny inner, the "
    "right physical plan at any fact scale (SURVEY §2.3).",
)
def q_join_range(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    bands = spark.createDataFrame(
        [(0.0, 50.0, "tiny"), (50.0, 150.0, "small"), (150.0, 300.0, "mid"), (300.0, 1000.0, "big")],
        "lo double, hi double, band string",
    )
    return (
        e.join(F.broadcast(bands), (e.value >= bands.lo) & (e.value < bands.hi))
        .groupBy("band")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    "q_join_range_binned",
    oracle="""
    SELECT b.band,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(e.value), 2) AS sum_value
    FROM events e
    JOIN (VALUES (0.0, 50.0, 'tiny'), (50.0, 150.0, 'small'),
                 (150.0, 300.0, 'mid'), (300.0, 1000.0, 'big')) b(lo, hi, band)
      ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.band
    """,
    doc="Binned range join (operators/range_join.py): same semantics and "
    "oracle as q_join_range, but the theta join is rewritten to an "
    "equi-join on floor(value/w) bins + exact refine — a hash join "
    "instead of a nested loop, so it hash-partitions/broadcasts and "
    "survives an interval side too large to broadcast (SURVEY §2.3).",
)
def q_join_range_binned(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.operators.range_join import binned_range_join

    e = table(spark, sf, "events").select("event_id", "value")
    bands = spark.createDataFrame(
        [(0.0, 50.0, "tiny"), (50.0, 150.0, "small"), (150.0, 300.0, "mid"), (300.0, 1000.0, "big")],
        "lo double, hi double, band string",
    )
    return (
        binned_range_join(e, bands, value_col="value", bin_width=50.0)
        .groupBy("band")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    "q_join_bucketed",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(l.l_quantity) AS BIGINT) AS sum_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'O'
    GROUP BY o.o_orderpriority
    """,
    doc="Bucketed co-located fact-fact join (SURVEY §2.3): both sides "
    "written bucketBy(8, orderkey) + sortBy via saveAsTable, then joined "
    "on the bucket key — the bucketed scan satisfies the join's "
    "distribution requirement so NO Exchange appears under the join "
    "(pinned by tests/test_plans.py). This is the pre-shuffled layout a "
    "100 TB deployment maintains for its hottest join key: the shuffle "
    "is paid once at write time, then every subsequent join is "
    "shuffle-free. Round-trip is lossless → full oracle on the source "
    "tables.",
)
def q_join_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    l, o = bucketed_lineitem_orders(spark, sf)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("o_orderstatus") == "O")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("l_quantity").cast("bigint").alias("sum_qty"),
        )
    )


def bucketed_lineitem_orders(spark: SparkSession, sf: str, n_buckets: int = 8):
    """Land lineitem/orders as external bucketed tables (8 buckets on the
    order key, one file per bucket via repartition) and return the two
    bucketed scans. Shared by the registered query and the plan-shape
    test.

    Reuse semantics match the production story the query documents
    ("the shuffle is paid once at write time"): a NEW session re-ATTACHES
    a previously landed layout instead of re-landing it — external-table
    DDL with the bucket spec over the existing files (Spark re-derives
    each file's bucket id from its name, so attach is lossless) — but
    only when the staged fingerprint (source path+size+mtime, the
    q_read_merge_schema staging discipline) still matches; anything
    else re-lands. Within a session the catalog entry short-circuits."""
    import hashlib
    import os

    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    out = {}
    for name, key, cols in (
        ("lineitem", "l_orderkey", ["l_orderkey", "l_quantity"]),
        ("orders", "o_orderkey", ["o_orderkey", "o_orderstatus", "o_orderpriority"]),
    ):
        tbl = f"bkt_{name}_{tag}"
        path = os.path.join(land_dir("bucketed", sf), name)
        if not spark.catalog.tableExists(tbl):
            import glob as _glob

            src = os.path.join(sf, f"{name}.parquet")
            st = os.stat(src)
            # Fingerprint covers the SOURCE (path+size+mtime) AND the
            # LAYOUT RECIPE (bucket count, key, column list): a recipe
            # change with an unchanged source must re-land, not attach
            # old files under a new DDL (stale column would read
            # all-NULL). Attach additionally requires ALL bucket data
            # files to exist — one file per bucket by construction
            # (repartition(n_buckets, key) + bucketBy share Murmur3, so
            # each task writes exactly its own bucket). A /tmp cleaner
            # that removed SOME files but left the fingerprint must
            # re-land, not attach a silently incomplete table (ADVICE
            # r7, medium — the >0 check only caught all-gone). An
            # empty bucket at tiny SF would undercount and re-land:
            # harmless, idempotent.
            fp = f"{src}:{st.st_size}:{int(st.st_mtime)}:{n_buckets}:{key}:{','.join(cols)}"
            fp_file = os.path.join(path, "_SOURCE_FINGERPRINT")
            slim = table(spark, sf, name).select(*cols)
            try:
                staged = (
                    open(fp_file).read() == fp
                    and len(_glob.glob(os.path.join(path, "part-*"))) == n_buckets
                )
            except OSError:
                staged = False
            if staged:
                ddl_cols = ", ".join(
                    f"{f.name} {f.dataType.simpleString()}" for f in slim.schema.fields
                )
                spark.sql(
                    f"CREATE TABLE {tbl} ({ddl_cols}) USING PARQUET "
                    f"CLUSTERED BY ({key}) SORTED BY ({key}) "
                    f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
                )
            else:
                (
                    slim.repartition(n_buckets, key)
                    .write.mode("overwrite")
                    .bucketBy(n_buckets, key)
                    .sortBy(key)
                    .option("path", path)
                    .saveAsTable(tbl)
                )
                tmp = fp_file + ".tmp"
                with open(tmp, "w") as f:  # atomic: no partial fingerprint
                    f.write(fp)
                os.replace(tmp, fp_file)
        out[name] = spark.table(tbl)
    return out["lineitem"], out["orders"]


_CBO_TABLES = (
    ("orders", ["o_orderkey", "o_custkey", "o_orderpriority"]),
    ("lineitem", ["l_orderkey", "l_quantity"]),
    ("customer", ["c_custkey", "c_mktsegment"]),
)


def cbo_star_tables(spark: SparkSession, sf: str) -> dict[str, DataFrame]:
    """Land the q_cbo_reorder star as external catalog tables and run
    ``ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS`` on each — the
    statistics path a production warehouse maintains so the optimizer
    can reorder joins and size broadcasts from row counts + NDVs
    instead of file bytes (SURVEY §4.2; VERDICT r7 gap 2).

    Landing reuses the bucketed-table staging discipline: fingerprint
    = source path+size+mtime + column recipe, PLUS the landed file
    count (second line) so a partially-deleted layout re-lands instead
    of attaching incomplete (the ADVICE r7 gate, generalized to
    non-bucketed landings where the expected count isn't derivable).
    Stats live in the session catalog, not on disk, so an attach in a
    NEW session re-runs ANALYZE over the slim table — a single cheap
    scan."""
    import glob as _glob
    import hashlib
    import os

    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    out: dict[str, DataFrame] = {}
    for name, cols in _CBO_TABLES:
        tbl = f"cbo_{name}_{tag}"
        path = os.path.join(land_dir("cbo", sf), name)
        if not spark.catalog.tableExists(tbl):
            src = os.path.join(sf, f"{name}.parquet")
            st = os.stat(src)
            fp = f"{src}:{st.st_size}:{int(st.st_mtime)}:{','.join(cols)}"
            fp_file = os.path.join(path, "_SOURCE_FINGERPRINT")
            slim = table(spark, sf, name).select(*cols)
            try:
                fp_disk, n_files = open(fp_file).read().split("\n")
                staged = fp_disk == fp and (
                    len(_glob.glob(os.path.join(path, "part-*"))) == int(n_files)
                )
            except (OSError, ValueError):
                staged = False
            if staged:
                ddl_cols = ", ".join(
                    f"{f.name} {f.dataType.simpleString()}" for f in slim.schema.fields
                )
                spark.sql(
                    f"CREATE TABLE {tbl} ({ddl_cols}) USING PARQUET LOCATION '{path}'"
                )
            else:
                slim.write.mode("overwrite").option("path", path).saveAsTable(tbl)
                n_files = len(_glob.glob(os.path.join(path, "part-*")))
                tmp = fp_file + ".tmp"
                with open(tmp, "w") as f:  # atomic: no partial fingerprint
                    f.write(f"{fp}\n{n_files}")
                os.replace(tmp, fp_file)
            spark.sql(
                f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR COLUMNS "
                + ", ".join(cols)
            )
        out[name] = spark.table(tbl)
    return out


# Identical text runs on Spark 4.1 and DuckDB: linear recursion (every
# node has exactly ONE parent, node DIV 2 on the synthetic binary
# hierarchy), so the working set shrinks geometrically instead of
# exploding — Spark only supports UNION ALL recursion, which makes
# multi-parent graph recursion walk-enumerating (use bfs_distances /
# the iterative operators for graphs; recursion is for hierarchies).
_RECURSIVE_CTE_SQL = """
WITH RECURSIVE walk(leaf, node, depth, bal) AS (
  SELECT s_suppkey, s_suppkey, 0, s_acctbal FROM supplier
  UNION ALL
  SELECT leaf, CAST(FLOOR(node / 2) AS BIGINT), depth + 1, bal
  FROM walk WHERE node > 1
)
SELECT CAST(depth AS INT) AS root_depth,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       ROUND(SUM(bal), 2) AS sum_bal
FROM walk WHERE node = 1 GROUP BY depth
"""


@register(
    "q_recursive_cte",
    oracle=_RECURSIVE_CTE_SQL,
    doc="RECURSIVE CTE (Spark 4 WITH RECURSIVE, SURVEY §2.3/§2.6): "
    "walk every supplier up a synthetic binary management hierarchy "
    "(parent = node DIV 2) to the root and roll up by path depth — "
    "the org-chart/BOM ancestor rollup, expressed in pure SQL and "
    "executed by Catalyst's UnionLoop iteration. Linear recursion by "
    "construction (one parent per node → per-step working set never "
    "grows), the shape recursion is FOR; multi-parent reachability "
    "stays on the checkpointed DataFrame loops (q_bfs_distance). "
    "Oracle: the identical SQL text on DuckDB's recursive CTE.",
)
def q_recursive_cte(spark: SparkSession, sf: str) -> DataFrame:
    _views(spark, sf, "supplier")
    return spark.sql(_RECURSIVE_CTE_SQL)


@register(
    "q_sql_variables",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_above,
           ROUND(MIN(o_totalprice), 2) AS min_above
    FROM orders
    WHERE o_totalprice > (SELECT 1.5 * AVG(o_totalprice) FROM orders)
    GROUP BY o_orderpriority
    """,
    doc="SQL session variables + EXECUTE IMMEDIATE (Spark 4, SURVEY "
    "§2.6 SQL surface): DECLARE OR REPLACE VARIABLE, SET VARIABLE "
    "from a scalar subquery, then a parameterized EXECUTE IMMEDIATE "
    "('… WHERE o_totalprice > ?' USING the variable) — the "
    "procedural-SQL parameter-passing surface a migration from a "
    "stored-procedure warehouse leans on. The variable is resolved "
    "driver-side at SET time; the oracle inlines the defining "
    "subquery.",
)
def q_sql_variables(spark: SparkSession, sf: str) -> DataFrame:
    _views(spark, sf, "orders")
    spark.sql("DECLARE OR REPLACE VARIABLE price_floor DOUBLE")
    spark.sql(
        "SET VARIABLE price_floor = (SELECT 1.5 * AVG(o_totalprice) FROM orders)"
    )
    return spark.sql(
        "EXECUTE IMMEDIATE "
        "'SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_above, "
        "ROUND(MIN(o_totalprice), 2) AS min_above "
        "FROM orders WHERE o_totalprice > ? GROUP BY o_orderpriority' "
        "USING price_floor"
    )


@register(
    "q_sql_scripting",
    # The script's strict-> max with regionkey iteration order ==
    # ORDER BY cnt DESC, r_regionkey ASC LIMIT 1.
    oracle="""
    WITH c AS (
      SELECT r_regionkey, r_name,
             (SELECT COUNT(*) FROM nation WHERE n_regionkey = r_regionkey) AS cnt
      FROM region
    )
    SELECT CAST(SUM(cnt) AS BIGINT) AS n_nations,
           (SELECT r_name FROM c ORDER BY cnt DESC, r_regionkey ASC LIMIT 1)
             AS first_max_region,
           CAST(MAX(cnt) AS BIGINT) AS n_in_max
    FROM c
    """,
    doc="SQL scripting (Spark 4 BEGIN…END, SURVEY §2.6 SQL surface): "
    "DECLARE / FOR-loop over a cursor / SET accumulation / IF-ELSE "
    "branch — the control-flow block a stored-procedure migration "
    "compiles to, executed entirely by the engine (each statement is "
    "still a Catalyst plan; the loop is driver-orchestrated exactly "
    "like the engine's own iterative operators). Deterministic cursor "
    "order (ORDER BY r_regionkey) → the first-max branch is "
    "well-defined; oracle re-derives the same aggregates in plain SQL.",
)
def q_sql_scripting(spark: SparkSession, sf: str) -> DataFrame:
    _views(spark, sf, "region", "nation")
    return spark.sql("""
    BEGIN
      DECLARE total BIGINT DEFAULT 0;
      DECLARE biggest STRING DEFAULT '';
      DECLARE bign BIGINT DEFAULT -1;
      DECLARE cnt BIGINT;
      FOR r AS SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey DO
        SET cnt = (SELECT COUNT(*) FROM nation WHERE n_regionkey = r.r_regionkey);
        SET total = total + cnt;
        IF cnt > bign THEN
          SET bign = cnt; SET biggest = r.r_name;
        END IF;
      END FOR;
      SELECT total AS n_nations, biggest AS first_max_region, bign AS n_in_max;
    END
    """)


@register(
    "q_cbo_reorder",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderpriority
    """,
    doc="Cost-based join reorder from ANALYZEd statistics (SURVEY "
    "§4.2): the star tables carry row counts + per-column NDVs "
    "(cbo_star_tables), and the join is WRITTEN in the worst order — "
    "fact ⋈ fact first, selective dim last. With "
    "spark.sql.cbo.joinReorder.enabled (session default, "
    "registry.tune_session) the optimizer reorders to orders ⋈ "
    "σ(customer) ⋈ lineitem, shrinking the first join's output from "
    "|lineitem| to |orders|·sel(BUILDING) — at 100 TB the difference "
    "between shuffling the largest table's full width twice and once. "
    "The stats-driven reorder (and its absence without stats/CBO) is "
    "pinned by tests/test_plans.py::test_cbo_stats_drive_join_reorder; "
    "values are order-invariant → plain 3-way-join oracle.",
)
def q_cbo_reorder(spark: SparkSession, sf: str) -> DataFrame:
    t = cbo_star_tables(spark, sf)
    c = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("l_quantity").cast("bigint").alias("sum_qty"),
        )
    )


@register(
    "q_join_asof",
    oracle="""
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), purch AS (
      SELECT user_id, ts, ROUND(SUM(value), 2) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    )
    SELECT c.event_id, c.user_id, p.ts AS asof_ts, p.purchase_value AS asof_purchase_value
    FROM clicks c ASOF JOIN purch p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    doc="As-of join: each click matched to the user's latest purchase at "
    "or before it — union+ordered-window formulation (operators/asof.py), "
    "the streaming analog of the reference's $CurrentUTC forward-fill "
    "(class.nmea.parser.php:226). Oracle: DuckDB native ASOF JOIN.",
)
def q_join_asof(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.round(F.sum("value"), 2).alias("purchase_value"))
    )
    return asof_join(clicks, purch, by=["user_id"], ts_col="ts", how="inner").select(
        "event_id", "user_id", "asof_ts", "asof_purchase_value"
    )


@register(
    "q_join_asof_tolerance",
    # LEFT as-of + post-hoc staleness gate: a match older than the
    # 2-day tolerance degrades to NULL (not to the next-older row —
    # that's what distinguishes tolerance from a range join). The
    # NULL-ing happens AFTER the as-of pick on both sides.
    oracle="""
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), purch AS (
      SELECT user_id, ts, ROUND(SUM(value), 2) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    )
    SELECT c.event_id, c.user_id,
           CASE WHEN p.ts IS NOT NULL AND c.ts <= p.ts + INTERVAL 2 DAY
                THEN p.ts END AS asof_ts,
           CASE WHEN p.ts IS NOT NULL AND c.ts <= p.ts + INTERVAL 2 DAY
                THEN p.purchase_value END AS asof_purchase_value
    FROM clicks c ASOF LEFT JOIN purch p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    doc="As-of join with TOLERANCE (SURVEY §2.3 ext, completing the "
    "as-of trio: backward / nearest / tolerance-bounded): each click "
    "takes the user's latest prior purchase ONLY if it is at most 2 "
    "days stale, else NULL — the max-staleness contract of quote "
    "enrichment (a 3-week-old price must not silently decorate "
    "today's trade; pandas merge_asof's `tolerance=`). Same "
    "union+ordered-window shape as q_join_asof (one shuffle per "
    "side, no range explosion) plus one scan-side CASE; the stale "
    "match degrades to NULL, never to an older row.",
)
def q_join_asof_tolerance(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.round(F.sum("value"), 2).alias("purchase_value"))
    )
    j = asof_join(clicks, purch, by=["user_id"], ts_col="ts", how="left")
    fresh = F.col("asof_ts").isNotNull() & (
        F.col("ts") <= F.col("asof_ts") + F.expr("INTERVAL 2 DAYS")
    )
    return j.select(
        "event_id",
        "user_id",
        F.when(fresh, F.col("asof_ts")).alias("asof_ts"),
        F.when(fresh, F.col("asof_purchase_value")).alias("asof_purchase_value"),
    )


@register(
    "q_lag_delta",
    oracle="""
    SELECT event_id, user_id,
           value - lag(value) OVER w AS delta_value,
           lead(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="lag/lead per-track deltas (SURVEY §2.3 self-join row, expressed "
    "as the preferred single-shuffle window; tie-break on event_id makes "
    "it deterministic).",
)
def q_lag_delta(spark: SparkSession, sf: str) -> DataFrame:
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    e = table(spark, sf, "events")
    return e.select(
        "event_id",
        "user_id",
        (F.col("value") - F.lag("value").over(w)).alias("delta_value"),
        F.lead("event_type").over(w).alias("next_type"),
    )


# ----------------------------------------------------------------- §2.4 aggs


@register(
    "q_agg_basic",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(5,4)) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(5,4)) * CAST(1 + l_tax AS DECIMAL(5,4)) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_charge,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
           ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order,
           ROUND(MIN(l_quantity), 2) AS min_qty,
           ROUND(MAX(l_quantity), 2) AS max_qty
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-shaped hash aggregate: sum/avg/min/max/count with "
    "Tungsten partial+final aggregation (SURVEY §2.4). Sums and means run "
    "in DECIMAL per-row casts (exact for the 2-dp money values), so "
    "the associative DECIMAL sum makes every result bit-stable under any "
    "partitioning — double avg() would round-flip at half boundaries. "
    "The disc_price/charge *factors* are cast to decimal before the "
    "multiply: casting the double product instead leaves a double→decimal "
    "HALF_UP boundary that Spark and DuckDB resolve differently "
    "(observed: one cent on sum_charge at sf0.01). decimal(12,2) * "
    "decimal(5,4) * decimal(5,4) stays within precision 24 — exact, no "
    "precision-loss rescale on either engine. The products are then cast "
    "back to scale 6 — still exact (the factors carry only 2 real "
    "decimal places, so digits beyond scale 6 are zeros) — because "
    "precision ≤ 18 keeps per-row values long-backed instead of "
    "BigDecimal-backed (measured ~2× on the sf0.1 aggregate).",
)
def q_agg_basic(spark: SparkSession, sf: str) -> DataFrame:
    l = table(spark, sf, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc_factor = (F.lit(1) - F.col("l_discount")).cast("decimal(5,4)")
    tax_factor = (F.lit(1) + F.col("l_tax")).cast("decimal(5,4)")
    # (12,2)*(5,4) → (18,6) exact; ×(5,4) → (24,10) exact, recompacted
    # to (18,6) (exact: only zeros beyond scale 6).
    disc_price = (price * disc_factor).cast("decimal(18,6)")
    charge = (disc_price * tax_factor).cast("decimal(18,6)")

    def dsum(col, nd=2):
        return F.round(F.sum(col), nd).cast("double")

    def davg(col, nd=6):
        return F.round(F.sum(col.cast("decimal(18,4)")).cast("double") / F.count("*"), nd)

    return l.groupBy("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_quantity").cast("decimal(18,4)")).alias("sum_qty"),
        dsum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("sum_base_price"),
        dsum(disc_price).alias("sum_disc_price"),
        dsum(charge).alias("sum_charge"),
        davg(F.col("l_quantity")).alias("avg_qty"),
        davg(F.col("l_extendedprice")).alias("avg_price"),
        davg(F.col("l_discount")).alias("avg_disc"),
        F.count("*").alias("count_order"),
        F.round(F.min("l_quantity"), 2).alias("min_qty"),
        F.round(F.max("l_quantity"), 2).alias("max_qty"),
    )


@register(
    "q_agg_count_distinct",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
    doc="Exact count-distinct (expand+two-phase agg in Spark; SURVEY §2.4).",
)
def q_agg_count_distinct(spark: SparkSession, sf: str) -> DataFrame:
    return (
        table(spark, sf, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count("*").alias("n_orders"),
        )
    )


@register(
    "q_agg_approx_cd",
    # The raw HLL++ estimate is engine-specific, so the checkable output
    # is (exact count, estimate-within-envelope flag): the exact count
    # pins the data path and the flag pins that Spark's sketch actually
    # ran and landed inside its configured rsd — DuckDB asserts TRUE.
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS approx_within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="approx_count_distinct (HLL++, rsd 0.02): sketch values differ "
    "across engines by design, so the query emits the exact distinct "
    "count plus a within-±5% envelope flag on the estimate; the oracle "
    "recomputes the exact count and asserts the flag (SURVEY §2.4). "
    "pytest separately pins the raw estimate's envelope.",
)
def q_agg_approx_cd(spark: SparkSession, sf: str) -> DataFrame:
    # HLL is duplicate-insensitive, so both aggregates run over one
    # pre-distincted 2-column projection: a single partial-aggregated
    # shuffle instead of the Expand-doubled plan Catalyst emits for
    # count_distinct + approx_count_distinct in the same agg (measured
    # 2.7s -> ~1s at sf0.1; estimate is bit-identical).
    distinct_pairs = (
        table(spark, sf, "lineitem").select("l_returnflag", "l_partkey").distinct()
    )
    return (
        distinct_pairs.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("exact_parts"),
            F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("approx_parts") - F.col("exact_parts"))
                <= 0.05 * F.col("exact_parts")
            ).alias("approx_within_5pct"),
        )
    )


@register(
    "q_agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="Hierarchical subtotals (SURVEY §2.4).",
)
def q_agg_rollup(spark: SparkSession, sf: str) -> DataFrame:
    return (
        table(spark, sf, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


@register(
    "q_agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="All grouping-set combinations (SURVEY §2.4).",
)
def q_agg_cube(spark: SparkSession, sf: str) -> DataFrame:
    return (
        table(spark, sf, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


@register(
    "q_agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    doc="Explicit GROUPING SETS — an arbitrary subset of the cube "
    "lattice, distinct from rollup/cube; GROUPING() ids disambiguate "
    "aggregated-away NULLs from data NULLs. One Expand + one hash-agg, "
    "same single-shuffle shape as a plain groupBy (SURVEY §2.4).",
)
def q_agg_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus"))
            .cast("bigint")
            .alias("gid"),
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@register(
    "q_agg_having",
    oracle="""
    SELECT l_suppkey, ROUND(SUM(l_quantity), 2) AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem GROUP BY l_suppkey
    HAVING SUM(l_quantity) > 15000
    """,
    doc="HAVING = post-aggregation filter (SURVEY §2.4).",
)
def q_agg_having(spark: SparkSession, sf: str) -> DataFrame:
    return (
        table(spark, sf, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count("*").alias("n_items"),
        )
        .filter(F.col("sum_qty") > 15000)
    )


@register(
    "q_agg_percentile",
    oracle="""
    SELECT l_returnflag,
           ROUND(median(l_quantity), 6) AS median_qty,
           ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
           ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50_price
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Exact interpolated percentiles/median (both engines use linear "
    "interpolation; approx_percentile is covered rows-only via "
    "q_agg_approx_cd's family; SURVEY §2.4).",
)
def q_agg_percentile(spark: SparkSession, sf: str) -> DataFrame:
    # r17 optimization (guide §2.2/§6): lineitem is one scan split at
    # bench SFs, so the exact-percentile partial aggregation (a
    # value-count map over every row) ran single-core. spread_scan
    # hash-repartitions on l_orderkey only when the scan is narrower
    # than the core budget (no-op at production split counts); the
    # percentile merge is a count-map union — order- and placement-
    # independent, values verified identical. 1.8 → 1.1 s warm.
    return (
        spread_scan(
            table(spark, sf, "lineitem").select(
                "l_returnflag", "l_quantity", "l_extendedprice", "l_orderkey"
            ),
            "l_orderkey",
        )
        .groupBy("l_returnflag")
        .agg(
            F.round(F.median("l_quantity"), 6).alias("median_qty"),
            F.round(F.percentile("l_extendedprice", 0.9), 6).alias("p90_price"),
            F.round(F.percentile("l_extendedprice", 0.5), 6).alias("p50_price"),
        )
    )


@register(
    "q_agg_stats",
    oracle="""
    SELECT l_returnflag,
           ROUND(stddev_samp(l_quantity), 6) AS sd_qty,
           ROUND(var_samp(l_quantity), 6) AS var_qty,
           ROUND(stddev_samp(l_discount), 6) AS sd_disc
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Sample stddev/variance (SURVEY §2.4).",
)
def q_agg_stats(spark: SparkSession, sf: str) -> DataFrame:
    return (
        table(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
            F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
            F.round(F.stddev_samp("l_discount"), 6).alias("sd_disc"),
        )
    )


@register(
    "q_fix_merge",
    oracle="""
    WITH enriched AS (
      SELECT user_id, date_trunc('day', ts) AS day, ts, event_id,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value_n,
             event_type
      FROM events
    ), filled AS (
      SELECT user_id, day,
             last_value(value_n IGNORE NULLS) OVER w AS last_good_value,
             ROUND(AVG(value_n) OVER w, 6) AS avg_good_value,
             CAST(COUNT(*) OVER w AS BIGINT) AS n_events,
             row_number() OVER (PARTITION BY user_id, day ORDER BY ts, event_id) AS rn
      FROM enriched
      WINDOW w AS (PARTITION BY user_id, day ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, day, last_good_value, avg_good_value, n_events
    FROM filled WHERE rn = 1
    """,
    doc="The reference's per-key upsert-merge combinator (last non-null "
    "wins by arrival order, class.nmea.parser.php:173-187) lifted to the "
    "events table: per (user, day) merge with the exact full-frame-window "
    "formulation operators/gps_fix.py::merge_fixes uses (SURVEY §2.4/§2.5).",
)
def q_fix_merge(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events").select(
        "user_id",
        F.date_trunc("day", "ts").alias("day"),
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", F.lit(None))
        .otherwise(F.col("value"))
        .alias("value_n"),
    )
    wfull = (
        W.partitionBy("user_id", "day")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    filled = e.select(
        "user_id",
        "day",
        F.last("value_n", ignorenulls=True).over(wfull).alias("last_good_value"),
        F.round(F.avg("value_n").over(wfull), 6).alias("avg_good_value"),
        F.count("*").over(wfull).alias("n_events"),
        F.row_number().over(W.partitionBy("user_id", "day").orderBy("ts", "event_id")).alias("rn"),
    )
    return filled.filter(F.col("rn") == 1).drop("rn")


@register(
    "q_agg_collect",
    oracle="""
    SELECT l_orderkey,
           array_to_string(list_sort(list(l_linenumber)), ',') AS linenumbers,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_orderkey
    """,
    doc="collect_list sorted for determinism, string-joined so the hash "
    "compares engine-neutrally (SURVEY §2.4).",
)
def q_agg_collect(spark: SparkSession, sf: str) -> DataFrame:
    return (
        table(spark, sf, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.array_join(F.sort_array(F.collect_list("l_linenumber")), ",").alias("linenumbers"),
            F.count("*").alias("n"),
        )
    )


@register(
    "q_pivot",
    oracle="""
    SELECT user_id,
           CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
           CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
           CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
           CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
           CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
    FROM events GROUP BY user_id
    """,
    doc="Pivot event_type → columns, generalizing the reference's "
    "['type'][sentence]=true provenance map (class.nmea.parser.php:173). "
    "Explicit pivot values → no extra distinct-scan job (SURVEY §2.4).",
)
def q_pivot(spark: SparkSession, sf: str) -> DataFrame:
    kinds = ["click", "error", "purchase", "signup", "view"]
    piv = (
        table(spark, sf, "events")
        .groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "user_id", *[F.coalesce(F.col(k), F.lit(0)).alias(k) for k in kinds]
    )


@register(
    "q_unpivot",
    oracle="""
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value
    FROM part
    """,
    doc="Unpivot/melt (wide → long, the inverse of q_pivot): part "
    "metrics into (key, metric, value) rows via the native unpivot "
    "operator — a narrow Expand node, no shuffle, no UDF (SURVEY §2.7 "
    "reshape family). Oracle is the portable UNION ALL form.",
)
def q_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    p = table(spark, sf, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    )
    return p.unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register(
    "q_resample_interp",
    oracle="""
    WITH obs AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, AVG(value) AS v
      FROM events GROUP BY 1, 2
    ), rng AS (
      SELECT user_id, date_trunc('hour', MIN(ts)) AS t0,
             date_trunc('hour', MAX(ts)) AS t1
      FROM obs GROUP BY 1
    ), grid AS (
      SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS ts
      FROM rng
    ), u AS (
      SELECT user_id, ts, 0 AS side, ts AS ots, v FROM obs
      UNION ALL
      SELECT user_id, ts, 1, NULL, NULL FROM grid
    ), filled AS (
      SELECT user_id, ts, side,
             last_value(ots IGNORE NULLS) OVER wf AS prev_ts,
             last_value(v IGNORE NULLS) OVER wf AS prev_v,
             last_value(ots IGNORE NULLS) OVER wb AS next_ts,
             last_value(v IGNORE NULLS) OVER wb AS next_v
      FROM u
      WINDOW wf AS (PARTITION BY user_id ORDER BY ts, side
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wb AS (PARTITION BY user_id ORDER BY ts DESC, side DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, ts AS grid_ts, ROUND(prev_v, 6) AS locf_value,
           ROUND(CASE WHEN epoch_us(prev_ts) = epoch_us(ts) THEN prev_v
                 ELSE prev_v + (next_v - prev_v)
                      * ((epoch_us(ts) - epoch_us(prev_ts))
                         / (epoch_us(next_ts) - epoch_us(prev_ts))) END,
                 6) AS interp_value
    FROM filled WHERE side = 1
    """,
    doc="Time-series resample / gap-fill onto an hourly per-user grid "
    "with LOCF and linear interpolation (operators/resample.py — the "
    "trajectory position-between-fixes estimate). Union + ordered "
    "window: one hash shuffle, two sorts, no range join, no Python "
    "(SURVEY §2.7 window family). Nulls at grid points with no "
    "observation on the needed side.",
)
def q_resample_interp(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.operators.resample import resample_interp

    return resample_interp(table(spark, sf, "events"), by="user_id")


# ---------------------------------------------- §2.7 windows/sort/limit/set


@register(
    "q_win_rank",
    oracle="""
    SELECT c_custkey, c_nationkey,
           row_number()   OVER w AS rn,
           rank()         OVER tie AS rnk,
           dense_rank()   OVER tie AS drnk,
           ntile(4)       OVER w AS quartile,
           ROUND(percent_rank() OVER tie, 6) AS pct_rank,
           ROUND(cume_dist()    OVER tie, 6) AS cdist
    FROM customer
    WINDOW w   AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey),
           tie AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC)
    """,
    doc="Ranking family (SURVEY §2.7). row_number/ntile use a total order "
    "(tie-break c_custkey); rank/dense_rank/percent_rank/cume_dist use the "
    "tie-sensitive order on purpose.",
)
def q_win_rank(spark: SparkSession, sf: str) -> DataFrame:
    w = W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    tie = W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc())
    return table(spark, sf, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(tie).alias("rnk"),
        F.dense_rank().over(tie).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(tie), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(tie), 6).alias("cdist"),
    )


@register(
    "q_win_frames",
    oracle="""
    SELECT event_id, user_id,
           ROUND(SUM(value) OVER run, 4) AS running_sum,
           ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY epoch(ts)
                 RANGE BETWEEN 600 PRECEDING AND CURRENT ROW), 4) AS moving_avg_10m,
           first_value(event_type) OVER run AS first_type,
           last_value(event_type)  OVER run AS latest_type
    FROM events
    WINDOW run AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    doc="Window frames: running ROWS sum, 10-minute RANGE moving average "
    "over epoch seconds, first/last_value (SURVEY §2.7).",
)
def q_win_frames(spark: SparkSession, sf: str) -> DataFrame:
    run = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    rng = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").cast("double"))
        .rangeBetween(-600, 0)
    )
    return table(spark, sf, "events").select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(run), 4).alias("running_sum"),
        F.round(F.avg("value").over(rng), 4).alias("moving_avg_10m"),
        F.first("event_type").over(run).alias("first_type"),
        F.last("event_type").over(run).alias("latest_type"),
    )


@register(
    "q_topk_group",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 5
    """,
    doc="Top-K per group via row_number ≤ K — shuffles once on the group "
    "key; no global sort (SURVEY §2.7).",
)
def q_topk_group(spark: SparkSession, sf: str) -> DataFrame:
    w = W.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        table(spark, sf, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
    )


@register(
    "q_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    doc="Global top-K: orderBy+limit → TakeOrderedAndProject (per-partition "
    "heaps + driver merge; never a full global sort; SURVEY §2.7).",
)
def q_topk(spark: SparkSession, sf: str) -> DataFrame:
    return (
        table(spark, sf, "orders")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "q_union_evolve",
    # DuckDB's UNION ALL BY NAME is the exact twin of Spark's
    # unionByName(allowMissingColumns=True): columns matched by name,
    # absentees null-padded on either side.
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice, o_orderpriority
    FROM (
      SELECT o_orderkey, o_orderdate, o_totalprice
      FROM orders WHERE o_orderstatus = 'F'
      UNION ALL BY NAME
      SELECT o_orderkey, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderstatus = 'O'
    )
    """,
    doc="Schema-evolution UNION (SURVEY §2.7 ext, the in-plan twin of "
    "q_read_merge_schema's scan-time evolution): two batches whose "
    "schemas drifted — one carries o_totalprice, the other "
    "o_orderpriority — combined with unionByName(allowMissingColumns="
    "True), columns matched BY NAME and absentees null-padded. "
    "Positional UNION would silently misalign or reject; this is how "
    "a long-lived pipeline appends last year's extract to this "
    "year's. Pure narrow op: two scans, zero shuffles, both filters "
    "pushed.",
)
def q_union_evolve(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders")
    old_batch = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    new_batch = o.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    return old_batch.unionByName(new_batch, allowMissingColumns=True).select(
        "o_orderkey", "o_orderdate", "o_totalprice", "o_orderpriority"
    )


@register(
    "q_keyset_page",
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM orders
    WHERE o_orderdate > DATE '1995-06-15'
       OR (o_orderdate = DATE '1995-06-15' AND o_orderkey > 3000)
    ORDER BY o_orderdate, o_orderkey
    LIMIT 50
    """,
    doc="KEYSET pagination (seek method, SURVEY §2.7 ext): the next "
    "50-row page strictly after the cursor (o_orderdate, o_orderkey) "
    "= ('1995-06-15', 3000), expressed as a composite-key seek "
    "predicate + bounded top-k. This is THE scale-correct pagination: "
    "OFFSET N forces the engine to produce and discard N rows per "
    "page (and Spark's global sort+offset funnels through one "
    "partition), while the seek predicate pushes to the parquet scan "
    "— min/max stats skip every row group before the cursor on a "
    "date-laid-out table — and the LIMIT plans as "
    "TakeOrderedAndProject (per-partition k-row partials, no global "
    "sort). Page N costs the same as page 1 forever.",
)
def q_keyset_page(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders")
    cur_date, cur_key = "1995-06-15", 3000
    seek = (F.col("o_orderdate") > F.lit(cur_date).cast("date")) | (
        (F.col("o_orderdate") == F.lit(cur_date).cast("date"))
        & (F.col("o_orderkey") > F.lit(cur_key))
    )
    return (
        o.filter(seek)
        .orderBy("o_orderdate", "o_orderkey")
        .limit(50)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )


@register(
    "q_sort",
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice,
           CAST(row_number() OVER (ORDER BY o_orderdate DESC, o_totalprice, o_orderkey)
                AS BIGINT) AS sort_pos
    FROM (
      SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
      WHERE o_orderstatus = 'F'
      ORDER BY o_orderdate DESC, o_totalprice, o_orderkey LIMIT 100
    )
    """,
    doc="Multi-key global sort, made hash-observable by materializing the "
    "sort position of the top-100 slice (order-insensitive hashing would "
    "otherwise not see ordering; SURVEY §2.7). The inner sort runs as "
    "TakeOrderedAndProject; row_number touches only 100 rows.",
)
def q_sort(spark: SparkSession, sf: str) -> DataFrame:
    top = (
        table(spark, sf, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .orderBy(F.col("o_orderdate").desc(), "o_totalprice", "o_orderkey")
        .limit(100)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )
    w = W.orderBy(F.col("o_orderdate").desc(), "o_totalprice", "o_orderkey")
    return top.withColumn("sort_pos", F.row_number().over(w).cast("long"))


@register(
    "q_set_union",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
    doc="Union distinct (SURVEY §2.7).",
)
def q_set_union(spark: SparkSession, sf: str) -> DataFrame:
    c = table(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = table(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


@register(
    "q_set_union_all",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION ALL
    SELECT s_nationkey FROM supplier
    """,
    doc="Union all (multiset; SURVEY §2.7).",
)
def q_set_union_all(spark: SparkSession, sf: str) -> DataFrame:
    c = table(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = table(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s)


@register(
    "q_set_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
    doc="Intersect distinct (SURVEY §2.7).",
)
def q_set_intersect(spark: SparkSession, sf: str) -> DataFrame:
    c = table(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = table(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "q_set_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT ALL
    SELECT s_nationkey FROM supplier
    """,
    doc="Except-all (multiset difference; SURVEY §2.7).",
)
def q_set_except(spark: SparkSession, sf: str) -> DataFrame:
    c = table(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = table(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.exceptAll(s)


@register(
    "q_sample_hash",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE substring(md5(o_orderkey::VARCHAR), 1, 1) IN ('0', '1')
    """,
    doc="Deterministic hash sampling (~1/8) — the reproducible sampling "
    "primitive a training-data pipeline needs (rerunning the pipeline "
    "yields the SAME sample, unlike rand()-based Bernoulli sampling). "
    "md5 is bit-identical across engines, so this has an exact oracle; "
    "the predicate is a pushdown-friendly scan filter — no shuffle.",
)
def q_sample_hash(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders")
    return o.select("o_orderkey", "o_custkey", "o_totalprice").filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1).isin("0", "1")
    )


@register(
    "q_histogram",
    oracle="""
    SELECT CAST(FLOOR(l_extendedprice / 5000.0) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(l_extendedprice), 2) AS lo,
           ROUND(MAX(l_extendedprice), 2) AS hi
    FROM lineitem GROUP BY 1
    """,
    doc="Fixed-width histogram over a value column (portable arithmetic "
    "bucketing, one hash-agg pass with map-side partials — the "
    "distribution-profiling primitive for data-quality dashboards).",
)
def q_histogram(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    return (
        li.groupBy(
            F.floor(F.col("l_extendedprice") / 5000.0).alias("bucket")
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("l_extendedprice"), 2).alias("lo"),
            F.round(F.max("l_extendedprice"), 2).alias("hi"),
        )
    )


@register(
    "q_join_salted",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    doc="Skew-mitigated (salted) equi-join: the fact side derives a "
    "deterministic salt in [0,4) from its row (pmod(l_linenumber,4)); "
    "the dim side is exploded 4x, one replica per salt; the join key "
    "becomes (orderkey, salt) so one hot orderkey spreads over 4 "
    "reducer partitions. Result provably identical to the unsalted "
    "join (oracle = plain join). At 100 TB this is the manual fallback "
    "when AQE skew-split can't help (e.g. skewed keys inside one "
    "partition of a pre-shuffled dataset).",
)
def q_join_salted(spark: SparkSession, sf: str) -> DataFrame:
    n_salt = 4
    o = table(spark, sf, "orders").select(
        "o_orderkey", "o_orderpriority", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))).alias("salt")
    )
    li = table(spark, sf, "lineitem").select(
        "l_orderkey",
        "l_extendedprice",
        "l_discount",
        F.pmod(F.col("l_linenumber"), F.lit(n_salt)).cast("int").alias("salt"),
    )
    return (
        li.join(
            o,
            (F.col("l_orderkey") == F.col("o_orderkey")) & (li["salt"] == o["salt"]),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        )
    )


def skew_join_aqe_materialized(spark: SparkSession, sf: str):
    """AQE skew-join demonstration: materialize a deliberately skewed
    SMJ (≈50% of lineitem on one synthetic key) under scoped skew-split
    confs and return ``(result_snapshot, executed_plan_string)`` — the
    plan string is what tests/test_plans.py pins ``skew=true`` on.

    Two smoke-scale realities drive the shape (both verified against
    Spark 4.1's OptimizeSkewedJoin, which splits a hot partition ONLY
    at map-output boundaries):

    - the fact is landed as an 8-file parquet first: the source
      parquet at test SFs is one row group → ONE non-empty map task →
      an unsplittable hot partition (createSkewPartitionSpecs yields a
      single spec and the rule reports zero skewed partitions). At
      production scale a fact table is always multi-file; the landing
      just restores that property.
    - ``forceOptimizeSkewedJoin``: the downstream groupBy imposes a
      distribution requirement the split would violate, so without
      force AQE vetoes the split; with it, Spark accepts the extra
      exchange — the documented production tradeoff for badly skewed
      joins (split the straggler, pay one more shuffle of the small
      aggregate input).

    The skew confs (2KB thresholds) are scaled to the test SF and
    scoped to this materialization; defaults (256MB) hold at
    production sizes. The salted twin ``q_join_salted`` stays the
    manual fallback for skew AQE cannot see."""
    import os

    out = os.path.join(land_dir("skewfact", sf), "fact")
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    fact_src = li.withColumn(
        "skew_key",
        F.when(F.col("l_orderkey") % 10 < 5, F.lit(0)).otherwise(
            F.col("l_orderkey") % 997
        ),
    )
    # _SUCCESS written last: a killed writer leaves no marker
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        fact_src.repartition(8).write.mode("overwrite").parquet(out)
    fact = spark.read.parquet(out)
    dim = spark.range(0, 997).select(
        F.col("id").alias("skew_key"), (F.col("id") % 5 + 1).alias("mult")
    )
    agg = (
        fact.join(dim, "skew_key")
        .groupBy((F.col("skew_key") % 7).alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity") * F.col("mult")).cast("bigint").alias("wsum"),
        )
    )
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1B",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    with scoped_conf(spark, confs):
        rows = agg.collect()  # 7 buckets — O(1) driver result
        # executedPlan introspection needs the classic py4j backend;
        # under Spark Connect the snapshot values are identical (AQE
        # runs server-side) but the plan text is unavailable — the
        # skew-split assertion in tests/test_plans.py is classic-only.
        plan = (
            agg._jdf.queryExecution().executedPlan().toString()
            if is_classic_session(spark)
            else None
        )
    return spark.createDataFrame(rows, schema=agg.schema), plan


@register(
    "q_join_skew_aqe",
    oracle="""
    WITH fact AS (
      SELECT CASE WHEN l_orderkey % 10 < 5 THEN 0
                  ELSE l_orderkey % 997 END AS skew_key,
             l_quantity
      FROM lineitem
    ), dim AS (
      SELECT range AS skew_key, range % 5 + 1 AS mult FROM range(0, 997)
    )
    SELECT skew_key % 7 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(l_quantity * mult) AS BIGINT) AS wsum
    FROM fact JOIN dim USING (skew_key)
    GROUP BY 1
    """,
    doc="AQE skew-join split (SURVEY §2.3/§4.2): ~50% of lineitem lands "
    "on one synthetic join key; spark.sql.adaptive.skewJoin splits the "
    "hot partition at map boundaries and duplicates the matching dim "
    "partition per split — the engine-native answer to the skew that "
    "q_join_salted handles manually. Materialized eagerly under scoped "
    "smoke-scale thresholds (see skew_join_aqe_materialized: one-row-"
    "group sources and the downstream agg would otherwise veto the "
    "split); SortMergeJoin(skew=true) + 'AQEShuffleRead skewed' pinned "
    "by tests/test_plans.py::test_aqe_skew_join_splits_hot_partition. "
    "Values are split-invariant → full oracle as the plain join.",
)
def q_join_skew_aqe(spark: SparkSession, sf: str) -> DataFrame:
    snapshot, _plan = skew_join_aqe_materialized(spark, sf)
    return snapshot


def _views(spark: SparkSession, sf: str, *names: str) -> None:
    for n in names:
        table(spark, sf, n).createOrReplaceTempView(n)


@register(
    "q_subquery_scalar",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 1.5 * (SELECT AVG(o_totalprice) FROM orders)
    """,
    doc="Uncorrelated scalar subquery through the spark.sql entry point "
    "— Catalyst plans the aggregate once and broadcasts the scalar "
    "(ReusedSubquery/Subquery node), no per-row re-evaluation "
    "(SURVEY §4.2 'subquery decorrelation').",
)
def q_subquery_scalar(spark: SparkSession, sf: str) -> DataFrame:
    _views(spark, sf, "orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > 1.5 * (SELECT AVG(o_totalprice) FROM orders)
        """
    )


@register(
    "q_subquery_exists",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 400000)
    """,
    doc="Correlated EXISTS subquery — Catalyst decorrelates it into a "
    "left-semi hash join (no per-row probe loop). Same SQL text runs on "
    "both engines.",
)
def q_subquery_exists(spark: SparkSession, sf: str) -> DataFrame:
    _views(spark, sf, "customer", "orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 400000)
        """
    )


@register(
    "q_agg_corr",
    oracle="""
    SELECT l_returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope_price_on_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Bivariate statistics aggregates (corr / covar_samp / "
    "regr_slope) — single hash-agg pass with map-side partials, same "
    "family as q_agg_stats (SURVEY §2.4).",
)
def q_agg_corr(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_qty_price"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope_price_on_qty"),
    )


@register(
    "q_merge_upsert",
    oracle="""
    WITH updates AS (
      SELECT c_custkey, ROUND(c_acctbal + 100, 2) AS c_acctbal
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey + 10000000, 0.0
      FROM customer WHERE c_custkey % 97 = 0
    )
    SELECT COALESCE(u.c_custkey, t.c_custkey) AS c_custkey,
           COALESCE(t.c_name, 'new customer') AS c_name,
           ROUND(COALESCE(u.c_acctbal, t.c_acctbal), 2) AS c_acctbal,
           CASE WHEN t.c_custkey IS NULL THEN 'insert'
                WHEN u.c_custkey IS NULL THEN 'keep'
                ELSE 'update' END AS action
    FROM customer t FULL OUTER JOIN updates u ON t.c_custkey = u.c_custkey
    """,
    doc="MERGE INTO / upsert semantics (SCD-style dimension "
    "maintenance) expressed engine-agnostically as a full outer join + "
    "COALESCE — matched rows take the update's values, unmatched "
    "target rows pass through, unmatched updates become inserts. The "
    "update set is derived deterministically from the table itself "
    "(custkey % 7 updates, % 97 inserts) so the oracle is exact. At "
    "scale: one co-partitioned shuffle join on the merge key — the "
    "same plan a format-level MERGE (Delta/Iceberg) executes under "
    "the hood; with the target bucketed on the key (q_join_bucketed "
    "layout) the shuffle falls away entirely.",
)
def q_merge_upsert(spark: SparkSession, sf: str) -> DataFrame:
    t = table(spark, sf, "customer").select("c_custkey", "c_name", "c_acctbal")
    base = table(spark, sf, "customer")
    updates = (
        base.filter(F.col("c_custkey") % 7 == 0)
        .select("c_custkey", F.round(F.col("c_acctbal") + 100, 2).alias("u_acctbal"))
        .unionByName(
            base.filter(F.col("c_custkey") % 97 == 0).select(
                (F.col("c_custkey") + 10000000).alias("c_custkey"),
                F.lit(0.0).alias("u_acctbal"),
            )
        )
        .withColumnRenamed("c_custkey", "u_custkey")
    )
    m = t.join(updates, t.c_custkey == updates.u_custkey, "full_outer")
    return m.select(
        F.coalesce("u_custkey", "c_custkey").alias("c_custkey"),
        F.coalesce("c_name", F.lit("new customer")).alias("c_name"),
        F.round(F.coalesce("u_acctbal", "c_acctbal"), 2).alias("c_acctbal"),
        F.when(F.col("c_custkey").isNull(), "insert")
        .when(F.col("u_custkey").isNull(), "keep")
        .otherwise("update")
        .alias("action"),
    )


# ------------------------------------------------- gaps & islands, buckets


@register(
    "q_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged
    )
    SELECT user_id, CAST(session_no AS INT) AS session_no,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, session_no
    """,
    doc="Batch sessionization (gaps-and-islands, SURVEY §2.7 ext): a new "
    "session starts after a >30 min silence; session ids via the classic "
    "flag-then-running-sum pair of windows, both partitioned by user — "
    "one shuffle, never a global sort. The streaming twin is "
    "q_stream_session; this is how the same cut is done on data at "
    "rest. Exact oracle (tie-break on event_id); the gap compares "
    "MICROSECONDS on both sides (unix_micros here, the "
    "microsecond-exact interval in DuckDB) — a floor-second cast would "
    "merge sessions the oracle splits for any gap in (1800s, 1801s).",
)
def q_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    new_s = F.when(
        prev_ts.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts) > 1_800_000_000),
        1,
    ).otherwise(0)
    cum = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        e.select("user_id", "ts", "event_id", new_s.alias("new_s"))
        .select(
            "user_id",
            "ts",
            F.sum("new_s").over(cum).cast("int").alias("session_no"),
        )
        .groupBy("user_id", "session_no")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
    )


@register(
    "q_ntile",
    oracle="""
    WITH b AS (
      SELECT o_totalprice,
             ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
      FROM orders
    )
    SELECT CAST(quartile AS INT) AS quartile,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM b GROUP BY quartile
    """,
    doc="ntile quantile bucketing (SURVEY §2.7 ext): equi-depth "
    "quartiles of order value + per-bucket stats. NOTE the global "
    "ORDER BY window: acceptable because the output is immediately "
    "aggregated (4 rows) — at 100 TB the same cut uses "
    "approx_percentile boundaries (q_agg_percentile) instead of a "
    "global sort; both are in the inventory deliberately as the "
    "exact/approx pair. Deterministic via the o_orderkey tie-break.",
)
def q_ntile(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders")
    w = W.orderBy("o_totalprice", "o_orderkey")
    return (
        o.select("o_totalprice", F.ntile(4).over(w).alias("quartile"))
        .groupBy("quartile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@register(
    "q_agg_approx_percentile",
    # Like q_agg_approx_cd: the sketch value is engine-specific, so the
    # checkable output is (exact median, within-envelope flag); DuckDB
    # recomputes the exact median and asserts the flag TRUE. The exact
    # value is the DISCRETE median (element at rank ceil(n/2)) — an
    # interpolated median is (a+b)/2 arithmetic whose last-ulp rounding
    # differs across engines right at a half-cent boundary.
    oracle="""
    WITH r AS (
      SELECT l_returnflag, l_extendedprice,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    )
    SELECT l_returnflag,
           ROUND(l_extendedprice, 2) AS exact_p50,
           TRUE AS approx_within_1pct
    FROM r WHERE rn = CAST(CEIL(n / 2.0) AS BIGINT)
    """,
    doc="approx_percentile (GK sketch, the scale path for quantiles — "
    "mergeable, one pass, no global sort) vs the exact discrete median "
    "(rank-based, arithmetic-free, so it is bit-identical across "
    "engines): emits the exact value plus a within-±1% envelope flag "
    "on the sketch estimate, exactly the q_agg_approx_cd contract "
    "shape (SURVEY §2.4).",
)
def q_agg_approx_percentile(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    wr = W.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wn = W.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n"),
    ).filter(F.col("rn") == F.ceil(F.col("n") / 2.0).cast("bigint"))
    approx = li.groupBy("l_returnflag").agg(
        F.expr("approx_percentile(l_extendedprice, 0.5, 10000)").alias("approx")
    )
    return ranked.join(approx, "l_returnflag").select(
        "l_returnflag",
        F.round("l_extendedprice", 2).alias("exact_p50"),
        (
            F.abs(F.col("approx") - F.col("l_extendedprice"))
            <= 0.01 * F.abs(F.col("l_extendedprice"))
        ).alias("approx_within_1pct"),
    )


# ------------------------------------------------- data-quality / schema


@register(
    "q_dq_checks",
    oracle="""
    SELECT 'quantity_range' AS rule,
           CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
           CAST(COUNT(*) AS BIGINT) AS n_checked
    FROM lineitem
    UNION ALL
    SELECT 'shipdate_not_null',
           CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'discount_unit_interval',
           CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1
                         THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'orders_customer_fk',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
    """,
    doc="Data-quality expectation suite (SURVEY §2.2 ext): the "
    "validation pass a production pipeline runs before publishing a "
    "partition — three column-domain rules folded into ONE conditional "
    "aggregation scan (not one scan per rule) plus a referential "
    "orphan check as a broadcast anti-join count. Output is one row "
    "per rule; at 100 TB the scan rules stay a single pass and the FK "
    "check shuffles only keys. Exact oracle.",
)
def q_dq_checks(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    o = table(spark, sf, "orders")
    c = table(spark, sf, "customer")

    def viol(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    n = F.count("*").cast("bigint")
    scan_rules = li.agg(
        viol((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).alias(
            "v_qty"
        ),
        viol(F.col("l_shipdate").isNull()).alias("v_ship"),
        viol((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).alias(
            "v_disc"
        ),
        n.alias("n_li"),
    )
    fk = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count("*").cast("bigint").alias("v_fk"))
        .crossJoin(o.agg(n.alias("n_o")))
    )
    rules = scan_rules.crossJoin(fk).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("quantity_range").alias("rule"),
                    F.col("v_qty").alias("n_violations"),
                    F.col("n_li").alias("n_checked"),
                ),
                F.struct(
                    F.lit("shipdate_not_null").alias("rule"),
                    F.col("v_ship").alias("n_violations"),
                    F.col("n_li").alias("n_checked"),
                ),
                F.struct(
                    F.lit("discount_unit_interval").alias("rule"),
                    F.col("v_disc").alias("n_violations"),
                    F.col("n_li").alias("n_checked"),
                ),
                F.struct(
                    F.lit("orders_customer_fk").alias("rule"),
                    F.col("v_fk").alias("n_violations"),
                    F.col("n_o").alias("n_checked"),
                ),
            )
        ).alias("r")
    )
    return rules.select("r.rule", "r.n_violations", "r.n_checked")


def _mergeschema_root(sf: str) -> str:
    """Staging directory for q_read_merge_schema's evolved batches,
    keyed by a fingerprint of the SOURCE parquet (path+size+mtime): a
    regenerated orders fixture gets a fresh directory instead of
    silently serving stale batches (ADVICE r3)."""
    import os

    src = os.path.join(sf, "orders.parquet")
    try:
        st = os.stat(src)
    except OSError as ex:
        # No silent path-only fallback: a tag that ignores content would
        # quietly reinstate the stale-batch bug for exactly the cases
        # where staleness is hardest to notice.
        raise RuntimeError(
            f"q_read_merge_schema: cannot fingerprint source {src!r} "
            "(needed to key the staged evolved batches)"
        ) from ex
    fp = f"{src}:{st.st_size}:{st.st_mtime_ns}"
    return land_dir("mergeschema", fp, digest_len=12)


@register(
    "q_read_merge_schema",
    # The merged read is lossless over the two landed batches, so the
    # oracle recomputes the same aggregate straight from the source
    # view (the q_join_bucketed round-trip pattern).
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                AS DOUBLE) AS sum_price,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_priority
    FROM orders
    """,
    doc="Schema-evolution read (SURVEY §2.1 ext): two parquet batches "
    "landed with different schemas (the second adds o_orderpriority — "
    "the additive-column evolution every long-lived dataset undergoes) "
    "read back through mergeSchema=true, old rows NULL-padded. The "
    "aggregate pins row count, a DECIMAL-stable price sum, and how "
    "many rows carry the evolved column. The staged batches are keyed "
    "by a fingerprint of the SOURCE parquet (path+size+mtime), so a "
    "regenerated orders fixture lands in a fresh directory instead of "
    "silently serving stale batches, and the stage is written to a "
    "per-process temp dir then atomically renamed — two concurrent "
    "runs of the same SF race only on the rename, never on half-"
    "written files. Exact oracle via the lossless round-trip.",
)
def q_read_merge_schema(spark: SparkSession, sf: str) -> DataFrame:
    import os
    import shutil

    o = table(spark, sf, "orders")
    root = _mergeschema_root(sf)
    if not os.path.isdir(root):
        stage = f"{root}.stage.{os.getpid()}"
        shutil.rmtree(stage, ignore_errors=True)
        (
            o.filter(F.col("o_orderkey") % 2 == 0)
            .select("o_orderkey", "o_totalprice")
            .write.mode("overwrite")
            .parquet(os.path.join(stage, "batch=1"))
        )
        (
            o.filter(F.col("o_orderkey") % 2 == 1)
            .select("o_orderkey", "o_totalprice", "o_orderpriority")
            .write.mode("overwrite")
            .parquet(os.path.join(stage, "batch=2"))
        )
        try:
            os.rename(stage, root)  # atomic publish
        except OSError:
            shutil.rmtree(stage, ignore_errors=True)
            # Losing the publish race is fine (the winner's root serves);
            # any other rename failure (EACCES, ENOTDIR, ...) must
            # surface, not masquerade as a missing-path read error.
            if not os.path.isdir(root):
                raise
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "batch=1"), os.path.join(root, "batch=2")
    )
    return merged.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("sum_price"),
        F.count("o_orderpriority").cast("bigint").alias("n_with_priority"),
    )


@register(
    "q_hll_partitioned_sketch",
    # Contract shape of q_agg_approx_cd: sketch bytes/estimates are
    # engine-specific, so the checkable output is the exact count plus
    # a within-envelope flag per row; DuckDB recomputes the exact
    # counts and asserts TRUE.
    oracle="""
    SELECT o_orderstatus AS level,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
           TRUE AS approx_within_5pct
    FROM orders GROUP BY o_orderstatus
    UNION ALL
    SELECT 'ALL',
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
           TRUE
    FROM orders
    """,
    doc="Mergeable-sketch architecture (SURVEY §2.4, ext; Apache "
    "DataSketches HLL via Spark 4 hll_sketch_agg/hll_union_agg): "
    "per-status sketches built in ONE pass, then the global estimate "
    "produced by MERGING the sketches — no second scan of the data. "
    "This is why sketches matter at 100 TB: per-partition sketches are "
    "tiny, shippable, and unionable at query time (a rollup over "
    "sketch state, impossible with exact distinct counts). Exact "
    "counts come from one pre-distincted projection; the oracle "
    "asserts each estimate lands within ±5%.",
)
def q_hll_partitioned_sketch(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders")
    # distinct (status, custkey) once: exact counts AND sketches both
    # derive from it (HLL is duplicate-insensitive, estimates unchanged)
    pairs = o.select("o_orderstatus", "o_custkey").distinct().localCheckpoint(
        eager=True
    )
    per = pairs.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("exact_customers"),
        F.expr("hll_sketch_agg(o_custkey)").alias("sk"),
    )
    merged = per.agg(
        F.expr(
            "hll_sketch_estimate(hll_union_agg(sk))"
        ).alias("approx"),
    ).crossJoin(
        pairs.agg(
            F.countDistinct("o_custkey").cast("bigint").alias("exact_customers")
        )
    )
    within = lambda approx, exact: (  # noqa: E731
        F.abs(approx - exact) <= 0.05 * exact
    )
    per_rows = per.select(
        F.col("o_orderstatus").alias("level"),
        "exact_customers",
        within(
            F.expr("hll_sketch_estimate(sk)"), F.col("exact_customers")
        ).alias("approx_within_5pct"),
    )
    all_row = merged.select(
        F.lit("ALL").alias("level"),
        "exact_customers",
        within(F.col("approx"), F.col("exact_customers")).alias(
            "approx_within_5pct"
        ),
    )
    return per_rows.unionByName(all_row)


@register(
    "q_agg_mode",
    # mode(expr, true) — the DETERMINISTIC variant: ties resolve to
    # the lowest value (probed; the default variant is explicitly
    # non-deterministic and could never carry a value oracle). The
    # oracle spells the same rule out as count-desc/value-asc rank.
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_quantity, COUNT(*) AS n
      FROM lineitem GROUP BY 1, 2
    ), r AS (
      SELECT l_returnflag, l_quantity,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY n DESC, l_quantity ASC) AS rk
      FROM c
    )
    SELECT l_returnflag, l_quantity AS mode_qty FROM r WHERE rk = 1
    """,
    doc="Deterministic MODE aggregate (SURVEY §2.4 ext): the most "
    "frequent value per group via mode(expr, true) — one hash-agg, "
    "map-side partial counts, where the naive 'count per value then "
    "rank' spelling (the oracle) needs a second shuffle + window. "
    "The deterministic flag is the operational point: rerunning the "
    "pipeline must not flip tie-broken modes between runs.",
)
def q_agg_mode(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("mode(l_quantity, true)").alias("mode_qty")
    )


@register(
    "q_transpose",
    # Spark's transpose() names the header column "key", makes the
    # index values the new column names, and upcasts every cell to
    # the least common type (double here) — the oracle mirrors all
    # three. Scalar subqueries per cell are fine: the input is the
    # 3-row aggregate, not the fact table.
    oracle="""
    WITH a AS (
      SELECT l_returnflag AS f,
             CAST(COUNT(*) AS DOUBLE) AS n_rows,
             CAST(ROUND(SUM(l_quantity), 2) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY 1
    )
    SELECT 'n_rows' AS key,
           (SELECT n_rows FROM a WHERE f = 'A') AS A,
           (SELECT n_rows FROM a WHERE f = 'N') AS N,
           (SELECT n_rows FROM a WHERE f = 'R') AS R
    UNION ALL
    SELECT 'sum_qty',
           (SELECT sum_qty FROM a WHERE f = 'A'),
           (SELECT sum_qty FROM a WHERE f = 'N'),
           (SELECT sum_qty FROM a WHERE f = 'R')
    """,
    doc="DataFrame TRANSPOSE (Spark 4 df.transpose(), SURVEY §2.7 "
    "ext): metrics-as-rows x groups-as-columns — the report/dashboard "
    "pivot of a small aggregate. Applied where it belongs at scale: "
    "AFTER reduction (a k-groups x m-metrics aggregate), never on the "
    "fact table — transpose materializes the input on the driver-side "
    "plan as one row per former column, so its input must already be "
    "aggregate-sized. Cells upcast to the least common type (double).",
)
def q_transpose(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    agg = (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").cast("double").alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).cast("double").alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )
    return agg.transpose()


@register(
    "q_hll_sliding",
    # Same contract shape as the other sketch keys: exact value +
    # within-envelope flag. The exact trailing-7d distinct uses the
    # contribute-to-windows explode (each event feeds days d..d+6 —
    # linear ×7) instead of a day×events range join; windows outside
    # the observed day set are dropped on both sides.
    oracle="""
    WITH obs AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day FROM events
    ), contrib AS (
      SELECT user_id,
             UNNEST(generate_series(CAST(date_trunc('day', ts) AS DATE),
                    CAST(date_trunc('day', ts) AS DATE) + 6,
                    INTERVAL 1 DAY))::DATE AS wday
      FROM events
    )
    SELECT c.wday AS day,
           CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS exact_users_7d,
           TRUE AS approx_within_5pct
    FROM contrib c JOIN obs o ON o.day = c.wday
    GROUP BY c.wday
    """,
    doc="SLIDING-WINDOW distinct users via temporal HLL rollup (SURVEY "
    "§2.4/§2.7 ext): one daily sketch per day (hll_sketch_agg), then "
    "the trailing-7-day estimate is hll_union_agg AS A WINDOW FUNCTION "
    "over the day series — the sketch-rollup architecture applied "
    "temporally. This is THE way to get rolling distinct counts at "
    "100 TB: exact rolling distinct re-scans 7 days per day (or "
    "explodes ×7, as the verification twin here does); daily sketches "
    "are built once, stored, and unioned per window at ~KB each. "
    "Exact twin via contribute-to-windows explode; the oracle asserts "
    "each estimate lands within ±5%.",
)
def q_hll_sliding(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    day = F.to_date(F.date_trunc("day", "ts"))
    daily = e.groupBy(day.alias("day")).agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk")
    )
    # RANGE over the day value, not ROWS over observed-day rows: with a
    # gap in the day series a 6-PRECEDING ROWS frame would span more
    # than 7 calendar days while the exact twin counts by calendar day
    # (ADVICE r9 — latent on the 30-contiguous-day fixtures, wrong the
    # first time a day has zero events).
    est = daily.selectExpr(
        "day",
        "hll_sketch_estimate(hll_union_agg(sk) OVER (ORDER BY day "
        "RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)) "
        "AS approx_7d",
    )
    contrib = e.select(
        "user_id",
        F.explode(
            F.expr(
                "sequence(to_date(date_trunc('day', ts)), "
                "date_add(to_date(date_trunc('day', ts)), 6), "
                "interval 1 day)"
            )
        ).alias("day"),
    )
    exact = (
        contrib.join(F.broadcast(daily.select("day")), "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("exact_users_7d"))
    )
    return est.join(exact, "day").select(
        "day",
        "exact_users_7d",
        (
            F.abs(F.col("approx_7d") - F.col("exact_users_7d"))
            <= 0.05 * F.col("exact_users_7d")
        ).alias("approx_within_5pct"),
    )


@register(
    "q_session_duration",
    # Interpolated percentiles are rounded to 6 dp on BOTH sides (the
    # repo's standard float discipline): integer-second durations only
    # guarantee exact representability when the interpolation fraction
    # is 0/.5, and frac(0.9*(n-1)) is data-dependent — the unrounded
    # compare held only by fixture luck (ADVICE r9).
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ), dur AS (
      SELECT CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000
                  AS DOUBLE) AS dur_sec
      FROM sessions GROUP BY user_id, sid
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           ROUND(quantile_cont(dur_sec, 0.5), 6) AS p50_sec,
           ROUND(quantile_cont(dur_sec, 0.9), 6) AS p90_sec,
           CAST(MAX(dur_sec) AS DOUBLE) AS max_sec
    FROM dur
    """,
    doc="Session duration distribution (SURVEY §2.7 ext, the "
    "engagement-depth twin of q_bounce_rate): per-session wall time "
    "at the 30-minute gap, summarized as p50/p90/max — the dwell-time "
    "KPI. Rides the same session_window shuffle; the percentile runs "
    "over SESSIONS (already aggregate-sized). Interpolated "
    "percentiles rounded to 6 dp on both sides (standard float "
    "discipline).",
)
def q_session_duration(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    dur = (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.expr(
                "cast((unix_micros(max(ts)) - unix_micros(min(ts))) "
                "div 1000000 as double)"
            ).alias("dur_sec")
        )
    )
    return dur.agg(
        F.count("*").alias("n_sessions"),
        F.round(F.expr("percentile(dur_sec, 0.5)"), 6).alias("p50_sec"),
        F.round(F.expr("percentile(dur_sec, 0.9)"), 6).alias("p90_sec"),
        F.max("dur_sec").alias("max_sec"),
    )


@register(
    "q_bounce_rate",
    # Session definition identical to q_sessionize / q_stream_session
    # (30-minute gap); the oracle is the same gaps-and-islands SQL
    # reduced to the bounce accounting. All-integer until one rounded
    # division.
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ), per AS (
      SELECT user_id, sid, COUNT(*) AS n_events
      FROM sessions GROUP BY user_id, sid
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           ROUND(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS bounce_rate
    FROM per
    """,
    doc="Bounce rate (SURVEY §2.7 ext): single-event sessions over "
    "total sessions at the 30-minute gap — the engagement KPI that "
    "rides the sessionizer (same session_window operator as "
    "q_sessionize, one shuffle) plus one tiny accounting aggregate. "
    "All-integer counts, one rounded division.",
)
def q_bounce_rate(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    per = e.groupBy(
        "user_id", F.session_window("ts", "30 minutes")
    ).agg(F.count("*").alias("n_events"))
    return per.agg(
        F.count("*").alias("n_sessions"),
        F.sum((F.col("n_events") == 1).cast("bigint")).alias("n_bounces"),
        F.round(
            F.sum((F.col("n_events") == 1).cast("double")) / F.count("*"), 6
        ).alias("bounce_rate"),
    )


@register(
    "q_kll_quantile_sketch",
    # Same contract shape as q_hll_partitioned_sketch: sketch bytes
    # are engine-specific (and KLL compaction is randomized), so the
    # checkable output is the exact median plus a within-envelope
    # flag. Envelope = the exact 45th..55th percentile band: KLL at
    # k=200 has ~1.65% one-sided rank error at 99% confidence, so a
    # ±5% rank band is a >3-sigma assertion that still fails loudly
    # on a broken merge. DuckDB quantile_cont == Spark percentile
    # (both linear interpolation); ROUND(4) absorbs ulp drift.
    oracle="""
    SELECT l_returnflag AS level,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
           TRUE AS approx_within_rank5pct
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT 'ALL',
           ROUND(quantile_cont(l_extendedprice, 0.5), 4),
           TRUE
    FROM lineitem
    """,
    doc="Mergeable QUANTILE sketch rollup (Apache DataSketches KLL via "
    "Spark 4.1 kll_sketch_agg_double / kll_merge_agg_double — SURVEY "
    "§2.4 ext): per-segment KllDoublesSketches built in ONE pass, then "
    "the global median produced by MERGING the sketches, never "
    "re-scanning the data — the quantile twin of the HLL rollup "
    "(q_hll_partitioned_sketch). This is the only way to get segment "
    "AND global percentiles from one scan at 100 TB: exact percentile "
    "needs a global sort per grouping level, approx_percentile buffers "
    "aren't user-mergeable across queries, but KLL sketches are tiny "
    "(~KB), shippable, and unionable at query time. Exact medians come "
    "from the same pass via percentile(); the oracle asserts each "
    "estimate lands inside the exact p45..p55 rank band.",
)
def q_kll_quantile_sketch(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    per = li.groupBy("l_returnflag").agg(
        F.expr("kll_sketch_agg_double(l_extendedprice)").alias("sk"),
        F.expr(
            "percentile(l_extendedprice, array(0.45, 0.5, 0.55))"
        ).alias("exact_q"),
    )
    per_rows = per.select(
        F.col("l_returnflag").alias("level"),
        F.round(F.col("exact_q")[1], 4).alias("exact_p50"),
        F.expr("kll_sketch_get_quantile_double(sk, 0.5)")
        .between(F.col("exact_q")[0], F.col("exact_q")[2])
        .alias("approx_within_rank5pct"),
    )
    # global row: merge the per-segment sketches (no second data scan);
    # the exact global band is one more 1-row aggregate over the fact
    merged = per.agg(
        F.expr(
            "kll_sketch_get_quantile_double(kll_merge_agg_double(sk), 0.5)"
        ).alias("approx_p50")
    ).crossJoin(
        li.agg(
            F.expr(
                "percentile(l_extendedprice, array(0.45, 0.5, 0.55))"
            ).alias("exact_q")
        )
    )
    all_row = merged.select(
        F.lit("ALL").alias("level"),
        F.round(F.col("exact_q")[1], 4).alias("exact_p50"),
        F.col("approx_p50")
        .between(F.col("exact_q")[0], F.col("exact_q")[2])
        .alias("approx_within_rank5pct"),
    )
    return per_rows.unionByName(all_row)


@register(
    "q_skew_kurtosis",
    # The four raw moment sums are EXACT (cents as integers; c^4 <=
    # 1.6e17 fits a BIGINT term, sums in DECIMAL(38,0)/HUGEINT); the
    # standardized moments then run in double with IDENTICAL
    # parenthesization both engines — m2^1.5 spelled sqrt(m2)*m2
    # (sqrt is IEEE correctly-rounded; pow(x,1.5) is not guaranteed
    # to be), rounded 6 dp. The built-in skewness()/kurtosis()
    # accumulate central moments in order-dependent doubles.
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT) AS c
      FROM events
    ), a AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(c) AS DOUBLE) AS s1,
             CAST(SUM(c * c) AS DOUBLE) AS s2,
             CAST(SUM(c * c * c) AS DOUBLE) AS s3,
             CAST(SUM(c * c * c * c) AS DOUBLE) AS s4
      FROM b GROUP BY event_type
    ), m AS (
      SELECT event_type, n_events,
             s1 / n_events AS m1,
             s2 / n_events - (s1 / n_events) * (s1 / n_events) AS m2,
             s3 / n_events
               - 3.0 * (s1 / n_events) * (s2 / n_events)
               + 2.0 * (s1 / n_events) * (s1 / n_events) * (s1 / n_events)
               AS m3,
             s4 / n_events
               - 4.0 * (s1 / n_events) * (s3 / n_events)
               + 6.0 * (s1 / n_events) * (s1 / n_events) * (s2 / n_events)
               - 3.0 * (s1 / n_events) * (s1 / n_events)
                     * (s1 / n_events) * (s1 / n_events) AS m4
      FROM a
    )
    SELECT event_type, n_events,
           ROUND(m1 / 100.0, 6) AS mean_value,
           ROUND(m3 / NULLIF(sqrt(m2) * m2, 0), 6) AS skewness,
           ROUND(m4 / NULLIF(m2 * m2, 0) - 3.0, 6) AS excess_kurtosis
    FROM m
    """,
    doc="Population skewness + excess kurtosis per group (SURVEY §2.4 "
    "ext, completing the moments family beside q_agg_stats and "
    "q_regression): distribution-shape profiling — heavy tails and "
    "asymmetry that mean/stddev monitoring misses. Raw moment sums "
    "Σc..Σc⁴ are exact integers, so this is the mergeable-moments "
    "architecture again: one hash-agg with map-side partials, and "
    "the same four sums stored per shard/day combine associatively "
    "into any rollup window. The engine-native skewness()/kurtosis() "
    "exist but their central-moment accumulation is order-dependent "
    "— fine for dashboards, not for an oracle-checked contract.",
)
def q_skew_kurtosis(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    b = e.select(
        "event_type", F.expr("cast(round(value * 100) as bigint)").alias("c")
    )
    # c can reach ~5.6e4 cents at sf0.1 — c^4 ~ 9.9e18 overflows a
    # BIGINT term (observed under ANSI), so the cubic/quartic products
    # run in DECIMAL(19,0)x(19,0) -> (38,0), exact at these magnitudes
    # (oracle twin: HUGEINT). c^2 <= 3.2e9 stays a safe BIGINT term.
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    d19 = lambda col: col.cast("decimal(19,0)")  # noqa: E731
    c = F.col("c")
    a = b.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(dec(c)).cast("double").alias("s1"),
        F.sum(dec(c * c)).cast("double").alias("s2"),
        F.sum(d19(c * c) * d19(c)).cast("double").alias("s3"),
        F.sum(d19(c * c) * d19(c * c)).cast("double").alias("s4"),
    )
    n = F.col("n_events")
    m1 = F.col("s1") / n
    m2 = F.col("s2") / n - m1 * m1
    m3 = F.col("s3") / n - F.lit(3.0) * m1 * (F.col("s2") / n) + F.lit(
        2.0
    ) * m1 * m1 * m1
    m4 = (
        F.col("s4") / n
        - F.lit(4.0) * m1 * (F.col("s3") / n)
        + F.lit(6.0) * m1 * m1 * (F.col("s2") / n)
        - F.lit(3.0) * m1 * m1 * m1 * m1
    )
    # Zero-variance guard (ADVICE r10): a constant-valued group gives
    # m2 = 0, where 0.0/0.0 is NaN in Spark but engine-dependent in
    # DuckDB — NULLIF both sides makes the degenerate case NULL/NULL.
    return a.select(
        "event_type",
        "n_events",
        F.round(m1 / F.lit(100.0), 6).alias("mean_value"),
        F.round(m3 / F.nullif(F.sqrt(m2) * m2, F.lit(0.0)), 6).alias(
            "skewness"
        ),
        F.round(
            m4 / F.nullif(m2 * m2, F.lit(0.0)) - F.lit(3.0), 6
        ).alias("excess_kurtosis"),
    )


@register(
    "q_funnel_timing",
    # Durations are exact integer microseconds; the single /3.6e9
    # division to hours runs on identical integers both sides, and
    # the interpolated percentiles follow the q_session_duration
    # discipline (round 6 dp both engines).
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(epoch_us(ts)) AS vt
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), p AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS pt
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= v.vt
      GROUP BY e.user_id
    ), d AS (
      SELECT (p.pt - v.vt) / 3600000000.0 AS h
      FROM p JOIN v ON v.user_id = p.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(quantile_cont(h, 0.5), 6) AS p50_hours,
           ROUND(quantile_cont(h, 0.9), 6) AS p90_hours,
           ROUND(MAX(h), 6) AS max_hours
    FROM d
    """,
    doc="Funnel TIMING (SURVEY §2.7b ext, the latency companion of "
    "q_funnel's conversion counts): hours from each user's first "
    "'view' to their first 'purchase' at-or-after it, summarized as "
    "p50/p90/max time-to-convert — the metric that distinguishes an "
    "impulse funnel from a week-long consideration cycle, which "
    "conversion RATE alone cannot. Two per-user min-aggregates and "
    "one user-keyed equi join (all user-sized after the first agg); "
    "the percentile runs over converting users only.",
)
def q_funnel_timing(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(F.expr("unix_micros(ts)")).alias("vt"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.expr("unix_micros(ts)") >= F.col("vt"))
        .groupBy("user_id")
        .agg(F.min(F.expr("unix_micros(ts)")).alias("pt"))
    )
    d = p.join(v, "user_id").select(
        ((F.col("pt") - F.col("vt")) / F.lit(3600000000.0)).alias("h")
    )
    return d.agg(
        F.count("*").alias("n_converted"),
        F.round(F.expr("percentile(h, 0.5)"), 6).alias("p50_hours"),
        F.round(F.expr("percentile(h, 0.9)"), 6).alias("p90_hours"),
        F.round(F.max("h"), 6).alias("max_hours"),
    )


@register(
    "q_pareto_concentration",
    # All-integer until the final share division: the 80% cut
    # compares cum*5 >= tot*4 (never 0.8*tot in floats), the top
    # decile is rn*10 <= n_users. The ranking window runs over the
    # USER-SIZED aggregate (the q_vocab_coverage precedent), never
    # the fact table.
    oracle="""
    WITH c AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS k
      FROM events GROUP BY user_id
    ), r AS (
      SELECT k,
             CAST(row_number() OVER (ORDER BY k DESC, user_id)
                  AS BIGINT) AS rn,
             CAST(SUM(k) OVER (ORDER BY k DESC, user_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM c
    ), t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(k) AS BIGINT) AS tot
      FROM c
    )
    SELECT t.n_users, t.tot AS n_events,
           CAST(MIN(CASE WHEN r.cum * 5 >= t.tot * 4 THEN r.rn END)
                AS BIGINT) AS n_users_80pct,
           ROUND(CAST(MAX(CASE WHEN r.rn * 10 <= t.n_users THEN r.cum END)
                      AS DOUBLE) / t.tot, 6) AS top_decile_share
    FROM r CROSS JOIN t
    GROUP BY t.n_users, t.tot
    """,
    doc="Pareto concentration audit (SURVEY §2.4 ext): how many users "
    "produce 80% of events, and what share the top decile holds — "
    "the 80/20 skew check behind capacity planning, abuse detection, "
    "and (on the corpus twin: swap events for documents per source) "
    "the domain-dominance audit q_cap_per_group then enforces. The "
    "cumulative ranking runs over the per-user AGGREGATE (users-"
    "sized, the q_vocab_coverage precedent) — the fact table is "
    "touched once by the counting agg; cuts stay in exact integer "
    "arithmetic (cum*5 >= tot*4).",
)
def q_pareto_concentration(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    c = e.groupBy("user_id").agg(F.count("*").alias("k"))
    wo = W.orderBy(F.desc("k"), "user_id")
    r = c.select(
        "k",
        F.row_number().over(wo).cast("bigint").alias("rn"),
        F.sum("k")
        .over(wo.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("bigint")
        .alias("cum"),
    )
    t = c.agg(
        F.count("*").alias("n_users"), F.sum("k").cast("bigint").alias("tot")
    )
    j = r.crossJoin(F.broadcast(t))
    return j.groupBy("n_users", "tot").agg(
        F.min(
            F.when(F.col("cum") * 5 >= F.col("tot") * 4, F.col("rn"))
        )
        .cast("bigint")
        .alias("n_users_80pct"),
        F.round(
            F.max(
                F.when(F.col("rn") * 10 <= F.col("n_users"), F.col("cum"))
            ).cast("double")
            / F.col("tot"),
            6,
        ).alias("top_decile_share"),
    ).select(
        "n_users",
        F.col("tot").alias("n_events"),
        "n_users_80pct",
        "top_decile_share",
    )


@register(
    "q_seasonal_profile",
    # avg_value divides two exact integers (cent sums / counts); the
    # peak flag is pure integer logic with the tie broken to the
    # EARLIEST hour explicitly — arg_max tie order is engine whim,
    # min-hour-at-max is not.
    oracle="""
    WITH a AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sc
      FROM events GROUP BY event_type, hour(ts)
    ), w AS (
      SELECT *,
             MAX(n_events) OVER (PARTITION BY event_type) AS mx
      FROM a
    ), pk AS (
      SELECT *,
             MIN(CASE WHEN n_events = mx THEN hr END)
               OVER (PARTITION BY event_type) AS peak_hr
      FROM w
    )
    SELECT event_type, hr, n_events,
           ROUND(CAST(sc AS DOUBLE) / (100.0 * n_events), 6) AS avg_value,
           (hr = peak_hr) AS is_peak_hour
    FROM pk
    """,
    doc="Hour-of-day seasonal profile (SURVEY §2.4 ext): traffic and "
    "average value per (event_type, hour) with the peak hour flagged "
    "— the load-shaping/campaign-timing profile, and the diurnal "
    "twin of q_missing_buckets' completeness audit. One (type, hour) "
    "hash-agg over the fact (≤ |types|×24 groups, map-side combine "
    "does almost all the work), then two windows over that tiny "
    "aggregate; cent-sums keep avg_value exact and the peak tie "
    "breaks to the earliest hour deterministically.",
)
def q_seasonal_profile(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    a = e.groupBy(
        "event_type", F.hour("ts").cast("bigint").alias("hr")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.expr("cast(round(value * 100) as bigint)"))
        .cast("bigint")
        .alias("sc"),
    )
    wt = W.partitionBy("event_type")
    withmx = a.withColumn("mx", F.max("n_events").over(wt))
    pk = withmx.withColumn(
        "peak_hr",
        F.min(
            F.when(F.col("n_events") == F.col("mx"), F.col("hr"))
        ).over(wt),
    )
    return pk.select(
        "event_type",
        "hr",
        "n_events",
        F.round(
            F.col("sc").cast("double") / (F.lit(100.0) * F.col("n_events")),
            6,
        ).alias("avg_value"),
        (F.col("hr") == F.col("peak_hr")).alias("is_peak_hour"),
    )


@register(
    "q_entropy",
    # H = log2(n) − (Σ kᵢ·log2 kᵢ)/n: the log2 arguments are exact
    # INTEGERS (per-type counts), so both engines evaluate log2 on
    # identical doubles; the ≤|types| term sum drifts at most a few
    # ulp under reordering, absorbed by the 6-dp round.
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS k
      FROM events GROUP BY user_id, event_type
    ), a AS (
      SELECT user_id, CAST(SUM(k) AS BIGINT) AS n_events,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             SUM(k * log2(k)) AS s
      FROM c GROUP BY user_id
    )
    SELECT user_id, n_events, n_types,
           ROUND(log2(n_events) - s / n_events, 6) AS entropy_bits
    FROM a
    """,
    doc="Behavioral entropy per key (SURVEY §2.4 ext): Shannon "
    "entropy of each user's event-type distribution in bits — 0 for "
    "single-behavior users, log2(|types|) for uniform ones. The "
    "segmentation feature behind bot detection (too regular) and "
    "engagement scoring (diverse usage), and the same statistic a "
    "curation pipeline uses for corpus-diversity audits. Two "
    "hash-aggs ((user,type) counts then per-user fold), both with "
    "map-side partials; the identity H = log2 n − Σk·log2k/n keeps "
    "every log argument an exact integer so the oracle is portable.",
)
def q_entropy(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count("*").alias("k"))
    a = c.groupBy("user_id").agg(
        F.sum("k").cast("bigint").alias("n_events"),
        F.count("*").alias("n_types"),
        F.sum(F.col("k") * F.log2("k")).alias("s"),
    )
    return a.select(
        "user_id",
        "n_events",
        "n_types",
        F.round(
            F.log2("n_events") - F.col("s") / F.col("n_events"), 6
        ).alias("entropy_bits"),
    )


@register(
    "q_changepoint_cusum",
    # ALL-INTEGER CUSUM: the deviation at position k is
    # |n·prefix_k − k·total| in cents·count — no float enters until
    # the final normalization, so the max and its position are exact
    # on both engines (the float CUSUM recursion would re-associate).
    oracle="""
    WITH s AS (
      SELECT user_id, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events
    ), d AS (
      SELECT user_id,
             CAST(SUM(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pre,
             CAST(row_number() OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS BIGINT) AS k
      FROM s
    ), t AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS tot
      FROM s GROUP BY user_id
    ), dev AS (
      SELECT d.user_id, d.k, t.n,
             abs(t.n * d.pre - d.k * t.tot) AS dv
      FROM d JOIN t ON t.user_id = d.user_id
    ), m AS (
      SELECT user_id, MAX(dv) AS md FROM dev GROUP BY user_id
    )
    SELECT dev.user_id,
           CAST(MAX(dev.n) AS BIGINT) AS n_events,
           ROUND(CAST(MAX(dev.dv) AS DOUBLE)
                 / (CAST(MAX(dev.n) AS DOUBLE) * 100.0), 6) AS max_cusum,
           CAST(MIN(dev.k) AS BIGINT) AS cp_pos
    FROM dev JOIN m ON m.user_id = dev.user_id AND dev.dv = m.md
    GROUP BY dev.user_id
    """,
    doc="CUSUM change-point detection per key (SURVEY §2.4 ext): the "
    "position k maximizing |n·prefix_k − k·total| — algebraically "
    "n·max_k|Σ_{j≤k}(v_j − mean)|, the classic mean-shift statistic — "
    "flags WHERE a sensor's level changed, which the rolling z-score "
    "keys (q_anomaly_rolling) can't say. Kept in exact integer "
    "arithmetic (cents) until the final normalization so max and "
    "argmax are portable; ties break to the earliest position "
    "explicitly (MIN k at the max), never by engine whim. One "
    "(key, time) window pass — the sessionization family's shuffle — "
    "plus two agg/join steps over key-sized tables.",
)
def q_changepoint_cusum(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "user_id",
        "ts",
        "event_id",
        F.expr("cast(round(value * 100) as bigint)").alias("c"),
    )
    d = s.select(
        "user_id",
        F.sum("c")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("bigint")
        .alias("pre"),
        F.row_number().over(w).cast("bigint").alias("k"),
    )
    t = s.groupBy("user_id").agg(
        F.count("*").alias("n"), F.sum("c").cast("bigint").alias("tot")
    )
    dev = d.join(t, "user_id").select(
        "user_id",
        "k",
        "n",
        F.abs(F.col("n") * F.col("pre") - F.col("k") * F.col("tot")).alias(
            "dv"
        ),
    )
    m = dev.groupBy("user_id").agg(F.max("dv").alias("md"))
    return (
        dev.join(m, "user_id")
        .filter(F.col("dv") == F.col("md"))
        .groupBy("user_id")
        .agg(
            F.max("n").cast("bigint").alias("n_events"),
            F.round(
                F.max("dv").cast("double")
                / (F.max("n").cast("double") * F.lit(100.0)),
                6,
            ).alias("max_cusum"),
            F.min("k").cast("bigint").alias("cp_pos"),
        )
    )


@register(
    "q_dp_counts",
    # The Laplace draw is DETERMINISTIC: u is the md5-derived uniform
    # of the group key (the q_sample_weighted identity), the inverse
    # CDF −b·sign(u−½)·ln(1−2|u−½|) runs on identical doubles, and ln
    # ulp drift (~1e-16 relative) is far inside the 6-dp round. A
    # rand()-based release would be neither reproducible nor
    # oracle-checkable.
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type
    ), u AS (
      SELECT event_type, n,
             CAST(concat('0x',
                  substring(md5('dp' || event_type), 1, 8))
                  AS BIGINT) / 4294967296.0 AS uni
      FROM c
    )
    SELECT event_type,
           ROUND(n + (-2.0) * sign(uni - 0.5)
                     * ln(1.0 - 2.0 * abs(uni - 0.5)), 6) AS noisy_count,
           CAST(0.5 AS DOUBLE) AS epsilon
    FROM u
    """,
    doc="Differentially-private count release (SURVEY §2.9 ext, the "
    "aggregate-release twin of q_redact's row-level privacy): "
    "per-group counts + Laplace(1/ε) noise, ε=0.5 — the standard "
    "mechanism for publishing corpus/cohort statistics without "
    "exposing any individual's contribution (count sensitivity 1 → "
    "scale b=1/ε). The draw is an md5-derived inverse-CDF sample, so "
    "the release replays bit-identically across reruns and engines — "
    "auditable DP, which rand() noise is not (a production system "
    "would key the hash by release-id to get fresh noise per "
    "release). Scale: one hash-agg; the noise is a scalar expression "
    "on the k-row aggregate.",
)
def q_dp_counts(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    c = e.groupBy("event_type").agg(F.count("*").alias("n"))
    uni = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("dp"), F.col("event_type"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        / F.lit(4294967296.0)
    )
    noise = (
        F.lit(-2.0)
        * F.signum(uni - F.lit(0.5))
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(uni - F.lit(0.5)))
    )
    return c.select(
        "event_type",
        F.round(F.col("n") + noise, 6).alias("noisy_count"),
        F.lit(0.5).cast("double").alias("epsilon"),
    )


@register(
    "q_regression",
    # Float discipline: every aggregate is EXACT integer arithmetic —
    # x is centered epoch SECONDS (bigint), the measure is CENTS
    # (round(value*100), exact for the 2-dp fixture values), and the
    # five sums run in DECIMAL(38,0)/HUGEINT so no double ever
    # re-associates. Only the final slope/r² ratios are double, with
    # IDENTICAL parenthesization on both engines, rounded 6 dp.
    oracle="""
    WITH b AS (
      SELECT user_id,
             epoch_us(ts) // 1000000 - 1704067200 AS x,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events
    ), a AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(c) AS DOUBLE) AS sc,
             CAST(SUM(x * c) AS DOUBLE) AS sxc,
             CAST(SUM(x * x) AS DOUBLE) AS sxx,
             CAST(SUM(c * c) AS DOUBLE) AS scc
      FROM b GROUP BY user_id
    )
    SELECT user_id, n_events,
           ROUND(((n_events * sxc - sx * sc)
                  / NULLIF(n_events * sxx - sx * sx, 0)) * 864.0, 6)
             AS slope_per_day,
           ROUND(((n_events * sxc - sx * sc) * (n_events * sxc - sx * sc))
                 / NULLIF((n_events * sxx - sx * sx)
                          * (n_events * scc - sc * sc), 0), 6) AS r2
    FROM a
    """,
    doc="Per-key OLS trend (SURVEY §2.4 ext): the least-squares slope "
    "of value over time per user (units/day) plus r² — drift "
    "detection for telemetry, the statistical upgrade of q_lag_delta "
    "(is this sensor trending, and how well does a line explain "
    "it?). One scan, one hash-agg of five sufficient statistics "
    "(n, Σx, Σy, Σxy, Σx², Σy²) — the mergeable-moments shape: "
    "partials combine map-side, shards/days sum associatively later "
    "(regr_slope/corr are built-ins, but their internal double "
    "accumulation is engine/order-dependent; the sufficient "
    "statistics in exact integer arithmetic are both portable AND "
    "the form you'd persist in a rollup table at 100 TB).",
)
def q_regression(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    b = e.select(
        "user_id",
        F.expr("unix_micros(ts) div 1000000 - 1704067200").alias("x"),
        F.expr("cast(round(value * 100) as bigint)").alias("c"),
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    a = b.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(dec(F.col("x"))).cast("double").alias("sx"),
        F.sum(dec(F.col("c"))).cast("double").alias("sc"),
        F.sum(dec(F.col("x") * F.col("c"))).cast("double").alias("sxc"),
        F.sum(dec(F.col("x") * F.col("x"))).cast("double").alias("sxx"),
        F.sum(dec(F.col("c") * F.col("c"))).cast("double").alias("scc"),
    )
    num = F.col("n_events") * F.col("sxc") - F.col("sx") * F.col("sc")
    den = F.col("n_events") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n_events") * F.col("scc") - F.col("sc") * F.col("sc")
    return a.select(
        "user_id",
        "n_events",
        F.round((num / F.nullif(den, F.lit(0.0))) * F.lit(864.0), 6).alias(
            "slope_per_day"
        ),
        F.round(
            (num * num) / F.nullif(den * deny, F.lit(0.0)), 6
        ).alias("r2"),
    )


@register(
    "q_chi_square",
    # Observed counts are exact integers from ONE hash-agg; expected
    # values and contributions run in double with IDENTICAL
    # parenthesization both engines (row_tot * col_tot in double so
    # the arithmetic survives 1e12-row scales where the integer
    # product would overflow), rounded 6 dp. Spark dayofweek() is
    # 1-based Sunday=1; DuckDB EXTRACT(dow) is 0-based Sunday=0 —
    # the engine subtracts 1 to match.
    oracle="""
    WITH o AS (
      SELECT event_type, EXTRACT(dow FROM ts) AS dow,
             CAST(COUNT(*) AS BIGINT) AS observed
      FROM events GROUP BY 1, 2
    ), t AS (
      SELECT event_type, CAST(SUM(observed) AS BIGINT) AS row_tot
      FROM o GROUP BY event_type
    ), c AS (
      SELECT dow, CAST(SUM(observed) AS BIGINT) AS col_tot
      FROM o GROUP BY dow
    ), n AS (SELECT CAST(SUM(observed) AS BIGINT) AS total FROM o)
    SELECT o.event_type, CAST(o.dow AS INT) AS dow, o.observed,
           ROUND(CAST(t.row_tot AS DOUBLE) * c.col_tot / n.total, 6)
             AS expected,
           ROUND(POWER(o.observed
                       - CAST(t.row_tot AS DOUBLE) * c.col_tot / n.total,
                       2)
                 / (CAST(t.row_tot AS DOUBLE) * c.col_tot / n.total), 6)
             AS chi2_contrib
    FROM o JOIN t USING (event_type) JOIN c USING (dow) CROSS JOIN n
    """,
    doc="Chi-square INDEPENDENCE test cells (SURVEY §2.4 ext, the "
    "categorical companion of q_agg_corr's numeric correlation): the "
    "event_type × day-of-week contingency table with each cell's "
    "expected count under independence and its χ² contribution — "
    "the audit behind 'does behavior depend on weekday' and, on the "
    "corpus twin, 'is language independent of source' (a standard "
    "training-data bias check). One hash-agg builds the observed "
    "table; row/column totals are cell-table-sized re-aggregations "
    "(35 rows), so the whole test costs ONE scan at any scale. "
    "Expected values multiply in double — at 1e12 rows the integer "
    "row_tot×col_tot product would overflow; the engines share "
    "parenthesization exactly.",
)
def q_chi_square(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    o = e.groupBy(
        "event_type", (F.dayofweek("ts") - 1).alias("dow")
    ).agg(F.count("*").alias("observed"))
    # o is the ONLY corpus scan; the row/column/grand totals and the
    # final join all derive from it, and without materialization each
    # branch re-scans the fact table (4 scans at 100 TB). One eager
    # localCheckpoint of the 35-row cell table makes every downstream
    # input aggregate-sized — the bounded-materialization pattern.
    o = o.localCheckpoint(eager=True)
    t = o.groupBy("event_type").agg(
        F.sum("observed").cast("bigint").alias("row_tot")
    )
    c = o.groupBy("dow").agg(
        F.sum("observed").cast("bigint").alias("col_tot")
    )
    n = o.agg(F.sum("observed").cast("bigint").alias("total"))
    exp = (
        F.col("row_tot").cast("double") * F.col("col_tot") / F.col("total")
    )
    return (
        o.join(t, "event_type")
        .join(F.broadcast(c), "dow")
        .crossJoin(F.broadcast(n))
        .select(
            "event_type",
            F.col("dow").cast("int").alias("dow"),
            "observed",
            F.round(exp, 6).alias("expected"),
            F.round(
                F.pow(F.col("observed") - exp, F.lit(2)) / exp, 6
            ).alias("chi2_contrib"),
        )
    )


@register(
    "q_cramers_v",
    # The χ² statistic aggregated from the same contingency cells as
    # q_chi_square, folded over cells in (event_type, dow) order (the
    # sorted-fold discipline — a bare SUM of 35 doubles would be
    # order-dependent), then Cramér's V = sqrt(χ² / (n·(min(r,c)−1)))
    # — identical parenthesization both engines, rounded 6 dp.
    oracle="""
    WITH o AS (
      SELECT event_type, EXTRACT(dow FROM ts) AS dow,
             CAST(COUNT(*) AS BIGINT) AS observed
      FROM events GROUP BY 1, 2
    ), t AS (
      SELECT event_type, CAST(SUM(observed) AS BIGINT) AS row_tot
      FROM o GROUP BY event_type
    ), c AS (
      SELECT dow, CAST(SUM(observed) AS BIGINT) AS col_tot
      FROM o GROUP BY dow
    ), n AS (
      SELECT CAST(SUM(observed) AS BIGINT) AS total,
             CAST(COUNT(DISTINCT event_type) AS BIGINT) AS r,
             CAST(COUNT(DISTINCT dow) AS BIGINT) AS cc
      FROM o
    ), cells AS (
      SELECT o.event_type, o.dow,
             POWER(o.observed
                   - CAST(t.row_tot AS DOUBLE) * c.col_tot / n.total, 2)
             / (CAST(t.row_tot AS DOUBLE) * c.col_tot / n.total) AS term
      FROM o JOIN t USING (event_type) JOIN c USING (dow) CROSS JOIN n
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
             list_sum(list_transform(
               list(term ORDER BY event_type, dow), x -> x)) AS chi2
      FROM cells
    )
    SELECT n.total AS n_rows, s.n_cells, n.r, n.cc AS c,
           ROUND(s.chi2, 6) AS chi2,
           ROUND(sqrt(s.chi2 / (CAST(n.total AS DOUBLE)
                 * (LEAST(n.r, n.cc) - 1))), 6) AS cramers_v
    FROM s, n
    """,
    doc="Cramér's V effect size for the event_type × day-of-week "
    "contingency (SURVEY §2.4 ext — the missing half of "
    "q_chi_square: at 100 TB EVERYTHING is 'statistically "
    "significant', so the per-cell χ² audit needs the [0,1] "
    "association strength that says whether the dependence MATTERS). "
    "Same one-scan cell table; the χ² total folds over the 35 cells "
    "in deterministic (type, dow) order so the double addition is "
    "engine-identical, then V = sqrt(χ²/(n·(min(r,c)−1))). The scan "
    "is the only unbounded stage.",
)
def q_cramers_v(spark: SparkSession, sf: str) -> DataFrame:
    return cramers_v_stats(table(spark, sf, "events"))


def cramers_v_stats(e: DataFrame) -> DataFrame:
    """The q_cramers_v core over any (event_type, ts) DataFrame — kept
    apart from its table scans so the shipped plan code runs as is over
    any input of that shape (scaled or replicated), never a copy."""
    o = e.groupBy(
        "event_type", (F.dayofweek("ts") - 1).alias("dow")
    ).agg(F.count("*").alias("observed"))
    o = o.localCheckpoint(eager=True)
    t = o.groupBy("event_type").agg(
        F.sum("observed").cast("bigint").alias("row_tot")
    )
    c = o.groupBy("dow").agg(
        F.sum("observed").cast("bigint").alias("col_tot")
    )
    n = o.agg(
        F.sum("observed").cast("bigint").alias("total"),
        F.countDistinct("event_type").cast("bigint").alias("r"),
        F.countDistinct("dow").cast("bigint").alias("cc"),
    )
    exp = (
        F.col("row_tot").cast("double") * F.col("col_tot") / F.col("total")
    )
    cells = (
        o.join(t, "event_type")
        .join(F.broadcast(c), "dow")
        .crossJoin(F.broadcast(n))
        .select(
            "event_type",
            "dow",
            (F.pow(F.col("observed") - exp, F.lit(2)) / exp).alias(
                "term"
            ),
        )
    )
    s = cells.agg(
        F.count("*").cast("bigint").alias("n_cells"),
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct("
            "event_type, dow, term))), x -> x.term),"
            " 0.0D, (a, x) -> a + x)"
        ).alias("chi2"),
    )
    v = F.sqrt(
        F.col("chi2")
        / (
            F.col("total").cast("double")
            * (F.least(F.col("r"), F.col("cc")) - F.lit(1))
        )
    )
    return s.crossJoin(F.broadcast(n)).select(
        F.col("total").alias("n_rows"),
        "n_cells",
        "r",
        F.col("cc").alias("c"),
        F.round("chi2", 6).alias("chi2"),
        F.round(v, 6).alias("cramers_v"),
    )


@register(
    "q_mad_outliers",
    # Median / MAD via exact interpolated percentiles (Spark
    # percentile == DuckDB quantile_cont, the q_session_duration
    # discipline); the robust z cutoff compares the 6-dp-ROUNDED
    # score (the q_outliers band rule) so an engine ulp cannot flip
    # a boundary point.
    oracle="""
    WITH m AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ), d AS (
      SELECT e.event_type, e.value, m.med,
             ABS(e.value - m.med) AS dev
      FROM events e JOIN m USING (event_type)
    ), s AS (
      SELECT event_type, quantile_cont(dev, 0.5) AS mad
      FROM d GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(ANY_VALUE(d.med), 6) AS median_value,
           ROUND(ANY_VALUE(s.mad), 6) AS mad,
           CAST(SUM(CASE WHEN ROUND(0.6745 * d.dev / NULLIF(s.mad, 0), 6)
                              > 3.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM d JOIN s USING (event_type)
    GROUP BY d.event_type
    """,
    doc="MAD robust outlier audit (SURVEY §2.4 ext, the robust twin "
    "of q_outliers' mean±2σ bands): per group, the median, the "
    "median absolute deviation, and the count of points whose "
    "modified z-score 0.6745·|x−med|/MAD exceeds 3.5 (Iglewicz–"
    "Hoaglin) — the outlier rule that a single extreme value cannot "
    "drag, unlike stddev bands. Two percentile aggregations + one "
    "counting pass; the per-group medians are group-count-sized and "
    "broadcast back, so at 100 TB the cost is the two scans, not "
    "the join.",
)
def q_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events").select("event_type", "value")
    # the two percentile tables are group-count-sized; eagerly
    # checkpointing them pins the plan to the minimum THREE corpus
    # scans (median pass, MAD pass, counting pass) — un-materialized,
    # each reference to m/s re-derives it and the scan count doubles.
    m = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    ).localCheckpoint(eager=True)
    d = e.join(F.broadcast(m), "event_type").select(
        "event_type",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("dev"),
    )
    s = d.groupBy("event_type").agg(
        F.expr("percentile(dev, 0.5)").alias("mad")
    ).localCheckpoint(eager=True)
    # NULLIF guard: a constant-valued group has MAD=0, and 0/0 is NaN
    # which BOTH engines order above all numbers — NaN > 3.5 would
    # flag every row of a degenerate group as an outlier. NULL z
    # makes the comparison false, so zero-MAD groups report 0 (the
    # q_skew_kurtosis zero-variance discipline).
    z = F.round(
        F.lit(0.6745) * F.col("dev") / F.nullif(F.col("mad"), F.lit(0.0)), 6
    )
    return (
        d.join(F.broadcast(s), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.first("med"), 6).alias("median_value"),
            F.round(F.first("mad"), 6).alias("mad"),
            F.sum(F.when(z > 3.5, 1).otherwise(0))
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


@register(
    "q_welch_ttest",
    # Exact integer moment sums in cents (DECIMAL(38,0)/HUGEINT);
    # the "rest" side is derived by DECIMAL subtraction from the
    # grand totals BEFORE the cast to double, so both engines round
    # the identical exact integer once. Variances/t/df then run in
    # double with identical parenthesization, NULLIF guards on the
    # degenerate (zero-SE) case, rounded 6 dp.
    oracle="""
    WITH b AS (
      SELECT c_mktsegment AS mktsegment,
             CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT) AS c
      FROM orders JOIN customer ON o_custkey = c_custkey
    ), per AS (
      SELECT mktsegment, CAST(COUNT(*) AS BIGINT) AS n1,
             SUM(c) AS s1, SUM(c * c) AS s2
      FROM b GROUP BY mktsegment
    ), tot AS (
      SELECT CAST(SUM(n1) AS BIGINT) AS nt,
             SUM(s1) AS t1, SUM(s2) AS t2
      FROM per
    ), d AS (
      SELECT mktsegment, n1, nt - n1 AS n2,
             CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d,
             CAST(t1 - s1 AS DOUBLE) AS r1d, CAST(t2 - s2 AS DOUBLE) AS r2d
      FROM per CROSS JOIN tot
    ), v AS (
      SELECT mktsegment, n1, n2,
             s1d / n1 AS m1, r1d / n2 AS m2,
             (s2d - s1d * s1d / n1) / NULLIF(n1 - 1, 0) / n1 AS q1,
             (r2d - r1d * r1d / n2) / NULLIF(n2 - 1, 0) / n2 AS q2
      FROM d
    )
    SELECT mktsegment, n1 AS n_seg, n2 AS n_rest,
           ROUND(m1 / 100.0, 6) AS mean_seg,
           ROUND(m2 / 100.0, 6) AS mean_rest,
           ROUND((m1 - m2) / NULLIF(sqrt(q1 + q2), 0), 6) AS t_stat,
           ROUND((q1 + q2) * (q1 + q2)
                 / NULLIF(q1 * q1 / (n1 - 1) + q2 * q2 / (n2 - 1), 0), 6)
             AS welch_df
    FROM v
    """,
    doc="Welch's unequal-variance t-test, each market segment vs the "
    "rest (SURVEY §2.4 ext — the hypothesis-test companion of "
    "q_chi_square's categorical independence: 'does this segment "
    "spend differently?' with a statistic, not an eyeball). One "
    "orders⋈customer pass builds exact per-segment (n, Σc, Σc²) in "
    "cents; the complement side comes from DECIMAL subtraction "
    "against the 5-row grand total — the rest-vs-segment contrast "
    "costs ZERO extra scans at any scale (the mergeable-moments "
    "architecture of q_skew_kurtosis). t and the Welch–Satterthwaite "
    "df run in double with engine-identical parenthesization.",
)
def q_welch_ttest(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders").select("o_custkey", "o_totalprice")
    cu = table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    b = o.join(cu, o.o_custkey == cu.c_custkey).select(
        F.col("c_mktsegment").alias("mktsegment"),
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("c"),
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    d19 = lambda col: col.cast("decimal(19,0)")  # noqa: E731
    c = F.col("c")
    # the 5-row moment table is the ONLY corpus scan; totals and the
    # rest-side derive from it (q_chi_square's bounded-materialization
    # pattern — unpinned, each branch would re-run the join)
    per = (
        b.groupBy("mktsegment")
        .agg(
            F.count("*").alias("n1"),
            F.sum(dec(c)).alias("s1"),
            F.sum(d19(c) * d19(c)).alias("s2"),
        )
        .localCheckpoint(eager=True)
    )
    tot = per.agg(
        F.sum("n1").cast("bigint").alias("nt"),
        F.sum("s1").cast("decimal(38,0)").alias("t1"),
        F.sum("s2").cast("decimal(38,0)").alias("t2"),
    )
    d = per.crossJoin(F.broadcast(tot)).select(
        "mktsegment",
        "n1",
        (F.col("nt") - F.col("n1")).alias("n2"),
        F.col("s1").cast("double").alias("s1d"),
        F.col("s2").cast("double").alias("s2d"),
        (F.col("t1") - F.col("s1")).cast("double").alias("r1d"),
        (F.col("t2") - F.col("s2")).cast("double").alias("r2d"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    v = d.select(
        "mktsegment",
        "n1",
        "n2",
        (F.col("s1d") / n1).alias("m1"),
        (F.col("r1d") / n2).alias("m2"),
        # NULLIF on (n-1): a singleton side has no sample variance —
        # the whole statistic goes NULL instead of the IEEE inf/NaN
        # cascade engines disagree on (the q_skew_kurtosis discipline)
        (
            (F.col("s2d") - F.col("s1d") * F.col("s1d") / n1)
            / F.nullif(n1 - 1, F.lit(0))
            / n1
        ).alias("q1"),
        (
            (F.col("r2d") - F.col("r1d") * F.col("r1d") / n2)
            / F.nullif(n2 - 1, F.lit(0))
            / n2
        ).alias("q2"),
    )
    q1, q2 = F.col("q1"), F.col("q2")
    return v.select(
        "mktsegment",
        F.col("n1").alias("n_seg"),
        F.col("n2").alias("n_rest"),
        F.round(F.col("m1") / F.lit(100.0), 6).alias("mean_seg"),
        F.round(F.col("m2") / F.lit(100.0), 6).alias("mean_rest"),
        F.round(
            (F.col("m1") - F.col("m2"))
            / F.nullif(F.sqrt(q1 + q2), F.lit(0.0)),
            6,
        ).alias("t_stat"),
        F.round(
            (q1 + q2)
            * (q1 + q2)
            / F.nullif(
                q1 * q1 / (n1 - 1) + q2 * q2 / (n2 - 1), F.lit(0.0)
            ),
            6,
        ).alias("welch_df"),
    )


@register(
    "q_ks_test",
    # ECDF differences are ratios of exact integer cumulative counts
    # (bigint / bigint -> double, identical parenthesization both
    # engines); MAX over exact doubles is order-independent, rounded
    # 6 dp once at the end. Values are distinct after the per-value
    # aggregate, so the cumulative window has no tie ambiguity.
    oracle="""
    WITH b AS (
      SELECT c_mktsegment AS mktsegment,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
      FROM orders JOIN customer ON o_custkey = c_custkey
    ), vals AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY v
    ), cum AS (
      SELECT v, CAST(SUM(cnt) OVER (ORDER BY v) AS BIGINT) AS cum_all,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS nt
      FROM vals
    ), segs AS (
      SELECT mktsegment, CAST(COUNT(*) AS BIGINT) AS n1
      FROM b GROUP BY mktsegment
    ), segv AS (
      SELECT mktsegment, v, CAST(COUNT(*) AS BIGINT) AS cnt_seg
      FROM b GROUP BY mktsegment, v
    ), grid AS (
      SELECT s.mktsegment, s.n1, c.v, c.cum_all, c.nt,
             CAST(SUM(COALESCE(sv.cnt_seg, 0))
                  OVER (PARTITION BY s.mktsegment ORDER BY c.v)
                  AS BIGINT) AS cum_seg
      FROM segs s CROSS JOIN cum c
      LEFT JOIN segv sv
        ON sv.mktsegment = s.mktsegment AND sv.v = c.v
    )
    SELECT mktsegment, MIN(n1) AS n_seg, MIN(nt - n1) AS n_rest,
           ROUND(MAX(ABS(CAST(cum_seg AS DOUBLE) / n1
                         - CAST(cum_all - cum_seg AS DOUBLE)
                           / (nt - n1))), 6) AS ks_d
    FROM grid GROUP BY mktsegment
    """,
    doc="Two-sample Kolmogorov–Smirnov statistic, each market segment "
    "vs the rest over order totals (SURVEY §2.4 ext — the whole-"
    "distribution drift test behind data-freshness and A/B sanity "
    "monitoring: D = sup|F₁−F₂| catches shape changes that mean/"
    "variance tests miss). Relational formulation (r16): per-value "
    "counts with the k segments PIVOTED into columns (segments are "
    "the low-cardinality axis, collected once driver-side), then ONE "
    "two-pass prefix sum carries all k+1 cumulative counts over the "
    "|distinct values| table — the sup is evaluated at every pooled "
    "jump point, which is exactly where it is attained. Replaced the "
    "k×|values| evaluation-grid form (broadcast crossJoin + a second "
    "partitioned prefix-sum pass) at identical doubles: 5× fewer "
    "rows through the range exchange, 3.4 → 2.2 s at sf0.1. Value "
    "domain = distinct cents, not rows — bounded by the price "
    "domain; the cumulative is the standard two-pass prefix sum, "
    "never a single-partition window.",
)
def q_ks_test(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders").select("o_custkey", "o_totalprice")
    cu = table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    b = o.join(cu, o.o_custkey == cu.c_custkey).select(
        F.col("c_mktsegment").alias("mktsegment"),
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("v"),
    )
    return ks_stats(b)


def ks_stats(b: DataFrame) -> DataFrame:
    """The q_ks_test core over any (mktsegment, v: bigint) DataFrame — kept
    apart from its table scans so the shipped plan code runs as is over
    any input of that shape (scaled or replicated), never a copy."""
    # per-(segment, value) counts are the ONLY corpus-sized aggregate;
    # vals/segs both re-aggregate its output, so one eager checkpoint
    # pins the plan to a single orders⋈customer pass
    segv = (
        b.groupBy("mktsegment", "v")
        .agg(F.count("*").alias("cnt_seg"))
        .localCheckpoint(eager=True)
    )
    from gps_stream_processing_spark.operators.prefix_sum import (
        running_totals,
    )

    # Segments are the LOW-cardinality axis (the partition_by contract
    # of the partitioned prefix sum) — collect the k-row (segment, n1)
    # table once and PIVOT the per-segment counts into k columns of
    # the per-VALUE aggregate. ONE two-pass prefix sum over |values|
    # rows then carries all k+1 cumulatives, replacing the r14 form's
    # k×|values| evaluation grid (a broadcast crossJoin + a SECOND
    # partitioned prefix-sum pass): 5× fewer rows through the range
    # exchange and one running_totals invocation instead of two —
    # measured 4.4 s → ~2.4 s warm median at sf0.1 (the r16 worst10
    # leader). Same sup-at-every-pooled-jump-point evaluation, same
    # doubles: cum_i is NULL until segment i's first value and
    # coalesces to 0 exactly like the grid's missing-cell rows, and
    # the D-statistic divisions keep the double/bigint shape.
    # NULL-tolerant segment ordering (ADVICE r16): a NULL segment sorts
    # last (DuckDB's NULLS LAST ASC default) instead of crashing the
    # tuple sort; the per-segment pivot below matches it via eqNullSafe.
    segs = sorted(
        (
            (r["mktsegment"], int(r["n1"]))
            for r in segv.groupBy("mktsegment")
            .agg(F.sum("cnt_seg").cast("bigint").alias("n1"))
            .collect()
        ),
        key=lambda t: (t[0] is None, t[0]),
    )
    if not segs:  # empty input: empty result, same schema (ADVICE r16 —
        # int(totals[...]) below would raise on the all-NULL totals row)
        return segv.sparkSession.createDataFrame(
            [], "mktsegment string, n_seg bigint, n_rest bigint, ks_d double"
        )
    vals = segv.groupBy("v").agg(
        F.sum("cnt_seg").cast("bigint").alias("cnt"),
        *[
            F.sum(F.when(F.col("mktsegment").eqNullSafe(F.lit(s)), F.col("cnt_seg")))
            .cast("bigint")
            .alias(f"c{i}")
            for i, (s, _) in enumerate(segs)
        ],
    )
    # value-domain cumulative via the two-pass prefix sum — cents
    # domains reach ~5e7 distinct at warehouse scale, past the
    # single-partition comfort zone (VERDICT r13 item 5). with_totals
    # hands back nt (= grand cum_all) for free from the pass-1
    # partials.
    cum, totals = running_totals(
        vals,
        ["v"],
        sums={"cum_all": "cnt", **{f"cum{i}": f"c{i}" for i in range(len(segs))}},
        with_totals=True,
    )
    nt = int(totals["cum_all"])
    maxes = cum.agg(
        *[
            F.round(
                F.max(
                    F.abs(
                        F.coalesce(F.col(f"cum{i}"), F.lit(0)).cast("double")
                        / F.lit(n1)
                        - (
                            F.col("cum_all")
                            - F.coalesce(F.col(f"cum{i}"), F.lit(0))
                        ).cast("double")
                        / F.lit(nt - n1)
                    )
                ),
                6,
            ).alias(f"d{i}")
            for i, (_, n1) in enumerate(segs)
        ]
    )
    # One row per segment via explode(array(struct...)) with F.lit
    # literals — same row order and values as the previous stack()
    # (array order = arg order), but no data-derived strings are ever
    # interpolated into SQL text (ADVICE r16: a segment value carrying
    # a quote broke the f-string form; F.lit also round-trips NULL).
    return maxes.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("string").alias("mktsegment"),
                        F.lit(n1).cast("bigint").alias("n_seg"),
                        F.lit(nt - n1).cast("bigint").alias("n_rest"),
                        F.col(f"d{i}").alias("ks_d"),
                    )
                    for i, (s, n1) in enumerate(segs)
                ]
            ).alias("row")
        ).alias("row")
    ).select("row.*")


@register(
    "q_mannwhitney",
    # The rank sum is ALL-INTEGER: twice the average pooled rank of a
    # tied value v is 2·C − c + 1 (C = cumulative count ≤ v, c = tie
    # count) — an integer, so 2·R₁ sums exactly in DECIMAL(38,0)/
    # HUGEINT; the tie-correction Σ(c³−c) likewise. Only the final
    # z runs in double, identical parenthesization, rounded 6 dp.
    oracle="""
    WITH b AS (
      SELECT c_mktsegment AS mktsegment,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
      FROM orders JOIN customer ON o_custkey = c_custkey
    ), vals AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY v
    ), cum AS (
      SELECT v, c, CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) AS cc
      FROM vals
    ), ties AS (
      SELECT CAST(SUM(CAST(c AS HUGEINT) * c * c - c) AS DOUBLE) AS tsum,
             CAST(SUM(c) AS BIGINT) AS nt
      FROM vals
    ), segv AS (
      SELECT mktsegment, v, CAST(COUNT(*) AS BIGINT) AS cnt_seg
      FROM b GROUP BY mktsegment, v
    ), r AS (
      SELECT sv.mktsegment,
             CAST(SUM(sv.cnt_seg) AS BIGINT) AS n1,
             SUM(CAST(sv.cnt_seg AS HUGEINT) * (2 * cum.cc - cum.c + 1))
               AS r1x2
      FROM segv sv JOIN cum ON cum.v = sv.v
      GROUP BY sv.mktsegment
    )
    SELECT mktsegment, n1 AS n_seg, nt - n1 AS n_rest,
           ROUND((CAST(r1x2 AS DOUBLE)
                  - CAST(n1 AS DOUBLE) * (n1 + 1)) / 2.0, 2) AS u_stat,
           ROUND(((CAST(r1x2 AS DOUBLE)
                   - CAST(n1 AS DOUBLE) * (n1 + 1)) / 2.0
                  - CAST(n1 AS DOUBLE) * (nt - n1) / 2.0)
                 / NULLIF(sqrt(CAST(n1 AS DOUBLE) * (nt - n1) / 12.0
                               * ((nt + 1.0)
                                  - tsum / (CAST(nt AS DOUBLE)
                                            * (nt - 1.0)))), 0), 6)
             AS z_score
    FROM r CROSS JOIN ties
    """,
    doc="Mann–Whitney U rank-sum test, each market segment vs the "
    "rest (SURVEY §2.4 ext — the nonparametric member of the "
    "hypothesis-test family beside q_welch_ttest/q_ks_test: "
    "location shift without the normality assumption, robust to the "
    "heavy tails q_skew_kurtosis measures). Pooled average ranks "
    "come from the per-value cumulative counts — 2·rank(v) = "
    "2C−c+1 is an integer, so the rank sum is EXACT in decimal; "
    "the z-score applies the standard tie-corrected variance "
    "n₁n₂/12·((N+1)−Σ(c³−c)/(N(N−1))). Same one-scan + per-value "
    "grid shape as q_ks_test; the rank table is value-domain-sized, "
    "never row-sized.",
)
def q_mannwhitney(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders").select("o_custkey", "o_totalprice")
    cu = table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    b = o.join(cu, o.o_custkey == cu.c_custkey).select(
        F.col("c_mktsegment").alias("mktsegment"),
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("v"),
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    d19 = lambda col: col.cast("decimal(19,0)")  # noqa: E731
    segv = (
        b.groupBy("mktsegment", "v")
        .agg(F.count("*").alias("cnt_seg"))
        .localCheckpoint(eager=True)
    )
    vals = segv.groupBy("v").agg(F.sum("cnt_seg").cast("bigint").alias("c"))
    from gps_stream_processing_spark.operators.prefix_sum import (
        running_totals,
    )

    # per-value rank cumulative via the two-pass prefix sum (the
    # q_ks_test posture — VERDICT r13 item 5)
    cum = running_totals(vals, ["v"], sums={"cc": "c"}).select(
        "v", "c", F.col("cc").cast("bigint").alias("cc")
    )
    cv = F.col("c")
    ties = vals.agg(
        F.sum(d19(cv) * d19(cv) * d19(cv) - dec(cv))
        .cast("double")
        .alias("tsum"),
        F.sum("c").cast("bigint").alias("nt"),
    )
    r = (
        segv.join(cum, "v")
        .groupBy("mktsegment")
        .agg(
            F.sum("cnt_seg").cast("bigint").alias("n1"),
            F.sum(
                d19(F.col("cnt_seg"))
                * d19(2 * F.col("cc") - F.col("c") + 1)
            ).alias("r1x2"),
        )
    )
    n1d = F.col("n1").cast("double")
    ntd = F.col("nt").cast("double")
    u1 = (F.col("r1x2").cast("double") - n1d * (F.col("n1") + 1)) / 2.0
    mu = n1d * (F.col("nt") - F.col("n1")) / 2.0
    sigma = F.sqrt(
        n1d
        * (F.col("nt") - F.col("n1"))
        / 12.0
        * (
            (F.col("nt") + 1.0)
            - F.col("tsum") / (ntd * (F.col("nt") - 1.0))
        )
    )
    return r.crossJoin(F.broadcast(ties)).select(
        "mktsegment",
        F.col("n1").alias("n_seg"),
        (F.col("nt") - F.col("n1")).alias("n_rest"),
        F.round(u1, 2).alias("u_stat"),
        F.round((u1 - mu) / F.nullif(sigma, F.lit(0.0)), 6).alias(
            "z_score"
        ),
    )


@register(
    "q_anova",
    # One-way ANOVA across market segments on exact cents: per-group
    # (n, Σc, Σc²) are exact DECIMAL/HUGEINT moments; Σᵢ Sᵢ²/nᵢ folds
    # over the groups in mktsegment order (sorted fold — the q_zipf
    # discipline; a bare SUM over doubles would be order-dependent),
    # and SSB/SSW/F/η² run in double with identical parenthesization.
    # + 0.0 after ROUND normalizes IEEE -0.0 (q_heaps_law trap).
    oracle="""
    WITH b AS (
      SELECT c_mktsegment AS mktsegment,
             CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT) AS c
      FROM orders JOIN customer ON o_custkey = c_custkey
    ), per AS (
      SELECT mktsegment, CAST(COUNT(*) AS BIGINT) AS n1,
             SUM(c) AS s1, SUM(c * c) AS s2
      FROM b GROUP BY mktsegment
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n1) AS BIGINT) AS nt,
             CAST(SUM(s1) AS DOUBLE) AS std, CAST(SUM(s2) AS DOUBLE) AS s2td
      FROM per
    ), fold AS (
      SELECT list_sum(list_transform(
               list(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1
                    ORDER BY mktsegment),
               x -> x)) AS sb
      FROM per
    )
    SELECT k, nt,
           ROUND((sb - std * std / nt) / (CAST(k AS DOUBLE) - 1.0)
                 / NULLIF((s2td - sb) / (CAST(nt AS DOUBLE) - k), 0.0),
                 6) + 0.0 AS f_stat,
           ROUND((sb - std * std / nt)
                 / NULLIF(s2td - std * std / nt, 0.0), 6) + 0.0 AS eta_sq
    FROM tot, fold
    """,
    doc="One-way ANOVA F-test across market segments (SURVEY §2.4 "
    "ext — the k-GROUP generalization of q_welch_ttest's pairwise "
    "contrast: 'do the segments differ AT ALL?' before k pairwise "
    "tests inflate the false-positive rate; η² is the "
    "variance-explained effect size that tells you whether a "
    "significant F matters). One orders⋈customer pass builds the "
    "k-row exact moment table (n, Σcents, Σcents² per group — the "
    "mergeable-moments architecture); between/within sums of squares "
    "derive from it with a SORTED per-group fold so the double "
    "addition order is engine-identical. At 100 TB the scan is the "
    "only unbounded stage; everything downstream touches k rows.",
)
def q_anova(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders").select("o_custkey", "o_totalprice")
    cu = table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    b = o.join(cu, o.o_custkey == cu.c_custkey).select(
        F.col("c_mktsegment").alias("mktsegment"),
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("c"),
    )
    return anova_stats(b)


def anova_stats(b: DataFrame) -> DataFrame:
    """The q_anova core over any (mktsegment, c: bigint) DataFrame — kept
    apart from its table scans so the shipped plan code runs as is over
    any input of that shape (scaled or replicated), never a copy."""
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    d19 = lambda col: col.cast("decimal(19,0)")  # noqa: E731
    c = F.col("c")
    per = (
        b.groupBy("mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("n1"),
            F.sum(dec(c)).alias("s1"),
            F.sum(d19(c) * d19(c)).alias("s2"),
        )
        # LAZY checkpoint: both consumers (tot, fold) feed the ONE
        # returned crossJoin action, so the blocks pin at that job's
        # first touch and the separate eager-materialization job
        # disappears (measured 0.95 -> 0.59 s warm median at sf0.1 —
        # the whole r15 "1.38x vs baseline" worst10 entry was this one
        # extra job of scheduling latency). Deterministic aggregate:
        # a within-job duplicate computation of a block cannot change
        # values. The eager form stays right where consumers span
        # SEPARATE actions (q_mannwhitney's prefix-sum passes measured
        # 2.2 -> 10.3 s with a lazy checkpoint).
        .localCheckpoint(eager=False)
    )
    tot = per.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n1").cast("bigint").alias("nt"),
        F.sum("s1").cast("double").alias("std"),
        F.sum("s2").cast("double").alias("s2td"),
    )
    fold = per.agg(
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct("
            "mktsegment AS m,"
            " cast(s1 as double) * cast(s1 as double) / n1 AS t))),"
            " s -> s.t), 0.0D, (a, x) -> a + x)"
        ).alias("sb")
    )
    kd = F.col("k").cast("double")
    ntd = F.col("nt").cast("double")
    ssb = F.col("sb") - F.col("std") * F.col("std") / F.col("nt")
    ssw = F.col("s2td") - F.col("sb")
    sst = F.col("s2td") - F.col("std") * F.col("std") / F.col("nt")
    z = F.lit(0.0)
    return tot.crossJoin(F.broadcast(fold)).select(
        "k",
        "nt",
        (
            F.round(
                ssb / (kd - F.lit(1.0))
                / F.nullif(ssw / (ntd - F.col("k")), F.lit(0.0)),
                6,
            )
            + z
        ).alias("f_stat"),
        (F.round(ssb / F.nullif(sst, F.lit(0.0)), 6) + z).alias("eta_sq"),
    )


@register(
    "q_brown_forsythe",
    # Levene's test with MEDIAN centers (Brown-Forsythe 1974): W is
    # the one-way ANOVA F on z_ij = |x_ij − med_i|. Exactness trick:
    # an integer sample's median is an integer or a half-integer, so
    # u = 2·|cents − med| is an EXACT INTEGER (halves are exactly
    # representable doubles; round() is an identity that just types
    # the cast) — and W is scale-invariant (u = 2z scales SSB and SSW
    # by the same 4), so the exact-moment ANOVA machinery runs on u
    # unchanged: DECIMAL/HUGEINT (n, Σu, Σu²), sorted per-group fold,
    # one double expression with identical parenthesization. Spark
    # percentile ≡ DuckDB quantile_cont (the q_mad_outliers pin).
    oracle="""
    WITH b AS (
      SELECT c_mktsegment AS mktsegment,
             CAST(round(o_totalprice * 100) AS BIGINT) AS c
      FROM orders JOIN customer ON o_custkey = c_custkey
    ), med AS (
      SELECT mktsegment, quantile_cont(c, 0.5) AS med
      FROM b GROUP BY mktsegment
    ), z AS (
      SELECT b.mktsegment,
             CAST(CAST(round(2 * ABS(b.c - med.med)) AS BIGINT)
                  AS HUGEINT) AS u
      FROM b JOIN med USING (mktsegment)
    ), per AS (
      SELECT mktsegment, CAST(COUNT(*) AS BIGINT) AS n1,
             SUM(u) AS s1, SUM(u * u) AS s2
      FROM z GROUP BY mktsegment
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n1) AS BIGINT) AS nt,
             CAST(SUM(s1) AS DOUBLE) AS std, CAST(SUM(s2) AS DOUBLE) AS s2td
      FROM per
    ), fold AS (
      SELECT list_sum(list_transform(
               list(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1
                    ORDER BY mktsegment),
               x -> x)) AS sb
      FROM per
    )
    SELECT k, nt,
           ROUND((sb - std * std / nt) / (CAST(k AS DOUBLE) - 1.0)
                 / NULLIF((s2td - sb) / (CAST(nt AS DOUBLE) - k), 0.0),
                 6) + 0.0 AS bf_w
    FROM tot, fold
    """,
    doc="Brown-Forsythe variance-homogeneity test across market "
    "segments (SURVEY §2.4 ext — the assumption check completing the "
    "k-group trio: q_anova's F assumes equal group variances, and "
    "this is THE robust test for that assumption — Levene with "
    "MEDIAN centers, so heavy tails cannot fake heteroscedasticity). "
    "W = the ANOVA F on |x − group median|, computed EXACTLY: "
    "2·|cents − med| is an exact integer (integer medians land on "
    "halves), W is scale-invariant, so the exact DECIMAL moment "
    "machinery runs unchanged. One scan builds cents, the per-group "
    "medians are a k-row percentile aggregate broadcast back, and "
    "the deviation pass re-aggregates to k rows — two scans total at "
    "any scale, everything downstream k-row-sized.",
)
def q_brown_forsythe(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders").select("o_custkey", "o_totalprice")
    cu = table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    b = o.join(cu, o.o_custkey == cu.c_custkey).select(
        F.col("c_mktsegment").alias("mktsegment"),
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("c"),
    )
    return brown_forsythe_stats(b)


def brown_forsythe_stats(b: DataFrame) -> DataFrame:
    """The q_brown_forsythe core over any (mktsegment, c: bigint) DataFrame
    — kept apart from its table scans so the shipped plan code runs as
    is over any input of that shape (scaled or replicated), never a
    copy."""
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    d19 = lambda col: col.cast("decimal(19,0)")  # noqa: E731
    med = b.groupBy("mktsegment").agg(
        F.expr("percentile(c, 0.5)").alias("med")
    )
    u = F.expr("cast(round(2 * abs(c - med)) as bigint)")
    z = b.join(F.broadcast(med), "mktsegment").select(
        "mktsegment", u.alias("u")
    )
    per = (
        z.groupBy("mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("n1"),
            F.sum(dec(F.col("u"))).alias("s1"),
            F.sum(d19(F.col("u")) * d19(F.col("u"))).alias("s2"),
        )
        .localCheckpoint(eager=True)
    )
    tot = per.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n1").cast("bigint").alias("nt"),
        F.sum("s1").cast("double").alias("std"),
        F.sum("s2").cast("double").alias("s2td"),
    )
    fold = per.agg(
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct("
            "mktsegment AS m,"
            " cast(s1 as double) * cast(s1 as double) / n1 AS t))),"
            " s -> s.t), 0.0D, (a, x) -> a + x)"
        ).alias("sb")
    )
    kd = F.col("k").cast("double")
    ntd = F.col("nt").cast("double")
    ssb = F.col("sb") - F.col("std") * F.col("std") / F.col("nt")
    ssw = F.col("s2td") - F.col("sb")
    z0 = F.lit(0.0)
    return tot.crossJoin(F.broadcast(fold)).select(
        "k",
        "nt",
        (
            F.round(
                ssb / (kd - F.lit(1.0))
                / F.nullif(ssw / (ntd - F.col("k")), F.lit(0.0)),
                6,
            )
            + z0
        ).alias("bf_w"),
    )


@register(
    "q_kruskal_wallis",
    # Rank-based k-group test on the ALL-INTEGER tied-rank machinery
    # of q_mannwhitney: twice a tied value's average pooled rank is
    # 2C − c + 1 (integer), so each group's doubled rank sum 2Rᵢ is
    # exact DECIMAL/HUGEINT; Σᵢ Rᵢ²/nᵢ = Σᵢ (2Rᵢ)²/(4nᵢ) folds over
    # groups in mktsegment order (sorted fold), the tie correction
    # Σ(c³−c) is exact, and the SQUARE runs in double on BOTH engines
    # (cast 2Rᵢ to double, then multiply, identical parenthesization)
    # — an exact decimal(19,0)²/HUGEINT² square overflows at 2Rᵢ ≈
    # 1e19, i.e. a few billion rows concentrated in one segment, and
    # the two engines' failure modes diverge there (ANSI error vs
    # loud HUGEINT raise; ADVICE r15). Bit-identical below 2^53
    # (every test SF by orders of magnitude); beyond that both
    # engines lose the same low bits the final double division would
    # have discarded anyway. H itself runs in double, rounded 6 dp.
    oracle="""
    WITH b AS (
      SELECT c_mktsegment AS mktsegment,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
      FROM orders JOIN customer ON o_custkey = c_custkey
    ), segv AS (
      SELECT mktsegment, v, CAST(COUNT(*) AS BIGINT) AS cnt_seg
      FROM b GROUP BY mktsegment, v
    ), vals AS (
      SELECT v, CAST(SUM(cnt_seg) AS BIGINT) AS c FROM segv GROUP BY v
    ), cum AS (
      SELECT v, c, CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) AS cc
      FROM vals
    ), ties AS (
      SELECT CAST(SUM(CAST(c AS HUGEINT) * c * c - c) AS DOUBLE) AS tsum,
             CAST(SUM(c) AS BIGINT) AS nt
      FROM vals
    ), r AS (
      SELECT mktsegment, CAST(SUM(cnt_seg) AS BIGINT) AS n1,
             SUM(CAST(cnt_seg AS HUGEINT) * (2 * cc - c + 1)) AS r1x2
      FROM segv JOIN cum USING (v) GROUP BY mktsegment
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             list_sum(list_transform(
               list(CAST(r1x2 AS DOUBLE) * CAST(r1x2 AS DOUBLE)
                    / (CAST(4 AS DOUBLE) * n1) ORDER BY mktsegment),
               x -> x)) AS sterm
      FROM r
    )
    SELECT k, nt,
           ROUND(CAST(12 AS DOUBLE)
                 / (CAST(nt AS DOUBLE) * (CAST(nt AS DOUBLE) + 1.0))
                 * sterm - 3.0 * (CAST(nt AS DOUBLE) + 1.0), 6) + 0.0
             AS h_stat,
           ROUND((CAST(12 AS DOUBLE)
                  / (CAST(nt AS DOUBLE) * (CAST(nt AS DOUBLE) + 1.0))
                  * sterm - 3.0 * (CAST(nt AS DOUBLE) + 1.0))
                 / NULLIF(1.0 - tsum
                          / (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE)
                             * CAST(nt AS DOUBLE) - CAST(nt AS DOUBLE)),
                          0.0), 6) + 0.0 AS h_corrected
    FROM s, ties
    """,
    doc="Kruskal-Wallis H-test across market segments (SURVEY §2.4 "
    "ext — the k-GROUP sibling of q_mannwhitney and the rank-based "
    "twin of q_anova: distribution-free 'do the segments differ?' "
    "that survives the heavy-tailed spend distributions where the "
    "F-test's normality assumption breaks). Reuses the all-integer "
    "tied-rank machinery: per-(segment, value) counts, the pooled "
    "value-domain cumulative via the two-pass prefix sum (cents "
    "domains reach ~5e7 distinct at warehouse scale), doubled rank "
    "sums 2Rᵢ exact in DECIMAL, tie correction Σ(c³−c) exact; H and "
    "its tie-corrected form run in double with an engine-identical "
    "sorted fold over the k groups.",
)
def q_kruskal_wallis(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders").select("o_custkey", "o_totalprice")
    cu = table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    b = o.join(cu, o.o_custkey == cu.c_custkey).select(
        F.col("c_mktsegment").alias("mktsegment"),
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("v"),
    )
    return kruskal_wallis_stats(b)


def kruskal_wallis_stats(b: DataFrame) -> DataFrame:
    """The q_kruskal_wallis core over any (mktsegment, v: bigint) DataFrame
    — kept apart from its table scans so the shipped plan code runs as
    is over any input of that shape (scaled or replicated), never a
    copy."""
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    d19 = lambda col: col.cast("decimal(19,0)")  # noqa: E731
    segv = (
        b.groupBy("mktsegment", "v")
        .agg(F.count("*").alias("cnt_seg"))
        .localCheckpoint(eager=True)
    )
    vals = segv.groupBy("v").agg(F.sum("cnt_seg").cast("bigint").alias("c"))
    from gps_stream_processing_spark.operators.prefix_sum import (
        running_totals,
    )

    cum = running_totals(vals, ["v"], sums={"cc": "c"}).select(
        "v", "c", F.col("cc").cast("bigint").alias("cc")
    )
    cv = F.col("c")
    ties = vals.agg(
        F.sum(d19(cv) * d19(cv) * d19(cv) - dec(cv))
        .cast("double")
        .alias("tsum"),
        F.sum("c").cast("bigint").alias("nt"),
    )
    r = (
        segv.join(cum, "v")
        .groupBy("mktsegment")
        .agg(
            F.sum("cnt_seg").cast("bigint").alias("n1"),
            F.sum(
                d19(F.col("cnt_seg"))
                * d19(2 * F.col("cc") - F.col("c") + 1)
            ).alias("r1x2"),
        )
    )
    s = r.agg(
        F.count("*").cast("bigint").alias("k"),
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct("
            "mktsegment AS m,"
            " cast(r1x2 as double) * cast(r1x2 as double)"
            " / (cast(4 as double) * n1) AS t))),"
            " s -> s.t), 0.0D, (a, x) -> a + x)"
        ).alias("sterm"),
    )
    ntd = F.col("nt").cast("double")
    h = (
        F.lit(12.0).cast("double") / (ntd * (ntd + F.lit(1.0)))
        * F.col("sterm")
        - F.lit(3.0) * (ntd + F.lit(1.0))
    )
    corr = F.lit(1.0) - F.col("tsum") / (ntd * ntd * ntd - ntd)
    z = F.lit(0.0)
    return s.crossJoin(F.broadcast(ties)).select(
        "k",
        "nt",
        (F.round(h, 6) + z).alias("h_stat"),
        (F.round(h / F.nullif(corr, F.lit(0.0)), 6) + z).alias(
            "h_corrected"
        ),
    )


@register(
    "q_gini",
    # ALL-INTEGER Gini: with per-customer cent totals x sorted
    # ascending and ranked rn (ties broken by custkey — Σrn·x is
    # invariant to tie order among equal x), G = (2Σrn·x − (n+1)Σx)
    # / (nΣx). Numerator and denominator are exact DECIMAL/HUGEINT;
    # ONE final double division, rounded 6 dp.
    oracle="""
    WITH x AS (
      SELECT o_custkey AS custkey,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders GROUP BY o_custkey
    ), s AS (
      SELECT c.c_mktsegment AS mktsegment, x.x, x.custkey,
             CAST(row_number() OVER (
               PARTITION BY c.c_mktsegment ORDER BY x.x, x.custkey
             ) AS BIGINT) AS rn
      FROM x JOIN customer c ON c.c_custkey = x.custkey
    ), a AS (
      SELECT mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx,
             SUM(CAST(rn AS HUGEINT) * x) AS srx
      FROM s GROUP BY mktsegment
    )
    SELECT mktsegment, n AS n_customers,
           ROUND(CAST(sx AS DOUBLE) / 100.0, 2) AS total_spend,
           ROUND(CAST(2 * srx - (n + 1) * sx AS DOUBLE)
                 / NULLIF(CAST(n * sx AS DOUBLE), 0), 6) AS gini
    FROM a
    """,
    doc="Gini coefficient of customer spend per market segment "
    "(SURVEY §2.4 ext — the inequality audit beside "
    "q_pareto_concentration's 80/20 cut: one number per segment for "
    "'how concentrated is revenue', and on the corpus twin 'how "
    "concentrated is token mass per source' — a standard training-"
    "mixture health metric). The rank-sum identity G = (2Σrn·x − "
    "(n+1)Σx)/(nΣx) makes it exact integer algebra after ONE "
    "orders hash-agg; the ranking window runs over the CUSTOMER-"
    "sized aggregate partitioned 5 ways, never the fact table (the "
    "q_pareto_concentration posture).",
)
def q_gini(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    d19 = lambda col: col.cast("decimal(19,0)")  # noqa: E731
    x = (
        table(spark, sf, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.sum(F.expr("cast(round(o_totalprice * 100) as bigint)"))
            .cast("bigint")
            .alias("x")
        )
    )
    cu = table(spark, sf, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("mktsegment"),
    )
    s = x.join(cu, "custkey").select(
        "mktsegment",
        "x",
        "custkey",
        F.row_number()
        .over(Window.partitionBy("mktsegment").orderBy("x", "custkey"))
        .cast("bigint")
        .alias("rn"),
    )
    a = s.groupBy("mktsegment").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum(d19(F.col("rn")) * d19(F.col("x"))).alias("srx"),
    )
    return a.select(
        "mktsegment",
        F.col("n").alias("n_customers"),
        F.round(F.col("sx").cast("double") / F.lit(100.0), 2).alias(
            "total_spend"
        ),
        # NULLIF: an all-zero-spend segment has no defined inequality
        F.round(
            (2 * F.col("srx") - (F.col("n") + 1) * F.col("sx"))
            .cast("double")
            / F.nullif(
                (F.col("n") * F.col("sx")).cast("double"), F.lit(0.0)
            ),
            6,
        ).alias("gini"),
    )


@register(
    "q_survival_km",
    # Exact integer day grid (integer µs division), exact integer
    # n_risk/n_event counts; the KM product runs as
    # exp(cumulative-sum of ln terms) — cumulative window sums
    # accumulate IN ORDER on both engines, so the float sequence is
    # identical (no reassociation), rounded 6 dp. Spark ln(0) is
    # NULL where DuckDB gives -inf, so the zero factor (d = n at the
    # last day) is handled by an explicit cummax flag both sides.
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(epoch_us(ts)) AS vt
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), p AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS pt
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= v.vt
      GROUP BY e.user_id
    ), mx AS (SELECT MAX(epoch_us(ts)) AS mt FROM events),
    obs AS (
      SELECT v.user_id,
             CAST((COALESCE(p.pt, mx.mt) - v.vt) // 86400000000
                  AS BIGINT) AS t,
             CASE WHEN p.pt IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM v LEFT JOIN p ON p.user_id = v.user_id CROSS JOIN mx
    ), byday AS (
      SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM obs GROUP BY t
    ), risk AS (
      SELECT t, d, o,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM obs)
               - CAST(SUM(o) OVER (ORDER BY t) AS BIGINT) + o AS n_risk
      FROM byday
    ), km AS (
      SELECT t, d, n_risk,
             SUM(CASE WHEN n_risk - d > 0
                      THEN ln(CAST(n_risk - d AS DOUBLE) / n_risk)
                      ELSE 0.0 END) OVER (ORDER BY t) AS lsum,
             MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY t) AS hit_zero
      FROM risk WHERE d > 0
    )
    SELECT t AS t_days, n_risk, d AS n_events,
           ROUND(CASE WHEN hit_zero = 1 THEN 0.0 ELSE exp(lsum) END, 6)
             AS survival
    FROM km
    """,
    doc="Kaplan–Meier survival curve for view→purchase conversion "
    "time (SURVEY §2.7b ext — the censoring-correct version of "
    "q_funnel_timing's percentiles: users who never purchased are "
    "RIGHT-CENSORED at the observation end, not dropped, so the "
    "curve is unbiased while a quantile over converters only is "
    "not). Standard product-limit estimator on the integer day "
    "grid: S(t) = Π_{u≤t}(1 − d_u/n_u), computed as exp of an "
    "in-order cumulative sum of log factors — sequential window "
    "accumulation is engine-portable where a float product "
    "aggregate would not be. ONE events scan builds the per-user "
    "(first view, first subsequent purchase) table; everything "
    "after is day-grid-sized.",
)
def q_survival_km(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    e = table(spark, sf, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("vt"))
    )
    ej = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("pu")
    )
    p = (
        ej.join(v, "user_id")
        .filter(F.col("pu") >= F.col("vt"))
        .groupBy("user_id")
        .agg(F.min("pu").alias("pt"))
    )
    mx = e.agg(F.max(F.unix_micros("ts")).alias("mt"))
    obs = (
        v.join(p, "user_id", "left")
        .crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            F.expr("(coalesce(pt, mt) - vt) div 86400000000")
            .cast("bigint")
            .alias("t"),
            F.when(F.col("pt").isNotNull(), 1).otherwise(0).alias("ev"),
        )
        # the per-user observation table feeds the day grid AND the
        # total-count scalar; one eager checkpoint pins the events
        # scan count to the minimum
        .localCheckpoint(eager=True)
    )
    byday = obs.groupBy("t").agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.count("*").cast("bigint").alias("o"),
    )
    ntot = obs.agg(F.count("*").cast("bigint").alias("nt"))
    w = Window.orderBy("t")
    risk = byday.crossJoin(F.broadcast(ntot)).select(
        "t",
        "d",
        (
            F.col("nt")
            - F.sum("o").over(w).cast("bigint")
            + F.col("o")
        ).alias("n_risk"),
    )
    km = risk.filter(F.col("d") > 0).select(
        "t",
        "d",
        "n_risk",
        F.sum(
            F.when(
                F.col("n_risk") - F.col("d") > 0,
                F.log(
                    (F.col("n_risk") - F.col("d")).cast("double")
                    / F.col("n_risk")
                ),
            ).otherwise(F.lit(0.0))
        )
        .over(w)
        .alias("lsum"),
        F.max(
            F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
        )
        .over(w)
        .alias("hit_zero"),
    )
    return km.select(
        F.col("t").alias("t_days"),
        "n_risk",
        F.col("d").alias("n_events"),
        F.round(
            F.when(F.col("hit_zero") == 1, F.lit(0.0)).otherwise(
                F.exp(F.col("lsum"))
            ),
            6,
        ).alias("survival"),
    )


@register(
    "q_autocorr",
    # ALL-INTEGER estimator: with S = Σx and N days, the centered
    # series scaled by N is y_t = N·x_t − S (exact integers), and
    # acf_k = Σ y_t·y_{t+k} / Σ y_t² — the N² scale factors cancel
    # exactly, so numerator and denominator sum in DECIMAL(38,0)/
    # HUGEINT and only the final division runs in double (identical
    # parenthesization, rounded 6 dp). MIN/MAX/COUNT are exact.
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
      FROM daily
    ), y AS (
      SELECT row_number() OVER (ORDER BY d) AS rn,
             CAST(n AS HUGEINT) * x - s AS y, n
      FROM daily CROSS JOIN tot
    ), den AS (
      SELECT CAST(SUM(y * y) AS DOUBLE) AS dd FROM y
    ), lags AS (
      SELECT unnest(generate_series(1, 7)) AS lag
    )
    SELECT l.lag AS lag, MIN(a.n) AS n_days,
           ROUND(CAST(SUM(a.y * b.y) AS DOUBLE)
                 / NULLIF(MIN(dd), 0), 6) AS acf
    FROM lags l
    JOIN y a ON TRUE
    JOIN y b ON b.rn = a.rn + l.lag
    CROSS JOIN den
    GROUP BY l.lag
    """,
    doc="Autocorrelation function of the daily event-count series at "
    "lags 1–7 (SURVEY §2.4 ext — the periodicity diagnostic behind "
    "q_seasonal_profile: a weekly-cycled load shows the lag-7 spike, "
    "an anomalous burst decorrelates the tail). Standard biased ACF "
    "estimator r_k = Σ(x_t−x̄)(x_{t+k}−x̄)/Σ(x_t−x̄)² computed "
    "all-integer: scaling the centered series by N makes y_t = "
    "N·x_t−S exact, and the N² factors cancel in the ratio — no "
    "order-dependent float accumulation anywhere. ONE corpus scan "
    "builds the |days|-row daily table; everything after is "
    "aggregate-sized (the lag self-join is 7×|days| rows).",
)
def q_autocorr(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    d19 = lambda col: col.cast("decimal(19,0)")  # noqa: E731
    daily = (
        table(spark, sf, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count("*").alias("x"))
        # the |days|-row daily table is the ONLY corpus-sized
        # aggregate; totals, the centered series, and the lag join
        # all re-consume it (the q_chi_square pinning pattern)
        .localCheckpoint(eager=True)
    )
    tot = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    # y_t = N·x_t − S fits 19 digits comfortably; the y·y products run
    # d19 × d19 → DECIMAL(38,0), exact (the q_skew_kurtosis discipline)
    y = daily.crossJoin(F.broadcast(tot)).select(
        F.row_number().over(Window.orderBy("d")).alias("rn"),
        d19(F.col("n") * F.col("x") - F.col("s")).alias("y"),
        "n",
    )
    den = y.agg(
        F.sum(d19(F.col("y")) * d19(F.col("y"))).cast("double").alias("dd")
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    a, b_ = y.alias("a"), y.alias("b")
    return (
        F.broadcast(lags)
        .crossJoin(a)
        .join(b_, F.col("b.rn") == F.col("a.rn") + F.col("lag"))
        .crossJoin(F.broadcast(den))
        .groupBy("lag")
        .agg(
            F.min("a.n").alias("n_days"),
            F.round(
                F.sum(d19(F.col("a.y")) * d19(F.col("b.y"))).cast("double")
                / F.nullif(F.min("dd"), F.lit(0.0)),
                6,
            ).alias("acf"),
        )
    )


@register(
    "q_two_proportion_z",
    # All-integer converter/total counts; the rest side is integer
    # subtraction from the grand totals (zero extra scans, the
    # q_welch_ttest posture); the z-statistic is the only float, with
    # identical parenthesization and a NULLIF guard, rounded 6 dp.
    oracle="""
    WITH conv AS (
      SELECT DISTINCT o_custkey AS custkey FROM orders
      WHERE o_totalprice > 450000
    ), per AS (
      SELECT c.c_mktsegment AS mktsegment,
             CAST(COUNT(*) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN v.custkey IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS c1
      FROM customer c LEFT JOIN conv v ON v.custkey = c.c_custkey
      GROUP BY c.c_mktsegment
    ), tot AS (
      SELECT CAST(SUM(n1) AS BIGINT) AS nt, CAST(SUM(c1) AS BIGINT) AS ct
      FROM per
    )
    SELECT mktsegment, n1 AS n_seg, c1 AS conv_seg,
           nt - n1 AS n_rest, ct - c1 AS conv_rest,
           ROUND(CAST(c1 AS DOUBLE) / n1, 6) AS rate_seg,
           ROUND(CAST(ct - c1 AS DOUBLE) / (nt - n1), 6) AS rate_rest,
           ROUND((CAST(c1 AS DOUBLE) / n1
                  - CAST(ct - c1 AS DOUBLE) / (nt - n1))
                 / NULLIF(sqrt(CAST(ct AS DOUBLE) / nt
                               * (1.0 - CAST(ct AS DOUBLE) / nt)
                               * (1.0 / n1 + 1.0 / (nt - n1))), 0), 6)
             AS z_score
    FROM per CROSS JOIN tot
    """,
    doc="Two-proportion z-test on conversion rate (has ≥1 premium "
    "order, totalprice > 450k — every customer has SOME order in this "
    "schema, so the plain has-order rate is degenerate-1.0 and the "
    "premium cut is what discriminates), each market segment vs the "
    "rest (SURVEY §2.4 ext — the proportions member of the "
    "hypothesis-test family beside q_welch_ttest's means and "
    "q_mannwhitney's ranks: the statistic behind every conversion "
    "A/B readout). One filtered-DISTINCT pass over orders + one "
    "LEFT-join pass over customer builds the exact 5-row "
    "(n, converters) table; the complement comes from integer "
    "subtraction against the grand total, and the pooled-variance z "
    "runs in double with engine-identical parenthesization.",
)
def q_two_proportion_z(spark: SparkSession, sf: str) -> DataFrame:
    conv = (
        table(spark, sf, "orders")
        .filter(F.col("o_totalprice") > 450000)
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
        .withColumn("has", F.lit(1))
    )
    per = (
        table(spark, sf, "customer")
        .select(F.col("c_custkey").alias("custkey"), "c_mktsegment")
        .join(conv, "custkey", "left")
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count("*").alias("n1"),
            F.sum(F.coalesce("has", F.lit(0))).cast("bigint").alias("c1"),
        )
        .localCheckpoint(eager=True)
    )
    tot = per.agg(
        F.sum("n1").cast("bigint").alias("nt"),
        F.sum("c1").cast("bigint").alias("ct"),
    )
    n1, c1 = F.col("n1"), F.col("c1")
    nt, ct = F.col("nt"), F.col("ct")
    pp = ct.cast("double") / nt
    return per.crossJoin(F.broadcast(tot)).select(
        "mktsegment",
        n1.alias("n_seg"),
        c1.alias("conv_seg"),
        (nt - n1).alias("n_rest"),
        (ct - c1).alias("conv_rest"),
        F.round(c1.cast("double") / n1, 6).alias("rate_seg"),
        F.round((ct - c1).cast("double") / (nt - n1), 6).alias(
            "rate_rest"
        ),
        F.round(
            (
                c1.cast("double") / n1
                - (ct - c1).cast("double") / (nt - n1)
            )
            / F.nullif(
                F.sqrt(
                    pp
                    * (F.lit(1.0) - pp)
                    * (F.lit(1.0) / n1 + F.lit(1.0) / (nt - n1))
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("z_score"),
    )


@register(
    "q_key_islands",
    # The classic gaps-and-islands over the KEY SPACE: island id =
    # key − dense row_number is constant within each run of
    # consecutive keys — all-integer, exact. Top-10 by (len DESC,
    # start) is a unique total order.
    oracle="""
    WITH k AS (
      SELECT DISTINCT o_orderkey AS key FROM orders
      WHERE o_totalprice > 450000
    ), g AS (
      SELECT key, key - row_number() OVER (ORDER BY key) AS grp
      FROM k
    ), i AS (
      SELECT CAST(MIN(key) AS BIGINT) AS island_start,
             CAST(MAX(key) AS BIGINT) AS island_end,
             CAST(COUNT(*) AS BIGINT) AS island_len
      FROM g GROUP BY grp
    )
    SELECT island_start, island_end, island_len,
           CAST((SELECT COUNT(*) FROM i) AS BIGINT) AS n_islands
    FROM i ORDER BY island_len DESC, island_start LIMIT 10
    """,
    doc="Gaps-and-islands over the ORDER-KEY space (SURVEY §2.4 ext "
    "— the sequence-completeness audit q_missing_buckets runs on "
    "time, applied to identifiers: runs of consecutive keys expose "
    "ingest holes, partition loss, and id-allocation patterns; "
    "the synthetic keyspace is dense, so the islands are cut by "
    "the premium filter - 'which id ranges survived' is exactly the "
    "backfill-audit question). The key−row_number trick makes the island id "
    "constant within each run — one DISTINCT + the range-partitioned "
    "TWO-PASS prefix count (operators/prefix_sum.py) for the global "
    "rank + one hash-agg, all-integer; no single-partition window "
    "anywhere in the plan.",
)
def q_key_islands(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.operators.prefix_sum import (
        running_totals,
    )

    k = (
        table(spark, sf, "orders")
        .filter(F.col("o_totalprice") > 450000)
        .select(F.col("o_orderkey").alias("key"))
        .distinct()
    )
    # global row_number via the two-pass range-partitioned prefix
    # count — the island id key − rn needs the TOTAL rank, but not a
    # single-partition window to get it
    g = running_totals(k, ["key"], count_col="rn").select(
        "key", (F.col("key") - F.col("rn")).alias("grp")
    )
    i = g.groupBy("grp").agg(
        F.min("key").cast("bigint").alias("island_start"),
        F.max("key").cast("bigint").alias("island_end"),
        F.count("*").cast("bigint").alias("island_len"),
    ).localCheckpoint(eager=True)
    n = i.agg(F.count("*").cast("bigint").alias("n_islands"))
    return (
        i.crossJoin(F.broadcast(n))
        .orderBy(F.desc("island_len"), "island_start")
        .limit(10)
        .select("island_start", "island_end", "island_len", "n_islands")
    )


@register(
    "q_knee_lorenz",
    # Knee of the user-activity Lorenz curve by the max-distance-
    # from-chord rule (the Kneedle idea in its exact discrete form):
    # with points (i, cum_i) and the chord (0,0)→(n, total), the
    # unnormalized distance is |n·cum_i − total·i| — ALL-INTEGER
    # cross products in DECIMAL/HUGEINT, so the argmax is exact;
    # ties break to the smallest rank. Shares are the only doubles,
    # rounded 6 dp.
    oracle="""
    WITH c AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS k
      FROM events GROUP BY user_id
    ), r AS (
      SELECT CAST(row_number() OVER (ORDER BY k DESC, user_id)
                  AS BIGINT) AS i,
             CAST(SUM(k) OVER (ORDER BY k DESC, user_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM c
    ), t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(k) AS BIGINT) AS tot
      FROM c
    ), d AS (
      SELECT r.i, r.cum,
             abs(CAST(t.n AS HUGEINT) * r.cum
                 - CAST(t.tot AS HUGEINT) * r.i) AS dist,
             t.n, t.tot
      FROM r CROSS JOIN t
    ), best AS (
      SELECT i, cum, n, tot,
             row_number() OVER (ORDER BY dist DESC, i) AS rnk
      FROM d
    )
    SELECT i AS knee_rank, n AS n_users,
           ROUND(CAST(i AS DOUBLE) / n, 6) AS user_share,
           ROUND(CAST(cum AS DOUBLE) / tot, 6) AS mass_share
    FROM best WHERE rnk = 1
    """,
    doc="Knee-point detection on the user-activity Lorenz curve "
    "(SURVEY §2.4 ext — the cutoff-picking rule behind 'where does "
    "the heavy-hitter head end': the discrete Kneedle criterion, "
    "the curve point farthest from the end-to-end chord, is where "
    "marginal mass per user drops fastest; q_pareto_concentration "
    "reports fixed 80/20 cuts, this finds the curve's OWN elbow). "
    "The chord distance |n·cum − total·i| is an exact integer cross "
    "product, so the argmax needs no geometry in floats; the "
    "cumulative rides the range-partitioned TWO-PASS prefix sum "
    "(operators/prefix_sum.py) and the argmax is a 1-row min_by "
    "aggregate — no single-partition window in the plan.",
)
def q_knee_lorenz(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.operators.prefix_sum import (
        running_totals,
    )

    d19 = lambda col: col.cast("decimal(19,0)")  # noqa: E731
    c = (
        table(spark, sf, "events")
        .groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("k"))
    )
    # (rank, cumulative mass) via the two-pass range-partitioned
    # prefix sum — parallel global window; (n, tot) fall out of the
    # pass-1 partials, replacing the broadcast totals cross-join
    r, t = running_totals(
        c,
        [F.desc("k"), "user_id"],
        sums={"cum": "k"},
        count_col="i",
        with_totals=True,
    )
    n_lit = F.lit(t["n_rows"]).cast("bigint")
    tot_lit = F.lit(t["cum"]).cast("bigint")
    d = r.select(
        "i",
        "cum",
        F.abs(d19(n_lit) * F.col("cum") - d19(tot_lit) * F.col("i")).alias(
            "dist"
        ),
    )
    # exact argmax with the (dist DESC, i ASC) tie order as a 1-row
    # min_by aggregate — no global ranking window needed to pick one row
    best = d.agg(
        F.min_by(
            F.struct("i", "cum"), F.struct((-F.col("dist")).alias("nd"), "i")
        ).alias("b")
    ).filter(F.col("b").isNotNull())
    return best.select(
        F.col("b.i").alias("knee_rank"),
        n_lit.alias("n_users"),
        F.round(F.col("b.i").cast("double") / n_lit, 6).alias("user_share"),
        F.round(F.col("b.cum").cast("double") / tot_lit, 6).alias(
            "mass_share"
        ),
    )


@register(
    "q_cuped",
    # CUPED over per-user (pre-period, measurement-period) value
    # pairs split at the corpus midpoint timestamp: θ = cov/var and
    # the variance-reduction ratio 1 − ρ² come from five exact
    # integer moment sums (cents, DECIMAL/HUGEINT); only the final
    # ratios run in double, identical parenthesization,
    # NULLIF-guarded, rounded 6 dp. The midpoint is an exact integer
    # µs average of two exact integers — identical both engines.
    oracle="""
    WITH bounds AS (
      SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid
      FROM events
    ), u AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN epoch_us(ts) < mid
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS HUGEINT) AS x,
             CAST(SUM(CASE WHEN epoch_us(ts) >= mid
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS HUGEINT) AS y
      FROM events CROSS JOIN bounds GROUP BY user_id
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx,
             CAST(SUM(y * y) AS DOUBLE) AS syy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy
      FROM u
    ), m AS (
      SELECT n,
             (sxy - sx * sy / n) / NULLIF(sxx - sx * sx / n, 0) AS theta,
             (sxy - sx * sy / n) * (sxy - sx * sy / n)
               / NULLIF((sxx - sx * sx / n) * (syy - sy * sy / n), 0)
               AS rho2,
             sy / n AS my
      FROM s
    )
    SELECT n AS n_users,
           ROUND(my / 100.0, 6) AS mean_metric,
           ROUND(theta, 6) AS theta,
           ROUND(1.0 - rho2, 6) AS variance_ratio
    FROM m
    """,
    doc="CUPED variance reduction (Deng et al. 2013 — SURVEY §2.4 "
    "ext, completing the experimentation toolkit beside "
    "q_two_proportion_z / q_ratio_delta_method / q_jackknife_se: "
    "every major A/B platform adjusts the experiment metric by a "
    "PRE-period covariate, Y′ = Y − θ(X − X̄), cutting metric "
    "variance by exactly ρ² and therefore experiment runtime by the "
    "same factor). Per-user pre/measurement value pairs split at "
    "the corpus midpoint timestamp in ONE conditional-sum scan; "
    "θ = cov/var and the residual-variance ratio 1−ρ² from five "
    "exact integer moment sums — the mergeable-moments "
    "architecture, so arm-level partials combine without re-scan.",
)
def q_cuped(spark: SparkSession, sf: str) -> DataFrame:
    d19 = lambda col: col.cast("decimal(19,0)")  # noqa: E731
    e = table(spark, sf, "events")
    bounds = e.agg(
        F.expr(
            "(min(unix_micros(ts)) + max(unix_micros(ts))) div 2"
        ).alias("mid")
    )
    cents = F.expr("cast(round(value * 100) as bigint)")
    u = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.unix_micros("ts") < F.col("mid"), cents).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("x"),
            F.sum(
                F.when(
                    F.unix_micros("ts") >= F.col("mid"), cents
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("y"),
        )
    )
    s = u.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(d19(F.col("x"))).cast("double").alias("sx"),
        F.sum(d19(F.col("y"))).cast("double").alias("sy"),
        F.sum(d19(F.col("x")) * d19(F.col("x"))).cast("double").alias("sxx"),
        F.sum(d19(F.col("y")) * d19(F.col("y"))).cast("double").alias("syy"),
        F.sum(d19(F.col("x")) * d19(F.col("y"))).cast("double").alias("sxy"),
    )
    n = F.col("n")
    cxy = F.col("sxy") - F.col("sx") * F.col("sy") / n
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vy = F.col("syy") - F.col("sy") * F.col("sy") / n
    m = s.select(
        "n",
        (cxy / F.nullif(vx, F.lit(0.0))).alias("theta"),
        (cxy * cxy / F.nullif(vx * vy, F.lit(0.0))).alias("rho2"),
        (F.col("sy") / n).alias("my"),
    )
    return m.select(
        F.col("n").alias("n_users"),
        F.round(F.col("my") / F.lit(100.0), 6).alias("mean_metric"),
        F.round(F.col("theta"), 6).alias("theta"),
        F.round(F.lit(1.0) - F.col("rho2"), 6).alias("variance_ratio"),
    )


@register(
    "q_ohlc_bars",
    # OPEN/CLOSE are the values at the (ts, event_id)-min/max rows —
    # arg_min/arg_max on the composite microsecond key is exact and
    # deterministic (event_id breaks same-µs ties); HIGH/LOW/n are
    # plain exact aggregates; cent-exact values throughout. The key
    # is HUGEINT/decimal(38,0): within-day µs (11 digits) × 10²⁰ +
    # the FULL event_id (any bigint) — collision-free with no
    # assumption on the id range (ADVICE r12).
    oracle="""
    WITH e AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             (epoch_us(ts) - epoch_us(CAST(CAST(ts AS DATE) AS TIMESTAMP)))
               * CAST('100000000000000000000' AS HUGEINT) + event_id AS k,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events
    )
    SELECT event_type, d AS bar_date,
           ROUND(arg_min(c, k) / 100.0, 2) AS open,
           ROUND(MAX(c) / 100.0, 2) AS high,
           ROUND(MIN(c) / 100.0, 2) AS low,
           ROUND(arg_max(c, k) / 100.0, 2) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM e GROUP BY event_type, d
    """,
    doc="Daily OHLC bars per event type (SURVEY §2.4 ext — the "
    "candlestick downsampling primitive of every telemetry/metrics/"
    "finance store: open/high/low/close + volume per (series, bar), "
    "the lossy-but-shaped compaction dashboards read instead of raw "
    "points). ONE hash-agg with map-side partials — open/close ride "
    "min_by/max_by on a composite decimal (within-day µs·10²⁰ + "
    "event_id) order key, so same-microsecond ties are deterministic "
    "with no id-range assumption and no "
    "window pass is needed (the naive row_number-per-bar "
    "formulation costs a full shuffle+sort; min_by folds it into "
    "the aggregate). At 100 TB this is scan-bound and the bar key "
    "is the natural on-disk partition for serving.",
)
def q_ohlc_bars(spark: SparkSession, sf: str) -> DataFrame:
    # the order key packs the WITHIN-DAY µs offset (< 8.64e10, 11
    # digits) above the FULL event_id in a decimal(38,0) — 31 digits
    # worst-case, collision-free for any bigint id (no range
    # assumption); open/close group per day so within-day order
    # suffices
    e = table(spark, sf, "events").select(
        "event_type",
        F.col("ts").cast("date").alias("d"),
        (
            (
                F.unix_micros("ts")
                - F.unix_micros(F.col("ts").cast("date").cast("timestamp"))
            ).cast("decimal(17,0)")
            * F.lit("100000000000000000000").cast("decimal(21,0)")
            + F.col("event_id").cast("decimal(20,0)")
        ).alias("k"),
        F.expr("cast(round(value * 100) as bigint)").alias("c"),
    )
    return e.groupBy(
        "event_type", F.col("d").alias("bar_date")
    ).agg(
        F.round(F.min_by("c", "k") / F.lit(100.0), 2).alias("open"),
        F.round(F.max("c") / F.lit(100.0), 2).alias("high"),
        F.round(F.min("c") / F.lit(100.0), 2).alias("low"),
        F.round(F.max_by("c", "k") / F.lit(100.0), 2).alias("close"),
        F.count("*").cast("bigint").alias("n_events"),
    )


@register(
    "q_ratio_delta_method",
    # Delta-method SE of a ratio-of-sums metric: all five moment
    # sums (n, Σx, Σy, Σx², Σy², Σxy) are exact integers in
    # DECIMAL/HUGEINT (cents × counts); the ratio, the three
    # sample (co)variances, and the final SE run in double with
    # identical parenthesization, NULLIF-guarded, rounded 6 dp.
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS HUGEINT)
               AS x,
             CAST(COUNT(*) AS HUGEINT) AS y
      FROM events GROUP BY user_id
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx,
             CAST(SUM(y * y) AS DOUBLE) AS syy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy
      FROM u
    ), m AS (
      SELECT n, sx / sy AS r, sy / n AS my,
             (sxx - sx * sx / n) / (n - 1) AS vx,
             (syy - sy * sy / n) / (n - 1) AS vy,
             (sxy - sx * sy / n) / (n - 1) AS cxy
      FROM s
    )
    SELECT n AS n_users,
           ROUND(r / 100.0, 6) AS value_per_event,
           ROUND(sqrt((vx - 2.0 * r * cxy + r * r * vy)
                      / NULLIF(n * my * my, 0)) / 100.0, 6)
             AS delta_se
    FROM m
    """,
    doc="Delta-method standard error of a RATIO metric — total value "
    "per event, Σx/Σy over per-user (value, count) pairs (SURVEY "
    "§2.4 ext — THE experimentation-platform statistic: ratio "
    "metrics like revenue-per-session violate the i.i.d.-rows "
    "assumption because the denominator is random too, so a naive "
    "row-level SE is wrong; the delta method var(x̄/ȳ) ≈ (var x − "
    "2R·cov + R²·var y)/(n·ȳ²) is the published fix every A/B "
    "platform implements). One events scan to the per-user moment "
    "table, then five exact integer sums — the mergeable-moments "
    "architecture, so the same partials roll up to any experiment "
    "arm. Companion of q_jackknife_se: closed-form vs resampling.",
)
def q_ratio_delta_method(spark: SparkSession, sf: str) -> DataFrame:
    d19 = lambda col: col.cast("decimal(19,0)")  # noqa: E731
    u = (
        table(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.expr("cast(round(value * 100) as bigint)"))
            .cast("bigint")
            .alias("x"),
            F.count("*").cast("bigint").alias("y"),
        )
    )
    s = u.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(d19(F.col("x"))).cast("double").alias("sx"),
        F.sum(d19(F.col("y"))).cast("double").alias("sy"),
        F.sum(d19(F.col("x")) * d19(F.col("x"))).cast("double").alias("sxx"),
        F.sum(d19(F.col("y")) * d19(F.col("y"))).cast("double").alias("syy"),
        F.sum(d19(F.col("x")) * d19(F.col("y"))).cast("double").alias("sxy"),
    )
    n = F.col("n")
    m = s.select(
        "n",
        (F.col("sx") / F.col("sy")).alias("r"),
        (F.col("sy") / n).alias("my"),
        ((F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - 1)).alias(
            "vx"
        ),
        ((F.col("syy") - F.col("sy") * F.col("sy") / n) / (n - 1)).alias(
            "vy"
        ),
        ((F.col("sxy") - F.col("sx") * F.col("sy") / n) / (n - 1)).alias(
            "cxy"
        ),
    )
    r = F.col("r")
    return m.select(
        F.col("n").alias("n_users"),
        F.round(r / F.lit(100.0), 6).alias("value_per_event"),
        F.round(
            F.sqrt(
                (
                    F.col("vx")
                    - F.lit(2.0) * r * F.col("cxy")
                    + r * r * F.col("vy")
                )
                / F.nullif(
                    F.col("n") * F.col("my") * F.col("my"), F.lit(0.0)
                )
            )
            / F.lit(100.0),
            6,
        ).alias("delta_se"),
    )


@register(
    "q_histogram_equidepth",
    # Equi-DEPTH bucketing is pure integer arithmetic: a value's
    # bucket is floor(rank_of_first_row · B / N) (integer division,
    # capped at B−1), where rank comes from the per-value cumulative
    # count — all rows of a tied value land in ONE bucket (the
    # standard duplicate treatment; bucket sizes drift with ties,
    # which is exactly what the height column exposes).
    oracle="""
    WITH v AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS p
      FROM lineitem
    ), pv AS (
      SELECT p, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY p
    ), c AS (
      SELECT p, c,
             CAST(SUM(c) OVER (ORDER BY p) AS BIGINT) AS cum,
             (SELECT CAST(SUM(c) AS BIGINT) FROM pv) AS n
      FROM pv
    )
    SELECT CAST(least(9, (cum - c) * 10 // n) AS INT) AS bucket,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           ROUND(MIN(p) / 100.0, 2) AS lo,
           ROUND(MAX(p) / 100.0, 2) AS hi
    FROM c GROUP BY 1
    """,
    doc="Equi-depth histogram of extended price, 10 buckets (SURVEY "
    "§2.4 ext — the optimizer-statistics twin of q_histogram's "
    "equi-width tiles: equal ROW mass per bucket, which is what "
    "selectivity estimation and p99-aware alerting actually want on "
    "skewed data where fixed-width buckets go empty). A value's "
    "bucket is floor(first-row-rank·B/N) off the per-value "
    "cumulative count — all-integer, tied values stay together, and "
    "the n_rows column exposes the tie-induced depth drift. One "
    "hash-agg to per-value counts, then the range-partitioned "
    "TWO-PASS prefix sum (operators/prefix_sum.py) for the global "
    "cumulative — parallel, no single-partition window, and the "
    "grand total rides the pass-1 partials instead of a separate "
    "broadcast aggregate.",
)
def q_histogram_equidepth(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.operators.prefix_sum import (
        running_totals,
    )

    pv = (
        table(spark, sf, "lineitem")
        .select(
            F.expr("cast(round(l_extendedprice * 100) as bigint)").alias(
                "p"
            )
        )
        .groupBy("p")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    # global cumulative over the value domain via the two-pass
    # range-partitioned prefix sum — no single-partition window; the
    # grand total N falls out of the pass-1 partials for free
    cum_df, tot = running_totals(pv, ["p"], sums={"cum": "c"}, with_totals=True)
    c = cum_df.withColumn("n", F.lit(tot["cum"]).cast("bigint"))
    return (
        c.groupBy(
            F.least(
                F.lit(9),
                F.expr("(cum - c) * 10 div n"),
            )
            .cast("int")
            .alias("bucket")
        )
        .agg(
            F.sum("c").cast("bigint").alias("n_rows"),
            F.count("*").cast("bigint").alias("n_distinct"),
            F.round(F.min("p") / F.lit(100.0), 2).alias("lo"),
            F.round(F.max("p") / F.lit(100.0), 2).alias("hi"),
        )
    )


@register(
    "q_weighted_median",
    # Type-1 (lower) weighted quantiles: the answer is the FIRST
    # distinct value whose cumulative weight reaches p·W — pure
    # integer compare (cents weights vs cents thresholds via the
    # cross-multiplied form cumw·100 >= p%·W), no interpolation, so
    # the result is an exact member of the data on both engines.
    oracle="""
    WITH v AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem
    ), pv AS (
      SELECT flag, price, CAST(SUM(w) AS BIGINT) AS w
      FROM v GROUP BY flag, price
    ), c AS (
      SELECT flag, price, w,
             CAST(SUM(w) OVER (PARTITION BY flag ORDER BY price)
                  AS BIGINT) AS cumw,
             CAST(SUM(w) OVER (PARTITION BY flag) AS BIGINT) AS tw
      FROM pv
    )
    SELECT flag AS l_returnflag, MIN(tw) AS total_weight,
           ROUND(MIN(CASE WHEN cumw * 100 >= tw * 25 THEN price END)
                 / 100.0, 2) AS wp25,
           ROUND(MIN(CASE WHEN cumw * 100 >= tw * 50 THEN price END)
                 / 100.0, 2) AS weighted_median,
           ROUND(MIN(CASE WHEN cumw * 100 >= tw * 75 THEN price END)
                 / 100.0, 2) AS wp75
    FROM c GROUP BY flag
    """,
    doc="Weighted quantiles (quantity-weighted price percentiles per "
    "return flag — SURVEY §2.4 ext: the fair-aggregation primitive "
    "plain percentile() cannot express, where each row counts with "
    "its own mass; the 'median price per UNIT sold' a revenue "
    "analysis actually wants). Type-1 estimator: first value whose "
    "cumulative weight reaches p·W — the threshold compare is "
    "cross-multiplied to stay all-integer, so the result is an "
    "exact data member with no float interpolation to drift. One "
    "hash-agg to per-(group, value) weights, then cumulative "
    "windows over the VALUE-DOMAIN-sized table (the q_ks_test "
    "posture — bounded by the price domain at any row count).",
)
def q_weighted_median(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    v = table(spark, sf, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.expr("cast(round(l_extendedprice * 100) as bigint)").alias(
            "price"
        ),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    pv = v.groupBy("flag", "price").agg(
        F.sum("w").cast("bigint").alias("w")
    )
    c = pv.select(
        "flag",
        "price",
        "w",
        F.sum("w")
        .over(Window.partitionBy("flag").orderBy("price"))
        .cast("bigint")
        .alias("cumw"),
        F.sum("w")
        .over(Window.partitionBy("flag"))
        .cast("bigint")
        .alias("tw"),
    )

    def wq(pct: int, name: str):
        return F.round(
            F.min(
                F.when(
                    F.col("cumw") * 100 >= F.col("tw") * pct,
                    F.col("price"),
                )
            )
            / F.lit(100.0),
            2,
        ).alias(name)

    return c.groupBy(F.col("flag").alias("l_returnflag")).agg(
        F.min("tw").alias("total_weight"),
        wq(25, "wp25"),
        wq(50, "weighted_median"),
        wq(75, "wp75"),
    )


@register(
    "q_max_concurrency",
    # The classic +1/−1 boundary sweep over CLOSED session intervals
    # (starts sort before ends at the same instant via the k column,
    # so zero-duration single-event sessions still count). The
    # running sum's row order inside an equal-(t, k) group is
    # arbitrary, but all deltas in such a group share one sign, so
    # MAX(cum) and the earliest peak instant are order-invariant —
    # the only two values extracted. All-integer throughout.
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged
    ), s AS (
      SELECT user_id, session_no, MIN(ts) AS st, MAX(ts) AS en
      FROM sess GROUP BY user_id, session_no
    ), b AS (
      SELECT st AS t, 0 AS k, 1 AS d FROM s
      UNION ALL
      SELECT en, 1, -1 FROM s
    ), c AS (
      SELECT t,
             CAST(SUM(d) OVER (ORDER BY t, k ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum
      FROM b
    ), m AS (SELECT MAX(cum) AS peak FROM c)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s) AS n_sessions,
           CAST(m.peak AS BIGINT) AS peak_concurrency,
           (SELECT MIN(t) FROM c WHERE cum = m.peak) AS peak_ts
    FROM m
    """,
    doc="Peak session concurrency via the +1/−1 interval sweep "
    "(SURVEY §2.7 ext — the capacity-planning number on top of "
    "q_sessionize: how many 30-min-gap user sessions were EVER open "
    "at once, and when the peak first occurred; the max-concurrent-"
    "intervals classic every load-test and licensing audit needs). "
    "Session intervals reuse the q_sessionize gaps-and-islands cut; "
    "the sweep sorts 2·|sessions| boundary rows — aggregate-sized, "
    "never the fact — and a single running sum finds the peak. "
    "Starts sort before ends at the same instant (closed intervals), "
    "so zero-duration sessions count. Sessions are user-x-activity "
    "proportional — NOT aggregate-sized — so the sweep rides the "
    "two-pass range-partitioned prefix sum (operators/prefix_sum.py): "
    "no single-partition exchange; each task sorts only its (t, k) "
    "range slice. Equal (t, k) ties land in one range partition and "
    "share one delta sign, so MAX(cum) and the earliest peak instant "
    "stay order-invariant.",
)
def q_max_concurrency(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    e = table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact gap compare (the q_sessionize discipline: a
    # floor-second cast would merge sessions the oracle splits for
    # any gap in (1800s, 1801s))
    flagged = e.select(
        "user_id",
        "ts",
        F.when(
            (
                F.unix_micros("ts")
                - F.lag(F.unix_micros("ts")).over(w)
                > 1_800_000_000
            )
            | F.lag("ts").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
        "event_id",
    )
    sess = flagged.select(
        "user_id",
        "ts",
        F.sum("new_s")
        .over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("session_no"),
    )
    s = (
        sess.groupBy("user_id", "session_no")
        .agg(F.min("ts").alias("st"), F.max("ts").alias("en"))
        # the session table feeds the boundary union AND the count;
        # it is the last fact-sized derivation — checkpoint pins the
        # events scan count to ONE
        .localCheckpoint(eager=True)
    )
    b = s.select(
        F.col("st").alias("t"), F.lit(0).alias("k"), F.lit(1).alias("d")
    ).unionAll(
        s.select(
            F.col("en").alias("t"),
            F.lit(1).alias("k"),
            F.lit(-1).alias("d"),
        )
    )
    from gps_stream_processing_spark.operators.prefix_sum import (
        running_totals,
    )

    # Two-pass distributed prefix sum over the boundary order — the
    # boundary table is 2·|sessions| rows (user×activity-proportional),
    # so the naive global window's Exchange SinglePartition would put
    # the whole sweep on one task at warehouse scale (VERDICT r13).
    # No checkpoint here: running_totals pins its own range layout, so
    # the two consumers (peak + argmin) recompute only the parallel
    # pid-window — and the Window stays visible in the final plan for
    # the no-SinglePartition pin (tests/test_prefix_sum.py).
    c = running_totals(b, ["t", "k"], sums={"cum": "d"}).select(
        "t", F.col("cum").cast("bigint").alias("cum")
    )
    m = c.agg(F.max("cum").alias("peak"))
    n = s.agg(F.count("*").cast("bigint").alias("n_sessions"))
    peak_ts = (
        c.join(F.broadcast(m), c.cum == F.col("peak"))
        .agg(F.min("t").alias("peak_ts"))
    )
    return (
        n.crossJoin(F.broadcast(m.select(F.col("peak").alias("peak_concurrency"))))
        .crossJoin(F.broadcast(peak_ts))
        .select("n_sessions", "peak_concurrency", "peak_ts")
    )


@register(
    "q_spearman_corr",
    # Spearman = Pearson over average ranks, and twice the average
    # pooled rank of a tied value is the INTEGER 2C − c + 1 (the
    # q_mannwhitney identity) — so all six correlation moment sums
    # run exact in DECIMAL/HUGEINT and only the final ratio is
    # double, identical parenthesization, rounded 6 dp.
    oracle="""
    WITH u AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY user_id
    ), rx AS (
      SELECT x, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(COUNT(*)) OVER (ORDER BY x) AS BIGINT) AS cc
      FROM u GROUP BY x
    ), ry AS (
      SELECT y, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(COUNT(*)) OVER (ORDER BY y) AS BIGINT) AS cc
      FROM u GROUP BY y
    ), r AS (
      SELECT CAST(2 * rx.cc - rx.c + 1 AS HUGEINT) AS a,
             CAST(2 * ry.cc - ry.c + 1 AS HUGEINT) AS b
      FROM u JOIN rx ON rx.x = u.x JOIN ry ON ry.y = u.y
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a) AS DOUBLE) AS sa, CAST(SUM(b) AS DOUBLE) AS sb,
             CAST(SUM(a * a) AS DOUBLE) AS saa,
             CAST(SUM(b * b) AS DOUBLE) AS sbb,
             CAST(SUM(a * b) AS DOUBLE) AS sab
      FROM r
    )
    SELECT n AS n_users,
           ROUND((n * sab - sa * sb)
                 / NULLIF(sqrt(n * saa - sa * sa)
                          * sqrt(n * sbb - sb * sb), 0), 6)
             AS spearman_rho
    FROM s
    """,
    doc="Spearman rank correlation between per-user activity (event "
    "count) and monetary value (SURVEY §2.4 ext — the robust twin of "
    "q_agg_corr's Pearson: monotone association immune to the heavy "
    "tails q_skew_kurtosis measures, the standard engagement↔value "
    "health metric). Average ranks come from per-value cumulative "
    "counts — 2·rank = 2C−c+1 is an integer (the q_mannwhitney "
    "identity) — so every moment sum is EXACT decimal and ties need "
    "no special-casing. One events scan → user table; the rank "
    "tables are value-domain-sized; one final double ratio.",
)
def q_spearman_corr(spark: SparkSession, sf: str) -> DataFrame:
    d19 = lambda col: col.cast("decimal(19,0)")  # noqa: E731
    u = (
        table(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("x"),
            F.sum(F.expr("cast(round(value * 100) as bigint)"))
            .cast("bigint")
            .alias("y"),
        )
        # the user table feeds both rank derivations and the final
        # join; eager checkpoint pins the events scan count to ONE
        .localCheckpoint(eager=True)
    )

    from gps_stream_processing_spark.operators.prefix_sum import (
        running_totals,
    )

    def ranks(col: str):
        # per-value rank cumulative via the two-pass prefix sum (the
        # q_ks_test posture — VERDICT r13 item 5)
        per = u.groupBy(col).agg(F.count("*").alias("c"))
        return running_totals(per, [col], sums={"cc": "c"}).select(
            col, "c", F.col("cc").cast("bigint").alias("cc")
        )

    r = (
        u.join(ranks("x"), "x")
        .withColumnRenamed("c", "cx")
        .withColumnRenamed("cc", "ccx")
        .join(ranks("y"), "y")
        .select(
            d19(2 * F.col("ccx") - F.col("cx") + 1).alias("a"),
            d19(2 * F.col("cc") - F.col("c") + 1).alias("b"),
        )
    )
    s = r.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("a").cast("double").alias("sa"),
        F.sum("b").cast("double").alias("sb"),
        F.sum(d19(F.col("a")) * d19(F.col("a"))).cast("double").alias("saa"),
        F.sum(d19(F.col("b")) * d19(F.col("b"))).cast("double").alias("sbb"),
        F.sum(d19(F.col("a")) * d19(F.col("b"))).cast("double").alias("sab"),
    )
    n = F.col("n")
    return s.select(
        n.alias("n_users"),
        F.round(
            (n * F.col("sab") - F.col("sa") * F.col("sb"))
            / F.nullif(
                F.sqrt(n * F.col("saa") - F.col("sa") * F.col("sa"))
                * F.sqrt(n * F.col("sbb") - F.col("sb") * F.col("sb")),
                F.lit(0.0),
            ),
            6,
        ).alias("spearman_rho"),
    )


@register(
    "q_theil_sen",
    # Every pairwise slope is the double quotient of two exact
    # integers (correctly rounded identically on both engines); the
    # median is the same interpolated percentile both engines
    # implement (quantile_cont == percentile), rounded 6 dp. Pair
    # count is exact.
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ), s AS (
      SELECT row_number() OVER (ORDER BY d) AS rn, y FROM daily
    ), slopes AS (
      SELECT CAST(b.y - a.y AS DOUBLE) / (b.rn - a.rn) AS sl
      FROM s a JOIN s b ON b.rn > a.rn
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(quantile_cont(sl, 0.5), 6) AS theil_sen_slope
    FROM slopes
    """,
    doc="Theil–Sen robust trend slope of the daily event-count series "
    "(SURVEY §2.4 ext — the median-of-pairwise-slopes estimator: up "
    "to 29% arbitrary outliers cannot move it, where q_regression's "
    "OLS slope follows a single corrupted day; the standard robust "
    "drift detector for telemetry). The all-pairs join runs over the "
    "|days|-row DAY GRID (≈N²/2 aggregate-sized rows), never the "
    "fact — at 100 TB the series length is bounded by the calendar, "
    "so the quadratic stays trivial while the one corpus scan "
    "dominates. Exact integer rises/runs; interpolated median "
    "identical on both engines.",
)
def q_theil_sen(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        table(spark, sf, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count("*").cast("bigint").alias("y"))
        .localCheckpoint(eager=True)
    )
    s = daily.select(
        F.row_number().over(Window.orderBy("d")).alias("rn"), "y"
    )
    a, b = s.alias("a"), s.alias("b")
    slopes = a.join(b, F.col("b.rn") > F.col("a.rn")).select(
        (
            (F.col("b.y") - F.col("a.y")).cast("double")
            / (F.col("b.rn") - F.col("a.rn"))
        ).alias("sl")
    )
    return slopes.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.round(F.expr("percentile(sl, 0.5)"), 6).alias(
            "theil_sen_slope"
        ),
    )


@register(
    "q_runs_test",
    # ALL-INTEGER until the final z: signs of day-over-day changes
    # (zero changes dropped, the standard treatment), run count via a
    # lag compare, and the Wald–Wolfowitz moments 2n₁n₂/(n₁+n₂)+1 /
    # the σ² product formula evaluated with identical double
    # parenthesization, NULLIF-guarded, rounded 6 dp.
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ), ch AS (
      SELECT d, y - lag(y) OVER (ORDER BY d) AS dy FROM daily
    ), sg AS (
      SELECT d, CASE WHEN dy > 0 THEN 1 ELSE -1 END AS s
      FROM ch WHERE dy IS NOT NULL AND dy <> 0
    ), runs AS (
      SELECT s, CASE WHEN s = lag(s) OVER (ORDER BY d) THEN 0 ELSE 1 END
               AS new_run
      FROM sg
    ), agg AS (
      SELECT CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(SUM(new_run) AS BIGINT) AS r
      FROM runs
    )
    SELECT n1 AS n_up, n2 AS n_down, r AS n_runs,
           ROUND(2.0 * n1 * n2 / (n1 + n2) + 1.0, 6) AS expected_runs,
           ROUND((r - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
                 / NULLIF(sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                               / (CAST(n1 + n2 AS DOUBLE)
                                  * (n1 + n2) * (n1 + n2 - 1))), 0), 6)
             AS z_score
    FROM agg
    """,
    doc="Wald–Wolfowitz runs test on the daily event-count changes "
    "(SURVEY §2.4 ext — the randomness audit completing the series "
    "family: too FEW runs of up/down days means trending/sticky "
    "load, too many means oscillation; either breaks the i.i.d. "
    "assumption every control-chart threshold silently makes). "
    "Signs from one lag window over the day grid, run count from a "
    "second lag compare, then the exact-integer (n₁, n₂, R) triple "
    "through the closed-form moments. Everything after the one "
    "corpus scan is day-grid-sized.",
)
def q_runs_test(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        table(spark, sf, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count("*").cast("bigint").alias("y"))
    )
    w = Window.orderBy("d")
    ch = daily.select("d", (F.col("y") - F.lag("y").over(w)).alias("dy"))
    sg = ch.filter(F.col("dy").isNotNull() & (F.col("dy") != 0)).select(
        "d", F.when(F.col("dy") > 0, 1).otherwise(-1).alias("s")
    )
    runs = sg.select(
        "s",
        F.when(F.col("s") == F.lag("s").over(w), 0)
        .otherwise(1)
        .alias("new_run"),
    )
    agg = runs.agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
        F.sum("new_run").cast("bigint").alias("r"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1.0
    sigma = F.sqrt(
        2.0
        * n1
        * n2
        * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2).cast("double") * (n1 + n2) * (n1 + n2 - 1))
    )
    return agg.select(
        n1.alias("n_up"),
        n2.alias("n_down"),
        r.alias("n_runs"),
        F.round(mu, 6).alias("expected_runs"),
        F.round((r - mu) / F.nullif(sigma, F.lit(0.0)), 6).alias(
            "z_score"
        ),
    )


@register(
    "q_jackknife_se",
    # Delete-one-block jackknife over 16 deterministic md5 blocks
    # (md5 is bit-identical across engines — the q_sample_hash
    # portability precedent): exact per-block (n, Σcents) in
    # DECIMAL/HUGEINT, every leave-one-out mean derived by DECIMAL
    # subtraction from the grand total (the q_welch_ttest
    # zero-extra-scan posture). Only the 16 pseudo-value deviations
    # and the final sqrt run in double — identical parenthesization,
    # the ≤16-term reassociation absorbed by ROUND 6.
    oracle="""
    WITH b AS (
      SELECT substring(md5(o_orderkey::VARCHAR), 1, 1) AS g,
             CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT) AS c
      FROM orders
    ), per AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n_g, SUM(c) AS s_g
      FROM b GROUP BY g
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS gg,
             CAST(SUM(n_g) AS BIGINT) AS n, SUM(s_g) AS s
      FROM per
    ), loo AS (
      SELECT gg, n, CAST(s AS DOUBLE) / n AS m,
             CAST(s - s_g AS DOUBLE) / (n - n_g) AS m_g
      FROM per CROSS JOIN tot
    )
    SELECT MIN(gg) AS n_blocks, MIN(n) AS n_orders,
           ROUND(MIN(m) / 100.0, 6) AS mean_price,
           ROUND(sqrt((MIN(gg) - 1.0) / MIN(gg)
                      * SUM((m_g - m) * (m_g - m))) / 100.0, 6)
             AS jackknife_se
    FROM loo
    """,
    doc="Delete-one-block jackknife standard error of the mean order "
    "price (SURVEY §2.4 ext — the distributed answer to 'how sure is "
    "this mean': an analytic SE needs distribution assumptions, a "
    "bootstrap needs B resample passes; the block jackknife reads a "
    "model-free SE off the SAME single scan that computes the mean — "
    "the massive-data uncertainty pattern behind the bag-of-little-"
    "bootstraps lineage). 16 deterministic blocks keyed by the first "
    "md5 hex char of the orderkey (md5 is bit-identical across "
    "engines, so the oracle reproduces the exact block membership); "
    "per-block moments are exact integers, every leave-one-out mean "
    "is DECIMAL subtraction against the grand total — one hash-agg "
    "plus a 16-row fold at ANY scale.",
)
def q_jackknife_se(spark: SparkSession, sf: str) -> DataFrame:
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    b = table(spark, sf, "orders").select(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1).alias(
            "g"
        ),
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("c"),
    )
    per = (
        b.groupBy("g")
        .agg(
            F.count("*").alias("n_g"),
            F.sum(dec(F.col("c"))).alias("s_g"),
        )
        .localCheckpoint(eager=True)
    )
    tot = per.agg(
        F.count("*").cast("bigint").alias("gg"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("decimal(38,0)").alias("s"),
    )
    loo = per.crossJoin(F.broadcast(tot)).select(
        "gg",
        "n",
        (F.col("s").cast("double") / F.col("n")).alias("m"),
        (
            (F.col("s") - F.col("s_g")).cast("double")
            / (F.col("n") - F.col("n_g"))
        ).alias("m_g"),
    )
    dev = F.col("m_g") - F.col("m")
    return loo.agg(
        F.min("gg").alias("n_blocks"),
        F.min("n").alias("n_orders"),
        F.round(F.min("m") / F.lit(100.0), 6).alias("mean_price"),
        F.round(
            F.sqrt(
                (F.min("gg") - F.lit(1.0))
                / F.min("gg")
                * F.sum(dev * dev)
            )
            / F.lit(100.0),
            6,
        ).alias("jackknife_se"),
    )


@register(
    "q_entropy_rate",
    # The q_entropy integer-log identity, conditioned: every log2
    # argument is an exact integer count, so the only float drift is
    # the ≤|states| term-sum reassociation, absorbed by ROUND 6. The
    # 'ALL' rate row uses the equivalent one-shot identity
    # H(Y|X) = (Σ_x n_x·log2 n_x − Σ_xy c_xy·log2 c_xy) / N.
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ), pairs AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
    ), per AS (
      SELECT from_type, CAST(SUM(c) AS BIGINT) AS n_x,
             CAST(COUNT(*) AS BIGINT) AS n_next,
             SUM(c * log2(c)) AS s
      FROM pairs GROUP BY from_type
    ), tot AS (
      SELECT CAST(SUM(n_x) AS BIGINT) AS n,
             SUM(n_x * log2(n_x)) AS sn, SUM(s) AS sc
      FROM per
    )
    SELECT from_type, n_x AS n_transitions, n_next AS n_next_types,
           ROUND(log2(n_x) - s / n_x, 6) AS cond_entropy_bits
    FROM per
    UNION ALL
    SELECT 'ALL', n, NULL, ROUND((sn - sc) / n, 6) FROM tot
    """,
    doc="Conditional entropy of the event-transition process "
    "(SURVEY §2.7b ext — the predictability number on top of "
    "q_transition_matrix: H(next|cur) in bits per transition, the "
    "entropy RATE of the first-order Markov chain; 0 = perfectly "
    "scripted flows, log2|types| = memoryless — the journey-"
    "complexity / bot-regularity diagnostic). Per-state rows use "
    "the q_entropy identity H(·|x) = log2 n_x − Σc·log2 c/n_x and "
    "the ALL row the equivalent global identity — every log "
    "argument an exact integer, so the oracle is portable. One "
    "user-keyed window for lead() (the q_lag_delta shape) + two "
    "state-pair-sized aggregates.",
)
def q_entropy_rate(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    e = table(spark, sf, "events")
    seq = e.select(
        "event_type",
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("next_type"),
    )
    pairs = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").alias("c"))
    )
    per = (
        pairs.groupBy("from_type")
        .agg(
            F.sum("c").cast("bigint").alias("n_x"),
            F.count("*").cast("bigint").alias("n_next"),
            F.sum(F.col("c") * F.log2("c")).alias("s"),
        )
        # three consumers (per-state rows, the tot fold, the union);
        # the table is |states|-sized
        .localCheckpoint(eager=True)
    )
    tot = per.agg(
        F.sum("n_x").cast("bigint").alias("n"),
        F.sum(F.col("n_x") * F.log2("n_x")).alias("sn"),
        F.sum("s").alias("sc"),
    )
    per_rows = per.select(
        "from_type",
        F.col("n_x").alias("n_transitions"),
        F.col("n_next").alias("n_next_types"),
        F.round(
            F.log2("n_x") - F.col("s") / F.col("n_x"), 6
        ).alias("cond_entropy_bits"),
    )
    all_row = tot.select(
        F.lit("ALL").alias("from_type"),
        F.col("n").alias("n_transitions"),
        F.lit(None).cast("bigint").alias("n_next_types"),
        F.round(
            (F.col("sn") - F.col("sc")) / F.col("n"), 6
        ).alias("cond_entropy_bits"),
    )
    return per_rows.unionByName(all_row)


@register(
    "q_crosscorr",
    # Same all-integer discipline as q_autocorr: both daily series
    # centered and scaled by N (X = N·x − Sx, Y = N·y − Sy, exact
    # integers; the N² factors cancel in the ratio), cross products
    # summed in DECIMAL(38,0)/HUGEINT, one final double division
    # with identical parenthesization, rounded 6 dp.
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events GROUP BY 1
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy
      FROM daily
    ), c AS (
      SELECT row_number() OVER (ORDER BY d) AS rn,
             CAST(n AS HUGEINT) * x - sx AS cx,
             CAST(n AS HUGEINT) * y - sy AS cy, n
      FROM daily CROSS JOIN tot
    ), den AS (
      SELECT sqrt(CAST(SUM(cx * cx) AS DOUBLE)
                  * CAST(SUM(cy * cy) AS DOUBLE)) AS dd
      FROM c
    ), lags AS (
      SELECT unnest(generate_series(-7, 7)) AS lag
    )
    SELECT l.lag AS lag, MIN(a.n) AS n_days,
           ROUND(CAST(SUM(a.cx * b.cy) AS DOUBLE)
                 / NULLIF(MIN(dd), 0), 6) AS ccf
    FROM lags l
    JOIN c a ON TRUE
    JOIN c b ON b.rn = a.rn + l.lag
    CROSS JOIN den
    GROUP BY l.lag
    """,
    doc="Cross-correlation between the daily 'view' and 'purchase' "
    "series at lags −7..+7 (SURVEY §2.4 ext — the lead/lag companion "
    "of q_autocorr: a positive-lag peak means views LEAD purchases "
    "by that many days, the standard marketing-response and "
    "pipeline-latency diagnostic). Both series come out of the SAME "
    "single events scan (conditional sums per day), then the "
    "q_autocorr all-integer estimator on the pair — the 15-lag "
    "self-join runs over the |days|-row aggregate, never the fact.",
)
def q_crosscorr(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    d19 = lambda col: col.cast("decimal(19,0)")  # noqa: E731
    daily = (
        table(spark, sf, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("bigint")
            .alias("x"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("y"),
        )
        .localCheckpoint(eager=True)
    )
    tot = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    c = daily.crossJoin(F.broadcast(tot)).select(
        F.row_number().over(Window.orderBy("d")).alias("rn"),
        d19(F.col("n") * F.col("x") - F.col("sx")).alias("cx"),
        d19(F.col("n") * F.col("y") - F.col("sy")).alias("cy"),
        "n",
    )
    den = c.agg(
        F.sqrt(
            F.sum(d19(F.col("cx")) * d19(F.col("cx"))).cast("double")
            * F.sum(d19(F.col("cy")) * d19(F.col("cy"))).cast("double")
        ).alias("dd")
    )
    lags = spark.range(-7, 8).select(F.col("id").cast("int").alias("lag"))
    a, b_ = c.alias("a"), c.alias("b")
    return (
        F.broadcast(lags)
        .crossJoin(a)
        .join(b_, F.col("b.rn") == F.col("a.rn") + F.col("lag"))
        .crossJoin(F.broadcast(den))
        .groupBy("lag")
        .agg(
            F.min("a.n").alias("n_days"),
            F.round(
                F.sum(d19(F.col("a.cx")) * d19(F.col("b.cy"))).cast(
                    "double"
                )
                / F.nullif(F.min("dd"), F.lit(0.0)),
                6,
            ).alias("ccf"),
        )
    )


@register(
    "q_time_weighted_avg",
    # Exact trapezoid areas: cents (bigint) x microsecond gaps
    # (bigint) summed in DECIMAL(38,0)/HUGEINT; the single final
    # division is double with identical parenthesization both sides.
    oracle="""
    WITH s AS (
      SELECT user_id, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS c,
             epoch_us(ts) AS tu
      FROM events
    ), d AS (
      SELECT user_id,
             c + lag(c) OVER w AS csum,
             tu - lag(tu) OVER w AS dt
      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_intervals,
           ROUND(CAST(SUM(CAST(csum AS HUGEINT) * dt) AS DOUBLE)
                 / NULLIF(200.0 * CAST(SUM(dt) AS DOUBLE), 0), 6) AS twa,
           ROUND(CAST(SUM(dt) AS DOUBLE) / 86400000000.0, 6) AS span_days
    FROM d WHERE dt IS NOT NULL GROUP BY user_id
    """,
    doc="TIME-weighted average per key (SURVEY §2.4 ext): trapezoidal "
    "integration of value over each user's irregular sample times — "
    "Σ(vᵢ+vᵢ₋₁)/2·Δtᵢ / Σ Δtᵢ. THE correct mean for irregularly-"
    "sampled telemetry (the plain AVG the reference's per-second "
    "merge implies over-weights burst periods; a GPS track's average "
    "speed is exactly this integral). One window pass for the "
    "(lag value, lag time) pairs, one hash-agg of exact integer "
    "areas; the interval table is also what a gap/outage audit "
    "consumes, so at 100 TB this shares its shuffle with "
    "q_session_duration-style keys (same partition key, same sort).",
)
def q_time_weighted_avg(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "user_id",
        "ts",
        "event_id",
        F.expr("cast(round(value * 100) as bigint)").alias("c"),
        F.expr("unix_micros(ts)").alias("tu"),
    )
    d = s.select(
        "user_id",
        (F.col("c") + F.lag("c").over(w)).alias("csum"),
        (F.col("tu") - F.lag("tu").over(w)).alias("dt"),
    ).filter(F.col("dt").isNotNull())
    agg = d.groupBy("user_id").agg(
        F.count("*").alias("n_intervals"),
        # decimal(19,0) × decimal(19,0) → exact decimal(38,0) BEFORE the
        # sum: a BIGINT csum*dt product overflows 2^63 once a key has a
        # multi-year gap (dt ~7.6e13 µs × csum ~1.1e5) — same latent
        # class as the q_skew_kurtosis quartic fix. Oracle mirrors with
        # a HUGEINT product (ADVICE r10).
        F.sum(
            F.col("csum").cast("decimal(19,0)")
            * F.col("dt").cast("decimal(19,0)")
        )
        .cast("double")
        .alias("sa"),
        F.sum(F.col("dt").cast("decimal(38,0)")).cast("double").alias("sdt"),
    )
    return agg.select(
        "user_id",
        "n_intervals",
        F.round(
            F.col("sa") / F.nullif(F.lit(200.0) * F.col("sdt"), F.lit(0.0)),
            6,
        ).alias("twa"),
        F.round(F.col("sdt") / F.lit(86400000000.0), 6).alias("span_days"),
    )


@register(
    "q_countmin_heavy",
    # Same contract shape as the HLL/KLL sketch keys: exact value +
    # within-envelope flag, with the oracle asserting the flag TRUE.
    # The CMS is seeded (42) so the estimate is deterministic; the
    # one-sided guarantee exact <= est <= exact + eps*N is what the
    # flag checks (eps=1e-4, so the slack at sf0.1 is ~60 counts).
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_n,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    """,
    doc="Count-min-sketch frequency estimation (SURVEY §2.4 sketch "
    "tier; df.stat.countMinSketch — the one Spark sketch surface the "
    "HLL/KLL keys don't touch): a seeded CMS over event_type is built "
    "distributed (per-partition sketches, JVM-side treeAggregate "
    "merge — the driver receives ONE ~1 MB sketch, never rows), then "
    "each type's estimate is checked against the exact count and the "
    "CMS guarantee exact ≤ est ≤ exact + eps·N. This is the "
    "frequency-sketch architecture for heavy-hitter monitoring at "
    "100 TB: the sketch is mergeable across executors/days exactly "
    "like the HLL rollup, at O(w·d) bytes regardless of cardinality. "
    "Both driver-side collections are bounded by design: the sketch "
    "is fixed-size, and the probe set is the enum-sized event_type "
    "domain (the 1024-bloom-words argument, plans/relational.py "
    "q_join_bloom).",
)
def q_countmin_heavy(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.operators.sketch_probe import (
        CountMinSketchView,
    )

    e = table(spark, sf, "events")
    # distributed build: per-partition CMS, JVM-side merge; the driver
    # collects ONE fixed-size binary (~1 MB at eps=1e-4), never rows.
    # (PySpark 4 dropped df.stat.countMinSketch.) The probe is the
    # pure-Python CountMinSketchView — Connect-clean, no py4j: the
    # earlier jvm...CountMinSketch.readFrom spelling tied this key to
    # the classic backend (ADVICE r10); tests/test_plans.py pins the
    # Python probe bitwise-equal to the JVM probe on classic sessions.
    buf = (
        e.agg(
            F.count_min_sketch(
                "event_type", F.lit(1e-4), F.lit(0.99), F.lit(42)
            ).alias("s")
        )
        .collect()[0]
        .s
    )
    cms = CountMinSketchView(bytes(buf))
    slack = int(1e-4 * cms.total_count) + 1
    types = sorted(
        r[0] for r in e.select("event_type").distinct().collect()
    )  # bounded: enum-sized domain
    est = spark.createDataFrame(
        [(t, cms.estimate_count(t)) for t in types],
        "event_type string, __est bigint",
    )
    exact = e.groupBy("event_type").agg(F.count("*").alias("exact_n"))
    return exact.join(F.broadcast(est), "event_type").select(
        "event_type",
        "exact_n",
        (
            (F.col("__est") >= F.col("exact_n"))
            & (F.col("__est") - F.col("exact_n") <= F.lit(slack))
        ).alias("within_bound"),
    )


@register(
    "q_theta_sketch_setops",
    # Same exact-value + envelope-flag contract as the HLL/KLL/CMS
    # keys. Theta sketches at the default lgK=12 are in EXACT mode
    # below ~4096 retained entries, and the flag allows the published
    # ~1/sqrt(k) relative error beyond that (5% envelope).
    oracle="""
    WITH per AS (
      SELECT event_type AS op,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
      FROM events GROUP BY event_type
    ), flags AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p,
             MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v
      FROM events WHERE event_type IN ('purchase', 'view')
      GROUP BY user_id
    )
    SELECT op, exact_users, TRUE AS within_5pct FROM per
    UNION ALL
    SELECT 'purchase_union_view', CAST(COUNT(*) AS BIGINT), TRUE FROM flags
    UNION ALL
    SELECT 'purchase_intersect_view',
           CAST(SUM(CASE WHEN p = 1 AND v = 1 THEN 1 ELSE 0 END) AS BIGINT),
           TRUE FROM flags
    UNION ALL
    SELECT 'purchase_minus_view',
           CAST(SUM(CASE WHEN p = 1 AND v = 0 THEN 1 ELSE 0 END) AS BIGINT),
           TRUE FROM flags
    """,
    doc="Theta-sketch distinct counting WITH SET ALGEBRA (SURVEY §2.4 "
    "sketch tier; Spark 4.1 theta_sketch_agg / theta_union / "
    "theta_intersection / theta_difference): per-event-type distinct "
    "users as mergeable sketches, then audience-overlap questions — "
    "users who purchased AND viewed (intersection), purchased OR "
    "viewed (union), purchased but never viewed (difference) — "
    "answered on the KB-sized sketches alone. This is what HLL "
    "cannot do (HLL unions but never intersects) and exactly how "
    "audience-overlap dashboards work at 100 TB: sketches build "
    "partial+final per segment/day, set ops run driver-fast on "
    "binaries, the fact table is scanned once ever. Exact twins "
    "verify every row (the set-op twins ride one flags aggregate).",
)
def q_theta_sketch_setops(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    sk = e.groupBy("event_type").agg(
        F.expr("theta_sketch_agg(user_id)").alias("s")
    )
    exact_per = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    within = lambda est, exact: (  # noqa: E731
        F.abs(est - exact) <= 0.05 * exact
    ) | ((exact == 0) & (est == 0))
    rows_type = exact_per.join(sk, "event_type").select(
        F.col("event_type").alias("op"),
        "exact_users",
        within(
            F.expr("theta_sketch_estimate(s)"), F.col("exact_users")
        ).alias("within_5pct"),
    )
    # the (purchase, view) pair: two 1-row sketch sides, one broadcast
    p = sk.filter(F.col("event_type") == "purchase").select(
        F.col("s").alias("sp")
    )
    v = sk.filter(F.col("event_type") == "view").select(F.col("s").alias("sv"))
    ests = p.crossJoin(F.broadcast(v)).select(
        F.expr("theta_sketch_estimate(theta_union(sp, sv))").alias("u"),
        F.expr("theta_sketch_estimate(theta_intersection(sp, sv))").alias(
            "i"
        ),
        F.expr("theta_sketch_estimate(theta_difference(sp, sv))").alias("d"),
    )
    flags = (
        e.filter(F.col("event_type").isin("purchase", "view"))
        .groupBy("user_id")
        .agg(
            F.max(
                (F.col("event_type") == "purchase").cast("int")
            ).alias("p"),
            F.max((F.col("event_type") == "view").cast("int")).alias("v"),
        )
    )
    exact_ops = flags.agg(
        F.count("*").alias("u_ex"),
        F.sum(((F.col("p") == 1) & (F.col("v") == 1)).cast("int")).alias(
            "i_ex"
        ),
        F.sum(((F.col("p") == 1) & (F.col("v") == 0)).cast("int")).alias(
            "d_ex"
        ),
    )
    combined = exact_ops.crossJoin(F.broadcast(ests))
    rows_ops = combined.selectExpr(
        "stack(3, "
        "'purchase_union_view', cast(u_ex as bigint), u, "
        "'purchase_intersect_view', cast(i_ex as bigint), i, "
        "'purchase_minus_view', cast(d_ex as bigint), d) "
        "AS (op, exact_users, est)"
    ).select(
        "op",
        "exact_users",
        within(F.col("est"), F.col("exact_users")).alias("within_5pct"),
    )
    return rows_type.unionByName(rows_ops)


@register(
    "q_join_lateral",
    oracle="""
    SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice
    FROM orders o JOIN LATERAL (
      SELECT l_linenumber, l_extendedprice FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
      ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2
    ) t ON TRUE
    WHERE o.o_orderstatus = 'F'
    """,
    doc="Correlated LATERAL subquery join (SURVEY §2.3, ext): top-2 "
    "line items per order expressed as the per-row subquery a SQL user "
    "writes — Catalyst de-correlates it into a WindowGroupLimit "
    "(partial top-k before the shuffle) + one equi-join, i.e. exactly "
    "the q_topk_group plan, no per-row execution. The plan shape is "
    "pinned by tests/test_plans.py. Deterministic via the "
    "(price, linenumber) tie-break; exact oracle (DuckDB LATERAL).",
)
def q_join_lateral(spark: SparkSession, sf: str) -> DataFrame:
    table(spark, sf, "orders").createOrReplaceTempView("orders_lat")
    table(spark, sf, "lineitem").createOrReplaceTempView("lineitem_lat")
    return spark.sql(
        """
        SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice
        FROM orders_lat o JOIN LATERAL (
          SELECT l_linenumber, l_extendedprice FROM lineitem_lat l
          WHERE l.l_orderkey = o.o_orderkey
          ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2
        ) t
        WHERE o.o_orderstatus = 'F'
        """
    )


@register(
    "q_ab_assignment",
    # Value sums DECIMAL-stabilized (the family rule); the variant is
    # a pure function of user_id so the same user lands in the same
    # arm in every run, engine, and table — the invariant that makes
    # an experiment analyzable at all.
    oracle="""
    WITH assigned AS (
      SELECT user_id, value,
             CASE WHEN substring(md5('exp1' || CAST(user_id AS VARCHAR)),
                                 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS variant
      FROM events WHERE event_type = 'purchase'
    )
    SELECT variant,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_value
    FROM assigned GROUP BY variant
    """,
    doc="Deterministic A/B assignment + per-arm accounting (SURVEY "
    "§2.9 ext): variant = hash(salt ‖ user_id) — the experiment "
    "primitive. Hash assignment (never rand()) is what guarantees a "
    "user stays in one arm across sessions, tables, engines, and "
    "reruns, and that the split is reproducible for audit; the salt "
    "namespaces concurrent experiments so arms stay independent. "
    "First hex digit < '8' → exactly 1/2 of the hash space per arm; "
    "scan-speed predicate, no shuffle beyond the final accounting.",
)
def q_ab_assignment(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events").filter(F.col("event_type") == "purchase")
    variant = F.when(
        F.substring(
            F.md5(F.concat(F.lit("exp1"), F.col("user_id").cast("string"))), 1, 1
        )
        < "8",
        F.lit("A"),
    ).otherwise(F.lit("B"))
    return (
        e.select(variant.alias("variant"), "user_id", "value")
        .groupBy("variant")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.round("value", 6).cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


@register(
    "q_benford_digits",
    # Leading digit extracted from the INTEGER cents string — never
    # from double formatting (engines print doubles differently).
    # Benford expectation log10(1 + 1/d) is a literal table.
    oracle="""
    WITH d AS (
      SELECT CAST(substring(CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                                 AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice > 0
    ), n AS (SELECT COUNT(*) AS total FROM d)
    SELECT digit,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(COUNT(*) AS DOUBLE) / n.total, 6) AS observed_p,
           ROUND(log10(1.0 + 1.0 / digit), 6) AS benford_p
    FROM d, n GROUP BY digit, n.total
    """,
    doc="Benford leading-digit audit (SURVEY §2.2 ext, the forensic "
    "member of the DQ family): the first-significant-digit "
    "distribution of order totals against Benford's law — the "
    "fraud/fabrication screen auditors run on financial facts "
    "(fabricated numbers over-use middle digits). Digit comes from "
    "the integer-cents STRING (double formatting differs across "
    "engines; bigint strings don't); expectation log10(1+1/d) "
    "computed per row from the digit — one scan + a 9-group agg.",
)
def q_benford_digits(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").cast("string"),
        1,
        1,
    ).cast("int")
    d = o.select(digit.alias("digit"))
    n = d.agg(F.count("*").alias("total"))
    return (
        d.groupBy("digit")
        .agg(F.count("*").alias("n_orders"))
        .crossJoin(F.broadcast(n))
        .select(
            "digit",
            "n_orders",
            F.round(F.col("n_orders").cast("double") / F.col("total"), 6).alias(
                "observed_p"
            ),
            F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("benford_p"),
        )
    )


def _corrupt_jsonl_lines(n: int = 40) -> list[str]:
    """Deterministic mixed-validity JSONL: every 4th line is malformed
    (bare token where a value belongs). Shared by the landing, the
    oracle reduction, and the pytest pin."""
    out = []
    for i in range(n):
        if i % 4 == 3:
            out.append('{"k": %d, "v": oops}' % i)
        else:
            out.append('{"k": %d, "v": %s}' % (i, i / 2))
    return out


def _corrupt_ingest_oracle(n: int = 40) -> str:
    good = [i for i in range(n) if i % 4 != 3]
    return (
        f"SELECT CAST({len(good)} AS BIGINT) AS n_good, "
        f"CAST({n - len(good)} AS BIGINT) AS n_bad, "
        f"CAST({sum(good)} AS BIGINT) AS sum_k"
    )


@register(
    "q_read_corrupt_json",
    oracle=_corrupt_ingest_oracle(),
    doc="Corrupt-record-tolerant ingest (SURVEY §2.1 ext): PERMISSIVE "
    "JSON read with columnNameOfCorruptRecord — malformed lines land "
    "in the corrupt column (their typed fields NULL) instead of "
    "killing the job, and the good/bad accounting is one aggregate. "
    "THE robustness contract of crawl-scale ingest: at 100 TB some "
    "fraction of every feed is garbage, and FAILFAST means the whole "
    "job re-runs for one bad line while DROPMALFORMED silently loses "
    "data — PERMISSIVE + quarantine accounting is the production "
    "posture. Oracle: the landed fixture's known good/bad split as a "
    "literal (the generator is the source of truth).",
)
def q_read_corrupt_json(spark: SparkSession, sf: str) -> DataFrame:
    import os

    out = land_dir("corrupt_json", sf)
    path = os.path.join(out, "mixed.jsonl")
    if not os.path.exists(path):
        os.makedirs(out, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            fh.write("\n".join(_corrupt_jsonl_lines()) + "\n")
        os.replace(tmp, path)
    df = (
        spark.read.schema("k long, v double, _corrupt string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )
    return df.agg(
        F.sum(F.col("_corrupt").isNull().cast("bigint")).alias("n_good"),
        F.sum(F.col("_corrupt").isNotNull().cast("bigint")).alias("n_bad"),
        F.sum(F.when(F.col("_corrupt").isNull(), F.col("k"))).alias("sum_k"),
    )


@register(
    "q_count_distinct_twostage",
    oracle="""
    WITH d AS (
      SELECT DISTINCT o_orderpriority, o_custkey FROM orders
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM d GROUP BY o_orderpriority
    """,
    doc="Two-stage distinct count (SURVEY §2.4 ext) — the skew-proof "
    "spelling of COUNT(DISTINCT v) per key: stage 1 dedups (key, v) "
    "pairs (hash-agg, partials combine map-side, the HOT KEY's "
    "distinct values spread across ALL partitions), stage 2 counts "
    "rows per key. Semantically identical to q_agg_count_distinct; "
    "operationally different at 100 TB under skew: the single-pass "
    "COUNT(DISTINCT) materializes one key's entire distinct SET in "
    "one task's aggregation buffer (the OOM that kills the nightly "
    "job when one tenant is 100x the rest), while the two-stage form "
    "never holds more than a hash-map partition of pairs. The "
    "rewrite IS the fix — registered so the contrast is plan-visible "
    "next to its single-pass twin.",
)
def q_count_distinct_twostage(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders")
    pairs = o.select("o_orderpriority", "o_custkey").distinct()
    return pairs.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_customers")
    )


@register(
    "q_cohort_revenue",
    # month_offset via portable integer arithmetic ((y2-y1)*12 +
    # (m2-m1)) — months_between/datediff('month') disagree across
    # engines on day-of-month edge cases; year/month extraction
    # cannot. Revenue DECIMAL-summed (the q_rfm_segments lesson).
    oracle="""
    WITH firsts AS (
      SELECT o_custkey, MIN(o_orderdate) AS first_dt
      FROM orders GROUP BY o_custkey
    )
    SELECT CAST(date_trunc('month', f.first_dt) AS DATE) AS cohort_month,
           CAST((year(o.o_orderdate) - year(f.first_dt)) * 12
                + (month(o.o_orderdate) - month(f.first_dt)) AS INT)
             AS month_offset,
           CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
           CAST(SUM(CAST(ROUND(o.o_totalprice, 2) AS DECIMAL(18,2)))
                AS DOUBLE) AS revenue
    FROM orders o JOIN firsts f USING (o_custkey)
    GROUP BY 1, 2
    """,
    doc="Cohort revenue matrix (SURVEY §2.7b ext, the revenue twin of "
    "q_retention's activity cohorts): customers grouped by FIRST-order "
    "month, revenue and active count per (cohort, month-offset) cell — "
    "the LTV curve every subscription/commerce analytics stack draws. "
    "One customer-keyed MIN aggregate (broadcast back, it's "
    "customer-sized) + one pass over orders; month arithmetic is "
    "all-integer (year*12+month), revenue is DECIMAL-exact until one "
    "lossless cast.",
)
def q_cohort_revenue(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders")
    firsts = o.groupBy("o_custkey").agg(F.min("o_orderdate").alias("first_dt"))
    j = o.join(firsts, "o_custkey")
    offset = (
        (F.year("o_orderdate") - F.year("first_dt")) * 12
        + (F.month("o_orderdate") - F.month("first_dt"))
    ).cast("int")
    return (
        j.groupBy(
            F.trunc("first_dt", "month").alias("cohort_month"),
            offset.alias("month_offset"),
        )
        .agg(
            F.countDistinct("o_custkey").alias("n_active"),
            F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "q_mom_change",
    # Ratio of two exact-decimal sums, cast losslessly to double,
    # rounded once — no midpoint risk (the ratio is irrational).
    oracle="""
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
             SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    )
    SELECT m, CAST(rev AS DOUBLE) AS revenue,
           ROUND((CAST(rev AS DOUBLE) - CAST(lag(rev) OVER w AS DOUBLE))
                 / CAST(lag(rev) OVER w AS DOUBLE) * 100, 6) AS pct_change
    FROM monthly WINDOW w AS (ORDER BY m)
    """,
    doc="Month-over-month % change (SURVEY §2.7 ext): the reporting "
    "primitive — monthly revenue with lag-based growth rate; first "
    "month NULL (nothing to compare). The window runs over MONTHS "
    "(already aggregate-sized), so the single-partition lag is free at "
    "any scale; the fact scan + one hash-agg dominate.",
)
def q_mom_change(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders")
    monthly = o.groupBy(
        F.trunc("o_orderdate", "month").alias("m")
    ).agg(
        F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)")).alias("rev")
    )
    w = W.orderBy("m")
    rev_d = F.col("rev").cast("double")
    prev_d = F.lag("rev").over(w).cast("double")
    return monthly.select(
        "m",
        rev_d.alias("revenue"),
        F.round((rev_d - prev_d) / prev_d * 100, 6).alias("pct_change"),
    )


@register(
    "q_rfm_segments",
    # ntile needs a TOTAL order to be deterministic: every quartile
    # window tie-breaks on o_custkey. Monetary is DECIMAL(18,2)-summed
    # on BOTH sides (double re-association flipped a cent at 2 dp in
    # the first draft), and the per-segment total stays in exact
    # decimal until one final lossless cast (totals ~1e9 << 2^53; an
    # AVG variant hit a true .xx5 midpoint that the engines round
    # differently on doubles — sums have no midpoints).
    oracle="""
    WITH rfm AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS recency,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2))) AS monetary
      FROM orders GROUP BY o_custkey
    ), scored AS (
      SELECT o_custkey, monetary,
             NTILE(4) OVER (ORDER BY recency, o_custkey) AS r,
             NTILE(4) OVER (ORDER BY frequency, o_custkey) AS f,
             NTILE(4) OVER (ORDER BY monetary, o_custkey) AS m
      FROM rfm
    )
    SELECT CAST(r * 100 + f * 10 + m AS INT) AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monetary) AS DOUBLE) AS sum_monetary
    FROM scored GROUP BY 1
    """,
    doc="RFM segmentation (SURVEY §2.7 ext): the marketing-analytics "
    "staple — per customer recency/frequency/monetary, each cut into "
    "quartiles (ntile over a TOTAL order: metric + custkey tie-break, "
    "or reruns shuffle equal customers between segments), combined "
    "into a 3-digit segment code, then per-segment accounting. One "
    "customer-keyed aggregate + three rank windows over the CUSTOMER "
    "table (already aggregate-sized relative to the fact) — at 100 TB "
    "the orders scan dominates and the windows are noise.",
)
def q_rfm_segments(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("recency"),
        F.count("*").alias("frequency"),
        F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)")).alias("monetary"),
    )
    scored = rfm.select(
        "o_custkey",
        "monetary",
        F.ntile(4).over(W.orderBy("recency", "o_custkey")).alias("r"),
        F.ntile(4).over(W.orderBy("frequency", "o_custkey")).alias("f"),
        F.ntile(4).over(W.orderBy("monetary", "o_custkey")).alias("m"),
    )
    return (
        scored.groupBy(
            (F.col("r") * 100 + F.col("f") * 10 + F.col("m"))
            .cast("int")
            .alias("segment")
        )
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("monetary").cast("double").alias("sum_monetary"),
        )
    )


@register(
    "q_market_basket",
    # lift = (n_ab * N) / (n_a * n_b): all-integer numerator and
    # denominator computed BEFORE one double division → 6-dp round is
    # the only float step, identical both sides.
    oracle="""
    WITH b AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM b),
    items AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item
      FROM b GROUP BY l_partkey
    ), pairs AS (
      SELECT x.l_partkey AS item_a, y.l_partkey AS item_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM b x JOIN b y ON x.l_orderkey = y.l_orderkey
                       AND x.l_partkey < y.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 3
    )
    SELECT p.item_a, p.item_b, p.n_ab,
           ROUND(CAST(p.n_ab * n.n_orders AS DOUBLE)
                 / (ia.n_item * ib.n_item), 6) AS lift
    FROM pairs p
    JOIN items ia ON ia.l_partkey = p.item_a
    JOIN items ib ON ib.l_partkey = p.item_b, n
    """,
    doc="Market-basket frequent pairs + LIFT (SURVEY §2.3/§2.7b ext): "
    "co-occurring parts within an order basket at support ≥ 3, scored "
    "by lift = P(a,b)/(P(a)P(b)) — the co-purchase recommender "
    "primitive (FP-growth's pair tier, which captures most of the "
    "value at a fraction of the machinery). The pair join is quadratic "
    "only WITHIN baskets (~7 items each: ~21 pairs/basket — the "
    "co-shingle shape, linear in baskets); item counts broadcast back; "
    "the global N is a 1-row aggregate. All-integer counts; one "
    "rounded division at the end → exact oracle.",
)
def q_market_basket(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    b = li.select("l_orderkey", "l_partkey").distinct().localCheckpoint(
        eager=True
    )
    n = b.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    items = b.groupBy("l_partkey").agg(F.count("*").alias("n_item"))
    x = b.alias("x")
    y = b.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .groupBy(
            F.col("x.l_partkey").alias("item_a"),
            F.col("y.l_partkey").alias("item_b"),
        )
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    ia = items.select(
        F.col("l_partkey").alias("item_a"), F.col("n_item").alias("n_a")
    )
    ib = items.select(
        F.col("l_partkey").alias("item_b"), F.col("n_item").alias("n_b")
    )
    return (
        pairs.join(ia, "item_a")
        .join(ib, "item_b")
        .crossJoin(F.broadcast(n))
        .select(
            "item_a",
            "item_b",
            "n_ab",
            F.round(
                (F.col("n_ab") * F.col("n_orders")).cast("double")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


@register(
    "q_gap_fill",
    # 'error' events stand in for missing sensor readings (value
    # masked to NULL), then forward-fill per user — Spark last(col,
    # ignorenulls=True) == DuckDB last_value(col IGNORE NULLS) over
    # the identical frame/order. Values pass through unchanged
    # (no arithmetic), so the fill is bit-exact by construction.
    oracle="""
    WITH m AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'error' THEN NULL
                  ELSE value END AS v,
             event_type
      FROM events WHERE user_id % 7 = 0
    )
    SELECT event_id, user_id,
           ROUND(last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
             AS filled_value,
           (v IS NULL) AS was_missing
    FROM m
    """,
    doc="Forward gap-fill (SURVEY §2.7 ext): missing readings (here "
    "'error' events masked to NULL) take the key's LAST KNOWN value — "
    "last(col, ignorenulls=True) over an unbounded-preceding frame, "
    "THE telemetry imputation primitive and the window-function form "
    "of the reference's $CurrentUTC forward-fill "
    "(class.nmea.parser.php:226; the merge pipeline does it "
    "stateful-streaming-style, this is the batch spelling). One "
    "shuffle on the key, one sort, O(1) per row — leading NULLs "
    "before any observation stay NULL (nothing to carry).",
)
def q_gap_fill(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events").filter(F.col("user_id") % 7 == 0)
    # Mask EXACTLY like the oracle's CASE WHEN = 'error' THEN NULL ELSE
    # value: the earlier `when(type != 'error', value)` spelling NULLed
    # a NULL event_type too, where the oracle's ELSE keeps the value —
    # a latent divergence the fixtures never exercised (ADVICE r9).
    v = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
        F.col("value")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.last(v, ignorenulls=True).over(w), 6).alias("filled_value"),
        v.isNull().alias("was_missing"),
    )


# The loud-failure line for the collect-then-fold smoothers (q_ewma /
# q_holt_linear): their documented contract is BOUNDED per-key
# sequences — each key's history materializes as one array in one
# aggregation buffer (~32 B/element: struct(ts, event_id, value)), so
# 1M events/key ≈ 32 MB/row, the sane ceiling before the buffer is a
# memory hazard. The guard is BEST-EFFORT, not a hard memory limit: it
# evaluates on the aggregated row, i.e. AFTER collect_list has built
# the buffer, so it fires only when the job survives to that point —
# a key far enough over the cap can still OOM the executor first
# (ADVICE r15). What it guarantees is that no over-cap result is ever
# silently RETURNED; jobs whose buffers fit fail loudly with a named
# key and a pointer to the fix. Callers for whom the cap must hold
# pre-OOM should run the O(count-only) pre-check themselves
# (events.groupBy(key).count().filter(cnt > cap) — hashes-only
# shuffle) before invoking; the contract keys don't pay that extra
# fact scan on every run. Unbounded keys belong on the shipped
# O(1)-state twin q_stream_tws_ewma.
SMOOTHER_MAX_EVENTS_PER_KEY = 1_000_000


def _smoother_cap_guard(key: str):
    """assert_true bounded-history tripwire (the q_join_spatial loud-
    failure precedent): NULL for in-contract rows (the isNull filter
    keeps them all), raises for an over-cap key."""
    return F.assert_true(
        F.col("n_events") <= F.lit(SMOOTHER_MAX_EVENTS_PER_KEY),
        F.concat(
            F.lit(
                f"{key}: a key exceeds the bounded-per-key-sequence "
                f"contract ({SMOOTHER_MAX_EVENTS_PER_KEY} events) — "
                "use the O(1)-state streaming twin q_stream_tws_ewma "
                "for unbounded keys; offending n_events="
            ),
            F.col("n_events").cast("string"),
        ),
    )


@register(
    "q_ewma",
    # Both engines evaluate EXACTLY the recursion y_t = 0.8*y_{t-1} +
    # 0.2*x_t as a sequential fold over the same (ts, event_id)-sorted
    # list (Spark `aggregate` ≡ DuckDB `list_reduce` with the first
    # element as init — bitwise-equal per the kmeans-oracle evidence).
    # The closed-form window-SUM spelling was REJECTED: it needs
    # (1-α)^(-i) terms that overflow doubles beyond ~700 rows per key.
    # DuckDB decimal trap: bare 0.8 parses as DECIMAL — CAST both
    # literals to DOUBLE or the fold runs in decimal arithmetic.
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(list_reduce(list(CAST(value AS DOUBLE) ORDER BY ts, event_id),
                 (acc, x) -> acc * CAST(0.8 AS DOUBLE)
                             + x * CAST(0.2 AS DOUBLE)), 6) AS ewma
    FROM events GROUP BY user_id
    """,
    doc="Exponentially-weighted moving average per key (SURVEY §2.7 "
    "ext): the telemetry smoother — y_t = (1-α)y_(t-1) + αx_t over "
    "each user's (ts, event_id)-ordered history, α=0.2, evaluated as "
    "a sequential fold so the recursion is EXACT (no float-explosive "
    "closed form). Implementation contract: per-key history collects "
    "into one array, so this is for bounded per-key sequences "
    "(sessions, days), checked by an assert_true tripwire at "
    "SMOOTHER_MAX_EVENTS_PER_KEY — best-effort (it evaluates after "
    "the buffer builds, so it names the offending key whenever the "
    "job survives that far; see _smoother_cap_guard). The "
    "unbounded-stream twin is SHIPPED: "
    "q_stream_tws_ewma (streaming/stateful.py ewma_fold), "
    "a TWS ValueState holding just (n, y_(t-1)) — O(1) per key "
    "forever, bit-identical fold.",
)
def q_ewma(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    g = e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.expr(
            "transform(array_sort(collect_list(struct(ts, event_id, value))),"
            " s -> s.value)"
        ).alias("vals"),
    ).filter(_smoother_cap_guard("q_ewma").isNull())
    return g.select(
        "user_id",
        "n_events",
        F.round(
            F.expr(
                "aggregate(slice(vals, 2, size(vals)), vals[0],"
                " (acc, x) -> acc * 0.8D + x * 0.2D)"
            ),
            6,
        ).alias("ewma"),
    )


@register(
    "q_stats_profile",
    # min/max surfaced as strings so one schema serves every column
    # type; numeric formatting pinned by casting through BIGINT/exact
    # decimals only (o_totalprice is ROUND(...,2) then DECIMAL(18,2)
    # text — both engines print '12345.67').
    oracle="""
    SELECT 'o_custkey' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           CAST(MIN(o_custkey) AS VARCHAR) AS min_val,
           CAST(MAX(o_custkey) AS VARCHAR) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
           CAST(CAST(ROUND(MIN(o_totalprice), 2) AS DECIMAL(18,2)) AS VARCHAR),
           CAST(CAST(ROUND(MAX(o_totalprice), 2) AS DECIMAL(18,2)) AS VARCHAR)
    FROM orders
    """,
    doc="Column PROFILER (SURVEY §2.2 ext, the q_dq_checks companion): "
    "per-column row count, null count, distinct count, min/max — the "
    "first thing anyone runs against an unknown 100 TB table, and the "
    "stats a quality dashboard tracks per ingest batch. ONE pass over "
    "the fact computes every column's metrics side by side (Spark "
    "fuses the aggregates; count-distincts expand per column but "
    "share the scan), then the wide row unpivots to the "
    "column-per-row report shape. min/max stringified so one schema "
    "serves every type.",
)
def q_stats_profile(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders")

    def metrics(c: str, minmax):
        return [
            F.count("*").alias(f"{c}__n"),
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"{c}__n_null"),
            F.countDistinct(c).alias(f"{c}__n_distinct"),
            minmax(F.min(c)).alias(f"{c}__min"),
            minmax(F.max(c)).alias(f"{c}__max"),
        ]

    as_str = lambda col: col.cast("string")  # noqa: E731
    price_str = lambda col: F.round(col, 2).cast("decimal(18,2)").cast(  # noqa: E731
        "string"
    )
    wide = o.agg(
        *metrics("o_custkey", as_str),
        *metrics("o_orderstatus", as_str),
        *metrics("o_totalprice", price_str),
    )
    rows = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col(f"{c}__n").alias("n"),
            F.col(f"{c}__n_null").alias("n_null"),
            F.col(f"{c}__n_distinct").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_val"),
            F.col(f"{c}__max").alias("max_val"),
        )
        for c in ("o_custkey", "o_orderstatus", "o_totalprice")
    ]
    return wide.select(
        F.explode(F.array(*rows)).alias("p")
    ).select("p.*")


@register(
    "q_anomaly_rolling",
    # Band values rounded to 6 dp on BOTH sides before the compare
    # (the q_outliers threshold discipline): window mean/stddev are
    # computed by different incremental algorithms in the two engines
    # (Spark streaming add/remove vs DuckDB segment tree) and agree to
    # ~1e-12 relative — far inside the 1e-6 rounding grain.
    oracle="""
    WITH w AS (
      SELECT user_id, event_id, value,
             COUNT(*) OVER win AS n_win,
             ROUND(AVG(value) OVER win, 6) AS mu,
             ROUND(2 * STDDEV_SAMP(value) OVER win, 6) AS band
      FROM events
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id, ROUND(value, 6) AS value, mu, band
    FROM w
    WHERE n_win >= 10 AND ABS(value - mu) > band
    """,
    doc="Rolling per-key anomaly screen (SURVEY §2.7 ext, the "
    "windowed twin of q_outliers' global bands): per user, a 20-event "
    "trailing mean ± 2σ band over (ts, event_id) order; an event "
    "outside its OWN recent band flags, where a global band would "
    "drown per-user drift. One shuffle on the key, one sort, "
    "incremental frame aggregation — the telemetry/fraud shape that "
    "runs at any scale because state is O(frame) per key. Bands "
    "need ≥10 trailing events (cold keys can't alarm).",
)
def q_anomaly_rolling(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = table(spark, sf, "events")
    win = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, W.currentRow)
    )
    flagged = e.select(
        "user_id",
        "event_id",
        "value",
        F.count("*").over(win).alias("n_win"),
        F.round(F.avg("value").over(win), 6).alias("mu"),
        F.round(2 * F.stddev_samp("value").over(win), 6).alias("band"),
    )
    return flagged.filter(
        (F.col("n_win") >= 10) & (F.abs(F.col("value") - F.col("mu")) > F.col("band"))
    ).select(
        "user_id", "event_id", F.round("value", 6).alias("value"), "mu", "band"
    )


@register(
    "q_outliers",
    oracle="""
    WITH s AS (
      SELECT event_type,
             ROUND(AVG(value) - 1.5 * STDDEV_SAMP(value), 6) AS lo,
             ROUND(AVG(value) + 1.5 * STDDEV_SAMP(value), 6) AS hi
      FROM events GROUP BY 1
    )
    SELECT e.event_type, s.lo, s.hi,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN e.value < s.lo OR e.value > s.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN s USING (event_type)
    GROUP BY 1, 2, 3
    """,
    doc="Statistical outlier screen per group (SURVEY §2.2 ext, the "
    "q_dq_checks sibling): per-event-type mean ± 1.5σ band, then one "
    "pass counting values outside it — the distribution-drift / "
    "bad-sensor gate a pipeline runs alongside domain rules. Two "
    "scans + a GROUP-COUNT-sized broadcast join; at 100 TB the stats "
    "aggregate is map-side-combined and the flagging pass is "
    "scan-speed. Float discipline: both engines compare against the "
    "SAME 6-dp-rounded band (computed once per group), so the "
    "classification is exact given agreement at 6 dp — the "
    "q_knn rounded-ordering pattern applied to thresholds.",
)
def q_outliers(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    mean, sd = F.avg("value"), F.stddev_samp("value")
    stats = e.groupBy("event_type").agg(
        F.round(mean - 1.5 * sd, 6).alias("lo"),
        F.round(mean + 1.5 * sd, 6).alias("hi"),
    )
    outlier = (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))
    return (
        e.join(F.broadcast(stats), "event_type")
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(outlier, 1).otherwise(0)).cast("bigint").alias(
                "n_outliers"
            ),
        )
    )


# Bloom semi-join reduction parameters: 2^16-bit filter (1024 longs —
# ~8 KB riding the plan as a literal), 3 hash functions. For the ~800
# Brand#23 part keys the FP rate is (1 - e^(-3*800/65536))^3 ~ 5e-5;
# the exact semi-join below the filter removes the survivors, so the
# RESULT is exact regardless of FP rate — the bloom only cuts volume.
_BLOOM_BITS = 1 << 16
_BLOOM_WORDS = _BLOOM_BITS // 64
_BLOOM_K = 3


@register(
    "q_join_bloom",
    oracle="""
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(l.l_quantity) AS DOUBLE) AS sum_qty
    FROM lineitem l
    WHERE l.l_partkey IN (SELECT p_partkey FROM part
                          WHERE p_brand = 'Brand#23')
    GROUP BY 1
    """,
    doc="Bloom-filter semi-join reduction (SURVEY §2.3 ext): the "
    "selective dim key set (Brand#23 parts) is folded into a 2^16-bit "
    "Bloom bitmap BY AGGREGATION (explode k hash positions -> bit_or "
    "per 64-bit word — ~1 KB of rows), collected as a bounded driver "
    "scalar (1024 longs, the sanctioned O(1) pattern), and applied to "
    "the fact scan as a literal-array predicate BEFORE any join — so "
    "at 100 TB the ~8 KB filter prunes ~96% of lineitem at scan speed "
    "without shuffling or broadcasting anything fact-sized. False "
    "positives are removed by the exact (broadcast) semi-join above "
    "the pre-filter, so the result is exactly the semi-join + agg the "
    "oracle states. This is the manual form of Spark's runtime bloom "
    "filter join (spark.sql.optimizer.runtime.bloomFilter.*), pinned "
    "here as an explicit operator so the pruning is plan-visible.",
)
def q_join_bloom(spark: SparkSession, sf: str) -> DataFrame:
    dim = (
        table(spark, sf, "part")
        .filter(F.col("p_brand") == "Brand#23")
        .select(F.col("p_partkey").alias("k"))
    )

    def positions(key):
        # k independent bit positions via seeded xxhash64 (pmod keeps
        # them non-negative)
        return [
            F.pmod(F.xxhash64(key, F.lit(i)), F.lit(_BLOOM_BITS))
            for i in range(_BLOOM_K)
        ]

    word_rows = (
        dim.select(F.explode(F.array(*positions(F.col("k")))).alias("pos"))
        .select(
            (F.col("pos") / 64).cast("int").alias("w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))"
            ).alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
        .collect()
    )
    words = [0] * _BLOOM_WORDS
    for r in word_rows:
        words[r["w"]] = r["bits"]
    # The bitmap rides as an INLINE ARRAY LITERAL — the alternatives
    # were measured and rejected on PLAN SHAPE, not just seconds
    # (sf0.1 medians of 5): (a) 1-row broadcast + crossJoin, 1.01s vs
    # 1.32s here — but Catalyst reorders the bitmap cross-join ABOVE
    # the semi-join, so the bloom test no longer prunes the scan and
    # the query's whole pre-exchange contract silently dies (caught by
    # tests/test_plans.py::test_bloom_join_prunes_before_exchange,
    # which resolves node ids, not line positions); (b) scalar
    # subquery `element_at((SELECT bm ...), ...)`, right shape, 1.52s
    # — no codegen bloat but subquery evaluation is slower than the
    # folded constant. The literal's cost (three element_at sites each
    # embedding 8 KB of generated constants) is per-plan compile time,
    # irrelevant at scale.
    bitmap = F.lit(words)

    fact = table(spark, sf, "lineitem").select(
        "l_partkey", "l_returnflag", "l_quantity"
    )
    fact = fact.withColumns(
        {f"_p{i}": pos for i, pos in enumerate(positions(F.col("l_partkey")))}
    )
    might_match = None
    for i in range(_BLOOM_K):
        word = F.element_at(bitmap, (F.col(f"_p{i}") / 64).cast("int") + 1)
        mask = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(_p{i}, 64) AS INT))"
        )
        hit = word.bitwiseAND(mask) != 0
        might_match = hit if might_match is None else (might_match & hit)
    return (
        fact.filter(might_match)  # scan-side prune, no exchange yet
        .drop(*[f"_p{i}" for i in range(_BLOOM_K)])
        .join(F.broadcast(dim), F.col("l_partkey") == F.col("k"), "left_semi")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum("l_quantity").cast("double").alias("sum_qty"),
        )
    )


def bloom_native_join_materialized(spark, sf, force_enabled=True):
    """q_join_bloom's ENGINE-NATIVE twin, materialized eagerly under
    scoped confs (the skew_join_aqe_materialized pattern — the confs
    must be live when the plan is OPTIMIZED, so the action runs inside
    the scope and the snapshot is returned). Spark's InjectRuntimeFilter
    rule builds bloom_filter_agg over the filtered dim's join key and
    plants BloomFilterMightContain(xxhash64(l_partkey)) on the fact
    side of the shuffle join — the automatic form of the hand-rolled
    bitmap above, with zero driver involvement (the sketch rides a
    subquery, never the driver). Smoke-scale scoping: the application-
    side scan threshold (10 GB default — correct in production, where
    a bloom filter on a small scan is pure overhead) drops to 1 byte
    so the sf0.01/0.1 lineitem qualifies, and broadcast is disabled so
    the join is the shuffle join the rule targets. Returns
    ``(snapshot_df, optimized_plan_text)``; the plan text needs the
    classic py4j backend and is None under Spark Connect (values are
    backend-independent)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "1B",
        "spark.sql.optimizer.runtime.bloomFilter."
        "creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    if force_enabled:
        # ON regardless of session default; the plan-pin test's control
        # passes force_enabled=False with the rule disabled session-wide.
        confs["spark.sql.optimizer.runtime.bloomFilter.enabled"] = "true"
    dim = (
        table(spark, sf, "part")
        .filter(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    fact = table(spark, sf, "lineitem").select(
        "l_partkey", "l_returnflag", "l_quantity"
    )
    agg = (
        fact.join(dim, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum("l_quantity").cast("double").alias("sum_qty"),
        )
    )
    with scoped_conf(spark, confs):
        rows = agg.collect()  # 3 return flags — O(1) driver result
        plan = (
            agg._jdf.queryExecution().optimizedPlan().toString()
            if is_classic_session(spark)
            else None
        )
    return spark.createDataFrame(rows, schema=agg.schema), plan


@register(
    "q_join_bloom_native",
    oracle="""
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(l.l_quantity) AS DOUBLE) AS sum_qty
    FROM lineitem l
    WHERE l.l_partkey IN (SELECT p_partkey FROM part
                          WHERE p_brand = 'Brand#23')
    GROUP BY 1
    """,
    doc="ENGINE-NATIVE runtime bloom-filter join (SURVEY §2.3 ext, the "
    "automatic twin of q_join_bloom's hand-rolled bitmap): with "
    "spark.sql.optimizer.runtime.bloomFilter.enabled, Catalyst's "
    "InjectRuntimeFilter rewrites the selective-dim shuffle join to "
    "build bloom_filter_agg(xxhash64(p_partkey)) over the filtered "
    "creation side and plant BloomFilterMightContain on the fact "
    "scan — pruning ~96% of lineitem before the exchange with no "
    "driver collect, no manual bitmap, and executor-side sketch "
    "merge. tests/test_plans.py pins both bloom_filter_agg and "
    "BloomFilterMightContain in the optimized plan. p_partkey is "
    "unique, so the inner join is row-identical to the oracle's "
    "semi-join. At 100 TB the thresholds revert to their production "
    "defaults (10 GB application-side scan) and the rule fires "
    "exactly where it pays; false positives are removed by the exact "
    "join above the injected filter.",
)
def q_join_bloom_native(spark: SparkSession, sf: str) -> DataFrame:
    snapshot, _plan = bloom_native_join_materialized(spark, sf)
    return snapshot


@register(
    "q_rolling_quantile",
    oracle="""
    SELECT event_id, user_id,
           ROUND(quantile_cont(value, 0.5) OVER w, 4) AS roll_median,
           ROUND(quantile_cont(value, 0.9) OVER w, 4) AS roll_p90
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)
    """,
    doc="Rolling EXACT order statistics (trailing-25-row median and p90 "
    "per user) — the window-frame family's quantile member, which no "
    "running-aggregate rewrite covers (SURVEY §2.7; complements "
    "q_win_frames' sum/avg/first/last). Spark's exact `percentile` with "
    "linear interpolation over a ROWS frame == DuckDB quantile_cont. "
    "One user-keyed shuffle + sort; the frame bound keeps per-row work "
    "O(frame), so at 100 TB cost is rows x frame within each user "
    "partition — no global sort, no Python. The production knob is the "
    "frame width, not the node count; skewed users are bounded by the "
    "per-user event cap upstream.",
)
def q_rolling_quantile(spark: SparkSession, sf: str) -> DataFrame:
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-24, W.currentRow)
    )
    e = table(spark, sf, "events")
    return e.select(
        "event_id",
        "user_id",
        F.round(F.expr("percentile(value, 0.5)").over(w), 4).alias("roll_median"),
        F.round(F.expr("percentile(value, 0.9)").over(w), 4).alias("roll_p90"),
    )


@register(
    "q_approx_top_k",
    # approx_top_k is EXACT whenever maxItemsTracked >= the column's
    # distinct count (the sketch never evicts): 5 event_types against
    # maxItemsTracked=10000 -> counts equal the exact GROUP BY, making
    # the full value oracle valid at every fixture SF. k = the distinct
    # count (5), so the SELECTION is total — a count tie at a k < n
    # boundary would let the sketch and the oracle legitimately pick
    # different items (the sketch's boundary choice is unspecified);
    # with k = n the only freedom left is ORDER, which the explicit
    # (count desc, item) rank pins identically on both sides.
    oracle="""
    WITH c AS (
      SELECT event_type AS item, CAST(COUNT(*) AS BIGINT) AS est_count
      FROM events GROUP BY 1
    )
    SELECT CAST(row_number() OVER (ORDER BY est_count DESC, item) AS INT) AS rnk,
           item, est_count
    FROM c ORDER BY rnk
    """,
    doc="Sketch-tier heavy hitters: approx_top_k over event_type, the "
    "result array exploded to (rank, item, count) rows (SURVEY §2.4 "
    "approx family, beside approx_count_distinct/approx_percentile/"
    "HLL). At 100 TB the sketch is the point: a bounded "
    "maxItemsTracked summary merges map-side (one row per partition "
    "crosses the wire) where the exact GROUP BY would shuffle every "
    "distinct key; on this low-cardinality fixture the sketch is "
    "provably exact, so the key carries a full value oracle rather "
    "than a rows-only one.",
)
def q_approx_top_k(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    topk = e.agg(F.expr("approx_top_k(event_type, 5, 10000)").alias("tk"))
    return (
        topk.select(F.explode("tk").alias("entry"))
        .select(
            F.col("entry.item").alias("item"),
            F.col("entry.count").alias("est_count"),
        )
        # the sketch emits count-desc already; rank with an explicit
        # item tie-break so ties cannot flip rows vs the oracle
        .select(
            F.row_number()
            .over(W.orderBy(F.col("est_count").desc(), "item"))
            .cast("int")
            .alias("rnk"),
            "item",
            "est_count",
        )
    )


@register(
    "q_bitmap_distinct",
    oracle="""
    SELECT c.c_nationkey,
           CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_buyers
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
    doc="EXACT distinct counting via mergeable roaring-style bitmaps "
    "(Spark 4 bitmap_construct_agg / bitmap_or_agg / bitmap_count — "
    "SURVEY §2.4 beside the HLL sketch, which trades exactness for "
    "fixed size): per (nation, month-segment, 32k-id bucket) the buyer "
    "ids aggregate into a bitmap; segments then merge with bitwise OR "
    "and the per-bucket cardinalities sum. Counts are EXACT — the "
    "bitmap is a set, not an estimator — so the oracle is the plain "
    "COUNT(DISTINCT). The 100 TB pattern: per-day segment bitmaps are "
    "landed ONCE at ingest (map-side-combinable, one bitmap row per "
    "(segment, bucket) crosses the wire instead of every distinct id), "
    "and any later slice's exact distinct count is an OR over "
    "pre-built bitmaps — no fact re-scan, unlike COUNT(DISTINCT) "
    "whose expand+shuffle re-reads the fact every query; the id-bucket "
    "dimension bounds each bitmap at 32k bits regardless of id range.",
)
def q_bitmap_distinct(spark: SparkSession, sf: str) -> DataFrame:
    o = table(spark, sf, "orders").select("o_custkey", "o_orderdate")
    c = table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    fact = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    segments = fact.groupBy(
        "c_nationkey",
        F.month("o_orderdate").alias("seg"),
        F.expr("bitmap_bucket_number(o_custkey)").alias("bkt"),
    ).agg(F.expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))").alias("bm"))
    merged = segments.groupBy("c_nationkey", "bkt").agg(
        F.expr("bitmap_or_agg(bm)").alias("bm")
    )
    return merged.groupBy("c_nationkey").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias("n_buyers")
    )


@register(
    "q_read_xml",
    oracle="""
    SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n_nations,
           MIN(n_name) AS first_name
    FROM nation GROUP BY n_regionkey
    """,
    doc="XML source round-trip (SURVEY §2.1): nation dim → row-tagged "
    "XML on disk → spark.read.format('xml') with an EXPLICIT schema "
    "(the engine's schema discipline — inference is a full extra pass) "
    "→ grouped aggregate. spark-xml is built into Spark 4 (no external "
    "package), rounding out the text-format family beside JSON/CSV; "
    "integers and strings survive the round-trip exactly → full oracle "
    "over the original table. At 100 TB XML is an INGEST format, not a "
    "working one: the pattern is land → parse with explicit schema → "
    "rewrite columnar, exactly what this key's plan does before the "
    "aggregate.",
)
def q_read_xml(spark: SparkSession, sf: str) -> DataFrame:
    import os

    out = land_dir("xml", sf)
    # _SUCCESS written last: a killed writer leaves no marker and the
    # next caller rewrites instead of reading a partial directory
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        (
            table(spark, sf, "nation")
            .select("n_nationkey", "n_name", "n_regionkey")
            .write.mode("overwrite")
            .option("rowTag", "nation")
            .format("xml")
            .save(out)
        )
    n = (
        spark.read.schema("n_nationkey int, n_name string, n_regionkey int")
        .option("rowTag", "nation")
        .format("xml")
        .load(out)
    )
    return n.groupBy("n_regionkey").agg(
        F.count("*").alias("n_nations"), F.min("n_name").alias("first_name")
    )


@register(
    "q_from_xml",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
    doc="Scalar XML parse (Spark 4 from_xml/to_xml, SURVEY §2.6): each "
    "nation row serialized to an XML fragment and parsed back with an "
    "explicit schema — the per-message twin of the file-level XML "
    "round-trip (q_read_xml), i.e. the shape of an XML payload column "
    "landing from a queue. Lossless for the typed fields → oracle is "
    "the original projection.",
)
def q_from_xml(spark: SparkSession, sf: str) -> DataFrame:
    n = table(spark, sf, "nation").select(
        "n_nationkey",
        F.to_xml(F.struct("n_name", "n_regionkey")).alias("xml"),
    )
    parsed = n.select(
        "n_nationkey",
        F.from_xml("xml", "n_name string, n_regionkey int").alias("v"),
    )
    return parsed.select(
        "n_nationkey", F.col("v.n_name").alias("n_name"),
        F.col("v.n_regionkey").alias("n_regionkey"),
    )


@register(
    "q_observe_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS sum_price,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_finished
    FROM orders
    """,
    doc="Pipeline observability via the Observation API (SURVEY §2.6/"
    "§4.2): named metrics attached to a pass-through node "
    "(df.observe) are accumulated AS A SIDE EFFECT of the normal "
    "action — zero extra scan, the production pattern for row-count /"
    "quality-gate telemetry on a 100 TB write (vs a separate audit "
    "query that doubles the read). The observed frame is driven "
    "through the noop sink; the harvested metrics are returned as a "
    "1-row frame with a plain-aggregate oracle proving the "
    "side-channel equals the ground truth.",
)
def q_observe_metrics(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Observation

    obs = Observation("order_gate")
    o = table(spark, sf, "orders").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias(
            "n_finished"
        ),
    )
    o.write.format("noop").mode("overwrite").save()  # the real action
    row = obs.get
    return spark.createDataFrame(
        [(int(row["n_rows"]), float(row["sum_price"]), int(row["n_finished"]))],
        "n_rows bigint, sum_price double, n_finished bigint",
    )


@register(
    "q_compaction",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids,
           ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY event_type
    """,
    doc="Small-file COMPACTION (SURVEY §2.1 ext, the maintenance twin "
    "of q_rebalance_write): a 64-file fragmented landing is re-read "
    "and rewritten into ceil(bytes/4 MiB) right-sized files — the "
    "OPTIMIZE/compact job every lakehouse runs, because at 100 TB the "
    "small-file problem is quadratic pain (NameNode/manifest pressure, "
    "a task per splinter file, dead scan parallelism). Sizing comes "
    "from the actual landed bytes, not row counts — the one number "
    "that tracks compression. Round-trip is lossless → plain-aggregate "
    "oracle over the source; the file-count collapse itself is "
    "pytest-pinned.",
)
def q_compaction(spark: SparkSession, sf: str) -> DataFrame:
    import glob as _glob
    import math
    import os
    import uuid

    base = os.path.join(land_dir("compact", sf), uuid.uuid4().hex)
    small = os.path.join(base, "small")
    compacted = os.path.join(base, "compacted")
    ev = table(spark, sf, "events").select(
        "event_id", "event_type", "value"
    )
    ev.repartition(64).write.parquet(small)  # the fragmented landing
    src = spark.read.parquet(small)
    n_bytes = sum(
        os.path.getsize(p) for p in _glob.glob(os.path.join(small, "*.parquet"))
    )
    n_files = max(1, math.ceil(n_bytes / (4 * 1024 * 1024)))
    src.repartition(n_files).write.parquet(compacted)
    return (
        spark.read.parquet(compacted)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("event_id").alias("n_ids"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    "q_rebalance_write",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY event_type
    """,
    doc="REBALANCE write layout (SURVEY §2.1/§4.2): the events fact is "
    "written partitionBy(event_type) behind a REBALANCE(event_type) "
    "hint — AQE sizes the shuffle so every output partition directory "
    "gets evenly-sized files (splitting oversized reducers when "
    "optimizeSkewsInRebalancePartitions is on), the production fix "
    "for the small-files / straggler-writer problem a plain "
    "partitionBy write has under key skew. Plan carries "
    "REBALANCE_PARTITIONS_BY_COL (pinned by tests/test_plans.py); "
    "round-trip is lossless → plain-aggregate oracle over the source.",
)
def q_rebalance_write(spark: SparkSession, sf: str) -> DataFrame:
    import os

    out = land_dir("rebal", sf)
    ev = table(spark, sf, "events")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        (
            ev.hint("rebalance", "event_type")
            .write.mode("overwrite")
            .partitionBy("event_type")
            .parquet(out)
        )
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
    )


@register(
    "q_metadata_cols",
    # The landed file is written coalesce(1) + sortWithinPartitions
    # (event_id), so _metadata.row_index == rank-by-event_id - 1 by
    # construction; the oracle re-derives it with a window.
    oracle="""
    WITH ranked AS (
      SELECT event_id,
             ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS ri
      FROM events
    )
    SELECT CAST(FLOOR(ri / 1000) AS BIGINT) AS block,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(event_id) AS BIGINT) AS first_event,
           CAST(MAX(event_id) AS BIGINT) AS last_event
    FROM ranked GROUP BY 1
    """,
    doc="Hidden _metadata lineage columns (SURVEY §2.1): every file "
    "source exposes _metadata.file_path/file_name/file_size/"
    "row_index without storing them — the provenance surface a "
    "100 TB pipeline uses to trace a bad record back to its source "
    "file and row position, or to build dedup keys that survive "
    "reprocessing (file identity + row index). Here events are "
    "landed as one ordered file and read back with "
    "_metadata.row_index aggregated into 1000-row blocks; the "
    "landed order makes row_index == rank(event_id)-1, giving an "
    "exact oracle via a window over the source.",
)
def q_metadata_cols(spark: SparkSession, sf: str) -> DataFrame:
    import os

    out = land_dir("metacols", sf)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        (
            table(spark, sf, "events")
            .select("event_id")
            .coalesce(1)
            .sortWithinPartitions("event_id")
            .write.mode("overwrite")
            .parquet(out)
        )
    back = spark.read.parquet(out).select(
        "event_id", F.col("_metadata.row_index").alias("ri")
    )
    return (
        back.groupBy(F.floor(F.col("ri") / 1000).alias("block"))
        .agg(
            F.count("*").alias("n"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
    )


@register(
    "q_session_dynamic_gap",
    # Spark merge rule (probed, r8): an event EXTENDS the session when
    # ts <= the running max of previous interval ends (boundary
    # equality merges); the merged session's end is the MAX of its
    # events' individual ts+gap ends (an early long-gap event can
    # outlast later short-gap ones). The oracle is the classic
    # interval-merge: flag rows where ts > max-end-so-far, running-sum
    # the flags into session ids, then aggregate.
    oracle="""
    WITH iv AS (
      SELECT user_id, ts, event_id,
             ts + CASE WHEN event_type IN ('click', 'view')
                       THEN INTERVAL 10 MINUTE
                       ELSE INTERVAL 45 MINUTE END AS iv_end
      FROM events
    ), flagged AS (
      SELECT user_id, ts, event_id, iv_end,
             CASE WHEN MAX(iv_end) OVER w IS NULL
                  OR ts > MAX(iv_end) OVER w THEN 1 ELSE 0 END AS new_s
      FROM iv
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), sess AS (
      -- the sid window must order EXACTLY like the flag window (ts,
      -- event_id) — ordering by iv_end here could assign same-ts rows
      -- to sessions in a different order than their flags (ADVICE r8)
      SELECT user_id, ts, iv_end,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(iv_end) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
    doc="Dynamic-gap sessionization via session_window with a per-row "
    "gap EXPRESSION (SURVEY §2.7 ext): engaged event types (click/view) "
    "close after 10 idle minutes, heavyweight ones (signup/purchase/"
    "error) hold the session 45 — the per-event-class timeout rule "
    "every product-analytics stack wants and constant-gap sessionize "
    "(q_sessionize) cannot express. The engine's native session_window "
    "merges overlapping [ts, ts+gap) intervals per key in one shuffle "
    "(same single-exchange shape as a groupBy); the streaming twin "
    "(q_stream_session_true) shares the operator, so batch backfill "
    "and live cut agree by construction. Oracle: interval-merge via "
    "running-max-end flag + running-sum ids (merge rule probed against "
    "the engine, boundary equality merges).",
)
def q_session_dynamic_gap(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    gap = (
        F.when(F.col("event_type").isin("click", "view"), F.lit("10 minutes"))
        .otherwise(F.lit("45 minutes"))
    )
    return (
        ev.groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "q_window_time",
    # 21600000000 us = 6 h. DuckDB's make_timestamp(BIGINT) takes
    # microseconds since epoch; integer floor-div reproduces the
    # engine's tumbling-window assignment exactly, and window_time is
    # definitionally end - 1 microsecond (the largest event time the
    # window contains — the value downstream event-time operators chain
    # on).
    oracle="""
    SELECT make_timestamp((epoch_us(ts) // 21600000000) * 21600000000)
             AS win_start,
           make_timestamp((epoch_us(ts) // 21600000000) * 21600000000
                          + 21600000000 - 1) AS event_time,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling-window aggregation projected through window_time() "
    "(SURVEY §2.7 ext): the 6-hour rollup plus the window's "
    "event-time representative (end - 1 microsecond) — the column a "
    "second-tier windowed aggregation or an event-time join keys on "
    "when windowed results re-enter an event-time pipeline (the "
    "streaming cascade idiom; here on data at rest, same operator). "
    "Pure hash aggregate on the derived window — one shuffle, no "
    "window function. Oracle: epoch-microsecond floor arithmetic.",
)
def q_window_time(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.window_time("window").alias("event_time"),
            "n",
            "sum_value",
        )
    )


@register(
    "q_join_asof_nearest",
    oracle="""
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), purch AS (
      SELECT user_id, ts, ROUND(SUM(value), 2) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    ), prev AS (
      SELECT c.event_id, c.user_id, c.ts, p.ts AS pts, p.purchase_value AS pv
      FROM clicks c ASOF LEFT JOIN purch p
        ON c.user_id = p.user_id AND c.ts >= p.ts
    ), bracketed AS (
      SELECT pr.event_id, pr.user_id, pr.ts, pr.pts, pr.pv,
             n.ts AS nts, n.purchase_value AS nv
      FROM prev pr ASOF LEFT JOIN purch n
        ON pr.user_id = n.user_id AND pr.ts <= n.ts
    )
    SELECT event_id, user_id,
           CASE WHEN pts IS NOT NULL AND (nts IS NULL
                     OR epoch_us(ts) - epoch_us(pts)
                        <= epoch_us(nts) - epoch_us(ts))
                THEN pts ELSE nts END AS near_ts,
           CASE WHEN pts IS NOT NULL AND (nts IS NULL
                     OR epoch_us(ts) - epoch_us(pts)
                        <= epoch_us(nts) - epoch_us(ts))
                THEN pv ELSE nv END AS near_purchase_value
    FROM bracketed
    WHERE pts IS NOT NULL OR nts IS NOT NULL
    """,
    doc="NEAREST-direction as-of join (SURVEY §2.3 ext): each click "
    "matched to the user's closest purchase in TIME — either side; "
    "equidistant ties resolve to the earlier purchase. The backward "
    "twin is q_join_asof; nearest is what sensor-fusion / "
    "feature-attach pipelines want when the reference signal brackets "
    "the observation (pandas merge_asof direction='nearest', "
    "distributed). One union + one hash shuffle on user_id + two "
    "ordered window passes (backward last / forward first — no second "
    "Exchange, no theta join; operators/asof.py asof_nearest_join). "
    "Oracle: two native DuckDB ASOF joins (>= and <=) + the same "
    "epoch-microsecond tie-break CASE.",
)
def q_join_asof_nearest(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.operators.asof import asof_nearest_join

    e = table(spark, sf, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.round(F.sum("value"), 2).alias("purchase_value"))
    )
    return asof_nearest_join(clicks, purch, by=["user_id"], ts_col="ts").select(
        "event_id", "user_id", "near_ts", "near_purchase_value"
    )


@register(
    "q_listagg",
    oracle="""
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           string_agg(s.s_name, ',' ORDER BY s.s_name) AS supplier_csv
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    doc="ANSI LISTAGG ... WITHIN GROUP (Spark 4 SQL surface, SURVEY "
    "§2.4): per-nation ordered CSV of supplier names — the "
    "report-formatting aggregate every warehouse migration needs, "
    "previously only expressible as array_sort(collect_list(...)) + "
    "array_join. The WITHIN GROUP order makes the result "
    "deterministic under parallelism (the bare collect_list is NOT); "
    "it is still one hash aggregate with map-side partials — the "
    "per-group sort happens inside the agg buffer, never as a global "
    "sort. At 100 TB the caveat is group VALUE size (a CSV of a "
    "billion-row group is a driver-killer) — the operator is for "
    "bounded groups, like every string_agg. Oracle: DuckDB "
    "string_agg with ORDER BY (same semantics).",
)
def q_listagg(spark: SparkSession, sf: str) -> DataFrame:
    s = table(spark, sf, "supplier")
    n = table(spark, sf, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.expr(
                "listagg(s_name, ',') WITHIN GROUP (ORDER BY s_name)"
            ).alias("supplier_csv"),
        )
    )


@register(
    "q_identifier_clause",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders GROUP BY o_orderpriority
    """,
    doc="IDENTIFIER() clause (Spark 4 SQL surface, SURVEY §2.6): "
    "table AND column names passed as query PARAMETERS — "
    "constant-expression identifiers resolved at analysis time, the "
    "SQL-injection-safe way to template object names (vs string "
    "concatenation into SQL text, which Spark's parameter markers "
    "rightly refuse for identifiers). The templated query here picks "
    "both the fact table and the measure column via :params; the "
    "plan is identical to the literal query (verified by the "
    "oracle), so the indirection is free at any scale.",
)
def q_identifier_clause(spark: SparkSession, sf: str) -> DataFrame:
    _views(spark, sf, "orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(SUM(IDENTIFIER(:measure)), 2) AS total_price
        FROM IDENTIFIER(:tbl) GROUP BY o_orderpriority
        """,
        args={"measure": "o_totalprice", "tbl": "orders"},
    )


@register(
    "q_bootstrap_ci",
    # One-pass POISSON BOOTSTRAP with fully deterministic resampling:
    # the per-(event, replica) weight is the inverse-CDF of Poisson(1)
    # applied to an md5-derived uniform (conv(md5-prefix,16,10)/2^32 —
    # bit-identical both engines), with the CDF thresholds spelled as
    # identical double literals, so every weight is the SAME integer
    # in Spark and DuckDB. Replica sums are exact bigints (cents x
    # weights); the 32 replica means are exact-integer ratios; the CI
    # picks ranks 2 and 31 of the (mean, replica) total order — no
    # randomness, no float accumulation, full value oracle.
    oracle="""
    WITH r AS (
      SELECT e.event_id, CAST(round(e.value * 100) AS BIGINT) AS c, t.r,
             CAST(CONCAT('0x', substring(
               md5(CONCAT(CAST(e.event_id AS VARCHAR), ':',
                          CAST(t.r AS VARCHAR))), 1, 8)) AS BIGINT)
               / 4294967296.0 AS u
      FROM events e, UNNEST(generate_series(1, 32)) AS t(r)
    ), w AS (
      SELECT r, c,
             CASE WHEN u < 0.36787944117144233 THEN 0
                  WHEN u < 0.7357588823428846 THEN 1
                  WHEN u < 0.9196986029286058 THEN 2
                  WHEN u < 0.9810118431238462 THEN 3
                  WHEN u < 0.9963401531726563 THEN 4
                  WHEN u < 0.9994058151824183 THEN 5
                  ELSE 6 END AS wt
      FROM r
    ), reps AS (
      SELECT r, CAST(SUM(wt * c) AS BIGINT) AS s,
             CAST(SUM(wt) AS BIGINT) AS n
      FROM w GROUP BY r
    ), ranked AS (
      SELECT CAST(s AS DOUBLE) / n AS m,
             row_number() OVER (ORDER BY CAST(s AS DOUBLE) / n, r) AS rn
      FROM reps
    ), base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS tot
      FROM events
    )
    SELECT b.n_events,
           ROUND(CAST(b.tot AS DOUBLE) / b.n_events / 100.0, 6)
             AS mean_value,
           ROUND((SELECT m FROM ranked WHERE rn = 2) / 100.0, 6) AS ci_lo,
           ROUND((SELECT m FROM ranked WHERE rn = 31) / 100.0, 6) AS ci_hi
    FROM base b
    """,
    doc="Poisson-bootstrap confidence interval for the mean event "
    "value (SURVEY §2.4 ext — the uncertainty primitive every "
    "metric/experiment pipeline needs at 100 TB, where classic "
    "resampling is impossible but the ONE-PASS Poisson bootstrap "
    "(Chamandy et al. 2012) is exactly a weighted aggregate: each "
    "row joins every replica with an independent Poisson(1) weight, "
    "computed here DETERMINISTICALLY from an md5-derived uniform "
    "through the inverse CDF — reproducible across engines, runs, "
    "and partitionings, unlike rand()-based resampling). Replica "
    "sums are exact integers; the percentile CI is a rank pick over "
    "the 32 replica means. The 32x row expansion is map-side only "
    "(explode + hash-agg with partial aggregation) — no shuffle "
    "grows with the replica count.",
)
def q_bootstrap_ci(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events").select(
        "event_id", F.expr("cast(round(value * 100) as bigint)").alias("c")
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("event_id").cast("string"),
                        F.col("r").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(4294967296.0)
    )
    # Poisson(1) inverse CDF, thresholds as shared double literals
    wt = (
        F.when(F.col("u") < 0.36787944117144233, 0)
        .when(F.col("u") < 0.7357588823428846, 1)
        .when(F.col("u") < 0.9196986029286058, 2)
        .when(F.col("u") < 0.9810118431238462, 3)
        .when(F.col("u") < 0.9963401531726563, 4)
        .when(F.col("u") < 0.9994058151824183, 5)
        .otherwise(6)
    )
    # r17 optimization (guide §2.2/§6): events is ONE scan split at
    # bench SFs, so the 32x explode + md5 inverse-CDF evaluation ran
    # on a single core (executorCpuTime ≈ wall ≈ 2.9 s). spread_scan
    # hash-repartitions on the unique event_id ONLY when the scan is
    # narrower than the core budget — a no-op at production split
    # counts. Replica sums are exact bigints — placement cannot move
    # them.
    reps = (
        spread_scan(ev, "event_id")
        .select("event_id", "c", F.explode(F.sequence(F.lit(1), F.lit(32))).alias("r"))
        .withColumn("u", u)
        .withColumn("wt", wt)
        .groupBy("r")
        .agg(
            F.sum(F.col("wt") * F.col("c")).cast("bigint").alias("s"),
            F.sum("wt").cast("bigint").alias("n"),
        )
    )
    ranked = reps.select(
        (F.col("s").cast("double") / F.col("n")).alias("m"),
        "r",
    ).select(
        "m",
        F.row_number()
        .over(W.orderBy("m", "r"))  # 32 rows — replica-sized window
        .alias("rn"),
    )
    # r17 optimization (guide §5 / §7.2 duplicated-subtree rule): the
    # former per-rank filters (rn=2 / rn=31) rode TWO separate
    # broadcast subtrees, each re-deriving the whole 32x md5 expansion
    # + range window from the parquet scan (ReuseExchange does not
    # fire across independently-planned broadcast subqueries — the
    # formatted plan showed 3 scans and 2 Generates). ONE
    # conditional aggregate picks both ranks from a single derivation:
    # exactly one row carries each rank (row_number is distinct), so
    # min(when(rn=k, m)) IS that row's m — values identical.
    ci = ranked.agg(
        F.min(F.when(F.col("rn") == 2, F.col("m"))).alias("lo"),
        F.min(F.when(F.col("rn") == 31, F.col("m"))).alias("hi"),
    )
    base = table(spark, sf, "events").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.expr("cast(round(value * 100) as bigint)"))
        .cast("bigint")
        .alias("tot"),
    )
    return (
        base.crossJoin(F.broadcast(ci))
        .select(
            "n_events",
            F.round(
                F.col("tot").cast("double") / F.col("n_events") / 100.0, 6
            ).alias("mean_value"),
            F.round(F.col("lo") / 100.0, 6).alias("ci_lo"),
            F.round(F.col("hi") / 100.0, 6).alias("ci_hi"),
        )
    )


@register(
    "q_kendall_tau",
    # Kendall's tau-b between daily event count and daily revenue:
    # the fact collapses to a |days|-row aggregate (the q_autocorr
    # posture), every pair of days is classified
    # concordant/discordant/tied with EXACT integer comparisons
    # (counts and cents), and tau-b's normalization is the only
    # double — identical parenthesization, NULLIF-guarded, 6 dp.
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(COUNT(*) AS BIGINT) AS x,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1
    ), p AS (
      -- sign-compare, never the raw difference product: (x-diff)*(y-diff)
      -- can overflow BIGINT on large daily cent sums (ADVICE r13)
      SELECT CAST(SUM(CASE WHEN (CASE WHEN a.x > b.x THEN 1
                                      WHEN a.x < b.x THEN -1 ELSE 0 END)
                          * (CASE WHEN a.y > b.y THEN 1
                                  WHEN a.y < b.y THEN -1 ELSE 0 END) > 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(SUM(CASE WHEN (CASE WHEN a.x > b.x THEN 1
                                      WHEN a.x < b.x THEN -1 ELSE 0 END)
                          * (CASE WHEN a.y > b.y THEN 1
                                  WHEN a.y < b.y THEN -1 ELSE 0 END) < 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS dd,
             CAST(SUM(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT)
               AS tx,
             CAST(SUM(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT)
               AS ty,
             CAST(COUNT(*) AS BIGINT) AS n0
      FROM d a JOIN d b ON a.day < b.day
    )
    SELECT n0 AS n_pairs, c AS concordant, dd AS discordant,
           ROUND((c - dd) / NULLIF(sqrt(CAST(n0 - tx AS DOUBLE)
                                        * CAST(n0 - ty AS DOUBLE)), 0.0),
                 6) AS tau_b
    FROM p
    """,
    doc="Kendall rank correlation (tau-b) between daily event volume "
    "and daily revenue (SURVEY §2.4 ext — the third rank-correlation "
    "primitive beside q_spearman_corr and q_mannwhitney: robust "
    "monotone-association with explicit tie correction, the "
    "trend-agreement statistic metric pipelines report when Pearson "
    "is distorted by outliers). The fact table collapses to a "
    "|days|-row daily aggregate in one scan; the day-pair "
    "classification is a day-grid self-join (aggregate-sized, the "
    "q_autocorr lag posture) with all-integer concordance counts; "
    "tau-b's sqrt normalization is the only float. At 100 TB the "
    "day grid stays O(days) regardless of row count.",
)
def q_kendall_tau(spark: SparkSession, sf: str) -> DataFrame:
    d = (
        table(spark, sf, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count("*").cast("bigint").alias("x"),
            F.sum(F.expr("cast(round(value * 100) as bigint)"))
            .cast("bigint")
            .alias("y"),
        )
        .localCheckpoint(eager=True)  # day-grid, two join consumers
    )
    a = d.select(
        F.col("day").alias("da"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = d.select(
        F.col("day").alias("db"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    # Pairwise concordance via exact integer SIGN compares — the raw
    # (xa-xb)*(ya-yb) bigint product can overflow int64 on large daily
    # cent sums, where Spark (ANSI off) wraps silently and could flip
    # the sign while DuckDB raises (ADVICE r13). The {-1,0,1} product
    # never overflows and is bit-identical in both engines.
    cx = (
        F.when(F.col("xa") > F.col("xb"), F.lit(1))
        .when(F.col("xa") < F.col("xb"), F.lit(-1))
        .otherwise(F.lit(0))
    )
    cy = (
        F.when(F.col("ya") > F.col("yb"), F.lit(1))
        .when(F.col("ya") < F.col("yb"), F.lit(-1))
        .otherwise(F.lit(0))
    )
    sgn = cx * cy
    p = (
        a.join(b, F.col("da") < F.col("db"))
        .agg(
            F.sum(F.when(sgn > 0, 1).otherwise(0)).cast("bigint").alias("c"),
            F.sum(F.when(sgn < 0, 1).otherwise(0)).cast("bigint").alias("dd"),
            F.sum(F.when(F.col("xa") == F.col("xb"), 1).otherwise(0))
            .cast("bigint")
            .alias("tx"),
            F.sum(F.when(F.col("ya") == F.col("yb"), 1).otherwise(0))
            .cast("bigint")
            .alias("ty"),
            F.count("*").cast("bigint").alias("n0"),
        )
    )
    return p.select(
        F.col("n0").alias("n_pairs"),
        F.col("c").alias("concordant"),
        F.col("dd").alias("discordant"),
        F.round(
            (F.col("c") - F.col("dd"))
            / F.nullif(
                F.sqrt(
                    (F.col("n0") - F.col("tx")).cast("double")
                    * (F.col("n0") - F.col("ty")).cast("double")
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("tau_b"),
    )


@register(
    "q_roc_auc",
    # ROC-AUC with the exact midrank tie treatment: the score
    # (embedding L2 energy) folds in the SAME sequential element
    # order both engines (Spark aggregate ≡ DuckDB list_sum — the
    # kmeans-oracle evidence), per-score counts are exact integers,
    # and AUC = (2·Rpos − 2·np(np+1)/2) / (2·np·nn) comes from the
    # all-integer doubled rank-sum Σ cp·(2·cum − c + 1) in
    # HUGEINT/decimal — only the final ratio is a double, 6 dp.
    oracle="""
    WITH s AS (
      SELECT CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS pos,
             list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS score
      FROM embeddings
    ), pv AS (
      SELECT score, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(pos) AS BIGINT) AS cp
      FROM s GROUP BY score
    ), cum AS (
      SELECT score, c, cp,
             CAST(SUM(c) OVER (ORDER BY score) AS BIGINT) AS cc
      FROM pv
    ), agg AS (
      SELECT CAST(SUM(CAST(cp AS HUGEINT) * (2 * cc - c + 1)) AS HUGEINT)
               AS r2,
             CAST(SUM(cp) AS BIGINT) AS np,
             CAST(SUM(c - cp) AS BIGINT) AS nn
      FROM cum
    )
    SELECT np AS n_pos, nn AS n_neg,
           ROUND((CAST(r2 AS DOUBLE) - CAST(np AS DOUBLE) * (np + 1))
                 / NULLIF(2.0 * np * nn, 0.0), 6) AS auc
    FROM agg
    """,
    doc="ROC-AUC of a score against a binary label (SURVEY §2.9 ext "
    "— the model-evaluation primitive every training pipeline runs "
    "on its quality/classifier scores; here the embedding L2 energy "
    "scored against the odd/even class of the labeled vectors). "
    "Exact midrank tie handling via the doubled rank-sum identity "
    "(the q_mannwhitney machinery re-aimed at ranking evaluation): "
    "one scan to per-SCORE counts, one cumulative window over the "
    "score domain, all-integer rank sums in DECIMAL/HUGEINT. AUC "
    "equals the Mann-Whitney U statistic normalized — computed here "
    "without sampling, exact at any scale, value-domain-bounded.",
)
def q_roc_auc(spark: SparkSession, sf: str) -> DataFrame:
    d19 = lambda col: col.cast("decimal(19,0)")  # noqa: E731
    s = table(spark, sf, "embeddings").select(
        F.when(F.col("label") % 2 == 1, 1).otherwise(0).alias("pos"),
        F.expr(
            "aggregate(transform(embedding, x -> cast(x as double) "
            "* cast(x as double)), 0.0D, (acc, y) -> acc + y)"
        ).alias("score"),
    )
    pv = s.groupBy("score").agg(
        F.count("*").cast("bigint").alias("c"),
        F.sum("pos").cast("bigint").alias("cp"),
    )
    from gps_stream_processing_spark.operators.prefix_sum import (
        running_totals,
    )

    # per-score rank cumulative via the two-pass prefix sum (the
    # q_ks_test posture — VERDICT r13 item 5); score is distinct by
    # construction of the groupBy, so the order is total
    cum = running_totals(pv, ["score"], sums={"cc": "c"}).select(
        "c", "cp", F.col("cc").cast("bigint").alias("cc")
    )
    agg = cum.agg(
        F.sum(d19(F.col("cp")) * d19(2 * F.col("cc") - F.col("c") + 1))
        .alias("r2"),
        F.sum("cp").cast("bigint").alias("np"),
        F.sum(F.col("c") - F.col("cp")).cast("bigint").alias("nn"),
    )
    return agg.select(
        F.col("np").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        F.round(
            (
                F.col("r2").cast("double")
                - F.col("np").cast("double") * (F.col("np") + 1)
            )
            / F.nullif(
                F.lit(2.0) * F.col("np") * F.col("nn"), F.lit(0.0)
            ),
            6,
        ).alias("auc"),
    )


@register(
    "q_regression_multi",
    # Multi-feature OLS by exact normal equations: all nine moment
    # sums (n, Σx1, Σx2, Σx1², Σx2², Σx1x2, Σy, Σx1y, Σx2y, Σy²) are
    # exact integers (hour/dow features, cent values, DECIMAL/HUGEINT
    # products cast-before-multiply); the 3×3 Cramer solve and R² run
    # in double with identical parenthesization, NULLIF-guarded, 6 dp.
    oracle="""
    WITH e AS (
      SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS x1,
             CAST(EXTRACT(dow FROM ts) AS BIGINT) AS x2,
             CAST(round(value * 100) AS BIGINT) AS y
      FROM events
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x1) AS HUGEINT) AS s1,
             CAST(SUM(x2) AS HUGEINT) AS s2,
             CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS s11,
             CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS s22,
             CAST(SUM(CAST(x1 AS HUGEINT) * x2) AS HUGEINT) AS s12,
             CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x1 AS HUGEINT) * y) AS HUGEINT) AS s1y,
             CAST(SUM(CAST(x2 AS HUGEINT) * y) AS HUGEINT) AS s2y,
             CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      FROM e
    ), d AS (
      SELECT n,
             CAST(n AS DOUBLE) AS a, CAST(s1 AS DOUBLE) AS b,
             CAST(s2 AS DOUBLE) AS c, CAST(s11 AS DOUBLE) AS dd,
             CAST(s22 AS DOUBLE) AS f, CAST(s12 AS DOUBLE) AS g,
             CAST(sy AS DOUBLE) AS p, CAST(s1y AS DOUBLE) AS q,
             CAST(s2y AS DOUBLE) AS r, CAST(syy AS DOUBLE) AS yy
      FROM m
    ), s AS (
      SELECT n, p, q, r, yy, a,
             a * (dd * f - g * g) - b * (b * f - g * c)
               + c * (b * g - dd * c) AS det,
             p * (dd * f - g * g) - b * (q * f - g * r)
               + c * (q * g - dd * r) AS det0,
             a * (q * f - g * r) - p * (b * f - g * c)
               + c * (b * r - q * c) AS det1,
             a * (dd * r - q * g) - b * (b * r - q * c)
               + p * (b * g - dd * c) AS det2
      FROM d
    )
    SELECT n AS n_events,
           ROUND(det0 / NULLIF(det, 0.0) / 100.0, 6) AS beta0,
           ROUND(det1 / NULLIF(det, 0.0) / 100.0, 6) AS beta_hour,
           ROUND(det2 / NULLIF(det, 0.0) / 100.0, 6) AS beta_dow,
           ROUND(1.0 - (yy - (det0 / NULLIF(det, 0.0) * p
                              + det1 / NULLIF(det, 0.0) * q
                              + det2 / NULLIF(det, 0.0) * r))
                       / NULLIF(yy - p * p / a, 0.0), 6) AS r2
    FROM s
    """,
    doc="Multi-feature linear regression by EXACT normal equations "
    "(SURVEY §2.4 ext — q_regression's multivariate sibling and the "
    "one-pass OLS posture that scales: value-cents on hour-of-day "
    "and day-of-week): ONE scan accumulates the ten integer moment "
    "sums (mergeable partials — map-side combine does the work), "
    "then the 3×3 system solves in closed form via Cramer's rule "
    "with identical float parenthesization on both engines; R² from "
    "the same moments. No iteration, no gradient, no second scan — "
    "at 100 TB this is a single hash-agg regardless of row count.",
)
def q_regression_multi(spark: SparkSession, sf: str) -> DataFrame:
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    d19 = lambda col: col.cast("decimal(19,0)")  # noqa: E731
    e = table(spark, sf, "events").select(
        F.hour("ts").cast("bigint").alias("x1"),
        F.dayofweek("ts").cast("bigint").alias("x2w"),
        F.expr("cast(round(value * 100) as bigint)").alias("y"),
    ).select(
        "x1",
        # Spark dayofweek: 1=Sunday..7; DuckDB dow: 0=Sunday..6
        (F.col("x2w") - 1).alias("x2"),
        "y",
    )
    m = e.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum(d19(F.col("x1")) * F.col("x1")).alias("s11"),
        F.sum(d19(F.col("x2")) * F.col("x2")).alias("s22"),
        F.sum(d19(F.col("x1")) * F.col("x2")).alias("s12"),
        F.sum("y").alias("sy"),
        F.sum(d19(F.col("x1")) * F.col("y")).alias("s1y"),
        F.sum(d19(F.col("x2")) * F.col("y")).alias("s2y"),
        F.sum(d19(F.col("y")) * F.col("y")).alias("syy"),
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    s = m.select(
        "n",
        dbl("n").alias("a"),
        dbl("s1").alias("b"),
        dbl("s2").alias("c"),
        dbl("s11").alias("dd"),
        dbl("s22").alias("f"),
        dbl("s12").alias("g"),
        dbl("sy").alias("p"),
        dbl("s1y").alias("q"),
        dbl("s2y").alias("r"),
        dbl("syy").alias("yy"),
    ).select(
        "n",
        "p",
        "q",
        "r",
        "yy",
        "a",
        (
            F.col("a") * (F.col("dd") * F.col("f") - F.col("g") * F.col("g"))
            - F.col("b") * (F.col("b") * F.col("f") - F.col("g") * F.col("c"))
            + F.col("c") * (F.col("b") * F.col("g") - F.col("dd") * F.col("c"))
        ).alias("det"),
        (
            F.col("p") * (F.col("dd") * F.col("f") - F.col("g") * F.col("g"))
            - F.col("b") * (F.col("q") * F.col("f") - F.col("g") * F.col("r"))
            + F.col("c") * (F.col("q") * F.col("g") - F.col("dd") * F.col("r"))
        ).alias("det0"),
        (
            F.col("a") * (F.col("q") * F.col("f") - F.col("g") * F.col("r"))
            - F.col("p") * (F.col("b") * F.col("f") - F.col("g") * F.col("c"))
            + F.col("c") * (F.col("b") * F.col("r") - F.col("q") * F.col("c"))
        ).alias("det1"),
        (
            F.col("a") * (F.col("dd") * F.col("r") - F.col("q") * F.col("g"))
            - F.col("b") * (F.col("b") * F.col("r") - F.col("q") * F.col("c"))
            + F.col("p") * (F.col("b") * F.col("g") - F.col("dd") * F.col("c"))
        ).alias("det2"),
    )
    bdet = F.nullif(F.col("det"), F.lit(0.0))
    return s.select(
        F.col("n").alias("n_events"),
        F.round(F.col("det0") / bdet / 100.0, 6).alias("beta0"),
        F.round(F.col("det1") / bdet / 100.0, 6).alias("beta_hour"),
        F.round(F.col("det2") / bdet / 100.0, 6).alias("beta_dow"),
        F.round(
            F.lit(1.0)
            - (
                F.col("yy")
                - (
                    F.col("det0") / bdet * F.col("p")
                    + F.col("det1") / bdet * F.col("q")
                    + F.col("det2") / bdet * F.col("r")
                )
            )
            / F.nullif(
                F.col("yy") - F.col("p") * F.col("p") / F.col("a"),
                F.lit(0.0),
            ),
            6,
        ).alias("r2"),
    )


@register(
    "q_mutual_information",
    # MI(event_type; day-of-week) from exact integer cell/marginal
    # counts; each of the ≤35 cells contributes
    # (c/N)·ln(c·N/(ct·cd)) with identical parenthesization — the
    # per-cell doubles are bit-equal and the 35-term sum drifts only
    # by reassociation (~1e-16, far under the 6-dp contract; the
    # q_source_jsd float posture).
    oracle="""
    WITH e AS (
      SELECT event_type AS t, CAST(EXTRACT(dow FROM ts) AS BIGINT) AS d
      FROM events
    ), cell AS (
      SELECT t, d, CAST(COUNT(*) AS BIGINT) AS c FROM e GROUP BY 1, 2
    ), mt AS (
      SELECT t, CAST(SUM(c) AS BIGINT) AS ct FROM cell GROUP BY 1
    ), md AS (
      SELECT d, CAST(SUM(c) AS BIGINT) AS cd FROM cell GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n FROM cell
    ), mi AS (
      SELECT SUM(CAST(c AS DOUBLE) / n
                 * ln(CAST(c AS DOUBLE) * n
                      / (CAST(ct AS DOUBLE) * cd))) AS mi_nats
      FROM cell JOIN mt USING (t) JOIN md USING (d), tot
    ), ht AS (
      SELECT -SUM(CAST(ct AS DOUBLE) / n
                  * ln(CAST(ct AS DOUBLE) / n)) AS h_type
      FROM mt, tot
    ), hd AS (
      SELECT -SUM(CAST(cd AS DOUBLE) / n
                  * ln(CAST(cd AS DOUBLE) / n)) AS h_dow
      FROM md, tot
    )
    SELECT ROUND(mi_nats, 6) AS mi_nats,
           ROUND(h_type, 6) AS h_type,
           ROUND(h_dow, 6) AS h_dow,
           ROUND(mi_nats / NULLIF(sqrt(h_type * h_dow), 0.0), 6)
             AS mi_normalized
    FROM mi, ht, hd
    """,
    doc="Mutual information between event type and day-of-week "
    "(SURVEY §2.4 ext — the feature-relevance/association primitive "
    "curation pipelines rank categorical features with, and the "
    "natural sibling of q_chi_square's independence test and "
    "q_entropy's marginals: MI is the KL divergence of the joint "
    "from independence, in nats). ONE hash-agg to the ≤|types|×7 "
    "cell table; marginals and the MI/entropy sums are "
    "cell-table-sized. Normalized MI (÷√(H·H)) rides along for the "
    "scale-free comparison. At 100 TB the contingency stays "
    "categorical-bounded regardless of rows.",
)
def q_mutual_information(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events").select(
        F.col("event_type").alias("t"),
        (F.dayofweek("ts") - 1).cast("bigint").alias("d"),
    )
    cell = e.groupBy("t", "d").agg(
        F.count("*").cast("bigint").alias("c")
    ).localCheckpoint(eager=True)  # ≤35 rows, four consumers
    mt = cell.groupBy("t").agg(F.sum("c").cast("bigint").alias("ct"))
    md = cell.groupBy("d").agg(F.sum("c").cast("bigint").alias("cd"))
    tot = cell.agg(F.sum("c").cast("bigint").alias("n"))
    j = (
        cell.join(mt, "t")
        .join(md, "d")
        .crossJoin(F.broadcast(tot))
    )
    mi = j.agg(
        F.sum(
            F.col("c").cast("double")
            / F.col("n")
            * F.log(
                F.col("c").cast("double")
                * F.col("n")
                / (F.col("ct").cast("double") * F.col("cd"))
            )
        ).alias("mi_nats")
    )
    ht = mt.crossJoin(F.broadcast(tot)).agg(
        (
            -F.sum(
                F.col("ct").cast("double")
                / F.col("n")
                * F.log(F.col("ct").cast("double") / F.col("n"))
            )
        ).alias("h_type")
    )
    hd = md.crossJoin(F.broadcast(tot)).agg(
        (
            -F.sum(
                F.col("cd").cast("double")
                / F.col("n")
                * F.log(F.col("cd").cast("double") / F.col("n"))
            )
        ).alias("h_dow")
    )
    return (
        mi.crossJoin(F.broadcast(ht))
        .crossJoin(F.broadcast(hd))
        .select(
            F.round("mi_nats", 6).alias("mi_nats"),
            F.round("h_type", 6).alias("h_type"),
            F.round("h_dow", 6).alias("h_dow"),
            F.round(
                F.col("mi_nats")
                / F.nullif(
                    F.sqrt(F.col("h_type") * F.col("h_dow")), F.lit(0.0)
                ),
                6,
            ).alias("mi_normalized"),
        )
    )


@register(
    "q_trimmed_mean",
    # 5% two-sided trimmed and winsorized means from the per-VALUE
    # cumulative count table: the bottom-k/top-k masses are exact
    # integer min/max folds over (cnt, cum), the winsorizing fences
    # are exact order statistics, and only the final /n ratios are
    # doubles, 6 dp.
    oracle="""
    WITH v AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS p FROM orders
    ), pv AS (
      SELECT p, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY p
    ), c AS (
      SELECT p, c,
             CAST(SUM(c) OVER (ORDER BY p) AS BIGINT) AS cum,
             (SELECT CAST(SUM(c) AS BIGINT) FROM pv) AS n
      FROM pv
    ), k AS (
      SELECT n, CAST(n * 5 / 100 AS BIGINT) AS k FROM (SELECT DISTINCT n FROM c)
    ), folds AS (
      SELECT CAST(SUM(CAST(p AS HUGEINT) * c) AS HUGEINT) AS tot,
             CAST(SUM(CAST(p AS HUGEINT) *
               GREATEST(0, LEAST(c, k.k - (cum - c)))) AS HUGEINT) AS bot,
             CAST(SUM(CAST(p AS HUGEINT) *
               GREATEST(0, LEAST(c, cum - (k.n - k.k)))) AS HUGEINT) AS top,
             MIN(CASE WHEN cum >= k.k + 1 THEN p END) AS lo_fence,
             MIN(CASE WHEN cum >= k.n - k.k THEN p END) AS hi_fence,
             k.n AS n, k.k AS k
      FROM c, k GROUP BY k.n, k.k
    )
    SELECT n AS n_rows, k AS k_trim,
           ROUND(CAST(tot - bot - top AS DOUBLE)
                 / NULLIF(n - 2 * k, 0) / 100.0, 6) AS trimmed_mean,
           ROUND((CAST(tot - bot - top AS DOUBLE)
                  + CAST(k AS DOUBLE) * lo_fence
                  + CAST(k AS DOUBLE) * hi_fence)
                 / n / 100.0, 6) AS winsorized_mean
    FROM folds
    """,
    doc="Robust means — 5% two-sided TRIMMED and WINSORIZED order "
    "prices (SURVEY §2.4 ext — the outlier-robust location "
    "estimators metric pipelines quote next to the raw mean; "
    "trimming drops the k extreme rows per tail, winsorizing clamps "
    "them to the fences). Exact at any scale without sorting rows: "
    "the per-VALUE cumulative table (the q_weighted_median posture) "
    "gives the tail masses as integer min/max folds and the fences "
    "as exact order statistics — one hash-agg + one value-domain "
    "window, all-integer until the final ratios.",
)
def q_trimmed_mean(spark: SparkSession, sf: str) -> DataFrame:
    h = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    pv = (
        table(spark, sf, "orders")
        .select(
            F.expr("cast(round(o_totalprice * 100) as bigint)").alias("p")
        )
        .groupBy("p")
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint(eager=True)
    )
    n_df = pv.agg(F.sum("c").cast("bigint").alias("n"))
    from gps_stream_processing_spark.operators.prefix_sum import (
        running_totals,
    )

    # per-value cumulative via the two-pass prefix sum (the q_ks_test
    # posture — VERDICT r13 item 5)
    c = (
        running_totals(pv, ["p"], sums={"cum": "c"})
        .select("p", "c", F.col("cum").cast("bigint").alias("cum"))
        .crossJoin(F.broadcast(n_df))
    )
    kcol = (F.col("n") * 5 / 100).cast("bigint")
    folds = c.select(
        "p", "c", "cum", "n", kcol.alias("k")
    ).groupBy("n", "k").agg(
        F.sum(h(F.col("p")) * F.col("c")).alias("tot"),
        F.sum(
            h(F.col("p"))
            * F.greatest(
                F.lit(0).cast("bigint"),
                F.least(F.col("c"), F.col("k") - (F.col("cum") - F.col("c"))),
            )
        ).alias("bot"),
        F.sum(
            h(F.col("p"))
            * F.greatest(
                F.lit(0).cast("bigint"),
                F.least(F.col("c"), F.col("cum") - (F.col("n") - F.col("k"))),
            )
        ).alias("top"),
        F.min(F.when(F.col("cum") >= F.col("k") + 1, F.col("p"))).alias(
            "lo_fence"
        ),
        F.min(
            F.when(F.col("cum") >= F.col("n") - F.col("k"), F.col("p"))
        ).alias("hi_fence"),
    )
    core = (F.col("tot") - F.col("bot") - F.col("top")).cast("double")
    return folds.select(
        F.col("n").alias("n_rows"),
        F.col("k").alias("k_trim"),
        F.round(
            core / F.nullif(F.col("n") - 2 * F.col("k"), F.lit(0)) / 100.0,
            6,
        ).alias("trimmed_mean"),
        F.round(
            (
                core
                + F.col("k").cast("double") * F.col("lo_fence")
                + F.col("k").cast("double") * F.col("hi_fence")
            )
            / F.col("n")
            / 100.0,
            6,
        ).alias("winsorized_mean"),
    )


@register(
    "q_downsample_lttb",
    # Mean-anchored LTTB: per time bucket keep the point maximizing
    # the triangle area against the PREVIOUS and NEXT buckets' mean
    # points. Clearing the mean denominators (×na·nb) makes the area
    # an exact integer cross product in HUGEINT/decimal — argmax and
    # its (area DESC, ts ASC) tie-break are exact on both engines;
    # only the reported value is a rounded double.
    oracle="""
    WITH e AS (
      SELECT epoch_us(ts) AS x, CAST(round(value * 100) AS BIGINT) AS y,
             event_id
      FROM events
    ), bounds AS (
      SELECT MIN(x) AS lo, MAX(x) AS hi FROM e
    ), b AS (
      -- xr anchors x at the window start: triangle areas are
      -- translation-invariant (sxa*nb - sxb*na and sxa*nb - x*na*nb
      -- both cancel the lo*na*nb shift exactly), and the relative
      -- moments keep ~1e4x decimal headroom the absolute-µs form
      -- exhausts at 16x density (measured overflow, r14)
      SELECT e.x, e.x - bounds.lo AS xr, e.y, e.event_id,
             CAST(LEAST(99, (e.x - bounds.lo) * 100
                            // (bounds.hi - bounds.lo + 1)) AS BIGINT)
               AS bk
      FROM e, bounds
    ), m AS (
      SELECT bk, CAST(SUM(xr) AS HUGEINT) AS sx,
             CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM b GROUP BY bk
    ), anchors AS (
      SELECT bk,
             lag(sx)  OVER w AS sxa, lag(sy)  OVER w AS sya,
             lag(n)   OVER w AS na,
             lead(sx) OVER w AS sxb, lead(sy) OVER w AS syb,
             lead(n)  OVER w AS nb
      FROM m WINDOW w AS (ORDER BY bk)
    ), scored AS (
      SELECT b.bk, b.x, b.y, b.event_id,
             abs((CAST(a.sxa AS HUGEINT) * a.nb - CAST(a.sxb AS HUGEINT) * a.na)
                   * (CAST(b.y AS HUGEINT) * a.na - a.sya) * a.nb
                 - (CAST(a.sxa AS HUGEINT) * a.nb
                    - CAST(b.xr AS HUGEINT) * a.na * a.nb)
                   * (CAST(a.syb AS HUGEINT) * a.na - CAST(a.sya AS HUGEINT) * a.nb))
               AS area
      FROM b JOIN anchors a ON a.bk = b.bk
      WHERE a.na IS NOT NULL AND a.nb IS NOT NULL
    ), best AS (
      SELECT bk, x, y,
             row_number() OVER (PARTITION BY bk
                                ORDER BY area DESC, x, event_id) AS rn
      FROM scored
    )
    SELECT bk AS bucket, make_timestamp(x) AS ts,
           ROUND(y / 100.0, 2) AS value
    FROM best WHERE rn = 1 ORDER BY bk
    """,
    doc="LTTB time-series downsampling (Steinarsson 2013, the "
    "mean-anchored parallel variant; SURVEY §2.4 ext — the "
    "shape-preserving decimation every dashboard/renderer runs "
    "before plotting millions of points: per bucket keep the point "
    "forming the largest triangle with the neighbor buckets, so "
    "peaks and reversals survive where naive averaging flattens "
    "them). The classic LTTB anchors on the previously SELECTED "
    "point (inherently sequential); anchoring on neighbor-bucket "
    "MEANS — the standard parallel relaxation — makes every bucket "
    "independent: one hash-agg for bucket moments, one lag/lead "
    "window over the 100-row bucket table, one broadcast join back, "
    "one min_by argmax. Clearing mean denominators keeps the "
    "triangle areas exact integers (µs × cents cross products in "
    "DECIMAL/HUGEINT) — the argmax is engine-exact, no float "
    "geometry. First/last buckets have no both-side anchors and are "
    "dropped (the endpoints are kept verbatim by the classic "
    "algorithm; consumers re-attach them).",
)
def q_downsample_lttb(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events").select(
        F.unix_micros("ts").alias("x"),
        F.expr("cast(round(value * 100) as bigint)").alias("y"),
        "event_id",
    )
    best = lttb_best_points(e)
    return best.orderBy("bk").select(
        F.col("bk").alias("bucket"),
        F.timestamp_micros(F.col("p.x")).alias("ts"),
        F.round(F.col("p.y") / 100.0, 2).alias("value"),
    )


def lttb_best_points(e: DataFrame) -> DataFrame:
    """Mean-anchored LTTB core over an (``x`` µs, ``y`` cents,
    ``event_id``) frame: 100 fixed time buckets, per-bucket exact
    integer argmax of the triangle area vs the neighbor buckets' mean
    anchors; returns (``bk``, ``p`` struct(x, y)). ONE definition
    over any input of that shape, so a numeric fix cannot
    desynchronize two copies (r14 review: the xr overflow fix had to
    be applied to two)."""
    from pyspark.sql import Window

    h = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    bounds = e.agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    # xr anchors x at the window start — areas are translation-
    # invariant (the lo*na*nb shift cancels in both factors exactly),
    # and relative-µs moments keep ~1e4x decimal headroom the
    # absolute form exhausts at 16x density (measured)
    b = e.crossJoin(F.broadcast(bounds)).select(
        "x",
        F.expr("x - lo").alias("xr"),
        "y",
        "event_id",
        F.least(
            F.lit(99).cast("bigint"),
            F.expr("(x - lo) * 100 div (hi - lo + 1)"),
        ).alias("bk"),
    ).localCheckpoint(eager=True)  # two consumers: moments + rejoin
    m = b.groupBy("bk").agg(
        F.sum("xr").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.count("*").cast("bigint").alias("n"),
    )
    w = Window.orderBy("bk")  # 100-row bucket table
    a = m.select(
        "bk",
        F.lag("sx").over(w).alias("sxa"),
        F.lag("sy").over(w).alias("sya"),
        F.lag("n").over(w).alias("na"),
        F.lead("sx").over(w).alias("sxb"),
        F.lead("sy").over(w).alias("syb"),
        F.lead("n").over(w).alias("nb"),
    ).filter(F.col("na").isNotNull() & F.col("nb").isNotNull())
    scored = b.join(F.broadcast(a), "bk").select(
        "bk",
        "x",
        "y",
        "event_id",
        F.abs(
            (h(F.col("sxa")) * F.col("nb") - h(F.col("sxb")) * F.col("na"))
            * (h(F.col("y")) * F.col("na") - F.col("sya"))
            * F.col("nb")
            - (
                h(F.col("sxa")) * F.col("nb")
                - h(F.col("xr")) * F.col("na") * F.col("nb")
            )
            * (
                h(F.col("syb")) * F.col("na")
                - h(F.col("sya")) * F.col("nb")
            )
        ).alias("area"),
    )
    return scored.groupBy("bk").agg(
        F.min_by(
            F.struct("x", "y"),
            F.struct((-F.col("area")).alias("na"), "x", "event_id"),
        ).alias("p")
    )


@register(
    "q_wasserstein",
    # 1-D Wasserstein-1 (earth mover's) distance between the BUILDING
    # segment's order-price distribution and the rest: on the line,
    # W1 = ∫|F_A − F_B| dv = Σ over consecutive distinct values
    # (v' − v)·|F_A(v) − F_B(v)|. Cross-multiplying the ECDFs by
    # n_A·n_B keeps every term an exact integer (cents gaps ×
    # count cross-differences in DECIMAL/HUGEINT); only the final
    # normalization divides, 6 dp.
    oracle="""
    WITH b AS (
      SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 'a' ELSE 'b' END
               AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
      FROM orders JOIN customer ON o_custkey = c_custkey
    ), pv AS (
      SELECT v,
             CAST(SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM b GROUP BY v
    ), c AS (
      SELECT v,
             CAST(SUM(ca) OVER w AS BIGINT) AS cuma,
             CAST(SUM(cb) OVER w AS BIGINT) AS cumb,
             lead(v) OVER (ORDER BY v) AS vn
      FROM pv WINDOW w AS (ORDER BY v)
    ), t AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
      FROM pv
    ), s AS (
      SELECT CAST(SUM(CAST(vn - v AS HUGEINT)
                      * abs(CAST(cuma AS HUGEINT) * t.nb
                            - CAST(cumb AS HUGEINT) * t.na))
                  AS HUGEINT) AS w1x, t.na AS na, t.nb AS nb
      FROM c, t WHERE vn IS NOT NULL GROUP BY t.na, t.nb
    )
    SELECT na AS n_building, nb AS n_rest,
           ROUND(CAST(w1x AS DOUBLE)
                 / (CAST(na AS DOUBLE) * nb) / 100.0, 6) AS w1_distance
    FROM s
    """,
    doc="Wasserstein-1 (earth mover's) distance between two segments' "
    "price distributions (SURVEY §2.4 ext — the third "
    "distribution-distance primitive beside q_ks_test's sup norm and "
    "q_source_jsd's divergence: W1 is the metric drift monitors and "
    "distribution-shift tests quote because it weights BY HOW FAR "
    "mass moved). On the line W1 is the area between ECDFs, so it "
    "reduces to the per-VALUE cumulative table (the q_ks_test "
    "posture): one scan to per-value counts, one cumulative+lead "
    "window over the value domain, and the cross-multiplied form "
    "keeps every term an exact integer at any scale — no sorting of "
    "raw rows, no sampling.",
)
def q_wasserstein(spark: SparkSession, sf: str) -> DataFrame:
    h = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    o = table(spark, sf, "orders").select("o_custkey", "o_totalprice")
    cu = table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    b = o.join(cu, o.o_custkey == cu.c_custkey).select(
        F.when(F.col("c_mktsegment") == "BUILDING", "a")
        .otherwise("b")
        .alias("g"),
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("v"),
    )
    pv = (
        b.groupBy("v")
        .agg(
            F.sum(F.when(F.col("g") == "a", 1).otherwise(0))
            .cast("bigint")
            .alias("ca"),
            F.sum(F.when(F.col("g") == "b", 1).otherwise(0))
            .cast("bigint")
            .alias("cb"),
        )
        .localCheckpoint(eager=True)  # value-domain table, two consumers
    )
    from gps_stream_processing_spark.operators.prefix_sum import (
        running_totals,
    )

    # per-value CDF cumulatives via the two-pass prefix sum (VERDICT
    # r13 item 5). The global lead(v) becomes a parallel equi-join on
    # the running row number: row rn's successor value is the v of
    # rn+1 (v is distinct, rn is a gap-free total order) — no
    # single-partition window anywhere.
    rt = running_totals(
        pv, ["v"], sums={"cuma": "ca", "cumb": "cb"}, count_col="rn"
    ).select(
        "v",
        "rn",
        F.col("cuma").cast("bigint").alias("cuma"),
        F.col("cumb").cast("bigint").alias("cumb"),
    )
    nxt = rt.select((F.col("rn") - 1).alias("rn"), F.col("v").alias("vn"))
    c = rt.join(nxt, "rn", "left").select("v", "cuma", "cumb", "vn")
    t = pv.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    s = (
        c.filter(F.col("vn").isNotNull())
        .crossJoin(F.broadcast(t))
        .groupBy("na", "nb")
        .agg(
            F.sum(
                h(F.col("vn") - F.col("v"))
                * F.abs(
                    h(F.col("cuma")) * F.col("nb")
                    - h(F.col("cumb")) * F.col("na")
                )
            ).alias("w1x")
        )
    )
    return s.select(
        F.col("na").alias("n_building"),
        F.col("nb").alias("n_rest"),
        F.round(
            F.col("w1x").cast("double")
            / (F.col("na").cast("double") * F.col("nb"))
            / 100.0,
            6,
        ).alias("w1_distance"),
    )


@register(
    "q_seasonal_anomaly",
    # Seasonality-adjusted anomalies: residual = value − its (dow,
    # hour) cell mean, computed as CAST(y)−CAST(s)/n with identical
    # parenthesization (both engines produce the same doubles from
    # the same exact integer moments), then a global robust gate
    # |r − median| > 3·1.4826·MAD — median/MAD are the same linear-
    # interpolated percentile on the same double multiset, so the
    # flag set is engine-identical; counts are exact integers.
    oracle="""
    WITH e AS (
      SELECT event_type,
             CAST(EXTRACT(dow FROM ts) AS BIGINT) AS d,
             CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
             CAST(round(value * 100) AS BIGINT) AS y
      FROM events
    ), cell AS (
      SELECT d, h, CAST(SUM(y) AS HUGEINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM e GROUP BY d, h
    ), r AS (
      SELECT e.event_type,
             CAST(e.y AS DOUBLE) - CAST(cell.s AS DOUBLE) / cell.n AS res
      FROM e JOIN cell USING (d, h)
    ), med AS (
      SELECT quantile_cont(res, 0.5) AS m FROM r
    ), mad AS (
      SELECT quantile_cont(abs(res - med.m), 0.5) AS md FROM r, med
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN abs(res - med.m)
                              > 3.0 * 1.4826 * mad.md
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
           ROUND(MAX(abs(res - med.m)
                     / NULLIF(1.4826 * mad.md, 0.0)), 6) AS max_robust_z
    FROM r, med, mad
    GROUP BY event_type
    """,
    doc="Seasonality-ADJUSTED anomaly detection (SURVEY §2.4 ext — "
    "the production alerting shape q_anomaly_rolling's moving "
    "window cannot express: a value is anomalous relative to its "
    "calendar cell, not its neighbors in time; weekly+diurnal "
    "profile removed first, then a global robust MAD gate on the "
    "residuals so one heavy tail cannot widen its own threshold). "
    "Two scans of the fact (profile moments, then residuals — the "
    "profile is a broadcast ≤168-cell table), one percentile pass "
    "over the residuals; the (dow, hour) profile means come from "
    "exact integer moments, so residuals are bit-identical across "
    "engines and the flag SET is exact, not approximate.",
)
def q_seasonal_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events").select(
        "event_type",
        (F.dayofweek("ts") - 1).cast("bigint").alias("d"),
        F.hour("ts").cast("bigint").alias("h"),
        F.expr("cast(round(value * 100) as bigint)").alias("y"),
    )
    cell = e.groupBy("d", "h").agg(
        F.sum("y").cast("decimal(38,0)").alias("s"),
        F.count("*").cast("bigint").alias("n"),
    )
    r = e.join(F.broadcast(cell), ["d", "h"]).select(
        "event_type",
        (
            F.col("y").cast("double")
            - F.col("s").cast("double") / F.col("n")
        ).alias("res"),
    ).localCheckpoint(eager=True)  # three consumers: med, mad, flags
    med = r.agg(F.expr("percentile(res, 0.5)").alias("m"))
    mad = r.crossJoin(F.broadcast(med)).agg(
        F.expr("percentile(abs(res - m), 0.5)").alias("md")
    )
    j = r.crossJoin(F.broadcast(med)).crossJoin(F.broadcast(mad))
    dev = F.abs(F.col("res") - F.col("m"))
    return j.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(
            F.when(dev > F.lit(3.0) * F.lit(1.4826) * F.col("md"), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_anomalies"),
        F.round(
            F.max(
                dev / F.nullif(F.lit(1.4826) * F.col("md"), F.lit(0.0))
            ),
            6,
        ).alias("max_robust_z"),
    )


@register(
    "q_sax",
    # SAX (Lin et al. 2003): z-normalize the daily cent-sum series,
    # PAA into 16 equal-count segments, map each segment mean to a
    # 4-letter alphabet at the standard-normal quartile breakpoints
    # (-0.6745, 0, 0.6745). EVERY input to the two double expressions
    # is an exact integer (per-day cent sums, segment sums/counts,
    # HUGEINT/decimal global moments), the z expression shares its
    # parenthesization across engines, and the symbol CASE compares
    # the UNROUNDED z — identical doubles land on identical sides of
    # the literal breakpoints. Segment id is exact integer floor
    # division (i*16 // n). Degenerate flat series: NULLIF std -> z
    # NULL -> both engines' CASE falls through to 'd'.
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1
    ), idx AS (
      SELECT y, row_number() OVER (ORDER BY d) - 1 AS i,
             COUNT(*) OVER () AS n
      FROM daily
    ), mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS HUGEINT) AS sy,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM daily
    ), seg AS (
      SELECT CAST(i * 16 // n AS BIGINT) AS segment,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(y) AS HUGEINT) AS sg
      FROM idx GROUP BY 1
    ), z AS (
      SELECT s.segment, s.n_days,
             ((CAST(s.sg AS DOUBLE) / s.n_days)
              - (CAST(m.sy AS DOUBLE) / m.n))
             / NULLIF(sqrt((m.n * CAST(m.syy AS DOUBLE)
                            - CAST(m.sy AS DOUBLE) * CAST(m.sy AS DOUBLE))
                           / (CAST(m.n AS DOUBLE) * m.n)), 0.0) AS zv
      FROM seg s CROSS JOIN mom m
    )
    SELECT segment, n_days, ROUND(zv, 6) AS paa_z,
           CASE WHEN zv < -0.6745 THEN 'a'
                WHEN zv < 0.0 THEN 'b'
                WHEN zv < 0.6745 THEN 'c'
                ELSE 'd' END AS symbol
    FROM z ORDER BY segment
    """,
    doc="SAX symbolic aggregate approximation of the daily event-"
    "revenue series (Lin et al. 2003; SURVEY §2.4 ext — the "
    "symbolization primitive beside q_downsample_lttb: PAA-compress "
    "the z-normalized series into 16 segments and emit one of 4 "
    "alphabet letters per segment at the standard-normal quartile "
    "breakpoints — the representation behind time-series motif "
    "discovery, anomaly grammars, and indexable subsequence search). "
    "One scan collapses the fact table to the calendar-bounded daily "
    "grid; moments, segmentation (exact integer i*16 div n over the "
    "day rank), and the per-segment z are all aggregate-sized — at "
    "100 TB the scan dominates and everything downstream is "
    "O(days).",
)
def q_sax(spark: SparkSession, sf: str) -> DataFrame:
    return sax_symbols(table(spark, sf, "events"))


def sax_symbols(events: DataFrame) -> DataFrame:
    """The q_sax core over any (ts, value) DataFrame — kept apart from its
    table scans so the shipped plan code runs as is over any input of
    that shape (scaled or replicated), never a copy."""
    from pyspark.sql import Window

    d19 = lambda col: col.cast("decimal(19,0)")  # noqa: E731
    daily = (
        events
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(F.expr("cast(round(value * 100) as bigint)"))
            .cast("bigint")
            .alias("y")
        )
        # the day grid feeds the moments aggregate AND the segment
        # agg — one fact scan, pinned (calendar-bounded table)
        .localCheckpoint(eager=True)
    )
    idx = daily.select(
        "y",
        (F.row_number().over(Window.orderBy("d")) - 1).alias("i"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    mom = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(d19(F.col("y")) * d19(F.col("y"))).alias("syy"),
    )
    seg = idx.groupBy(
        F.expr("cast(i * 16 div n as bigint)").alias("segment")
    ).agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("y").cast("decimal(38,0)").alias("sg"),
    )
    zv = (
        F.col("sg").cast("double") / F.col("n_days")
        - (F.col("sy").cast("double") / F.col("n"))
    ) / F.nullif(
        F.sqrt(
            (
                F.col("n") * F.col("syy").cast("double")
                - F.col("sy").cast("double") * F.col("sy").cast("double")
            )
            / (F.col("n").cast("double") * F.col("n"))
        ),
        F.lit(0.0),
    )
    return (
        seg.crossJoin(F.broadcast(mom))
        .select(
            "segment",
            "n_days",
            F.round(zv, 6).alias("paa_z"),
            F.when(zv < -0.6745, "a")
            .when(zv < 0.0, "b")
            .when(zv < 0.6745, "c")
            .otherwise("d")
            .alias("symbol"),
        )
        .orderBy("segment")
    )


@register(
    "q_holt_linear",
    # Holt's linear-trend double exponential smoothing, evaluated as
    # the SAME sequential struct fold on both engines (Spark
    # `aggregate` with a struct accumulator ≡ DuckDB `list_reduce`
    # over struct-lifted elements — the q_ewma fold discipline with a
    # 2-component state): l_t = α·x_t + (1-α)(l_{t-1}+b_{t-1}),
    # b_t = β·(l_t−l_{t-1}) + (1-β)b_{t-1}, α=0.3, β=0.1, init
    # (l₁,b₁)=(x₁,0) — the list_reduce-compatible convention, where
    # the init IS the lifted first element. Every step repeats the
    # identical expression tree (the new l recomputed inside b), so
    # the doubles agree bitwise; all literals CAST to DOUBLE on the
    # DuckDB side (bare 0.3 parses as DECIMAL — the q_ewma trap).
    # DuckDB 1.0 PITFALL (measured): list_reduce with a STRUCT
    # accumulator mutates it field-by-field — the second field's
    # expression reads the FIRST field's already-updated value, so a
    # 2-state recursion silently corrupts. A LIST accumulator
    # ([l, b]) evaluates atomically; the oracle uses that encoding.
    oracle="""
    SELECT user_id, CAST(cnt AS BIGINT) AS n_events,
           ROUND(hw[1], 6) AS level,
           ROUND(hw[2], 6) AS trend,
           ROUND(hw[1] + CAST(7 AS DOUBLE) * hw[2], 6) AS forecast_7
    FROM (
      SELECT user_id, COUNT(*) AS cnt,
             list_reduce(
               list_transform(
                 list(CAST(value AS DOUBLE) ORDER BY ts, event_id),
                 x -> [x, CAST(0 AS DOUBLE)]),
               (acc, x) -> [
                 CAST(0.3 AS DOUBLE) * x[1]
                 + CAST(0.7 AS DOUBLE) * (acc[1] + acc[2]),
                 CAST(0.1 AS DOUBLE)
                 * ((CAST(0.3 AS DOUBLE) * x[1]
                     + CAST(0.7 AS DOUBLE) * (acc[1] + acc[2]))
                    - acc[1])
                 + CAST(0.9 AS DOUBLE) * acc[2]]) AS hw
      FROM events GROUP BY user_id
    ) t(user_id, cnt, hw)
    """,
    doc="Holt's linear-trend double exponential smoothing per user "
    "(SURVEY §2.4 ext — the trend-aware sibling of q_ewma: simple "
    "EWMA lags any trending series by a constant offset, Holt's "
    "second smoothing term tracks the slope, giving level + trend + "
    "an h-step forecast, the classic telemetry/capacity forecaster "
    "before seasonal models). α=0.3, β=0.1, init (x₁, 0); per-user "
    "(ts, event_id)-ordered history folds sequentially, so the "
    "recursion is EXACT on both engines — no closed form, no float "
    "explosion. Same bounded-per-key-sequence contract as q_ewma "
    "(sessions/days), same assert_true tripwire at "
    "SMOOTHER_MAX_EVENTS_PER_KEY; the unbounded-stream twin is "
    "SHIPPED as q_stream_tws_holt (streaming/stateful.py "
    "holt_fold — ValueState (n, l, b), bit-identical fold, "
    "O(1) per key forever).",
)
def q_holt_linear(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    g = e.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.expr(
            "transform(array_sort(collect_list(struct(ts, event_id, value))),"
            " s -> s.value)"
        ).alias("vals"),
    ).filter(_smoother_cap_guard("q_holt_linear").isNull())
    hw = F.expr(
        "aggregate(slice(vals, 2, size(vals)),"
        " struct(vals[0] AS l, 0.0D AS b),"
        " (acc, x) -> struct("
        "   0.3D * x + 0.7D * (acc.l + acc.b) AS l,"
        "   0.1D * ((0.3D * x + 0.7D * (acc.l + acc.b)) - acc.l)"
        "   + 0.9D * acc.b AS b))"
    )
    return g.select(
        "user_id",
        "n_events",
        F.round(hw.getField("l"), 6).alias("level"),
        F.round(hw.getField("b"), 6).alias("trend"),
        F.round(
            hw.getField("l") + F.lit(7.0) * hw.getField("b"), 6
        ).alias("forecast_7"),
    )


@register(
    "q_holt_winters",
    # Holt-Winters ADDITIVE triple smoothing (level + trend + period-7
    # seasonal), the seasonal member completing the q_ewma →
    # q_holt_linear family (VERDICT r14 item 4). Same engine-portable
    # fold discipline: BOTH engines evaluate the identical recursion
    # over the identical (day-ordered) series with a flat LIST state
    # [l, b, s1..s7] — Spark `aggregate` with an explicit seed, DuckDB
    # `list_reduce` with the seed as the lifted first element (the
    # STRUCT accumulator is unusable in DuckDB 1.0: field-by-field
    # mutation corrupts any multi-state recursion — q_holt_linear
    # evidence). Every step repeats the full l' expression tree inside
    # b' and s' so the doubles agree bitwise; all literals are exact
    # doubles on both sides (0.3/0.7, 0.1/0.9, 0.2/0.8 — written
    # literally, never derived by subtraction). Seed: l0 = mean of the
    # first 7 observations (left-fold sum, the kmeans-pinned
    # list_sum ≡ aggregate equivalence, / 7.0), b0 = 0,
    # s_i = x_i - l0. Indexing is 1-based on both sides (element_at /
    # []); + 0.0 normalizes IEEE -0.0 after ROUND (q_heaps_law trap).
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
               AS cents
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), series AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
             list(cents ORDER BY day) AS vals
      FROM daily GROUP BY event_type
    ), seeded AS (
      SELECT event_type, n_days, vals,
             list_sum(vals[1:7]) / CAST(7 AS DOUBLE) AS l0
      FROM series
    ), folded AS (
      SELECT event_type, n_days,
        list_reduce(
          list_concat(
            [list_concat([l0, CAST(0 AS DOUBLE)],
                         list_transform(vals[1:7], x -> x - l0))],
            list_transform(vals[8:], x -> [x,
              CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
              CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
              CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)])),
          (acc, e) -> list_concat(list_concat(
            [CAST(0.3 AS DOUBLE) * (e[1] - acc[3])
               + CAST(0.7 AS DOUBLE) * (acc[1] + acc[2]),
             CAST(0.1 AS DOUBLE)
               * ((CAST(0.3 AS DOUBLE) * (e[1] - acc[3])
                   + CAST(0.7 AS DOUBLE) * (acc[1] + acc[2])) - acc[1])
               + CAST(0.9 AS DOUBLE) * acc[2]],
            acc[4:9]),
            [CAST(0.2 AS DOUBLE)
               * (e[1] - (CAST(0.3 AS DOUBLE) * (e[1] - acc[3])
                          + CAST(0.7 AS DOUBLE) * (acc[1] + acc[2])))
               + CAST(0.8 AS DOUBLE) * acc[3]])) AS hw
      FROM seeded
    )
    SELECT event_type, n_days,
           ROUND(hw[1], 6) + 0.0 AS level,
           ROUND(hw[2], 6) + 0.0 AS trend,
           ROUND(hw[1] + CAST(1 AS DOUBLE) * hw[2] + hw[3], 6) + 0.0
             AS forecast_1,
           ROUND(hw[1] + CAST(7 AS DOUBLE) * hw[2] + hw[9], 6) + 0.0
             AS forecast_7
    FROM folded
    """,
    doc="Holt-Winters additive SEASONAL smoothing (SURVEY §2.4 ext — "
    "the seasonal member completing the smoothing family q_ewma → "
    "q_holt_linear → here, the capacity-forecasting shape that "
    "handles weekly periodicity): per-event-type daily exact-cents "
    "totals form the series (day grid — CALENDAR-bounded, so the "
    "per-type collect-fold is the documented acceptable posture, "
    "never fact-proportional); seed (l0 = first-week mean, b0 = 0, "
    "s_i = x_i - l0), then l_t = alpha(x_t - s_(t-7)) + "
    "(1-alpha)(l_(t-1)+b_(t-1)), b_t = beta(l_t-l_(t-1)) + "
    "(1-beta)b_(t-1), s_t = gamma(x_t-l_t) + (1-gamma)s_(t-7) with "
    "alpha=0.3 beta=0.1 gamma=0.2, folded sequentially as a flat "
    "9-list state so the recursion is EXACT on both engines; outputs "
    "final level/trend plus 1- and 7-step seasonal forecasts. At "
    "100 TB the only unbounded stage is the scan + one "
    "(type, day) hash-agg; everything after runs on the day grid.",
)
def q_holt_winters(spark: SparkSession, sf: str) -> DataFrame:
    return holt_winters_daily(table(spark, sf, "events"))


def holt_winters_daily(e: DataFrame) -> DataFrame:
    """The q_holt_winters core over any (event_type, ts, value) DataFrame —
    kept apart from its table scans so the shipped plan code runs as is
    over any input of that shape (scaled or replicated), never a copy."""
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.expr("cast(round(value * 100) as bigint)"))
        .cast("double")
        .alias("cents")
    )
    g = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.expr(
            "transform(array_sort(collect_list(struct(day, cents))),"
            " s -> s.cents)"
        ).alias("vals"),
    )
    g = g.withColumn(
        "l0",
        F.expr(
            "aggregate(slice(vals, 1, 7), 0.0D, (a, x) -> a + x)"
            " / cast(7 as double)"
        ),
    ).withColumn(
        "seed",
        F.expr(
            "concat(array(l0, 0.0D),"
            " transform(slice(vals, 1, 7), x -> x - l0))"
        ),
    )
    hw = F.expr(
        "aggregate(slice(vals, 8, greatest(size(vals) - 7, 0)), seed,"
        " (acc, x) -> concat("
        "  array("
        "   0.3D * (x - element_at(acc, 3))"
        "   + 0.7D * (element_at(acc, 1) + element_at(acc, 2)),"
        "   0.1D * ((0.3D * (x - element_at(acc, 3))"
        "            + 0.7D * (element_at(acc, 1) + element_at(acc, 2)))"
        "           - element_at(acc, 1))"
        "   + 0.9D * element_at(acc, 2)),"
        "  slice(acc, 4, 6),"
        "  array("
        "   0.2D * (x - (0.3D * (x - element_at(acc, 3))"
        "                + 0.7D * (element_at(acc, 1)"
        "                          + element_at(acc, 2))))"
        "   + 0.8D * element_at(acc, 3))))"
    )
    g = g.withColumn("hw", hw)
    # try_element_at, not element_at: a type with < 7 observed days
    # yields an hw state shorter than 9 — DuckDB's hw[9] reads NULL
    # there, and ANSI element_at would CRASH instead of matching it
    # (r15 self-review; degenerate-sparse-type parity guard).
    z = F.lit(0.0)
    return g.select(
        "event_type",
        "n_days",
        (F.round(F.expr("try_element_at(hw, 1)"), 6) + z).alias("level"),
        (F.round(F.expr("try_element_at(hw, 2)"), 6) + z).alias("trend"),
        (
            F.round(
                F.expr(
                    "try_element_at(hw, 1) + cast(1 as double)"
                    " * try_element_at(hw, 2) + try_element_at(hw, 3)"
                ),
                6,
            )
            + z
        ).alias("forecast_1"),
        (
            F.round(
                F.expr(
                    "try_element_at(hw, 1) + cast(7 as double)"
                    " * try_element_at(hw, 2) + try_element_at(hw, 9)"
                ),
                6,
            )
            + z
        ).alias("forecast_7"),
    )


@register(
    "q_forecast_backtest",
    # Walk-forward one-step backtest of the EWMA forecaster on the
    # per-type daily cents series: the SAME sequential fold discipline
    # as q_ewma/q_holt_winters, with a 4-element LIST state
    # [y, sum_abs_err, sum_smape, n_preds] — at each step the
    # PREDICTION is the pre-update y (acc[1]), the error terms
    # accumulate from it, then y updates; both engines construct the
    # whole new state from the OLD acc atomically (DuckDB LIST
    # accumulators are atomic; STRUCT ones are not — the documented
    # 1.0 pitfall). sMAPE guards the zero-denominator day with the
    # same CASE on both sides; literals written directly; outputs
    # rounded (+ 0.0 normalizes -0.0).
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
               AS cents
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), series AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
             list(cents ORDER BY day) AS vals
      FROM daily GROUP BY event_type
    ), folded AS (
      SELECT event_type, n_days,
        list_reduce(
          list_concat(
            [[vals[1], CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
              CAST(0 AS DOUBLE)]],
            list_transform(vals[2:], x -> [x,
              CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)])),
          (acc, e) -> [
            acc[1] * CAST(0.8 AS DOUBLE) + e[1] * CAST(0.2 AS DOUBLE),
            acc[2] + ABS(e[1] - acc[1]),
            acc[3] + CASE WHEN (ABS(e[1]) + ABS(acc[1])) > 0.0
                          THEN CAST(2 AS DOUBLE) * ABS(e[1] - acc[1])
                               / (ABS(e[1]) + ABS(acc[1]))
                          ELSE CAST(0 AS DOUBLE) END,
            acc[4] + CAST(1 AS DOUBLE)]) AS st
      FROM series
    )
    SELECT event_type, n_days,
           CAST(st[4] AS BIGINT) AS n_preds,
           ROUND(st[2] / NULLIF(st[4], 0.0), 2) + 0.0 AS mae_cents,
           ROUND(st[3] / NULLIF(st[4], 0.0), 6) + 0.0 AS smape
    FROM folded
    """,
    doc="Walk-forward ONE-STEP BACKTEST of the EWMA forecaster "
    "(SURVEY §2.4 ext — the metric completing the forecasting "
    "family: q_ewma/q_holt_linear/q_holt_winters produce forecasts, "
    "this says whether they are any GOOD, the way a capacity team "
    "actually validates a smoother before trusting it): per "
    "event_type, fold the daily cents series with alpha=0.2, at each "
    "day score the PRE-update level as the 1-step-ahead prediction "
    "(no lookahead by construction — the prediction for day t uses "
    "only days < t), accumulate MAE and symmetric-MAPE in the same "
    "fold state. Exact on both engines: 4-element LIST state, "
    "identical expression trees, the prediction read from the OLD "
    "accumulator atomically. Day grid is calendar-bounded; the scan "
    "is the only unbounded stage.",
)
def q_forecast_backtest(spark: SparkSession, sf: str) -> DataFrame:
    return forecast_backtest_daily(table(spark, sf, "events"))


def forecast_backtest_daily(e: DataFrame) -> DataFrame:
    """The q_forecast_backtest core over any (event_type, ts, value)
    DataFrame — kept apart from its table scans so the shipped plan code
    runs as is over any input of that shape (scaled or replicated),
    never a copy."""
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.expr("cast(round(value * 100) as bigint)"))
        .cast("double")
        .alias("cents")
    )
    g = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.expr(
            "transform(array_sort(collect_list(struct(day, cents))),"
            " s -> s.cents)"
        ).alias("vals"),
    )
    st = F.expr(
        "aggregate(slice(vals, 2, greatest(size(vals) - 1, 0)),"
        " array(element_at(vals, 1), 0.0D, 0.0D, 0.0D),"
        " (acc, x) -> array("
        "   element_at(acc, 1) * 0.8D + x * 0.2D,"
        "   element_at(acc, 2) + abs(x - element_at(acc, 1)),"
        "   element_at(acc, 3)"
        "   + CASE WHEN (abs(x) + abs(element_at(acc, 1))) > 0.0D"
        "          THEN cast(2 as double) * abs(x - element_at(acc, 1))"
        "               / (abs(x) + abs(element_at(acc, 1)))"
        "          ELSE 0.0D END,"
        "   element_at(acc, 4) + cast(1 as double)))"
    )
    g = g.withColumn("st", st)
    z = F.lit(0.0)
    return g.select(
        "event_type",
        "n_days",
        F.expr("element_at(st, 4)").cast("bigint").alias("n_preds"),
        (
            F.round(
                F.expr("element_at(st, 2)")
                / F.nullif(F.expr("element_at(st, 4)"), z),
                2,
            )
            + z
        ).alias("mae_cents"),
        (
            F.round(
                F.expr("element_at(st, 3)")
                / F.nullif(F.expr("element_at(st, 4)"), z),
                6,
            )
            + z
        ).alias("smape"),
    )


@register(
    "q_forecast_backtest_models",
    # MODEL-SELECTION walk-forward backtest (VERDICT r15 item 6): the
    # q_forecast_backtest discipline run for all three smoothers —
    # EWMA, Holt linear, Holt-Winters seasonal — over the SAME per-type
    # daily cents series in ONE pass (one daily agg, one collect, three
    # fold columns, stacked to tidy rows; no re-scan per model — the
    # ReusedExchange trap the r15 strided-dedup fix documented). Each
    # fold scores the PRE-update state as the 1-step prediction, then
    # updates: EWMA state [y, sae, ssm, n] (the q_forecast_backtest
    # fold verbatim, pred = y); Holt [l, b, sae, ssm, n] (pred = l+b,
    # the q_holt_linear recursion with the level recomputed inside the
    # trend update); Holt-Winters accumulators-FIRST [sae, ssm, n, l,
    # b, s1..s7] so the metric positions survive a <7-day type (the
    # seed is shorter than 12 there and the fold never runs — exactly
    # the try_element_at degenerate posture of q_holt_winters), seeded
    # like q_holt_winters (l0 = first-week left-fold mean, b0 = 0,
    # s_i = x_i - l0), predictions start at day 8 (pred = (l+b)+s_next,
    # left-assoc on both engines). All literals written directly;
    # DuckDB folds use LIST accumulators with the seed as the explicit
    # lifted first element (the documented 1.0 STRUCT pitfall).
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
               AS cents
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), series AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
             list(cents ORDER BY day) AS vals
      FROM daily GROUP BY event_type
    ), seeded AS (
      SELECT event_type, n_days, vals,
             list_sum(vals[1:7]) / CAST(7 AS DOUBLE) AS l0
      FROM series
    ), folded AS (
      SELECT event_type, n_days,
        list_reduce(
          list_concat(
            [[vals[1], CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
              CAST(0 AS DOUBLE)]],
            list_transform(vals[2:], x -> [x,
              CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)])),
          (acc, e) -> [
            acc[1] * CAST(0.8 AS DOUBLE) + e[1] * CAST(0.2 AS DOUBLE),
            acc[2] + ABS(e[1] - acc[1]),
            acc[3] + CASE WHEN (ABS(e[1]) + ABS(acc[1])) > 0.0
                          THEN CAST(2 AS DOUBLE) * ABS(e[1] - acc[1])
                               / (ABS(e[1]) + ABS(acc[1]))
                          ELSE CAST(0 AS DOUBLE) END,
            acc[4] + CAST(1 AS DOUBLE)]) AS st_e,
        list_reduce(
          list_concat(
            [[vals[1], CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
              CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)]],
            list_transform(vals[2:], x -> [x,
              CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
              CAST(0 AS DOUBLE)])),
          (acc, e) -> [
            CAST(0.3 AS DOUBLE) * e[1]
              + CAST(0.7 AS DOUBLE) * (acc[1] + acc[2]),
            CAST(0.1 AS DOUBLE)
              * ((CAST(0.3 AS DOUBLE) * e[1]
                  + CAST(0.7 AS DOUBLE) * (acc[1] + acc[2])) - acc[1])
              + CAST(0.9 AS DOUBLE) * acc[2],
            acc[3] + ABS(e[1] - (acc[1] + acc[2])),
            acc[4] + CASE WHEN (ABS(e[1]) + ABS(acc[1] + acc[2])) > 0.0
                          THEN CAST(2 AS DOUBLE)
                               * ABS(e[1] - (acc[1] + acc[2]))
                               / (ABS(e[1]) + ABS(acc[1] + acc[2]))
                          ELSE CAST(0 AS DOUBLE) END,
            acc[5] + CAST(1 AS DOUBLE)]) AS st_h,
        list_reduce(
          list_concat(
            [list_concat(
              [CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
               l0, CAST(0 AS DOUBLE)],
              list_transform(vals[1:7], x -> x - l0))],
            list_transform(vals[8:], x -> [x,
              CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
              CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
              CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
              CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)])),
          (acc, e) -> list_concat(list_concat(
            [acc[1] + ABS(e[1] - (acc[4] + acc[5] + acc[6])),
             acc[2] + CASE WHEN (ABS(e[1])
                                 + ABS(acc[4] + acc[5] + acc[6])) > 0.0
                           THEN CAST(2 AS DOUBLE)
                                * ABS(e[1] - (acc[4] + acc[5] + acc[6]))
                                / (ABS(e[1])
                                   + ABS(acc[4] + acc[5] + acc[6]))
                           ELSE CAST(0 AS DOUBLE) END,
             acc[3] + CAST(1 AS DOUBLE),
             CAST(0.3 AS DOUBLE) * (e[1] - acc[6])
               + CAST(0.7 AS DOUBLE) * (acc[4] + acc[5]),
             CAST(0.1 AS DOUBLE)
               * ((CAST(0.3 AS DOUBLE) * (e[1] - acc[6])
                   + CAST(0.7 AS DOUBLE) * (acc[4] + acc[5])) - acc[4])
               + CAST(0.9 AS DOUBLE) * acc[5]],
            acc[7:12]),
            [CAST(0.2 AS DOUBLE)
               * (e[1] - (CAST(0.3 AS DOUBLE) * (e[1] - acc[6])
                          + CAST(0.7 AS DOUBLE) * (acc[4] + acc[5])))
               + CAST(0.8 AS DOUBLE) * acc[6]])) AS st_w
      FROM seeded
    )
    SELECT event_type, n_days, 'ewma' AS model,
           CAST(st_e[4] AS BIGINT) AS n_preds,
           ROUND(st_e[2] / NULLIF(st_e[4], 0.0), 2) + 0.0 AS mae_cents,
           ROUND(st_e[3] / NULLIF(st_e[4], 0.0), 6) + 0.0 AS smape
    FROM folded
    UNION ALL
    SELECT event_type, n_days, 'holt',
           CAST(st_h[5] AS BIGINT),
           ROUND(st_h[3] / NULLIF(st_h[5], 0.0), 2) + 0.0,
           ROUND(st_h[4] / NULLIF(st_h[5], 0.0), 6) + 0.0
    FROM folded
    UNION ALL
    SELECT event_type, n_days, 'holt_winters',
           CAST(st_w[3] AS BIGINT),
           ROUND(st_w[1] / NULLIF(st_w[3], 0.0), 2) + 0.0,
           ROUND(st_w[2] / NULLIF(st_w[3], 0.0), 6) + 0.0
    FROM folded
    """,
    doc="MODEL-SELECTION walk-forward backtest (SURVEY §2.4 ext — "
    "the step completing the forecasting family: q_forecast_backtest "
    "scores ONE smoother, this scores EWMA vs Holt vs Holt-Winters "
    "on the same per-type daily series side by side — the comparison "
    "every capacity forecaster runs before trusting a model): one "
    "daily cents agg, one per-type collect, THREE sequential fold "
    "columns over the same array (no re-scan per model), each "
    "scoring the pre-update state as the 1-step-ahead prediction "
    "(no lookahead by construction: the prediction for day t reads "
    "only days < t), stacked to tidy (event_type, model) rows with "
    "n_preds/MAE/sMAPE. Seasonal predictions start at day 8 (post-"
    "seed), linear models at day 2 — n_preds says so explicitly. "
    "Exact on both engines: LIST states, identical expression trees, "
    "atomic accumulator construction. Day grid is calendar-bounded; "
    "the scan is the only unbounded stage.",
)
def q_forecast_backtest_models(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.expr("cast(round(value * 100) as bigint)"))
        .cast("double")
        .alias("cents")
    )
    g = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.expr(
            "transform(array_sort(collect_list(struct(day, cents))),"
            " s -> s.cents)"
        ).alias("vals"),
    )
    g = g.withColumn(
        "st_e",
        F.expr(
            "aggregate(slice(vals, 2, greatest(size(vals) - 1, 0)),"
            " array(element_at(vals, 1), 0.0D, 0.0D, 0.0D),"
            " (acc, x) -> array("
            "   element_at(acc, 1) * 0.8D + x * 0.2D,"
            "   element_at(acc, 2) + abs(x - element_at(acc, 1)),"
            "   element_at(acc, 3)"
            "   + CASE WHEN (abs(x) + abs(element_at(acc, 1))) > 0.0D"
            "          THEN cast(2 as double) * abs(x - element_at(acc, 1))"
            "               / (abs(x) + abs(element_at(acc, 1)))"
            "          ELSE 0.0D END,"
            "   element_at(acc, 4) + cast(1 as double)))"
        ),
    ).withColumn(
        "st_h",
        F.expr(
            "aggregate(slice(vals, 2, greatest(size(vals) - 1, 0)),"
            " array(element_at(vals, 1), 0.0D, 0.0D, 0.0D, 0.0D),"
            " (acc, x) -> array("
            "   0.3D * x"
            "   + 0.7D * (element_at(acc, 1) + element_at(acc, 2)),"
            "   0.1D * ((0.3D * x"
            "            + 0.7D * (element_at(acc, 1) + element_at(acc, 2)))"
            "           - element_at(acc, 1))"
            "   + 0.9D * element_at(acc, 2),"
            "   element_at(acc, 3)"
            "   + abs(x - (element_at(acc, 1) + element_at(acc, 2))),"
            "   element_at(acc, 4)"
            "   + CASE WHEN (abs(x)"
            "                + abs(element_at(acc, 1) + element_at(acc, 2)))"
            "               > 0.0D"
            "          THEN cast(2 as double)"
            "               * abs(x - (element_at(acc, 1)"
            "                          + element_at(acc, 2)))"
            "               / (abs(x) + abs(element_at(acc, 1)"
            "                               + element_at(acc, 2)))"
            "          ELSE 0.0D END,"
            "   element_at(acc, 5) + cast(1 as double)))"
        ),
    )
    g = g.withColumn(
        "l0",
        F.expr(
            "aggregate(slice(vals, 1, 7), 0.0D, (a, x) -> a + x)"
            " / cast(7 as double)"
        ),
    ).withColumn(
        "seed_w",
        F.expr(
            "concat(array(0.0D, 0.0D, 0.0D, l0, 0.0D),"
            " transform(slice(vals, 1, 7), x -> x - l0))"
        ),
    )
    g = g.withColumn(
        "st_w",
        F.expr(
            "aggregate(slice(vals, 8, greatest(size(vals) - 7, 0)), seed_w,"
            " (acc, x) -> concat("
            "  array("
            "   element_at(acc, 1)"
            "   + abs(x - (element_at(acc, 4) + element_at(acc, 5)"
            "              + element_at(acc, 6))),"
            "   element_at(acc, 2)"
            "   + CASE WHEN (abs(x)"
            "                + abs(element_at(acc, 4) + element_at(acc, 5)"
            "                      + element_at(acc, 6))) > 0.0D"
            "          THEN cast(2 as double)"
            "               * abs(x - (element_at(acc, 4)"
            "                          + element_at(acc, 5)"
            "                          + element_at(acc, 6)))"
            "               / (abs(x)"
            "                  + abs(element_at(acc, 4) + element_at(acc, 5)"
            "                        + element_at(acc, 6)))"
            "          ELSE 0.0D END,"
            "   element_at(acc, 3) + cast(1 as double),"
            "   0.3D * (x - element_at(acc, 6))"
            "   + 0.7D * (element_at(acc, 4) + element_at(acc, 5)),"
            "   0.1D * ((0.3D * (x - element_at(acc, 6))"
            "            + 0.7D * (element_at(acc, 4) + element_at(acc, 5)))"
            "           - element_at(acc, 4))"
            "   + 0.9D * element_at(acc, 5)),"
            "  slice(acc, 7, 6),"
            "  array("
            "   0.2D * (x - (0.3D * (x - element_at(acc, 6))"
            "                + 0.7D * (element_at(acc, 4)"
            "                          + element_at(acc, 5))))"
            "   + 0.8D * element_at(acc, 6))))"
        ),
    )
    return g.selectExpr(
        "event_type",
        "n_days",
        "stack(3,"
        " 'ewma',"
        " cast(element_at(st_e, 4) as bigint),"
        " round(element_at(st_e, 2) / nullif(element_at(st_e, 4), 0.0D), 2)"
        "   + 0.0D,"
        " round(element_at(st_e, 3) / nullif(element_at(st_e, 4), 0.0D), 6)"
        "   + 0.0D,"
        " 'holt',"
        " cast(element_at(st_h, 5) as bigint),"
        " round(element_at(st_h, 3) / nullif(element_at(st_h, 5), 0.0D), 2)"
        "   + 0.0D,"
        " round(element_at(st_h, 4) / nullif(element_at(st_h, 5), 0.0D), 6)"
        "   + 0.0D,"
        " 'holt_winters',"
        " cast(element_at(st_w, 3) as bigint),"
        " round(element_at(st_w, 1) / nullif(element_at(st_w, 3), 0.0D), 2)"
        "   + 0.0D,"
        " round(element_at(st_w, 2) / nullif(element_at(st_w, 3), 0.0D), 6)"
        "   + 0.0D"
        ") AS (model, n_preds, mae_cents, smape)",
    )


@register(
    "q_seasonal_decompose",
    # Classical additive seasonal-trend decomposition on the per-type
    # daily cents series (the statsmodels seasonal_decompose shape,
    # period 7): trend = centered 7-day moving average (RANGE window
    # over epoch-day ints, so calendar GAPS cannot misalign the frame;
    # NULL unless all 7 days are present), seasonal = per-(type, dow)
    # mean of the detrended series, resid = cents − trend − seasonal.
    # Engine-exact by the integer-algebra trick: the detrended value
    # cents − sum7/7 is scaled to dev = 7·cents − sum7, an EXACT
    # BIGINT, so the seasonal mean is one exact integer SUM with ONE
    # double division Σdev/(7·n) — no order-dependent double
    # accumulation anywhere (the k-group-fold discipline without
    # needing a fold). The seasonal indices are the raw dow means of
    # the detrended series (not de-meaned across dows — the residual
    # absorbs the constant; trend + seasonal + resid reconstructs
    # cents exactly wherever trend is defined, by construction). dow
    # convention: Spark dayofweek−1 ≡ DuckDB EXTRACT(dow), 0=Sunday
    # (the q_cramers_v pairing).
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(EXTRACT(dow FROM CAST(ts AS DATE)) AS BIGINT) AS dow,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), win AS (
      SELECT event_type, day, dow, cents,
             CAST(SUM(cents) OVER (
               PARTITION BY event_type
               ORDER BY (day - DATE '1970-01-01')
               RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING
             ) AS BIGINT) AS sum7,
             CAST(COUNT(*) OVER (
               PARTITION BY event_type
               ORDER BY (day - DATE '1970-01-01')
               RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING
             ) AS BIGINT) AS cnt7
      FROM daily
    ), dev AS (
      SELECT *,
             CASE WHEN cnt7 = 7 THEN 7 * cents - sum7 END AS dev
      FROM win
    ), seas AS (
      SELECT event_type, dow,
             CAST(SUM(dev) AS BIGINT) AS s_sum,
             CAST(COUNT(dev) AS BIGINT) AS s_cnt
      FROM dev GROUP BY event_type, dow
    )
    SELECT d.event_type, d.day, d.cents,
           ROUND(CASE WHEN d.cnt7 = 7
                      THEN CAST(d.sum7 AS DOUBLE) / CAST(7 AS DOUBLE)
                 END, 6) + 0.0 AS trend,
           ROUND(CAST(s.s_sum AS DOUBLE)
                 / (CAST(7 AS DOUBLE) * CAST(s.s_cnt AS DOUBLE)),
                 6) + 0.0 AS seasonal,
           ROUND(CAST(d.cents AS DOUBLE)
                 - CASE WHEN d.cnt7 = 7
                        THEN CAST(d.sum7 AS DOUBLE) / CAST(7 AS DOUBLE)
                   END
                 - CAST(s.s_sum AS DOUBLE)
                   / (CAST(7 AS DOUBLE) * CAST(s.s_cnt AS DOUBLE)),
                 6) + 0.0 AS resid
    FROM dev d JOIN seas s USING (event_type, dow)
    """,
    doc="Classical ADDITIVE seasonal-trend decomposition of the "
    "per-type daily series, period 7 (SURVEY §2.4 ext — the "
    "statsmodels seasonal_decompose shape, the diagnostic every "
    "forecaster runs BEFORE choosing a model, completing the "
    "seasonal family: q_seasonal_profile shows the raw weekly "
    "pattern, q_holt_winters fits it, q_forecast_backtest_models "
    "scores the fit, THIS splits the series into trend + seasonal + "
    "residual so you can see which component dominates): trend is a "
    "centered 7-day moving average over a RANGE window on epoch-day "
    "ints (calendar gaps cannot misalign the frame; NULL unless the "
    "full week is present), seasonal is the per-dow mean of the "
    "detrended series computed EXACTLY (dev = 7*cents - sum7 is "
    "exact integer; one double division at the end), resid "
    "reconstructs cents wherever trend is defined. At 100 TB the "
    "only unbounded stage is the scan + one (type, day) hash-agg — "
    "the windows and the dow join run on the calendar-bounded day "
    "grid (the q_holt_winters posture), and the 35-row seasonal "
    "table broadcasts.",
)
def q_seasonal_decompose(spark: SparkSession, sf: str) -> DataFrame:
    return seasonal_decompose_daily(table(spark, sf, "events"))


def seasonal_decompose_daily(e: DataFrame) -> DataFrame:
    """The q_seasonal_decompose core over any (event_type, ts, value)
    DataFrame — kept apart from its table scans so the shipped plan code
    runs as is over any input of that shape (scaled or replicated),
    never a copy."""
    from pyspark.sql import Window

    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.expr("cast(round(value * 100) as bigint)"))
        .cast("bigint")
        .alias("cents")
    ).select(
        "event_type",
        "day",
        (F.dayofweek("day") - 1).cast("bigint").alias("dow"),
        "cents",
        F.expr("unix_date(day)").alias("d"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rangeBetween(-3, 3)
    )
    win = daily.select(
        "event_type",
        "day",
        "dow",
        "cents",
        F.sum("cents").over(w).cast("bigint").alias("sum7"),
        F.count("*").over(w).cast("bigint").alias("cnt7"),
    )
    dev = win.withColumn(
        "dev",
        F.when(F.col("cnt7") == 7, 7 * F.col("cents") - F.col("sum7")),
    )
    seas = dev.groupBy("event_type", "dow").agg(
        F.sum("dev").cast("bigint").alias("s_sum"),
        F.count("dev").cast("bigint").alias("s_cnt"),
    )
    trend_raw = F.when(
        F.col("cnt7") == 7,
        F.col("sum7").cast("double") / F.lit(7.0),
    )
    seasonal_raw = F.col("s_sum").cast("double") / (
        F.lit(7.0) * F.col("s_cnt").cast("double")
    )
    z = F.lit(0.0)
    return dev.join(F.broadcast(seas), ["event_type", "dow"]).select(
        "event_type",
        "day",
        "cents",
        (F.round(trend_raw, 6) + z).alias("trend"),
        (F.round(seasonal_raw, 6) + z).alias("seasonal"),
        (
            F.round(
                F.col("cents").cast("double") - trend_raw - seasonal_raw,
                6,
            )
            + z
        ).alias("resid"),
    )


@register(
    "q_friedman",
    # Friedman rank test (non-parametric repeated-measures ANOVA):
    # blocks = days, treatments = event types, on the per-(type, day)
    # daily cents. The k-group family's REPEATED-MEASURES member: the
    # q_kruskal_wallis machinery applied WITHIN each day block. Only
    # COMPLETE blocks (days carrying all k types) enter — the
    # classical complete-block design, enforced by a 1-row broadcast
    # of the global type count. All-integer tied ranks per block
    # (2r = 2C − c + 1 over the day's value multiset), doubled rank
    # sums 2Rⱼ exact BIGINT, squares in double on both engines (the
    # r16 kruskal overflow posture), tie term Σ(c³−c) exact; Q and
    # its tie-corrected form fold over the k treatments in sorted
    # order. Q = 12/(n·k·(k+1))·ΣRⱼ² − 3·n·(k+1); corr = 1 −
    # ΣT/(n·k·(k²−1)).
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), ktot AS (
      SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k FROM daily
    ), complete AS (
      SELECT day FROM daily GROUP BY day
      HAVING COUNT(*) = (SELECT k FROM ktot)
    ), cb AS (
      SELECT d.* FROM daily d JOIN complete USING (day)
    ), vals AS (
      SELECT day, cents, CAST(COUNT(*) AS BIGINT) AS c
      FROM cb GROUP BY day, cents
    ), cum AS (
      SELECT day, cents, c,
             CAST(SUM(c) OVER (
               PARTITION BY day ORDER BY cents
             ) AS BIGINT) AS cc
      FROM vals
    ), r AS (
      SELECT cb.event_type,
             CAST(SUM(2 * cum.cc - cum.c + 1) AS BIGINT) AS r2x2,
             CAST(COUNT(*) AS BIGINT) AS nb
      FROM cb JOIN cum USING (day, cents)
      GROUP BY cb.event_type
    ), ties AS (
      SELECT CAST(SUM(CAST(c AS HUGEINT) * c * c - c) AS DOUBLE) AS tsum
      FROM vals
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(MIN(nb) AS BIGINT) AS n_blocks,
             list_sum(list_transform(
               list(CAST(r2x2 AS DOUBLE) * CAST(r2x2 AS DOUBLE)
                    / CAST(4 AS DOUBLE) ORDER BY event_type),
               x -> x)) AS sterm
      FROM r
    )
    SELECT k, n_blocks,
           ROUND(CAST(12 AS DOUBLE)
                 / (CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
                    * (CAST(k AS DOUBLE) + 1.0))
                 * sterm
                 - 3.0 * CAST(n_blocks AS DOUBLE)
                   * (CAST(k AS DOUBLE) + 1.0), 6) + 0.0 AS q_stat,
           ROUND((CAST(12 AS DOUBLE)
                  / (CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
                     * (CAST(k AS DOUBLE) + 1.0))
                  * sterm
                  - 3.0 * CAST(n_blocks AS DOUBLE)
                    * (CAST(k AS DOUBLE) + 1.0))
                 / NULLIF(1.0 - tsum
                          / (CAST(n_blocks AS DOUBLE)
                             * CAST(k AS DOUBLE)
                             * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
                                - 1.0)),
                          0.0), 6) + 0.0 AS q_corrected
    FROM s, ties
    """,
    doc="Friedman rank test across event types with days as blocks "
    "(SURVEY §2.4 ext — the REPEATED-MEASURES member completing the "
    "k-group family: q_anova assumes normality, q_kruskal_wallis "
    "drops it but pools all observations, Friedman additionally "
    "removes between-day level shifts by ranking WITHIN each day — "
    "the right test for 'do the types differ, day after day?' and "
    "the canonical model-comparison test over shared datasets): only "
    "complete day blocks enter (all k types present — a 1-row "
    "broadcast of the global type count gates them), within-block "
    "tied ranks are exact integers (2r = 2C − c + 1), doubled rank "
    "sums exact BIGINT, squares in double on both engines, the tie "
    "term Σ(c³−c) exact, Q and its tie-corrected form derived with "
    "engine-identical parenthesization and a sorted fold over the k "
    "treatments. At 100 TB the only unbounded stage is the scan + "
    "one (type, day) hash-agg: every window partitions by DAY over "
    "≤ k rows, and all aggregates land on the calendar-bounded day "
    "grid or the k-row treatment table.",
)
def q_friedman(spark: SparkSession, sf: str) -> DataFrame:
    return friedman_stats(table(spark, sf, "events"))


def friedman_stats(e: DataFrame) -> DataFrame:
    """The q_friedman core over any (event_type, ts, value) DataFrame —
    kept apart from its table scans so the shipped plan code runs as is
    over any input of that shape (scaled or replicated), never a copy."""
    from pyspark.sql import Window

    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.expr("cast(round(value * 100) as bigint)"))
        .cast("bigint")
        .alias("cents")
    )
    daily = daily.localCheckpoint(eager=True)
    ktot = daily.agg(
        F.countDistinct("event_type").cast("bigint").alias("k")
    )
    complete = (
        daily.groupBy("day")
        .agg(F.count("*").alias("n_types"))
        .crossJoin(F.broadcast(ktot))
        .filter(F.col("n_types") == F.col("k"))
        .select("day")
    )
    cb = daily.join(F.broadcast(complete), "day")
    vals = cb.groupBy("day", "cents").agg(
        F.count("*").cast("bigint").alias("c")
    )
    cum = vals.select(
        "day",
        "cents",
        "c",
        F.sum("c")
        .over(Window.partitionBy("day").orderBy("cents"))
        .cast("bigint")
        .alias("cc"),
    )
    r = (
        cb.join(cum, ["day", "cents"])
        .groupBy("event_type")
        .agg(
            F.sum(2 * F.col("cc") - F.col("c") + 1)
            .cast("bigint")
            .alias("r2x2"),
            F.count("*").cast("bigint").alias("nb"),
        )
    )
    cv = F.col("c")
    d19 = lambda col: col.cast("decimal(19,0)")  # noqa: E731
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    ties = vals.agg(
        F.sum(d19(cv) * d19(cv) * d19(cv) - dec(cv))
        .cast("double")
        .alias("tsum")
    )
    s = r.agg(
        F.count("*").cast("bigint").alias("k"),
        F.min("nb").cast("bigint").alias("n_blocks"),
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct("
            "event_type AS m,"
            " cast(r2x2 as double) * cast(r2x2 as double)"
            " / cast(4 as double) AS t))),"
            " s -> s.t), 0.0D, (a, x) -> a + x)"
        ).alias("sterm"),
    )
    nd = F.col("n_blocks").cast("double")
    kd = F.col("k").cast("double")
    q = (
        F.lit(12.0).cast("double")
        / (nd * kd * (kd + F.lit(1.0)))
        * F.col("sterm")
        - F.lit(3.0) * nd * (kd + F.lit(1.0))
    )
    corr = F.lit(1.0) - F.col("tsum") / (
        nd * kd * (kd * kd - F.lit(1.0))
    )
    z = F.lit(0.0)
    return s.crossJoin(F.broadcast(ties)).select(
        "k",
        "n_blocks",
        (F.round(q, 6) + z).alias("q_stat"),
        (F.round(q / F.nullif(corr, F.lit(0.0)), 6) + z).alias(
            "q_corrected"
        ),
    )


@register(
    "q_mann_kendall",
    # Mann-Kendall trend test per event type on the daily cents series
    # (the monitoring-world standard for 'is this series trending?' —
    # distribution-free, the significance-test companion of the
    # q_theil_sen slope): S = Σ_{i<j} sign(x_j − x_i) over day pairs,
    # tie-corrected variance Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]
    # / 18, continuity-corrected z. ALL-INTEGER until the final
    # divisions: signs and S are exact BIGINT via a day-grid self-join
    # (i < j on epoch day — CALENDAR-bounded quadratic, ~n²/2 pairs per
    # type on the DAY GRID, never the fact table; the q_holt_winters
    # documented-acceptable posture), the variance polynomial exact in
    # DECIMAL, one sqrt + division in double with engine-identical
    # parenthesization. tau = S / (n(n−1)/2) as double.
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), pairs AS (
      SELECT a.event_type,
             CAST(SUM(CASE WHEN b.cents > a.cents THEN 1
                           WHEN b.cents < a.cents THEN -1
                           ELSE 0 END) AS BIGINT) AS s_stat
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND b.day > a.day
      GROUP BY a.event_type
    ), nn AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily GROUP BY event_type
    ), ties AS (
      SELECT event_type,
             CAST(COALESCE(SUM(CAST(c AS HUGEINT) * (c - 1)
                               * (2 * c + 5)), 0) AS BIGINT) AS tsum
      FROM (
        SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS c
        FROM daily GROUP BY event_type, cents
      ) g WHERE c > 1 GROUP BY event_type
    )
    SELECT n.event_type, n.n_days, p.s_stat,
           ROUND(CAST(p.s_stat AS DOUBLE)
                 / (CAST(n.n_days AS DOUBLE)
                    * (CAST(n.n_days AS DOUBLE) - 1.0)
                    / CAST(2 AS DOUBLE)), 6) + 0.0 AS tau,
           ROUND(CASE
             WHEN p.s_stat > 0 THEN (CAST(p.s_stat AS DOUBLE) - 1.0)
               / sqrt(CAST(n.n_days * (n.n_days - 1)
                           * (2 * n.n_days + 5)
                           - COALESCE(t.tsum, 0) AS DOUBLE)
                      / CAST(18 AS DOUBLE))
             WHEN p.s_stat < 0 THEN (CAST(p.s_stat AS DOUBLE) + 1.0)
               / sqrt(CAST(n.n_days * (n.n_days - 1)
                           * (2 * n.n_days + 5)
                           - COALESCE(t.tsum, 0) AS DOUBLE)
                      / CAST(18 AS DOUBLE))
             ELSE 0.0 END, 6) + 0.0 AS z_score
    FROM nn n
    JOIN pairs p USING (event_type)
    LEFT JOIN ties t USING (event_type)
    """,
    doc="Mann-Kendall trend test per event type on the daily cents "
    "series (SURVEY §2.4 ext — the monitoring standard for 'is this "
    "metric trending?', completing the trend toolkit: q_theil_sen "
    "gives the robust slope, q_runs_test checks randomness, THIS "
    "gives the distribution-free trend significance): S = sum of "
    "pairwise signs over day pairs, exact BIGINT via a day-grid "
    "self-join (calendar-bounded ~n²/2 pairs per type on the DAY "
    "GRID, never the fact — the documented acceptable quadratic "
    "posture), tie-corrected variance exact integer polynomial, "
    "continuity-corrected z and Kendall tau in double with "
    "engine-identical parenthesization. At 100 TB the only unbounded "
    "stage is the scan + one (type, day) hash-agg.",
)
def q_mann_kendall(spark: SparkSession, sf: str) -> DataFrame:
    return mann_kendall_stats(table(spark, sf, "events"))


def mann_kendall_stats(e: DataFrame) -> DataFrame:
    """The q_mann_kendall core over any (event_type, ts, value) DataFrame —
    kept apart from its table scans so the shipped plan code runs as is
    over any input of that shape (scaled or replicated), never a copy."""
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.expr("cast(round(value * 100) as bigint)"))
        .cast("bigint")
        .alias("cents")
    )
    daily = daily.localCheckpoint(eager=True)
    a = daily.select(
        F.col("event_type"),
        F.col("day").alias("day_a"),
        F.col("cents").alias("cents_a"),
    )
    b = daily.select(
        F.col("event_type"),
        F.col("day").alias("day_b"),
        F.col("cents").alias("cents_b"),
    )
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("day_b") > F.col("day_a"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("cents_b") > F.col("cents_a"), 1)
                .when(F.col("cents_b") < F.col("cents_a"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    nn = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days")
    )
    ties = (
        daily.groupBy("event_type", "cents")
        .agg(F.count("*").cast("bigint").alias("c"))
        .filter(F.col("c") > 1)
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("c").cast("decimal(19,0)")
                    * (F.col("c") - 1)
                    * (2 * F.col("c") + 5)
                ),
                F.lit(0).cast("decimal(38,0)"),
            )
            .cast("bigint")
            .alias("tsum")
        )
    )
    nd = F.col("n_days").cast("double")
    sd = F.col("s_stat").cast("double")
    var = (
        (
            F.col("n_days") * (F.col("n_days") - 1)
            * (2 * F.col("n_days") + 5)
            - F.coalesce(F.col("tsum"), F.lit(0))
        ).cast("double")
        / F.lit(18.0).cast("double")
    )
    z = F.lit(0.0)
    return (
        nn.join(pairs, "event_type")
        .join(ties, "event_type", "left")
        .select(
            "event_type",
            "n_days",
            "s_stat",
            (
                F.round(
                    sd / (nd * (nd - F.lit(1.0)) / F.lit(2.0).cast("double")),
                    6,
                )
                + z
            ).alias("tau"),
            (
                F.round(
                    F.when(
                        F.col("s_stat") > 0, (sd - F.lit(1.0)) / F.sqrt(var)
                    )
                    .when(
                        F.col("s_stat") < 0, (sd + F.lit(1.0)) / F.sqrt(var)
                    )
                    .otherwise(F.lit(0.0)),
                    6,
                )
                + z
            ).alias("z_score"),
        )
    )


@register(
    "q_ljung_box",
    # Ljung-Box portmanteau test per event type on the daily cents
    # series, h = 7 (the 'is there ANY autocorrelation left?' test
    # every forecaster runs on residuals, and on raw series the
    # one-number companion of q_autocorr's per-lag view). The
    # q_autocorr ALL-INTEGER estimator per type: y_t = n·cents_t − S
    # exact DECIMAL (the n² scale factors cancel in every ρ ratio), so
    # each ρ_k = Σ y_t·y_{t+k} / Σ y_t² has exact integer numerator
    # and denominator with ONE double division; the lag terms
    # ρ_k²/(n−k) then fold over k in sorted order (the k-group fold
    # discipline) and Q = n(n+2)·Σ — identical parenthesization both
    # engines. Lags beyond the series length simply produce no pairs
    # (absent from the fold on BOTH engines).
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), tot AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS s
      FROM daily GROUP BY event_type
    ), y AS (
      SELECT d.event_type,
             row_number() OVER (
               PARTITION BY d.event_type ORDER BY d.day
             ) AS rn,
             CAST(t.n AS HUGEINT) * d.cents - t.s AS y,
             t.n
      FROM daily d JOIN tot t USING (event_type)
    ), den AS (
      SELECT event_type, CAST(SUM(y * y) AS DOUBLE) AS dd
      FROM y GROUP BY event_type
    ), num AS (
      SELECT a.event_type, CAST(b.rn - a.rn AS BIGINT) AS lag,
             CAST(SUM(a.y * b.y) AS DOUBLE) AS nm,
             CAST(MIN(a.n) AS BIGINT) AS n
      FROM y a JOIN y b
        ON a.event_type = b.event_type
       AND b.rn - a.rn BETWEEN 1 AND 7
      GROUP BY a.event_type, b.rn - a.rn
    ), terms AS (
      SELECT num.event_type, num.lag, num.n,
             (num.nm / NULLIF(den.dd, 0))
             * (num.nm / NULLIF(den.dd, 0))
             / CAST(num.n - num.lag AS DOUBLE) AS term
      FROM num JOIN den USING (event_type)
    )
    SELECT event_type,
           CAST(MIN(n) AS BIGINT) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS h,
           ROUND(CAST(MIN(n) AS DOUBLE)
                 * (CAST(MIN(n) AS DOUBLE) + 2.0)
                 * list_sum(list_transform(
                     list(term ORDER BY lag), x -> x)), 6) + 0.0
             AS q_lb
    FROM terms GROUP BY event_type
    """,
    doc="Ljung-Box portmanteau test per event type, h = 7 lags, on "
    "the daily cents series (SURVEY §2.4 ext — the one-number 'is "
    "there ANY autocorrelation?' test completing the series "
    "diagnostics: q_autocorr shows ρ per lag, q_runs_test checks "
    "sign randomness, THIS is what a forecaster runs on residuals "
    "to certify a model captured the structure): the q_autocorr "
    "all-integer estimator applied per type — centered series "
    "scaled by n is exact integer, every ρ_k one double division — "
    "then Q = n(n+2)·Σ ρ_k²/(n−k) with the lag terms folded in "
    "sorted order. At 100 TB the only unbounded stage is the scan + "
    "one (type, day) hash-agg; the lag self-join is 7×|days| rows "
    "per type on the calendar-bounded day grid.",
)
def q_ljung_box(spark: SparkSession, sf: str) -> DataFrame:
    return ljung_box_stats(table(spark, sf, "events"))


def ljung_box_stats(e: DataFrame) -> DataFrame:
    """The q_ljung_box core over any (event_type, ts, value) DataFrame —
    kept apart from its table scans so the shipped plan code runs as is
    over any input of that shape (scaled or replicated), never a copy."""
    from pyspark.sql import Window

    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.expr("cast(round(value * 100) as bigint)"))
        .cast("bigint")
        .alias("cents")
    )
    daily = daily.localCheckpoint(eager=True)
    tot = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
    )
    y = daily.join(F.broadcast(tot), "event_type").select(
        "event_type",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .alias("rn"),
        (
            F.col("n").cast("decimal(38,0)") * F.col("cents")
            - F.col("s")
        ).alias("y"),
        "n",
    )
    y = y.localCheckpoint(eager=True)
    den = y.groupBy("event_type").agg(
        F.sum(F.col("y") * F.col("y")).cast("double").alias("dd")
    )
    a = y.select(
        "event_type", F.col("rn").alias("rn_a"), F.col("y").alias("ya"),
        "n",
    )
    b = y.select(
        "event_type", F.col("rn").alias("rn_b"), F.col("y").alias("yb")
    )
    num = (
        a.join(b, "event_type")
        .filter(
            (F.col("rn_b") - F.col("rn_a") >= 1)
            & (F.col("rn_b") - F.col("rn_a") <= 7)
        )
        .groupBy(
            "event_type",
            (F.col("rn_b") - F.col("rn_a")).cast("bigint").alias("lag"),
        )
        .agg(
            F.sum(F.col("ya") * F.col("yb")).cast("double").alias("nm"),
            F.min("n").cast("bigint").alias("n"),
        )
    )
    rho = F.col("nm") / F.nullif(F.col("dd"), F.lit(0.0))
    terms = num.join(F.broadcast(den), "event_type").select(
        "event_type",
        "lag",
        "n",
        (rho * rho / (F.col("n") - F.col("lag")).cast("double")).alias(
            "term"
        ),
    )
    nd = F.min("n").cast("double")
    z = F.lit(0.0)
    return terms.groupBy("event_type").agg(
        F.min("n").cast("bigint").alias("n_days"),
        F.count("*").cast("bigint").alias("h"),
        (
            F.round(
                F.min("n").cast("double")
                * (F.min("n").cast("double") + F.lit(2.0))
                * F.expr(
                    "aggregate(transform(array_sort(collect_list("
                    "struct(lag, term))), s -> s.term),"
                    " 0.0D, (a, x) -> a + x)"
                ),
                6,
            )
            + z
        ).alias("q_lb"),
    )


def _durbin_levinson_exprs(h: int = 7) -> list[tuple[str, str]]:
    """The Durbin-Levinson recursion unrolled to h levels as (name,
    sql) pairs in dependency order, over input columns r1..rh (the
    ACF values). The SAME generated text feeds Spark (withColumn
    chain) and the DuckDB oracle (nested-CTE chain), so the float
    expression trees are identical BY CONSTRUCTION — the
    engine-portable-DP discipline (operators/unigram.py) applied to
    the AR recursion. phi_kk is the lag-k PACF; NULLIF guards a
    degenerate zero denominator; left-assoc sums on both engines."""
    exprs: list[tuple[str, str]] = [("p1_1", "r1")]
    for k in range(2, h + 1):
        num = f"r{k} - (" + " + ".join(
            f"p{k-1}_{j} * r{k-j}" for j in range(1, k)
        ) + ")"
        den = "cast(1 as double) - (" + " + ".join(
            f"p{k-1}_{j} * r{j}" for j in range(1, k)
        ) + ")"
        exprs.append((f"num{k}", num))
        exprs.append((f"den{k}", den))
        exprs.append(
            (f"p{k}_{k}", f"num{k} / nullif(den{k}, cast(0 as double))")
        )
        for j in range(1, k):
            exprs.append(
                (f"p{k}_{j}", f"p{k-1}_{j} - p{k}_{k} * p{k-1}_{k-j}")
            )
    return exprs


def _pacf_oracle(h: int = 7) -> str:
    """DuckDB twin of q_pacf, assembled from the SAME generated
    Durbin-Levinson text as the Spark plan (see
    _durbin_levinson_exprs)."""
    rho_cols = ",\n             ".join(
        f"MAX(CASE WHEN lag = {k} THEN rho END) AS r{k}"
        for k in range(1, h + 1)
    )
    layers = []
    prev = "wide"
    for i, (name, sql) in enumerate(_durbin_levinson_exprs(h)):
        layers.append(f"l{i} AS (SELECT *, {sql} AS {name} FROM {prev})")
        prev = f"l{i}"
    unions = "\n    UNION ALL\n    ".join(
        f"SELECT event_type, n_days, CAST({k} AS BIGINT) AS lag,"
        f" ROUND(p{k}_{k}, 6) + 0.0 AS pacf FROM {prev}"
        for k in range(1, h + 1)
    )
    layer_sql = ",\n    ".join(layers)
    return f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), tot AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS s
      FROM daily GROUP BY event_type
    ), y AS (
      SELECT d.event_type,
             row_number() OVER (
               PARTITION BY d.event_type ORDER BY d.day
             ) AS rn,
             CAST(t.n AS HUGEINT) * d.cents - t.s AS y,
             t.n
      FROM daily d JOIN tot t USING (event_type)
    ), den AS (
      SELECT event_type, CAST(SUM(y * y) AS DOUBLE) AS dd
      FROM y GROUP BY event_type
    ), num AS (
      SELECT a.event_type, CAST(b.rn - a.rn AS BIGINT) AS lag,
             CAST(SUM(a.y * b.y) AS DOUBLE) AS nm,
             CAST(MIN(a.n) AS BIGINT) AS n
      FROM y a JOIN y b
        ON a.event_type = b.event_type
       AND b.rn - a.rn BETWEEN 1 AND {h}
      GROUP BY a.event_type, b.rn - a.rn
    ), rho AS (
      SELECT num.event_type, num.lag, num.n,
             num.nm / NULLIF(den.dd, 0) AS rho
      FROM num JOIN den USING (event_type)
    ), wide AS (
      SELECT event_type, CAST(MIN(n) AS BIGINT) AS n_days,
             {rho_cols}
      FROM rho GROUP BY event_type
    ), {layer_sql}
    {unions}
    """


@register(
    "q_pacf",
    # Partial autocorrelation at lags 1-7 per event type — the OTHER
    # half of the q_autocorr diagnostic pair (ACF tails off / PACF
    # cuts off at p is THE classical AR(p) order-selection read).
    # ρ_k comes from the q_autocorr/q_ljung_box all-integer estimator
    # (exact integer numerator/denominator per type, one double
    # division); the Durbin-Levinson recursion φ_kk is then unrolled
    # to 7 levels from ONE generated expression text shared verbatim
    # with the oracle (_durbin_levinson_exprs), so both engines
    # evaluate identical float trees — no fold machinery, no
    # approximation. A type with fewer than 8 days has NULL ρ at the
    # missing lags and the NULLs propagate through the recursion to
    # NULL PACF rows identically on both engines.
    oracle=_pacf_oracle(7),
    doc="Partial autocorrelation function at lags 1-7 per event type "
    "(SURVEY §2.4 ext — completing the Box-Jenkins diagnostic pair: "
    "q_autocorr's ACF tails off for AR processes while THIS cuts off "
    "sharply at the true order, the classical AR(p) selection read; "
    "with q_ljung_box that is the full pre-model identification "
    "toolkit): per-type ρ from the all-integer centered-series "
    "estimator, then the Durbin-Levinson recursion unrolled to 7 "
    "levels from ONE generated expression text shared verbatim "
    "between the Spark plan and the DuckDB oracle — identical float "
    "trees by construction (the operators/unigram.py "
    "engine-portable-DP discipline). At 100 TB the only unbounded "
    "stage is the scan + one (type, day) hash-agg; everything after "
    "runs on the k-row-per-type lag table.",
)
def q_pacf(spark: SparkSession, sf: str) -> DataFrame:
    return pacf_stats(table(spark, sf, "events"))


def pacf_stats(e: DataFrame) -> DataFrame:
    """The q_pacf core over any (event_type, ts, value) DataFrame — kept
    apart from its table scans so the shipped plan code runs as is over
    any input of that shape (scaled or replicated), never a copy."""
    from pyspark.sql import Window

    h = 7
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.expr("cast(round(value * 100) as bigint)"))
        .cast("bigint")
        .alias("cents")
    )
    daily = daily.localCheckpoint(eager=True)
    tot = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
    )
    y = daily.join(F.broadcast(tot), "event_type").select(
        "event_type",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .alias("rn"),
        (
            F.col("n").cast("decimal(38,0)") * F.col("cents")
            - F.col("s")
        ).alias("y"),
        "n",
    )
    y = y.localCheckpoint(eager=True)
    den = y.groupBy("event_type").agg(
        F.sum(F.col("y") * F.col("y")).cast("double").alias("dd")
    )
    a = y.select(
        "event_type", F.col("rn").alias("rn_a"), F.col("y").alias("ya"),
        "n",
    )
    b = y.select(
        "event_type", F.col("rn").alias("rn_b"), F.col("y").alias("yb")
    )
    num = (
        a.join(b, "event_type")
        .filter(
            (F.col("rn_b") - F.col("rn_a") >= 1)
            & (F.col("rn_b") - F.col("rn_a") <= h)
        )
        .groupBy(
            "event_type",
            (F.col("rn_b") - F.col("rn_a")).cast("bigint").alias("lag"),
        )
        .agg(
            F.sum(F.col("ya") * F.col("yb")).cast("double").alias("nm"),
            F.min("n").cast("bigint").alias("n"),
        )
    )
    rho = num.join(F.broadcast(den), "event_type").select(
        "event_type",
        "lag",
        "n",
        (F.col("nm") / F.nullif(F.col("dd"), F.lit(0.0))).alias("rho"),
    )
    wide = rho.groupBy("event_type").agg(
        F.min("n").cast("bigint").alias("n_days"),
        *[
            F.max(F.when(F.col("lag") == k, F.col("rho"))).alias(f"r{k}")
            for k in range(1, h + 1)
        ],
    )
    for name, sql in _durbin_levinson_exprs(h):
        wide = wide.withColumn(name, F.expr(sql))
    stack_args = ", ".join(
        f"cast({k} as bigint), round(p{k}_{k}, 6) + cast(0 as double)"
        for k in range(1, h + 1)
    )
    return wide.selectExpr(
        "event_type",
        "n_days",
        f"stack({h}, {stack_args}) AS (lag, pacf)",
    )
