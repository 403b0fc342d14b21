"""Second-wave analytics: subquery patterns, distribution/percentile,
pivot, regexp/date scalar coverage (SURVEY §2.D scalar dialect + §2.F/G
extensions). Percentiles use order statistics (row_number) rather than
interpolating aggregate functions, so Spark and DuckDB agree bit-exactly.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from polars_gdal_spark.queries import load_tables, query

DEC = "decimal(18,2)"
_D38 = "decimal(38,0)"


def _dec(c):
    return F.col(c).cast(DEC)


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
      )
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS-driven semi join + priority rollup."""
    t = load_tables(spark, sf_dir)
    o = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    big = t["lineitem"].where(F.col("l_quantity") > 45)
    return (
        o.join(big, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "q10_returned_revenue",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: returned-item revenue per customer, top 20."""
    t = load_tables(spark, sf_dir)
    one = F.lit(1).cast(DEC)
    li = t["lineitem"].where(F.col("l_returnflag") == "R")
    return (
        li.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: two-level aggregation over an outer join with a join
    predicate (not a filter) on the right side."""
    t = load_tables(spark, sf_dir)
    o = t["orders"].where(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        t["customer"]
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "percentiles_order_stats",
    oracle="""
    WITH ranked AS (
      SELECT o_totalprice,
             row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
             count(*) OVER () AS n
      FROM orders
    )
    SELECT
      max(CASE WHEN rn = (n - 1) * 50 // 100 + 1 THEN o_totalprice END) AS p50,
      max(CASE WHEN rn = (n - 1) * 90 // 100 + 1 THEN o_totalprice END) AS p90,
      max(CASE WHEN rn = (n - 1) * 99 // 100 + 1 THEN o_totalprice END) AS p99
    FROM ranked
    """,
)
def percentiles_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles as order statistics (discrete, lower method):
    deterministic across engines, unlike interpolating percentile
    aggregates whose FP formulas differ. Computed via range-partitioned
    order statistics over the value histogram (functions/stats.py) — no
    unpartitioned window, so the plan survives 100 TB. The oracle's
    row_number tie-break on o_orderkey cannot change which *value* sits
    at rank k, so the histogram formulation is cell-identical."""
    from polars_gdal_spark.functions.stats import exact_percentiles

    t = load_tables(spark, sf_dir)
    return exact_percentiles(
        t["orders"], "o_totalprice", {"p50": 50, "p90": 90, "p99": 99}
    )


@query(
    "pivot_status_priority",
    oracle="""
    SELECT o_orderstatus,
           count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent,
           count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS high,
           count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS medium,
           count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS notspec,
           count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS low
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def pivot_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: priority counts as columns per status. Spark's pivot with an
    explicit value list is a single-pass aggregate (no second job to
    discover values — the form that scales)."""
    t = load_tables(spark, sf_dir)
    labels = {
        "1-URGENT": "urgent",
        "2-HIGH": "high",
        "3-MEDIUM": "medium",
        "4-NOT SPECIFIED": "notspec",
        "5-LOW": "low",
    }
    df = (
        t["orders"]
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", list(labels))
        .count()
        .na.fill(0)
    )
    for old, new in labels.items():
        df = df.withColumnRenamed(old, new)
    return df


@query(
    "regexp_and_string_ops",
    oracle="""
    SELECT o_orderkey,
           CAST(regexp_extract(o_orderpriority, '^([0-9]+)-', 1) AS BIGINT)
             AS prio_num,
           regexp_replace(o_orderpriority, '[AEIOU]', '_', 'g') AS devoweled,
           CASE WHEN regexp_matches(o_orderpriority, 'URGENT|HIGH')
                THEN 1 ELSE 0 END AS is_rush,
           lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS padded_key,
           reverse(o_orderstatus) AS status_rev
    FROM orders WHERE o_orderkey < 300
    """,
)
def regexp_and_string_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp + string function coverage (extract, global replace, match,
    pad, reverse)."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .where(F.col("o_orderkey") < 300)
        .select(
            "o_orderkey",
            F.regexp_extract("o_orderpriority", r"^([0-9]+)-", 1)
            .cast("bigint")
            .alias("prio_num"),
            F.regexp_replace("o_orderpriority", "[AEIOU]", "_").alias(
                "devoweled"
            ),
            F.when(
                F.col("o_orderpriority").rlike("URGENT|HIGH"), 1
            ).otherwise(0).alias("is_rush"),
            F.lpad(F.col("o_orderkey").cast("string"), 10, "0").alias(
                "padded_key"
            ),
            F.reverse("o_orderstatus").alias("status_rev"),
        )
    )


@query(
    "date_arithmetic",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus_3m,
           strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT)
             AS days_since_epoch_start,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,  -- DuckDB Sun=0, Spark Sun=1
           CAST(quarter(o_orderdate) AS INT) AS qtr
    FROM orders WHERE o_orderkey < 300
    """,
)
def date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic coverage: interval add, last_day, datediff,
    dayofweek (Sunday=1 in both engines), quarter."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .where(F.col("o_orderkey") < 300)
        .select(
            "o_orderkey",
            F.date_format(F.add_months("o_orderdate", 3), "yyyy-MM-dd").alias(
                "plus_3m"
            ),
            F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias(
                "month_end"
            ),
            F.datediff(
                F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")
            ).cast("bigint").alias("days_since_epoch_start"),
            F.dayofweek("o_orderdate").cast("int").alias("dow"),
            F.quarter("o_orderdate").cast("int").alias("qtr"),
        )
    )


@query(
    "correlated_above_nation_avg",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) > (
      SELECT CAST(avg(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,2))
      FROM customer c2
      WHERE c2.c_nationkey = c.c_nationkey
    )
    """,
)
def correlated_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (customers above their nation's average
    balance) — decorrelated by Catalyst into an aggregate + join; DECIMAL
    avg truncated to scale 2 on both sides for exactness."""
    t = load_tables(spark, sf_dir)
    c = t["customer"]
    nation_avg = (
        c.groupBy("c_nationkey")
        .agg(F.avg(_dec("c_acctbal")).cast(DEC).alias("nation_avg"))
        .withColumnRenamed("c_nationkey", "nk")
    )
    return (
        c.join(F.broadcast(nation_avg), c.c_nationkey == F.col("nk"))
        .where(_dec("c_acctbal") > F.col("nation_avg"))
        .select("c_custkey", "c_name")
    )


@query(
    "array_agg_per_group",
    oracle="""
    SELECT c_mktsegment,
           array_to_string(list(DISTINCT c_nationkey ORDER BY c_nationkey), ',')
             AS nations,
           count(*) AS n
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def array_agg_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collect-to-array aggregation, emitted as a joined string so the
    cross-engine hash sees identical scalar values."""
    t = load_tables(spark, sf_dir)
    return (
        t["customer"]
        .groupBy("c_mktsegment")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("c_nationkey")), ","
            ).alias("nations"),
            F.count("*").alias("n"),
        )
    )


@query(
    "count_distinct_exact",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS distinct_parts,
           count(DISTINCT l_suppkey) AS distinct_supps
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def count_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column exact COUNT(DISTINCT) — Catalyst plans expand +
    two-phase aggregation. (approx_count_distinct is the at-scale
    alternative; not oracle-comparable since HLL sketches differ.)"""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("distinct_parts"),
            F.countDistinct("l_suppkey").alias("distinct_supps"),
        )
    )


@query(
    "profile_lineitem",
    oracle="""
    SELECT 'l_quantity' AS col,
           count(*) AS n_rows,
           CAST(count(l_quantity) AS BIGINT) AS n_nonnull,
           CAST(count(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
           CAST(min(l_quantity) AS VARCHAR) AS min_v,
           CAST(max(l_quantity) AS VARCHAR) AS max_v
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', count(*),
           CAST(count(l_returnflag) AS BIGINT),
           CAST(count(DISTINCT l_returnflag) AS BIGINT),
           CAST(min(l_returnflag) AS VARCHAR),
           CAST(max(l_returnflag) AS VARCHAR)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', count(*),
           CAST(count(l_discount) AS BIGINT),
           CAST(count(DISTINCT l_discount) AS BIGINT),
           CAST(min(l_discount) AS VARCHAR),
           CAST(max(l_discount) AS VARCHAR)
    FROM lineitem
    """,
)
def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling pass: per-column row/non-null/exact-distinct
    counts and min/max. The non-distinct stats (count/min/max ×3
    columns) ride ONE map-side-combined scan; each exact-distinct count
    is its own narrow subtree — ``select(col).distinct().count()``,
    a single-column scan whose partial aggregation shuffles only the
    per-partition distinct values — and the four 1-row results meet in
    broadcast cross joins. Round 8 UNLEARNED the "all stats in one agg"
    shape: multiple ``count_distinct`` in one aggregate forces Spark's
    EXPAND operator (every input row replicated ×4 before the shuffle),
    measured 18.6 s warm at sf10 vs 2.3-3.7 s for the split subtrees —
    per-column re-scans of a columnar format are nearly free, row
    expansion is not. That is also the honest 100 TB shape: scans are
    cheap and column-pruned, EXPAND multiplies the working set."""
    li = load_tables(spark, sf_dir)["lineitem"]
    cols = ["l_quantity", "l_returnflag", "l_discount"]
    aggs = [F.count("*").alias("nr")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            F.min(c).cast("string").alias(f"mn_{c}"),
            F.max(c).cast("string").alias(f"mx_{c}"),
        ]
    wide = li.agg(*aggs)
    for c in cols:
        # count(c), not count(*): distinct keeps a NULL row, but
        # count(DISTINCT c) semantics exclude NULL
        nd = li.select(c).distinct().agg(F.count(c).alias(f"nd_{c}"))
        wide = wide.crossJoin(nd)
    stack_args = ", ".join(
        f"'{c}', nr, nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args})"
        " AS (col, n_rows, n_nonnull, n_distinct, min_v, max_v)"
    )


@query(
    "sketch_distinct_users",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
           1 AS approx_within_5pct
    FROM events
    GROUP BY event_type
    """,
)
def sketch_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketched cardinality: per event type, the exact distinct-user
    count next to a PASS flag asserting HyperLogLog++
    (``approx_count_distinct``, rsd=2%) landed within 5% of it.

    The exact column is fully hash-checked against DuckDB; the sketch
    estimate itself is engine-specific (Spark HLL++ vs DuckDB's own
    sketch would never hash-match) so what's verified is the accuracy
    CONTRACT — deterministic, because Spark's HLL++ is deterministic for
    a given input set. At 100 TB the sketch is the only affordable
    per-key cardinality (fixed 2-4 KB of state per group vs a hash set
    of every user id); this query documents and enforces the error you
    accept for that exchange.

    Scale shape (round 10 — this was the registry's worst 10× ratio,
    and the slope STEEPENED from sf3 to sf10, so it was real, not a
    denominator artifact): mixing ``count_distinct`` with any other
    aggregate in one groupBy forces Spark's Expand plan, which keys the
    partial aggregation by (event_type, user_id) — so the HLL++ partial
    state (2-4 KB each at rsd=2%) is materialized and shuffled PER
    DISTINCT PAIR instead of per group. Measured 10.2 s sf10 vs 0.9 +
    0.5 s for the two aggregates run separately. The fix computes both
    over the explicitly-deduped pair relation: one map-side-combined
    distinct on (event_type, user_id), then count + HLL in a single
    second pass — one scan, one pair shuffle, HLL state per group per
    partition. HLL++ is duplicate-insensitive (identical register
    updates), so the estimate — and the flag — are bit-identical to the
    mixed-agg plan's (verified at sf10). 10.2 → 1.2 s; sf3 → sf10 now
    1.36× for 3.33× data.
    """
    from polars_gdal_spark.queries import load_tables

    ev = load_tables(spark, sf_dir)["events"]
    dd = ev.select("event_type", "user_id").distinct()
    agg = dd.groupBy("event_type").agg(
        # count(user_id), not count(*): distinct keeps one NULL row,
        # count_distinct semantics exclude it
        F.count("user_id").alias("exact_distinct"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("_approx"),
    )
    return agg.select(
        "event_type",
        F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
        F.when(
            (F.abs(F.col("_approx") - F.col("exact_distinct")) * 20)
            <= F.col("exact_distinct"),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("approx_within_5pct"),
    )


@query(
    "sketch_quantiles",
    oracle="""
    SELECT event_type,
           CAST(count(value) AS BIGINT) AS n_values,
           1 AS p50_within_rank_bound,
           1 AS p90_within_rank_bound
    FROM events
    GROUP BY event_type
    """,
)
def sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketched quantiles: per event type, the exact non-null value
    count next to PASS flags asserting ``percentile_approx`` (KLL-style
    sketch, accuracy=100 => rank error <= 1/100) landed within 2% RANK
    of the true median and p90.

    Same contract pattern as sketch_distinct_users: the count column is
    fully hash-checked against DuckDB; the sketch values are
    engine-specific, so what's verified cross-engine is the accuracy
    contract, which is deterministic because Spark's quantile sketch is
    deterministic for a given input multiset. The rank check is itself
    distributed: broadcast the 5-row sketch output back onto events and
    measure the empirical CDF at the sketched value — one extra
    map-side-combined aggregation, no sort, no windows. At 100 TB a
    global exact quantile needs a full sort or a multi-pass histogram;
    the sketch is one pass with KB-sized state per group, and this
    query documents the rank error accepted for that exchange.
    """
    from polars_gdal_spark.queries import load_tables

    ev = load_tables(spark, sf_dir)["events"]
    appx = ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 100).alias("_p50"),
        F.percentile_approx("value", 0.9, 100).alias("_p90"),
    )
    joined = ev.join(F.broadcast(appx), "event_type")
    agg = joined.groupBy("event_type").agg(
        F.count("value").alias("n_values"),
        F.avg((F.col("value") <= F.col("_p50")).cast("int")).alias("_f50"),
        F.avg((F.col("value") <= F.col("_p90")).cast("int")).alias("_f90"),
    )
    return agg.select(
        "event_type",
        F.col("n_values").cast("bigint").alias("n_values"),
        F.when(F.abs(F.col("_f50") - 0.5) <= 0.02, 1)
        .otherwise(0)
        .cast("int")
        .alias("p50_within_rank_bound"),
        F.when(F.abs(F.col("_f90") - 0.9) <= 0.02, 1)
        .otherwise(0)
        .cast("int")
        .alias("p90_within_rank_bound"),
    )


@query(
    "percentiles_per_group",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority,
             o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    )
    SELECT o_orderpriority,
           max(CASE WHEN rn = (n - 1) * 50 // 100 + 1
                    THEN o_totalprice END) AS p50,
           max(CASE WHEN rn = (n - 1) * 90 // 100 + 1
                    THEN o_totalprice END) AS p90
    FROM ranked
    GROUP BY o_orderpriority
    """,
)
def percentiles_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete percentiles (lower method) of o_totalprice WITHIN
    each order priority — the grouped sibling of percentiles_order_stats.

    Selecting the order statistic at rank (n-1)*p//100+1 per group is
    pure value selection (no interpolation arithmetic), so Spark and
    DuckDB agree bit-exactly even on doubles.

    Scale shape: the oracle's per-group row_number would single-thread
    each group (a group can be billions of rows at 100 TB — TPC-H has 5
    priorities no matter the SF). Instead: build the (group, value)
    histogram — one parallel, map-side-combined shuffle that collapses
    the input to |group| x |distinct values| rows — run the cumulative
    window over the HISTOGRAM (small by construction), and pick the
    smallest value whose cumulative count reaches the per-group rank.
    Same two-pass order-statistics trick as functions/stats.py, grouped.
    """
    t = load_tables(spark, sf_dir)
    hist = (
        t["orders"]
        .groupBy("o_orderpriority", "o_totalprice")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    cum = hist.withColumn("cum", F.sum("c").over(w))
    totals = hist.groupBy("o_orderpriority").agg(F.sum("c").alias("n"))
    j = cum.join(F.broadcast(totals), "o_orderpriority")

    def at(p: int):
        k = (F.col("n") - 1) * p / 100
        k = F.floor(k) + 1
        return F.min(
            F.when(F.col("cum") >= k, F.col("o_totalprice"))
        )

    return j.groupBy("o_orderpriority").agg(
        at(50).alias("p50"), at(90).alias("p90")
    )


@query(
    "events_mad_outliers",
    oracle="""
    WITH ev AS (
      SELECT event_type, event_id, value FROM events WHERE value IS NOT NULL
    ),
    r1 AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM ev
    ),
    med AS (
      SELECT event_type,
             max(CASE WHEN rn = (n - 1) * 50 // 100 + 1 THEN value END) AS med
      FROM r1 GROUP BY event_type
    ),
    r2 AS (
      SELECT e.event_type, e.event_id, abs(e.value - m.med) AS d
      FROM ev e JOIN med m USING (event_type)
    ),
    r3 AS (
      SELECT event_type, d,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY d, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM r2
    ),
    mad AS (
      SELECT event_type,
             max(CASE WHEN rn = (n - 1) * 50 // 100 + 1 THEN d END) AS mad
      FROM r3 GROUP BY event_type
    )
    SELECT e.event_type, m.med, x.mad,
           count(*) FILTER (WHERE abs(e.value - m.med) > 3 * x.mad)
             AS n_outliers
    FROM ev e
    JOIN med m USING (event_type)
    JOIN mad x USING (event_type)
    GROUP BY e.event_type, m.med, x.mad
    """,
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier counts via median/MAD (median absolute
    deviation) — the heavy-tail-safe sibling of events_zscore_outliers:
    a single extreme value cannot drag the threshold the way it drags a
    mean/stddev.

    Determinism contract: both medians are lower-method order statistics
    (pure value selection, no interpolation); |x - med| and 3*MAD are
    single correctly-rounded IEEE ops, so the outlier predicate is
    bit-identical across engines.

    Scale shape: each median comes from the (group, value) HISTOGRAM
    (map-side-combined shuffle, cumulative window over the histogram
    only) — never a per-group row_number over the fact table, which
    would single-thread billion-row event types. The medians and MADs
    are |group|-sized relations broadcast back; total cost is three
    corpus scans, two histogram shuffles, and one count aggregation.
    """
    t = load_tables(spark, sf_dir)
    ev = (
        t["events"]
        .where(F.col("value").isNotNull())
        .select("event_type", "value")
    )

    def group_median(df: DataFrame, val: str, out: str) -> DataFrame:
        hist = df.groupBy("event_type", val).agg(F.count("*").alias("c"))
        w = Window.partitionBy("event_type").orderBy(val)
        cum = hist.withColumn("cum", F.sum("c").over(w))
        totals = hist.groupBy("event_type").agg(F.sum("c").alias("n"))
        j = cum.join(F.broadcast(totals), "event_type")
        k = F.floor((F.col("n") - 1) * 50 / 100) + 1
        return j.groupBy("event_type").agg(
            F.min(F.when(F.col("cum") >= k, F.col(val))).alias(out)
        )

    med = group_median(ev, "value", "med")
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "d", F.abs(F.col("value") - F.col("med"))
    )
    mad = group_median(dev.select("event_type", "d"), "d", "mad")
    return (
        ev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(
                F.when(
                    F.abs(F.col("value") - F.col("med"))
                    > F.lit(3) * F.col("mad"),
                    1,
                )
            ).alias("n_outliers")
        )
    )


@query(
    "events_resample_gapfill",
    oracle="""
    WITH spikes AS (
      SELECT event_type, date_trunc('hour', ts) AS h
      FROM events WHERE value > 300
    ),
    counts AS (
      SELECT event_type, h, count(*) AS n FROM spikes GROUP BY 1, 2
    ),
    bounds AS (
      SELECT event_type, min(h) AS mn, max(h) AS mx FROM spikes GROUP BY 1
    ),
    grid AS (
      SELECT event_type,
             unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
      FROM bounds
    )
    SELECT g.event_type,
           strftime(g.h, '%Y-%m-%d %H:00:00') AS hour_bucket,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n_spikes
    FROM grid g LEFT JOIN counts c USING (event_type, h)
    """,
)
def events_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with gap filling: hourly spike counts per
    event type on a DENSE hour grid — missing hours appear as explicit
    zeros (what any downstream forecasting/anomaly model needs; a plain
    groupBy silently drops empty buckets).

    Scale shape: the dense grid is generated from the per-type
    [min, max] bounds, so the grid's size is set by the TIME SPAN, not
    the corpus; the spike counts are pre-aggregated (map-side combined)
    before the left join, and both join inputs are bucket-grained. A
    100 TB events table gap-fills with one aggregation shuffle plus a
    join of two tiny relations. The grid explodes in two bounded steps
    (days, then 24 hours per day) so no single ``sequence`` call ever
    builds a span-sized array in one task's memory — a decade-long
    span is ~3.7k day elements, never ~88k hour elements. Buckets are
    emitted as strings so the hash is timezone-proof.
    """
    t = load_tables(spark, sf_dir)
    spikes = (
        t["events"]
        .where(F.col("value") > 300)
        .select("event_type", F.date_trunc("hour", "ts").alias("h"))
    )
    counts = spikes.groupBy("event_type", "h").agg(F.count("*").alias("n"))
    bounds = spikes.groupBy("event_type").agg(
        F.min("h").alias("mn"), F.max("h").alias("mx")
    )
    days = bounds.select(
        "event_type",
        "mn",
        "mx",
        F.explode(
            F.expr(
                "sequence(date_trunc('day', mn), date_trunc('day', mx),"
                " interval 1 day)"
            )
        ).alias("day"),
    )
    grid = days.select(
        "event_type",
        "mn",
        "mx",
        F.explode(
            F.expr("sequence(day, day + interval 23 hours, interval 1 hour)")
        ).alias("h"),
    ).where((F.col("h") >= F.col("mn")) & (F.col("h") <= F.col("mx")))
    return grid.join(counts, ["event_type", "h"], "left").select(
        "event_type",
        F.date_format("h", "yyyy-MM-dd HH:00:00").alias("hour_bucket"),
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_spikes"),
    )


@query(
    "share_of_total_revenue",
    oracle="""
    WITH nat AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS nation_rev
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2
    ),
    reg AS (
      SELECT region, sum(nation_rev) AS region_rev FROM nat GROUP BY 1
    )
    SELECT n.region, n.nation,
           CAST(n.nation_rev AS DOUBLE) AS nation_rev,
           CAST(n.nation_rev AS DOUBLE) / CAST(r.region_rev AS DOUBLE)
             AS region_share
    FROM nat n JOIN reg r USING (region)
    """,
)
def share_of_total_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its region's order
    revenue — the classic OLAP percent-of-total, which analysts usually
    write as ``sum(x) OVER (PARTITION BY region)``.

    Scale shape: the window formulation re-shuffles the DETAIL relation
    per partition; here the denominators come from re-aggregating the
    already-tiny per-nation relation and broadcast-joining back —
    aggregate-then-broadcast, the same pattern as q15's max. The fact
    join shuffles orders once; nation/region broadcast.

    Determinism: revenue sums in DECIMAL(18,2) (exact, order-free);
    the share is one correctly-rounded double division of two exact
    decimals — bit-identical across engines.
    """
    t = load_tables(spark, sf_dir)
    nat = (
        t["orders"]
        .join(
            F.broadcast(
                t["customer"].select("c_custkey", "c_nationkey")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                t["nation"].select(
                    "n_nationkey", "n_name", "n_regionkey"
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t["region"]),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(F.sum(_dec("o_totalprice")).alias("nation_rev"))
    )
    reg = nat.groupBy("region").agg(F.sum("nation_rev").alias("region_rev"))
    return nat.join(F.broadcast(reg), "region").select(
        "region",
        "nation",
        F.col("nation_rev").cast("double").alias("nation_rev"),
        (
            F.col("nation_rev").cast("double")
            / F.col("region_rev").cast("double")
        ).alias("region_share"),
    )


@query(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           count(*) AS n_transitions
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavior transition counts (the Markov matrix behind
    next-action models and funnel diagnostics): for each user's
    time-ordered event sequence, count (current, next) event-type
    pairs corpus-wide.

    Scale shape: the lead() window partitions by user_id — millions of
    small partitions, embarrassingly parallel (the pathological case is
    one bot user with billions of events; that key would need session
    splitting first). The pair count is a map-side-combined aggregate
    over |types|² groups, so the shuffle after the window carries one
    row per (from, to) pair per partition. Tie-break on event_id makes
    the sequence — and therefore every count — engine-exact.
    """
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t["events"].select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    )
    return (
        seq.where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n_transitions"))
    )


@query(
    "profile_correlations",
    oracle="""
    WITH m AS (
      SELECT count(*) AS n,
             sum(CAST(l_quantity AS DECIMAL(18,2)))       AS sq,
             sum(CAST(l_extendedprice AS DECIMAL(18,2)))  AS se,
             sum(CAST(l_discount AS DECIMAL(18,2)))       AS sd,
             sum(CAST(l_quantity AS DECIMAL(18,2))
                 * CAST(l_quantity AS DECIMAL(18,2)))     AS sqq,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(l_extendedprice AS DECIMAL(18,2))) AS see,
             sum(CAST(l_discount AS DECIMAL(18,2))
                 * CAST(l_discount AS DECIMAL(18,2)))     AS sdd,
             sum(CAST(l_quantity AS DECIMAL(18,2))
                 * CAST(l_extendedprice AS DECIMAL(18,2))) AS sqe,
             sum(CAST(l_quantity AS DECIMAL(18,2))
                 * CAST(l_discount AS DECIMAL(18,2)))     AS sqd
      FROM lineitem
    )
    SELECT n,
           CAST(n * sqe - sq * se AS DOUBLE)
             / sqrt(CAST(n * sqq - sq * sq AS DOUBLE))
             / sqrt(CAST(n * see - se * se AS DOUBLE)) AS corr_qty_price,
           CAST(n * sqd - sq * sd AS DOUBLE)
             / sqrt(CAST(n * sqq - sq * sq AS DOUBLE))
             / sqrt(CAST(n * sdd - sd * sd AS DOUBLE)) AS corr_qty_disc
    FROM m
    """,
)
def profile_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Pearson correlations from decimal moments — the profiling
    statistic Spark's ``corr()`` computes with an order-dependent
    streaming float algorithm (Welford-style), which is NOT reproducible
    across partitionings or engines. Here every moment (sums, squares,
    cross products) is an exact DECIMAL aggregate (order-free), and the
    correlation is assembled with three correctly-rounded double ops in
    a fixed expression order — bit-identical on any engine, any cluster
    shape.

    Scale shape: ONE map-side-combined aggregate over the fact table
    producing a 1-row moment vector; zero extra passes however many
    column pairs are requested (they share the same moments).
    """
    t = load_tables(spark, sf_dir)
    q, e, d = _dec("l_quantity"), _dec("l_extendedprice"), _dec("l_discount")
    m = t["lineitem"].agg(
        F.count("*").alias("n"),
        F.sum(q).alias("sq"),
        F.sum(e).alias("se"),
        F.sum(d).alias("sd"),
        F.sum(q * q).alias("sqq"),
        F.sum(e * e).alias("see"),
        F.sum(d * d).alias("sdd"),
        F.sum(q * e).alias("sqe"),
        F.sum(q * d).alias("sqd"),
    )

    def corr(sxy, sx, sy, sxx, syy):
        n = F.col("n")
        num = (n * F.col(sxy) - F.col(sx) * F.col(sy)).cast("double")
        vx = F.sqrt((n * F.col(sxx) - F.col(sx) * F.col(sx)).cast("double"))
        vy = F.sqrt((n * F.col(syy) - F.col(sy) * F.col(sy)).cast("double"))
        return num / vx / vy

    return m.select(
        "n",
        corr("sqe", "sq", "se", "sqq", "see").alias("corr_qty_price"),
        corr("sqd", "sq", "sd", "sqq", "sdd").alias("corr_qty_disc"),
    )


@query(
    "graph_pagerank",
    oracle="""WITH
    nodes AS (SELECT doc_id AS doc FROM documents),
    nn AS (SELECT count(*) AS n FROM nodes),
    edges AS (
      SELECT src, dst FROM (
        SELECT doc AS src, (doc * 7 + 1) % (SELECT n FROM nn) AS dst FROM nodes
        UNION ALL
        SELECT doc AS src, (doc * 13 + 5) % (SELECT n FROM nn) AS dst FROM nodes
      ) WHERE src <> dst
    ),
    outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    r0 AS (
      SELECT doc, CAST(1000000000000 AS BIGINT) // (SELECT n FROM nn) AS rank
      FROM nodes
    ),
    c1 AS (
      SELECT e.dst AS doc,
             CAST(sum(r.rank // o.deg) AS BIGINT) AS contrib
      FROM edges e
      JOIN r0 r ON r.doc = e.src
      JOIN outdeg o ON o.src = e.src
      GROUP BY e.dst
    ),
    r1 AS (
      SELECT n.doc,
             (15 * CAST(1000000000000 AS BIGINT)) // (100 * (SELECT n FROM nn))
               + (85 * COALESCE(c.contrib, 0)) // 100 AS rank
      FROM nodes n LEFT JOIN c1 c ON c.doc = n.doc
    ),
    c2 AS (
      SELECT e.dst AS doc,
             CAST(sum(r.rank // o.deg) AS BIGINT) AS contrib
      FROM edges e
      JOIN r1 r ON r.doc = e.src
      JOIN outdeg o ON o.src = e.src
      GROUP BY e.dst
    ),
    r2 AS (
      SELECT n.doc,
             (15 * CAST(1000000000000 AS BIGINT)) // (100 * (SELECT n FROM nn))
               + (85 * COALESCE(c.contrib, 0)) // 100 AS rank
      FROM nodes n LEFT JOIN c2 c ON c.doc = n.doc
    ),
    c3 AS (
      SELECT e.dst AS doc,
             CAST(sum(r.rank // o.deg) AS BIGINT) AS contrib
      FROM edges e
      JOIN r2 r ON r.doc = e.src
      JOIN outdeg o ON o.src = e.src
      GROUP BY e.dst
    ),
    r3 AS (
      SELECT n.doc,
             (15 * CAST(1000000000000 AS BIGINT)) // (100 * (SELECT n FROM nn))
               + (85 * COALESCE(c.contrib, 0)) // 100 AS rank
      FROM nodes n LEFT JOIN c3 c ON c.doc = n.doc
    ),
    c4 AS (
      SELECT e.dst AS doc,
             CAST(sum(r.rank // o.deg) AS BIGINT) AS contrib
      FROM edges e
      JOIN r3 r ON r.doc = e.src
      JOIN outdeg o ON o.src = e.src
      GROUP BY e.dst
    ),
    r4 AS (
      SELECT n.doc,
             (15 * CAST(1000000000000 AS BIGINT)) // (100 * (SELECT n FROM nn))
               + (85 * COALESCE(c.contrib, 0)) // 100 AS rank
      FROM nodes n LEFT JOIN c4 c ON c.doc = n.doc
    ),
    c5 AS (
      SELECT e.dst AS doc,
             CAST(sum(r.rank // o.deg) AS BIGINT) AS contrib
      FROM edges e
      JOIN r4 r ON r.doc = e.src
      JOIN outdeg o ON o.src = e.src
      GROUP BY e.dst
    ),
    r5 AS (
      SELECT n.doc,
             (15 * CAST(1000000000000 AS BIGINT)) // (100 * (SELECT n FROM nn))
               + (85 * COALESCE(c.contrib, 0)) // 100 AS rank
      FROM nodes n LEFT JOIN c5 c ON c.doc = n.doc
    ),
    c6 AS (
      SELECT e.dst AS doc,
             CAST(sum(r.rank // o.deg) AS BIGINT) AS contrib
      FROM edges e
      JOIN r5 r ON r.doc = e.src
      JOIN outdeg o ON o.src = e.src
      GROUP BY e.dst
    ),
    r6 AS (
      SELECT n.doc,
             (15 * CAST(1000000000000 AS BIGINT)) // (100 * (SELECT n FROM nn))
               + (85 * COALESCE(c.contrib, 0)) // 100 AS rank
      FROM nodes n LEFT JOIN c6 c ON c.doc = n.doc
    )
    SELECT doc, rank FROM r6""",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over a deterministic synthetic graph on the document ids
    (edges u -> (7u+1) mod N and u -> (13u+5) mod N, self-loops dropped)
    — the iterative-algorithm family next to connected components, with
    an EXACT oracle: ranks are integer-quantized (SCALE=1e12) and every
    update uses floor division, so the arithmetic is order-independent
    and hashes bit-equal against the DuckDB oracle's unrolled-iteration
    CTEs (float PageRank would drift with summation order).

    Scale shape (round 11): the graph is SYNTHETIC — both out-edges of
    ``u`` and therefore its out-degree are closed-form in ``u`` and the
    node count (``deg(u) = 2 − [7u+1 ≡ u] − [13u+5 ≡ u] (mod n)``), a
    fact the optimizer cannot see through the edges/groupBy/join
    construction (guide §8: use what you know the optimizer does not).
    Each of the 6 iterations is therefore ONE pass over the node-sized
    rank relation — explode the two destinations per row, filter
    self-loops, divide by the per-row degree expression — then the
    map-side-combined contribution aggregation and the left join back
    to the node set. The previous shape paid, per iteration, an
    edges-union build (two extra scans), an out-degree groupBy
    (a whole shuffle), and an edges⋈outdeg⋈ranks join chain — all
    recomputed every iteration because only ``ranks`` is ever
    checkpointed; measured by alternating fresh-JVM bench subsets at
    sf10: old 9.03/14.60 s vs new 4.40/4.29 s (canaries 0.76–0.94),
    sf1 quiet pair 3.65 → 2.63 s (SCALE.md round 11). The contribution
    MULTISET is unchanged — for every
    non-self edge (u,v) both shapes add floor(rank_u / deg_u) into
    group v, deg is {1,2} so the double division is exact, and the
    BIGINT sum is order-independent — so ranks are bit-identical
    against the unchanged DuckDB oracle. Lineage is cut with
    localCheckpoint every other round (the connected-components
    pattern) so plan depth stays bounded. The rank relation is
    node-sized; only (dst, contrib) longs ever shuffle. The only
    driver scalar is the node count."""
    t = load_tables(spark, sf_dir)
    nodes = t["documents"].select(F.col("doc_id").alias("doc"))
    n = nodes.count()
    if n == 0:  # empty corpus: no nodes, no ranks (oracle agrees)
        return nodes.select(
            "doc", F.lit(None).cast("bigint").alias("rank")
        )
    # deg(u) over NON-SELF edges only, matching edges.where(src != dst)
    # in the oracle's construction; guarded so rows that would divide
    # by zero (both edges self-loops) never evaluate the division —
    # they are filtered out below and contribute nothing, as before.
    deg = F.when((F.col("doc") * 7 + 1) % n != F.col("doc"), 1).otherwise(
        0
    ) + F.when((F.col("doc") * 13 + 5) % n != F.col("doc"), 1).otherwise(0)
    scale = 1000000000000
    base = (15 * scale) // (100 * n)
    ranks = nodes.select("doc", F.lit(scale // n).cast("bigint").alias("rank"))
    for i in range(6):
        contrib = (
            ranks.select(
                "doc",
                "rank",
                F.explode(
                    F.array(
                        (F.col("doc") * 7 + 1) % n,
                        (F.col("doc") * 13 + 5) % n,
                    )
                ).alias("dst"),
            )
            .where(F.col("dst") != F.col("doc"))
            .select(
                F.col("dst").alias("doc"),
                F.when(
                    deg > 0, F.floor(F.col("rank") / deg).cast("bigint")
                ).alias("_c"),
            )
            .groupBy("doc")
            .agg(F.sum("_c").alias("contrib"))
        )
        ranks = nodes.join(contrib, "doc", "left").select(
            "doc",
            (
                F.lit(base)
                + F.floor(
                    (85 * F.coalesce(F.col("contrib"), F.lit(0))) / 100
                )
            ).cast("bigint").alias("rank"),
        )
        if i % 2 == 1:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


@query(
    "events_cusum_drift",
    oracle="""
    WITH pts AS (
      SELECT user_id, ts, event_id,
             CAST(floor(value * 100) AS BIGINT) AS y
      FROM events
    ),
    k AS (
      SELECT CAST(CASE WHEN count(*) = 0 THEN 0
                       ELSE sum(y) // count(*) END AS BIGINT) AS kk
      FROM pts
    ),
    p AS (
      SELECT user_id, ts, event_id,
             CAST(sum(y - kk) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pre
      FROM pts, k
    ),
    c AS (
      SELECT user_id,
             pre - least(0, min(pre) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING)) AS cus
      FROM p
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(cus) AS BIGINT) AS peak_cusum,
           max(cus) >= 40000 AS drifted
    FROM c GROUP BY user_id
    """,
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CUSUM drift detection — the change-point statistic a
    pipeline monitors to catch distribution shift in an incoming event
    stream (a user/source whose values drift above the corpus baseline).
    y = floor(value·100) cents, drift allowance = the global integer
    mean (one exact BIGINT division, broadcast), and the one-sided
    CUSUM ``s_i = max(0, s_{i-1} + y_i - k)`` computed in closed form as
    ``P_i - min(0, running-min P_j)`` (functions/stats.py:
    cusum_positive) — the non-associative recurrence becomes two
    cumulative windows PARTITIONED by user. Flags users whose peak
    statistic crosses 400 value-points.

    Scale shape: one scan + one 1-row broadcast (global mean) + one
    partitioned WindowExec (both cumulatives share the sort) + one
    map-side-combined groupBy. Every intermediate is an exact BIGINT —
    no float-sum nondeterminism under any partitioning."""
    from polars_gdal_spark.functions.stats import cusum_positive

    ev = load_tables(spark, sf_dir)["events"]
    pts = ev.select(
        "user_id", "ts", "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("y"),
    )
    k = pts.agg(
        F.coalesce(
            F.expr("sum(y) div count(*)"), F.lit(0).cast("long")
        ).alias("kk")
    )
    centered = pts.crossJoin(F.broadcast(k)).withColumn(
        "yk", F.col("y") - F.col("kk")
    )
    cus = cusum_positive(
        centered, "user_id", ["ts", "event_id"], "yk", out_col="cus"
    )
    return cus.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.max("cus").alias("peak_cusum"),
        (F.max("cus") >= 40000).alias("drifted"),
    )


def _copurchase_pair_counts(li: DataFrame) -> DataFrame:
    """(pk, c): co-purchase support of every part pair (a < b) over
    ``li`` (l_orderkey, l_partkey), the pair packed as ``a << 31 | b``.
    Rows with a NULL order key belong to no basket, as under the
    equi-join this replaced."""
    # Pair generation emits per-BASKET combinations via the chained
    # Generate pattern (round 12, VERDICT item 7 — the winnowing_pairs
    # recipe applied to the co-purchase graph): ONE groupBy(l_orderkey)
    # collect_set builds each order's sorted distinct part array, and
    # two chained explodes (anchor index, strict suffix slice) emit
    # every (a < b) pair map-side. This replaces the round-10 shape
    # [dropDuplicates exchange → self-join exchange on l_orderkey →
    # pair filter], which shuffled the 60M-row (order, part) relation
    # TWICE before any pair existed; the basket agg pays one shuffle
    # and generates pairs with zero further exchange. Pair relation
    # proven exceptAll-identical both directions at sf1; full output
    # exceptAll-identical at sf0.1/sf1. Same-JVM alternating A/B at
    # sf10: pair stage [34.3, 41.6, 14.4] → [14.7, 17.8, 12.9] s, full
    # row [17.5, 23.2, 14.6] → [15.1, 14.1, 14.0] s — faster in every
    # round, dramatically so under host load (the self-join's large
    # sort allocations also triggered GCLocker retry warnings that the
    # basket shape does not). The guard keeps the round-10 contract:
    # packed keys require ids in [0, 2^31), asserted on each sorted
    # basket's bounds (assert_true returns NULL on success; the
    # `.isNull()` filter is never OR'd with a literal, which
    # BooleanSimplification would fold away, deleting the guard).
    # The support count still rides a SINGLE packed BIGINT key
    # (pa << 31 | pb — round 10): ~100M generated pair rows reach the
    # aggregation with mostly-unique keys, so partial aggregation
    # cannot shrink the shuffle and every key byte counts.
    baskets = (
        li.where(F.col("l_orderkey").isNotNull())
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    )
    guard = F.expr(
        "assert_true(size(ps) < 2 OR "
        "(element_at(ps, 1) >= 0 AND element_at(ps, -1) < 2147483648), "
        "'graph_triangle_participation: packed pair keys require part "
        "ids in [0, 2^31)')"
    )
    return (
        baskets.where(guard.isNull())
        .where(F.size("ps") >= 2)
        .select(
            "ps",
            F.explode(F.sequence(F.lit(1), F.size("ps") - 1)).alias("_i"),
        )
        .select(
            F.element_at("ps", F.col("_i")).alias("_a"),
            F.explode(
                F.slice(
                    F.col("ps"), F.col("_i") + 1, F.size("ps") - F.col("_i")
                )
            ).alias("_b"),
        )
        .select(
            (
                F.shiftleft(F.col("_a").cast("bigint"), 31)
                + F.col("_b").cast("bigint")
            ).alias("pk")
        )
        .groupBy("pk")
        .agg(F.count("*").alias("c"))
    )


@query(
    "graph_triangle_participation",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS c
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    edges AS (SELECT pa, pb FROM pairs WHERE c >= 2),
    tri AS (
      SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
      FROM edges e1
      JOIN edges e2 ON e1.pb = e2.pa
      JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    )
    SELECT part, CAST(count(*) AS BIGINT) AS n_triangles
    FROM (SELECT unnest([x, y, z]) AS part FROM tri)
    GROUP BY part
    """,
)
def graph_triangle_participation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the SIGNIFICANT co-purchase graph — parts
    that appear together in ≥2 distinct orders form an edge; a triangle
    is a mutually-co-purchased triad (the bundle/basket structure
    recommender pipelines mine). Reports per-part triangle
    participation.

    Scale shape: the support threshold IS the densifier guard — one
    co-occurrence is noise that grows with the corpus (every popular
    part would pairwise-connect), while ≥2-order support keeps the edge
    set proportional to genuinely-correlated pairs and per-vertex
    degree bounded, so the wedge join never goes quadratic. Pair
    generation collects each order's sorted distinct part basket in one
    aggregation and emits (a < b) combinations map-side via chained
    explodes (fan-out bounded by basket size); the filtered edge set is small
    enough that AQE broadcasts it into the wedge and closing joins at
    these scales — deliberately UNFORCED, since the edge set grows with
    the corpus and a pinned broadcast hint would OOM a 100× corpus
    (beyond the threshold the joins degrade gracefully to shuffled
    equi-joins on bounded-degree keys). For graphs whose filtered
    degree still skews, swap the a<b orientation for degree-ordered
    orientation (out-degree ≤ √2m) — same output, bounded wedges."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].select("l_orderkey", "l_partkey")
    pairs = _copurchase_pair_counts(li)
    # edges feeds THREE join legs (e1/e2/e3) and Spark recomputes the
    # pair pipeline for each (no cross-subtree exchange reuse — round-8
    # finding, same as tfidf_topk). The round-10 A/B: localCheckpoint
    # wins sf10 (14.2 vs 17.9 s — accurate size stats keep the wedge
    # joins broadcast while the 3× recompute is gone) but LOSES below
    # ~sf3 (1.06 → 1.91 s at sf0.1, 1.12× at sf1) where recomputing a
    # small pipeline is cheaper than materializing it; plain persist
    # loses everywhere (a cached plan's estimates demote the wedge
    # joins from broadcast to shuffle, 22.2 s at sf10). Round 11 makes
    # the choice ADAPTIVE on the lineitem scan's sizeInBytes plan
    # statistic — the same driver-side metadata signal Catalyst feeds
    # its own join planning, read without running a job — so small
    # inputs keep the recomputed shape and large ones pay one
    # materialization instead of three pipeline executions. Threshold
    # 500 MB is the geometric midpoint of the measured win (sf10,
    # ~1.4 GB scan) and loss (sf1, ~140 MB scan) regimes. (A round-11
    # re-run of the sf10 A/B under a loud host — canary 0.95-1.02,
    # external load — read as a wash, medians 21.9 plain vs 22.7 ckpt
    # over 3 alternating trials; the quiet-host round-10 figures above
    # remain the decision basis. SCALE.md round 11 records both.)
    edges = pairs.where(F.col("c") >= 2).select(
        F.shiftright("pk", 31).alias("pa"),
        (F.col("pk") % F.lit(2147483648)).alias("pb"),
    )
    scan_bytes = int(
        t["lineitem"]
        ._jdf.queryExecution()
        .optimizedPlan()
        .stats()
        .sizeInBytes()
    )
    if scan_bytes >= 500 * 1024 * 1024:
        edges = edges.localCheckpoint(eager=True)
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    # no forced broadcast: the support-filtered edge set grows with the
    # corpus, so the hint is left to AQE — it broadcasts at these
    # scales and falls back to a shuffled equi-join beyond the
    # threshold (a forced hint would OOM a 100x corpus)
    wedges = e1.join(
        e2, F.col("e1.pb") == F.col("e2.pa")
    ).select(
        F.col("e1.pa").alias("x"),
        F.col("e1.pb").alias("y"),
        F.col("e2.pb").alias("z"),
    )
    tri = wedges.join(
        e3,
        (F.col("e3.pa") == F.col("x")) & (F.col("e3.pb") == F.col("z")),
    ).select("x", "y", "z")
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("part"))
        .groupBy("part")
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )


@query(
    "percentiles_weighted",
    oracle="""
    WITH hist AS (
      SELECT l_suppkey, l_extendedprice AS v,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
      SELECT l_suppkey, v, w,
             sum(w) OVER (PARTITION BY l_suppkey ORDER BY v) AS cw,
             sum(w) OVER (PARTITION BY l_suppkey) AS tot
      FROM hist
    )
    SELECT l_suppkey,
           min(CASE WHEN 2 * cw >= tot THEN v END) AS w_median,
           min(CASE WHEN 10 * cw >= 9 * tot THEN v END) AS w_p90,
           CAST(min(tot) AS BIGINT) AS total_weight
    FROM cum GROUP BY 1
    """,
)
def percentiles_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED percentiles per supplier: the price below which
    half (p50) / 90% (p90) of the supplier's shipped QUANTITY sits —
    order statistics where each row counts `weight` times (the corpus
    accounting shape: "median document length weighted by tokens").

    Integer-exact by construction: weights are BIGINT sums, the rank
    comparisons are the cross-multiplied forms ``2*cum >= total`` and
    ``10*cum >= 9*total`` (no division anywhere), and the selected
    value is an actual data value — both engines agree bit-for-bit.

    Scale shape: same two-pass histogram trick as
    ``percentiles_per_group`` — collapse to the (group, value) weighted
    histogram in one map-side-combined shuffle, run the cumulative
    window over the histogram partitioned BY GROUP (10k suppliers at
    sf1; never a global window), pick by flag-min in the final
    aggregate. A group's window input is its distinct values, not its
    rows, so a billion-row supplier with bounded price cardinality
    costs the same as a thousand-row one."""
    li = load_tables(spark, sf_dir)["lineitem"]
    hist = (
        li.groupBy(
            "l_suppkey", F.col("l_extendedprice").alias("v")
        )
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("w"))
    )
    w = Window.partitionBy("l_suppkey").orderBy("v")
    cum = hist.select(
        "l_suppkey",
        "v",
        F.sum("w").over(w).alias("cw"),
        F.sum("w")
        .over(Window.partitionBy("l_suppkey"))
        .alias("tot"),
    )
    return cum.groupBy("l_suppkey").agg(
        F.min(F.when(2 * F.col("cw") >= F.col("tot"), F.col("v"))).alias(
            "w_median"
        ),
        F.min(
            F.when(10 * F.col("cw") >= 9 * F.col("tot"), F.col("v"))
        ).alias("w_p90"),
        F.min("tot").cast("bigint").alias("total_weight"),
    )


@query(
    "profile_key_skew",
    oracle="""
    WITH g AS (
      SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY 1
    )
    SELECT CAST(length(bin(c)) AS INT) AS size_bucket,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(max(c) AS BIGINT) AS max_group
    FROM g GROUP BY 1
    """,
)
def profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/aggregation-key skew diagnostic: the log2 histogram of
    group sizes for a candidate key (l_partkey) — how many keys fall in
    each power-of-two size band, how many rows they carry, and the
    largest group per band. This is the measurement you run BEFORE
    choosing a join strategy at 100 TB: a fat tail here is the signal
    to salt (functions/skew.py) or let AQE split, and the max_group of
    the top band bounds the worst single-task row count.

    Integer-exact: the band is bit_length == length(bin(c)) (the
    repo's established no-log2 idiom, cross-engine identical); counts
    and sums are BIGINT.

    Scale shape: one map-side-combined count per key, then a second
    tiny aggregate over |keys| rows grouped into ≤64 bands — strictly
    cheaper than any of the joins it de-risks; no windows, no collects."""
    li = load_tables(spark, sf_dir)["lineitem"]
    g = li.groupBy("l_partkey").agg(F.count("*").alias("c"))
    return (
        g.groupBy(
            F.length(F.bin(F.col("c"))).cast("int").alias("size_bucket")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_keys"),
            F.sum("c").cast("bigint").alias("n_rows"),
            F.max("c").cast("bigint").alias("max_group"),
        )
    )


@query(
    "sketch_user_overlap",
    oracle="""
    WITH du AS (
      SELECT DISTINCT event_type, user_id FROM events WHERE value > 100
    ),
    hu AS (
      SELECT event_type, user_id,
             substr(md5(CAST(user_id AS VARCHAR)), 1, 16) AS h
      FROM du
    ),
    counts AS (SELECT event_type, count(*) AS n FROM du GROUP BY 1),
    sk AS (
      SELECT event_type, h FROM (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h)
                 AS rk
        FROM hu
      ) WHERE rk <= 64
    ),
    prs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.n AS n_a, b.n AS n_b
      FROM counts a JOIN counts b ON a.event_type < b.event_type
    ),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_both
      FROM du a JOIN du b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    ),
    m AS (
      SELECT p.type_a, p.type_b, s.h,
             max(CASE WHEN s.event_type = p.type_a THEN 1 ELSE 0 END)
               AS in_a,
             max(CASE WHEN s.event_type = p.type_b THEN 1 ELSE 0 END)
               AS in_b
      FROM prs p JOIN sk s
        ON s.event_type IN (p.type_a, p.type_b)
      GROUP BY 1, 2, 3
    ),
    mk AS (
      SELECT type_a, type_b, h, in_a, in_b,
             row_number() OVER (PARTITION BY type_a, type_b ORDER BY h)
               AS rk
      FROM m
    ),
    est AS (
      SELECT type_a, type_b,
             CAST(sum(in_a * in_b) AS BIGINT) AS shared,
             CAST(count(*) AS BIGINT) AS k_eff
      FROM mk WHERE rk <= 64 GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b,
           CAST(p.n_a AS BIGINT) AS n_a,
           CAST(p.n_b AS BIGINT) AS n_b,
           CAST(coalesce(i.n_both, 0) AS BIGINT) AS n_both,
           coalesce(i.n_both, 0)
             / CAST(p.n_a + p.n_b - coalesce(i.n_both, 0) AS DOUBLE)
             AS jaccard_exact,
           e.shared / CAST(e.k_eff AS DOUBLE) AS jaccard_est
    FROM prs p
    JOIN est e ON e.type_a = p.type_a AND e.type_b = p.type_b
    LEFT JOIN inter i ON i.type_a = p.type_a AND i.type_b = p.type_b
    """,
)
def sketch_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) set-INTERSECTION sketches: per event
    type, keep the 64 smallest md5 hashes of its distinct HIGH-VALUE
    users (value > 100 — the segments genuinely differ, Jaccard ≈ 0.7); for
    every type pair, the shared fraction of the merged bottom-64
    estimates the Jaccard overlap — reported next to the exact value
    (the accuracy contract, same pattern as the HLL row). KMV is the
    mergeable sketch family for the question HLL cannot answer
    (intersections / overlaps between segments).

    Deterministic by construction: the "random" hash is md5 (identical
    both engines), sketches are rank-≤-64 windows PARTITIONED by type,
    and the two divisions (exact + estimated Jaccard) are single IEEE
    ops over exact integers.

    Scale shape: the corpus-sized work is ONE distinct (type, user)
    aggregate — everything after operates on ≤64×|types| sketch rows
    (the entire point of sketching at 100 TB: ship 64 hashes per
    segment, not user sets; sketches of disjoint partitions merge by
    min-union). The exact intersection join here is the verification
    harness, not the production path."""
    ev = load_tables(spark, sf_dir)["events"]
    du = (
        ev.where(F.col("value") > 100)
        .select("event_type", "user_id")
        .distinct()
    )
    hu = du.select(
        "event_type",
        "user_id",
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 16).alias(
            "h"
        ),
    )
    counts = du.groupBy("event_type").agg(F.count("*").alias("n"))
    wk = Window.partitionBy("event_type").orderBy("h")
    sk = (
        hu.withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") <= 64)
        .select("event_type", "h")
    )
    a, b = counts.alias("a"), counts.alias("b")
    prs = a.join(
        F.broadcast(b), F.col("a.event_type") < F.col("b.event_type")
    ).select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
    )
    da, db = du.alias("da"), du.alias("db")
    inter = (
        da.join(db, "user_id")
        .where(F.col("da.event_type") < F.col("db.event_type"))
        .groupBy(
            F.col("da.event_type").alias("type_a"),
            F.col("db.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_both"))
    )
    s = sk.alias("s")
    m = (
        prs.alias("p")
        .join(
            F.broadcast(s),
            (F.col("s.event_type") == F.col("p.type_a"))
            | (F.col("s.event_type") == F.col("p.type_b")),
        )
        .groupBy("type_a", "type_b", "h")
        .agg(
            F.max(
                (F.col("event_type") == F.col("type_a")).cast("int")
            ).alias("in_a"),
            F.max(
                (F.col("event_type") == F.col("type_b")).cast("int")
            ).alias("in_b"),
        )
    )
    wm = Window.partitionBy("type_a", "type_b").orderBy("h")
    est = (
        m.withColumn("rk", F.row_number().over(wm))
        .where(F.col("rk") <= 64)
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(F.col("in_a") * F.col("in_b"))
            .cast("bigint")
            .alias("shared"),
            F.count("*").cast("bigint").alias("k_eff"),
        )
    )
    return (
        prs.join(est, ["type_a", "type_b"])
        .join(F.broadcast(inter), ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.coalesce(F.col("n_both"), F.lit(0))
            .cast("bigint")
            .alias("n_both"),
            (
                F.coalesce(F.col("n_both"), F.lit(0))
                / (
                    F.col("n_a") + F.col("n_b")
                    - F.coalesce(F.col("n_both"), F.lit(0))
                ).cast("double")
            ).alias("jaccard_exact"),
            (F.col("shared") / F.col("k_eff").cast("double")).alias(
                "jaccard_est"
            ),
        )
    )


@query(
    "events_seasonality_lift",
    oracle="""
    WITH x AS (
      SELECT CAST(hour(ts) AS INT) AS hr, event_type,
             count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    rows_ AS (SELECT hr, sum(c) AS rc FROM x GROUP BY 1),
    cols_ AS (SELECT event_type, sum(c) AS cc FROM x GROUP BY 1),
    tot AS (SELECT sum(c) AS t FROM x)
    SELECT x.hr, x.event_type,
           CAST(x.c AS BIGINT) AS n,
           CAST(CAST(x.c AS HUGEINT) * tot.t AS DOUBLE)
             / CAST(CAST(rows_.rc AS HUGEINT) * cols_.cc AS DOUBLE)
             AS lift,
           (CAST(x.c AS HUGEINT) * tot.t
              > CAST(rows_.rc AS HUGEINT) * cols_.cc) AS over_expected
    FROM x
    JOIN rows_ USING (hr)
    JOIN cols_ USING (event_type)
    CROSS JOIN tot
    """,
)
def events_seasonality_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality profile: for every (hour, event type)
    cell, observed count and LIFT vs the independence expectation
    (obs·total / (row·col)) — the contingency-table reading of "do
    errors cluster at night". The over/under flag is the
    cross-multiplied INTEGER comparison (obs·total vs row·col), so the
    boolean can never disagree between engines even when the double
    lift is within an ulp of 1.

    Scale shape: one map-side-combined (hour, type) aggregate collapses
    the corpus to ≤ 24×|types| cells; margins and total derive from the
    CELLS, not the corpus, and broadcast back onto them. This is the
    fixed-output-size profile shape: corpus-sized work is exactly one
    scan."""
    ev = load_tables(spark, sf_dir)["events"]
    x = ev.groupBy(
        F.hour("ts").cast("int").alias("hr"), "event_type"
    ).agg(F.count("*").alias("c"))
    rows_ = x.groupBy("hr").agg(F.sum("c").alias("rc"))
    cols_ = x.groupBy("event_type").agg(F.sum("c").alias("cc"))
    tot = x.agg(F.sum("c").alias("t"))
    return (
        x.join(F.broadcast(rows_), "hr")
        .join(F.broadcast(cols_), "event_type")
        .crossJoin(F.broadcast(tot))
        .select(
            "hr",
            "event_type",
            F.col("c").cast("bigint").alias("n"),
            # products go through DECIMAL(38): raw BIGINT multiplies
            # wrap silently past 2^63 at ~1e10-event corpora (the same
            # idiom as sim_embedding_drift's cross products)
            (
                (F.col("c").cast(_D38) * F.col("t")).cast("double")
                / (F.col("rc").cast(_D38) * F.col("cc")).cast("double")
            ).alias("lift"),
            (
                F.col("c").cast(_D38) * F.col("t")
                > F.col("rc").cast(_D38) * F.col("cc")
            ).alias("over_expected"),
        )
    )


@query(
    "events_conversion_wilson",
    oracle="""
    WITH s AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM events GROUP BY 1
    ),
    g AS (
      SELECT CAST(length(bin(n)) AS INT) AS activity_band,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(n) AS BIGINT) AS n_events,
             CAST(sum(k) AS BIGINT) AS n_purchases
      FROM s GROUP BY 1
    )
    SELECT activity_band, n_users, n_events, n_purchases,
           CAST(n_purchases AS DOUBLE) / n_events AS rate,
           (CAST(n_purchases AS DOUBLE) / n_events + 2.0 / n_events
            - 2.0 * sqrt(
                (CAST(n_purchases AS DOUBLE) / n_events)
                * (1.0 - CAST(n_purchases AS DOUBLE) / n_events) / n_events
                + 1.0 / (n_events * CAST(n_events AS DOUBLE)))
           ) / (1.0 + 4.0 / n_events) AS wilson_lo
    FROM g
    """,
)
def events_conversion_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase-conversion rate per user-activity band (log2 bands of
    per-user event counts — the bit_length idiom) with the Wilson
    lower confidence bound at z=2 — the statistic that makes small
    bands honestly comparable to big ones (a 3-event band's 0.33 rate
    gets a lower bound near 0; a million-event band's doesn't).

    Determinism: every input to the formula is an exact BIGINT
    aggregate; the Wilson expression is written with the IDENTICAL
    operation tree on both engines, and +, *, /, sqrt are all
    correctly-rounded IEEE ops — same doubles out, bit for bit.

    Scale shape: two map-side-combined aggregates (per-user, then
    per-band); output is ≤64 bands regardless of corpus size."""
    ev = load_tables(spark, sf_dir)["events"]
    s = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("bigint")
        .alias("k"),
    )
    g = s.groupBy(
        F.length(F.bin(F.col("n"))).cast("int").alias("activity_band")
    ).agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("n").cast("bigint").alias("n_events"),
        F.sum("k").cast("bigint").alias("n_purchases"),
    )
    rate = F.col("n_purchases").cast("double") / F.col("n_events")
    ne = F.col("n_events")
    wilson_lo = (
        rate
        + F.lit(2.0) / ne
        - F.lit(2.0)
        * F.sqrt(
            rate * (F.lit(1.0) - rate) / ne
            + F.lit(1.0) / (ne * ne.cast("double"))
        )
    ) / (F.lit(1.0) + F.lit(4.0) / ne)
    return g.select(
        "activity_band",
        "n_users",
        "n_events",
        "n_purchases",
        rate.alias("rate"),
        wilson_lo.alias("wilson_lo"),
    )
