"""Declared relational query surface — SURVEY §2.12 Q01–Q27.

Each query is a DataFrame-API builder ``(spark, sf_dir) -> DataFrame``
paired with the canonical ANSI-SQL string the DuckDB oracle runs on the
same parquet. Conventions (SURVEY §2.12 header):

- every query ends with ORDER BY over all output columns (hash is
  order-invariant even under LIMIT — boundary ties are byte-identical),
- LIMIT only after ORDER BY,
- floating-point aggregates wrapped in ROUND(·, 2),
- CEIL/FLOOR cast to BIGINT,
- aliases identical between the DataFrame builder and the oracle SQL.

These exercise every operator family the reference performs
(projection/filter ``CrossAZBlockPlacementPolicy.java:117-130,162-203``,
group-by aggregation ``:141-149,386-415``, semi/anti membership
``:180-187``, ranking ``:150-156,518-585``, limit ``:216,656,720``,
union ``:744-753``) plus the standard relational operators the engine
adds via Catalyst built-ins (joins, windows, rollup/cube, set ops).
All plans are declarative: Catalyst gets predicate pushdown, column
pruning, join reordering and broadcast selection for free, and AQE
picks shuffle partition counts / skew splits at runtime — this is what
makes the same code survive a 100 TB input.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crossfire_spark.catalog import load_table, nudge
from crossfire_spark.functions.text import tokens


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# scan / filter / project / scalar functions
# --------------------------------------------------------------------------


def q01(spark, sf_dir):
    """Scan+filter+project+limit (P1/P3/O1 analogs)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where((F.col("l_discount") > 0.05) & (F.col("l_returnflag") == "R"))
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
        .limit(100)
    )


def q02(spark, sf_dir):
    """LIKE / IN / BETWEEN predicates (P4/P5 analogs)."""
    p = _t(spark, sf_dir, "part")
    return (
        p.where(
            F.col("p_type").like("%BRASS%")
            | F.col("p_size").isin(1, 5, 9)
            | F.col("p_retailprice").between(901, 1000)
        )
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    )


def q03(spark, sf_dir):
    """String functions (F1–F3 analogs: path slicing / formatting)."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("u"),
        F.length("c_name").alias("l"),
        F.substring("c_name", 1, 10).alias("s"),
        F.concat(F.col("c_mktsegment"), F.lit("#"), F.col("c_name")).alias("k"),
    ).orderBy("c_custkey")


def q04(spark, sf_dir):
    """Math functions (F4/F5 analogs: allocation arithmetic)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_orderkey") < 100)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.sqrt("l_extendedprice"), 2).alias("sq"),
            (F.col("l_partkey") % 7).alias("m"),
            F.ceil(F.col("l_discount") * 100).cast("bigint").alias("c"),
            F.floor(F.col("l_tax") * 100).cast("bigint").alias("f"),
            F.abs(F.col("l_quantity") - 25).alias("a"),
        )
        .orderBy("l_orderkey", "l_linenumber", "sq", "m", "c", "f", "a")
    )


def q05(spark, sf_dir):
    """Date part extraction + group-by."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.year("l_shipdate").alias("y"), F.month("l_shipdate").alias("m")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy("y", "m")
    )


# --------------------------------------------------------------------------
# aggregation
# --------------------------------------------------------------------------


def q06(spark, sf_dir):
    """Multi-measure hash aggregate (TPC-H Q1 shape; A2/A3 analog —
    the two-phase partial+final agg of
    ``CrossAZBlockPlacementPolicy.java:386-415``)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sq"),
            F.round(F.sum("l_extendedprice"), 2).alias("sp"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sd"),
            F.round(F.avg("l_quantity"), 2).alias("aq"),
            F.count(F.lit(1)).alias("c"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q07(spark, sf_dir):
    """Distinct aggregate + HAVING."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.countDistinct("o_orderstatus").alias("ds"),
            F.count(F.lit(1)).alias("c"),
        )
        .where(F.col("c") > 3)
        .orderBy("o_custkey")
    )


def q08(spark, sf_dir):
    """ROLLUP — hierarchical aggregation, the declarative form of the
    reference's per-level topology aggregation (A2, SURVEY §2.4)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.round(F.sum("l_quantity"), 2).alias("s"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


def q09(spark, sf_dir):
    """GROUPING SETS."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) c FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
        """
    )


# --------------------------------------------------------------------------
# joins
# --------------------------------------------------------------------------


def q10(spark, sf_dir):
    """Inner equi-join + agg. ``customer`` is the smaller side; Catalyst
    broadcast-joins it under the engine's 64 MB threshold (J3 analog:
    FK deref ``CrossAZBlockPlacementPolicy.java:120,319``)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.round(F.sum("o_totalprice"), 2).alias("s"),
        )
        .orderBy("c_mktsegment")
    )


def q11(spark, sf_dir):
    """5-table join: fact-to-fact shuffle join (lineitem ⋈ orders) then
    broadcast joins for the dimensions — the plan shape that holds at
    100 TB (dims stay broadcast-size; only the fact join shuffles)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r.where(F.col("r_name") == "ASIA")), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "rev"
            )
        )
        .orderBy("n_name")
    )


def q12(spark, sf_dir):
    """Left outer join + count of non-null FK."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c"))
        .orderBy("c_custkey")
    )


def q13(spark, sf_dir):
    """Left-semi join (IN-subquery) — the reference's set-membership
    pattern (J1, ``CrossAZBlockPlacementPolicy.java:180-182``)."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    hot = li.where(F.col("l_quantity") > 45).select("l_partkey")
    return (
        p.join(hot, p.p_partkey == hot.l_partkey, "left_semi")
        .select("p_partkey")
        .orderBy("p_partkey")
    )


def q14(spark, sf_dir):
    """Left-anti join (NOT EXISTS) — the reference's exclusion pattern
    (J2, ``CrossAZBlockPlacementPolicy.java:184-187,618``)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


def q15(spark, sf_dir):
    """Equi-join with range residual (theta): the equi key keeps it a
    hash/sort-merge join; the range predicate is a post-join filter in
    the join condition, never a nested-loop."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(o, (li.l_orderkey == o.o_orderkey) & (li.l_shipdate > o.o_orderdate))
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(500)
    )


# --------------------------------------------------------------------------
# windows / ranking / top-k
# --------------------------------------------------------------------------


def q16(spark, sf_dir):
    """Top-N per group via row_number — the declarative form of the
    reference's per-group arg-max (W1,
    ``CrossAZBlockPlacementPolicy.java:600-610``)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "o_orderkey")
    )


def q17(spark, sf_dir):
    """Window analytic with frame (ROWS BETWEEN) + LAG."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w.rowsBetween(-2, 0)), 2).alias("mv"),
        F.lag("event_type").over(w).alias("prev"),
    ).orderBy("user_id", "event_id")


def q18(spark, sf_dir):
    """Global sort + top-k (TakeOrderedAndProject — no full sort at
    scale; each partition keeps k rows, the driver merges)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
    )


# --------------------------------------------------------------------------
# set operations
# --------------------------------------------------------------------------


def q19(spark, sf_dir):
    """UNION DISTINCT (U2 analog: distinct rack-set union,
    ``CrossAZBlockPlacementPolicy.java:117-130``)."""
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    return (
        c.select(F.col("c_nationkey").alias("k"))
        .union(s.select("s_nationkey"))
        .distinct()
        .orderBy("k")
    )


def q20(spark, sf_dir):
    """INTERSECT."""
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    return (
        c.select(F.col("c_nationkey").alias("k"))
        .intersect(s.select("s_nationkey"))
        .orderBy("k")
    )


def q21(spark, sf_dir):
    """EXCEPT (distinct)."""
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    return (
        n.select(F.col("n_nationkey").alias("k"))
        .subtract(c.select("c_nationkey"))
        .orderBy("k")
    )


def q22(spark, sf_dir):
    """CASE / conditional aggregation."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.sum(F.when(F.col("o_totalprice") > 100000, 1).otherwise(0)).alias("big"),
            F.count(F.lit(1)).alias("c"),
        )
        .orderBy("o_orderstatus")
    )


def q23(spark, sf_dir):
    """Cross join over small dims (both broadcast-size)."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    return (
        r.select("r_name").crossJoin(n.select("n_name")).orderBy("r_name", "n_name")
    )


# --------------------------------------------------------------------------
# extension tables (documents / events / embeddings)
# --------------------------------------------------------------------------


def q24(spark, sf_dir):
    """Text-table aggregation."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.round(F.avg("n_chars"), 2).alias("a"),
        )
        .orderBy("lang", "source")
    )


def q25(spark, sf_dir):
    """Exact duplicate detection = hash group-by on the full text.
    At 100 TB scale the groupBy key would be ``sha2(text, 256)`` to
    shrink shuffle width; kept raw here to match the oracle exactly."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("text")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .orderBy(F.col("c").desc(), "text")
        .limit(20)
    )


def q26(spark, sf_dir):
    """Batch tumbling window — semantics pin for the streaming path
    (SURVEY §2.10); hour bucket = date_trunc."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("h"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.round(F.sum("value"), 2).alias("s"),
        )
        .orderBy("h", "event_type")
    )


def q27(spark, sf_dir):
    """Embeddings-table aggregation."""
    em = _t(spark, sf_dir, "embeddings")
    return (
        em.groupBy("label").agg(F.count(F.lit(1)).alias("c")).orderBy("label")
    )


def q32(spark, sf_dir):
    """Correlated scalar subquery (declared in SQL; the DataFrame
    face is Catalyst's own decorrelation: left join + aggregate)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("_n"))
    return (
        c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("_n"), F.lit(0)).alias("n_orders"),
        )
        .orderBy("c_custkey", "n_orders")
    )


def q33(spark, sf_dir):
    """Window-function suite: rank / dense_rank / ntile / first /
    last / lead over one partition spec, plus a rangeBetween frame.

    Low-cardinality-window exemption (r10 audit): the window
    partitions on 3-value o_orderstatus, but the input is pre-filtered
    to o_orderkey < 2000 — a fixed absolute key range whose row count
    does NOT grow with SF, so the 3-task sort is over a constant-size
    set at any scale (unlike the pre-rewrite v18, which windowed the
    full fact table)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    # float RANGE offsets aren't expressible through the Python
    # Window API (ints only); the SQL window expression form is.
    near_cnt = F.expr(
        "COUNT(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice"
        " RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW)"
    )
    return (
        o.where(F.col("o_orderkey") < 2000)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
            F.first("o_orderkey").over(w).alias("top_key"),
            F.lead("o_orderkey").over(w).alias("next_key"),
            near_cnt.alias("near_cnt"),
        )
        .orderBy(
            "o_orderkey", "o_orderstatus", "rnk", "drnk", "quartile",
            "top_key", "next_key", "near_cnt",
        )
    )


def q34(spark, sf_dir):
    """Percentile aggregates (continuous interpolation — identical
    semantics to DuckDB quantile_cont; both engines sort-and-
    interpolate, O(n log n) per group with spill support)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("med"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90"),
            F.round(F.expr("percentile(o_totalprice, 0.99)"), 2).alias("p99"),
        )
        .orderBy("o_orderstatus", "med", "p90", "p99")
    )


def q35(spark, sf_dir):
    """Order-stable string aggregation (collect -> sort -> join keeps
    the result deterministic regardless of partitioning — never rely
    on collect_list arrival order)."""
    n = _t(spark, sf_dir, "nation")
    return (
        n.groupBy(F.col("n_regionkey").alias("k"))
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "names"
            )
        )
        .orderBy("k", "names")
    )


def q36(spark, sf_dir):
    """EXCEPT ALL — bag semantics (multiplicity-aware difference)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(F.col("o_custkey").alias("k"))
        .exceptAll(c.select("c_custkey"))
        .orderBy("k")
    )


def q37(spark, sf_dir):
    """INTERSECT ALL — bag semantics (min of multiplicities)."""
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    return (
        c.select(F.col("c_nationkey").alias("k"))
        .intersectAll(s.select("s_nationkey"))
        .orderBy("k")
    )


def q38(spark, sf_dir):
    """Pivot: rows -> columns per return flag (semantically the
    conditional aggregation the reference's demand map builds,
    A1 ``CrossAZBlockPlacementPolicy.java:141-149``)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .orderBy("l_linestatus", "A", "N", "R")
    )


def q39(spark, sf_dir):
    """UNNEST / lateral explode: per-word frequencies across the
    corpus — the declarative generator (UDTF-style) operator, the
    engine's form of the reference's flatMap expansion (S2,
    ``CrossAZBlockPlacementPolicy.java:600-603``)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "word")
        .limit(20)
    )


def q40(spark, sf_dir):
    """Quantified comparison (> ALL subquery). Spark has no ALL/ANY
    quantifier, so the engine rewrites it to the equivalent scalar
    aggregate — `x > ALL (S)` ≡ `x > MAX(S)` for non-empty S — and
    broadcasts the 1-row aggregate into the filter (no shuffle of the
    fact side; at 100 TB the outer scan streams against one scalar)."""
    o = _t(spark, sf_dir, "orders")
    urgent_max = (
        o.where(F.col("o_orderpriority") == "1-URGENT")
        .agg(F.max("o_totalprice").alias("mx"))
    )
    return (
        o.crossJoin(F.broadcast(urgent_max))
        .where(F.col("o_totalprice") > F.col("mx"))
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey", "o_totalprice")
    )


def q41(spark, sf_dir):
    """Correlated EXISTS with an extra local predicate — Catalyst
    plans the rewrite as a left-semi hash join on l_suppkey after
    pushing the quantity filter below the join (P5/J1 analogs,
    ``CrossAZBlockPlacementPolicy.java:180-187``)."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    return (
        s.join(
            li.where(F.col("l_quantity") >= 49),
            s["s_suppkey"] == li["l_suppkey"],
            "left_semi",
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey", "s_name")
    )


def q42(spark, sf_dir):
    """Share-of-total: an uncorrelated scalar subquery joined back as
    a broadcast single-row aggregate. The grand total is one extra
    pass over an already-aggregated 5-row side, not a second scan of
    the raw fact table. ROUND(ROUND(·,6)+1e-9, 2) stabilizes the
    decimal-vs-binary rounding boundary identically on both engines."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    seg = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(F.sum("o_totalprice").alias("raw_s"))
    )
    total = seg.agg(F.sum("raw_s").alias("tot"))
    return (
        seg.crossJoin(F.broadcast(total))
        .select(
            "c_mktsegment",
            F.round("raw_s", 2).alias("s"),
            nudge(F.col("raw_s") * 100 / F.col("tot"), 2).alias("pct"),
        )
        .orderBy("c_mktsegment", "s", "pct")
    )


def q43(spark, sf_dir):
    """Regexp surface: extract / replace-all / match predicate. Both
    engines use the same group-extract semantics ('' on no match);
    replace-all needs DuckDB's 'g' flag vs Spark's default — the
    dialect divergence lives in the oracle/override strings, the
    DataFrame plan is a pure projection (one scan, codegen'd)."""
    p = _t(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.regexp_extract("p_type", "([A-Z]+)", 1).alias("w"),
            F.regexp_replace("p_name", "[aeiou]", "").alias("cons"),
            F.when(F.col("p_name").rlike("red"), 1).otherwise(0).alias(
                "has_red"
            ),
        )
        .orderBy("p_partkey", "w", "cons", "has_red")
    )


def q44(spark, sf_dir):
    """Date/interval arithmetic: day difference, +90-day shift,
    quarter, month-end — the calendar functions a retention/cohort
    pipeline leans on. All JVM built-ins over one scan."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.where(F.col("o_orderkey") < 1000)
        .select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("d"),
            F.datediff(
                F.col("o_orderdate"), F.lit("1995-01-01").cast("date")
            ).alias("dd"),
            F.date_add(F.to_date("o_orderdate"), 90).alias("d90"),
            F.quarter("o_orderdate").alias("qt"),
            F.last_day("o_orderdate").alias("ld"),
        )
        .orderBy("o_orderkey", "d", "dd", "d90", "qt", "ld")
    )


def q45(spark, sf_dir):
    """String-function suite: levenshtein / translate / lpad / reverse
    / repeat / ascii / split_part — the §2.8 string surface beyond
    path-slicing. Pure projection over one pruned scan; every function
    is a JVM built-in inside whole-stage codegen."""
    p = _t(spark, sf_dir, "part")
    return (
        p.where(F.col("p_partkey") <= 500)
        .select(
            "p_partkey",
            F.levenshtein("p_name", "p_type").alias("lev"),
            F.translate("p_name", "aeiou", "AEIOU").alias("tr"),
            F.lpad("p_brand", 12, "#").alias("lp"),
            F.reverse("p_brand").alias("rev"),
            F.repeat(F.substring("p_name", 1, 3), 2).alias("rep"),
            F.ascii("p_name").alias("ac"),
            F.expr("split_part(p_type, ' ', 2)").alias("sp"),
        )
        .orderBy("p_partkey", "lev", "tr", "lp", "rev", "rep", "ac", "sp")
    )


def q46(spark, sf_dir):
    """Conditional / boolean / bitwise aggregates: count_if, bool_and,
    bool_or, and a bit-twiddled sum (mask + shift). One partial-agg
    shuffle on a 5-value key."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count_if(F.col("o_totalprice") > 100000).alias("big"),
            F.bool_and(F.col("o_totalprice") > 0).alias("all_pos"),
            F.bool_or(F.col("o_orderkey") % 2 == 0).alias("any_even"),
            F.sum(
                F.shiftleft(F.col("o_orderkey").bitwiseAND(F.lit(7)), 1)
            ).alias("bits"),
        )
        .orderBy("o_orderpriority", "big", "all_pos", "any_even", "bits")
    )


def q47(spark, sf_dir):
    """Deterministic stratified sampling — the train/test-split shape
    of a training-data pipeline. Bucket = position of the first
    md5(doc_id) hex digit (1..16, identical in any engine — no RNG, so
    the split is reproducible and oracle-checkable); keep ~5/16 per
    source stratum, then report per-stratum rates. Embarrassingly
    parallel: the bucket is computed in the scan projection, one
    partial-agg shuffle on the stratum key. At 100 TB the same
    predicate IS the split — no shuffle, no sort, no sampling pass."""
    d = _t(spark, sf_dir, "documents")
    bucket = F.expr(
        "instr('0123456789abcdef', substring(md5(cast(doc_id as string)), 1, 1))"
    )
    return (
        d.select("source", bucket.alias("b"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.count_if(F.col("b") <= 5).alias("sampled"),
            F.round(F.count_if(F.col("b") <= 5) / F.count(F.lit(1)), 3).alias(
                "rate"
            ),
        )
        .orderBy("source", "total", "sampled", "rate")
    )


def q48(spark, sf_dir):
    """NULL-semantics suite: nullif manufactures NULLs, then coalesce
    / ifnull recover, null-safe equality compares, and the aggregate
    layer shows COUNT(col) vs COUNT(*) null-skipping. One scan, one
    partial-agg shuffle."""
    o = _t(spark, sf_dir, "orders")
    ns = F.expr("nullif(o_orderstatus, 'O')")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_all"),
            F.count(F.expr("nullif(o_orderstatus, 'O')")).alias("n_notnull"),
            F.count_if(ns.isNull()).alias("n_null"),
            F.count_if(ns.eqNullSafe(F.lit("F"))).alias("nsafe_f"),
            F.min(F.coalesce(ns, F.lit("zz"))).alias("co_min"),
            F.max(F.expr("ifnull(nullif(o_orderstatus, 'O'), 'aa')")).alias(
                "nv_max"
            ),
        )
        .orderBy("o_orderpriority", "n_all", "n_notnull", "n_null", "nsafe_f",
                 "co_min", "nv_max")
    )


def q49(spark, sf_dir):
    """Higher-order array fold: per-document word-length sum via
    aggregate(transform(...)), plus array extrema. Integer lambda
    arithmetic only, so the fold is exact cross-engine (float folds
    would be order-sensitive). Higher-order functions evaluate
    interpreted (not codegen'd) — acceptable for semantic coverage;
    the hot-path dedup/text ops use the flat-column forms instead."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.where(F.col("doc_id") < 2000)
        .select(
            "doc_id",
            F.expr(
                "aggregate(transform(split(lower(text), ' '), w -> length(w)),"
                " 0, (a, x) -> a + x)"
            ).alias("wl_sum"),
            F.expr(
                "array_max(transform(split(lower(text), ' '), w -> length(w)))"
            ).alias("wl_max"),
            F.expr(
                "array_min(transform(split(lower(text), ' '), w -> length(w)))"
            ).alias("wl_min"),
        )
        .orderBy("doc_id", "wl_sum", "wl_max", "wl_min")
    )


def q50(spark, sf_dir):
    """Multiset set operations — INTERSECT ALL / EXCEPT ALL (the
    bag-semantics counterparts of q20/q21; SURVEY §2.7). Both are
    tagged and unioned into one result so one query covers both
    operators. Spark plans these as aggregate+generate (count per
    side, replicate min/diff) — one shuffle each, no row explosion."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    ia = c.intersectAll(s).select(F.lit("ia").alias("op"), "k")
    ea = c.exceptAll(s).select(F.lit("ea").alias("op"), "k")
    return ia.unionByName(ea).orderBy("op", "k")


def q51(spark, sf_dir):
    """Map-typed columns: construction (create_map + map_concat),
    lookup (element_at), map higher-order function (transform_values),
    and key introspection (map_keys). Output is scalar-only so the
    cross-engine hash is well-defined; the oracle computes the same
    values straight from the base columns."""
    p = _t(spark, sf_dir, "part")
    m = F.map_concat(
        F.create_map(F.lit("brand"), F.col("p_brand"), F.lit("type"), F.col("p_type")),
        F.create_map(F.lit("size"), F.col("p_size").cast("string")),
    )
    return (
        p.where(F.col("p_partkey") <= 1000)
        .select(
            "p_partkey",
            m.alias("m"),
        )
        .select(
            "p_partkey",
            F.element_at("m", F.lit("brand")).alias("b"),
            F.element_at("m", F.lit("size")).alias("sz"),
            F.size("m").alias("n"),
            F.array_join(F.array_sort(F.map_keys("m")), ",").alias("ks"),
            F.element_at(
                F.transform_values("m", lambda _, v: F.upper(v)), F.lit("type")
            ).alias("tu"),
        )
        .orderBy("p_partkey", "b", "sz", "n", "ks", "tu")
    )


def q52(spark, sf_dir):
    """UNPIVOT (wide → long): part's numeric attributes melted into
    (attr, val) rows via ``DataFrame.unpivot`` — the relational melt
    Spark plans as a single Expand (no join, no shuffle until the
    sort). Oracle expresses the same thing as UNION ALL."""
    p = _t(spark, sf_dir, "part")
    return (
        p.where(F.col("p_partkey") <= 1000)
        .select(
            "p_partkey",
            F.col("p_size").cast("double").alias("size"),
            F.col("p_retailprice").alias("retail"),
        )
        .unpivot(["p_partkey"], ["size", "retail"], "attr", "val")
        .select("p_partkey", "attr", F.round("val", 2).alias("val"))
        .orderBy("p_partkey", "attr", "val")
    )


def q53(spark, sf_dir):
    """Lateral positional explode (UDTF shape): one row per word with
    its position, via ``posexplode`` — Spark's Generate operator,
    which runs inside the scan stage (no shuffle, no Python). The
    oracle mirrors it with UNNEST over an index range."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.where(F.col("doc_id") < 300)
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w"))
        .orderBy("doc_id", "pos", "w")
    )


def q54(spark, sf_dir):
    """Analytic window suite: percent_rank / cume_dist / ntile plus
    first/last/nth value over an explicit full-partition frame.
    Deterministic: the window order has a unique tiebreak
    (o_totalprice, o_orderkey); ranks are exact rationals rounded at
    4 dp identically in either engine.

    Low-cardinality-window exemption (r10 audit): input pre-filtered
    to the fixed key range o_orderkey < 2000 — SF-independent row
    count, so the 3-partition window never sees a growing table."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 2000)
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        nudge(F.percent_rank().over(w), 4).alias("pr"),
        nudge(F.cume_dist().over(w), 4).alias("cd"),
        F.ntile(5).over(w).alias("nt"),
        F.first("o_orderkey").over(wf).alias("fv"),
        F.last("o_orderkey").over(wf).alias("lv"),
        F.nth_value("o_orderkey", 2).over(wf).alias("nv"),
    ).orderBy(
        "o_orderkey", "o_orderstatus", "pr", "cd", "nt", "fv", "lv", "nv"
    )


def q55(spark, sf_dir):
    """Correlated scalar subquery, decorrelated the Spark-first way:
    the per-customer average is a broadcast-joined aggregate rather
    than a per-row subquery execution (what Catalyst's decorrelation
    rewrite does internally; at 100 TB the re-aggregation is one
    shuffle over the grouping key instead of N subquery probes). The
    oracle states the correlated form directly. The threshold is
    stabilized (ROUND(ROUND(x,6)+1e-9,2)) so boundary doubles round
    identically in both engines."""
    o = _t(spark, sf_dir, "orders")
    avg_per_cust = o.groupBy("o_custkey").agg(
        nudge(F.avg("o_totalprice") * 2, 2).alias("thr")
    )
    return (
        o.join(avg_per_cust, "o_custkey")
        .where(F.col("o_totalprice") > F.col("thr"))
        .select("o_orderkey", F.round("o_totalprice", 2).alias("tp"))
        .orderBy("o_orderkey", "tp")
    )


def q56(spark, sf_dir):
    """Correlated LATERAL join — top-2 customers by balance *per
    nation*, stated as a lateral ORDER BY … LIMIT subquery (the
    "for each row, run this parameterized query" operator). Catalyst
    decorrelates it into a single ranked window over one shuffle of
    ``customer`` (verified via explain: Window/row_number ≤ 2, no
    per-row re-execution) — the only plan that survives when the
    outer side has millions of rows. The identical SQL runs on
    DuckDB, which likewise rewrites lateral into a dependent join."""
    _t(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT n_name, l.c_custkey, l.bal FROM nation, LATERAL (
            SELECT c_custkey, ROUND(c_acctbal, 2) bal FROM customer
            WHERE c_nationkey = n_nationkey
            ORDER BY c_acctbal DESC, c_custkey LIMIT 2) l
        ORDER BY n_name, c_custkey, bal
        """
    )


def q57(spark, sf_dir):
    """CUBE with GROUPING / GROUPING_ID — the functions that
    disambiguate "NULL because aggregated away" from "NULL in the
    data" (completes the §2.4 grouping-analytics declared set next to
    Q08 ROLLUP / Q09 GROUPING SETS). Same two-phase hash agg as any
    grouped plan; Expand multiplies rows 4× before the partial agg,
    which is the standard cube cost at any scale."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("gf"),
            F.grouping("l_linestatus").cast("int").alias("gs"),
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("c"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
            "gf",
            "gs",
            "gid",
            "c",
        )
    )


def q58(spark, sf_dir):
    """Event-time RANGE window: per-user trailing 1-hour sum — the
    time-series "moving aggregate over a *time* interval, not a row
    count" (complements Q17's ROWS frame; the batch twin of the
    streaming sliding window st02). PySpark's ``rangeBetween`` only
    takes integer offsets, so the interval frame is stated in SQL —
    one shuffle on user_id, one sort, state bounded by the hour
    span exactly like the streaming counterpart's watermark."""
    _t(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
        SELECT event_id, user_id,
               ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW), 2) s
        FROM events
        ORDER BY event_id, user_id, s
        """
    )


def q59(spark, sf_dir):
    """Error-tolerant expressions: ``try_cast`` (malformed input →
    NULL, never a task failure) and ``try_divide`` (÷0 → NULL). The
    ingestion-hardening surface — one bad row in a 100 TB scan must
    null out, not kill the stage and retry 4× before failing the job.
    The oracle states the same semantics with TRY_CAST and an explicit
    zero-denominator guard (DuckDB's ``/`` raises on integer ÷0)."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 2000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_returnflag").try_cast("int").alias("bad_cast"),
        F.col("l_linenumber").cast("string").try_cast("int").alias("good_cast"),
        nudge(
            F.try_divide(F.col("l_extendedprice"), F.col("l_quantity") - 25), 2
        ).alias("td"),
    ).orderBy(
        "l_orderkey",
        "l_linenumber",
        F.col("bad_cast").asc_nulls_first(),
        "good_cast",
        F.col("td").asc_nulls_first(),
    )


def q60(spark, sf_dir):
    """Recursive CTE (Spark 4 ``WITH RECURSIVE``): generate the
    1995-Q1 calendar by recursion, LEFT JOIN orders per day — the
    zero-order days prove the recursive generator (a plain GROUP BY
    over orders could never produce them). Spark's recursion supports
    UNION ALL only; the monotone date guard makes it terminate. Scale
    shape: the recursive branch materializes 90 rows on the driver
    side of a broadcast; the orders fact joins it broadcast-style and
    aggregates with map-side partials — one shuffle on the date key."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("q60_orders")
    return spark.sql(
        """
        WITH RECURSIVE cal(d) AS (
            SELECT DATE'1995-01-01'
            UNION ALL
            SELECT date_add(d, 1) FROM cal WHERE d < DATE'1995-03-31'
        )
        SELECT cal.d, COUNT(o_orderkey) n_ord,
               ROUND(COALESCE(SUM(o_totalprice), 0), 2) rev
        FROM cal LEFT JOIN q60_orders ON CAST(o_orderdate AS DATE) = cal.d
        GROUP BY cal.d
        ORDER BY d, n_ord, rev
        """
    )


def q61(spark, sf_dir):
    """Three-valued-logic pin: NOT IN against a subquery that contains
    NULL — the classic SQL trap. ``p_size NOT IN (S ∪ {NULL})`` is
    never TRUE (it is FALSE or UNKNOWN), so the NOT IN branch must
    return 0 matched rows while the NOT EXISTS form returns the
    intuitive complement; the query returns both counts side by side
    so the engine's null-aware anti-join semantics are hash-pinned.
    Catalyst plans the NOT IN as a null-aware anti join (BNLJ with the
    small subquery broadcast); NOT EXISTS stays a plain left-anti."""
    p = _t(spark, sf_dir, "part")
    p.createOrReplaceTempView("q61_part")
    return spark.sql(
        """
        WITH sizes AS (
            SELECT CASE WHEN p_size = 1 THEN NULL ELSE p_size END AS s
            FROM q61_part WHERE p_size <= 5
        )
        SELECT
            (SELECT COUNT(*) FROM q61_part
             WHERE p_size NOT IN (SELECT s FROM sizes)) AS not_in_cnt,
            (SELECT COUNT(*) FROM q61_part p1
             WHERE NOT EXISTS (SELECT 1 FROM sizes WHERE s = p1.p_size))
                AS not_exists_cnt
        """
    )


def q62(spark, sf_dir):
    """Array set-operation suite: ``array_intersect`` / ``array_union``
    / ``array_except`` over two word-slices of each document, plus
    ``arrays_zip``-style pairing via ``zip_with``. Set results are
    sorted and joined to strings so the comparison is representation-
    stable cross-engine (array column hashing is untested driver
    surface; strings are not). Pure codegen'd projections — one scan,
    no shuffle before the deterministic ORDER BY."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 1000)
    w = tokens("text")
    a = F.slice(w, 1, 12)
    b = F.slice(w, 7, 12)
    return d.select(
        "doc_id",
        F.array_join(F.array_sort(F.array_intersect(a, b)), ",").alias("ab_i"),
        F.size(F.array_union(a, b)).alias("n_union"),
        F.size(F.array_except(a, b)).alias("n_except"),
        F.size(F.zip_with(a, b, lambda x, y: x == y)).alias("n_zip"),
    ).orderBy("doc_id", "ab_i", "n_union", "n_except", "n_zip")


def q63(spark, sf_dir):
    """Statistical aggregate suite: Pearson correlation, sample
    covariance/variance/stddev per group — the profile pass a data
    pipeline runs before modeling. All single-pass co-moment
    aggregates (Catalyst computes them map-side-combinable like any
    other DeclarativeAggregate), so the plan is one scan + one
    shuffle on the group key at any scale. Both engines accumulate
    co-moments in merge order, so last-bit floats differ; the
    ROUND(·,6)+1e-9 → 4 dp stabilization used by the engine's other
    float surfaces applies."""
    li = _t(spark, sf_dir, "lineitem")
    # trailing + 0.0 canonicalizes IEEE -0.0 (covar of tiny negative
    # co-moment rounds to zero from below) to +0.0
    return (
        li.groupBy("l_returnflag")
        .agg(
            (nudge(F.corr("l_quantity", "l_extendedprice"), 4) + 0.0).alias(
                "corr_qp"
            ),
            (nudge(F.covar_samp("l_discount", "l_tax"), 4) + 0.0).alias("cov_dt"),
            (nudge(F.stddev_samp("l_quantity"), 4) + 0.0).alias("sd_q"),
            (nudge(F.var_samp("l_discount"), 4) + 0.0).alias("var_d"),
            F.count(F.lit(1)).alias("c"),
        )
        .orderBy("l_returnflag", "corr_qp", "cov_dt", "sd_q", "var_d", "c")
    )


def q64(spark, sf_dir):
    """Sequential funnel (view -> click -> purchase, first-touch):
    each stage is the user's earliest qualifying event strictly after
    the previous stage's timestamp. Computed as three chained
    whole-partition window mins over ONE shuffle of events on
    user_id (each stage's min references the previous stage's
    column, so the three passes share the partitioning and add no
    exchange), folded to one row per user by a same-key aggregate —
    one scan, one shuffle, however many stages the funnel has. The
    join-chain form (stage aggregates left-joined back) re-derives
    the events scan per stage; this is the decorrelated
    'sequence EXISTS' funnel a 100 TB events table needs."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    staged = (
        e.withColumn(
            "tv", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
        )
        .withColumn(
            "tc",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("tv")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "tp",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("tc")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    return (
        staged.groupBy("user_id")
        .agg(
            F.min("tv").alias("tv"), F.min("tc").alias("tc"), F.min("tp").alias("tp")
        )
        .where(F.col("tv").isNotNull())
        .select("user_id", "tv", "tc", "tp", F.col("tp").isNotNull().alias("converted"))
        .orderBy("user_id", "tv", "tc", "tp", "converted")
    )


def q65(spark, sf_dir):
    """Retention cohort matrix: cohort = day of a user's first event;
    for offsets 0..7 count the distinct cohort users active on
    cohort_day + k. Two per-user aggregates + one distinct-activity
    set, joined on user_id — the standard cohort triangle, fully
    relational (no per-cohort loop)."""
    e = _t(spark, sf_dir, "events")
    day = F.to_date(F.date_trunc("day", F.col("ts")))
    first = e.groupBy("user_id").agg(F.min(day).alias("d0"))
    act = e.select("user_id", day.alias("d")).distinct()
    k = F.datediff(F.col("d"), F.col("d0"))
    return (
        act.join(first, "user_id")
        .where((k >= 0) & (k <= 7))
        .groupBy(F.col("d0").alias("cohort"), k.alias("k"))
        .agg(F.countDistinct("user_id").alias("n"))
        .orderBy("cohort", "k", "n")
    )


def q66(spark, sf_dir):
    """Rank-family window suite — NTILE quartiles, PERCENT_RANK and
    CUME_DIST per status group (the distribution-rank functions the
    declared surface didn't cover; rank/dense_rank/row_number live in
    q16/q33). The ORDER BY inside the window is made unique with the
    key column, so every rank value is deterministic in any engine;
    percent_rank/cume_dist are exact rationals of row counts, so the
    doubles agree bit-for-bit. One shuffle on the partition key.

    Low-cardinality-window exemption (r10 audit): input pre-filtered
    to the fixed key range o_orderkey < 4000 — SF-independent row
    count, so the 3-partition window never sees a growing table."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 4000)
    w = Window.partitionBy("o_orderstatus").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.ntile(4).over(w).alias("q4"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    ).orderBy("o_orderkey", "o_orderstatus", "o_totalprice", "q4", "pr", "cd")


def q67(spark, sf_dir):
    """UNPIVOT (wide → long), the inverse of q38's pivot: each
    lineitem row's three measures become three (measure, val) rows
    via ``stack`` — a Generate projection inside the scan stage, no
    shuffle before the deterministic ORDER BY. The canonical SQL
    states the same relation as UNION ALL of three projections."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 200)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'discount', l_discount, 'extendedprice',"
            " l_extendedprice, 'quantity', l_quantity)"
        ).alias("measure", "val"),
    ).orderBy("l_orderkey", "l_linenumber", "measure", "val")


def q68(spark, sf_dir):
    """Null-preserving lateral explode (``explode_outer``): documents
    keep a row even when the exploded array is empty — the LEFT OUTER
    lateral semantics a flattening pipeline needs so parent rows are
    never silently dropped. The array here is the doc's words longer
    than 9 chars (empty for many docs, exercising the outer case);
    the oracle states the same relation by substituting [NULL] for
    empty lists before UNNEST."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    long_words = F.filter(tokens("text"), lambda w: F.length(w) > 9)
    return (
        d.select("doc_id", F.explode_outer(long_words).alias("w"))
        .orderBy("doc_id", F.col("w").asc_nulls_first())
    )


# --------------------------------------------------------------------------
# oracle SQL (canonical, runs on DuckDB over the same parquet)
# --------------------------------------------------------------------------

ORACLE_SQL: dict[str, str] = {
    "q01": "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_discount > 0.05 AND l_returnflag = 'R' ORDER BY l_orderkey, l_linenumber, l_quantity LIMIT 100",
    "q02": "SELECT p_partkey, p_name FROM part WHERE p_type LIKE '%BRASS%' OR p_size IN (1,5,9) OR p_retailprice BETWEEN 901 AND 1000 ORDER BY p_partkey",
    "q03": "SELECT c_custkey, UPPER(c_name) u, LENGTH(c_name) l, SUBSTR(c_name, 1, 10) s, CONCAT(c_mktsegment, '#', c_name) k FROM customer ORDER BY c_custkey",
    "q04": "SELECT l_orderkey, l_linenumber, ROUND(SQRT(l_extendedprice), 2) sq, MOD(l_partkey, 7) m, CAST(CEIL(l_discount * 100) AS BIGINT) c, CAST(FLOOR(l_tax * 100) AS BIGINT) f, ABS(l_quantity - 25) a FROM lineitem WHERE l_orderkey < 100 ORDER BY l_orderkey, l_linenumber, sq, m, c, f, a",
    "q05": "SELECT YEAR(l_shipdate) y, MONTH(l_shipdate) m, COUNT(*) c FROM lineitem GROUP BY YEAR(l_shipdate), MONTH(l_shipdate) ORDER BY y, m",
    "q06": "SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity),2) sq, ROUND(SUM(l_extendedprice),2) sp, ROUND(SUM(l_extendedprice*(1-l_discount)),2) sd, ROUND(AVG(l_quantity),2) aq, COUNT(*) c FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
    "q07": "SELECT o_custkey, COUNT(DISTINCT o_orderstatus) ds, COUNT(*) c FROM orders GROUP BY o_custkey HAVING COUNT(*) > 3 ORDER BY o_custkey",
    "q08": "SELECT l_returnflag, l_linestatus, COUNT(*) c, ROUND(SUM(l_quantity),2) s FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST",
    "q09": "SELECT l_returnflag, l_linestatus, COUNT(*) c FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ()) ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST",
    "q10": "SELECT c_mktsegment, COUNT(*) c, ROUND(SUM(o_totalprice),2) s FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment ORDER BY c_mktsegment",
    "q11": "SELECT n_name, ROUND(SUM(l_extendedprice*(1-l_discount)),2) rev FROM lineitem JOIN orders ON l_orderkey=o_orderkey JOIN customer ON o_custkey=c_custkey JOIN nation ON c_nationkey=n_nationkey JOIN region ON n_regionkey=r_regionkey WHERE r_name='ASIA' GROUP BY n_name ORDER BY n_name",
    "q12": "SELECT c_custkey, COUNT(o_orderkey) c FROM customer LEFT JOIN orders ON o_custkey=c_custkey GROUP BY c_custkey ORDER BY c_custkey",
    "q13": "SELECT p_partkey FROM part WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45) ORDER BY p_partkey",
    "q14": "SELECT c_custkey FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey",
    "q15": "SELECT l_orderkey, l_linenumber FROM lineitem JOIN orders ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate ORDER BY l_orderkey, l_linenumber LIMIT 500",
    "q16": "SELECT o_custkey, o_orderkey, o_totalprice FROM (SELECT o_custkey, o_orderkey, o_totalprice, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) rn FROM orders) t WHERE rn <= 3 ORDER BY o_custkey, o_orderkey",
    "q17": "SELECT user_id, event_id, ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) mv, LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) prev FROM events ORDER BY user_id, event_id",
    "q18": "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25",
    "q19": "SELECT c_nationkey k FROM customer UNION SELECT s_nationkey FROM supplier ORDER BY k",
    "q20": "SELECT c_nationkey k FROM customer INTERSECT SELECT s_nationkey FROM supplier ORDER BY k",
    "q21": "SELECT n_nationkey k FROM nation EXCEPT SELECT c_nationkey FROM customer ORDER BY k",
    "q22": "SELECT o_orderstatus, CAST(SUM(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT) big, COUNT(*) c FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus",
    "q23": "SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name",
    "q24": "SELECT lang, source, COUNT(*) c, ROUND(AVG(n_chars),2) a FROM documents GROUP BY lang, source ORDER BY lang, source",
    "q25": "SELECT text, COUNT(*) c FROM documents GROUP BY text HAVING COUNT(*) > 1 ORDER BY c DESC, text LIMIT 20",
    "q26": "SELECT DATE_TRUNC('hour', ts) h, event_type, COUNT(*) c, ROUND(SUM(value),2) s FROM events GROUP BY DATE_TRUNC('hour', ts), event_type ORDER BY h, event_type",
    "q27": "SELECT label, COUNT(*) c FROM embeddings GROUP BY label ORDER BY label",
    "q32": "SELECT c_custkey, (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) n_orders FROM customer ORDER BY c_custkey, n_orders",
    "q33": """SELECT o_orderkey, o_orderstatus,
        RANK() OVER w rnk, DENSE_RANK() OVER w drnk, NTILE(4) OVER w quartile,
        FIRST_VALUE(o_orderkey) OVER w top_key, LEAD(o_orderkey) OVER w next_key,
        COUNT(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
                       RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) near_cnt
        FROM orders WHERE o_orderkey < 2000
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
        ORDER BY o_orderkey, o_orderstatus, rnk, drnk, quartile, top_key, next_key, near_cnt""",
    "q34": "SELECT o_orderstatus, ROUND(quantile_cont(o_totalprice, 0.5),2) med, ROUND(quantile_cont(o_totalprice, 0.9),2) p90, ROUND(quantile_cont(o_totalprice, 0.99),2) p99 FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus, med, p90, p99",
    "q35": "SELECT n_regionkey k, array_to_string(list_sort(list(n_name)), ',') AS names FROM nation GROUP BY n_regionkey ORDER BY k, names",
    "q36": "SELECT o_custkey k FROM orders EXCEPT ALL SELECT c_custkey FROM customer ORDER BY k",
    "q37": "SELECT c_nationkey k FROM customer INTERSECT ALL SELECT s_nationkey FROM supplier ORDER BY k",
    "q38": """SELECT l_linestatus,
        ROUND(SUM(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS "A",
        ROUND(SUM(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS "N",
        ROUND(SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS "R"
        FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus, "A", "N", "R\"""",
    "q39": """SELECT word, COUNT(*) c FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents) t
        GROUP BY word ORDER BY c DESC, word LIMIT 20""",
    "q40": "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > ALL (SELECT o_totalprice FROM orders WHERE o_orderpriority = '1-URGENT') ORDER BY o_orderkey, o_totalprice",
    "q41": "SELECT s_suppkey, s_name FROM supplier WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_quantity >= 49) ORDER BY s_suppkey, s_name",
    "q42": """WITH seg AS (SELECT c_mktsegment, SUM(o_totalprice) raw_s FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment)
        SELECT c_mktsegment, ROUND(raw_s, 2) s,
               ROUND(ROUND(raw_s * 100 / (SELECT SUM(raw_s) FROM seg), 6) + 1e-9, 2) pct
        FROM seg ORDER BY c_mktsegment, s, pct""",
    "q43": """SELECT p_partkey, regexp_extract(p_type, '([A-Z]+)', 1) w,
        regexp_replace(p_name, '[aeiou]', '', 'g') cons,
        CASE WHEN regexp_matches(p_name, 'red') THEN 1 ELSE 0 END has_red
        FROM part ORDER BY p_partkey, w, cons, has_red""",
    "q44": """SELECT o_orderkey, CAST(o_orderdate AS DATE) d,
        datediff('day', DATE '1995-01-01', o_orderdate) dd,
        CAST(o_orderdate + INTERVAL 90 DAY AS DATE) d90,
        quarter(o_orderdate) qt, last_day(CAST(o_orderdate AS DATE)) ld
        FROM orders WHERE o_orderkey < 1000
        ORDER BY o_orderkey, d, dd, d90, qt, ld""",
    "q45": """SELECT p_partkey, levenshtein(p_name, p_type) lev,
        translate(p_name, 'aeiou', 'AEIOU') tr, lpad(p_brand, 12, '#') lp,
        reverse(p_brand) rev, repeat(substr(p_name, 1, 3), 2) rep,
        ascii(p_name) ac, split_part(p_type, ' ', 2) sp
        FROM part WHERE p_partkey <= 500
        ORDER BY p_partkey, lev, tr, lp, rev, rep, ac, sp""",
    "q46": """SELECT o_orderpriority, CAST(count_if(o_totalprice > 100000) AS BIGINT) big,
        bool_and(o_totalprice > 0) all_pos,
        bool_or(o_orderkey % 2 = 0) any_even,
        CAST(SUM((o_orderkey & 7) << 1) AS BIGINT) bits
        FROM orders GROUP BY o_orderpriority
        ORDER BY o_orderpriority, big, all_pos, any_even, bits""",
    "q47": """WITH b AS (SELECT source,
            strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) bk
        FROM documents)
        SELECT source, COUNT(*) total, CAST(count_if(bk <= 5) AS BIGINT) sampled,
               ROUND(count_if(bk <= 5) * 1.0 / COUNT(*), 3) rate
        FROM b GROUP BY source ORDER BY source, total, sampled, rate""",
    "q48": """SELECT o_orderpriority, COUNT(*) n_all,
        COUNT(nullif(o_orderstatus, 'O')) n_notnull,
        CAST(count_if(nullif(o_orderstatus, 'O') IS NULL) AS BIGINT) n_null,
        CAST(count_if(nullif(o_orderstatus, 'O') IS NOT DISTINCT FROM 'F') AS BIGINT) nsafe_f,
        MIN(coalesce(nullif(o_orderstatus, 'O'), 'zz')) co_min,
        MAX(ifnull(nullif(o_orderstatus, 'O'), 'aa')) nv_max
        FROM orders GROUP BY o_orderpriority
        ORDER BY o_orderpriority, n_all, n_notnull, n_null, nsafe_f, co_min, nv_max""",
    "q49": """WITH t AS (SELECT doc_id,
            list_transform(string_split(lower(text), ' '), w -> length(w)) wl
        FROM documents WHERE doc_id < 2000)
        SELECT doc_id, CAST(list_sum(wl) AS INT) wl_sum,
               list_max(wl) wl_max, list_min(wl) wl_min
        FROM t ORDER BY doc_id, wl_sum, wl_max, wl_min""",
    "q50": """SELECT 'ia' AS op, k FROM
            (SELECT c_nationkey k FROM customer INTERSECT ALL SELECT s_nationkey FROM supplier) AS ia
        UNION ALL
        SELECT 'ea' AS op, k FROM
            (SELECT c_nationkey k FROM customer EXCEPT ALL SELECT s_nationkey FROM supplier) AS ea
        ORDER BY op, k""",
    "q51": """SELECT p_partkey, p_brand b, CAST(p_size AS VARCHAR) sz,
        3 n, 'brand,size,type' ks, UPPER(p_type) tu
        FROM part WHERE p_partkey <= 1000
        ORDER BY p_partkey, b, sz, n, ks, tu""",
    "q52": """SELECT p_partkey, 'size' AS attr, ROUND(CAST(p_size AS DOUBLE), 2) val
        FROM part WHERE p_partkey <= 1000
        UNION ALL
        SELECT p_partkey, 'retail' AS attr, ROUND(p_retailprice, 2) val
        FROM part WHERE p_partkey <= 1000
        ORDER BY p_partkey, attr, val""",
    "q53": """WITH t AS (SELECT doc_id, string_split(text, ' ') arr
            FROM documents WHERE doc_id < 300)
        SELECT doc_id, CAST(i - 1 AS INT) pos, arr[i] w
        FROM t, UNNEST(range(1, len(arr) + 1)) u(i)
        ORDER BY doc_id, pos, w""",
    "q54": """SELECT o_orderkey, o_orderstatus,
        ROUND(ROUND(percent_rank() OVER w, 6) + 1e-9, 4) pr,
        ROUND(ROUND(cume_dist() OVER w, 6) + 1e-9, 4) cd,
        ntile(5) OVER w nt,
        first_value(o_orderkey) OVER wf fv,
        last_value(o_orderkey) OVER wf lv,
        nth_value(o_orderkey, 2) OVER wf nv
        FROM orders WHERE o_orderkey < 2000
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey),
               wf AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        ORDER BY o_orderkey, o_orderstatus, pr, cd, nt, fv, lv, nv""",
    "q55": """SELECT o_orderkey, ROUND(o_totalprice, 2) tp FROM orders o
        WHERE o_totalprice > (SELECT ROUND(ROUND(AVG(o2.o_totalprice) * 2, 6) + 1e-9, 2)
                              FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        ORDER BY o_orderkey, tp""",
    "q56": """SELECT n_name, l.c_custkey, l.bal FROM nation, LATERAL (
            SELECT c_custkey, ROUND(c_acctbal, 2) bal FROM customer
            WHERE c_nationkey = n_nationkey
            ORDER BY c_acctbal DESC, c_custkey LIMIT 2) l
        ORDER BY n_name, c_custkey, bal""",
    "q57": """SELECT l_returnflag, l_linestatus,
        CAST(GROUPING(l_returnflag) AS INT) gf,
        CAST(GROUPING(l_linestatus) AS INT) gs,
        CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) gid,
        COUNT(*) c
        FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST,
                 gf, gs, gid, c""",
    "q58": """SELECT event_id, user_id,
        ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts
            RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW), 2) s
        FROM events
        ORDER BY event_id, user_id, s""",
    "q59": """SELECT l_orderkey, l_linenumber,
        TRY_CAST(l_returnflag AS INT) bad_cast,
        TRY_CAST(CAST(l_linenumber AS VARCHAR) AS INT) good_cast,
        CASE WHEN l_quantity = 25 THEN NULL
             ELSE ROUND(ROUND(l_extendedprice / (l_quantity - 25), 6) + 1e-9, 2) END td
        FROM lineitem WHERE l_orderkey < 2000
        ORDER BY l_orderkey, l_linenumber, bad_cast NULLS FIRST,
                 good_cast, td NULLS FIRST""",
    "q60": """WITH RECURSIVE cal(d) AS (
            SELECT DATE '1995-01-01'
            UNION ALL
            SELECT d + 1 FROM cal WHERE d < DATE '1995-03-31'
        )
        SELECT cal.d, COUNT(o_orderkey) n_ord,
               ROUND(COALESCE(SUM(o_totalprice), 0), 2) rev
        FROM cal LEFT JOIN orders ON CAST(o_orderdate AS DATE) = cal.d
        GROUP BY cal.d
        ORDER BY d, n_ord, rev""",
    "q61": """WITH sizes AS (
            SELECT CASE WHEN p_size = 1 THEN NULL ELSE p_size END AS s
            FROM part WHERE p_size <= 5
        )
        SELECT
            (SELECT COUNT(*) FROM part
             WHERE p_size NOT IN (SELECT s FROM sizes)) AS not_in_cnt,
            (SELECT COUNT(*) FROM part p1
             WHERE NOT EXISTS (SELECT 1 FROM sizes WHERE s = p1.p_size))
                AS not_exists_cnt""",
"q62": """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') w
            FROM documents WHERE doc_id < 1000),
        s AS (SELECT doc_id, w[1:12] a, w[7:18] b FROM t)
        SELECT doc_id,
            array_to_string(list_sort(list_distinct(
                list_filter(a, x -> list_contains(b, x)))), ',') ab_i,
            CAST(len(list_distinct(list_concat(a, b))) AS INT) n_union,
            CAST(len(list_distinct(
                list_filter(a, x -> NOT list_contains(b, x)))) AS INT) n_except,
            CAST(greatest(len(a), len(b)) AS INT) n_zip
        FROM s ORDER BY doc_id, ab_i, n_union, n_except, n_zip""",
    "q63": """SELECT l_returnflag,
        ROUND(ROUND(corr(l_quantity, l_extendedprice), 6) + 1e-9, 4) + 0.0 corr_qp,
        ROUND(ROUND(covar_samp(l_discount, l_tax), 6) + 1e-9, 4) + 0.0 cov_dt,
        ROUND(ROUND(stddev_samp(l_quantity), 6) + 1e-9, 4) + 0.0 sd_q,
        ROUND(ROUND(var_samp(l_discount), 6) + 1e-9, 4) + 0.0 var_d,
        COUNT(*) c
        FROM lineitem GROUP BY l_returnflag
        ORDER BY l_returnflag, corr_qp, cov_dt, sd_q, var_d, c""",
    "q64": """WITH v AS (SELECT user_id, MIN(ts) tv FROM events WHERE event_type='view' GROUP BY user_id),
        c AS (SELECT e.user_id, MIN(e.ts) tc FROM events e JOIN v USING (user_id)
              WHERE e.event_type='click' AND e.ts > v.tv GROUP BY e.user_id),
        p AS (SELECT e.user_id, MIN(e.ts) tp FROM events e JOIN c USING (user_id)
              WHERE e.event_type='purchase' AND e.ts > c.tc GROUP BY e.user_id)
        SELECT v.user_id, v.tv, c.tc, p.tp, (p.tp IS NOT NULL) converted
        FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        ORDER BY user_id, tv, tc, tp, converted""",
    "q65": """WITH f AS (SELECT user_id, MIN(CAST(DATE_TRUNC('day', ts) AS DATE)) d0
                  FROM events GROUP BY user_id),
        act AS (SELECT DISTINCT user_id, CAST(DATE_TRUNC('day', ts) AS DATE) d FROM events)
        SELECT f.d0 cohort, CAST(date_diff('day', f.d0, act.d) AS INT) k,
               COUNT(DISTINCT act.user_id) n
        FROM act JOIN f USING (user_id)
        WHERE date_diff('day', f.d0, act.d) BETWEEN 0 AND 7
        GROUP BY f.d0, k ORDER BY cohort, k, n""",
    "q66": """SELECT o_orderkey, o_orderstatus, o_totalprice,
        NTILE(4) OVER w q4,
        ROUND(PERCENT_RANK() OVER w, 6) pr,
        ROUND(CUME_DIST() OVER w, 6) cd
        FROM orders WHERE o_orderkey < 4000
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        ORDER BY o_orderkey, o_orderstatus, o_totalprice, q4, pr, cd""",
    "q67": """SELECT l_orderkey, l_linenumber, 'discount' measure, l_discount val
        FROM lineitem WHERE l_orderkey < 200
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
        FROM lineitem WHERE l_orderkey < 200
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'quantity', l_quantity
        FROM lineitem WHERE l_orderkey < 200
        ORDER BY l_orderkey, l_linenumber, measure, val""",
    "q68": """WITH t AS (SELECT doc_id,
            list_filter(string_split(lower(text), ' '), w -> length(w) > 9) l
        FROM documents WHERE doc_id < 500)
        SELECT doc_id, unnest(CASE WHEN len(l) = 0 THEN [NULL] ELSE l END) w
        FROM t ORDER BY doc_id, w NULLS FIRST""",
}

# Queries whose canonical (DuckDB) SQL uses dialect-specific function
# names; the Spark-SQL face runs these equivalents instead.
SPARK_SQL_OVERRIDES: dict[str, str] = {
    # Spark spells the null-preserving lateral explode as
    # LATERAL VIEW OUTER explode.
    "q68": """WITH t AS (SELECT doc_id,
            filter(split(lower(text), ' '), w -> length(w) > 9) l
        FROM documents WHERE doc_id < 500)
        SELECT doc_id, w FROM t LATERAL VIEW OUTER explode(l) x AS w
        ORDER BY doc_id, w NULLS FIRST""",
    "q34": "SELECT o_orderstatus, ROUND(percentile(o_totalprice, 0.5),2) med, ROUND(percentile(o_totalprice, 0.9),2) p90, ROUND(percentile(o_totalprice, 0.99),2) p99 FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus, med, p90, p99",
    "q35": "SELECT n_regionkey k, array_join(array_sort(collect_list(n_name)), ',') AS names FROM nation GROUP BY n_regionkey ORDER BY k, names",
    "q38": """SELECT l_linestatus,
        ROUND(SUM(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS `A`,
        ROUND(SUM(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS `N`,
        ROUND(SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS `R`
        FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus, `A`, `N`, `R`""",
    "q39": """SELECT word, COUNT(*) c FROM (SELECT explode(split(lower(text), ' ')) AS word FROM documents) t
        GROUP BY word ORDER BY c DESC, word LIMIT 20""",
    # Spark has no ALL/ANY quantifier: x > ALL (S) ≡ x > MAX(S) (S non-empty).
    "q40": "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > (SELECT MAX(o_totalprice) FROM orders WHERE o_orderpriority = '1-URGENT') ORDER BY o_orderkey, o_totalprice",
    # Spark regexp_replace replaces all matches (no 'g' flag); RLIKE vs regexp_matches.
    "q43": """SELECT p_partkey, regexp_extract(p_type, '([A-Z]+)', 1) w,
        regexp_replace(p_name, '[aeiou]', '') cons,
        CASE WHEN p_name RLIKE 'red' THEN 1 ELSE 0 END has_red
        FROM part ORDER BY p_partkey, w, cons, has_red""",
    # Spark datediff(end, start); dates shift with date_add, not intervals.
    "q44": """SELECT o_orderkey, CAST(o_orderdate AS DATE) d,
        datediff(o_orderdate, DATE '1995-01-01') dd,
        date_add(CAST(o_orderdate AS DATE), 90) d90,
        quarter(o_orderdate) qt, last_day(CAST(o_orderdate AS DATE)) ld
        FROM orders WHERE o_orderkey < 1000
        ORDER BY o_orderkey, d, dd, d90, qt, ld""",
    # Spark spells strpos as instr.
    "q47": """WITH b AS (SELECT source,
            instr('0123456789abcdef', substring(md5(CAST(doc_id AS STRING)), 1, 1)) bk
        FROM documents)
        SELECT source, COUNT(*) total, count_if(bk <= 5) sampled,
               ROUND(count_if(bk <= 5) * 1.0 / COUNT(*), 3) rate
        FROM b GROUP BY source ORDER BY source, total, sampled, rate""",
    # Spark spells CAST(... AS VARCHAR) as STRING.
    "q51": """SELECT p_partkey, p_brand b, CAST(p_size AS STRING) sz,
        3 n, 'brand,size,type' ks, UPPER(p_type) tu
        FROM part WHERE p_partkey <= 1000
        ORDER BY p_partkey, b, sz, n, ks, tu""",
    # Spark spells VARCHAR as STRING and has try_divide for the guard.
    "q59": """SELECT l_orderkey, l_linenumber,
        TRY_CAST(l_returnflag AS INT) bad_cast,
        TRY_CAST(CAST(l_linenumber AS STRING) AS INT) good_cast,
        ROUND(ROUND(try_divide(l_extendedprice, l_quantity - 25), 6) + 1e-9, 2) td
        FROM lineitem WHERE l_orderkey < 2000
        ORDER BY l_orderkey, l_linenumber, bad_cast NULLS FIRST,
                 good_cast, td NULLS FIRST""",
    # Spark spells the list functions as array_* and slices with slice().
    "q62": """WITH t AS (SELECT doc_id, split(lower(text), ' ') w
            FROM documents WHERE doc_id < 1000),
        s AS (SELECT doc_id, slice(w, 1, 12) a, slice(w, 7, 12) b FROM t)
        SELECT doc_id,
            array_join(array_sort(array_intersect(a, b)), ',') ab_i,
            size(array_union(a, b)) n_union,
            size(array_except(a, b)) n_except,
            size(zip_with(a, b, (x, y) -> x = y)) n_zip
        FROM s ORDER BY doc_id, ab_i, n_union, n_except, n_zip""",
    # Spark spells date_diff('day', a, b) as datediff(b, a).
    "q65": """WITH f AS (SELECT user_id, MIN(CAST(DATE_TRUNC('day', ts) AS DATE)) d0
                  FROM events GROUP BY user_id),
        act AS (SELECT DISTINCT user_id, CAST(DATE_TRUNC('day', ts) AS DATE) d FROM events)
        SELECT f.d0 cohort, CAST(datediff(act.d, f.d0) AS INT) k,
               COUNT(DISTINCT act.user_id) n
        FROM act JOIN f USING (user_id)
        WHERE datediff(act.d, f.d0) BETWEEN 0 AND 7
        GROUP BY f.d0, k ORDER BY cohort, k, n""",
    # Spark shifts dates with date_add, not integer +.
    "q60": """WITH RECURSIVE cal(d) AS (
            SELECT DATE'1995-01-01'
            UNION ALL
            SELECT date_add(d, 1) FROM cal WHERE d < DATE'1995-03-31'
        )
        SELECT cal.d, COUNT(o_orderkey) n_ord,
               ROUND(COALESCE(SUM(o_totalprice), 0), 2) rev
        FROM cal LEFT JOIN orders ON CAST(o_orderdate AS DATE) = cal.d
        GROUP BY cal.d
        ORDER BY d, n_ord, rev""",
    # Spark's lateral positional explode is LATERAL VIEW posexplode.
    "q53": """SELECT doc_id, pos, w
        FROM (SELECT doc_id, split(text, ' ') arr FROM documents WHERE doc_id < 300)
        LATERAL VIEW posexplode(arr) t AS pos, w
        ORDER BY doc_id, pos, w""",
    # Spark spells list_* as transform/aggregate/array_*.
    "q49": """WITH t AS (SELECT doc_id,
            transform(split(lower(text), ' '), w -> length(w)) wl
        FROM documents WHERE doc_id < 2000)
        SELECT doc_id, aggregate(wl, 0, (a, x) -> a + x) wl_sum,
               array_max(wl) wl_max, array_min(wl) wl_min
        FROM t ORDER BY doc_id, wl_sum, wl_max, wl_min""",
}

Builder = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, Builder] = {
    name: fn
    for name, fn in sorted(globals().items())
    if name.startswith("q") and name[1:].isdigit() and callable(fn)
}
