"""Join operators (SURVEY.md §2.3, J1-J7, J9; J8 as-of lives in asof.py).

The reference's linear E->T->L pipeline never joins
(/root/reference/README.md:20-23); this surface is driver-mandated for
analytics over the ingested star schema (TESTDATA.md).

Scale notes: dimension tables (region 5, nation 25, supplier small) are
always broadcast — either via Catalyst's size estimate or an explicit
``F.broadcast`` hint — so the fact table never shuffles for them. Fact-fact
joins (lineitem x orders) shuffle on the join key; AQE handles skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..registry import register
from ..scratch import scratch_dir

# J1 — inner equi-join ---------------------------------------------------------

_J1_ORACLE = """
SELECT o.o_orderkey, c.c_name, c.c_mktsegment, round(o.o_totalprice, 2) AS total_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
"""


@register("j1_inner_equi_join", oracle=_J1_ORACLE, tags=("J1",))
def j1_inner_equi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-dim enrichment join. Customer is small relative to orders, so
    Catalyst selects broadcast-hash; at 100 TB a huge customer dim falls
    back to sort-merge on o_custkey."""
    c = Catalog(spark, sf_dir)
    orders, customer = c.orders, c.customer
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "inner")
        .select(
            "o_orderkey",
            "c_name",
            "c_mktsegment",
            F.round("o_totalprice", 2).alias("total_price"),
        )
    )


# J2 — left outer join ----------------------------------------------------------

_J2_ORACLE = """
SELECT c.c_custkey,
       count(o.o_orderkey)                          AS n_orders,
       round(coalesce(sum(o.o_totalprice), 0), 2)   AS total_spent
FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey
"""


@register("j2_left_outer_join", oracle=_J2_ORACLE, tags=("J2",))
def j2_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep unmatched dimension rows (customers with zero orders)."""
    c = Catalog(spark, sf_dir)
    orders, customer = c.orders, c.customer
    return (
        customer.join(orders, orders.o_custkey == customer.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "total_spent"
            ),
        )
    )


# J3 — full outer join -------------------------------------------------------------

_J3_ORACLE = """
WITH cn AS (SELECT DISTINCT c_nationkey FROM customer),
     sn AS (SELECT DISTINCT s_nationkey FROM supplier)
SELECT cn.c_nationkey, sn.s_nationkey
FROM cn FULL OUTER JOIN sn ON cn.c_nationkey = sn.s_nationkey
"""


@register("j3_full_outer_join", oracle=_J3_ORACLE, tags=("J3",))
def j3_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric completeness check: nations with customers vs suppliers."""
    c = Catalog(spark, sf_dir)
    cn = c.customer.select("c_nationkey").distinct()
    sn = c.supplier.select("s_nationkey").distinct()
    return cn.join(sn, cn.c_nationkey == sn.s_nationkey, "full_outer")


# J4 — semi join ---------------------------------------------------------------------

_J4_ORACLE = """
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


@register("j4_semi_join", oracle=_J4_ORACLE, tags=("J4",))
def j4_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence filter (customers that ordered); semi-join never widens
    rows, so the probe side streams through unchanged."""
    c = Catalog(spark, sf_dir)
    orders, customer = c.orders, c.customer
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


# J5 — anti join -----------------------------------------------------------------------

_J5_ORACLE = """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


@register("j5_anti_join", oracle=_J5_ORACLE, tags=("J5",))
def j5_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Find-missing / dedup-against-sink (supports the reference's
    "updates" model, README.md:28): rows not yet present on the other side."""
    c = Catalog(spark, sf_dir)
    orders, customer = c.orders, c.customer
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# J6 — broadcast chain join (Q5-style) ---------------------------------------------------

_J6_ORACLE = """
SELECT r.r_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
ORDER BY r.r_name
"""


@register("j6_broadcast_join", oracle=_J6_ORACLE, tags=("J6",))
def j6_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema chain with explicit broadcast hints on every dim: the
    fact table is scanned exactly once with zero shuffles before the final
    4-row aggregation — the plan shape that survives a 1000x scale-up."""
    c = Catalog(spark, sf_dir)
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.lineitem.join(F.broadcast(c.supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(c.nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(c.region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.round(F.sum(revenue), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("r_name")
    )


# J7 — theta / range join ------------------------------------------------------------------

_PRICE_BANDS = [("budget", 0.0, 500.0), ("mid", 500.0, 1200.0), ("premium", 1200.0, 1e9)]

_J7_ORACLE = """
SELECT b.band,
       count(*)                      AS n_parts,
       round(avg(p.p_retailprice), 4) AS avg_price
FROM part p
JOIN (VALUES ('budget', 0.0, 500.0), ('mid', 500.0, 1200.0), ('premium', 1200.0, 1e9))
     AS b(band, lo, hi)
  ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
GROUP BY b.band
ORDER BY b.band
"""


@register("j7_range_join", oracle=_J7_ORACLE, tags=("J7",))
def j7_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (banding) join. The band table is tiny and broadcast, so
    the inequality predicate evaluates as a broadcast nested-loop — the
    right physical choice when one side is O(1) rows."""
    c = Catalog(spark, sf_dir)
    bands = spark.createDataFrame(_PRICE_BANDS, "band string, lo double, hi double")
    p = c.part
    return (
        p.join(
            F.broadcast(bands),
            (p.p_retailprice >= bands.lo) & (p.p_retailprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
        )
        .orderBy("band")
    )


# J9 — cross join ------------------------------------------------------------------------------

_J9_ORACLE = """
SELECT r.r_name, s.o_orderstatus
FROM region r CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
"""


@register("j9_cross_join", oracle=_J9_ORACLE, tags=("J9",))
def j9_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs scaffold (used by similarity search X3). Only ever safe
    when at least one side is provably tiny — here 5 x 3 rows."""
    c = Catalog(spark, sf_dir)
    statuses = c.orders.select("o_orderstatus").distinct()
    return c.region.select("r_name").crossJoin(statuses)


# J10 — salted skew join (SURVEY.md §4.3 skew posture, made concrete) ---------------

_J10_ORACLE = """
SELECT l_returnflag,
       count(*)                      AS n,
       round(sum(o_totalprice), 2)   AS sum_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_returnflag
"""


@register("j10_salted_skew_join", oracle=_J10_ORACLE, tags=("J1", "J10"))
def j10_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual key salting for a skewed fact-fact join: the probe side
    appends a deterministic salt in [0, S) to its key; the build side is
    replicated S ways (explode over the salt domain), so one hot key's
    rows land on S reducers instead of one. The result is provably
    identical to the unsalted join — which is exactly what the oracle
    checks. AQE's OptimizeSkewedJoin does this automatically at runtime
    for sort-merge joins; the manual form is for engines/paths AQE can't
    see (e.g. aggregations after the join keep the salt column until the
    final combine).

    The salt MUST vary per row, not per key: a salt derived from the join
    key alone is constant across a hot key's rows, so the hot key still
    lands on a single reducer and the salting is a no-op (measured in
    tools/skew_bench.py). Here the row-distinguishing l_linenumber feeds
    the hash alongside the key, keeping the salt deterministic (retry-
    stable) while spreading each key's rows across the salt domain.

    Entropy bound: the spread per hot key is capped by the cardinality of
    the row-discriminators fed to the hash. TPC-H's l_linenumber takes at
    most 7 distinct values per order key, so with S=8 a hot key's rows
    land in at most 7 salt buckets and raising S beyond ~7 buys no extra
    spread. When S must exceed the per-key discriminator cardinality,
    fold in another row-distinguishing column (tools/skew_bench.py does
    this with a synthetic _rep ordinal) or a full-row hash."""
    S = 8
    c = Catalog(spark, sf_dir)
    fact = c.lineitem.select("l_orderkey", "l_linenumber", "l_returnflag").withColumn(
        "_salt",
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(S)).cast("int"),
    ).drop("l_linenumber")
    build = (
        c.orders.select("o_orderkey", "o_totalprice")
        .withColumn("_salt", F.explode(F.array(*[F.lit(i) for i in range(S)])))
    )
    joined = fact.join(
        build,
        (fact.l_orderkey == build.o_orderkey) & (fact._salt == build._salt),
    )
    return joined.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


# J10b — AQE runtime skew-join evidence (the automatic half of J10) -------------
#
# j10 proves MANUAL salting; j10b proves the knob a user turns FIRST at
# 100x scale: Spark's own OptimizeSkewedJoin splitting the hot reduce
# partition at runtime (and duplicating the matching build rows), with
# the skew-split marker visible in the final adaptive plan — the
# s22-for-skew. The oracle is the plain unskewed join law, so driver
# equality is the proof that the runtime split is semantics-preserving,
# exactly j10's oracle discipline.
#
# Two locality accommodations, both documented because each vanishes at
# real scale:
# - thresholds floored on an ISOLATED spark.newSession() (the s22
#   bloom-gate pattern): local shuffle partitions are KB-scale, far
#   under the 256 MB skewedPartitionThresholdInBytes / 64 MB advisory
#   defaults that gate the rule on a real cluster.
# - a round-robin repartition ahead of the join: the sf0.01 parquet is
#   a single row group, so the join shuffle would otherwise have ONE
#   mapper holding every hot-key byte — and a skewed partition is split
#   BY MAPPER RANGES, so a single-mapper partition is unsplittable
#   (verified against ShufflePartitionsUtil.createSkewPartitionSpecs:
#   per-mapper sizes [0,...,425995,...,0] -> one group -> no split).
#   A real scan has thousands of mappers; the repartition stands in for
#   that map-side fan-out, nothing more.

_J10B_HOT_KEY = 32  # dense o_orderkey domain: present at every SF

_J10B_ORACLE = f"""
SELECT o.o_orderpriority AS o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       round(round(sum(l.l_extendedprice * (1 - l.l_discount)), 6), 2) AS revenue
FROM (SELECT CASE WHEN l_orderkey % 4 = 0 THEN l_orderkey
             ELSE {_J10B_HOT_KEY} END AS k,
             l_extendedprice, l_discount
      FROM lineitem) l
JOIN orders o ON o.o_orderkey = l.k
GROUP BY o.o_orderpriority
ORDER BY o_orderpriority
"""


def j10b_skew_session(spark: SparkSession) -> SparkSession:
    """Isolated session with the skew-join thresholds floored to local
    shuffle sizes (defaults: threshold 256 MB, advisory 64 MB — correct
    on a real cluster, unreachable at local SF). ``newSession`` so the
    floored values never leak into other queries' plans; the
    skewedPartitionFactor stays at its 5.0 default — the planted skew
    clears it honestly (hot:median is ~70x at sf0.01)."""
    s2 = spark.newSession()
    s2.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
    )
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    # orders would broadcast at local SF, erasing the SMJ the rule
    # rewrites; at 100 TB both sides are fact-sized and SMJ is real
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    return s2


@register("j10b_aqe_skew_join", oracle=_J10B_ORACLE, tags=("J10",))
def j10b_aqe_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-skewed fact-fact join left to AQE: ~75% of lineitem keys
    remap to one hot order, the join runs as an unhinted sort-merge
    join, and OptimizeSkewedJoin splits the hot partition at runtime
    (``SortMergeJoin(skew=true)`` in the final adaptive plan —
    asserted by tests/test_plan_shapes.py via
    :func:`j10b_skew_evidence`). Values must equal the plain join
    law, which is what the oracle checks."""
    s2 = j10b_skew_session(spark)
    c = Catalog(s2, sf_dir)
    fact = c.lineitem.select(
        F.when(F.col("l_orderkey") % 4 == 0, F.col("l_orderkey"))
        .otherwise(F.lit(_J10B_HOT_KEY))
        .alias("k"),
        "l_extendedprice",
        "l_discount",
    ).repartition(16)  # map-side fan-out stand-in; see block comment
    orders = c.orders.select("o_orderkey", "o_orderpriority")
    joined = fact.join(orders, fact.k == orders.o_orderkey)
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            # two-stage snap: partial-sum order must not straddle 2dp
            F.round(
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                    6,
                ),
                2,
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


def j10b_skew_evidence(spark: SparkSession, sf_dir: str) -> str:
    """Execute the j10b join and return the FINAL adaptive plan string —
    the runtime evidence (AQE plans are provisional until an action
    runs; only the executed Dataset's own queryExecution carries the
    ``skew=true`` rewrite)."""
    df = j10b_aqe_skew_join(spark, sf_dir)
    df.collect()  # 5 priority rows — the action that finalizes AQE
    return df._jdf.queryExecution().executedPlan().toString()


# J11 — bucketed co-located join (zero-shuffle fact-fact join) ------------------

_J11_ORACLE = """
SELECT o.o_orderpriority,
       count(*)                                              AS n_items,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


def j11_write_bucketed_tables(
    spark: SparkSession, sf_dir: str, n_buckets: int = 8, base: str | None = None
) -> None:
    """The one-off ingest leg of the bucketed join: write both fact
    tables ``bucketBy(n_buckets, key).sortBy(key)`` as external tables.
    This is the amortized cost — it runs once per load, and every
    subsequent join of the two tables on the bucket key is shuffle-free.
    Benchmarked separately from the join leg (bench.py j11_write vs
    j11_join) so the shuffle-free claim is measurable round-over-round.
    ``base`` lets a caller that re-runs the ingest (bench.py's sweeps)
    reuse ONE scratch location — overwrite mode replaces the
    tables in place instead of retaining a full copy per run."""
    from concurrent.futures import ThreadPoolExecutor

    c = Catalog(spark, sf_dir)
    base = base or scratch_dir(prefix="ssn_bucketed_")

    def _write_lineitem():
        (
            c.lineitem.select("l_orderkey", "l_extendedprice", "l_discount")
            .write.bucketBy(n_buckets, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", f"{base}/lineitem_b")
            .mode("overwrite")
            .saveAsTable("ssn_lineitem_bucketed")
        )

    def _write_orders():
        (
            c.orders.select("o_orderkey", "o_orderpriority")
            .write.bucketBy(n_buckets, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", f"{base}/orders_b")
            .mode("overwrite")
            .saveAsTable("ssn_orders_bucketed")
        )

    # The two table writes are independent Spark jobs — submit them
    # concurrently (Spark's scheduler interleaves their stages across the
    # executor pool) so ingest wall-clock is ~max, not sum, of the two.
    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [pool.submit(_write_lineitem), pool.submit(_write_orders)]
        for f in futures:
            f.result()


def j11_join_bucketed(spark: SparkSession) -> DataFrame:
    """The repeated leg: sort-merge join of the two pre-bucketed tables —
    NO Exchange and no Sort on either input (plan-asserted in
    tests/test_lake.py::test_bucketed_join_has_no_exchange_below_smj)."""
    li = spark.table("ssn_lineitem_bucketed")
    od = spark.table("ssn_orders_bucketed")
    joined = li.hint("merge").join(od, li.l_orderkey == od.o_orderkey)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


@register("j11_bucketed_join", oracle=_J11_ORACLE, tags=("J11",))
def j11_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located fact-fact join: both sides are written
    ``bucketBy(N, key).sortBy(key)`` so the sort-merge join reads
    pre-partitioned, pre-sorted buckets and needs NO Exchange (and no
    sort) on either input — the single most effective shuffle eliminator
    for a join that repeats nightly at 100 TB. The bucketed write costs
    one shuffle ONCE at ingest; every subsequent join of the two tables
    on the bucket key is then shuffle-free. Locally the tables land in a
    temp dir as external tables;
    ``tests/test_lake.py::test_bucketed_join_has_no_exchange_below_smj``
    asserts the physical plan has no Exchange below the SortMergeJoin."""
    j11_write_bucketed_tables(spark, sf_dir)
    return j11_join_bucketed(spark)


# J12 — interval join via grid bucketing --------------------------------------
#
# The non-equi join J7 can't scale: there, one side is O(1) rows and
# broadcasts, so the inequality runs as a nested loop. When BOTH sides
# are big (event windows x event instants), the nested loop is O(n*m)
# and the broadcast impossible — the standard fix is a TIME GRID: chop
# each interval into the fixed-width cells it covers, map each instant
# to its one cell, equi-join on the cell id, and re-check the exact
# predicate. The join becomes a plain shuffle equi-join (both sides
# big, both partitioned by cell), cost ~ cells-per-interval x rows,
# never all-pairs. Each qualifying (window, instant) pair meets in
# exactly ONE cell (the instant's), so the grid introduces no
# duplicates and needs no dedup pass. The oracle deliberately uses the
# naive range join — agreement IS the proof that the grid rewrite is
# semantics-preserving.

_J12_WINDOW_US = 300_000_000  # 5-minute windows on a 5-minute grid

_J12_ORACLE = f"""
WITH e AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
),
a AS (
  SELECT event_id AS err_id, epoch_us(ts) AS s_us
  FROM e WHERE event_type = 'error'
),
b AS (
  SELECT event_id AS click_id, epoch_us(ts) AS c_us
  FROM e WHERE event_type = 'click'
),
joined AS (
  SELECT a.err_id, b.c_us - a.s_us AS gap_us
  FROM a JOIN b ON b.c_us >= a.s_us AND b.c_us < a.s_us + {_J12_WINDOW_US}
)
SELECT err_id,
       CAST(count(*) AS BIGINT)        AS n_clicks,
       round(min(gap_us) / 1e6, 3)     AS first_click_gap_sec
FROM joined
GROUP BY err_id
ORDER BY err_id
"""


@register("j12_interval_grid_join", oracle=_J12_ORACLE, tags=("J7",))
def j12_interval_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clicks landing inside the 5-minute window after each error event,
    joined on a time grid: windows explode to their (at most two)
    covering cells, instants map to their one cell, and the join is a
    pure equi-join on the cell id with the exact range predicate
    re-checked after — the scalable form of a both-sides-big interval
    join (plan-gated: no nested loop, no cartesian). Cell math is
    integer (``DIV``) on unix microseconds, so no float boundary can
    misplace an event; windows with zero clicks are absent by
    convention on both sides."""
    e = Catalog(spark, sf_dir).events.select("event_id", "ts", "event_type")
    g = _J12_WINDOW_US
    a = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), F.unix_micros("ts").alias("s_us")
    )
    a_cells = a.select(
        "err_id",
        "s_us",
        F.explode(
            F.expr(f"sequence(s_us DIV {g}, (s_us + {g} - 1) DIV {g})")
        ).alias("cell"),
    )
    b = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.unix_micros("ts").alias("c_us"),
        F.expr(f"unix_micros(ts) DIV {g}").alias("cell"),
    )
    joined = a_cells.join(b, "cell").filter(
        (F.col("c_us") >= F.col("s_us")) & (F.col("c_us") < F.col("s_us") + g)
    )
    return (
        joined.groupBy("err_id")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.round(F.min(F.col("c_us") - F.col("s_us")) / 1e6, 3).alias(
                "first_click_gap_sec"
            ),
        )
        .orderBy("err_id")
    )
