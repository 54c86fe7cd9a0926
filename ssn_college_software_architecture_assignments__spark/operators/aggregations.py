"""Aggregation operators (SURVEY.md §2.4, A1-A8).

Aggregation is [REF-implied] at the reference's validation layer (insert
count checks — /root/reference/README.md:33,106) and driver-mandated for
analytics over ingested tables.

Scale notes (100 TB posture): every groupBy here is a Tungsten hash
aggregate with map-side partial aggregation — one shuffle on the group
keys, no driver-side collection. Group-key cardinality is tiny relative
to input (flags, types, dates), so the shuffle payload is the partial
aggregate map, not the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..registry import register
from ..scratch import persist_scoped

# ---------------------------------------------------------------------------
# Flagship: TPC-H-Q1-style pricing summary (operators S5, P2, P5, A2, O1).
# ---------------------------------------------------------------------------

_Q1_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  round(sum(l_quantity), 2)                                        AS sum_qty,
  round(sum(l_extendedprice), 2)                                   AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
  round(avg(l_quantity), 4)                                        AS avg_qty,
  round(avg(l_extendedprice), 4)                                   AS avg_price,
  round(avg(l_discount), 4)                                        AS avg_disc,
  count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", oracle=_Q1_ORACLE, tags=("A2", "P2", "P5", "O1", "flagship"))
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report: filter -> hash-agg (8 aggregates) -> sort.

    The plan Catalyst produces is the one we want at 100 TB: parquet scan
    with the shipdate predicate pushed down, partial hash aggregation
    map-side, a 4-row shuffle (2 flags x 2 statuses), final agg, sort.
    """
    li = Catalog(spark, sf_dir).lineitem
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# A1 — count validation (the reference's insert-consistency check,
# README.md:33,46,106) -------------------------------------------------------

_A1_ORACLE = """
SELECT count(*)                   AS n_rows,
       count(DISTINCT l_orderkey) AS n_orders,
       count(DISTINCT l_partkey)  AS n_parts
FROM lineitem
"""


@register("a1_count_validate", oracle=_A1_ORACLE, tags=("A1",))
def a1_count_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch row/key counts for insert validation (README.md:33,106)."""
    li = Catalog(spark, sf_dir).lineitem
    return li.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


# A2 — hash groupBy aggregate over events ------------------------------------

_A2_ORACLE = """
SELECT event_type,
       count(*)              AS n,
       round(sum(value), 2)  AS sum_value,
       round(avg(value), 4)  AS avg_value,
       round(min(value), 2)  AS min_value,
       round(max(value), 2)  AS max_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
"""


@register("a2_groupby_agg", oracle=_A2_ORACLE, tags=("A2",))
def a2_groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate hash aggregation per event type."""
    ev = Catalog(spark, sf_dir).events
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.min("value"), 2).alias("min_value"),
        F.round(F.max("value"), 2).alias("max_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


# A3 — distinct --------------------------------------------------------------

_A3_ORACLE = """
SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
"""


@register("a3_distinct", oracle=_A3_ORACLE, tags=("A3",))
def a3_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-domain audit: distinct is a groupBy on all columns (map-side
    partial dedup, then a tiny shuffle)."""
    return Catalog(spark, sf_dir).lineitem.select(
        "l_returnflag", "l_linestatus"
    ).distinct()


# A4 — approximate count distinct (HLL++) -------------------------------------

_A4_ORACLE = """
SELECT l_returnflag,
       count(DISTINCT l_orderkey) AS exact_orders,
       TRUE                       AS within_bound
FROM lineitem
GROUP BY l_returnflag
"""


@register("a4_approx_count_distinct", oracle=_A4_ORACLE, tags=("A4",))
def a4_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cardinality estimation at scale: HyperLogLog++ sketches merge
    associatively across partitions — the 100 TB answer to COUNT(DISTINCT).

    The estimate itself is approximate, so the oracle-checkable contract is
    the HLL++ error bound: the query emits the exact count plus a boolean
    asserting |approx - exact| <= 5 * rsd * exact (rsd=0.01), and the
    DuckDB twin asserts that boolean is TRUE for every group. A sketch
    regression flips the boolean and hash-mismatches.

    The sketch and the exact count run as SEPARATE aggregations joined on
    the 3-row group key: mixed into one agg, Catalyst's distinct rewrite
    evaluates the HLL++ partial over the (l_returnflag, l_orderkey)
    pre-aggregation — one ~13 KB rsd=0.01 sketch buffer PER DISTINCT
    ORDERKEY through the shuffle (the plan's Results [1641] row), ~2 GB of
    buffer traffic at sf0.1 and unbounded at 100 TB. Split, the sketch
    partials hold one buffer per group per task and the shuffle carries 3
    rows. HLL register merge is max-per-register — associative and
    commutative — so the estimate (and the within_bound boolean) is
    bit-identical under either grouping."""
    li = Catalog(spark, sf_dir).lineitem
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders")
    )
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders")
    )
    return (
        exact.join(F.broadcast(approx), "l_returnflag")
        .select(
            "l_returnflag",
            "exact_orders",
            (
                F.abs(F.col("approx_orders") - F.col("exact_orders"))
                <= 0.05 * F.col("exact_orders")
            ).alias("within_bound"),
        )
    )


# A5 — rollup / grouping sets ---------------------------------------------------

_A5_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       count(*)                  AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@register("a5_rollup", oracle=_A5_ORACLE, tags=("A5",))
def a5_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity totals in one pass (Expand + single shuffle)."""
    li = Catalog(spark, sf_dir).lineitem
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n"),
    )


_A5B_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@register("a5_cube", oracle=_A5B_ORACLE, tags=("A5",))
def a5_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube over the two flag dimensions."""
    li = Catalog(spark, sf_dir).lineitem
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


# A6 — percentiles ----------------------------------------------------------------

_A6_ORACLE = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90
FROM events
GROUP BY event_type
"""


@register("a6_percentiles", oracle=_A6_ORACLE, tags=("A6",))
def a6_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (both engines use linear
    interpolation). At 100 TB prefer `percentile_approx` (a mergeable
    sketch); the exact variant is the oracle-checkable baseline."""
    ev = Catalog(spark, sf_dir).events
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
    )


_A6B_ORACLE = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50_exact,
       TRUE AS p50_within_bound,
       TRUE AS p90_within_bound
FROM events
GROUP BY event_type
"""


@register("a6_percentile_approx", oracle=_A6B_ORACLE, tags=("A6",))
def a6_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles (mergeable sketch) — the scale path.

    The sketch value is approximate, so the oracle-checkable contract is
    its rank-error bound: with accuracy=10000 the returned element must lie
    within +-0.02 of the target rank; the query brackets each approx value
    between the exact 48th/52nd (88th/92nd) percentiles and the DuckDB twin
    asserts the booleans. The exact p50 rides along as a value column."""
    ev = Catalog(spark, sf_dir).events
    agg = ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 10000).alias("p50_approx"),
        F.percentile_approx("value", 0.9, 10000).alias("p90_approx"),
        F.expr("percentile(value, 0.48)").alias("_p48"),
        F.expr("percentile(value, 0.52)").alias("_p52"),
        F.expr("percentile(value, 0.88)").alias("_p88"),
        F.expr("percentile(value, 0.92)").alias("_p92"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50_exact"),
    )
    return agg.select(
        "event_type",
        "p50_exact",
        F.col("p50_approx").between(F.col("_p48"), F.col("_p52")).alias(
            "p50_within_bound"
        ),
        F.col("p90_approx").between(F.col("_p88"), F.col("_p92")).alias(
            "p90_within_bound"
        ),
    )


# A7 — collect / re-nest -------------------------------------------------------------

_A7_ORACLE = """
SELECT n_nationkey,
       array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
       count(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_nationkey
"""


@register("a7_collect_agg", oracle=_A7_ORACLE, tags=("A7",))
def a7_collect_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-nest flat rows into per-key collections (document sinks want
    nested docs — README.md:22). Sorted + joined for a deterministic
    oracle comparison."""
    c = Catalog(spark, sf_dir)
    return (
        c.customer.join(F.broadcast(c.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_nationkey")
        .agg(
            F.array_join(F.sort_array(F.collect_set("c_mktsegment")), ",").alias(
                "segments"
            ),
            F.count("*").alias("n_customers"),
        )
    )


# A8 — pivot ----------------------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_A8_ORACLE = """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d')             AS day,
       count(*) FILTER (WHERE event_type = 'click')    AS click,
       count(*) FILTER (WHERE event_type = 'error')    AS error,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       count(*) FILTER (WHERE event_type = 'signup')   AS signup,
       count(*) FILTER (WHERE event_type = 'view')     AS view
FROM events
GROUP BY 1
"""


@register("a8_pivot", oracle=_A8_ORACLE, tags=("A8",))
def a8_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide audit matrix: day x event_type counts. Pivot values are
    pinned explicitly — with them, Spark skips the extra distinct-values
    job and the plan is a single aggregation."""
    ev = Catalog(spark, sf_dir).events
    pivoted = (
        ev.select(
            F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .groupBy("day")
        .pivot("event_type", _EVENT_TYPES)
        .count()
    )
    return pivoted.na.fill(0, _EVENT_TYPES)


# A9 — key-skew profile (the pre-join diagnostic for salting decisions) --------

_A9_ORACLE = """
WITH k AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
SELECT count(*)                                   AS n_keys,
       CAST(sum(n) AS BIGINT)                     AS total_rows,
       max(n)                                     AS max_per_key,
       round(avg(n), 4)                           AS avg_per_key,
       round(CAST(percentile_cont(0.5) WITHIN GROUP (ORDER BY n) AS DOUBLE), 4)
                                                  AS p50_per_key,
       round(CAST(percentile_cont(0.99) WITHIN GROUP (ORDER BY n) AS DOUBLE), 4)
                                                  AS p99_per_key,
       round(max(n) / avg(n), 4)                  AS skew_ratio
FROM k
"""


@register("a9_key_skew_profile", oracle=_A9_ORACLE, tags=("A9",))
def a9_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic: the distribution of per-key row counts for a
    prospective join/agg key (events.user_id). ``skew_ratio`` (hottest key
    vs mean) is the number that decides between a plain shuffle, AQE skew
    splitting, and manual salting (J10) — you run THIS before shuffling
    100 TB on a key you haven't profiled. Shape: two aggregations, the
    first keyed on the profiled key (uniform by definition of profiling
    it), the second a single-row reduce over one count per key — the
    second stage's input is |keys| rows, not |rows|."""
    ev = Catalog(spark, sf_dir).events
    per_key = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    return per_key.agg(
        F.count("*").alias("n_keys"),
        F.sum("n").alias("total_rows"),
        F.max("n").alias("max_per_key"),
        F.round(F.avg("n"), 4).alias("avg_per_key"),
        F.round(F.expr("percentile(n, 0.5)"), 4).alias("p50_per_key"),
        F.round(F.expr("percentile(n, 0.99)"), 4).alias("p99_per_key"),
        F.round(F.max("n") / F.avg("n"), 4).alias("skew_ratio"),
    )


# A10 — statistical aggregates -------------------------------------------------

_A10_ORACLE = """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 6)       AS corr_qty_price,
       round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
       round(stddev_samp(l_quantity), 6)                 AS stddev_qty,
       round(var_samp(l_quantity), 6)                    AS var_qty,
       round((sum(pow(l_quantity, 3))/count(*)
              - 3*avg(l_quantity)*sum(pow(l_quantity, 2))/count(*)
              + 2*pow(avg(l_quantity), 3)) / pow(stddev_pop(l_quantity), 3), 6)
           AS skewness_qty,
       round((sum(pow(l_quantity, 4))/count(*)
              - 4*avg(l_quantity)*sum(pow(l_quantity, 3))/count(*)
              + 6*pow(avg(l_quantity), 2)*sum(pow(l_quantity, 2))/count(*)
              - 3*pow(avg(l_quantity), 4)) / pow(stddev_pop(l_quantity), 4) - 3, 6)
           AS kurtosis_qty
FROM lineitem GROUP BY l_returnflag
"""


@register("a10_stats_agg", oracle=_A10_ORACLE, tags=("A10",))
def a10_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family per group: correlation, covariance,
    dispersion, and the 3rd/4th standardized moments. All are single-pass
    partial-aggregatable JVM aggregates (Spark maintains running moment
    sketches per partition and merges them) — one shuffle of one small
    state row per (group, agg), identical shape at any scale. The DuckDB
    oracle spells out Spark's population-moment skewness/kurtosis
    definitions explicitly because DuckDB's natives use the
    sample-adjusted estimator (verified numerically: population formulas
    match Spark to ~1e-11). The oracle uses the raw-moment expansion so
    it stays one aggregation pass — safe here because l_quantity is
    small-magnitude; with large means, prefer the centered two-pass
    form."""
    li = Catalog(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "covar_qty_price"
        ),
        F.round(F.stddev_samp("l_quantity"), 6).alias("stddev_qty"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.skewness("l_quantity"), 6).alias("skewness_qty"),
        F.round(F.kurtosis("l_quantity"), 6).alias("kurtosis_qty"),
    )


# A12 — mergeable-sketch rollup (HLL union across groups) ---------------------

_A12_ORACLE = """
WITH per AS (
  SELECT event_type AS grp, count(DISTINCT user_id) AS exact_users
  FROM events GROUP BY event_type
),
tot AS (
  SELECT 'TOTAL' AS grp, count(DISTINCT user_id) AS exact_users FROM events
)
SELECT grp, exact_users, TRUE AS within_bound
FROM (SELECT * FROM per UNION ALL SELECT * FROM tot)
ORDER BY grp
"""


@register("a12_hll_sketch_rollup", oracle=_A12_ORACLE, tags=("A4",))
def a12_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property that makes sketches THE 100 TB distinct-count
    answer, exercised explicitly: per-group Datasketches HLL sketches
    (``hll_sketch_agg``) are MERGED with ``hll_union_agg`` into the
    global estimate — no rescan of the data, the two-level aggregation
    a 1000-executor rollup performs. Emits each group's exact count
    plus a boolean asserting the (per-group AND merged) estimates sit
    within the sketch error bound, the a4 oracle contract; the exact
    legs exist only as oracle scaffolding — production keeps the
    sketch path alone (one scan, mergeable partials)."""
    ev = Catalog(spark, sf_dir).events
    # Sketch and exact count in SEPARATE aggregations joined on the
    # groups-sized key (the a4 lesson): mixed into one agg, the distinct
    # rewrite evaluates the sketch partial over the (event_type, user_id)
    # pre-aggregation — one sketch buffer per DISTINCT USER through the
    # shuffle instead of one per group. Sketch updates are
    # order-independent, so the estimates (and booleans) are identical.
    sketches = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    per = sketches.join(
        F.broadcast(
            ev.groupBy("event_type").agg(
                F.countDistinct("user_id").alias("exact_users")
            )
        ),
        "event_type",
    )
    bound = lambda est, exact: (  # noqa: E731
        F.abs(est - exact) <= 0.1 * exact
    )
    per_rows = per.select(
        F.col("event_type").alias("grp"),
        "exact_users",
        bound(F.hll_sketch_estimate("sk"), F.col("exact_users")).alias(
            "within_bound"
        ),
    )
    merged = sketches.agg(F.hll_union_agg("sk").alias("sk"))
    total_exact = ev.agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    total_row = (
        merged.crossJoin(total_exact)
        .select(
            F.lit("TOTAL").alias("grp"),
            "exact_users",
            bound(
                F.hll_sketch_estimate("sk"), F.col("exact_users")
            ).alias("within_bound"),
        )
    )
    return per_rows.unionAll(total_row).orderBy("grp")


# A13 — heavy hitters via partition-local Misra-Gries screen ------------------
#
# The third sketch family next to HLL (a4/a12) and KLL (a6): frequent
# items. The distributed form: each partition emits ONLY the tokens
# whose local count exceeds N_p/(K+1) — the Misra-Gries survivor set,
# provably at most K items per partition with no sort, and nothing
# else; the global token total N comes from a separate column-pruned
# no-explode scan (see the in-function comment). By pigeonhole, any token with
# GLOBAL frequency > N/(K+1) must exceed the threshold in at least one
# partition, so the union of survivors is a guaranteed superset of the
# true heavy hitters; joining exact counts back over that tiny
# broadcast set and re-applying the global threshold yields EXACTLY
# the true heavy-hitter set — deterministic for every partitioning,
# which is what makes a full-value oracle possible for a sketch
# algorithm. Scale shape: the screen is map-only (Arrow-batched, at
# most K rows out per partition) and runs ONCE; after it the corpus
# pays one broadcast-semi-joined count over the candidates plus a
# column-pruned no-explode scan for the token total.

_A13_K = 31  # heavy hitter := freq > N / (K+1) = N/32


def _mg_screen(batches):
    """Per-partition Misra-Gries survivor screen: exact local counts
    folded across Arrow batches (vocabulary-bounded state), then emit
    only the survivors. The iterator form means the fold state lives
    once per PARTITION, not per batch."""
    from collections import Counter

    import pandas as pd

    counts: Counter = Counter()
    total = 0
    for pdf in batches:
        vc = pdf["token"].value_counts()
        counts.update(vc.to_dict())
        total += int(vc.sum())
    survivors = [
        tok for tok, c in counts.items() if c * (_A13_K + 1) > total
    ]
    yield pd.DataFrame({"token": survivors})


_A13_ORACLE = f"""
WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
n AS (SELECT count(*) AS n FROM t)
SELECT token,
       count(*)                                  AS n_occurrences,
       round(count(*) / CAST(n.n AS DOUBLE), 6)  AS freq_frac
FROM t, n
GROUP BY token, n.n
HAVING count(*) * {_A13_K + 1} > n.n
ORDER BY token
"""


@register("a13_heavy_hitters", oracle=_A13_ORACLE, tags=("A4", "X4"))
def a13_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokens occurring more than N/32 of the time, found by the
    map-only Misra-Gries screen + exact-count confirmation over the
    broadcast candidate set. The pigeonhole superset guarantee (and its
    independence from partitioning) is pinned by a hypothesis property
    test against adversarial splits."""
    from ..catalog import ensure_min_partitions

    docs = Catalog(spark, sf_dir).documents
    toks = ensure_min_partitions(docs).select(
        F.explode(F.split("text", " ")).alias("token")
    )
    # The screen DataFrame is referenced exactly once — a second
    # reference (e.g. deriving N from marker rows inside it) would make
    # Catalyst plan and EXECUTE the whole explode+screen pass twice
    # (subtrees are never shared). N instead comes from a column-pruned
    # scan with no explode: sum of per-document token counts.
    candidates = toks.mapInPandas(_mg_screen, "token string").distinct()
    total = docs.agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n")
    )
    exact = (
        toks.join(F.broadcast(candidates), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("n_occurrences") * (_A13_K + 1) > F.col("n"))
        .select(
            "token",
            "n_occurrences",
            F.round(F.col("n_occurrences") / F.col("n").cast("double"), 6).alias(
                "freq_frac"
            ),
        )
        .orderBy("token")
    )


# A14 — Count-Min Sketch frequency estimation ---------------------------------
#
# The fourth sketch family: point-frequency estimates (Cormode &
# Muthukrishnan 2005). d=4 rows of w=16 counters — w is sized BELOW
# the fixture's 31-token vocabulary so bucket collisions genuinely
# occur and the min-of-rows estimate does real work; every token
# increments one counter per row (bucket = portable 60-bit md5 hash of
# "token#row" mod w — the engines share the hash, so the SKETCH ITSELF
# is cross-engine identical, not just its guarantees), and the
# estimate for a token is the MIN of its d counters. CMS never
# underestimates (every counter the token touches holds its true count
# plus non-negative collision mass), so est >= true is a hard law —
# emitted as a column and pytest-pinned alongside the eps-delta bound.
#
# Scale shape: the sketch build is ONE map-side-combined
# groupBy(row,bucket).count() whose result is d*w rows
# regardless of corpus size — the mergeable-partials property that
# makes CMS the 100 TB frequency answer (partition sketches ADD). The
# probe side joins the term list being asked about (here the fixture's
# bounded vocabulary; in production whatever watchlist the user
# supplies) against the broadcast d*w-row sketch — the sketch itself
# never holds full-vocab state, which is its entire reason to exist.

_A14_D = 4  # sketch rows (independent hash functions)
_A14_W = 16  # counters per row (< fixture vocab => real collisions)


def _a14_bucket_sql(tok: str, row: str) -> str:
    """DuckDB bucket expression from the same md5-60bit law as Spark."""
    return (
        f"CAST('0x' || substr(md5({tok} || '#' || CAST({row} AS VARCHAR)), 1, 15)"
        f" AS BIGINT) % {_A14_W}"
    )


_A14_ORACLE = f"""
WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
occ AS (
  SELECT token, r.row AS row, {_a14_bucket_sql('token', 'r.row')} AS bucket
  FROM t CROSS JOIN (SELECT unnest(range({_A14_D})) AS row) r
),
sketch AS (
  SELECT row, bucket, count(*) AS cnt
  FROM occ GROUP BY row, bucket
),
truth AS (
  SELECT token, count(*) AS true_n FROM t GROUP BY token
),
probes AS (SELECT token, true_n FROM truth),
est AS (
  SELECT p.token, p.true_n, min(s.cnt) AS est_n
  FROM probes p
  CROSS JOIN (SELECT unnest(range({_A14_D})) AS row) r
  JOIN sketch s
    ON s.row = r.row AND s.bucket = {_a14_bucket_sql('p.token', 'r.row')}
  GROUP BY p.token, p.true_n
)
SELECT token,
       CAST(true_n AS BIGINT) AS true_n,
       CAST(est_n AS BIGINT) AS est_n,
       est_n >= true_n AS never_under
FROM est
ORDER BY token
"""


@register("a14_countmin_sketch", oracle=_A14_ORACLE, tags=("A4", "X4"))
def a14_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point-frequency estimates for the probe vocabulary:
    true count, sketch estimate, and the never-underestimates law.
    The 4x16 sketch (deliberately collision-heavy) is bit-identical
    across engines (shared portable hash), so the estimates — not just
    their bounds — oracle-compare exactly."""
    from ..catalog import ensure_min_partitions

    from .dedup import _md5h60

    docs = Catalog(spark, sf_dir).documents
    toks = ensure_min_partitions(docs).select(
        F.explode(F.split("text", " ")).alias("token")
    )
    rows = F.sequence(F.lit(0), F.lit(_A14_D - 1))

    def bucket(tok, row):
        return F.pmod(
            _md5h60(F.concat(tok, F.lit("#"), row.cast("string"))),
            F.lit(_A14_W),
        )

    # ONE explode carries all d rows; each occurrence contributes once
    # per row, so count(*) per (row, bucket) IS that row's counter
    occ = toks.select(
        "token", F.explode(rows).alias("row")
    ).select("row", bucket(F.col("token"), F.col("row")).alias("bucket"))
    sketch = occ.groupBy("row", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    truth = toks.groupBy("token").agg(F.count(F.lit(1)).alias("true_n"))
    probes = truth
    probe_rows = probes.select(
        "token", "true_n", F.explode(rows).alias("row")
    ).select(
        "token", "true_n", "row",
        bucket(F.col("token"), F.col("row")).alias("bucket"),
    )
    est = (
        probe_rows.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy("token", "true_n")
        .agg(F.min("cnt").alias("est_n"))
    )
    return est.select(
        "token",
        F.col("true_n").cast("long").alias("true_n"),
        F.col("est_n").cast("long").alias("est_n"),
        (F.col("est_n") >= F.col("true_n")).alias("never_under"),
    ).orderBy("token")


# A15 — grouped MODE with a deterministic tie law ------------------------------
#
# The most-frequent-value-per-group aggregate (dashboard staple; also
# the label-vote step of weak supervision). Both engines' native
# mode()/max_by() leave ties IMPLEMENTATION-DEFINED — Spark's mode
# picks an arbitrary winner per task order, which would be
# run-to-run nondeterministic and can never oracle-compare. The
# portable form: count per (group, value) — one map-combined hash-agg —
# then per-group top-1 under the DECLARED order (count desc, value
# asc). Spark executes that window as WindowGroupLimit (each map task
# forwards one candidate per group), so the tie law costs nothing at
# 100 TB; the fixture's uniform priorities make ties the COMMON case,
# so the law is exercised on nearly every group, not just in theory.

_A15_ORACLE = """
WITH c AS (
  SELECT c_mktsegment AS segment, o_orderpriority AS priority,
         count(*) AS n
  FROM customer JOIN orders ON o_custkey = c_custkey
  GROUP BY 1, 2
)
SELECT segment, priority AS mode_priority, CAST(n AS BIGINT) AS n_occurrences
FROM (
  SELECT segment, priority, n,
         row_number() OVER (PARTITION BY segment
                            ORDER BY n DESC, priority NULLS LAST) AS rn
  FROM c
) WHERE rn = 1
ORDER BY segment
"""


@register("a15_grouped_mode", oracle=_A15_ORACLE, tags=("A2", "A5"))
def a15_grouped_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent order priority per market segment under the
    declared (count desc, value asc) tie law — the deterministic,
    oracle-comparable form of mode()/max_by()."""
    cat = Catalog(spark, sf_dir)
    c = (
        cat.customer.join(
            cat.orders, F.col("o_custkey") == F.col("c_custkey")
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # the tie law pins NULL ordering too: Spark asc is NULLS FIRST,
    # DuckDB asc is NULLS LAST — a NULL priority tied for the top count
    # would otherwise pick different winners per engine
    w = W.partitionBy("segment").orderBy(
        F.col("n").desc(), F.col("priority").asc_nulls_last()
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "segment",
            F.col("priority").alias("mode_priority"),
            F.col("n").cast("long").alias("n_occurrences"),
        )
        .orderBy("segment")
    )


# A16 — 2-D skew histogram: (key-size quantile bucket x reducer partition) -----
#
# a9 answers "is this key skewed" with one row of summary stats. The
# decision a 100 TB job actually makes before shuffling is JOINT: how
# do the heavy keys distribute across the prospective reducer
# partitions — because one partition that collects several hot keys is
# what AQE skew-split or manual salting (J10) exists to fix, and the
# fix is chosen per (size class x partition), not per key. This
# operator emits that evidence table: per-key row/byte loads, bucketed
# by exact quantile cutpoints of the per-key row count (the w4b
# no-window machinery from functions.bucketing — percentile_approx in
# exact mode == DuckDB quantile_disc, map-side HOF assignment), crossed
# with the key's simulated reducer under the portable md5 hash law
# (a14's _md5h60, so both engines agree on the assignment; a real run
# substitutes Spark's own hashpartitioning — same dataflow).
#
# Scale shape: one aggregate keyed on the profiled key (uniform by
# definition), a 1-row broadcast of the cutpoints, then a second
# aggregate over |keys| rows into |buckets x partitions| rows. NO
# Window node anywhere (plan-gated) and nothing table-sized crosses
# the second shuffle.

_A16_PROBS = (0.25, 0.5, 0.75, 0.9, 0.99)
_A16_PARTS = 16
# fixed per-row width estimate: 8B each for event_id/ts/user_id/value
# plus the two variable-width string payloads
_A16_FIXED_BYTES = 32


def _a16_oracle() -> str:
    from ..functions.bucketing import bucket_sql, cuts_sql

    return f"""
WITH per_key AS (
  SELECT user_id,
         count(*) AS n_rows,
         CAST(sum({_A16_FIXED_BYTES} + strlen(event_type) + strlen(props))
              AS BIGINT) AS est_bytes
  FROM events GROUP BY user_id
),
c AS (SELECT {cuts_sql("n_rows", _A16_PROBS)} AS cuts FROM per_key),
assigned AS (
  SELECT {bucket_sql("n_rows")} AS size_bucket,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
           % {_A16_PARTS} AS partition_id,
         n_rows, est_bytes
  FROM per_key, c
)
SELECT size_bucket, partition_id,
       CAST(count(*) AS BIGINT)    AS n_keys,
       CAST(sum(n_rows) AS BIGINT) AS n_rows,
       CAST(sum(est_bytes) AS BIGINT) AS est_bytes,
       CAST(max(n_rows) AS BIGINT) AS max_rows_per_key
FROM assigned
GROUP BY size_bucket, partition_id
ORDER BY size_bucket, partition_id
"""


@register("a16_skew_histogram_2d", oracle=_a16_oracle(), tags=("A9", "A6"))
def a16_skew_histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-shuffle sizing evidence: per-key loads for a prospective
    shuffle key (events.user_id) bucketed by exact row-count quantiles
    and crossed with the key's simulated reducer partition — the
    (size class x partition) table that decides between a plain
    shuffle, AQE skew splitting, and salting."""
    from .dedup import _md5h60
    from ..functions.bucketing import with_range_bucket

    ev = Catalog(spark, sf_dir).events
    per_key = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.lit(_A16_FIXED_BYTES)
            + F.length("event_type")
            + F.length("props")
        )
        .cast("long")
        .alias("est_bytes"),
    )
    # compute the per-key aggregate ONCE: with_range_bucket plans its
    # input twice (cutpoint fold + assignment), and unlike w4b's cheap
    # scan this input is the full events shuffle. persist(), not
    # localCheckpoint(): the cache is lazy (no job at build or explain
    # time) and keeps its lineage, so `explain` still shows the scan and
    # its pushed filters under the InMemoryRelation; an eager checkpoint
    # would run the shuffle at build time and cut the scan from the plan
    per_key = persist_scoped(per_key)
    assigned = with_range_bucket(
        per_key, "n_rows", list(_A16_PROBS), out="size_bucket"
    ).withColumn(
        "partition_id",
        F.pmod(_md5h60(F.col("user_id").cast("string")), F.lit(_A16_PARTS)),
    )
    return (
        assigned.groupBy("size_bucket", "partition_id")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("est_bytes").cast("long").alias("est_bytes"),
            F.max("n_rows").cast("long").alias("max_rows_per_key"),
        )
        .orderBy("size_bucket", "partition_id")
    )


# A8b — unpivot (melt): the inverse reshape of A8 -------------------------------
#
# Pivot's inverse is the other half of the reshape family: the wide
# day x event_type audit matrix melts back to long form with the
# native ``DataFrame.unpivot`` (Spark's Expand-based melt — one pass,
# no join, each input row fans out to |values| rows map-side).
# Round-trip law: unpivot(pivot(T)) equals the dense long-form grid —
# the zero-filled cells pivot materialized become explicit (day, type,
# 0) rows, which is exactly what the oracle's day x type scaffold
# LEFT JOIN produces. The value-column list is generated from
# ``_EVENT_TYPES`` in BOTH engines (one site).

_A8B_ORACLE = f"""
WITH days AS (
  SELECT DISTINCT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day FROM events
),
types AS (
  SELECT unnest([{", ".join(repr(t) for t in _EVENT_TYPES)}]) AS event_type
),
c AS (
  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
         count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT d.day AS day, t.event_type AS event_type,
       CAST(coalesce(c.n, 0) AS BIGINT) AS n
FROM days d
CROSS JOIN types t
LEFT JOIN c ON c.day = d.day AND c.event_type = t.event_type
ORDER BY day, event_type
"""


@register("a8b_unpivot", oracle=_A8B_ORACLE, tags=("A8", "P1"))
def a8b_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt the a8 pivot matrix back to long form with the native
    unpivot (Expand node, map-side fan-out — no join, no shuffle beyond
    the pivot's own aggregate). Proves the reshape family closes:
    unpivot(pivot(T)) == the dense (day, type, n) grid."""
    wide = a8_pivot(spark, sf_dir)
    return wide.unpivot(
        ids=["day"],
        values=_EVENT_TYPES,
        variableColumnName="event_type",
        valueColumnName="n",
    ).orderBy("day", "event_type")


# A17 — exact grouped weighted median ------------------------------------------
#
# The robust-statistics staple the percentile family (A6) doesn't cover:
# the quantity-weighted median price — "the price at which half the
# shipped VOLUME is cheaper" — which an unweighted percentile gets wrong
# whenever quantity correlates with price. Exact and integer-safe: the
# corpus collapses to (group, price-cents) weight sums FIRST (hash-agg,
# map-combined — the shuffle carries distinct prices, not line items),
# then one cumulative window over each group's distinct prices picks the
# lower weighted median as min{v : 2*cumw(v) >= totw} — a pure BIGINT
# comparison, no interpolation, no float.
#
# Scale shape: one map-combined hash-agg corpus pass; the window
# partitions carry a group's DISTINCT price points (bounded by the
# price domain, not row count). At 100 TB the same two stages hold.

_A17_ORACLE = """
WITH pts AS (
  SELECT l_returnflag AS grp,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
         CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS w,
         CAST(count(*) AS BIGINT) AS n
  FROM lineitem
  GROUP BY 1, 2
),
cum AS (
  SELECT grp, cents, w, n,
         sum(w) OVER (PARTITION BY grp ORDER BY cents) AS cumw,
         sum(w) OVER (PARTITION BY grp) AS totw,
         sum(n) OVER (PARTITION BY grp) AS n_rows
  FROM pts
)
SELECT grp AS l_returnflag,
       CAST(n_rows AS BIGINT)        AS n_rows,
       CAST(totw AS BIGINT)          AS total_qty,
       CAST(min(CASE WHEN 2 * cumw >= totw THEN cents END) AS BIGINT)
         AS median_price_cents
FROM cum
GROUP BY grp, n_rows, totw
ORDER BY l_returnflag
"""


@register("a17_weighted_median", oracle=_A17_ORACLE, tags=("A6",))
def a17_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median extended price per return flag:
    collapse to distinct price points with weight sums, cumulate over
    the price order, and take the lower weighted median
    min{v : 2*cumw(v) >= totw} — BIGINT comparisons end to end."""
    li = Catalog(spark, sf_dir).lineitem
    pts = (
        li.select(
            F.col("l_returnflag").alias("grp"),
            F.round(F.col("l_extendedprice") * 100, 0)
            .cast("long")
            .alias("cents"),
            F.round("l_quantity", 0).cast("long").alias("q"),
        )
        .groupBy("grp", "cents")
        .agg(
            F.sum("q").cast("long").alias("w"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    w_cum = W.partitionBy("grp").orderBy("cents")
    w_grp = W.partitionBy("grp")
    cum = pts.select(
        "grp", "cents", "w", "n",
        F.sum("w").over(w_cum).alias("cumw"),
        F.sum("w").over(w_grp).alias("totw"),
        F.sum("n").over(w_grp).alias("n_rows"),
    )
    return (
        cum.groupBy(
            F.col("grp").alias("l_returnflag"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("totw").cast("long").alias("total_qty"),
        )
        .agg(
            F.min(
                F.when(2 * F.col("cumw") >= F.col("totw"), F.col("cents"))
            )
            .cast("long")
            .alias("median_price_cents")
        )
        .orderBy("l_returnflag")
    )


# A18 — exact grouped median absolute deviation (robust spread) ----------------
#
# The robust SPREAD statistic to a17's robust center: MAD = median of
# |x - median(x)|, the filter threshold quality pipelines prefer over
# stddev because one 10M-token outlier document doesn't move it. Both
# medians are the a17 lower-weighted-median law — collapse to distinct
# value points first, cumulate over the value order, pick
# min{v : 2*cumw >= totw} — so the whole statistic is BIGINT
# comparisons end to end: no interpolation, no float, bitwise
# cross-engine. Two passes by necessity (the deviation needs the
# center), each the a17 shape.
#
# Scale shape: two map-combined hash-aggs (corpus -> distinct token
# counts per source; deviations -> distinct |x-med| points) and two
# windows over DISTINCT-VALUE partitions (bounded by the token-count
# domain, not row count). The med table is sources-sized and joins the
# point table broadcast.

_A18_ORACLE = """
WITH pts AS (
  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS v,
         CAST(count(*) AS BIGINT) AS w
  FROM documents GROUP BY 1, 2
),
cum1 AS (
  SELECT source, v, w,
         sum(w) OVER (PARTITION BY source ORDER BY v) AS cumw,
         sum(w) OVER (PARTITION BY source) AS totw
  FROM pts
),
med AS (
  SELECT source, CAST(totw AS BIGINT) AS n_docs,
         CAST(min(CASE WHEN 2 * cumw >= totw THEN v END) AS BIGINT)
           AS median_tokens
  FROM cum1 GROUP BY source, totw
),
dev AS (
  SELECT p.source, abs(p.v - m.median_tokens) AS d,
         CAST(sum(p.w) AS BIGINT) AS w
  FROM pts p JOIN med m USING (source) GROUP BY 1, 2
),
cum2 AS (
  SELECT source, d, w,
         sum(w) OVER (PARTITION BY source ORDER BY d) AS cumw,
         sum(w) OVER (PARTITION BY source) AS totw
  FROM dev
),
mad AS (
  SELECT source,
         CAST(min(CASE WHEN 2 * cumw >= totw THEN d END) AS BIGINT)
           AS mad_tokens
  FROM cum2 GROUP BY source
)
SELECT med.source, med.n_docs, med.median_tokens, mad.mad_tokens
FROM med JOIN mad USING (source)
ORDER BY med.source
"""


@register("a18_grouped_mad", oracle=_A18_ORACLE, tags=("A6",))
def a18_grouped_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source median and median-absolute-deviation of
    document token counts: both statistics by the a17 lower-weighted-
    median law (min{v : 2*cumw >= totw} over distinct value points) —
    BIGINT comparisons end to end, no interpolation. The outlier
    robustness a quality gate wants from its length filter."""
    docs = Catalog(spark, sf_dir).documents

    def lower_median(pts: DataFrame, vcol: str) -> DataFrame:
        w_cum = W.partitionBy("source").orderBy(vcol)
        w_grp = W.partitionBy("source")
        cum = pts.select(
            "source", vcol, "w",
            F.sum("w").over(w_cum).alias("cumw"),
            F.sum("w").over(w_grp).alias("totw"),
        )
        return cum.groupBy("source", "totw").agg(
            F.min(
                F.when(2 * F.col("cumw") >= F.col("totw"), F.col(vcol))
            )
            .cast("long")
            .alias(f"med_{vcol}")
        )

    pts = (
        docs.select(
            "source", F.size(F.split("text", " ")).cast("long").alias("v")
        )
        .groupBy("source", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    med = lower_median(pts, "v").select(
        "source",
        F.col("totw").cast("long").alias("n_docs"),
        F.col("med_v").alias("median_tokens"),
    )
    dev = (
        pts.join(F.broadcast(med.select("source", "median_tokens")), "source")
        .select(
            "source",
            F.abs(F.col("v") - F.col("median_tokens")).alias("d"),
            "w",
        )
        .groupBy("source", "d")
        .agg(F.sum("w").cast("long").alias("w"))
    )
    mad = lower_median(dev, "d").select(
        "source", F.col("med_d").alias("mad_tokens")
    )
    return (
        med.join(mad, "source")
        .select("source", "n_docs", "median_tokens", "mad_tokens")
        .orderBy("source")
    )


# A19 — exact grouped TRIMMED mean (the outlier-robust location the MAD
# spread pairs with) -----------------------------------------------------------
#
# a18 gives the robust SPREAD of per-source token counts; a19 is the
# matching robust LOCATION: the 10%-trimmed mean — drop the
# floor(n/10) smallest and largest values per source (ranked by
# (value, doc_id), the deterministic tie law) and average the rest.
# The mean itself is emitted in integer MICRO-TOKENS
# ((1e6 * sum) div count, BIGINT floor division — no float crosses the
# aggregate boundary), so the oracle match is bitwise. A length filter
# reads (a19 location, a18 spread) the way a z-score filter reads
# (mean, std), but immune to the pathological outliers raw corpora
# carry.
#
# Scale shape: one shuffle on source for the rank window (per-source
# partitions; at 100 TB the key becomes (source, split_bucket) with a
# per-bucket trim, the x6b convention), then a map-combined hash-agg
# back to a sources-sized table.

_A19_TRIM_NUM = 1   # trim floor(n * 1/10) from each end
_A19_TRIM_DEN = 10

_A19_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS v
  FROM documents
),
r AS (
  SELECT source, v,
         row_number() OVER (PARTITION BY source ORDER BY v, doc_id) AS rnk,
         count(*) OVER (PARTITION BY source) AS n
  FROM t
)
SELECT source,
       CAST(min(n) AS BIGINT)                          AS n_docs,
       CAST(min(n) * {_A19_TRIM_NUM} // {_A19_TRIM_DEN} AS BIGINT)
         AS n_trimmed_each_end,
       CAST((1000000 * sum(CASE WHEN rnk > n * {_A19_TRIM_NUM} // {_A19_TRIM_DEN}
                            AND rnk <= n - n * {_A19_TRIM_NUM} // {_A19_TRIM_DEN}
                           THEN v ELSE 0 END))
            // sum(CASE WHEN rnk > n * {_A19_TRIM_NUM} // {_A19_TRIM_DEN}
                     AND rnk <= n - n * {_A19_TRIM_NUM} // {_A19_TRIM_DEN}
                    THEN 1 ELSE 0 END) AS BIGINT)      AS trimmed_mean_micro,
       CAST((1000000 * sum(v)) // min(n) AS BIGINT)    AS mean_micro
FROM r
GROUP BY source
ORDER BY source
"""


def _a19_final_aggs() -> list:
    """The a19 per-source aggregate columns over an (source, v, rnk, n)
    frame — ONE Spark law site shared by the registered a19 (window
    ranking) and its scale-safe twin a19b (range-bucketed ranking), so
    the trim algebra cannot drift between the two."""
    return [
        F.min("n").cast("long").alias("n_docs"),
        F.expr(
            f"CAST(min(n) * {_A19_TRIM_NUM} div {_A19_TRIM_DEN} AS BIGINT)"
        ).alias("n_trimmed_each_end"),
        F.expr(
            f"CAST((1000000 * sum(CASE WHEN rnk > n * {_A19_TRIM_NUM} "
            f"div {_A19_TRIM_DEN} AND rnk <= n - n * {_A19_TRIM_NUM} "
            f"div {_A19_TRIM_DEN} THEN v ELSE 0 END)) div "
            f"sum(CASE WHEN rnk > n * {_A19_TRIM_NUM} div "
            f"{_A19_TRIM_DEN} AND rnk <= n - n * {_A19_TRIM_NUM} div "
            f"{_A19_TRIM_DEN} THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("trimmed_mean_micro"),
        F.expr("CAST((1000000 * sum(v)) div min(n) AS BIGINT)").alias(
            "mean_micro"
        ),
    ]


@register("a19_grouped_trimmed_mean", oracle=_A19_ORACLE, tags=("A6",))
def a19_grouped_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 10%-trimmed mean of per-source token counts in integer
    micro-tokens, next to the raw mean: rank per source by
    (value, doc_id), drop floor(n/10) from each end, average with
    BIGINT floor division — bitwise cross-engine, outlier-immune."""
    docs = Catalog(spark, sf_dir).documents
    t = docs.select(
        "doc_id", "source",
        F.size(F.split("text", " ")).cast("long").alias("v"),
    )
    w = W.partitionBy("source").orderBy("v", "doc_id")
    wc = W.partitionBy("source")
    r = t.select(
        "source", "v",
        F.row_number().over(w).alias("rnk"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    return r.groupBy("source").agg(*_a19_final_aggs()).orderBy("source")


# A20 — exact grouped WINSORIZED mean (clamp the tails a19 drops) --------------
#
# The robust-location twin a19 pairs with: instead of DROPPING the
# floor(n/10) smallest and largest values per source, winsorizing
# CLAMPS them to the surviving boundary values (the rank-(k+1) value
# below, the rank-(n-k) value above) — the estimator a quality
# pipeline uses when every document must keep a weight (mixture /
# importance reweighting) but outliers must not own the average.
# Same deterministic rank law as a19 ((value, doc_id)), same integer
# micro-token emission ((1e6 * winsorized sum) div n, BIGINT floor
# division end to end): the clamped sum is middle-sum + k*lo + k*hi in
# pure BIGINT arithmetic, so the oracle match is bitwise. Emitted next
# to the raw mean and a19's trim count so the three locations (raw,
# trimmed, winsorized) read side by side.
#
# Scale shape: a19's exactly — one shuffle on source for the rank
# window (sub-bucket the key at 100 TB, the x6b convention), then a
# map-combined hash-agg to a sources-sized table; lo/hi are one-row
# CASE picks inside the same aggregate, no extra pass.

_A20_K_NUM = 1   # clamp floor(n * 1/10) at each end (the a19 ratio)
_A20_K_DEN = 10

# the shared per-group k / lo / hi / winsorized-sum algebra — ONE
# f-string site interpolated into BOTH engines (div spelled per engine)
def _a20_exprs(div: str) -> dict[str, str]:
    k = f"min(n) * {_A20_K_NUM} {div} {_A20_K_DEN}"
    krow = f"n * {_A20_K_NUM} {div} {_A20_K_DEN}"
    lo = f"max(CASE WHEN rnk = {krow} + 1 THEN v END)"
    hi = f"max(CASE WHEN rnk = n - {krow} THEN v END)"
    mid = (
        f"sum(CASE WHEN rnk > {krow} AND rnk <= n - {krow} "
        f"THEN v ELSE 0 END)"
    )
    return {
        "k": k,
        "wsum": f"({mid} + ({k}) * ({lo}) + ({k}) * ({hi}))",
    }


_A20_DUCK = _a20_exprs("//")

_A20_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS v
  FROM documents
),
r AS (
  SELECT source, v,
         row_number() OVER (PARTITION BY source ORDER BY v, doc_id) AS rnk,
         count(*) OVER (PARTITION BY source) AS n
  FROM t
)
SELECT source,
       CAST(min(n) AS BIGINT)                           AS n_docs,
       CAST({_A20_DUCK["k"]} AS BIGINT)                 AS n_clamped_each_end,
       CAST((1000000 * {_A20_DUCK["wsum"]}) // min(n) AS BIGINT)
         AS winsorized_mean_micro,
       CAST((1000000 * sum(v)) // min(n) AS BIGINT)     AS mean_micro
FROM r
GROUP BY source
ORDER BY source
"""

_A20_SPARK = _a20_exprs("div")


@register("a20_grouped_winsorized_mean", oracle=_A20_ORACLE, tags=("A6",))
def a20_grouped_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 10%-winsorized mean of per-source token counts in integer
    micro-tokens, next to the raw mean: rank per source by
    (value, doc_id), clamp the floor(n/10) values at each end to the
    surviving boundary values, average with BIGINT floor division —
    bitwise cross-engine, outlier-bounded without dropping weight."""
    docs = Catalog(spark, sf_dir).documents
    t = docs.select(
        "doc_id", "source",
        F.size(F.split("text", " ")).cast("long").alias("v"),
    )
    w = W.partitionBy("source").orderBy("v", "doc_id")
    wc = W.partitionBy("source")
    r = t.select(
        "source", "v",
        F.row_number().over(w).alias("rnk"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    return r.groupBy("source").agg(*_a20_final_aggs()).orderBy("source")


def _a20_final_aggs() -> list:
    """The a20 per-source aggregate columns over an (source, v, rnk, n)
    frame — the a19 builder's winsorized twin, shared by a20 and a20b
    (both interpolate the one _a20_exprs algebra site)."""
    return [
        F.min("n").cast("long").alias("n_docs"),
        F.expr(f"CAST({_A20_SPARK['k']} AS BIGINT)").alias(
            "n_clamped_each_end"
        ),
        F.expr(
            f"CAST((1000000 * {_A20_SPARK['wsum']}) div min(n) AS BIGINT)"
        ).alias("winsorized_mean_micro"),
        F.expr("CAST((1000000 * sum(v)) div min(n) AS BIGINT)").alias(
            "mean_micro"
        ),
    ]


# A19b / A20b — the same EXACT estimators with no per-source sort window ------
#
# a19/a20 rank each source's values in ONE window partitioned by
# source: exact at the fixture's source cardinality, but at 100x a
# single mega-source becomes one straggler sort partition — the
# scale-killer the house already retired for global ranking (s16b) and
# global ntile (w4b/x4n2). These twins are the registered estimators'
# s16b-pattern scale forms, provably row-identical (pytest-pinned, and
# they reuse a19/a20's oracles VERBATIM — the s16b precedent):
#
#   1. range-bucket the VALUE axis from broadcast quantile cutpoints
#      (functions.bucketing; global cutpoints are fine because the law
#      only needs equal values to share a bucket — ties at a cutpoint
#      land low in both engines);
#   2. rank within (source, bucket) — the window partition count
#      multiplies by _A19B_BUCKETS, so a mega-source's sort spreads
#      over the cluster instead of one reducer;
#   3. stitch per-source global ranks back with per-(source, bucket)
#      prefix offsets from a per-source <= B-element HOF fold (the
#      s16b offsets idiom keyed by source), broadcast back, which
#      also carries the per-source total n — the count window gone;
#   4. the SAME final aggregate builders as the registered forms.
#
# Equal values never straddle buckets and (v, doc_id) ordering within
# a bucket concatenates to the per-source (v, doc_id) order, so rnk
# and n are IDENTICAL to the window form no matter where the cutpoints
# fall — bucket count is a parallelism knob, not a semantics knob.
# Cost: the value subtree is planned twice (cutpoint aggregate +
# assignment, the documented bucketing trade) plus a counts pass.

_A19B_BUCKETS = 32


def _ranked_by_source_scalable(t: DataFrame) -> DataFrame:
    """(source, v, rnk, n) with rnk = the per-source (v, doc_id) rank
    and n = the per-source row count, computed with NO per-source sort
    window: value-range buckets from broadcast quantile cutpoints,
    (source, bucket)-partitioned ranking, and broadcast prefix-offset
    stitching (the s16b law keyed by source)."""
    from ..functions.bucketing import with_range_bucket

    probs = [k / _A19B_BUCKETS for k in range(1, _A19B_BUCKETS)]
    b = with_range_bucket(t, "v", probs, out="bucket")
    ranked = b.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("source", "bucket").orderBy("v", "doc_id")
        ),
    )
    counts = b.groupBy("source", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    bc = counts.groupBy("source").agg(
        F.sort_array(F.collect_list(F.struct("bucket", "cnt"))).alias("bc")
    )
    offsets = (
        bc.select(
            "source",
            F.aggregate(
                "bc", F.lit(0).cast("long"), lambda acc, x: acc + x["cnt"]
            ).alias("n"),
            F.explode(
                F.transform(
                    "bc",
                    lambda s, i: F.struct(
                        s["bucket"].alias("bucket"),
                        F.aggregate(
                            F.slice("bc", F.lit(1), i),
                            F.lit(0).cast("long"),
                            lambda acc, x: acc + x["cnt"],
                        ).alias("off"),
                    ),
                )
            ).alias("o"),
        )
        .select("source", "n", F.col("o.bucket").alias("bucket"),
                F.col("o.off").alias("off"))
    )
    return ranked.join(F.broadcast(offsets), ["source", "bucket"]).select(
        "source", "v", (F.col("off") + F.col("rn")).alias("rnk"), "n"
    )


def _a19b_a20b_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).documents
    return docs.select(
        "doc_id", "source",
        F.size(F.split("text", " ")).cast("long").alias("v"),
    )


@register("a19b_trimmed_mean_scalable", oracle=_A19_ORACLE, tags=("A6",))
def a19b_trimmed_mean_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a19's exact 10%-trimmed mean with the per-source sort window
    replaced by range-bucketed ranking + broadcast prefix offsets —
    row-identical output (same oracle verbatim), no single-reducer
    sort under a mega-source. Plan-gated: every window partitions by
    (source, bucket)."""
    r = _ranked_by_source_scalable(_a19b_a20b_values(spark, sf_dir))
    return r.groupBy("source").agg(*_a19_final_aggs()).orderBy("source")


@register("a20b_winsorized_mean_scalable", oracle=_A20_ORACLE, tags=("A6",))
def a20b_winsorized_mean_scalable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """a20's exact 10%-winsorized mean in the a19b scale form: value-
    bucketed ranking, broadcast offset stitch, the registered final
    aggregate builder — row-identical output, same oracle verbatim."""
    r = _ranked_by_source_scalable(_a19b_a20b_values(spark, sf_dir))
    return r.groupBy("source").agg(*_a20_final_aggs()).orderBy("source")
