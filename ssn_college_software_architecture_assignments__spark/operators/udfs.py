"""UDF / UDAF / UDTF surface (SURVEY.md §2.10 F1-F3).

The reference's Transform stage is arbitrary Python
(/root/reference/README.md:22,54); in this engine arbitrary Python enters
through exactly four doors, all Arrow-batched (never row-at-a-time):

- F1 scalar: ``@pandas_udf`` — vectorized columnar kernels;
- F1-iter: SCALAR_ITER ``@pandas_udf`` — same, with per-partition
  initialization amortized across batches (f4);
- F2 aggregate: ``applyInPandas`` over grouped data;
- F3 table: Python UDTF (one record -> many records — the page->records
  expansion, README.md:12).

Every kernel here is deterministic so the oracle can replay it in SQL.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from ..catalog import Catalog
from ..registry import register

# F1 — vectorized scalar UDF --------------------------------------------------


@pandas_udf(DoubleType())
def _score_kernel(value: pd.Series, k: pd.Series) -> pd.Series:
    """Example cleaning kernel: bounded log-scaled score."""
    import numpy as np

    return (np.log1p(value.clip(lower=0)) * (1 + k / 100.0)).round(6)


_F1_ORACLE = """
SELECT event_id,
       round(ln(1 + greatest(value, 0))
             * (1 + CAST(json_extract_string(props, '$.k') AS DOUBLE) / 100.0), 6) AS score
FROM events
"""


@register("f1_pandas_udf", oracle=_F1_ORACLE, tags=("F1",))
def f1_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar UDF (numpy kernel over columnar batches).
    ~10-100x over row-at-a-time Python; still ~2-5x slower than the pure
    JVM expression the oracle uses — which is why UDFs are the escape
    hatch, not the default."""
    ev = Catalog(spark, sf_dir).events
    k = F.get_json_object("props", "$.k").cast("double")
    return ev.select(
        "event_id", _score_kernel(F.col("value"), k).alias("score")
    )


# F2 — grouped aggregation UDF (UDAF via applyInPandas) ---------------------------


def _weighted_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    w = pdf["l_quantity"]
    x = pdf["l_extendedprice"]
    wavg = (x * w).sum() / w.sum() if w.sum() else 0.0
    return pd.DataFrame(
        {
            "l_returnflag": [pdf["l_returnflag"].iloc[0]],
            "l_linestatus": [pdf["l_linestatus"].iloc[0]],
            "weighted_avg_price": [round(wavg, 2)],
            "n": [len(pdf)],
        }
    )


_F2_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 2) AS weighted_avg_price,
       count(*) AS n
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


@register("f2_grouped_udaf", oracle=_F2_ORACLE, tags=("F2",))
def f2_grouped_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregation via applyInPandas: each group arrives as one
    pandas DataFrame (Arrow batch). Scale note: group cardinality here is
    4; for high-cardinality keys pre-aggregate JVM-side first or use a
    two-stage pandas_udf aggregation to bound per-group memory."""
    li = Catalog(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag", "l_linestatus").applyInPandas(
        _weighted_stats,
        "l_returnflag string, l_linestatus string, weighted_avg_price double, n long",
    )


# F3 — table UDF (one row -> many rows) ----------------------------------------------

_F3_ORACLE = """
SELECT doc_id, unnest(string_split(text, ' ')[1:4]) AS token
FROM documents WHERE doc_id < 50
"""


@register("f3_udtf_expand", oracle=_F3_ORACLE, tags=("F3",))
def f3_udtf_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF: expand each document into its first 4 tokens — the
    page->records expansion shape (README.md:12). The lateral-join plan is
    identical to explode's; UDTF buys arbitrary Python expansion logic."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, token string")
    class ExpandTokens:
        def eval(self, doc_id: int, text: str):
            for tok in (text or "").split(" ")[:4]:
                yield doc_id, tok

    docs = Catalog(spark, sf_dir).documents.filter(F.col("doc_id") < 50)
    spark.udtf.register("expand_tokens", ExpandTokens)
    docs.createOrReplaceTempView("_f3_docs")
    return spark.sql(
        "SELECT t.doc_id, t.token FROM _f3_docs, "
        "LATERAL expand_tokens(doc_id, text) t"
    )


# F4 — iterator pandas UDF (amortized per-partition initialization) -----------


_F4_ORACLE = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT)
       - CAST(len(list_filter(string_split(text, ' '),
                              x -> x = 'the' OR x = 'a')) AS BIGINT) AS n_kept
FROM documents
"""


@register("f4_iter_udf", oracle=_F4_ORACLE, tags=("F1",))
def f4_iter_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fourth Python door: SCALAR_ITER pandas UDF. The generator
    body runs ONCE per partition — expensive setup (here a compiled
    stopword regex standing in for a tokenizer/model load) happens
    before the batch loop and amortizes across every Arrow batch,
    instead of per batch (plain pandas_udf) or per row (legacy UDF).
    This is the shape a real tokenizer-count or model-scoring stage
    takes; the kernel itself (non-stopword token count) is
    deterministic so the oracle replays it in SQL."""
    import re

    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def kept_tokens(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        stop = re.compile(r"^(the|a)$")  # per-partition init, amortized
        for texts in batches:
            yield texts.map(
                lambda t: sum(
                    1 for tok in t.split(" ") if not stop.match(tok)
                )
            ).astype("int64")

    docs = Catalog(spark, sf_dir).documents
    return docs.select("doc_id", kept_tokens("text").alias("n_kept"))


# F5 — COGROUPED applyInPandas (two-table grouped map) --------------------------
#
# The fourth Arrow door has a two-table variant this file hadn't
# exercised: ``groupBy().cogroup().applyInPandas`` delivers BOTH
# tables' rows for one key to a single Python function — the door for
# kernels that need two aligned per-key frames at once, canonically
# pandas.merge_asof. The demo is the as-of join the engine already
# owns natively (J8): for each purchase, the latest click at-or-before
# it per user. The SQL oracle states the same as-of law independently
# (correlated top-1 lookup), so agreement checks the cogroup plumbing
# AND pandas' asof tie semantics against the relational definition.
# Tie law: equal timestamps resolve to the highest event_id —
# merge_asof takes the LAST right row in sort order, so the right side
# sorts by (ts, event_id) ascending; the oracle orders descending and
# takes 1.
#
# Scale shape: one shuffle per side on user_id, then per-key Arrow
# batches; per-user history is bounded, and the kernel never sees two
# users' data. Prefer J8's JVM form in production — this is the
# API-surface proof.

_F5_ORACLE = """
SELECT p.user_id,
       p.event_id AS purchase_id,
       (SELECT c.event_id FROM events c
        WHERE c.user_id = p.user_id AND c.event_type = 'click'
          AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
        ORDER BY CAST(c.ts AS TIMESTAMP) DESC, c.event_id DESC
        LIMIT 1) AS click_id,
       (SELECT round(c.value, 2) FROM events c
        WHERE c.user_id = p.user_id AND c.event_type = 'click'
          AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
        ORDER BY CAST(c.ts AS TIMESTAMP) DESC, c.event_id DESC
        LIMIT 1) AS click_value
FROM events p
WHERE p.event_type = 'purchase'
ORDER BY p.user_id, purchase_id
"""


def _asof_merge_kernel(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
    """Per-user as-of: latest click at-or-before each purchase. The
    right side arrives with c_-prefixed names: when both cogroup
    children derive from the SAME parent DataFrame, same-name columns
    share attribute ids and Spark's analyzer deduplicates them away
    from the right pdf (observed: right delivered only (user_id,
    value)) — distinct names keep both sides intact."""
    left = left.sort_values(["ts", "event_id"]).reset_index(drop=True)
    out = pd.DataFrame(
        {"user_id": left["user_id"], "purchase_id": left["event_id"]}
    )
    if right.empty:
        out["click_id"] = pd.Series([None] * len(left), dtype="object")
        out["click_value"] = pd.Series([None] * len(left), dtype="object")
        return out
    right = right.sort_values(["c_ts", "c_event_id"]).reset_index(drop=True)
    # left_by/right_by (r18): the kernel now handles MULTI-user frames
    # so f5 can cogroup on a hash bucket (one Python call per bucket,
    # not per user — guide §4.5's amortization). The right side's user
    # column arrives as c_user_id, NOT user_id: both cogroup children
    # derive from the same events parent, so an unaliased user_id would
    # share the left side's attribute id and be analyzer-deduplicated
    # away from the right pdf (the same pathology this docstring's
    # c_-prefix note records for ts/event_id/value). Tie law unchanged:
    # within a user, backward-asof keeps the last right row in
    # (c_ts, c_event_id) order — the highest event_id on equal
    # timestamps.
    merged = pd.merge_asof(
        left[["user_id", "ts", "event_id"]],
        right[["c_user_id", "c_ts", "c_event_id", "c_value"]].rename(
            columns={"c_event_id": "click_id", "c_value": "click_value"}
        ),
        left_on="ts",
        right_on="c_ts",
        left_by="user_id",
        right_by="c_user_id",
        direction="backward",
        allow_exact_matches=True,
    )
    out["click_id"] = merged["click_id"]
    # NO rounding in the kernel: pandas .round is IEEE half-even — a
    # THIRD law next to Spark's HALF_UP and DuckDB's half-away-from-zero
    # (review-caught: 0.125 -> 0.12 here vs 0.13 in the oracle). The
    # repo-standard Spark-side F.round happens after the cogroup.
    out["click_value"] = merged["click_value"]
    return out


def _f5_bucket_count(spark: SparkSession, ev: DataFrame) -> int:
    """Cogroup bucket count for f5: tracks DATA VOLUME, not core count
    (guide §5). With buckets == cores, a 100 TB events table would
    arrive as ONE pandas frame of ~1/cores of the table per cogroup
    call. The optimizer's sizeInBytes estimate (parquet file size; no
    extra job) caps per-bucket input at ``spark.ssn.f5.targetBucketBytes``;
    the floor stays at defaultParallelism so small inputs keep one call
    per core.

    Unknown stats do not raise: Spark reports them as the
    ``spark.sql.defaultSizeInBytes`` sentinel (Long.MaxValue by
    default), which would ask for ~1.4e11 buckets. Any estimate at or
    above that sentinel is treated as unknown and takes the floor."""
    target = int(
        spark.conf.get("spark.ssn.f5.targetBucketBytes", str(64 << 20))
    )
    floor = max(spark.sparkContext.defaultParallelism, 1)
    est_bytes = int(
        str(ev._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )
    unknown = spark._jsparkSession.sessionState().conf().defaultSizeInBytes()
    if est_bytes >= unknown:
        return floor
    return max(floor, est_bytes // max(target, 1))


@register("f5_cogrouped_asof", oracle=_F5_ORACLE, tags=("F2", "J8"))
def f5_cogrouped_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-table grouped map: cogroup purchases with clicks per user
    and run pandas.merge_asof inside the Arrow kernel — the Python-side
    face of the J8 as-of join, checked against the relational as-of
    law. Rounding stays OUT of the kernel (see _asof_merge_kernel)."""
    ev = Catalog(spark, sf_dir).events
    # Cogroup on a HASH BUCKET of user_id, not user_id itself (guide
    # §4.5): one Python call per bucket amortizes the per-call
    # Arrow->pandas + merge_asof setup over many users; the kernel's
    # by="user_id" keeps the per-user as-of law bit-identical (the
    # bucket count only changes parallelism, never the result).
    n_buckets = _f5_bucket_count(spark, ev)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "ts")
        .withColumn("_b", F.pmod(F.col("user_id"), F.lit(n_buckets)))
    )
    # user_id aliased to c_user_id: same-parent cogroup children share
    # attribute ids, and the analyzer deduplicates the shared column
    # away from the right pdf (see _asof_merge_kernel's docstring) —
    # a distinct name keeps it delivered.
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("c_event_id"),
            F.col("ts").alias("c_ts"),
            F.col("value").alias("c_value"),
        )
        .withColumn("_b", F.pmod(F.col("c_user_id"), F.lit(n_buckets)))
    )
    out = (
        purchases.groupBy("_b")
        .cogroup(clicks.groupBy("_b"))
        .applyInPandas(
            _asof_merge_kernel,
            "user_id long, purchase_id long, click_id long, click_value double",
        )
    )
    return out.withColumn("click_value", F.round("click_value", 2)).orderBy(
        "user_id", "purchase_id"
    )


# F6 — mapInArrow: the zero-copy Arrow door -------------------------------------
#
# The fifth Python door, below even the pandas ones: the kernel sees raw
# pyarrow RecordBatches and answers with RecordBatches — no pandas
# materialization, no per-value Python objects. The right door when the
# kernel is itself vectorized C (pyarrow.compute, numpy over buffers):
# here byte-level text stats run entirely inside Arrow compute kernels,
# so the only Python executed per batch is a handful of dispatch calls.
# Deterministic byte arithmetic -> the oracle replays it with DuckDB's
# byte functions (strlen / replace), exact BIGINTs end to end.

_F6_ORACLE = """
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       CAST(strlen(text) - strlen(replace(text, ' ', '')) AS BIGINT)
         AS n_spaces,
       CAST(strlen(text) - strlen(replace(text, ' ', '')) + 1 AS BIGINT)
         AS n_tokens
FROM documents
ORDER BY doc_id
"""


@register("f6_map_in_arrow", oracle=_F6_ORACLE, tags=("F1",))
def f6_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level text stats via mapInArrow: the kernel never leaves
    Arrow — binary_length and count_substring are C compute kernels
    over the batch's buffers, and the yielded RecordBatch reuses the
    doc_id array zero-copy. Columns are exact byte counts, so the SQL
    twin is mechanical."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def kernel(batches):
        for rb in batches:
            text = rb.column(rb.schema.get_field_index("text"))
            n_bytes = pc.cast(pc.binary_length(text), pa.int64())
            n_spaces = pc.cast(pc.count_substring(text, " "), pa.int64())
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(rb.schema.get_field_index("doc_id")),
                    n_bytes,
                    n_spaces,
                    pc.add(n_spaces, pa.scalar(1, pa.int64())),
                ],
                names=["doc_id", "n_bytes", "n_spaces", "n_tokens"],
            )

    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    return docs.mapInArrow(
        kernel, "doc_id long, n_bytes long, n_spaces long, n_tokens long"
    ).orderBy("doc_id")


# F7 — grouped applyInArrow: zero-copy grouped aggregation ----------------------
#
# The sixth Python door: GroupedData.applyInArrow hands each GROUP to
# the kernel as one pyarrow.Table — the zero-copy sibling of
# applyInPandas (f2), for kernels that are themselves vectorized C.
# Here per-source byte statistics run entirely inside pyarrow compute
# (binary_length + sum/min/max aggregations); the only Python per group
# is dispatch. Counting BYTES, not characters, is the point of the law
# (the multibyte pytest pins it); DuckDB's strlen is also bytes, so the
# oracle is mechanical and exact.
#
# Scale shape: one shuffle on the group key; each group materializes in
# the worker as a single Arrow table, so the kernel's memory bound is
# the largest group — at 100 TB the key becomes (source, bucket)
# exactly as x6b documents for its packer groups.

_F7_ORACLE = """
SELECT source,
       CAST(count(*) AS BIGINT)          AS n_docs,
       CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
       CAST(min(strlen(text)) AS BIGINT) AS min_bytes,
       CAST(max(strlen(text)) AS BIGINT) AS max_bytes
FROM documents GROUP BY source
ORDER BY source
"""


def f7_group_bytes_kernel(table):
    """Per-group kernel: byte-length stats via pyarrow compute only —
    no pandas, no per-row Python. Shared by the registered query and
    the multibyte law pytest."""
    import pyarrow as pa
    import pyarrow.compute as pc

    lens = pc.cast(pc.binary_length(table.column("text")), pa.int64())
    return pa.table(
        {
            "source": [table.column("source")[0].as_py()],
            "n_docs": pa.array([table.num_rows], pa.int64()),
            "total_bytes": pa.array([pc.sum(lens).as_py()], pa.int64()),
            "min_bytes": pa.array([pc.min(lens).as_py()], pa.int64()),
            "max_bytes": pa.array([pc.max(lens).as_py()], pa.int64()),
        }
    )


@register("f7_apply_in_arrow", oracle=_F7_ORACLE, tags=("F1", "F2"))
def f7_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source byte statistics via GroupedData.applyInArrow: each
    source's rows arrive as ONE zero-copy Arrow table and the kernel
    answers with a one-row table computed by C aggregation kernels.
    Byte semantics (not characters) are the pinned law — DuckDB strlen
    matches Arrow binary_length exactly."""
    docs = Catalog(spark, sf_dir).documents.select("source", "text")
    return (
        docs.groupBy("source")
        .applyInArrow(
            f7_group_bytes_kernel,
            "source string, n_docs long, total_bytes long, "
            "min_bytes long, max_bytes long",
        )
        .orderBy("source")
    )
