"""Similarity search over embeddings (SURVEY.md §2.10 X3).

Two paths, both over ``embeddings.embedding`` (array<float>, dim 64):

- **Brute-force top-k** (the correctness baseline): broadcast the query
  vectors, compute cosine against every candidate with JVM higher-order
  functions, take per-query top-k with a window. Cost is O(Q x N) but the
  N side streams — no shuffle of the corpus, no driver collection. Right
  up to ~thousands of queries at 100 TB corpus scale.

- **LSH-bucketed ANN** (the scale path): random-hyperplane signatures
  (deterministic, seeded via xxhash64 of the dimension index) bucket both
  sides; cosine is evaluated only within matching buckets. Sublinear
  candidate sets; recall traded via number of planes/tables.

All float math is cast to double *before* any arithmetic so the oracle
(DuckDB, same double ops in the same sequential order) matches bit-for-bit
at our rounding precision. DuckDB's builtin list_cosine_similarity computes
in float32 and does NOT match — the oracle recomputes cosine explicitly.
"""

from __future__ import annotations

import math
import operator
from collections.abc import Callable
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import Catalog, ensure_min_partitions
from ..registry import register


def _dvec(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def sqdist(a: Column, b: Column) -> Column:
    """Squared L2 distance as the ordered HOF fold (the x3r argmin
    law's form)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_int(a: Column, b: Column) -> Column:
    """Integer dot product as the ordered HOF fold. Integer addition is
    exact, so the result is independent of summation order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _centroid_array(centroids: DataFrame) -> DataFrame:
    """One broadcastable row ``cents: array<struct<cent_id, cemb, cnrm>>``
    from a (cent_id, cemb) frame: THE centroid layout every
    nearest-centroid search reads (:func:`nearest_cells`), the PQ
    codebook included. collect_list's order is nondeterministic; no
    reader depends on it (the kernel's tie law, cent_id-keyed maps)."""
    return centroids.select(
        F.struct(
            F.col("cent_id"),
            F.col("cemb"),
            l2_norm(F.col("cemb")).alias("cnrm"),
        ).alias("c")
    ).agg(F.collect_list("c").alias("cents"))


def nearest_cells(
    vec: Column,
    cents: Column,
    metric: str | Callable[[Column, Column], Column] = "cos",
    n: int = 1,
    nrm: Column | None = None,
) -> Column:
    """THE nearest-centroid kernel: which of the broadcast ``cents``
    (:func:`_centroid_array`) is nearest to ``vec``, or which ``n`` are.

    - Key: ``-cos`` for ``metric="cos"``, squared L2 for ``"l2"``, or
      ``metric(vec, cemb)`` for another distance fold (x3m's
      block-grouped L2). Every key is the module's left-to-right fold,
      so distances and ties are bit-identical to the DuckDB oracles.
    - Tie law: key ascending, then cent_id ascending. Key and id form
      one struct and struct ordering compares them in that order, so
      the pick is independent of the array's order.
    - Zero-norm guard (cosine only): a zero-norm centroid is never a
      candidate and a zero-norm vector has no nearest cell (null). It
      runs before any divide, which would throw under ANSI mode.
      ``nrm`` is the vector's precomputed norm, if the row has one.

    n = 1 returns the struct ``(key, cid)`` (array_min; k-means inertia
    reads the key); n > 1 returns the n nearest as an ascending array
    of those structs (array_sort + slice), so a cell's probe rank is its
    position. ``["cid"]`` reads the cell id(s) from either form. Map-side
    per row: no n x K crossJoin, no window, no shuffle."""
    if metric == "cos":
        nrm = l2_norm(vec) if nrm is None else nrm
        cents = F.filter(cents, lambda c: c["cnrm"] > 0)

        def key(c: Column) -> Column:
            return -(dot(vec, c["cemb"]) / (nrm * c["cnrm"]))

    else:
        dist = sqdist if metric == "l2" else metric

        def key(c: Column) -> Column:
            return dist(vec, c["cemb"])

    keyed = F.transform(
        cents, lambda c: F.struct(key(c).alias("key"), c["cent_id"].alias("cid"))
    )
    best = F.array_min(keyed) if n == 1 else F.slice(F.array_sort(keyed), 1, n)
    return F.when(nrm > 0, best) if metric == "cos" else best


def assign_cells(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """(cell, vec_id, emb, nrm): every vector of ``emb`` (vec_id, emb)
    assigned to its cosine-nearest centroid of ``centroids``
    (cent_id, cemb) by :func:`nearest_cells`, map-side against the
    broadcast centroid array. A row-number window over the n x K
    crossJoin would shuffle every corpus row K times over. Zero-norm
    vectors have no cell and are dropped."""
    cell = nearest_cells(F.col("emb"), F.col("cents"), nrm=F.col("nrm"))["cid"]
    return (
        emb.withColumn("nrm", l2_norm(F.col("emb")))
        .crossJoin(F.broadcast(_centroid_array(centroids)))
        .select(cell.alias("cell"), "vec_id", "emb", "nrm")
        .filter(F.col("cell").isNotNull())
    )


EMB_DIM = 64  # fixture embedding dimensionality (TESTDATA.md)


# X3a — brute-force cosine top-k -----------------------------------------------

_X3_ORACLE = """
WITH q AS (
  SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb
  FROM embeddings WHERE vec_id < 8
),
c AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
scored AS (
  SELECT q.q_id, c.vec_id,
         list_aggregate(list_transform(list_zip(q.q_emb, c.emb), p -> p[1] * p[2]), 'sum')
         / (sqrt(list_aggregate(list_transform(q.q_emb, x -> x*x), 'sum'))
            * sqrt(list_aggregate(list_transform(c.emb, x -> x*x), 'sum'))) AS cos_sim
  FROM q CROSS JOIN c
  WHERE q.q_id <> c.vec_id
)
SELECT q_id, vec_id, round(cos_sim, 4) AS cos_sim
FROM (
  SELECT q_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY q_id ORDER BY round(cos_sim, 4) DESC, vec_id) AS rn
  FROM scored
) WHERE rn <= 5
"""


@register("x3_similarity_bruteforce", oracle=_X3_ORACLE, tags=("X3",))
def x3_similarity_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for 8 query vectors. Ranking ties are
    broken on (rounded similarity, vec_id) so float noise below 1e-4 can
    never reorder the oracle comparison."""
    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), _dvec("embedding").alias("q_emb")
    )
    # corpus side does all the scoring work — spread single-split scans
    candidates = ensure_min_partitions(emb).select(
        "vec_id", _dvec("embedding").alias("emb")
    )
    scored = (
        candidates.crossJoin(F.broadcast(queries))
        .filter(F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            "vec_id",
            cosine(F.col("q_emb"), F.col("emb")).alias("cos_sim"),
        )
    )
    w = W.partitionBy("q_id").orderBy(
        F.round("cos_sim", 4).desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", "vec_id", F.round("cos_sim", 4).alias("cos_sim"))
    )


# X3b — LSH-bucketed approximate neighbors (scale path) --------------------------


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random unit hyperplane from a hash recurrence
    (no RNG state; reproducible across engines and runs)."""
    vals = []
    x = (plane_idx * 2654435761 + 0x9E3779B9) & 0xFFFFFFFF
    for _ in range(dim):
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        vals.append((x / 0x7FFFFFFF) * 2.0 - 1.0)
    norm = math.sqrt(sum(v * v for v in vals)) or 1.0
    return [v / norm for v in vals]


def lsh_signature(
    emb_col: Column, dim: int = 64, n_planes: int = 6, plane_offset: int = 0
) -> Column:
    """Random-hyperplane (sign) signature as a BIGINT bucket id (HOF
    expression form — fine for a single small signature; for the
    multi-table hot path use :func:`lsh_buckets`)."""
    bits = []
    for p in range(n_planes):
        plane = F.array(*[F.lit(v) for v in _hyperplane(dim, plane_offset + p)])
        bit = (dot(_dvec(emb_col), plane) > 0).cast("long")
        bits.append(F.shiftleft(bit, p))
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def lsh_auto_params(
    n: int,
    target_cos: float = 0.95,
    recall: float = 0.85,
    occupancy: int = 16,
) -> tuple[int, int]:
    """Size (n_tables, planes_per_table) for a corpus of ``n`` vectors.

    With FIXED plane counts, expected candidate PAIRS grow as
    n_tables * n^2 / 2^(planes+1) — quadratic in corpus size (measured:
    a 10x corpus produced 99.9x pairs in ``tools/stress_sf1.py``). The
    scale law: planes grow with log2(n / occupancy) so bucket count
    tracks corpus size and expected bucket occupancy stays constant —
    pairs become ~n_tables * n * occupancy / 2, LINEAR in n. More planes
    lower per-table recall for target_cos pairs
    (p_bit^planes, p_bit = 1 - acos(cos)/pi), so tables then grow to
    hold the OR-amplified recall bound: 1-(1-p^planes)^tables >= recall.
    Each extra table is one more map-side signature + one more bucket
    join leg — linear cost, bounded by the recall target."""
    planes = max(6, math.ceil(math.log2(max(n, 1) / occupancy))) if n > occupancy else 6
    p_bit = 1.0 - math.acos(min(max(target_cos, -1.0), 1.0)) / math.pi
    per_table = p_bit**planes
    if per_table >= 1.0:
        return 4, planes
    tables = max(4, math.ceil(math.log(1.0 - recall) / math.log(1.0 - per_table)))
    return tables, planes


def lsh_buckets(
    emb_col: Column, dim: int = 64, n_tables: int = 4, planes_per_table: int = 6
) -> Column:
    """Multi-table LSH (OR-amplification): an array of per-table bucket
    ids, each from an independent set of hyperplanes. A pair is a
    candidate if it collides in ANY table — recall grows with tables.
    Expected candidate pairs are ~n_tables * n^2 / 2^(planes+1): at
    FIXED plane counts that is quadratic in corpus size, so size the
    parameters with :func:`lsh_auto_params` (constant bucket occupancy
    -> linear pairs) instead of trusting the defaults beyond ~10^3-10^4
    vectors.

    Implementation note: 24 plane dot-products as Catalyst expressions
    (HOF or flat-unrolled) make the plan tree itself pathological —
    analysis + codegen dominated the query (5-16s for a 500-row input).
    A single Arrow-batched pandas UDF doing one numpy matmul per batch
    keeps the plan tiny and the math vectorized; at 100 TB it is map-only
    and embarrassingly parallel, with one C-speed (n x dim)@(dim x 24)
    GEMM per Arrow batch."""
    n_planes = n_tables * planes_per_table
    planes = np.array(
        [_hyperplane(dim, p) for p in range(n_planes)]
    )  # (n_planes, dim)
    pow2 = 1 << np.arange(planes_per_table, dtype=np.int64)  # (planes_per_table,)

    @F.pandas_udf("array<long>")
    def _buckets(emb: pd.Series) -> pd.Series:
        e = np.asarray(emb.tolist(), dtype=np.float64)  # (n, dim)
        bits = (e @ planes.T) > 0  # (n, n_planes)
        per_tbl = bits.reshape(len(e), n_tables, planes_per_table)
        ids = (per_tbl * pow2).sum(axis=2)  # (n, n_tables) bucket ids
        return pd.Series(list(ids))

    return _buckets(emb_col)


@register("x3b_similarity_lsh", tags=("X3",))
def x3b_similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via multi-table random-hyperplane LSH: candidates are pairs
    colliding in any of 4 independent 6-bit signatures (bucket equi-join
    per table, never a cross join); exact cosine re-ranks the candidates.
    Approximate -> rows-only check; recall-vs-bruteforce is asserted in
    tests/test_similarity.py."""
    emb = Catalog(spark, sf_dir).embeddings
    tagged = emb.select(
        "vec_id",
        "embedding",
        F.posexplode(lsh_buckets(F.col("embedding"))).alias("tbl", "bucket"),
    )
    queries = tagged.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("tbl").alias("q_tbl"),
        F.col("bucket").alias("q_bucket"),
    )
    candidates = (
        tagged.join(
            F.broadcast(queries),
            (F.col("tbl") == F.col("q_tbl"))
            & (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("q_id")),
        )
        # a pair may collide in several tables — score it once
        .select("q_id", "vec_id", "q_emb", "embedding")
        .dropDuplicates(["q_id", "vec_id"])
    )
    scored = candidates.select(
        "q_id",
        "vec_id",
        cosine(_dvec("q_emb"), _dvec("embedding")).alias("cos_sim"),
    )
    w = W.partitionBy("q_id").orderBy(
        F.round("cos_sim", 4).desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", "vec_id", F.round("cos_sim", 4).alias("cos_sim"))
    )


# X3d — IVF (inverted-file) ANN: coarse quantize -> probe nearest cells ----------


def _x3d_oracle_sql(nprobe: int) -> str:
    """The IVF search law at probe width ``nprobe`` — 2 is the
    registered x3d; x3p sweeps 1/2/4 for the tuning curve."""
    return f"""
WITH c AS (
  SELECT vec_id AS cent_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cemb
  FROM embeddings WHERE vec_id < 16
),
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
q AS (
  SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qemb
  FROM embeddings WHERE vec_id < 8
),
vc AS (
  SELECT v.vec_id, v.emb, c.cent_id,
         list_aggregate(list_transform(list_zip(v.emb, c.cemb), p -> p[1] * p[2]), 'sum')
         / (sqrt(list_aggregate(list_transform(v.emb, x -> x*x), 'sum'))
            * sqrt(list_aggregate(list_transform(c.cemb, x -> x*x), 'sum'))) AS cos
  FROM v CROSS JOIN c
),
cells AS (
  SELECT vec_id, emb, cent_id AS cell FROM (
    SELECT vec_id, emb, cent_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
    FROM vc
  ) WHERE rn = 1
),
qc AS (
  SELECT q.q_id, q.qemb, c.cent_id,
         list_aggregate(list_transform(list_zip(q.qemb, c.cemb), p -> p[1] * p[2]), 'sum')
         / (sqrt(list_aggregate(list_transform(q.qemb, x -> x*x), 'sum'))
            * sqrt(list_aggregate(list_transform(c.cemb, x -> x*x), 'sum'))) AS cos
  FROM q CROSS JOIN c
),
probe AS (
  SELECT q_id, qemb, cent_id AS cell FROM (
    SELECT q_id, qemb, cent_id,
           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cent_id) AS rn
    FROM qc
  ) WHERE rn <= {nprobe}
),
scored AS (
  SELECT p.q_id, cl.vec_id,
         list_aggregate(list_transform(list_zip(p.qemb, cl.emb), pr -> pr[1] * pr[2]), 'sum')
         / (sqrt(list_aggregate(list_transform(p.qemb, x -> x*x), 'sum'))
            * sqrt(list_aggregate(list_transform(cl.emb, x -> x*x), 'sum'))) AS cos_sim
  FROM probe p JOIN cells cl ON p.cell = cl.cell
  WHERE cl.vec_id <> p.q_id
)
SELECT q_id, vec_id, round(cos_sim, 4) AS cos_sim FROM (
  SELECT q_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY q_id ORDER BY round(cos_sim, 4) DESC, vec_id) AS rn
  FROM scored
) WHERE rn <= 5
"""


_X3D_ORACLE = _x3d_oracle_sql(2)


@register("x3d_similarity_ivf", oracle=_X3D_ORACLE, tags=("X3",))
def x3d_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: assign every vector to its nearest coarse centroid (the
    "cell"), then each query scores only vectors in its nprobe=2 closest
    cells. Centroids here are 16 fixed corpus vectors (vec_id < 16) so the
    whole query is deterministic; a production build trains them with
    MLlib KMeans — the search-side dataflow (broadcast centroids ->
    cell assignment -> cell-equi-join -> exact re-rank) is identical.

    Scale: the corpus never shuffles on anything wider than its cell id;
    centroid assignment and probe selection are per-row
    :func:`nearest_cells` folds over the broadcast 16-entry centroid
    array (no window), and the candidate join per query touches ~2/16
    of the corpus."""
    return _ivf_topk(spark, sf_dir, nprobe=2)


_IVF_K = 16  # the fixed IVF codebook's size


def _ivf_centroids(emb: DataFrame) -> DataFrame:
    """The fixed IVF codebook: the corpus vectors vec_id < _IVF_K, as
    (cent_id, cemb). x3d/x3h/x3p, SemDeDup's x2j cells, x3u-x3w and
    the x3x maintenance loop all read this one codebook."""
    return emb.filter(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("cent_id"), _dvec("embedding").alias("cemb")
    )


def _ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus cell assignment for the fixed-centroid IVF search
    (:func:`assign_cells`). Separate from :func:`_ivf_topk` because the
    assignment is nprobe-INDEPENDENT: x3p scores one assignment pass
    against the widest probe set and derives every leg from it."""
    emb = Catalog(spark, sf_dir).embeddings
    vecs = emb.select("vec_id", _dvec("embedding").alias("emb"))
    return assign_cells(vecs, _ivf_centroids(emb))


def _ivf_probe(
    spark: SparkSession, sf_dir: str, nprobe: int, with_rank: bool = False
) -> DataFrame:
    """Per-query probe cells at width ``nprobe``: the ``nprobe``
    cosine-nearest centroids by :func:`nearest_cells`. ``with_rank=True``
    carries each cell's probe rank (``cell_rn``, 1-based) so x3p can
    derive EVERY narrower width from the one widest probe set
    (cell_rn <= k IS the width-k probe set)."""
    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), _dvec("embedding").alias("q_emb")
    )
    near = nearest_cells(F.col("q_emb"), F.col("cents"), n=nprobe)["cid"]
    probed = queries.crossJoin(
        F.broadcast(_centroid_array(_ivf_centroids(emb)))
    ).select("q_id", "q_emb", F.posexplode(near).alias("pos", "cell"))
    cols = ["q_id", "q_emb", "cell"]
    if with_rank:
        cols.append((F.col("pos") + 1).alias("cell_rn"))
    return probed.select(*cols)


def _ivf_score(assigned: DataFrame, probed: DataFrame) -> DataFrame:
    """Cell-equi-join scoring of a probe set against a cell assignment
    — THE cosine-scoring site shared by the registered x3d search and
    x3p's tuning curve. Passes a ``cell_rn`` column through when the
    probe frame carries one (the x3p single-pass form)."""
    extra = [c for c in ("cell_rn",) if c in probed.columns]
    return (
        assigned.join(F.broadcast(probed), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cosine(F.col("q_emb"), F.col("emb")).alias("cos_sim"),
            *extra,
        )
    )


def _ivf_rank(scored: DataFrame) -> DataFrame:
    """Top-5 per query by (rounded cosine desc, vec_id) — the rank law
    both x3d and every x3p leg apply to a scored candidate frame."""
    w_rank = W.partitionBy("q_id").orderBy(
        F.round("cos_sim", 4).desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= 5)
        .select("q_id", "vec_id", F.round("cos_sim", 4).alias("cos_sim"))
    )


def _ivf_search(
    spark: SparkSession, sf_dir: str, assigned: DataFrame, nprobe: int
) -> DataFrame:
    """Probe + score + rank over a prebuilt cell assignment — the other
    half of :func:`_ivf_topk`, composed from the single probe/score/
    rank sites so the registered search and the x3p tuning curve can
    never score differently."""
    return _ivf_rank(
        _ivf_score(assigned, _ivf_probe(spark, sf_dir, nprobe))
    )


def _ivf_topk(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """THE IVF search kernel at probe width ``nprobe`` (the Spark half
    of ``_x3d_oracle_sql``): nprobe=2 is the registered x3d; x3p sweeps
    1/2/4. Composed from :func:`_ivf_assign` + :func:`_ivf_search` so
    the search and its tuning curve share one implementation."""
    return _ivf_search(spark, sf_dir, _ivf_assign(spark, sf_dir), nprobe)


# X3c — vector feature engineering (norms / normalization), full oracle -----------

_X3C_ORACLE = """
SELECT vec_id, label,
       round(sqrt(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')), 4) AS l2_norm,
       round(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'sum'), 4) + 0.0 AS comp_sum,
       round(CAST(embedding[1] AS DOUBLE), 4) + 0.0 AS first_comp,
       CAST(len(embedding) AS BIGINT)         AS dim
FROM embeddings
"""


@register("x3c_vector_features", oracle=_X3C_ORACLE, tags=("X3",))
def x3c_vector_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene features (norm, component stats) computed with
    higher-order functions — the preprocessing stage before any ANN build."""
    emb = Catalog(spark, sf_dir).embeddings
    d = _dvec(F.col("embedding"))
    return emb.select(
        "vec_id",
        "label",
        F.round(l2_norm(d), 4).alias("l2_norm"),
        # + 0.0 collapses IEEE -0.0 (surfaced at sf0.1) to +0.0 in both engines
        (F.round(
            F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x), 4
        ) + 0.0).alias("comp_sum"),
        (F.round(F.col("embedding")[0].cast("double"), 4) + 0.0).alias("first_comp"),
        F.size("embedding").cast("long").alias("dim"),
    )


# X3f — int8 embedding quantization --------------------------------------------

_X3F_ORACLE = """
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
), s AS (
  SELECT vec_id, emb,
         list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale
  FROM v
), q AS (
  SELECT vec_id, scale,
         len(emb) AS n_dims,
         CASE WHEN scale = 0 THEN list_transform(emb, x -> 0)
              ELSE list_transform(emb, x -> CAST(round(x / scale) AS INT))
         END AS qv
  FROM s
)
SELECT vec_id,
       CAST(n_dims AS INT)                    AS n_dims,
       round(scale, 6)                        AS scale_r,
       CAST(list_sum(qv) AS BIGINT)           AS q_sum,
       CAST(list_min(qv) AS INT)              AS q_min,
       CAST(list_max(qv) AS INT)              AS q_max,
       CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1
FROM q
"""


def _absmax_quantize(emb: DataFrame) -> DataFrame:
    """Attach absmax-int8 quantization columns to an embeddings frame:
    ``_scale`` (max|x| / 127, double) and ``_q`` (int codes; all zeros
    for zero vectors). Map-only — shared by x3f (the quantize op) and
    x3g (the quantized ANN screen)."""
    d = _dvec(F.col("embedding"))
    with_scale = emb.withColumn(
        "_scale",
        F.array_max(F.transform(d, lambda x: F.abs(x))) / F.lit(127.0),
    ).withColumn("_emb", d)
    return with_scale.withColumn(
        "_q",
        F.when(
            F.col("_scale") == 0.0,
            F.transform(F.col("_emb"), lambda x: F.lit(0)),
        ).otherwise(
            F.transform(
                F.col("_emb"),
                lambda x: F.round(x / F.col("_scale")).cast("int"),
            )
        ),
    ).drop("_emb")


@register("x3f_embedding_quantize", oracle=_X3F_ORACLE, tags=("X3",))
def x3f_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the standard 4x memory
    reduction that makes a 100 TB ANN corpus fit executor RAM (float32
    -> int8 with a per-vector scale = max|x| / 127, the absmax scheme
    every public vector store and faiss-style index uses). Map-only JVM
    higher-order functions, zero shuffle, no Python; zero vectors keep
    scale 0 and quantize to all-zeros instead of dividing by zero.

    The checked projection reduces the quantized array to INTEGER
    invariants (sum, min, max, L1 mass) plus the rounded scale, so the
    oracle comparison is exact — both engines perform the same float64
    divide + half-away round on the same widened float32 values, and a
    disagreement would surface as an off-by-one in q_sum/q_l1."""
    emb = Catalog(spark, sf_dir).embeddings
    quantized = _absmax_quantize(emb).withColumn(
        "_n", F.size("embedding")
    )
    return quantized.select(
        "vec_id",
        F.col("_n").cast("int").alias("n_dims"),
        F.round("_scale", 6).alias("scale_r"),
        F.aggregate(
            "_q", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("q_sum"),
        F.array_min("_q").cast("int").alias("q_min"),
        F.array_max("_q").cast("int").alias("q_max"),
        F.aggregate(
            "_q", F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x)
        ).alias("q_l1"),
    )


# X3g — quantized ANN screen: integer dot products over int8 codes -------------

# absmax-int8 quantization as DuckDB CTEs (the SQL twin of
# _absmax_quantize) — shared by the x3g screen and x3y's matmul MIPS
_Q8_CTES = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
), s AS (
  SELECT vec_id, emb, list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale
  FROM v
), q AS (
  SELECT vec_id,
         CASE WHEN scale = 0 THEN list_transform(emb, x -> 0)
              ELSE list_transform(emb, x -> CAST(round(x / scale) AS INT))
         END AS qv
  FROM s
)"""

_X3G_ORACLE = f"""{_Q8_CTES}, n AS (
  SELECT vec_id, qv,
         list_aggregate(list_transform(qv, x -> x * x), 'sum') AS qq
  FROM q
), scored AS (
  SELECT a.vec_id AS q_id, b.vec_id,
         list_aggregate(list_transform(list_zip(a.qv, b.qv),
                                       p -> p[1] * p[2]), 'sum') AS idot,
         a.qq AS aqq, b.qq AS bqq
  FROM n a CROSS JOIN n b
  WHERE a.vec_id < 8 AND a.vec_id <> b.vec_id AND b.qq > 0 AND a.qq > 0
)
SELECT q_id, vec_id, cos_q
FROM (
  SELECT q_id, vec_id,
         round(idot / (sqrt(CAST(aqq AS DOUBLE)) * sqrt(CAST(bqq AS DOUBLE))), 4) AS cos_q,
         row_number() OVER (
           PARTITION BY q_id
           ORDER BY round(idot / (sqrt(CAST(aqq AS DOUBLE)) * sqrt(CAST(bqq AS DOUBLE))), 4) DESC,
                    vec_id
         ) AS rn
  FROM scored
) WHERE rn <= 5
"""


@register("x3g_similarity_quantized", oracle=_X3G_ORACLE, tags=("X3",))
def x3g_similarity_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbors scored entirely on int8 codes — the screening leg
    of a quantized ANN pipeline (quantize -> integer dot screen ->
    optional float rescore of survivors). The per-vector absmax scales
    CANCEL in the cosine ratio, so the score is a pure function of the
    integer codes: idot / sqrt(qq_a * qq_b) — exact integer sums fed to
    identical double math in both engines, no float-accumulation
    divergence possible.

    Scale shape mirrors x3: the 8 quantized queries broadcast, the
    corpus never shuffles, and the per-pair work is an int dot product —
    the 4x-smaller memory footprint and SIMD-friendly inner loop are
    exactly why production vector stores screen on int8 before
    rescoring. Ranking ties break on (rounded score, vec_id).

    Claimed error bound (property-tested in tests/test_similarity.py):
    per-component absmax error is <= scale/2, so the dequantized vector
    v̂ satisfies ||v - v̂||₂ <= scale·√d/2 and the quantized cosine is
    within eps(a) + eps(b) of the float cosine, where
    eps(v) = scale_v·√d / ||v||₂ (twice the normalized-difference
    bound). Consequently the screen can only drop a true top-k neighbor
    whose float score is within eps(dropped) + eps(kept) of a kept
    vector's — the margin a float rescore of survivors needs to cover."""
    emb = Catalog(spark, sf_dir).embeddings
    quantized = _absmax_quantize(emb).select(
        "vec_id",
        "_q",
        dot_int(F.col("_q"), F.col("_q")).alias("_qq"),
    )
    queries = quantized.filter(
        (F.col("vec_id") < 8) & (F.col("_qq") > 0)
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("_q").alias("_qa"),
        F.col("_qq").alias("_aqq"),
    )
    candidates = ensure_min_partitions(quantized).filter(F.col("_qq") > 0)
    scored = (
        candidates.crossJoin(F.broadcast(queries))
        .filter(F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(
                dot_int(F.col("_qa"), F.col("_q"))
                / F.sqrt(F.col("_aqq").cast("double") * F.col("_qq").cast("double")),
                4,
            ).alias("cos_q"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos_q").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", "vec_id", "cos_q")
    )


# X3b2 — hyperplane-LSH bucketing with a FULL oracle ---------------------------
#
# x3b is rows-only because ANN semantics are approximate — but the bucket
# ASSIGNMENT is deterministic: the hyperplanes come from an LCG hash
# recurrence (_hyperplane), not an RNG, so DuckDB can recompute every
# sign bit from the same plane literals. This twin emits the integer
# collision counts per (query, candidate) pair — bucket ids and counts
# are integers, so there is no float-rounding tie risk; a sign flip would
# need |dot| ~ 1e-15 (both engines sum the same float64 values).
# The oracle SQL is generated once at import with the plane weights
# inlined as literals (1536 doubles — trivial for DuckDB to parse; the
# Spark side keeps the one-GEMM pandas UDF, no literal blowup there).

_X3B2_TABLES = 4
_X3B2_BITS = 6


def _x3b2_oracle() -> str:
    planes = [
        _hyperplane(64, p) for p in range(_X3B2_TABLES * _X3B2_BITS)
    ]
    rows = ",\n    ".join(
        "({}, [{}])".format(p, ", ".join(repr(v) for v in w))
        for p, w in enumerate(planes)
    )
    return f"""
WITH planes(p, w) AS (
  VALUES
    {rows}
),
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings WHERE vec_id < 100
),
bits AS (
  SELECT v.vec_id, pl.p // {_X3B2_BITS} AS tbl, pl.p % {_X3B2_BITS} AS bit,
         CASE WHEN list_dot_product(v.emb, pl.w) > 0 THEN 1 ELSE 0 END AS b
  FROM v CROSS JOIN planes pl
),
buckets AS (
  SELECT vec_id, tbl, CAST(sum(b * (1 << bit)) AS BIGINT) AS bucket
  FROM bits GROUP BY vec_id, tbl
)
SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
       count(*) AS n_collisions
FROM buckets q
JOIN buckets c ON q.tbl = c.tbl AND q.bucket = c.bucket
              AND q.vec_id <> c.vec_id
WHERE q.vec_id < 8
GROUP BY q.vec_id, c.vec_id
"""


@register("x3b2_similarity_lsh_oracle", oracle=_x3b2_oracle(), tags=("X3",))
def x3b2_similarity_lsh_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucket assignment exact-value checked end-to-end:
    per-vector sign bits, 6-bit bucket ids per table, and the per-pair
    collision counts the ANN candidate join is built on. Same pandas-UDF
    GEMM kernel as the flagship (x3b) — this query proves that kernel's
    buckets are exactly the advertised hyperplane signs, which is the
    part of ANN an oracle CAN pin down (recall quality stays a pytest
    invariant). Corpus restricted to vec_id < 100 for oracle cost."""
    emb = Catalog(spark, sf_dir).embeddings.filter(F.col("vec_id") < 100)
    tagged = emb.select(
        "vec_id",
        F.posexplode(lsh_buckets(F.col("embedding"))).alias("tbl", "bucket"),
    )
    queries = tagged.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        F.col("tbl").alias("q_tbl"),
        F.col("bucket").alias("q_bucket"),
    )
    return (
        tagged.join(
            F.broadcast(queries),
            (F.col("tbl") == F.col("q_tbl"))
            & (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("q_id")),
        )
        .groupBy("q_id", F.col("vec_id").alias("cand_id"))
        .agg(F.count("*").alias("n_collisions"))
    )


# X3h — ANN recall evaluation (IVF vs exact) ----------------------------------
#
# The evaluation harness an ANN deployment runs continuously: measure
# recall@k of the approximate index against exact brute force on a held
# -out query set. Both sides already exist as registered queries (x3
# exact, x3d IVF); this op joins their neighbor sets per query and
# reports hits / recall. At 100 TB the exact side runs on a SAMPLE of
# queries (it is the expensive leg by design) — the dataflow here is
# that sampled audit, not a full-corpus re-rank.

_X3H_ORACLE = f"""
WITH bf AS ({_X3_ORACLE}),
ivf AS ({_X3D_ORACLE}),
hits AS (
  SELECT bf.q_id, count(*) AS n_hits
  FROM bf JOIN ivf ON bf.q_id = ivf.q_id AND bf.vec_id = ivf.vec_id
  GROUP BY bf.q_id
),
truth AS (SELECT q_id, count(*) AS n_true FROM bf GROUP BY q_id)
SELECT t.q_id,
       t.n_true,
       coalesce(h.n_hits, 0)                              AS n_hits,
       round(coalesce(h.n_hits, 0) / CAST(t.n_true AS DOUBLE), 4) AS recall_at_k
FROM truth t LEFT JOIN hits h ON t.q_id = h.q_id
ORDER BY t.q_id
"""


@register("x3h_ann_recall_eval", oracle=_X3H_ORACLE, tags=("X3",))
def x3h_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@5 of the IVF index (x3d) against exact brute
    force (x3): join the two top-k sets on (q_id, vec_id), count hits,
    divide by the truth-set size. Composes the two registered queries
    verbatim — any change to either propagates to the audit — and the
    oracle composes their oracle SQL the same way, so the comparison
    chain stays airtight. Both legs broadcast the 8-query side; the
    final join/aggregate runs over k rows per query."""
    bf = x3_similarity_bruteforce(spark, sf_dir).select("q_id", "vec_id")
    ivf = x3d_similarity_ivf(spark, sf_dir).select("q_id", "vec_id")
    return recall_report(bf, ivf)


def recall_report(truth: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query recall@k, shared by the x3h and x3i audits (both are
    'the x3h shape' — sharing the code keeps the semantics from
    drifting): left-join the approx leg as a hit marker onto the exact
    truth set, then ONE per-query aggregate counts truth rows and hits
    together — a separate truth/hits aggregate pair would plan the
    whole expensive truth subtree twice (measured; no AQE reuse)."""
    marked = approx.select("q_id", "vec_id", F.lit(1).alias("hit"))
    return (
        truth.join(marked, ["q_id", "vec_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.count("hit").alias("n_hits"),
        )
        .select(
            "q_id",
            "n_true",
            "n_hits",
            F.round(
                F.col("n_hits") / F.col("n_true").cast("double"), 4
            ).alias("recall_at_k"),
        )
        .orderBy("q_id")
    )


# X3i — dimension-ablation recall (Matryoshka-style truncation audit) ---------
#
# The storage/latency question an embedding pipeline answers before
# shipping truncated vectors: if we keep only the first 16 of 64
# dimensions (4x smaller index), how much of the exact top-k survives?
# Same audit skeleton as x3h, but the approximate leg is brute force
# over TRUNCATED vectors rather than an index — isolating the cost of
# the representation, not the search structure.

_X3I_TRUNC_SQL = """
  SELECT t.q_id, t.vec_id FROM (
    SELECT q.q_id, v.vec_id,
           row_number() OVER (
             PARTITION BY q.q_id
             ORDER BY round(
               list_aggregate(list_transform(list_zip(q.emb, v.emb), p -> p[1] * p[2]), 'sum')
               / (sqrt(list_aggregate(list_transform(q.emb, x -> x*x), 'sum'))
                  * sqrt(list_aggregate(list_transform(v.emb, x -> x*x), 'sum'))), 4) DESC,
               v.vec_id) AS rn
    FROM (
      SELECT vec_id, list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
      WHERE list_aggregate(list_transform(embedding[1:16], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') > 0
    ) v
    JOIN (
      SELECT vec_id AS q_id, list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
      WHERE vec_id < 8
        AND list_aggregate(list_transform(embedding[1:16], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') > 0
    ) q ON v.vec_id <> q.q_id
  ) t WHERE t.rn <= 5
"""

_X3I_ORACLE = f"""
WITH bf AS ({_X3_ORACLE}),
trunc AS ({_X3I_TRUNC_SQL})
SELECT bf.q_id,
       count(*)            AS n_true,
       count(t.vec_id)     AS n_hits,
       round(count(t.vec_id) / CAST(count(*) AS DOUBLE), 4) AS recall_at_k
FROM bf LEFT JOIN trunc t ON bf.q_id = t.q_id AND bf.vec_id = t.vec_id
GROUP BY bf.q_id
ORDER BY bf.q_id
"""


@register("x3i_dim_truncation_recall", oracle=_X3I_ORACLE, tags=("X3",))
def x3i_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of 16-dim-truncated cosine search against the full
    64-dim exact top-5. Both legs broadcast the 8 queries and stream the
    corpus map-side (no corpus shuffle); the truncated leg's payload is
    4x smaller, which is the production win being audited. Zero-norm
    truncations are filtered on both sides before any divide (ANSI).
    One pass over each leg — the hit marker joins into a single
    per-query aggregate, the x3h shape."""
    emb = Catalog(spark, sf_dir).embeddings
    sliced = F.slice(_dvec("embedding"), 1, 16)
    vecs = (
        emb.select(
            "vec_id", sliced.alias("emb"), l2_norm(sliced).alias("nrm")
        )
        .filter(F.col("nrm") > 0)
    )
    queries = (
        emb.filter(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").alias("q_id"),
            sliced.alias("q_emb"),
            l2_norm(sliced).alias("q_nrm"),
        )
        .filter(F.col("q_nrm") > 0)
    )
    scored = (
        ensure_min_partitions(vecs)
        .crossJoin(F.broadcast(queries))
        .filter(F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            "vec_id",
            cosine(F.col("q_emb"), F.col("emb")).alias("cos"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.round("cos", 4).desc(), F.col("vec_id"))
    trunc = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", "vec_id")
    )
    bf = x3_similarity_bruteforce(spark, sf_dir).select("q_id", "vec_id")
    return recall_report(bf, trunc)


# X3j — product quantization (PQ) codes ---------------------------------------
#
# The third compression scheme beside absmax-int8 (x3f) and the IVF
# coarse index (x3d): split each 64-dim vector into 4 blocks of 16,
# quantize each block to its nearest of 16 per-block codebook entries,
# store 4 small codes (64 dims -> 4 bytes, a 64x shrink) — the
# FAISS-style memory-bound ANN layout. Codebooks here follow the x3d
# determinism convention (entries = the first 16 corpus vectors, sliced
# per block; production trains them with k-means): the dataflow —
# broadcast codebook, per-row per-block argmin, map-only — is the
# production one.

_PQ_BLOCKS, _PQ_BLOCK_DIM, _PQ_K = 4, 16, 16


def _pq_codebook(vecs: DataFrame) -> DataFrame:
    """THE single definition of the PQ codebook: the vec_id < _PQ_K
    corpus entries as one :func:`_centroid_array` row. The encoder
    (x3j), the searchers (x3k, x3m) and x3m's coarse quantizer all build
    from this, so they cannot drift onto different codebooks."""
    return _centroid_array(
        vecs.filter(F.col("vec_id") < _PQ_K).select(
            F.col("vec_id").alias("cent_id"), F.col("emb").alias("cemb")
        )
    )


def _pq_block_sqdist_sql(a: str, b: str, blk: int) -> str:
    """Squared-L2 fold over 16-dim block ``blk`` of two array columns as
    a SQL fragment — same left-to-right fold order as the oracle's
    list_aggregate, and the single site for the distance law the
    encoder's argmin and the searcher's tables share."""
    lo = blk * _PQ_BLOCK_DIM + 1
    return (
        f"aggregate(zip_with(slice({a}, {lo}, {_PQ_BLOCK_DIM}), "
        f"slice({b}, {lo}, {_PQ_BLOCK_DIM}), "
        f"(x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"
    )


def _pq_full_sqdist(a: Column, b: Column) -> Column:
    """Full-vector squared L2 as the SUM OF THE FOUR BLOCK FOLDS (not one
    64-term fold), as a :func:`nearest_cells` distance: float addition
    is non-associative, so the coarse quantizer must group terms the
    way the block folds of :func:`_pq_block_sqdist_sql` and the oracle
    do for its cell picks to agree bit-for-bit."""
    blocks = [
        sqdist(
            F.slice(a, blk * _PQ_BLOCK_DIM + 1, _PQ_BLOCK_DIM),
            F.slice(b, blk * _PQ_BLOCK_DIM + 1, _PQ_BLOCK_DIM),
        )
        for blk in range(_PQ_BLOCKS)
    ]
    return reduce(operator.add, blocks)


def _pq_argmin_sql(dist_sql: str) -> str:
    """Argmin fold over the broadcast codebook: strict (distance,
    cent_id) comparison, so the result is independent of collect_list's
    nondeterministic array order. Returns a struct with fields ``bid``
    (winning cent_id) and ``bd`` (its distance): the per-block encoder
    of x3j."""
    return f"""
        aggregate(
          transform(cents, c -> named_struct('cid', c.cent_id, 'd', {dist_sql})),
          named_struct('bid', CAST(-1 AS BIGINT), 'bd', CAST('Infinity' AS DOUBLE)),
          (acc, s) -> IF(s.d < acc.bd OR (s.d = acc.bd AND s.cid < acc.bid),
                         named_struct('bid', s.cid, 'bd', s.d), acc))
    """


def _pq_dist_table_sql(q_col: str, blk: int) -> str:
    """Per-block ADC distance table: a map KEYED BY cent_id from the
    broadcast codebook to the block's squared L2 against ``q_col``.
    Single site shared by the flat searcher (x3k) and IVF-PQ (x3m)."""
    return (
        f"map_from_entries(transform(cents, c -> "
        f"struct(c.cent_id, {_pq_block_sqdist_sql(q_col, 'c.cemb', blk)})))"
    )


_X3J_ORACLE = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
cent AS (
  SELECT c.vec_id AS cent_id, g.b,
         c.emb[g.b * {_PQ_BLOCK_DIM} + 1 : (g.b + 1) * {_PQ_BLOCK_DIM}] AS cvec
  FROM (SELECT vec_id, emb FROM e WHERE vec_id < {_PQ_K}) c,
       LATERAL (SELECT unnest(range({_PQ_BLOCKS})) AS b) g
),
dists AS (
  SELECT v.vec_id, cent.b, cent.cent_id,
         list_aggregate(list_transform(
           list_zip(v.emb[cent.b * {_PQ_BLOCK_DIM} + 1 : (cent.b + 1) * {_PQ_BLOCK_DIM}],
                    cent.cvec),
           p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') AS d
  FROM e v CROSS JOIN cent
),
best AS (
  SELECT vec_id, b, cent_id AS code, d FROM (
    SELECT vec_id, b, cent_id, d,
           row_number() OVER (PARTITION BY vec_id, b ORDER BY d, cent_id) AS rn
    FROM dists
  ) WHERE rn = 1
)
SELECT vec_id,
       CAST(max(CASE WHEN b = 0 THEN code END) AS INT) AS code_0,
       CAST(max(CASE WHEN b = 1 THEN code END) AS INT) AS code_1,
       CAST(max(CASE WHEN b = 2 THEN code END) AS INT) AS code_2,
       CAST(max(CASE WHEN b = 3 THEN code END) AS INT) AS code_3,
       round(sum(d), 4)                                AS recon_err
FROM best
GROUP BY vec_id
"""


@register("x3j_pq_codes", oracle=_X3J_ORACLE, tags=("X3",))
def x3j_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-encode every vector: per-block nearest-codebook-entry codes
    plus the total reconstruction error (sum of per-block squared L2
    residuals).

    Scale shape: the 16-entry codebook collapses to ONE broadcast array
    row and each vector folds a per-block argmin over it — map-only,
    zero shuffle, no window (the x2j assignment pattern; a row_number
    over the n*K crossJoin would shuffle K-inflated corpus rows). The
    fold's strict (distance, cent_id) comparison makes every code
    independent of collect_list's nondeterministic array order."""
    emb = Catalog(spark, sf_dir).embeddings
    vecs = emb.select("vec_id", _dvec("embedding").alias("emb"))
    cent_arr = _pq_codebook(vecs)

    def block_best(b: int) -> F.Column:
        return F.expr(_pq_argmin_sql(_pq_block_sqdist_sql("emb", "c.cemb", b)))

    coded = vecs.crossJoin(F.broadcast(cent_arr)).select(
        "vec_id",
        *[block_best(b).alias(f"_b{b}") for b in range(_PQ_BLOCKS)],
    )
    return coded.select(
        "vec_id",
        *[F.col(f"_b{b}.bid").cast("int").alias(f"code_{b}") for b in range(_PQ_BLOCKS)],
        F.round(
            sum(F.col(f"_b{b}.bd") for b in range(_PQ_BLOCKS)), 4
        ).alias("recon_err"),
    )


# X3k — ADC (asymmetric distance computation) top-k over PQ codes -------------
#
# The search half of the PQ story: queries stay full-precision, the
# corpus is only its 4-byte x3j codes. Per query, precompute a 4x16
# distance table (squared L2 from each query block to each codebook
# block entry); a corpus vector's approximate distance is then 4 table
# lookups + 3 adds — no float vector math per candidate at all. This is
# the FAISS IndexPQ search kernel re-expressed as DataFrame ops: the
# distance tables ride the broadcast (8 queries x 4 blocks x 16 doubles),
# the corpus streams map-side as codes.

def _x3k_oracle_sql(k: int) -> str:
    """The ADC search law at shortlist size ``k`` — k=5 is the
    registered x3k; x3n composes k=20 as its refine shortlist."""
    return f"""
WITH codes AS ({_X3J_ORACLE}),
e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
cent AS (
  SELECT c.vec_id AS cent_id, g.b,
         c.emb[g.b * {_PQ_BLOCK_DIM} + 1 : (g.b + 1) * {_PQ_BLOCK_DIM}] AS cvec
  FROM (SELECT vec_id, emb FROM e WHERE vec_id < {_PQ_K}) c,
       LATERAL (SELECT unnest(range({_PQ_BLOCKS})) AS b) g
),
dt AS (
  SELECT q.vec_id AS q_id, cent.b, cent.cent_id,
         list_aggregate(list_transform(
           list_zip(q.emb[cent.b * {_PQ_BLOCK_DIM} + 1 : (cent.b + 1) * {_PQ_BLOCK_DIM}],
                    cent.cvec),
           p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') AS d
  FROM (SELECT vec_id, emb FROM e WHERE vec_id < 8) q CROSS JOIN cent
),
scored AS (
  SELECT t0.q_id, c.vec_id, t0.d + t1.d + t2.d + t3.d AS adc
  FROM codes c
  JOIN dt t0 ON t0.b = 0 AND t0.cent_id = c.code_0
  JOIN dt t1 ON t1.b = 1 AND t1.cent_id = c.code_1 AND t1.q_id = t0.q_id
  JOIN dt t2 ON t2.b = 2 AND t2.cent_id = c.code_2 AND t2.q_id = t0.q_id
  JOIN dt t3 ON t3.b = 3 AND t3.cent_id = c.code_3 AND t3.q_id = t0.q_id
  WHERE c.vec_id <> t0.q_id
)
SELECT q_id, vec_id, round(adc, 4) AS adc_dist
FROM (
  SELECT q_id, vec_id, adc,
         row_number() OVER (PARTITION BY q_id ORDER BY round(adc, 4), vec_id) AS rn
  FROM scored
) WHERE rn <= {k}
"""


_X3K_ORACLE = _x3k_oracle_sql(5)


@register("x3k_pq_adc_topk", oracle=_X3K_ORACLE, tags=("X3",))
def x3k_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 nearest corpus vectors per query by PQ asymmetric distance:
    the corpus side is ONLY the x3j codes (and the codebook is the
    shared ``_pq_codebook`` — encoder and searcher can never drift
    apart), the query side precomputes per-block distance tables
    against it, and scoring is pure table lookups (``element_at`` per
    block + adds).

    Scale shape: codebook and per-query tables both broadcast; the
    corpus streams through map-side as 4-byte codes — at 100 TB the
    scored payload is 64x smaller than the float vectors, which is the
    entire point of PQ. Each table is a ``map_from_entries`` map KEYED
    BY cent_id, so lookups stay correct even if the codebook ids are
    non-contiguous (a positional array lookup would silently read the
    wrong slot there) and a code with no codebook entry fails loudly.
    The per-block fold order matches the oracle's list_aggregate
    exactly, so distances agree bit-for-bit at rounding precision."""
    return _pq_adc_topk(spark, sf_dir, k=5)


def _pq_adc_topk(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """THE ADC search kernel at shortlist size ``k`` (the Spark half of
    ``_x3k_oracle_sql``): k=5 is the registered x3k, k=20 feeds x3n's
    exact-rescore refine stage. One implementation so the search and
    refine entries can never score differently."""
    emb = Catalog(spark, sf_dir).embeddings
    vecs = emb.select("vec_id", _dvec("embedding").alias("emb"))
    cent_arr = _pq_codebook(vecs)

    qtab = (
        vecs.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb"))
        .crossJoin(F.broadcast(cent_arr))
        .select(
            "q_id",
            *[
                F.expr(_pq_dist_table_sql("q_emb", b)).alias(f"dt_{b}")
                for b in range(_PQ_BLOCKS)
            ],
        )
    )
    codes = x3j_pq_codes(spark, sf_dir).select(
        "vec_id", *[f"code_{b}" for b in range(_PQ_BLOCKS)]
    )
    adc = sum(
        F.element_at(F.col(f"dt_{b}"), F.col(f"code_{b}").cast("bigint"))
        for b in range(_PQ_BLOCKS)
    )
    scored = (
        ensure_min_partitions(codes)
        .crossJoin(F.broadcast(qtab))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", adc.alias("adc"))
    )
    w = W.partitionBy("q_id").orderBy(F.round("adc", 4).asc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", F.round("adc", 4).alias("adc_dist"))
    )


# X3l — PQ recall audit (ADC top-5 vs exact L2 top-5) -------------------------
#
# Closes the PQ loop the way x3h closes IVF's: how much of the TRUE
# nearest-neighbor set survives searching 4-byte codes instead of
# 256-byte vectors? Truth here is exact squared-L2 top-5 (the metric ADC
# approximates — cosine truth would conflate metric choice with
# quantization loss).

_X3L_EXACT_SQL = """
  SELECT q_id, vec_id FROM (
    SELECT q.q_id, c.vec_id,
           row_number() OVER (
             PARTITION BY q.q_id
             ORDER BY round(list_aggregate(list_transform(
                        list_zip(q.emb, c.emb),
                        p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 4),
               c.vec_id) AS rn
    FROM (SELECT vec_id AS q_id, emb FROM e2 WHERE vec_id < 8) q
    CROSS JOIN e2 c
    WHERE c.vec_id <> q.q_id
  ) WHERE rn <= 5
"""

_X3L_ORACLE = f"""
WITH adc AS ({_X3K_ORACLE}),
e2 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
exact AS ({_X3L_EXACT_SQL})
SELECT exact.q_id,
       count(*)                AS n_true,
       count(a.vec_id)         AS n_hits,
       round(count(a.vec_id) / CAST(count(*) AS DOUBLE), 4) AS recall_at_k
FROM exact LEFT JOIN adc a ON exact.q_id = a.q_id AND exact.vec_id = a.vec_id
GROUP BY exact.q_id
ORDER BY exact.q_id
"""


@register("x3l_pq_recall", oracle=_X3L_ORACLE, tags=("X3",))
def x3l_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@5 of ADC-over-PQ-codes (x3k, composed verbatim)
    against exact squared-L2 top-5 over the full vectors. Same
    recall_report skeleton as x3h/x3i; the exact leg broadcasts the 8
    queries and streams the corpus map-side, mirroring x3's shape with
    the L2 metric."""
    emb = Catalog(spark, sf_dir).embeddings
    vecs = emb.select("vec_id", _dvec("embedding").alias("emb"))
    queries = vecs.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    scored = (
        ensure_min_partitions(vecs)
        .crossJoin(F.broadcast(queries))
        .filter(F.col("q_id") != F.col("vec_id"))
        .select("q_id", "vec_id", sqdist(F.col("q_emb"), F.col("emb")).alias("d"))
    )
    w = W.partitionBy("q_id").orderBy(F.round("d", 4).asc(), F.col("vec_id"))
    exact = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", "vec_id")
    )
    adc = x3k_pq_adc_topk(spark, sf_dir).select("q_id", "vec_id")
    return recall_report(exact, adc)


# X3m — IVF-PQ search (coarse cells + ADC over codes) -------------------------
#
# The composition FAISS ships as IndexIVFPQ (no-residual variant): the
# coarse quantizer restricts each query to its nprobe nearest cells and
# ADC scores only the 4-byte codes inside them — sublinear probe AND
# 64x-compressed scoring in one index. The coarse quantizer here is the
# same deterministic 16-entry codebook at full width (cell = argmin
# full-vector L2), and every distance is built from the same single-site
# block folds as x3j/x3k, so encoder, coarse quantizer, and searcher
# cannot drift; the oracle composes x3j's SQL verbatim for the codes.

_PQ_NPROBE = 2


def _duck_block_sqdist(a: str, b: str, blk: int) -> str:
    lo, hi = blk * _PQ_BLOCK_DIM + 1, (blk + 1) * _PQ_BLOCK_DIM
    return (
        f"list_aggregate(list_transform(list_zip({a}[{lo}:{hi}], {b}[{lo}:{hi}]), "
        f"p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum')"
    )


def _duck_full_sqdist(a: str, b: str) -> str:
    # block-grouped to match _pq_full_sqdist_sql's float addition order
    return " + ".join(
        _duck_block_sqdist(a, b, blk) for blk in range(_PQ_BLOCKS)
    )


_X3M_ORACLE = f"""
WITH codes AS ({_X3J_ORACLE}),
e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
cb AS (SELECT vec_id AS cent_id, emb AS cemb FROM e WHERE vec_id < {_PQ_K}),
cent AS (
  SELECT cb.cent_id, g.b,
         cb.cemb[g.b * {_PQ_BLOCK_DIM} + 1 : (g.b + 1) * {_PQ_BLOCK_DIM}] AS cvec
  FROM cb, LATERAL (SELECT unnest(range({_PQ_BLOCKS})) AS b) g
),
cells AS (
  SELECT vec_id, cent_id AS cell FROM (
    SELECT v.vec_id, cb.cent_id,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_duck_full_sqdist("v.emb", "cb.cemb")}, cb.cent_id) AS rn
    FROM e v CROSS JOIN cb
  ) WHERE rn = 1
),
probe AS (
  SELECT q_id, cent_id AS cell FROM (
    SELECT q.vec_id AS q_id, cb.cent_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY {_duck_full_sqdist("q.emb", "cb.cemb")}, cb.cent_id) AS rn
    FROM (SELECT vec_id, emb FROM e WHERE vec_id < 8) q CROSS JOIN cb
  ) WHERE rn <= {_PQ_NPROBE}
),
dt AS (
  SELECT q.vec_id AS q_id, cent.b, cent.cent_id,
         list_aggregate(list_transform(
           list_zip(q.emb[cent.b * {_PQ_BLOCK_DIM} + 1 : (cent.b + 1) * {_PQ_BLOCK_DIM}],
                    cent.cvec),
           p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') AS d
  FROM (SELECT vec_id, emb FROM e WHERE vec_id < 8) q CROSS JOIN cent
),
scored AS (
  SELECT p.q_id, c.vec_id, t0.d + t1.d + t2.d + t3.d AS adc
  FROM codes c
  JOIN cells cl ON cl.vec_id = c.vec_id
  JOIN probe p  ON p.cell = cl.cell
  JOIN dt t0 ON t0.q_id = p.q_id AND t0.b = 0 AND t0.cent_id = c.code_0
  JOIN dt t1 ON t1.q_id = p.q_id AND t1.b = 1 AND t1.cent_id = c.code_1
  JOIN dt t2 ON t2.q_id = p.q_id AND t2.b = 2 AND t2.cent_id = c.code_2
  JOIN dt t3 ON t3.q_id = p.q_id AND t3.b = 3 AND t3.cent_id = c.code_3
  WHERE c.vec_id <> p.q_id
)
SELECT q_id, vec_id, round(adc, 4) AS adc_dist
FROM (
  SELECT q_id, vec_id, adc,
         row_number() OVER (PARTITION BY q_id ORDER BY round(adc, 4), vec_id) AS rn
  FROM scored
) WHERE rn <= 5
"""


def _pq_ingest_fold(vec: str) -> Column:
    """x3m's fused ingest over the broadcast codebook ``cents``: one
    struct with the coarse cell (``cell``) and the four PQ codes
    (``a0``..``a3``) of the array column ``vec``, each a (bid, bd)
    struct like :func:`_pq_argmin_sql`'s."""
    # One fold computes cell AND codes: the transform materializes each
    # codebook entry's 4 block distances ONCE, and the fold's five
    # argmins read those fields — five separate argmin expressions would
    # each re-evaluate the 16x4 block folds (Catalyst cannot CSE across
    # lambda scopes), doubling the distance math in the ingest hot path.
    # That is also why the cell pick here is not a nearest_cells call.
    # The cell distance is d0+d1+d2+d3, the same block grouping as
    # _pq_full_sqdist / the oracle, and the same (d, cent_id) tie law.
    dists = ", ".join(
        f"'d{b}', {_pq_block_sqdist_sql(vec, 'c.cemb', b)}"
        for b in range(_PQ_BLOCKS)
    )
    full = " + ".join(f"s.d{b}" for b in range(_PQ_BLOCKS))
    init = ", ".join(
        f"'{k}', named_struct('bid', CAST(-1 AS BIGINT), "
        f"'bd', CAST('Infinity' AS DOUBLE))"
        for k in ["cell"] + [f"a{b}" for b in range(_PQ_BLOCKS)]
    )

    def pick(key: str, d: str) -> str:
        return (
            f"'{key}', IF({d} < acc.{key}.bd OR ({d} = acc.{key}.bd "
            f"AND s.cid < acc.{key}.bid), "
            f"named_struct('bid', s.cid, 'bd', {d}), acc.{key})"
        )

    steps = ", ".join(
        [pick("cell", full)] + [pick(f"a{b}", f"s.d{b}") for b in range(_PQ_BLOCKS)]
    )
    return F.expr(
        f"""
        aggregate(
          transform(cents, c -> named_struct('cid', c.cent_id, {dists})),
          named_struct({init}),
          (acc, s) -> named_struct({steps}))
        """
    )


@register("x3m_pq_ivf_search", oracle=_X3M_ORACLE, tags=("X3",))
def x3m_pq_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: each query ADC-scores only the PQ codes inside its
    nprobe=2 nearest coarse cells — the sublinear-probe, 64x-compressed
    search a billion-vector deployment actually runs.

    Scale shape: the ingest is ONE fused map-only corpus pass emitting
    (cell, codes) per vector against the broadcast codebook (composing
    x3j's codes via a vec_id join would shuffle the corpus; FAISS
    likewise encodes at add() time). The probe table — nprobe cells x
    per-query cent_id-keyed distance maps — broadcasts, and the scoring
    join is a cell equi-join, so each query's work is ~nprobe/K of the
    corpus and the corpus itself never shuffles before scoring. Cell
    and code argmins, and all distances, come from the same single-site
    block-fold helpers as x3j/x3k (float addition grouped identically
    to the oracle — non-associativity would otherwise flip argmin
    ties); the oracle composes x3j's SQL verbatim for the codes leg."""
    emb = Catalog(spark, sf_dir).embeddings
    vecs = emb.select("vec_id", _dvec("embedding").alias("emb"))
    cent_arr = _pq_codebook(vecs)

    assigned = (
        ensure_min_partitions(vecs)
        .crossJoin(F.broadcast(cent_arr))
        .select("vec_id", _pq_ingest_fold("emb").alias("_r"))
        .select(
            "vec_id",
            F.col("_r.cell.bid").alias("cell"),
            *[
                F.col(f"_r.a{b}.bid").cast("int").alias(f"code_{b}")
                for b in range(_PQ_BLOCKS)
            ],
        )
    )

    queries = vecs.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    # each query's nprobe cells, each row carrying the query's per-block
    # distance tables: one map-side pass over the broadcast codebook
    near = nearest_cells(
        F.col("q_emb"), F.col("cents"), _pq_full_sqdist, n=_PQ_NPROBE
    )["cid"]
    probe_tab = queries.crossJoin(F.broadcast(cent_arr)).select(
        "q_id",
        F.explode(near).alias("cell"),
        *[
            F.expr(_pq_dist_table_sql("q_emb", b)).alias(f"dt_{b}")
            for b in range(_PQ_BLOCKS)
        ],
    )

    adc = sum(
        F.element_at(F.col(f"dt_{b}"), F.col(f"code_{b}").cast("bigint"))
        for b in range(_PQ_BLOCKS)
    )
    scored = (
        assigned.join(F.broadcast(probe_tab), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", adc.alias("adc"))
    )
    w = W.partitionBy("q_id").orderBy(F.round("adc", 4).asc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", "vec_id", F.round("adc", 4).alias("adc_dist"))
    )


# X3n — PQ search with exact refine (FAISS IndexRefineFlat) -------------------
#
# The production PQ deployment pattern x3l's recall numbers motivate:
# ADC over 4-byte codes SHORTLISTS (top-20 per query), then only the
# shortlist's full-precision vectors are fetched and exact-rescored to
# produce the final top-5 — recall close to exact search at ~shortlist/n
# of its vector-fetch cost. The shortlist leg IS the registered x3k
# kernel (shared `_pq_adc_topk` / `_x3k_oracle_sql`, k=20), and the
# exact distance uses the same zip-fold law x3l's truth leg uses, so
# neither stage can drift from the operators it composes.

_X3N_SHORTLIST = 20

_X3N_ORACLE = f"""
WITH shortlist AS ({_x3k_oracle_sql(_X3N_SHORTLIST)}),
e2 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
refined AS (
  SELECT s.q_id, s.vec_id,
         round(list_aggregate(list_transform(
           list_zip(q.emb, c.emb),
           p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 4) AS exact_dist
  FROM shortlist s
  JOIN e2 c ON s.vec_id = c.vec_id
  JOIN (SELECT vec_id AS q_id, emb FROM e2 WHERE vec_id < 8) q
    ON s.q_id = q.q_id
)
SELECT q_id, vec_id, exact_dist
FROM (
  SELECT q_id, vec_id, exact_dist,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY exact_dist, vec_id) AS rn
  FROM refined
) WHERE rn <= 5
"""


@register("x3n_pq_refine_topk", oracle=_X3N_ORACLE, tags=("X3",))
def x3n_pq_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final top-5 per query after exact squared-L2 rescoring of the
    ADC top-20 shortlist.

    Scale shape: the shortlist is queries x 20 rows — broadcast-small
    by construction — so the full-vector fetch is a broadcast join
    PROBING the corpus (the corpus is never shuffled or re-scored
    wholesale; only shortlist members pay the 256-byte vector read),
    the query vectors ride a second tiny broadcast, and the rescore
    window partitions by q_id over <=20 rows per query. The exact
    fold groups identically to the oracle's list_aggregate (x3l's
    proven law), so distances agree at rounding precision."""
    emb = Catalog(spark, sf_dir).embeddings
    vecs = emb.select("vec_id", _dvec("embedding").alias("emb"))
    shortlist = _pq_adc_topk(spark, sf_dir, k=_X3N_SHORTLIST).select(
        "q_id", "vec_id"
    )
    qv = vecs.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    exact = F.round(
        F.aggregate(
            F.zip_with("q_emb", "emb", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        4,
    )
    refined = (
        vecs.join(F.broadcast(shortlist), "vec_id")
        .join(F.broadcast(qv), "q_id")
        .select("q_id", "vec_id", exact.alias("exact_dist"))
    )
    w = W.partitionBy("q_id").orderBy("exact_dist", "vec_id")
    return (
        refined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", "vec_id", "exact_dist")
    )


# X3p — IVF nprobe tuning curve (recall-vs-probe-width sweep) -----------------
#
# x2m's counterpart for ANN: before an operator pins nprobe, they run
# the sweep — recall@5 against exact truth at each candidate probe
# width — and pick the knee. Each leg IS the registered x3d kernel
# (shared `_ivf_topk` / `_x3d_oracle_sql`), the truth leg IS x3's
# brute-force oracle, so the curve can never drift from the operators
# it tunes. Recall is monotone nondecreasing in nprobe by construction
# (wider probes only ADD candidate cells) — pytest-pinned.
#
# Scale shape: the ivf legs union FIRST (tagged by nprobe) and join the
# truth set ONCE, so the brute-force side — the expensive leg — is
# planned twice (hits + truth count), not once per probe width; the
# legs share nothing Catalyst can reuse, which is the audit's cost and
# the reason production runs it on a query SAMPLE.

_X3P_PROBES = (1, 2, 4)


def _x3p_oracle() -> str:
    legs = ",\n".join(
        f"i{p} AS ({_x3d_oracle_sql(p)})" for p in _X3P_PROBES
    )
    union = "\n  UNION ALL\n  ".join(
        f"SELECT {p} AS nprobe, q_id, vec_id FROM i{p}" for p in _X3P_PROBES
    )
    values = ", ".join(f"({p})" for p in _X3P_PROBES)
    return f"""
WITH bf AS ({_X3_ORACLE}),
{legs},
u AS (
  {union}
),
hits AS (
  SELECT u.nprobe, count(*) AS n_hits
  FROM u JOIN bf ON u.q_id = bf.q_id AND u.vec_id = bf.vec_id
  GROUP BY u.nprobe
),
truth AS (SELECT count(*) AS n_true FROM bf)
SELECT CAST(p.nprobe AS INT)              AS nprobe,
       CAST(t.n_true AS BIGINT)           AS n_true,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       round(coalesce(h.n_hits, 0) / CAST(t.n_true AS DOUBLE), 4) AS recall
FROM (VALUES {values}) p(nprobe)
LEFT JOIN hits h ON p.nprobe = h.nprobe
CROSS JOIN truth t
ORDER BY p.nprobe
"""


@register("x3p_ivf_nprobe_sweep", oracle=_x3p_oracle(), tags=("X3",))
def x3p_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of IVF search at nprobe in {1, 2, 4} against exact
    brute-force truth — the tuning curve behind the nprobe knob.

    ONE corpus scoring pass serves every probe width: the width-k
    probe set is by definition the first k cells of the width-4 probe
    ranking, so the sweep scores the corpus once against the WIDEST
    probe set with the cell rank attached and derives each leg by
    ``cell_rn <= k`` + the shared rank law — the candidates and scores
    are the ones leg k would have computed itself (identical join,
    filter, and scoring sites). The scored frame is the only thing
    replayed across legs, and it checkpoints as four narrow columns
    (two ids, a double, a rank): re-running the assignment+scoring
    corpus pass per leg, or persisting corpus x 64-double embeddings,
    measured 2x slower at sf0.1. The brute-force truth (8 queries x 5
    rows) checkpoints across its two consumers the same way."""
    bf = (
        x3_similarity_bruteforce(spark, sf_dir)
        .select("q_id", "vec_id")
        .localCheckpoint(eager=False)
    )
    scored = _ivf_score(
        _ivf_assign(spark, sf_dir),
        _ivf_probe(spark, sf_dir, max(_X3P_PROBES), with_rank=True),
    ).localCheckpoint(eager=False)
    legs = [
        _ivf_rank(scored.filter(F.col("cell_rn") <= p))
        .select("q_id", "vec_id")
        .withColumn("nprobe", F.lit(p))
        for p in _X3P_PROBES
    ]
    u = reduce(lambda a, b: a.unionByName(b), legs)
    hits = (
        u.join(bf, ["q_id", "vec_id"])
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    truth = bf.agg(F.count(F.lit(1)).alias("n_true"))
    probes = spark.createDataFrame(
        [(p,) for p in _X3P_PROBES], "nprobe int"
    )
    return (
        probes.join(F.broadcast(hits), "nprobe", "left")
        .crossJoin(F.broadcast(truth))
        .select(
            F.col("nprobe").cast("int").alias("nprobe"),
            F.col("n_true").cast("long").alias("n_true"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0))
                / F.col("n_true").cast("double"),
                4,
            ).alias("recall"),
        )
        .orderBy("nprobe")
    )


# X3q — Matryoshka (truncated-dimension) shortlist + full-dim rescore ----------
#
# The public MRL adaptive-retrieval recipe (Kusupati et al. 2022,
# "Matryoshka Representation Learning"): score cheaply with a PREFIX of
# the embedding dimensions (MRL trains prefixes to be usable
# representations), shortlist, then rerank the shortlist with the full
# vector. The same funnel as x3n's PQ refine, with dimension truncation
# as the compression axis instead of codebook quantization — the two
# compose the engine's "cheap screen, exact finish" family.
#
# Scale shape: the streaming pass computes PREFIX cosines only (16 of
# 64 dims -> 4x fewer multiplies on the corpus scan); the shuffle
# carries (q_id, vec_id, score) triples, never vectors; the shortlist
# (n_queries x 20 ids) broadcast-joins back to the corpus for exact
# rescoring, so full vectors are only touched for shortlisted rows.

_X3Q_PRE_DIM = 16
_X3Q_SHORTLIST = 20
_X3Q_K = 5


def _x3q_oracle_sql(pre_dim: int) -> str:
    return f"""
WITH q AS (
  SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb
  FROM embeddings WHERE vec_id < 8
),
c AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
pre AS (
  SELECT q.q_id, c.vec_id, q.q_emb, c.emb,
         list_aggregate(list_transform(list_zip(q.q_emb[1:{pre_dim}], c.emb[1:{pre_dim}]),
                                       p -> p[1] * p[2]), 'sum')
         / (sqrt(list_aggregate(list_transform(q.q_emb[1:{pre_dim}], x -> x*x), 'sum'))
            * sqrt(list_aggregate(list_transform(c.emb[1:{pre_dim}], x -> x*x), 'sum')))
           AS pre_cos
  FROM q CROSS JOIN c
  WHERE q.q_id <> c.vec_id
),
short AS (
  SELECT q_id, vec_id, q_emb, emb
  FROM (
    SELECT q_id, vec_id, q_emb, emb,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY round(pre_cos, 4) DESC, vec_id) AS rn
    FROM pre
  ) WHERE rn <= {_X3Q_SHORTLIST}
),
exact AS (
  SELECT q_id, vec_id,
         list_aggregate(list_transform(list_zip(q_emb, emb), p -> p[1] * p[2]), 'sum')
         / (sqrt(list_aggregate(list_transform(q_emb, x -> x*x), 'sum'))
            * sqrt(list_aggregate(list_transform(emb, x -> x*x), 'sum'))) AS cos_sim
  FROM short
)
SELECT q_id, vec_id, round(cos_sim, 4) AS cos_sim
FROM (
  SELECT q_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY round(cos_sim, 4) DESC, vec_id) AS rn
  FROM exact
) WHERE rn <= {_X3Q_K}
"""


_X3Q_ORACLE = _x3q_oracle_sql(_X3Q_PRE_DIM)


def _mrl_topk(spark: SparkSession, sf_dir: str, pre_dim: int) -> DataFrame:
    """MRL funnel parameterized on the prefix width (pre_dim = full
    dimension degenerates to exact brute force — the pinned law)."""
    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), _dvec("embedding").alias("q_emb")
    )
    candidates = ensure_min_partitions(emb).select(
        "vec_id", _dvec("embedding").alias("emb")
    )
    pre = (
        candidates.crossJoin(F.broadcast(queries))
        .filter(F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            "vec_id",
            cosine(
                F.slice(F.col("q_emb"), 1, pre_dim),
                F.slice(F.col("emb"), 1, pre_dim),
            ).alias("pre_cos"),
        )
    )
    w_pre = W.partitionBy("q_id").orderBy(
        F.round("pre_cos", 4).desc(), F.col("vec_id")
    )
    short = (
        pre.withColumn("rn", F.row_number().over(w_pre))
        .filter(F.col("rn") <= _X3Q_SHORTLIST)
        .select("q_id", "vec_id")
    )
    rescored = (
        candidates.join(F.broadcast(short), "vec_id")
        .join(F.broadcast(queries), "q_id")
        .select(
            "q_id",
            "vec_id",
            cosine(F.col("q_emb"), F.col("emb")).alias("cos_sim"),
        )
    )
    w_ex = W.partitionBy("q_id").orderBy(
        F.round("cos_sim", 4).desc(), F.col("vec_id")
    )
    return (
        rescored.withColumn("rn", F.row_number().over(w_ex))
        .filter(F.col("rn") <= _X3Q_K)
        .select("q_id", "vec_id", F.round("cos_sim", 4).alias("cos_sim"))
    )


@register("x3q_mrl_refine_topk", oracle=_X3Q_ORACLE, tags=("X3",))
def x3q_mrl_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbors via the Matryoshka funnel: 16-dim prefix cosine
    shortlists 20 candidates per query, exact 64-dim cosine reranks.
    pre_dim = 64 provably degenerates to x3's exact answer
    (pytest-pinned)."""
    return _mrl_topk(spark, sf_dir, _X3Q_PRE_DIM)


# X3r — k-means Lloyd step (the centroid trainer behind IVF and SemDeDup) ------
#
# x3d (IVF cells) and x2j (SemDeDup clusters) both consume centroids;
# this operator is the step that PRODUCES them: one Lloyd iteration —
# assign every vector to its nearest centroid (squared L2), then move
# each centroid to the mean of its members. Deterministic everywhere a
# k-means implementation is usually random: init = the vec_id < K
# vectors (k-means|| init would be seeded sampling; same dataflow),
# distance ties -> smallest centroid id, and the distance fold runs
# left-to-right over dimensions in BOTH engines (Spark F.aggregate ==
# DuckDB list_reduce, the w10 law), so argmin decisions are bit-exact
# across engines — only the new-centroid means need rounding.
#
# Scale shape: the K centroids collapse to ONE broadcast row
# (_centroid_array) and assignment is the L2 nearest_cells fold over
# it: genuinely map-side, one corpus scan, no Window, no per-vector
# shuffle (a vec_id-partitioned window over the crossJoin-expanded
# (vector x centroid) table would hash-shuffle every embedding). Each
# distance is computed once per centroid and ties go to the smaller
# cid, matching the oracle's ORDER BY dist, cid.
# The update explodes assigned vectors to (cluster, dim, value) and
# hash-aggregates — the only shuffle, carrying one partial sum per
# (cluster, dim) per partition (map-side combine), i.e. K x 64 rows.
# Iterating = re-running with the emitted centroids; same plan each
# step. Plan-gated: no Window node, no cartesian, 3 scans.

_X3R_K = 8

_X3R_ORACLE = f"""
WITH c AS (
  SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
  FROM embeddings WHERE vec_id < {_X3R_K}
),
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
d AS (
  SELECT v.vec_id, c.cid, v.emb,
         list_reduce(list_transform(list_zip(v.emb, c.cvec),
                                    p -> (p[1] - p[2]) * (p[1] - p[2])),
                     (a, x) -> a + x) AS dist
  FROM v CROSS JOIN c
),
a AS (
  SELECT vec_id, cid, emb FROM (
    SELECT vec_id, cid, emb,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d
  ) WHERE rn = 1
),
m AS (
  SELECT cid, u.i AS dim_idx, avg(u.val) AS newv,
         count(*) AS n_members
  FROM (
    SELECT cid,
           unnest(list_transform(range(1, len(emb) + 1),
                                 i -> {{'i': i - 1, 'val': emb[i]}})) AS u
    FROM a
  )
  GROUP BY cid, u.i
)
SELECT m.cid AS cluster_id,
       CAST(m.dim_idx AS INT)        AS dim_idx,
       CAST(m.n_members AS BIGINT)   AS n_members,
       round(c.cvec[m.dim_idx + 1], 4) + 0.0 AS old_val,
       round(m.newv, 4) + 0.0        AS new_val
FROM m JOIN c ON m.cid = c.cid
ORDER BY cluster_id, dim_idx
"""


@register("x3r_kmeans_step", oracle=_X3R_ORACLE, tags=("X3",))
def x3r_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration over the embedding corpus: per (cluster,
    dimension), member count plus old and updated centroid coordinate.
    Assignment argmins are bit-exact across engines (ordered distance
    fold); only the means round."""
    emb = Catalog(spark, sf_dir).embeddings
    cent = emb.filter(F.col("vec_id") < _X3R_K).select(
        F.col("vec_id").alias("cid"), _dvec("embedding").alias("cvec")
    )
    v = ensure_min_partitions(emb).select("vec_id", _dvec("embedding").alias("emb"))
    centroids = cent.select(
        F.col("cid").alias("cent_id"), F.col("cvec").alias("cemb")
    )
    assigned = _l2_nearest(v, "emb", centroids).select(
        "vec_id", "emb", F.col("near.cid").alias("cid")
    )
    # member count rides in the SAME (cluster, dim) aggregate — every
    # dimension row of a cluster counts each member exactly once, so a
    # separate count would only re-plan the whole assignment subtree
    # (Catalyst shares nothing; this is what keeps the plan at 3 scans).
    m = (
        assigned.select("cid", F.posexplode("emb").alias("dim_idx", "val"))
        .groupBy("cid", "dim_idx")
        .agg(F.avg("val").alias("newv"), F.count(F.lit(1)).alias("n_members"))
    )
    return (
        m.join(F.broadcast(cent), "cid")
        .select(
            F.col("cid").alias("cluster_id"),
            F.col("dim_idx").cast("int").alias("dim_idx"),
            F.col("n_members").cast("long").alias("n_members"),
            # + 0.0 collapses IEEE -0.0 (a coordinate rounding to zero
            # from below) identically on both engines
            (F.round(F.element_at("cvec", F.col("dim_idx") + 1), 4) + 0.0).alias(
                "old_val"
            ),
            (F.round("newv", 4) + 0.0).alias("new_val"),
        )
        .orderBy("cluster_id", "dim_idx")
    )


# X3r2 — k-means TRAINING loop (Lloyd iterated; per-step inertia) --------------
#
# x3r is one Lloyd step; the centroids IVF (x3d) and SemDeDup (x2j)
# consume come from a training LOOP. x3r2 iterates the x3r kernel a
# fixed _X3R2_STEPS times: a driver loop in which each step is ONE
# distributed job (broadcast current centroids -> map-side argmin
# assignment -> per-(cluster, dim) partial+final aggregate), and the
# only thing ever collected per step is the K x dims centroid table
# itself — the same broadcastable set the next step ships back out.
# Per-step inertia (sum of assigned squared distances) rides in the
# same aggregate (sum(best_d) grouped by (cid, dim) is the per-cluster
# inertia at any single dim), so no second pass over the corpus.
#
# Cross-engine composition: new centroids round at 4dp INSIDE each
# engine before feeding the next step (F.round is HALF_UP like the
# SQL round; Python round() is banker's — rounding must happen in the
# engines, never in the driver), so both engines iterate from
# bit-identical centroid doubles; argmin folds are bit-exact (ordered
# zip_with/list_zip accumulation, the x3r law) and inertia snaps at
# 2dp. Empty clusters keep their previous centroid (n_members = 0,
# inertia 0.0) identically on both sides. The oracle composes the x3r
# SQL step _X3R2_STEPS times as a CTE chain — the naive re-statement
# of the same algorithm.
#
# Lloyd's law, pytest-pinned: per-step total inertia is monotone
# non-increasing (J(assign_t, cent_t) >= J(assign_t, cent_{t+1}) >=
# J(assign_{t+1}, cent_{t+1})); 4dp centroid snapping perturbs means
# by <= 5e-5 per coordinate, orders below the per-step descent at
# this step count.

_X3R2_STEPS = 3


def _x3r2_ctes() -> str:
    """The x3r2 training CTE chain through the final centroids
    c{{_X3R2_STEPS}} (plus the corpus view v) — split out of
    _x3r2_oracle under the byte-identity law (r15 precedents
    _X2E3_CTES / _X6X_CTES / _x6z_chain_sql) so the x2j2 SemDeDup
    prune oracle composes the REGISTERED training chain verbatim; a
    pytest proves _X3R2_ORACLE still equals this prefix + its final
    selects byte-for-byte."""
    parts = [
        f"""WITH c0 AS (
  SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
  FROM embeddings WHERE vec_id < {_X3R_K}
),
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
)"""
    ]
    for t in range(1, _X3R2_STEPS + 1):
        parts.append(
            f""",
a{t} AS (
  SELECT vec_id, cid, emb, dist FROM (
    SELECT v.vec_id, c.cid, v.emb,
           list_reduce(list_transform(list_zip(v.emb, c.cvec),
                                      p -> (p[1] - p[2]) * (p[1] - p[2])),
                       (a, x) -> a + x) AS dist,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             list_reduce(list_transform(list_zip(v.emb, c.cvec),
                                        p -> (p[1] - p[2]) * (p[1] - p[2])),
                         (a, x) -> a + x), c.cid) AS rn
    FROM v CROSS JOIN c{t - 1} c
  ) WHERE rn = 1
),
s{t} AS (
  SELECT cid, count(*) AS n_members,
         round(round(sum(dist), 6), 2) + 0.0 AS inertia
  FROM a{t} GROUP BY cid
),
c{t} AS (
  SELECT p.cid, coalesce(nv.cvec, p.cvec) AS cvec
  FROM c{t - 1} p LEFT JOIN (
    SELECT cid, list(newv ORDER BY dim_idx) AS cvec FROM (
      SELECT cid, u.i AS dim_idx, round(avg(u.val), 4) + 0.0 AS newv
      FROM (
        SELECT cid,
               unnest(list_transform(range(1, len(emb) + 1),
                                     i -> {{'i': i - 1, 'val': emb[i]}})) AS u
        FROM a{t}
      ) GROUP BY cid, u.i
    ) GROUP BY cid
  ) nv ON p.cid = nv.cid
)"""
        )
    return "".join(parts)


def _x3r2_oracle() -> str:
    selects = [
        f"""SELECT {t} AS step, p.cid AS cluster_id,
       CAST(coalesce(s.n_members, 0) AS BIGINT) AS n_members,
       coalesce(s.inertia, 0.0) AS inertia
FROM c{t - 1} p LEFT JOIN s{t} s ON p.cid = s.cid"""
        for t in range(1, _X3R2_STEPS + 1)
    ]
    return (
        _x3r2_ctes()
        + "\nSELECT * FROM (\n"
        + "\nUNION ALL\n".join(selects)
        + "\n) ORDER BY step, cluster_id"
    )


_X3R2_ORACLE = _x3r2_oracle()


def _x3r2_train(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, int, int, float]], dict[int, list[float]], DataFrame]:
    """THE x3r2 Lloyd training loop, shared with x2j2 SemDeDup so it
    prunes against the REGISTERED trained centroids — one
    training-law site, never a re-statement. Returns (per-step stats
    rows, final cid -> centroid dict, the double-cast corpus view v).
    Only the K x dims centroid table is ever collected per step (the
    declared collect exception)."""
    emb = Catalog(spark, sf_dir).embeddings
    init = (
        emb.filter(F.col("vec_id") < _X3R_K)
        .select(F.col("vec_id").alias("cid"), _dvec("embedding").alias("cvec"))
        .collect()
    )
    cent: dict[int, list[float]] = {r["cid"]: list(r["cvec"]) for r in init}
    v = ensure_min_partitions(emb).select(
        "vec_id", _dvec("embedding").alias("emb")
    )
    stats: list[tuple[int, int, int, float]] = []
    for step in range(1, _X3R2_STEPS + 1):
        assigned = _l2_nearest(v, "emb", _cent_frame(spark, cent))
        # ONE aggregate carries the next centroids AND the step stats:
        # per (cid, dim), the rounded mean, the member count, and the
        # cluster's inertia. Each member contributes its best_d once
        # per dim, so every dim group sums the same MULTISET — but in
        # different accumulation orders, and a sum near a .xx5 2dp
        # boundary could round differently across dims. The stats
        # therefore come from the dim_idx == 0 row ONLY (deterministic
        # pick; review-caught — "take whichever row collects last" was
        # a repeat-gate hazard). Rounding happens IN Spark (HALF_UP)
        # before the collect.
        m = (
            assigned.select(
                F.col("near.cid").alias("cid"),
                F.col("near.key").alias("best_d"),
                F.posexplode("emb").alias("dim_idx", "val"),
            )
            .groupBy("cid", "dim_idx")
            .agg(
                (F.round(F.avg("val"), 4) + F.lit(0.0)).alias("newv"),
                F.count(F.lit(1)).alias("n_members"),
                # two-stage snap (round 6dp then 2dp), same law as the
                # E2 money queries: a float sum whose accumulation
                # order differs across engines must not straddle a 2dp
                # boundary (review-caught — was single-stage round 2)
                (F.round(F.round(F.sum("best_d"), 6), 2) + F.lit(0.0)).alias(
                    "inertia"
                ),
            )
        )
        rows = m.collect()  # K x dims — the broadcastable centroid set
        newc: dict[int, dict[int, float]] = {}
        seen: dict[int, tuple[int, float]] = {}
        for r in rows:
            newc.setdefault(r["cid"], {})[r["dim_idx"]] = r["newv"]
            if r["dim_idx"] == 0:
                seen[r["cid"]] = (r["n_members"], r["inertia"])
        for cid in sorted(cent):
            n, inertia = seen.get(cid, (0, 0.0))
            stats.append((step, cid, n, inertia))
            if cid in newc:
                dims = newc[cid]
                cent[cid] = [dims[i] for i in range(len(dims))]
    return stats, cent, v


def x3r2_trained_assign(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, dict[int, list[float]]]:
    """((vec_id, emb, cid) assignment frame, final centroid dict):
    every embedding assigned to its x3r2-TRAINED centroid by the L2
    (dist, cid) argmin law — the Spark half of the _X2J2_ASG_CTES
    oracle chain, shared by x2j2 SemDeDup and the x3z trained-IVF
    search. Training runs via _x3r2_train (only K x dims centroid
    tables are ever collected); assignment is the map-side
    :func:`nearest_cells` fold — no window, the corpus never shuffles
    for it."""
    _stats, cent, v = _x3r2_train(spark, sf_dir)
    assigned = _l2_nearest(v, "emb", _cent_frame(spark, cent)).select(
        "vec_id", "emb", F.col("near.cid").alias("cid")
    )
    return assigned, cent


def _cent_frame(spark: SparkSession, cent: dict[int, list[float]]) -> DataFrame:
    """A driver-side centroid dict (cid -> vector) as a (cent_id, cemb)
    frame for :func:`_l2_nearest`."""
    return spark.createDataFrame(
        sorted(cent.items()), "cent_id long, cemb array<double>"
    )


def _l2_nearest(
    rows: DataFrame, vec_col: str, centroids: DataFrame, n: int = 1
) -> DataFrame:
    """``rows`` plus ``near``: the L2 :func:`nearest_cells` pick (n = 1)
    or probe list (n > 1) of ``vec_col`` over the (cent_id, cemb) frame
    ``centroids``, shipped as one broadcast centroid row. The k-means
    steps, the trained assignment and the trained-IVF probes all go
    through here."""
    near = nearest_cells(F.col(vec_col), F.col("cents"), "l2", n=n)
    return rows.crossJoin(F.broadcast(_centroid_array(centroids))).select(
        *rows.columns, near.alias("near")
    )


# The trained-centroid assignment chain: the x3r2 training CTEs plus
# the asg nearest-final-centroid table (L2 (dist, cid) argmin over the
# final centroids) - ONE oracle site shared by x2j2 SemDeDup (as
# _X2J2_ASG_CTES) and the x3z trained-IVF search.
_X3R2_ASG_CTES = f"""{_x3r2_ctes()},
asg AS (
  SELECT vec_id, cid, emb FROM (
    SELECT v.vec_id, c.cid, v.emb,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             list_reduce(list_transform(list_zip(v.emb, c.cvec),
                                        p -> (p[1] - p[2]) * (p[1] - p[2])),
                         (a, x) -> a + x), c.cid) AS rn
    FROM v CROSS JOIN c{_X3R2_STEPS} c
  ) WHERE rn = 1
)"""


@register("x3r2_kmeans_train", oracle=_X3R2_ORACLE, tags=("X3",))
def x3r2_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-step Lloyd training loop over the embedding corpus: per
    (step, cluster), member count and inertia contribution. Each step
    is one distributed job; only the K x dims centroid table is ever
    collected. Inertia is monotone non-increasing across steps
    (pytest-pinned Lloyd law). The loop itself lives in _x3r2_train,
    shared with the x2j2 SemDeDup prune."""
    stats, _, _ = _x3r2_train(spark, sf_dir)
    return spark.createDataFrame(
        stats, "step int, cluster_id long, n_members long, inertia double"
    ).orderBy("step", "cluster_id")


# X3s — radius (range) similarity search ----------------------------------------
#
# The other half of the ANN API surface: top-k answers "the k nearest",
# radius search answers "EVERYTHING within tau" — the form dedup
# admission (x2d/x2j), contamination screens, and density estimates
# actually consume, where the answer size is data-dependent. Same
# dataflow as x3: the 8 query vectors broadcast, the corpus side does
# all the scoring map-side, and the tau filter runs INSIDE the scan
# stage — so the shuffle (the final sort) carries only matches, which
# is the entire point of a radius query at 100 TB (a top-k would
# shuffle k rows per query regardless of density; a radius query
# shuffles exactly the neighborhood mass). The >= tau comparison uses
# the raw fold on both engines — ordered zip accumulation is bit-exact
# cross-engine (the w10/x3r law), so the cut cannot straddle.

_X3S_TAU = 0.3

_X3S_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb
  FROM embeddings WHERE vec_id < 8
),
c AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
)
SELECT q_id, vec_id, round(cos_sim, 4) AS cos_sim
FROM (
  SELECT q.q_id, c.vec_id,
         list_aggregate(list_transform(list_zip(q.q_emb, c.emb), p -> p[1] * p[2]), 'sum')
         / (sqrt(list_aggregate(list_transform(q.q_emb, x -> x*x), 'sum'))
            * sqrt(list_aggregate(list_transform(c.emb, x -> x*x), 'sum'))) AS cos_sim
  FROM q CROSS JOIN c
  WHERE q.q_id <> c.vec_id
)
WHERE cos_sim >= {_X3S_TAU}
ORDER BY q_id, vec_id
"""


@register("x3s_radius_search", oracle=_X3S_ORACLE, tags=("X3",))
def x3s_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All corpus vectors with cosine >= tau of each query vector —
    exact radius search, the data-dependent-answer ANN form. Matches
    only cross the shuffle; the tau cut is bit-exact across engines."""
    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), _dvec("embedding").alias("q_emb")
    )
    candidates = ensure_min_partitions(emb).select(
        "vec_id", _dvec("embedding").alias("emb")
    )
    return (
        candidates.crossJoin(F.broadcast(queries))
        .filter(F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            "vec_id",
            cosine(F.col("q_emb"), F.col("emb")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= _X3S_TAU)
        .select("q_id", "vec_id", F.round("cos_sim", 4).alias("cos_sim"))
        .orderBy("q_id", "vec_id")
    )


# X3t — FILTERED vector search (metadata predicate + top-k) ---------------------
#
# The vector-database workhorse shape: top-k neighbors AMONG THE ROWS
# MATCHING A METADATA PREDICATE (tenant, language, class — here the
# embeddings' label column, restricted to the query's own label). The
# scale decision this operator pins is PRE-filtering: the predicate
# evaluates BEFORE any distance math, so the scoring cost is
# |matching| x queries, not |corpus| x queries — the opposite of
# post-filtering, which scores everything and then discards (and which
# under-fills k when the filter is selective). Same broadcast-queries
# map-side dataflow as x3; the filter is one integer comparison per
# (candidate, query) pair inside the scan stage.

_X3T_ORACLE = """
WITH q AS (
  SELECT vec_id AS q_id, label AS q_label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_emb
  FROM embeddings WHERE vec_id < 8
),
c AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
scored AS (
  SELECT q.q_id, q.q_label, c.vec_id,
         list_aggregate(list_transform(list_zip(q.q_emb, c.emb), p -> p[1] * p[2]), 'sum')
         / (sqrt(list_aggregate(list_transform(q.q_emb, x -> x*x), 'sum'))
            * sqrt(list_aggregate(list_transform(c.emb, x -> x*x), 'sum'))) AS cos_sim
  FROM q JOIN c ON c.label = q.q_label
  WHERE q.q_id <> c.vec_id
)
SELECT q_id, CAST(q_label AS INT) AS label, vec_id, round(cos_sim, 4) AS cos_sim
FROM (
  SELECT q_id, q_label, vec_id, cos_sim,
         row_number() OVER (PARTITION BY q_id ORDER BY round(cos_sim, 4) DESC, vec_id) AS rn
  FROM scored
) WHERE rn <= 5
ORDER BY q_id, cos_sim DESC, vec_id
"""


@register("x3t_filtered_search", oracle=_X3T_ORACLE, tags=("X3",))
def x3t_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 cosine neighbors per query among candidates matching the
    query's label — filtered vector search with PRE-filtering: the
    label equality is the join condition, so distances are computed
    only for matching candidates."""
    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        _dvec("embedding").alias("q_emb"),
    )
    candidates = ensure_min_partitions(emb).select(
        "vec_id", "label", _dvec("embedding").alias("emb")
    )
    scored = (
        candidates.join(
            F.broadcast(queries), F.col("label") == F.col("q_label")
        )
        .filter(F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            "q_label",
            "vec_id",
            cosine(F.col("q_emb"), F.col("emb")).alias("cos_sim"),
        )
    )
    w = W.partitionBy("q_id").orderBy(
        F.round("cos_sim", 4).desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "q_id",
            F.col("q_label").cast("int").alias("label"),
            "vec_id",
            F.round("cos_sim", 4).alias("cos_sim"),
        )
        .orderBy("q_id", F.col("cos_sim").desc(), "vec_id")
    )


# X3y — Arrow-batched integer matmul MIPS (the vectorized serving batch) -------
#
# The production shape for BATCHED exact retrieval that the per-row JVM
# fold (x3/x3g) deliberately isn't: a serving tier answers Q queries at
# once, so the right kernel is ONE (batch x Q) matrix product per Arrow
# batch — numpy int64 matmul over the absmax-int8 codes — followed by a
# per-batch top-k cut so each batch emits at most Q*k candidate rows.
# Integer scores make the kernel EXACT: int64 addition is associative,
# so unlike a float matmul the summation order cannot perturb ranks and
# the DuckDB oracle matches bitwise. Maximum-inner-product (MIPS) is
# the missing retrieval modality next to the cosine family — it is the
# scoring rule recommendation models serve under.
#
# Per-batch top-k preserves the global top-k exactly: ranking is the
# TOTAL order (idot desc, vec_id asc), so every global winner is a
# winner of its own batch — the global window only merges candidates.
#
# Scale shape: quantization is the registered map-only x3f site; the Q
# query code rows ship inside the kernel closure (Q x 64 ints — the
# x3r-documented small-collect exception); the corpus streams through
# mapInPandas on the scan's own splits, never repartitioned (one Python
# task per split), and the only exchange carries batches x Q x k
# candidate rows into the final tiny window.

_X3Y_TOPK = 5

_X3Y_ORACLE = f"""{_Q8_CTES},
qs AS (SELECT vec_id AS q_id, qv AS q_codes FROM q WHERE vec_id < 8),
scored AS (
  SELECT qs.q_id, q.vec_id,
         CAST(list_aggregate(list_transform(list_zip(qs.q_codes, q.qv),
                                            p -> p[1] * p[2]), 'sum')
              AS BIGINT) AS idot
  FROM q CROSS JOIN qs
  WHERE q.vec_id <> qs.q_id
)
SELECT q_id, CAST(rn AS INT) AS rn, vec_id, idot
FROM (
  SELECT *, row_number() OVER (
           PARTITION BY q_id ORDER BY idot DESC, vec_id
         ) AS rn
  FROM scored
) WHERE rn <= {_X3Y_TOPK}
ORDER BY q_id, rn
"""


def mips_matmul_kernel(q_ids: "np.ndarray", q_mat: "np.ndarray", topk: int):
    """Build the Arrow-batch kernel: int64 matmul of each batch's code
    matrix against the closed-over query codes, then the per-batch
    top-k cut under the (idot desc, vec_id asc) total order. Pure
    integer arithmetic — bitwise-reproducible in any summation order."""

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = [np.asarray(c, dtype=np.int64) for c in pdf["_q"]]
            dims = {r.shape for r in rows}
            if len(dims) != 1:
                # np.stack's own error names neither the table nor the law
                raise ValueError(
                    f"x3y: ragged code lengths in batch: {sorted(dims)} — "
                    "embeddings must be uniform-dimension"
                )
            codes = np.stack(rows)
            vids = pdf["vec_id"].to_numpy()
            scores = codes @ q_mat.T  # (n_batch, Q) int64
            out = []
            for qi, qid in enumerate(q_ids):
                mask = vids != qid
                v, s = vids[mask], scores[mask, qi]
                order = np.lexsort((v, -s))[:topk]
                out.append(
                    pd.DataFrame(
                        {"q_id": int(qid), "vec_id": v[order], "idot": s[order]}
                    )
                )
            yield pd.concat(out, ignore_index=True)

    return fn


@register("x3y_mips_matmul_topk", oracle=_X3Y_ORACLE, tags=("X3",))
def x3y_mips_matmul_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 maximum-inner-product neighbors for 8 query vectors
    over absmax-int8 codes, scored by ONE numpy int64 matmul per Arrow
    batch with a per-batch top-k cut (each batch emits <= Q*k rows).
    Integer scores make batch order irrelevant, so the result — and the
    DuckDB oracle match — is bitwise exact, not approximately so."""
    emb = Catalog(spark, sf_dir).embeddings
    codes = _absmax_quantize(emb).select("vec_id", "_q")
    qrows = sorted(
        codes.filter(F.col("vec_id") < 8).collect(),
        key=lambda r: r["vec_id"],
    )
    if not qrows:
        raise ValueError(
            "x3y: no query vectors (vec_id < 8) in the embeddings table"
        )
    q_ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    q_dims = {len(r["_q"]) for r in qrows}
    if len(q_dims) != 1:
        raise ValueError(
            f"x3y: ragged query code lengths {sorted(q_dims)} — "
            "embeddings must be uniform-dimension"
        )
    q_mat = np.stack(
        [np.asarray(r["_q"], dtype=np.int64) for r in qrows]
    )
    # the kernel runs on the scan's own splits: see ensure_min_partitions
    cand = codes.mapInPandas(
        mips_matmul_kernel(q_ids, q_mat, _X3Y_TOPK),
        "q_id long, vec_id long, idot long",
    )
    w = W.partitionBy("q_id").orderBy(F.col("idot").desc(), "vec_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _X3Y_TOPK)
        .select("q_id", F.col("rn").cast("int").alias("rn"), "vec_id", "idot")
        .orderBy("q_id", "rn")
    )


# X3z — trained-centroid IVF top-k search (training -> serving) ----------------
#
# The serving face of the x3r2 training loop: x3d/x3m probe FIXED
# deterministic centroids (vec_id < 16, the documented stand-in for a
# trained codebook); x3z closes that gap by probing the x3r2-TRAINED
# partition itself — the same final centroids, the same L2 (dist, cid)
# assignment law, ONE oracle site (_X3R2_ASG_CTES, shared verbatim with
# x2j2). Each of the 8 query vectors ranks the trained cells by L2
# distance, probes the nearest _X3Z_NPROBE, and scores exact cosine
# against ONLY the probed cells' members — the standard IVF recall
# trade with a trained quantizer.
#
# Cross-engine exactness: assignment and probe ranking compare
# bitwise-identical doubles (ordered folds, the x3r law); candidate
# ranking orders by round(cos, 4) DESC with the vec_id tiebreak (the
# x2d law), so the top-k cut is deterministic in both engines.
# Zero-norm vectors are excluded before any cosine in BOTH engines.
#
# Scale shape: training collects only K x dims per step; assignment
# and probe selection are map-side broadcast argmin folds; the scoring
# join is a cell EQUI-join (queries x nprobe rows against the cell-keyed
# corpus — never all-pairs, plan-gated); the final window partitions by
# query id over <= nprobe cells' members.

_X3Z_NPROBE = 2
_X3Z_TOPK = 5

def _x3z_sql(extra_pred: str = "") -> str:
    """The trained-IVF serving oracle as a builder (r18): the cand
    CTE's member WHERE clause takes an optional extra predicate so
    x3z4's tombstone-aware serving composes the SAME chain with the
    shared _X2E4_TOMB law appended at the cell equi-join. The default
    '' keeps the registered x3z string byte-identical across this
    factoring — pytest-pinned (the r15 split law)."""
    return f"""{_X3R2_ASG_CTES},
nz AS (
  SELECT vec_id, cid, emb,
         sqrt(list_reduce(list_transform(emb, e -> e * e),
                          (s, y) -> s + y)) AS nrm
  FROM asg
  WHERE list_reduce(list_transform(emb, e -> e * e), (s, y) -> s + y) > 0
),
q AS (SELECT vec_id AS q_id, emb AS qemb, nrm AS qnrm
      FROM nz WHERE vec_id < 8),
qc AS (
  SELECT q_id, qemb, qnrm, cid FROM (
    SELECT q.q_id, q.qemb, q.qnrm, c.cid,
           row_number() OVER (PARTITION BY q.q_id ORDER BY
             list_reduce(list_transform(list_zip(q.qemb, c.cvec),
                                        p -> (p[1] - p[2]) * (p[1] - p[2])),
                         (a, x) -> a + x), c.cid) AS rn
    FROM q CROSS JOIN c{_X3R2_STEPS} c
  ) WHERE rn <= {_X3Z_NPROBE}
),
cand AS (
  SELECT qc.q_id, nz.vec_id, nz.cid,
         list_reduce(list_transform(list_zip(qc.qemb, nz.emb),
                                    p -> p[1] * p[2]),
                     (s, y) -> s + y) / (qc.qnrm * nz.nrm) AS cos
  FROM qc JOIN nz ON qc.cid = nz.cid
  WHERE nz.vec_id <> qc.q_id{extra_pred}
)
SELECT q_id, CAST(rnk AS INT) AS rnk, vec_id,
       CAST(cid AS BIGINT) AS cell, cos_sim
FROM (
  SELECT q_id, vec_id, cid, round(cos, 4) + 0.0 AS cos_sim,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY round(cos, 4) DESC, vec_id) AS rnk
  FROM cand
) WHERE rnk <= {_X3Z_TOPK}
ORDER BY q_id, rnk
"""


_X3Z_ORACLE = _x3z_sql()


def _trained_ivf_serve(
    spark: SparkSession, sf_dir: str, corpus_pred=None
) -> DataFrame:
    """x3z over the x3r2-trained partition. ``corpus_pred`` optionally
    filters the MEMBER side at the cell equi-join (x3z4's tombstone
    predicate) while queries keep probing unfiltered — the Spark half
    of :func:`_x3z_sql`'s extra predicate."""
    assigned, cent = x3r2_trained_assign(spark, sf_dir)
    corpus = assigned.withColumn("nrm", l2_norm(F.col("emb"))).filter(
        F.col("nrm") > 0
    )
    members = corpus if corpus_pred is None else corpus.filter(corpus_pred)
    return serve_ivf_topk(
        corpus, _cent_frame(spark, cent), _X3Z_NPROBE, _X3Z_TOPK, members
    )


def serve_ivf_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    topk: int,
    members: DataFrame | None = None,
) -> DataFrame:
    """Trained-IVF top-``topk`` cosine serving, shared by x3z and its
    post-split and post-merge twins (x3z2, x3z6). ``corpus`` is
    (vec_id, cid, emb, nrm); its vec_id < 8 rows are the queries. Each
    query probes its ``nprobe`` L2-nearest ``centroids`` (cent_id, cemb)
    and scores exact cosine against only those cells' ``members``
    (default: the corpus), self excluded, ranked by round(cos, 4) DESC
    then vec_id. The probe rows (queries x nprobe) broadcast, so the
    scoring join is a broadcast cell equi-join and the corpus never
    shuffles for it."""
    q = corpus.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
    )
    probes = _l2_nearest(q, "qemb", centroids, n=nprobe).select(
        "q_id", "qemb", "qnrm", F.explode("near.cid").alias("cid")
    )
    cos = dot(F.col("qemb"), F.col("emb")) / (F.col("qnrm") * F.col("nrm"))
    cand = (
        F.broadcast(probes)
        .join(corpus if members is None else members, "cid")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", "cid", cos.alias("cos"))
    )
    w = W.partitionBy("q_id").orderBy(
        F.round(F.col("cos"), 4).desc(), "vec_id"
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= topk)
        .select(
            "q_id",
            F.col("rnk").cast("int").alias("rnk"),
            "vec_id",
            F.col("cid").cast("long").alias("cell"),
            (F.round(F.col("cos"), 4) + 0.0).alias("cos_sim"),
        )
        .orderBy("q_id", "rnk")
    )


@register("x3z_trained_ivf_topk", oracle=_X3Z_ORACLE, tags=("X3",))
def x3z_trained_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 cosine search over the x3r2-TRAINED partition: each of
    the 8 query vectors probes its 2 L2-nearest trained cells and
    scores exact cosine against only their members (self excluded,
    zero-norm excluded). Assignment shares the x2j2 law site; ranking
    is round(cos,4) DESC with the vec_id tiebreak."""
    return _trained_ivf_serve(spark, sf_dir)
