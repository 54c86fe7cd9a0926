"""Deduplication operators (SURVEY.md §2.10, X1-X2): exact, MinHash-LSH,
SimHash, n-gram Jaccard.

These are the training-data-pipeline dedup family. Design constraints at
100 TB:
- everything is expressed in built-in JVM functions (xxhash64, explode,
  groupBy) — no Python in the hot path;
- candidate generation is LSH banding (shuffle on band hash, tiny groups),
  never an all-pairs cross join;
- exact dedup is a hash aggregate keyed on the fingerprint.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import Catalog, ensure_min_partitions
from ..registry import register
from ..scratch import persist_scoped
from .similarity import (
    _IVF_K,
    _X3R2_STEPS,
    _centroid_array,
    _dvec,
    _ivf_centroids,
    _x3r2_ctes,
    _x3r2_train,
    assign_cells,
    cosine,
    dot,
    l2_norm,
    nearest_cells,
    serve_ivf_topk,
    _X3R2_ASG_CTES,
    x3r2_trained_assign,
)

# X1 — exact dedup ------------------------------------------------------------

_X1_ORACLE = """
SELECT md5(text)      AS fingerprint,
       min(doc_id)    AS keep_doc_id,
       count(*)       AS n_copies
FROM documents
GROUP BY md5(text)
"""


@register("x1_exact_dedup", oracle=_X1_ORACLE, tags=("X1",))
def x1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content fingerprint: group on a hash of the payload,
    keep the smallest id deterministically. One shuffle on the (uniform)
    fingerprint — skew-free by construction."""
    docs = Catalog(spark, sf_dir).documents
    return (
        docs.select(F.md5("text").alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


# X1b — incremental dedup (new batch vs existing corpus) -----------------------

_X1B_ORACLE = """
WITH corpus AS (
    SELECT DISTINCT md5(text) AS fingerprint
    FROM documents WHERE doc_id % 10 <> 0
), batch AS (
    SELECT md5(text)   AS fingerprint,
           min(doc_id) AS admit_doc_id,
           count(*)    AS n_batch_copies
    FROM documents WHERE doc_id % 10 = 0
    GROUP BY md5(text)
)
SELECT b.fingerprint, b.admit_doc_id, b.n_batch_copies
FROM batch b
WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fingerprint = b.fingerprint)
"""


@register("x1b_incremental_dedup", oracle=_X1B_ORACLE, tags=("X1",))
def x1b_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: admit only new-batch documents whose fingerprint
    is neither already in the corpus nor duplicated within the batch
    (min doc_id wins). This is the steady-state form of X1 for an ongoing
    ingest pipeline — the corpus side is the *persisted fingerprint table*
    (narrow: one md5 per doc), so the nightly batch never rescans corpus
    text. Shape: batch groupBy fingerprint (uniform key) + left-anti join
    against the fingerprint store — one shuffle each, both skew-free; at
    100 TB the anti-join's corpus side is bucketed by fingerprint so only
    the (small) batch side shuffles. The local fixture splits ``documents``
    10%/90% to stand in for batch/corpus."""
    docs = Catalog(spark, sf_dir).documents
    corpus_fp = (
        docs.filter(F.col("doc_id") % 10 != 0)
        .select(F.md5("text").alias("fingerprint"))
        .distinct()
    )
    batch = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select(F.md5("text").alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("admit_doc_id"),
            F.count("*").alias("n_batch_copies"),
        )
    )
    return batch.join(corpus_fp, "fingerprint", "left_anti")


# Shared shingling ------------------------------------------------------------


def token_shingles(toks: Column, k: int) -> Column:
    """k-shingles over a token array, guarded for short inputs.

    The guard matters: for fewer than ``k`` tokens the naive
    ``sequence(1, size - k + 1)`` bound is <= 0 and Spark's ``sequence``
    emits the DESCENDING ``[1, 0]``, so ``slice(toks, 0, k)`` throws
    ``INVALID_PARAMETER_VALUE.START`` and aborts the whole query — a
    real-corpus hazard (100 TB of web text always contains sub-k-token
    documents). The DuckDB oracles' ``generate_series(1, 0)``/``range``
    emit nothing for the same bound, so the guard is also what keeps both
    engines agreeing: short docs yield an EMPTY shingle array, not an
    error."""
    return F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles(text_col: str | Column, k: int = 3) -> Column:
    """Word k-shingles as an array column (JVM higher-order functions).
    Empty array (never an error) for documents with fewer than k tokens."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return token_shingles(F.split(col, r"\s+"), k)


# X2a — MinHash + LSH banding ---------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, minhash array<long>[num_hashes]) via seeded xxhash64 over
    word shingles. Seeded-hash min-aggregation == classic permutation
    MinHash.

    Computed with explode + hash-aggregate: per-shingle xxhash64 and the
    per-seed ``min`` run inside whole-stage codegen with map-side partial
    aggregation, so the shuffle carries only (id, num_hashes longs) per
    document — at 100 TB the shuffle payload is signatures, not shingles."""
    # Explode + hash-aggregate deliberately: per-shingle xxhash64 and the
    # min() run inside whole-stage codegen with map-side partial
    # aggregation, so the shuffle carries only (id, 16 longs) per doc.
    # Measured alternatives both lose badly: computing the signature as a
    # nested higher-order-function expression is interpreted (not
    # codegen'd) and ~80x slower; and per-seed DSL-lambda transforms
    # collapse into a single seed (lambda-variable CSE bug).
    exploded = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(shingles(text_col, shingle_k))).alias("shingle"),
    )
    aggs = [
        F.min(F.xxhash64(F.lit(seed), F.col("shingle"))).alias(f"mh_{seed}")
        for seed in range(num_hashes)
    ]
    sigs = exploded.groupBy("_id").agg(*aggs)
    return sigs.select(
        "_id", F.array(*[f"mh_{s}" for s in range(num_hashes)]).alias("minhash")
    )


def minhash_candidate_pairs(
    sigs: DataFrame, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """LSH banding: hash each band of the signature into
    (band_idx, band_hash) buckets and pair the ids sharing a bucket
    through bucket_pairs (one signature pass, plan-gated to one
    documents scan), each pair scored in the row with the estimated
    Jaccard (fraction of matching minhashes).

    Mega-bucket bound: a document duplicated millions of times verbatim
    puts all its copies in one bucket, which bucket_pairs refuses over
    _MAX_PAIR_GROUP (4096) members. The remedy at 100 TB is to collapse
    exact-duplicate SIGNATURES first: identical signatures are exact
    dups (X1's job), carried as (representative, count), so banding
    only ever sees unique signatures and buckets stay small.
    """
    rows_per_band = num_hashes // bands
    band_hashes = F.array(
        *[
            F.xxhash64(
                F.lit(b),
                F.concat_ws(
                    ":",
                    *[
                        F.col("minhash")[b * rows_per_band + r].cast("string")
                        for r in range(rows_per_band)
                    ],
                ),
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select(
        "_id", "minhash", F.posexplode(band_hashes).alias("band_idx", "band_hash")
    )
    return bucket_pairs(
        banded,
        "_id",
        ["band_idx", "band_hash"],
        "x2",
        payload=("minhash",),
        fields=_est_jaccard_field(num_hashes),
    )


def _est_jaccard_field(num_hashes: int) -> Callable[[str, str], str]:
    """bucket_pairs ``fields``: the signature-estimate Jaccard of two
    members carrying a ``minhash`` array, rounded to 4 places."""
    return lambda a, b: f"""
        'est_jaccard',
        round(aggregate(
                zip_with({a}.minhash, {b}.minhash,
                         (x, y) -> CAST(x = y AS INT)),
                0, (acc, v) -> acc + v)
              / CAST({num_hashes} AS DOUBLE), 4)"""


@register("x2_minhash_near_dedup", tags=("X2",))
def x2_minhash_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate candidate pairs over documents via MinHash-LSH
    (16 hashes, 4 bands -> catches pairs with Jaccard >~ 0.5). Output is
    deterministic; semantics are approximate -> rows-only check, with
    invariant tests in tests/test_dedup.py."""
    docs = ensure_min_partitions(Catalog(spark, sf_dir).documents)
    sigs = minhash_signatures(docs, "doc_id", "text")
    return minhash_candidate_pairs(sigs).orderBy("id_a", "id_b")


# X2b — SimHash ----------------------------------------------------------------


def simhash64(text_col: str) -> Column:
    """64-bit SimHash over word tokens, entirely in JVM expressions:
    per-token xxhash64, per-bit +/-1 votes aggregated across tokens, sign
    -> bit. Returns BIGINT.

    Per-row expression deliberately (NOT explode + 64 vote-sum
    aggregates): this form is map-only — zero shuffle, embarrassingly
    parallel — and measured ~10x faster than the relational vote form,
    whose shuffle carries 65 longs per (doc, partition). The opposite
    trade from minhash, where the per-row HOF form loses to explode+agg:
    here the expression is one pass over the token array.

    Bit test is ``& 1`` — ``% 2`` looks equivalent but returns -1 for
    negative hashes (Java signed semantics), silently corrupting bit 0.

    Written as a SQL expression because the DSL's shiftleft/shiftright
    take only literal bit counts, while the SQL forms accept expressions.

    The token hash is computed ONCE per token (the inner transform maps
    tokens to xxhash64 longs before the vote fold); an earlier form
    evaluated ``xxhash64(t)`` inside the per-bit lambda — 64 string
    hashes per token, as lambda bodies are re-evaluated per element with
    no subexpression elimination. The vote itself is the branch-free
    ``2*bit - 1`` (same +1/-1 values as the original CASE), and the fold
    accumulates straight into the vote array via ``zip_with`` with the
    constant bit-index sequence — no per-token intermediate array.
    Integer arithmetic throughout, so the restructuring is bit-identical
    (pinned by the x2b2 pairing twin and the property tests).
    """
    return F.expr(
        f"""
        aggregate(
          zip_with(
            aggregate(
              transform(split({text_col}, '\\\\s+'), t -> xxhash64(t)),
              array_repeat(0L, 64),
              (acc, h) -> zip_with(
                acc,
                sequence(0, 63),
                (a, i) -> a + 2L * (shiftrightunsigned(h, CAST(i AS INT)) & 1L) - 1L)),
            sequence(0, 63),
            (v, i) -> CASE WHEN v > 0 THEN shiftleft(1L, CAST(i AS INT)) ELSE 0L END),
          0L,
          (acc, x) -> acc | x)
        """
    )


@register("x2b_simhash", tags=("X2",))
def x2b_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 64-bit SimHash fingerprints (near-dup by small Hamming
    distance). Deterministic but not SQL-expressible in DuckDB -> rows-only."""
    docs = ensure_min_partitions(Catalog(spark, sf_dir).documents)
    return docs.select("doc_id", simhash64("text").alias("simhash")).orderBy(
        "doc_id"
    )


@register("x2b2_simhash_pairs", tags=("X2",))
def x2b2_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRING: 64-bit fingerprints split into 4 x 16-bit
    bands; pairs colliding on any band (the pigeonhole guarantee: any
    pair with Hamming distance <= 3 shares at least one exact band) are
    scored in the row with the exact Hamming distance (bit_count(xor))
    and flagged at <= 12 bits. Candidate generation is
    engine-hash-dependent -> rows-only; the Hamming arithmetic is
    re-verified in tests/test_dedup.py.

    Scale shape: signatures are map-only and computed once; the only
    shuffle is the (band_idx, band_val) bucket grouping of
    bucket_pairs — never all-pairs."""
    docs = ensure_min_partitions(Catalog(spark, sf_dir).documents)
    sigs = docs.select("doc_id", simhash64("text").alias("simhash"))
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", 16 * b).bitwiseAND(F.lit(0xFFFF))
                    for b in range(4)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    pairs = bucket_pairs(
        banded,
        "doc_id",
        ["band_idx", "band_val"],
        "x2b2",
        payload=("simhash",),
        fields=lambda a, b: f"'hamming', bit_count({a}.simhash ^ {b}.simhash)",
    )
    return pairs.select(
        "id_a", "id_b", "hamming", (F.col("hamming") <= 12).alias("is_near_dup")
    )


# X2c — exact n-gram Jaccard (full oracle: same relational algebra both sides) --

_X2C_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
  WHERE doc_id < 40
),
sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id AND a.lang = b.lang
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.id_a, i.id_b,
       round(CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common), 4) AS jaccard
FROM inter i
JOIN sizes sa ON i.id_a = sa.doc_id
JOIN sizes sb ON i.id_b = sb.doc_id
WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.8
"""


def token_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """(id_a, id_b, jac): the exact token-set Jaccard of every pair of
    same-lang documents sharing a token, over any (doc_id, lang, text)
    frame. pair_overlap over the (token, lang) posting lists yields each
    pair's shared-token count and each doc's distinct-token count in
    one aggregate: no posting self-join, no second scan for sizes.
    x2c's verdict and x2m's threshold sweep both read it."""
    # array_distinct already makes (doc_id, lang, tok) unique — a
    # .distinct() here would add a full shuffle of the exploded tokens,
    # the largest intermediate, for nothing
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
    )
    post = toks.groupBy("tok", "lang").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    return pair_overlap(post, "ids", "x2c/x2m").select(
        F.col("a").alias("id_a"),
        F.col("b").alias("id_b"),
        (
            F.col("n_shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
        ).alias("jac"),
    )


@register("x2c_ngram_jaccard", oracle=_X2C_ORACLE, tags=("X2",))
def x2c_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard >= 0.8 between same-lang documents, via the
    token -> doc posting lists (token_jaccard_pairs), not all-pairs:
    documents sharing no token never meet. Restricted to a small id
    range so the oracle stays cheap; the shape is the scalable one."""
    docs = Catalog(spark, sf_dir).documents.filter(F.col("doc_id") < 40)
    return (
        token_jaccard_pairs(docs)
        .filter(F.col("jac") >= 0.8)
        .select("id_a", "id_b", F.round("jac", 4).alias("jaccard"))
    )


# X2e — near-dup cluster resolution: connected components over candidate pairs --

_X2E_ORACLE = """
WITH RECURSIVE toks AS (
  SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
  WHERE doc_id < 40
),
sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id AND a.lang = b.lang
  GROUP BY a.doc_id, b.doc_id
),
edges AS (
  SELECT id_a AS src, id_b AS dst
  FROM inter
  JOIN sizes sa ON inter.id_a = sa.doc_id
  JOIN sizes sb ON inter.id_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
),
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents WHERE doc_id < 40
  UNION
  SELECT reach.id, s.dst FROM reach JOIN sym s ON reach.r = s.src
)
SELECT CAST(id AS BIGINT)     AS doc_id,
       CAST(min(r) AS BIGINT) AS cluster_id,
       (id = min(r))          AS is_canonical
FROM reach
GROUP BY id
"""


def large_star_small_star(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 16
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14 — public algorithm, re-derived here in DataFrame
    form). ``nodes`` has column ``id``; ``edges`` has ``src``/``dst``
    (undirected).

    Each round rewrites the EDGE set, never materializes per-node
    reachable sets:

    - large-star (per node u over the symmetrized edges): attach every
      strictly-larger neighbor to m = min(N(u) + {u});
    - small-star (per node u over hi>lo oriented edges): attach u and
      all its smaller neighbors to the minimum among them.

    The fixpoint is exactly a star forest centered at each component's
    minimum id, reached in O(log n) rounds for ANY topology — the
    property that distinguishes this from single-hop pair->groupBy
    clustering (which mislabels a 3-chain A~B~C with A not~ C) and from
    driver-side union-find (which collects the edge list). Every round
    attaches the per-key min via a WINDOW over the key (r18, guide
    §2.4): one exchange per star phase, where the groupBy-min +
    equi-join form shuffled the edge set for the aggregate AND again
    for the join probe — measured ~22% faster per closure run at sf0.1
    with a bit-identical fixpoint (the min value attached is the same
    number either way). Lineage is truncated per round with
    localCheckpoint so plans stay flat. If the loop exits unconverged
    this RAISES rather than returning wrong labels. Returns
    (id, label)."""
    # Lazy checkpoints throughout (r18, guide §1.2/§5): localCheckpoint
    # still truncates lineage, but with eager=False the materialization
    # rides the convergence count() that immediately follows — ONE
    # driver-sequential job per round instead of two.
    e = (
        edges.select(
            F.greatest("src", "dst").alias("hi"),
            F.least("src", "dst").alias("lo"),
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_e = e.count()
    converged = False
    for _ in range(max_iter):
        sym = e.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
            e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        # large-star: per-u min neighbor attached by a window — least(u,
        # min N(u)) = min(N(u) + {u}); duplicate (hi, lo) rows are
        # absorbed by the next window's min and the ss distinct below.
        ls = (
            sym.withColumn("mv", F.min("v").over(W.partitionBy("u")))
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("hi"),
                F.least("u", "mv").alias("lo"),
            )
            .filter(F.col("hi") != F.col("lo"))
        )
        # small-star: ls edges are already hi > lo oriented
        ls2 = ls.withColumn("m", F.min("lo").over(W.partitionBy("hi")))
        ss = (
            ls2.select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .union(ls2.select("hi", F.col("m").alias("lo")))
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # fixpoint test on two DISTINCT sets: equal cardinality plus
        # one-sided difference emptiness IS set equality — half the
        # anti-join passes of the symmetric exceptAll-union check, and
        # the counts are cheap aggregates over the checkpointed rows
        n_ss = ss.count()
        changed = (
            1 if n_ss != n_e else ss.exceptAll(e).limit(1).count()
        )
        e, n_e = ss, n_ss
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"large_star_small_star did not converge in {max_iter} rounds — "
            "labels would be silently wrong; raise max_iter"
        )
    # at the fixpoint e is a star forest: every non-root points at its
    # component's min id exactly once (groupBy-min is belt-and-braces)
    stars = e.groupBy(F.col("hi").alias("id")).agg(F.min("lo").alias("label"))
    # Lazy checkpoint on the label table (r18, guide §3.3/§5): every
    # closure consumer references labels at least twice (the component-
    # size aggregate plus the member rows — x2e2b alone replays the
    # nodes-join-stars subtree once per reference, and x6y2/x6q2/x6q3
    # fan out further). The frame is corpus-sized but two narrow BIGINT
    # columns; materializing it once replaces N replays of the
    # nodes-scan + star-join subtree with N cheap block reads. Label
    # VALUES are untouched — checkpointing is plan truncation only.
    return (
        nodes.join(stars, "id", "left")
        .select("id", F.coalesce("label", "id").alias("label"))
        .localCheckpoint(eager=False)
    )


@register("x2e_dedup_clusters", oracle=_X2E_ORACLE, tags=("X2",))
def x2e_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve near-dup candidate pairs into clusters and a canonical
    keep-list: connected components over the exact-Jaccard >= 0.8 pair
    graph (x2c), cluster id = min doc_id in the component, canonical = the
    kept representative. This is the step a training-data pipeline runs
    AFTER candidate generation — candidates alone over-remove (A~B, B~C
    does not imply A~C; clustering keeps one doc per component, not per
    pair). Full oracle via DuckDB recursive-CTE transitive closure."""
    docs = Catalog(spark, sf_dir).documents.filter(F.col("doc_id") < 40)
    nodes = docs.select(F.col("doc_id").alias("id"))
    pairs = x2c_ngram_jaccard(spark, sf_dir).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    labels = large_star_small_star(nodes, pairs)
    return labels.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("label").cast("long").alias("cluster_id"),
        (F.col("id") == F.col("label")).alias("is_canonical"),
    )


# In-row pair expansion --------------------------------------------------------
#
# Every dedup pair stage groups its candidates (an LSH band bucket, a
# gram's postings, a centroid cell, a token's source list) and expands
# each group's member array into its pairs inside the one aggregation
# row, never through a self-join (bucket_pairs says why). The price is
# quadratic in the group and lands in a single row buffer (~16 bytes a
# pair of longs): a stop-gram or a mega-bucket of verbatim copies would
# quietly kill an executor with terabytes in one row. Such a group
# carries no dedup signal, so rather than silently change an edge law
# with a frequency cap, every expansion refuses a group over this one
# declared bound and names the remedy. At 4096
# members a group emits ~8.4M pairs, ~134 MB of buffer; conforming data
# pays one size comparison per group row.
_MAX_PAIR_GROUP = 4096


def in_row_pairs(
    arr: str, fields: Callable[[str, str], str], op: str, diagonal: bool = False
) -> Column:
    """Array column holding one ``named_struct(fields(a, b))`` per member
    pair of the array column ``arr``: every i < j pair, or every i <= j
    pair when ``diagonal`` (see pair_overlap for what the (a, a) rows
    carry). ``fields`` receives the SQL of the two members and returns
    the named_struct body. Pairs keep array order, so a sorted array
    yields a < b. Callers drop groups too small to pair first.

    A group over _MAX_PAIR_GROUP members raises an error naming ``op``,
    the group size, the bound and the remedy. The CASE tests the size
    before any pair struct is built. The bound is read when the plan is
    built."""
    bound = _MAX_PAIR_GROUP
    last_i, off = (1, "") if diagonal else (2, " + 1")
    pairs = F.expr(
        f"""
        flatten(transform(sequence(0, size({arr}) - {last_i}), i ->
          transform(sequence(i{off}, size({arr}) - 1), j ->
            named_struct({fields(f"{arr}[i]", f"{arr}[j]")}))))
        """
    )
    return F.when(F.size(arr) <= F.lit(bound), pairs).otherwise(
        F.raise_error(
            F.format_string(
                f"{op}: a group holds %s members, over the declared "
                f"pair-expansion bound {bound} — its in-row pair buffer "
                "would grow quadratically; collapse exact duplicates, "
                "pre-filter stop-grams or split the overloaded cell before "
                "pairing, or raise the bound knowingly",
                F.size(arr),
            )
        )
    )


def pair_overlap(groups: DataFrame, arr: str, op: str) -> DataFrame:
    """(a, b, n_a, n_b, n_shared) for every member pair a < b that
    shares at least one row of ``groups``: n_shared counts the rows
    holding both, n_a and n_b the rows holding each. ``arr`` must be a
    sorted array of distinct members, so the Jaccard overlap of the two
    members' row sets is n_shared / (n_a + n_b - n_shared).

    One pass over ``groups``: the i <= j expansion's diagonal rows
    (a, a) count each member's own rows, so one aggregate carries both
    the intersections and the sizes, and two windows over that
    members^2-sized table attach n_a and n_b. A separate sizes
    aggregate joined back would plan the subtree that built ``groups``
    again (the one-scan gates of x2m, x2r and x4m in
    tests/test_plan_shapes.py)."""
    pairs = in_row_pairs(arr, lambda a, b: f"'a', {a}, 'b', {b}", op, diagonal=True)
    agg = (
        groups.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    diag = F.when(F.col("a") == F.col("b"), F.col("n_shared"))
    return agg.select(
        "a",
        "b",
        F.max(diag).over(W.partitionBy("a")).alias("n_a"),
        F.max(diag).over(W.partitionBy("b")).alias("n_b"),
        "n_shared",
    ).filter(F.col("a") < F.col("b"))


def bucket_pairs(
    tagged: DataFrame,
    id_col: str,
    keys: list[str],
    op: str,
    payload: tuple[str, ...] = (),
    fields: Callable[[str, str], str] | None = None,
    where: Column | None = None,
) -> DataFrame:
    """The one candidate stage of every band, bucket and prefix-postings
    pair generator: (id_a, id_b, ...) for every pair of ``tagged`` rows
    that share a value of ``keys``, once each, with id_a < id_b. Stages
    that count shared keys per pair use pair_overlap instead.

    Each group's struct(id, *payload) members are collected, sorted by
    id and expanded through in_row_pairs, so a group over
    _MAX_PAIR_GROUP members is refused. A row carries at most one key
    value per id and group (one bucket per band or table, one posting
    per gram), so the sorted members pair strictly a < b. A pair
    carries both members' payload as ``<col>_a`` and ``<col>_b``, or,
    when ``fields`` is given, the named_struct body it builds from the
    SQL of the two member structs (a score computed in the row).
    ``where`` drops pairs before the cross-group dedup, so only
    survivors ride that exchange. The payload is a function of the id,
    so the dedup keys on (id_a, id_b) alone.

    Grouped, not self-joined: Spark plans a self-join of ``tagged`` by
    computing its subtree twice (no ReusedExchange fires), so the
    signature, fingerprint or decode pass upstream would run once per
    join side (x2's band self-join measured 2 parquet scans and 4
    HashAggregates), and the scorer's table would be joined back twice
    more.
    Grouping computes the subtree once, replaces the join shuffle with
    one groupBy shuffle of (id, payload) per key, and hands the scorer
    its inputs in the row. The pairs per group are the same in both
    forms (quadratic in the group, small by LSH design), so this is a
    plan win, not a semantics trade; the one-scan and kernel-count
    gates in tests/test_plan_shapes.py pin it."""
    members = F.array_sort(F.collect_list(F.struct(id_col, *payload)))
    groups = (
        tagged.groupBy(*keys).agg(members.alias("ms")).filter(F.size("ms") >= 2)
    )

    def body(a: str, b: str) -> str:
        extra = (
            fields(a, b)
            if fields is not None
            else ", ".join(f"'{c}_a', {a}.{c}, '{c}_b', {b}.{c}" for c in payload)
        )
        ids = f"'id_a', {a}.{id_col}, 'id_b', {b}.{id_col}"
        return f"{ids}, {extra}" if extra else ids

    pairs = groups.select(
        F.explode(in_row_pairs("ms", body, op)).alias("p")
    ).select("p.*")
    if where is not None:
        pairs = pairs.filter(where)
    return pairs.dropDuplicates(["id_a", "id_b"])


# X2e2 — GLOBAL transitive-closure clusters via large-star/small-star ----------
#
# x2e closes a 40-doc candidate graph; x2e2 runs the same
# large-star/small-star closure at the shape a 100 TB corpus needs: the
# edge set itself is rewritten, so no per-node neighbor list or
# reachable set is ever materialized and convergence is O(log n)
# EDGE-set rounds regardless of topology. The edge law here is
# a shared-evidence graph — two documents are linked when they share at
# least _X2E2_MIN_SHARED distinct 3-token shingles — built by the same
# gram -> doc posting lists every x2 candidate generator groups
# (documents sharing no gram never meet; never all-pairs).
# Unlike band-hash equality (transitive by construction), shared-gram
# evidence genuinely CHAINS: A~B via one gram set, B~C via another, with
# A and C sharing nothing — the fixture contains such chains, and the
# planted-3-chain pytest pins that single-hop clustering would mislabel
# them. Restricted to doc_id < 200 so the DuckDB recursive-CTE twin
# stays cheap; the Spark side's shape is the 100 TB one.

_X2E2_MIN_SHARED = 3

def _gram3_table(docs: DataFrame) -> DataFrame:
    """(doc_id, gram) with one row per DISTINCT 3-token shingle — the
    Spark twin of _grams3_cte, factored out so the x2e2/x2e2b postings
    pairs and x2e3's batch->corpus probe build their postings from one site."""
    return docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(token_shingles(F.split("text", " "), 3))
        ).alias("gram"),
    )


def x2e2_shared_gram_pairs(docs: DataFrame) -> DataFrame:
    """The x2e2 edge law as a plannable stage: (src, dst) doc pairs
    sharing >= _X2E2_MIN_SHARED distinct 3-token shingles, built from
    the gram inverted index (gram -> doc postings, never all-pairs).
    Kept as its own site because x2e2's iterative half localCheckpoints
    — the final plan can't witness this stage's shape, so the plan gate
    targets it directly.

    Postings-group form, not the gram self-join (bucket_pairs gives
    the reason; a statistics-blind self-join would also broadcast the
    whole exploded gram table). It counts shared grams rather than
    deduplicating pairs, so it expands the sorted per-gram postings
    with in_row_pairs directly (src < dst by construction) and folds
    (src, dst) count >= _X2E2_MIN_SHARED; a stop-gram over
    _MAX_PAIR_GROUP postings is refused."""
    grams = _gram3_table(docs)
    posts = (
        grams.groupBy("gram")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pair_expr = in_row_pairs("ids", lambda a, b: f"'src', {a}, 'dst', {b}", "x2e2")
    return (
        posts.select(F.explode(pair_expr).alias("p"))
        .select("p.src", "p.dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _X2E2_MIN_SHARED)
        .select("src", "dst")
    )


# The distinct-3-shingle table — the SQL twin of token_shingles(..., 3):
# one template site shared by x2e2's evidence graph, x2z's exact-Jaccard
# truth leg (both on the doc_id < 200 slice) and x2e2b/x2e3's full-corpus
# closures, so the shingle law cannot diverge between the capped and
# uncapped variants.


def _grams3_cte(where: str) -> str:
    return f"""g AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE {where})
)"""


_GRAMS200_CTE = _grams3_cte("doc_id < 200")

# The closure CTE chain (grams -> evidence pairs -> symmetric edges ->
# recursive reachability -> min-label clusters -> sizes) is shared with
# x6y's survivorship oracle, which appends its quality-policy CTEs.
_X2E2_CTES = f"""
WITH RECURSIVE {_GRAMS200_CTE},
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= {_X2E2_MIN_SHARED}
),
sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents WHERE doc_id < 200
  UNION
  SELECT reach.id, s.dst FROM reach JOIN sym s ON reach.r = s.src
),
lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY 1)"""

_X2E2_ORACLE = f"""{_X2E2_CTES}
SELECT CAST(id AS BIGINT)           AS doc_id,
       CAST(lab.cluster_id AS BIGINT) AS cluster_id,
       (id = lab.cluster_id)        AS is_canonical,
       CAST(cluster_size AS BIGINT) AS cluster_size
FROM lab JOIN sz ON lab.cluster_id = sz.cluster_id
"""


@register("x2e2_global_dedup_clusters", oracle=_X2E2_ORACLE, tags=("X2",))
def x2e2_global_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global transitive-closure dedup clusters: connected components of
    the shared-3-gram evidence graph (>= 3 distinct shared shingles) by
    large-star/small-star edge rewriting, cluster id = min doc_id,
    canonical = the kept representative, plus the component size a
    curation budget needs. The closure matters: near-dup similarity is
    not transitive (A~B, B~C does not give A~C), so keep-one-per-pair
    over-removes — only the component view keeps exactly one doc per
    duplicate family."""
    docs = Catalog(spark, sf_dir).documents.filter(F.col("doc_id") < 200)
    pairs = x2e2_shared_gram_pairs(docs)
    nodes = docs.select(F.col("doc_id").alias("id"))
    labels = large_star_small_star(nodes, pairs)
    sizes = labels.groupBy(F.col("label").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        labels.select(
            F.col("id").cast("long").alias("doc_id"),
            F.col("label").cast("long").alias("cluster_id"),
            (F.col("id") == F.col("label")).alias("is_canonical"),
        )
        .join(sizes, "cluster_id")
        .select(
            "doc_id", "cluster_id", "is_canonical",
            F.col("cluster_size").cast("long").alias("cluster_size"),
        )
    )


# X2e2b — the UNCAPPED full-corpus transitive closure --------------------------
#
# x2e2's doc_id < 200 cap is the ORACLE's, not the algorithm's (the
# docstring there says so) — but the thing a curation run ships is the
# closure over the WHOLE corpus, so the cap was a coverage gap (the x2w
# -> x2w2 precedent). x2e2b lifts it: the same shared-gram edge law
# (x2e2_shared_gram_pairs, the single plan-gated site) over the
# unrestricted documents table, the same large-star/small-star closure.
#
# The oracle cannot afford full recursive reachability at sf0.1: the
# corpus there carries a 3,869-doc component, and the recursive-CTE
# reach set materializes sum(size^2) ~ 15M rows (measured 46 s). It runs
# synchronous min-label propagation instead — R materialized rounds of
#   l_{t+1}(u) = least(l_t(u), min over neighbors v of l_t(v))
# — which converges in ecc(min-node) rounds (measured: 11 at sf0.01, 10
# at sf0.1; _X2E2B_ROUNDS = 24 is >2x margin) and costs O(R * E)
# (measured 1.4 s at sf0.1, 33x cheaper). Each round is AS MATERIALIZED:
# round t+1 references round t twice, so un-materialized CTE inlining
# would expand the chain exponentially. Convergence is never assumed:
# the closure_converged column is COMPUTED by the oracle (round R ==
# round R-1 on every node) and emitted as literal true by Spark (whose
# loop RAISES rather than mislabel), so an unconverged oracle surfaces
# as a loud hash mismatch, not a silent wrong label.

_X2E2B_ROUNDS = 24


def _lp_label_ctes(nodes_sql: str, sym_name: str, prefix: str, rounds: int) -> str:
    """Materialized min-label-propagation CTE chain over an edge CTE
    ``{sym_name}(src, dst)`` (symmetric) seeded from ``{nodes_sql}``
    (one ``id`` column): emits ``{prefix}0 .. {prefix}{rounds}`` plus
    ``{prefix}conv`` (true iff the last two rounds agree everywhere) and
    ``{prefix}lab(id, cluster_id)``. Shared by the x2e2b and x2e3
    oracles so the propagation law has one site."""
    parts = [
        f"{prefix}0 AS MATERIALIZED (SELECT id, id AS l FROM ({nodes_sql}))"
    ]
    for t in range(rounds):
        parts.append(
            f"""{prefix}{t + 1} AS MATERIALIZED (
  SELECT {prefix}{t}.id,
         least({prefix}{t}.l, coalesce(min(n.l), {prefix}{t}.l)) AS l
  FROM {prefix}{t}
  LEFT JOIN {sym_name} s ON {prefix}{t}.id = s.src
  LEFT JOIN {prefix}{t} n ON s.dst = n.id
  GROUP BY {prefix}{t}.id, {prefix}{t}.l)"""
        )
    parts.append(
        f"""{prefix}conv AS (
  SELECT count(*) = 0 AS ok
  FROM {prefix}{rounds} a
  JOIN {prefix}{rounds - 1} b ON a.id = b.id AND a.l <> b.l)"""
    )
    parts.append(
        f"{prefix}lab AS (SELECT id, l AS cluster_id FROM {prefix}{rounds})"
    )
    return ",\n".join(parts)


# grams -> evidence pairs -> symmetric edges -> LP closure -> sizes; the
# chain is shared with x6y2's survivorship oracle (the x6y precedent).
_X2E2B_CTES = f"""
WITH {_grams3_cte("TRUE")},
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= {_X2E2_MIN_SHARED}
),
sym AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
{_lp_label_ctes("SELECT doc_id AS id FROM documents", "sym", "l", _X2E2B_ROUNDS)},
sz AS (SELECT cluster_id, count(*) AS cluster_size FROM llab GROUP BY 1)"""

_X2E2B_ORACLE = f"""{_X2E2B_CTES}
SELECT CAST(llab.id AS BIGINT)         AS doc_id,
       CAST(llab.cluster_id AS BIGINT) AS cluster_id,
       (llab.id = llab.cluster_id)     AS is_canonical,
       CAST(cluster_size AS BIGINT)    AS cluster_size,
       lconv.ok                        AS closure_converged
FROM llab JOIN sz ON llab.cluster_id = sz.cluster_id
CROSS JOIN lconv
"""


def _x2e2b_frame(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    """The x2e2b cluster manifest, optionally over a PREBUILT pair
    frame (r18, guide §2.4): x6q2 needs the identical shared-gram
    pair set twice — once as the closure's edge law, once for its
    recomputed leakage audit — and passing one lazily-checkpointed
    frame here computes the pair stage ONCE per query instead of
    twice. ``pairs=None`` (the registered x2e2b) builds them from the
    plan-gated pair site as always; the emitted rows are identical
    either way because the pair frame IS the same expression."""
    docs = Catalog(spark, sf_dir).documents
    if pairs is None:
        pairs = x2e2_shared_gram_pairs(docs)
    else:
        # CONTRACT (r19, the r18 advisory): an injected pair frame must
        # be exactly x2e2_shared_gram_pairs(docs) for the same corpus -
        # the registered cluster law is defined over that edge set and
        # nothing downstream can detect a substitute. Module-private
        # name + this schema assertion are the guard; the only caller
        # today is x6q2, which passes the checkpointed pair site.
        assert set(pairs.columns) == {"src", "dst"}, (
            "_x2e2b_frame: injected pair frame must be the (src, dst) "
            "output of x2e2_shared_gram_pairs"
        )
    nodes = docs.select(F.col("doc_id").alias("id"))
    labels = large_star_small_star(nodes, pairs)
    sizes = labels.groupBy(F.col("label").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        labels.select(
            F.col("id").cast("long").alias("doc_id"),
            F.col("label").cast("long").alias("cluster_id"),
            (F.col("id") == F.col("label")).alias("is_canonical"),
        )
        .join(sizes, "cluster_id")
        .select(
            "doc_id", "cluster_id", "is_canonical",
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.lit(True).alias("closure_converged"),
        )
    )


@register("x2e2b_global_dedup_clusters_full", oracle=_X2E2B_ORACLE, tags=("X2",))
def x2e2b_global_dedup_clusters_full(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """x2e2 with the oracle cap lifted: transitive-closure dedup
    clusters of the shared-3-gram evidence graph over the ENTIRE
    documents table — the manifest a curation run actually ships.
    Same plan-gated pair site, same large-star/small-star closure
    (which RAISES on non-convergence, hence the literal true
    closure_converged; the oracle computes its flag and an unconverged
    oracle mismatches loudly). Body lives in :func:`_x2e2b_frame` so
    x6q2 can feed the closure and its leakage audit one shared pair
    frame."""
    return _x2e2b_frame(spark, sf_dir)


# X2e3 — incremental closure maintenance (batch admission into standing
# clusters) --------------------------------------------------------------------
#
# The batch face the rest of the dedup family already has (x1b exact,
# x2n near-dup screening, x3x vector admission) but the closure lacked:
# a new batch arrives, its pairs (batch<->batch via the shared x2e2 pair
# site, batch<->corpus via the x2n probe shape — batch gram postings
# equi-join the corpus postings, the corpus NEVER self-joins in the
# incremental pass) union into the STANDING closure's star forest, and
# large-star/small-star re-runs warm-started from the existing labels.
# Warm start is the point: the standing component structure is already
# a star forest (diameter 2), so the only work left is collapsing the
# batch-induced bridges — rounds scale with log(longest bridge chain),
# not log(corpus); the _X2E3_WARM_ITERS budget (8, vs the measured 2-3
# at sf0.1) ASSERTS that, because large_star_small_star raises rather
# than mislabel when the budget is exceeded.
#
# Output is the per-cluster admission manifest a curation ledger
# records: for every final cluster holding >= 1 batch doc, its member
# counts and how many STANDING clusters it absorbed — 0 = 'new' (all
# members from the batch), 1 = 'extend' (batch docs joined one standing
# family), >= 2 = 'merge' (a batch bridge doc fused standing families —
# the case the planted pytest pins). The verdict expression is a shared
# single-site CASE both engines evaluate.
#
# The oracle is deliberately NOT incremental: it recomputes both
# closures from scratch with the x2e2b label-propagation chain (final
# labels over ALL edges, standing labels over corpus-only edges) — the
# strongest possible check, incremental-must-equal-batch-recompute —
# and carries both convergence guards.

_X2E3_WARM_ITERS = 8

_X2E3_BATCH = "doc_id % 10 = 0"
_X2E3_CORPUS = "doc_id % 10 <> 0"

_X2E3_VERDICT_CASE = (
    "CASE WHEN n_standing_absorbed = 0 THEN 'new' "
    "WHEN n_standing_absorbed = 1 THEN 'extend' "
    "ELSE 'merge' END"
)

# The CTE chain through the member/touched-cluster tables is shared
# with x6y3's incremental-survivorship oracle (the x6y/x2e2 precedent).
_X2E3_CTES = f"""
WITH {_grams3_cte("TRUE")},
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= {_X2E2_MIN_SHARED}
),
sym AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
{_lp_label_ctes("SELECT doc_id AS id FROM documents", "sym", "l", _X2E2B_ROUNDS)},
gc AS (SELECT * FROM g WHERE {_X2E3_CORPUS}),
pairs_c AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM gc a JOIN gc b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= {_X2E2_MIN_SHARED}
),
sym_c AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs_c
  UNION SELECT id_b, id_a FROM pairs_c),
{_lp_label_ctes(f"SELECT doc_id AS id FROM documents WHERE {_X2E3_CORPUS}",
                "sym_c", "m", _X2E2B_ROUNDS)},
mem AS (
  SELECT id, cluster_id, (id % 10 = 0) AS is_batch FROM llab
),
touched AS (
  SELECT cluster_id FROM mem GROUP BY cluster_id HAVING bool_or(is_batch)
)"""

_X2E3_ORACLE = f"""{_X2E3_CTES},
stats AS (
  SELECT mem.cluster_id,
         CAST(count(*) AS BIGINT) AS n_members,
         CAST(sum(CASE WHEN mem.is_batch THEN 1 ELSE 0 END) AS BIGINT)
           AS n_batch_docs,
         CAST(count(DISTINCT mlab.cluster_id) AS BIGINT)
           AS n_standing_absorbed
  FROM mem
  JOIN touched USING (cluster_id)
  LEFT JOIN mlab ON mem.id = mlab.id
  GROUP BY mem.cluster_id
)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       n_members, n_batch_docs, n_standing_absorbed,
       {_X2E3_VERDICT_CASE} AS verdict,
       (lconv.ok AND mconv.ok) AS closure_converged
FROM stats CROSS JOIN lconv CROSS JOIN mconv
ORDER BY cluster_id
"""


def x2e3_probe_pairs(batch: DataFrame, corpus: DataFrame) -> DataFrame:
    """The batch->corpus edge probe as a plannable stage (the x2n
    shape): batch gram postings equi-join the corpus postings — left
    side batch-sized, the corpus NEVER self-joins in the incremental
    pass. Own site so the plan gate can witness it (x2e3's closure
    localCheckpoints downstream)."""
    gb, gc = _gram3_table(batch).alias("b"), _gram3_table(corpus).alias("c")
    return (
        gb.join(gc, F.col("b.gram") == F.col("c.gram"))
        .groupBy(
            F.col("b.doc_id").alias("src"), F.col("c.doc_id").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _X2E2_MIN_SHARED)
        .select("src", "dst")
    )


def x2e3_touched_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental closure's membership table, factored out so the
    admission stats (x2e3) and the incremental survivorship delta
    (x6y3) read ONE site: warm-started final labels for every member of
    a batch-touched cluster, with the batch flag and the member's
    standing label (null for batch docs). Columns: (id, cluster_id,
    is_batch, standing_label)."""
    docs = Catalog(spark, sf_dir).documents
    corpus = docs.filter(F.expr(_X2E3_CORPUS))
    batch = docs.filter(F.expr(_X2E3_BATCH))

    standing = large_star_small_star(
        corpus.select(F.col("doc_id").alias("id")),
        x2e2_shared_gram_pairs(corpus),
    )
    star_edges = standing.filter(F.col("id") != F.col("label")).select(
        F.col("id").alias("src"), F.col("label").alias("dst")
    )
    new_edges = x2e2_shared_gram_pairs(batch).union(
        x2e3_probe_pairs(batch, corpus)
    )

    final = large_star_small_star(
        docs.select(F.col("doc_id").alias("id")),
        star_edges.union(new_edges),
        max_iter=_X2E3_WARM_ITERS,
    )
    mem = final.select(
        "id",
        F.col("label").alias("cluster_id"),
        (F.col("id") % 10 == 0).alias("is_batch"),
    )
    touched = (
        mem.groupBy("cluster_id")
        .agg(F.max(F.col("is_batch").cast("int")).alias("any_batch"))
        .filter(F.col("any_batch") == 1)
        .select("cluster_id")
    )
    stand_lab = standing.select(
        "id", F.col("label").alias("standing_label")
    )
    return mem.join(touched, "cluster_id").join(stand_lab, "id", "left")


@register("x2e3_incremental_closure", oracle=_X2E3_ORACLE, tags=("X2", "X1"))
def x2e3_incremental_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admit a batch (doc_id % 10 = 0) into the standing transitive
    closure (doc_id % 10 <> 0) incrementally: new edges = batch<->batch
    pairs from the shared x2e2 pair site + batch->corpus pairs from the
    gram-postings probe join; the standing closure contributes only its
    STAR EDGES (id -> label), and large-star/small-star re-runs
    warm-started under an 8-round budget that raises if the warm-start
    promise breaks. Emits one row per batch-touched final cluster with
    the absorbed-standing-cluster count and the new/extend/merge
    verdict. The oracle recomputes both closures from scratch —
    incremental must equal batch recompute."""
    stats = (
        x2e3_touched_members(spark, sf_dir)
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum(F.col("is_batch").cast("int"))
            .cast("long")
            .alias("n_batch_docs"),
            F.countDistinct("standing_label")
            .cast("long")
            .alias("n_standing_absorbed"),
        )
    )
    return (
        stats.select(
            F.col("cluster_id").cast("long").alias("cluster_id"),
            "n_members", "n_batch_docs", "n_standing_absorbed",
            F.expr(_X2E3_VERDICT_CASE).alias("verdict"),
            F.lit(True).alias("closure_converged"),
        )
        .orderBy("cluster_id")
    )


# X2e4 — deletion/retraction from the standing closure -------------------------
#
# The incremental family handles ADMISSION (x1b exact, x2n screening,
# x3x vector, x2e3/x6y3 closure) but not RETRACTION: a takedown /
# license-revocation batch tombstones a doc set, and the standing
# closure must shed those docs WITHOUT a full recompute. Deletion is
# structurally harder than admission — removing a bridge doc SPLITS a
# cluster (the planted pytest's case), so the star forest cannot be
# warm-started; instead the scale-safe shape is touched-components
# only: semi-join the standing labels on the tombstoned ids to find
# the touched clusters, re-shingle ONLY their surviving members, and
# re-run large-star/small-star on that induced edge set — O(touched
# components) work, never O(corpus), because shared-gram edges cannot
# cross standing-component boundaries (two docs sharing >= 3 grams are
# by construction in one standing cluster, so the re-closure input is
# complete).
#
# Output is the per-touched-standing-cluster retraction manifest: how
# many members the takedown removed, how many survive, how many NEW
# clusters the survivors form, the surviving min label, and the
# dissolved/shrink/split verdict (a shared single-site CASE both
# engines evaluate). The oracle is deliberately NOT incremental — it
# recomputes the post-delete closure from scratch with the
# _lp_label_ctes chain (the x2e3 recompute-equals-incremental law):
# incremental label VALUES agree with the from-scratch ones because a
# touched component's induced subgraph IS its from-scratch subgraph.

_X2E4_TOMB = "{col} % 10 = 3"

_X2E4_VERDICT_CASE = (
    "CASE WHEN n_remaining = 0 THEN 'dissolved' "
    "WHEN n_new_clusters = 1 THEN 'shrink' "
    "ELSE 'split' END"
)

# The CTE chain through the touched-member table (standing labels llab,
# post-delete labels dlab, tombstones, touched clusters, mem) — shared
# with x6y4's survivor re-election oracle (the _X2E3_CTES precedent).
_X2E4_CTES = f"""{_X2E2B_CTES},
gd AS (SELECT * FROM g WHERE NOT ({_X2E4_TOMB.format(col="doc_id")})),
pairs_d AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM gd a JOIN gd b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= {_X2E2_MIN_SHARED}
),
sym_d AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs_d
  UNION SELECT id_b, id_a FROM pairs_d),
{_lp_label_ctes(
    f'SELECT doc_id AS id FROM documents '
    f'WHERE NOT ({_X2E4_TOMB.format(col="doc_id")})',
    "sym_d", "d", _X2E2B_ROUNDS)},
tomb AS (SELECT doc_id AS id FROM documents
         WHERE {_X2E4_TOMB.format(col="doc_id")}),
touched AS (SELECT DISTINCT cluster_id FROM llab JOIN tomb USING (id)),
mem AS (
  SELECT llab.id, llab.cluster_id,
         ({_X2E4_TOMB.format(col="llab.id")}) AS is_tomb
  FROM llab JOIN touched USING (cluster_id)
)"""

_X2E4_ORACLE = f"""{_X2E4_CTES},
stats AS (
  SELECT mem.cluster_id,
         CAST(count(*) AS BIGINT) AS n_members,
         CAST(sum(CASE WHEN is_tomb THEN 1 ELSE 0 END) AS BIGINT)
           AS n_tombstoned,
         CAST(count(*) - sum(CASE WHEN is_tomb THEN 1 ELSE 0 END) AS BIGINT)
           AS n_remaining,
         CAST(count(DISTINCT dlab.cluster_id) AS BIGINT) AS n_new_clusters,
         CAST(min(dlab.cluster_id) AS BIGINT) AS min_new_label
  FROM mem LEFT JOIN dlab ON mem.id = dlab.id
  GROUP BY mem.cluster_id
)
SELECT CAST(cluster_id AS BIGINT) AS standing_cluster,
       n_members, n_tombstoned, n_remaining, n_new_clusters, min_new_label,
       {_X2E4_VERDICT_CASE} AS verdict,
       (lconv.ok AND dconv.ok) AS closure_converged
FROM stats CROSS JOIN lconv CROSS JOIN dconv
ORDER BY standing_cluster
"""


def x2e4_surviving_docs(spark: SparkSession, sf_dir: str):
    """(standing members of tombstone-touched clusters, the surviving
    doc slice to re-shingle) — factored so the touched-components-only
    claim is plan-witnessable (the closures themselves localCheckpoint,
    so the final plan cannot show the semi-join slicing). Returns
    (members, subdocs): members = (id, label) for every member of a
    touched standing cluster; subdocs = the documents rows for the
    surviving (non-tombstoned) members only."""
    docs = Catalog(spark, sf_dir).documents
    standing = large_star_small_star(
        docs.select(F.col("doc_id").alias("id")),
        x2e2_shared_gram_pairs(docs),
    )
    tomb_ids = docs.filter(
        F.expr(_X2E4_TOMB.format(col="doc_id"))
    ).select(F.col("doc_id").alias("id"))
    touched = standing.join(tomb_ids, "id", "semi").select("label").distinct()
    members = standing.join(touched, "label", "semi")
    surviving = members.filter(
        ~F.expr(_X2E4_TOMB.format(col="id"))
    ).select(F.col("id").alias("doc_id"))
    subdocs = docs.join(surviving, "doc_id", "semi")
    return members, subdocs


def x2e4_retraction_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, standing_cluster, is_tomb, new_label) for every member of a
    tombstone-touched standing cluster — ONE site shared by the x2e4
    verdict stats and x6y4's survivor re-election (the
    x2e3_touched_members precedent). new_label is null for tombstoned
    members (they have no post-delete component)."""
    members, subdocs = x2e4_surviving_docs(spark, sf_dir)
    new_labels = large_star_small_star(
        members.filter(~F.expr(_X2E4_TOMB.format(col="id"))).select("id"),
        x2e2_shared_gram_pairs(subdocs),
    ).select("id", F.col("label").alias("new_label"))
    return (
        members.select(
            "id",
            F.col("label").alias("standing_cluster"),
            F.expr(_X2E4_TOMB.format(col="id")).alias("is_tomb"),
        )
        .join(new_labels, "id", "left")
    )


@register("x2e4_closure_retraction", oracle=_X2E4_ORACLE, tags=("X2", "X1"))
def x2e4_closure_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retract a tombstoned doc set (doc_id % 10 = 3) from the standing
    transitive closure: find the touched standing clusters by
    semi-join, re-run large-star/small-star on the induced edge set of
    their SURVIVING members only (re-shingled through the same
    plan-gated x2e2 pair site), and emit one row per touched standing
    cluster with the dissolved/shrink/split verdict and the surviving
    min label. O(touched components), never O(corpus). The oracle
    recomputes the post-delete closure from scratch — incremental must
    equal recompute."""
    stats = (
        x2e4_retraction_members(spark, sf_dir)
        .groupBy("standing_cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum(F.col("is_tomb").cast("int"))
            .cast("long")
            .alias("n_tombstoned"),
            (F.count(F.lit(1)) - F.sum(F.col("is_tomb").cast("int")))
            .cast("long")
            .alias("n_remaining"),
            F.countDistinct("new_label").cast("long").alias("n_new_clusters"),
            F.min("new_label").cast("long").alias("min_new_label"),
        )
    )
    return (
        stats.select(
            F.col("standing_cluster").cast("long").alias("standing_cluster"),
            "n_members", "n_tombstoned", "n_remaining", "n_new_clusters",
            "min_new_label",
            F.expr(_X2E4_VERDICT_CASE).alias("verdict"),
            F.lit(True).alias("closure_converged"),
        )
        .orderBy("standing_cluster")
    )


# X2d — embedding-cosine near-dup (full oracle: identical double math) ---------

_X2D_ORACLE = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings WHERE vec_id < 100
),
s AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
         list_aggregate(list_transform(list_zip(a.emb, b.emb), p -> p[1] * p[2]), 'sum')
         / (sqrt(list_aggregate(list_transform(a.emb, x -> x*x), 'sum'))
            * sqrt(list_aggregate(list_transform(b.emb, x -> x*x), 'sum'))) AS cos_sim
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
)
SELECT vec_id, nn_id, cos_sim, is_near_dup
FROM (
  SELECT vec_id, nn_id, round(cos_sim, 4) AS cos_sim,
         cos_sim >= 0.95 AS is_near_dup,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY round(cos_sim, 4) DESC, nn_id) AS rn
  FROM s
) WHERE rn = 1
"""


@register("x2f_embedding_neardup_lsh", tags=("X2",))
def x2f_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for embedding near-dup that x2d's docstring promises:
    candidate pairs come from random-hyperplane LSH buckets (bucket_pairs
    per table — never an all-pairs join), then the exact-cosine
    scorer and the >= 0.95 verdict are identical to x2d's. Approximate
    candidate generation (engine-side hyperplane hashing) -> rows-only;
    tests assert every emitted pair truly clears the exact-cosine bar and
    that recall vs the all-pairs baseline is high on the fixture.

    LSH parameters are sized to the corpus (lsh_auto_params): plane count
    tracks log2(n) so bucket occupancy — and with it candidate pairs PER
    VECTOR — stays constant as the corpus grows; table count then grows
    to hold the >= 85% recall bound for cos >= 0.95 pairs. Without this,
    fixed 6-bit buckets produced exactly quadratic pair growth (99.9x
    pairs for 10x vectors, measured in tools/stress_sf1.py). The one
    count() here is a parquet-metadata read, not a scan."""
    from .similarity import lsh_auto_params, lsh_buckets

    emb = Catalog(spark, sf_dir).embeddings
    n_tables, planes = lsh_auto_params(emb.count())
    tagged = emb.select(
        "vec_id",
        _dvec("embedding").alias("emb"),
        F.posexplode(
            lsh_buckets(
                F.col("embedding"), n_tables=n_tables, planes_per_table=planes
            )
        ).alias("tbl", "bucket"),
    )
    # a pair colliding in several tables scores once
    pairs = bucket_pairs(
        tagged, "vec_id", ["tbl", "bucket"], "x2f", payload=("emb",)
    )
    # The synthetic fixture has no >=0.95 pairs (max pairwise cosine is
    # ~0.51), so emit every scored candidate with its verdict instead of
    # the post-threshold survivors — same dataflow, non-vacuous output.
    return pairs.select(
        "id_a",
        "id_b",
        F.round(cosine(F.col("emb_a"), F.col("emb_b")), 4).alias("cos_sim"),
        (cosine(F.col("emb_a"), F.col("emb_b")) >= 0.95).alias("is_near_dup"),
    )


@register("x2d_embedding_neardup", oracle=_X2D_ORACLE, tags=("X2",))
def x2d_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection: each vector's exact
    nearest neighbor plus a duplicate verdict (cos >= 0.95). Checked
    exactly on a 100-vector slice; at corpus scale the candidate pairs
    come from LSH buckets (similarity.lsh_buckets) instead of all-pairs —
    the scoring/verdict stage is identical."""
    emb = Catalog(spark, sf_dir).embeddings.filter(F.col("vec_id") < 100)
    a = emb.select("vec_id", _dvec("embedding").alias("emb_a"))
    b = emb.select(
        F.col("vec_id").alias("nn_id"), _dvec("embedding").alias("emb_b")
    )
    scored = (
        a.join(F.broadcast(b), F.col("vec_id") != F.col("nn_id"))
        .select(
            "vec_id",
            "nn_id",
            cosine(F.col("emb_a"), F.col("emb_b")).alias("cos_raw"),
        )
    )
    w = W.partitionBy("vec_id").orderBy(
        F.round("cos_raw", 4).desc(), F.col("nn_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "nn_id",
            F.round("cos_raw", 4).alias("cos_sim"),
            (F.col("cos_raw") >= 0.95).alias("is_near_dup"),
        )
    )


# X2g — MinHash+LSH with a FULL oracle (md5-derived permutation hashes) --------
#
# The flagship x2_minhash_near_dedup uses xxhash64, which DuckDB cannot
# reproduce, so it is rows-only by design. This variant runs the SAME
# relational pipeline — shingle-explode -> map-side partial min-agg ->
# band-hash bucket pairs -> signature-overlap estimate — with every
# hash derived from md5 (identical in both engines: Spark
# conv(substr(md5(x),1,15),16,10) == DuckDB CAST('0x'||substr(md5(x),1,15)
# AS BIGINT), a 60-bit positive value), so the ENTIRE MinHash+LSH dataflow
# is exact-value checkable end-to-end: signatures, band buckets, candidate
# pairs, and Jaccard estimates all verified, not just row counts.

_X2G_HASHES = 8
_X2G_BANDS = 4


def _md5h60(col: Column) -> Column:
    """60-bit hash both engines compute identically (see block comment)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# DuckDB-side md5 signature/banding law, generated from the SAME
# constants as the Spark helpers below and composed by BOTH the x2g
# self-join oracle and the x2n index-probe oracle — one SQL site, so a
# scheme change (hash count, shingle width, truncation, separator)
# cannot leave one oracle behind.


def _md5_sigs_sql(pred: str, relation: str = "documents") -> str:
    """``relation`` is any SQL relation exposing (doc_id, text) — the
    documents table for x2g/x2n, the synthesized paragraph table
    (para_id AS doc_id) for x2p."""
    mins = ",\n         ".join(
        f"min(CAST('0x' || substr(md5('{s}:' || shingle), 1, 15) AS BIGINT)) AS mh_{s}"
        for s in range(_X2G_HASHES)
    )
    return f"""
  SELECT doc_id,
         {mins}
  FROM (
    SELECT doc_id, unnest(list_distinct(list_transform(
             range(1, greatest(len(t) - 2, 0) + 1),
             i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM {relation}
          WHERE {pred})
  ) GROUP BY doc_id"""


def _md5_banded_sql(name: str) -> str:
    rows_per_band = _X2G_HASHES // _X2G_BANDS
    parts = []
    for b in range(_X2G_BANDS):
        cols = " || ':' || ".join(
            f"CAST(mh_{b * rows_per_band + r} AS VARCHAR)"
            for r in range(rows_per_band)
        )
        parts.append(
            f"SELECT doc_id, {b} AS band_idx, "
            f"CAST('0x' || substr(md5({cols}), 1, 15) AS BIGINT) AS band_hash "
            f"FROM {name}"
        )
    return "\n  UNION ALL\n  ".join(parts)


def _md5_matches_sql(a: str, b: str) -> str:
    return " + ".join(
        f"CAST({a}.mh_{s} = {b}.mh_{s} AS INT)" for s in range(_X2G_HASHES)
    )


_X2G_ORACLE = f"""
WITH sigs AS ({_md5_sigs_sql("doc_id < 200")}),
banded AS ({_md5_banded_sql("sigs")}),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
)
SELECT p.id_a, p.id_b,
       round(({_md5_matches_sql("sa", "sb")}) / {_X2G_HASHES}.0, 4) AS est_jaccard
FROM pairs p
JOIN sigs sa ON p.id_a = sa.doc_id
JOIN sigs sb ON p.id_b = sb.doc_id
"""


def _md5_shingle_signatures(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """THE md5-twin signature pipeline, shared by x2g and x2i (both
    docstrings claim they run the same signatures — sharing the code is
    what makes the claim structural): distinct 3-token shingles
    exploded, then 8 md5-derived 60-bit permutation min-hashes per doc.
    Returns (shingles, signatures); callers reuse the shingle table for
    exact rescoring so any change to the scheme (hash count, shingle
    width, bit derivation) lands in one place."""
    toks = F.split("text", " ")
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(token_shingles(toks, 3))).alias("shingle"),
    )
    sigs = sh.groupBy("doc_id").agg(
        *[
            F.min(
                _md5h60(F.concat(F.lit(f"{s}:"), F.col("shingle")))
            ).alias(f"mh_{s}")
            for s in range(_X2G_HASHES)
        ]
    )
    return sh, sigs


def _md5_banded(sigs: DataFrame) -> DataFrame:
    """(doc_id, minhash, band_idx, band_hash) rows from md5 signature
    columns — THE single banding law shared by x2g's bucket pairs and
    the x2n batch-vs-corpus index probe, so the two sides of an
    incremental probe can never band differently."""
    rows_per_band = _X2G_HASHES // _X2G_BANDS
    band_hashes = F.array(
        *[
            _md5h60(
                F.concat_ws(
                    ":",
                    *[
                        F.col(f"mh_{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            )
            for b in range(_X2G_BANDS)
        ]
    )
    return sigs.select(
        "doc_id",
        F.array(*[f"mh_{s}" for s in range(_X2G_HASHES)]).alias("minhash"),
        F.posexplode(band_hashes).alias("band_idx", "band_hash"),
    )


def _md5_band_pairs(
    sigs: DataFrame, op: str, where: Column | None = None
) -> DataFrame:
    """(id_a, id_b, est_jaccard) for every md5-banded candidate pair —
    THE candidate stage of x2g, shared by x2p (``where`` keeps its
    cross-document pairs above the threshold) and x2z's audit."""
    return bucket_pairs(
        _md5_banded(sigs),
        "doc_id",
        ["band_idx", "band_hash"],
        op,
        payload=("minhash",),
        fields=_est_jaccard_field(_X2G_HASHES),
        where=where,
    )


@register("x2g_minhash_full_oracle", oracle=_X2G_ORACLE, tags=("X2",))
def x2g_minhash_full_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dedup with EVERY stage exact-value oracle-checked
    (8 md5-derived permutation hashes, 4 bands of 2). Same physical shape
    as the xxhash64 flagship: shingle explode + map-side partial min-agg
    (shuffle carries 8 longs per doc, never shingles), band-hash
    bucket_pairs scored in the row (never all-pairs). Restricted to
    doc_id < 200 so the DuckDB twin (which must brute-force the same 8
    md5s per shingle) stays cheap; the Spark side's shape is the 100 TB
    one."""
    docs = Catalog(spark, sf_dir).documents.filter(F.col("doc_id") < 200)
    _, sigs = _md5_shingle_signatures(docs)
    return _md5_band_pairs(sigs, "x2g")


# X2h — short-document robustness gate (full oracle) --------------------------
#
# Regression oracle for the sequence(1,0) class of bug: a real corpus
# always contains documents shorter than the shingle width, and the naive
# gram builder ABORTS the whole query on the first one (Spark's
# sequence(1,0) is descending; slice(toks, 0, k) throws). This query
# manufactures 0-, 1- and 2-token documents from the fixture and pushes
# them through the guarded shingle pipeline; DuckDB's range(1,1) emits
# nothing for the same bound, so both engines must agree that short docs
# produce an EMPTY shingle set (and a NULL min-signature), not an error.

_X2H_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 < 3
              THEN string_split(text, ' ')[1:(doc_id % 3)]
              ELSE string_split(text, ' ') END AS t
  FROM documents WHERE doc_id < 200
),
g AS (
  SELECT doc_id, len(t) AS n_tokens,
         list_distinct(list_transform(
             range(1, greatest(len(t) - 2, 0) + 1),
             i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS grams
  FROM d
)
SELECT doc_id,
       CAST(n_tokens   AS BIGINT) AS n_tokens,
       CAST(len(grams) AS BIGINT) AS n_shingles,
       list_min(list_transform(
           grams, s -> CAST('0x' || substr(md5('0:' || s), 1, 15) AS BIGINT)
       )) AS mh_0
FROM g
"""


@register("x2h_short_docs", oracle=_X2H_ORACLE, tags=("X2",))
def x2h_short_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Short-document robustness: every doc_id % 7 in {0,1,2} is truncated
    to 0-2 tokens (all below the shingle width k=3), then shingled with the
    guarded builder and min-hashed with the md5-derived 60-bit hash both
    engines compute identically (see x2g). Exact-value oracle: short docs
    yield (n_shingles=0, mh_0=NULL); long docs yield the same counts and
    min signature as DuckDB. Before the token_shingles guard this query
    aborted with INVALID_PARAMETER_VALUE.START — it exists so the oracle
    itself, not the fixture's word-soup shape, guards this bug class."""
    docs = Catalog(spark, sf_dir).documents.filter(F.col("doc_id") < 200)
    full = F.split("text", " ")
    toks = F.when(
        F.col("doc_id") % 7 < 3,
        F.slice(full, 1, (F.col("doc_id") % 3).cast("int")),
    ).otherwise(full)
    grams = F.array_distinct(token_shingles(toks, 3))
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(grams).cast("long").alias("n_shingles"),
        F.array_min(
            F.transform(grams, lambda s: _md5h60(F.concat(F.lit("0:"), s)))
        ).alias("mh_0"),
    )


# X2b3 — SimHash with a FULL oracle (md5-derived token hashes, 60 bits) --------
#
# Same cross-engine md5 trick as x2g: the xxhash64 SimHash (x2b) is
# rows-only because DuckDB can't reproduce the hash; this twin computes a
# 60-bit SimHash from md5 token hashes so signature generation — per-token
# hash, per-bit +/-1 votes, sign threshold — is exact-value checked.
# Tie votes (sum == 0) yield bit 0 in both engines.

_X2B3_BITS = 60

_X2B3_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE doc_id < 200
),
h AS (
  SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS hv
  FROM toks
),
votes AS (
  SELECT doc_id, g.b AS bit,
         sum(CASE WHEN (hv >> g.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM h, LATERAL (SELECT unnest(range(60)) AS b) g
  GROUP BY doc_id, g.b
)
SELECT doc_id,
       CAST(sum(CASE WHEN vote > 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END)
            AS BIGINT) AS simhash60
FROM votes
GROUP BY doc_id
"""


@register("x2b3_simhash_full_oracle", oracle=_X2B3_ORACLE, tags=("X2",))
def x2b3_simhash_full_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash whose every signature is exact-value oracle-checked
    (md5-derived token hashes, reproducible in DuckDB — see x2g). The
    vote aggregation runs as 60 codegen'd sum() columns over the exploded
    token stream with map-side partial aggregation: the shuffle carries 60
    ints per (doc, partition), never tokens — the relational form of the
    map-only expression used by the xxhash64 flagship (x2b). Restricted to
    doc_id < 200 to keep the DuckDB twin cheap."""
    docs = Catalog(spark, sf_dir).documents.filter(F.col("doc_id") < 200)
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    h = toks.select("doc_id", _md5h60(F.col("tok")).alias("hv"))
    votes = h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("hv", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v_{b}")
            for b in range(_X2B3_BITS)
        ]
    )
    sig = sum(
        F.when(F.col(f"v_{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        for b in range(_X2B3_BITS)
    )
    return votes.select("doc_id", sig.alias("simhash60"))


# X2i — LSH screen -> exact-Jaccard rescore, composed with a FULL oracle ------
#
# The production near-dedup pipeline is screen-then-rescore: LSH banding
# proposes candidates, the FREE signature-estimate Jaccard (the
# signatures already exist) screens them, and the expensive exact
# shingle-set Jaccard is computed ONLY for survivors. This query is that
# composition end-to-end with every stage exact-value checkable: md5-
# derived 60-bit hashes (see x2g) so DuckDB reproduces signatures; band
# buckets compare by band CONTENT in the oracle (the band hash is just
# an equality fingerprint, so collision classes are identical either
# way); the 0.5 screen keeps pairs with >= 4 of 8 matching hashes — a
# real cut above the >= 1-band floor every candidate clears by
# construction.

_X2I_EST_MIN = 0.5

_X2I_ORACLE = """
WITH docs AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 200
),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS shingle
  FROM docs
),
sigs AS (
  SELECT doc_id,
         min(CAST('0x' || substr(md5('0:' || shingle), 1, 15) AS BIGINT)) AS mh_0,
         min(CAST('0x' || substr(md5('1:' || shingle), 1, 15) AS BIGINT)) AS mh_1,
         min(CAST('0x' || substr(md5('2:' || shingle), 1, 15) AS BIGINT)) AS mh_2,
         min(CAST('0x' || substr(md5('3:' || shingle), 1, 15) AS BIGINT)) AS mh_3,
         min(CAST('0x' || substr(md5('4:' || shingle), 1, 15) AS BIGINT)) AS mh_4,
         min(CAST('0x' || substr(md5('5:' || shingle), 1, 15) AS BIGINT)) AS mh_5,
         min(CAST('0x' || substr(md5('6:' || shingle), 1, 15) AS BIGINT)) AS mh_6,
         min(CAST('0x' || substr(md5('7:' || shingle), 1, 15) AS BIGINT)) AS mh_7
  FROM sh GROUP BY doc_id
),
banded AS (
  SELECT doc_id, 0 AS band_idx, CAST(mh_0 AS VARCHAR) || ':' || CAST(mh_1 AS VARCHAR) AS band_key FROM sigs
  UNION ALL
  SELECT doc_id, 1, CAST(mh_2 AS VARCHAR) || ':' || CAST(mh_3 AS VARCHAR) FROM sigs
  UNION ALL
  SELECT doc_id, 2, CAST(mh_4 AS VARCHAR) || ':' || CAST(mh_5 AS VARCHAR) FROM sigs
  UNION ALL
  SELECT doc_id, 3, CAST(mh_6 AS VARCHAR) || ':' || CAST(mh_7 AS VARCHAR) FROM sigs
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN banded b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
),
est AS (
  SELECT p.id_a, p.id_b,
         (CAST(sa.mh_0 = sb.mh_0 AS INT) + CAST(sa.mh_1 = sb.mh_1 AS INT)
        + CAST(sa.mh_2 = sb.mh_2 AS INT) + CAST(sa.mh_3 = sb.mh_3 AS INT)
        + CAST(sa.mh_4 = sb.mh_4 AS INT) + CAST(sa.mh_5 = sb.mh_5 AS INT)
        + CAST(sa.mh_6 = sb.mh_6 AS INT) + CAST(sa.mh_7 = sb.mh_7 AS INT)
         ) / 8.0 AS est
  FROM pairs p
  JOIN sigs sa ON p.id_a = sa.doc_id
  JOIN sigs sb ON p.id_b = sb.doc_id
),
surv AS (SELECT * FROM est WHERE est >= 0.5),
counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT s.id_a, s.id_b, count(*) AS n_common
  FROM surv s
  JOIN sh a ON a.doc_id = s.id_a
  JOIN sh b ON b.doc_id = s.id_b AND b.shingle = a.shingle
  GROUP BY s.id_a, s.id_b
)
SELECT s.id_a, s.id_b,
       round(s.est, 4) AS est_jaccard,
       round(CAST(coalesce(c.n_common, 0) AS DOUBLE)
             / (ca.n + cb.n - coalesce(c.n_common, 0)), 4) AS jaccard
FROM surv s
LEFT JOIN common c ON c.id_a = s.id_a AND c.id_b = s.id_b
JOIN counts ca ON ca.doc_id = s.id_a
JOIN counts cb ON cb.doc_id = s.id_b
"""


@register("x2i_lsh_exact_rescore", oracle=_X2I_ORACLE, tags=("X2",))
def x2i_lsh_exact_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Screen-then-rescore near-dedup composed end-to-end: MinHash
    signatures (8 md5-derived permutation hashes — exact-value
    reproducible in DuckDB, see x2g) -> LSH banding (bucket-grouped pair
    expansion, see minhash_candidate_pairs) -> signature-estimate screen
    (est >= 0.5, i.e. >= 4 of 8 hashes agree; FREE, the signatures are
    already in hand) -> exact shingle-set Jaccard for SURVIVORS ONLY.

    The scale shape is the point: candidate generation never leaves
    signature space, and the expensive exact rescore — a shingle-level
    equi-join — runs against a survivor set that is broadcast-small by
    construction (the screen bounds it), so the corpus shingle table
    never shuffles for the rescore. Restricted to doc_id < 200 so the
    DuckDB twin (which brute-forces the same 8 md5s per shingle) stays
    cheap; the Spark dataflow is the 100 TB one."""
    docs = Catalog(spark, sf_dir).documents.filter(F.col("doc_id") < 200)
    sh, sigs = _md5_shingle_signatures(docs)
    sig_arr = sigs.select(
        F.col("doc_id").alias("_id"),
        F.array(*[f"mh_{s}" for s in range(_X2G_HASHES)]).alias("minhash"),
    )
    surv = minhash_candidate_pairs(
        sig_arr, num_hashes=_X2G_HASHES, bands=_X2G_BANDS
    ).filter(F.col("est_jaccard") >= _X2I_EST_MIN)
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sh_a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    sh_b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    common = (
        F.broadcast(surv.select("id_a", "id_b"))
        .join(sh_a, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    n_common = F.coalesce("n_common", F.lit(0))
    return (
        surv.join(common, ["id_a", "id_b"], "left")
        .join(
            counts.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a")),
            "id_a",
        )
        .join(
            counts.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round("est_jaccard", 4).alias("est_jaccard"),
            F.round(
                n_common / (F.col("n_a") + F.col("n_b") - n_common), 4
            ).alias("jaccard"),
        )
    )


# X2j — SemDeDup-style semantic dedup (cluster, then intra-cluster cosine) ----
#
# The public SemDeDup recipe: coarse-cluster the embedding space, then
# look for semantic duplicates ONLY inside each cluster — pairwise
# cosine is confined to cluster-sized groups, never the full corpus.
# This composes x3d's cell-assignment stage with x2d's exact-cosine
# verdict stage. Output is the per-cell top-3 closest pairs with the
# dedup verdict at tau = 0.9, i.e. the ranked candidate list a curation
# run reviews (and a downstream filter consumes via the flag) — emitting
# candidates keeps the query informative even on corpora with no true
# duplicates, while the verdict column pins the drop semantics.

# Shared IVF cell-assignment SQL: 16 deterministic coarse centroids,
# nearest-centroid by (cos desc, cent_id) — composed by the x2j pair
# oracle AND the x3u kNN-graph oracle (one assignment law site).
_IVF_CELLS_SQL = """
WITH c AS (
  SELECT vec_id AS cent_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cemb
  FROM embeddings WHERE vec_id < 16
),
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
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
    AND list_aggregate(list_transform(emb, x -> x * x), 'sum') > 0
)"""

_X2J_ORACLE = f"""{_IVF_CELLS_SQL},
pairs AS (
  SELECT a.cell, a.vec_id AS keep_id, b.vec_id AS dup_id,
         list_aggregate(list_transform(list_zip(a.emb, b.emb), p -> p[1] * p[2]), 'sum')
         / (sqrt(list_aggregate(list_transform(a.emb, x -> x*x), 'sum'))
            * sqrt(list_aggregate(list_transform(b.emb, x -> x*x), 'sum'))) AS cos
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
)
SELECT CAST(cell AS BIGINT) AS cell, keep_id, dup_id,
       round(cos, 4) AS cos_sim,
       cos >= 0.9    AS is_semantic_dup
FROM (
  SELECT cell, keep_id, dup_id, cos,
         row_number() OVER (PARTITION BY cell
                            ORDER BY round(cos, 4) DESC, keep_id, dup_id) AS rn
  FROM pairs
) WHERE rn <= 3
"""


def semantic_dup_candidates(
    emb: DataFrame, centroids: DataFrame, top_per_cell: int = 3, tau: float = 0.9
) -> DataFrame:
    """Shared SemDeDup dataflow: assign each vector of ``emb``
    (vec_id, emb) to its nearest centroid of ``centroids``
    (cent_id, cemb) by cosine, then rank within-cell pairs by exact
    cosine and emit the closest ``top_per_cell`` with the
    ``is_semantic_dup`` verdict at ``tau``.

    Cell-grouped pair expansion, not a cell self-join (bucket_pairs
    gives the reason): groupBy(cell) + in-cell HOF expansion computes
    the assignment ONCE and does pairwise cosine,
    the top-k sort, and the slice inside the aggregation row — one
    corpus shuffle (on the cell id), no window anywhere: the
    assignment itself is a per-row argmax fold over the broadcast
    centroid array, not a row_number over the n*K crossJoin (which
    would Exchange+sort 16x-inflated corpus rows).
    Per-vector norms are precomputed before grouping so each pair costs
    one dot product. Pairwise work is quadratic in CELL size only, and
    the in_row_pairs expansion refuses a cell over _MAX_PAIR_GROUP
    members (a degenerate centroid set piling the corpus into one
    cell); the remedy is minhash_candidate_pairs' exact-dup collapse or
    a cell split. Zero-norm vectors are dropped before pairing (their
    cosine is undefined; leaving them in would make the null sort
    placement engine-dependent)."""
    cells = assign_cells(emb, centroids)
    grouped = (
        cells.groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("vec_id", "emb", "nrm"))).alias("ms"))
        .filter(F.size("ms") >= 2)
    )
    # i<j pairs (array_sort on struct(vec_id, ...) guarantees
    # keep_id < dup_id) with exact cosine, sorted on (rounded cos desc,
    # keep_id, dup_id), then the top-k slice — all inside one nested
    # higher-order expression per cell.
    pairs = in_row_pairs(
        "ms",
        lambda a, b: f"""
            'keep_id', {a}.vec_id,
            'dup_id', {b}.vec_id,
            'cos',
            aggregate(zip_with({a}.emb, {b}.emb, (x, y) -> x * y),
                      0D, (acc, v) -> acc + v)
            / ({a}.nrm * {b}.nrm)""",
        "x2j",
    )

    def by_cos_desc_then_ids(l: Column, r: Column) -> Column:
        lc, rc = F.round(l["cos"], 4), F.round(r["cos"], 4)
        return (
            F.when(lc > rc, -1)
            .when(lc < rc, 1)
            .when(l["keep_id"] < r["keep_id"], -1)
            .when(l["keep_id"] > r["keep_id"], 1)
            .when(l["dup_id"] < r["dup_id"], -1)
            .when(l["dup_id"] > r["dup_id"], 1)
            .otherwise(0)
        )

    pair_expr = F.slice(F.array_sort(pairs, by_cos_desc_then_ids), 1, top_per_cell)
    return (
        grouped.select(
            F.col("cell").cast("long").alias("cell"),
            F.explode(pair_expr).alias("p"),
        )
        .select(
            "cell",
            F.col("p.keep_id").alias("keep_id"),
            F.col("p.dup_id").alias("dup_id"),
            F.round("p.cos", 4).alias("cos_sim"),
            (F.col("p.cos") >= F.lit(tau)).alias("is_semantic_dup"),
        )
    )


@register("x2j_semantic_dedup", oracle=_X2J_ORACLE, tags=("X2", "X3"))
def x2j_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: 16 deterministic coarse
    centroids (vec_id < 16, the x3d convention — production trains them
    with MLlib KMeans), nearest-centroid cell assignment, then per-cell
    top-3 closest pairs with the cos >= 0.9 duplicate verdict.

    Scale: centroid assignment is a per-row argmax fold over the
    broadcast centroid array — genuinely map-side, the corpus never
    shuffles for it (plan-gated: no Window node anywhere,
    tests/test_plan_shapes.py); the ONLY corpus shuffle is the groupBy
    on the cell id, and pairwise cosine is confined to single cells. At
    100 TB, K grows to ~sqrt(n) so cells stay bounded, and oversized
    cells split recursively — the dataflow is unchanged."""
    emb = Catalog(spark, sf_dir).embeddings
    vecs = emb.select("vec_id", _dvec("embedding").alias("emb"))
    return semantic_dup_candidates(vecs, _ivf_centroids(emb))


# X2j2 — SemDeDup cluster-then-prune over TRAINED centroids --------------------
#
# x2j emits the ranked candidate-pair REVIEW list; this is the other
# half of SemDeDup (Abbas et al. 2023, arXiv:2303.09540, §2): k-means
# partition the embedding space, then WITHIN each cluster greedily drop
# every member whose cosine to an already-kept representative meets the
# declared threshold — the keep/drop manifest a materializer consumes.
# Centroids come from the REGISTERED x3r2 Lloyd loop (one training-law
# site: the Spark side calls _x3r2_train, the oracle composes the
# registered _x3r2_ctes chain byte-identically), assignment is the same
# L2 (dist, cid) argmin law as x3r2's steps, and the prune is an
# engine-identical greedy fold (Spark F.aggregate vs DuckDB list_reduce
# over LIST<LIST<DOUBLE>> state, the x4z idiom — DuckDB list_reduce has
# no init, so the empty kept-state is prepended as element 1). The tie
# law is vec_id-asc: members fold in id order, so the lowest-id copy of
# every duplicate neighborhood survives — deterministic, no float
# ordering anywhere.
#
# Cross-engine exactness: member vectors enter as identical doubles
# (float32 -> double cast is exact), and every dot/norm is an ORDERED
# sequential fold over the dimension list — the same IEEE adds in the
# same order in both engines (the x3r argmin law) — so the predicate
# dot >= TAU * nrm_a * nrm_b compares bitwise-identical doubles and
# the keep set is exact, not approximately so. Zero-norm vectors have
# no defined cosine and are excluded in BOTH engines before the fold.
#
# The threshold is fixture-calibrated: the synthetic embeddings are
# near-uniform (max within-cluster cosine 0.51 at sf0.01, 0.60 at
# sf0.1), so the published 0.95 would never drop a row here; 0.45
# exercises both branches at both test scales (measured: 10 / 54
# within-cluster pairs meet it). Production swaps the constant, not
# the dataflow.
#
# Scale shape: training is x3r2's (K x dims collects only); assignment
# is the map-side broadcast argmin fold (no window, no shuffle); the
# ONLY corpus shuffle is the groupBy on the cluster id, and the
# quadratic prune is confined to single clusters — at 100 TB, K grows
# ~sqrt(n) so clusters stay bounded (the x2j posture). Plan-gated: no
# pair join exists at all — the pairwise work lives INSIDE the
# cluster-keyed aggregate, so nothing can degrade to all-pairs.

_X2J2_TAU = "0.45"

# Declared per-cluster state bound (r17, closing the r16 verdict's
# mega-cluster watch item): the greedy fold materializes each cluster's
# members as ONE collect_list aggregation row (~(2 + dims) * 8 bytes a
# member, ~35 MB at the bound with 64 dims). A degenerate trained
# centroid set — e.g. all vectors landing in one cell — would make that
# row corpus-sized and fail far from the cause, so the size is guarded
# LOUDLY at the declared bound instead. The guard runs on a COUNT-ONLY
# K-row pre-aggregation whose broadcast the member fold join-depends
# on (r18, the r17 advisory): the broadcast must materialize — firing
# the raise — before any probe-side task of the fold stage can start,
# so a corpus-sized collect_list row is never built, it is refused.
# The remedy is structural, not a bigger bound: split the overloaded
# cell (x3x2, composed as x2j2b) or retrain (x3r2 with larger K).
# Engine-input guard, x4z2-style — the oracle needs no twin.
_X2J2_MAX_CLUSTER = 65_536


def _x2j2_guarded_size():
    """``n_members`` with the mega-cluster guard: raises with the
    offending cluster id and size when a cluster exceeds
    ``_X2J2_MAX_CLUSTER`` (read at plan-build time so tests can lower
    it), passes the value through unchanged otherwise — conforming
    data pays one comparison per cluster row."""
    return (
        F.when(F.col("n_members") <= F.lit(_X2J2_MAX_CLUSTER), F.col("n_members"))
        .otherwise(
            F.raise_error(
                F.format_string(
                    "x2j2: cluster %s holds %s members, over the declared "
                    "per-cluster prune-state bound "
                    + str(_X2J2_MAX_CLUSTER)
                    + " — split the overloaded cell (x3x2) or retrain "
                    "with larger K (x3r2)",
                    F.col("cid"),
                    F.col("n_members"),
                )
            ).cast("long")
        )
        .alias("n_members")
    )


# DuckDB half of the greedy keep fold (the Spark half is the
# F.aggregate expression in x2j2_semdedup_prune; a planted pytest pins
# the two to the same hand-computed keep set). State acc = the kept
# member list; fold element x = [m] (a singleton wrap so acc and x
# share the LIST<LIST<DOUBLE>> type). Member layout m = [vec_id, nrm,
# e1..ed]; the candidate is dropped iff some kept k has
# dot(k, m) >= TAU * nrm_k * nrm_m.
#
# LAW (r16, planted-test-caught): the lambda must NEVER return acc by
# identity — `CASE WHEN dup THEN acc ELSE ...` corrupts the NEXT
# iteration's accumulator in DuckDB 1.0 list_reduce on some input
# layouts (in-memory registered frames corrupt; parquet scans happen
# not to — a repeat-gate hazard, not a reliable pass). Both branches
# therefore build a fresh list: concat acc with [] (drop) or x (keep).
_X2J2_MERGE = (
    "list_concat(acc, CASE WHEN len(list_filter(acc, k -> "
    "list_reduce(list_transform(list_zip(k[3:], (x[1])[3:]), "
    "q -> q[1] * q[2]), (s, y) -> s + y) "
    f">= {_X2J2_TAU} * k[2] * (x[1])[2])) > 0 "
    "THEN CAST([] AS DOUBLE[][]) ELSE x END)"
)

# The trained-centroid assignment chain (x3r2 training CTEs + the asg
# nearest-final-centroid table) lives in similarity.py as
# _X3R2_ASG_CTES — shared verbatim with x3z's trained-IVF search
# oracle (the byte-identity split law; x2j2's registered string is
# proven hash-unchanged across both factor steps).
_X2J2_ASG_CTES = _X3R2_ASG_CTES

def _x2j2_prune_sql(asg: str, p: str = "") -> str:
    """The SemDeDup prune CTE chain over an assignment relation
    ``asg`` with columns (cid, vec_id, emb) — the DuckDB half of
    :func:`_semdedup_prune`, shared by x2j2 (the trained assignment)
    and x2j2b (the post-x3x2 split assignment). ``p`` prefixes the
    chain's internal CTE names (the _x6b2_fold_ctes precedent: x2j2b
    composes this after _X3X2_CTES, which already owns a ``mem``
    CTE); the default '' keeps the registered x2j2 string
    byte-identical across this factoring — pytest-pinned (the r15
    split law)."""
    return f"""{p}mem AS (
  SELECT cid, vec_id,
         list_concat([CAST(vec_id AS DOUBLE),
                      sqrt(list_reduce(list_transform(emb, e -> e * e),
                                       (s, y) -> s + y))], emb) AS m
  FROM {asg}
),
{p}grp AS (
  SELECT cid,
         list_concat([CAST([] AS DOUBLE[][])], list([m] ORDER BY m[1])) AS l,
         count(*) AS n_members
  FROM {p}mem WHERE m[2] > 0 GROUP BY cid
),
{p}kept AS (
  SELECT cid, n_members,
         list_transform(list_reduce(l, (acc, x) -> {_X2J2_MERGE}),
                        k -> CAST(k[1] AS BIGINT)) AS kept_ids
  FROM {p}grp
)
SELECT CAST(e.cid AS BIGINT)                 AS cluster_id,
       e.vec_id,
       list_contains(k.kept_ids, e.vec_id)   AS keep,
       CAST(k.n_members AS BIGINT)           AS cluster_size,
       CAST(len(k.kept_ids) AS BIGINT)       AS n_kept
FROM {p}mem e JOIN {p}kept k ON e.cid = k.cid
WHERE e.m[2] > 0
ORDER BY cluster_id, vec_id
"""


_X2J2_ORACLE = f"""{_X2J2_ASG_CTES},
{_x2j2_prune_sql("asg")}"""

# Spark half of the per-candidate duplicate predicate (nested inside
# the fold's exists()): k = a kept member, m = the candidate — structs
# with fields (id, nrm, emb) since r19. The r16-r18 layout was a flat
# double array [id, nrm, e1..ed]; its predicate paid TWO slice() COPIES
# of the embedding per pair evaluation (interpreted lambdas never
# hoist them). Struct field extraction is a pointer read; the dot is
# the same left-to-right IEEE fold over the same doubles and the
# threshold keeps the same association order ((tau * k.nrm) * m.nrm),
# so verdicts are bit-identical — pinned by the randomized
# three-way law test and the registered DuckDB oracle (byte-unchanged).
_X2J2_SPARK_DUP = (
    "aggregate(zip_with(k.emb, m.emb, "
    "(p, q) -> p * q), CAST(0.0 AS DOUBLE), (s, y) -> s + y) "
    f">= {_X2J2_TAU} * k.nrm * m.nrm"
)

# the fold's member/accumulator element type (one site: the aggregate
# init CAST below and the law test's frame schema must agree)
_X2J2_MEMBER_T = "struct<id:bigint,nrm:double,emb:array<double>>"


def _semdedup_prune(assigned: DataFrame) -> DataFrame:
    """The SemDeDup greedy prune over an assignment frame (cid, vec_id,
    emb) — ONE Spark law site shared by x2j2 (the x3r2-trained
    partition) and x2j2b (the post-x3x2 split partition). Zero-norm
    members are excluded, then the per-cluster member COUNT aggregates
    first (a K-row result) and passes through the mega-cluster guard;
    the member fold joins against that guarded broadcast, so the guard
    fires during broadcast materialization — strictly before any fold
    task could build an over-bound collect_list row."""
    mem = assigned.select(
        "cid",
        F.expr(
            "named_struct('id', vec_id, "
            "'nrm', sqrt(aggregate(transform(emb, e -> e * e), "
            "CAST(0.0 AS DOUBLE), (s, y) -> s + y)), "
            "'emb', emb)"
        ).alias("m"),
    ).filter(F.col("m.nrm") > 0)
    counts = mem.groupBy("cid").agg(F.count(F.lit(1)).alias("n_members"))
    guarded = counts.select("cid", _x2j2_guarded_size())
    # sort_array on the struct orders by its first field — the unique
    # member id — so the fold still walks members in vec_id-asc order,
    # exactly the old lexicographic [id, nrm, e...] array order
    grp = (
        mem.join(F.broadcast(guarded), "cid")
        .groupBy("cid", "n_members")
        .agg(F.sort_array(F.collect_list("m")).alias("members"))
    )
    kept = grp.select(
        "cid", "n_members", "members",
        F.expr(
            "transform(aggregate(members, "
            f"CAST(array() AS array<{_X2J2_MEMBER_T}>), "
            f"(acc, m) -> CASE WHEN exists(acc, k -> {_X2J2_SPARK_DUP}) "
            "THEN acc ELSE array_append(acc, m) END), "
            "k -> k.id)"
        ).alias("kept_ids"),
    )
    return (
        kept.select(
            "cid", "n_members", "kept_ids",
            F.explode("members").alias("m"),
        )
        .select(
            F.col("cid").cast("long").alias("cluster_id"),
            F.col("m.id").alias("vec_id"),
            F.expr("array_contains(kept_ids, m.id)").alias("keep"),
            F.col("n_members").cast("long").alias("cluster_size"),
            F.expr("CAST(size(kept_ids) AS BIGINT)").alias("n_kept"),
        )
        .orderBy("cluster_id", "vec_id")
    )


@register("x2j2_semdedup_prune", oracle=_X2J2_ORACLE, tags=("X2", "X3"))
def x2j2_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup cluster-then-prune manifest (Abbas et al. 2023): assign
    every embedding to its x3r2-TRAINED centroid (L2 argmin, cid
    tiebreak), then within each cluster greedily keep members in
    vec_id-asc order, dropping any whose cosine to an already-kept
    representative is >= the declared threshold. One row per nonzero
    vector: cluster, keep verdict, cluster size, kept count. The fold
    is engine-identical (F.aggregate vs list_reduce, exact doubles);
    the lowest-id copy always survives."""
    assigned, _cent = x3r2_trained_assign(spark, sf_dir)
    return _semdedup_prune(assigned.select("cid", "vec_id", "emb"))


# X1c — dedup rate report by source -------------------------------------------
#
# The observability face of X1: before deleting anything, a curation run
# reports how duplicated each source is — the number a data-sourcing
# team acts on (a 40%-dup crawl gets re-scoped; a 2%-dup corpus just
# gets deduped). Two-stage aggregate like x4b: (source, fingerprint)
# partial counts first, so the distinct-fingerprint count never plans a
# distinct-expand and the wide shuffle carries one row per distinct
# (source, fingerprint).

_X1C_ORACLE = """
WITH f AS (
  SELECT source, md5(text) AS fp, count(*) AS n
  FROM documents GROUP BY source, md5(text)
)
SELECT source,
       CAST(sum(n) AS BIGINT)                          AS n_docs,
       count(*)                                        AS n_unique,
       CAST(sum(n) - count(*) AS BIGINT)               AS n_dup_docs,
       round(1.0 - count(*) / CAST(sum(n) AS DOUBLE), 6) AS dup_frac
FROM f
GROUP BY source
ORDER BY source
"""


@register("x1c_dedup_rate_by_source", oracle=_X1C_ORACLE, tags=("X1",))
def x1c_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate rate (docs, uniques, dup fraction).
    Map-side md5 + two map-combined hash aggregates; output is
    sources-sized. The same dataflow at 100 TB: the only wide shuffle
    carries (source, fingerprint) partials, uniformly keyed by the
    fingerprint."""
    docs = Catalog(spark, sf_dir).documents
    f = docs.groupBy("source", F.md5("text").alias("fp")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        f.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.count(F.lit(1)).alias("n_unique"),
            (F.sum("n") - F.count(F.lit(1))).cast("long").alias("n_dup_docs"),
            F.round(
                F.lit(1.0) - F.count(F.lit(1)) / F.sum("n").cast("double"), 6
            ).alias("dup_frac"),
        )
        .orderBy("source")
    )


# X2k — quality-aware dedup manifest ------------------------------------------
#
# The decision x2e's min-id canonical deliberately punts: WHICH copy of
# a near-dup cluster to keep. Public curation practice keeps the
# highest-QUALITY member, not the lowest id — so this composes x2e's
# connected components with x4c's quality score and emits the manifest
# a materializer consumes: every doc, its cluster, its quality, and the
# keep verdict (argmax distinct_ratio, min doc_id on ties). Both legs
# are registered queries; the oracle composes their SQL verbatim, so
# the manifest can never drift from the operators it composes.

from .textanalysis import _X4C_ORACLE as _X4C_ORACLE_REF  # noqa: E402

_X2K_ORACLE = f"""
WITH clusters AS ({_X2E_ORACLE}),
quality AS ({_X4C_ORACLE_REF}),
m AS (
  SELECT c.doc_id, c.cluster_id, q.distinct_ratio,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY q.distinct_ratio DESC, c.doc_id) AS rn,
         count(*)    OVER (PARTITION BY c.cluster_id) AS n_members
  FROM clusters c JOIN quality q ON c.doc_id = q.doc_id
)
SELECT doc_id, cluster_id,
       distinct_ratio            AS quality,
       rn = 1                    AS keep,
       CAST(n_members AS BIGINT) AS n_members
FROM m
"""


@register("x2k_quality_dedup_manifest", oracle=_X2K_ORACLE, tags=("X2", "X4"))
def x2k_quality_dedup_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best-quality dedup manifest over the x2e cluster slice:
    join cluster labels to x4c's quality features, rank members within
    each cluster by lexical diversity (doc_id tiebreak), keep rank 1.
    One join on doc_id + one window on cluster_id; cluster sizes are
    bounded by the dup-group size, so the window partitions stay tiny
    at any corpus scale (the mega-cluster caveat and exact-dup
    pre-collapse from minhash_candidate_pairs apply here too)."""
    clusters = x2e_dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    from .textanalysis import x4c_quality_score

    quality = x4c_quality_score(spark, sf_dir).select("doc_id", "distinct_ratio")
    m = clusters.join(quality, "doc_id")
    w_rank = W.partitionBy("cluster_id").orderBy(
        F.col("distinct_ratio").desc(), "doc_id"
    )
    w_all = W.partitionBy("cluster_id")
    return m.select(
        "doc_id",
        "cluster_id",
        F.col("distinct_ratio").alias("quality"),
        (F.row_number().over(w_rank) == 1).alias("keep"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n_members"),
    )


# X2m — near-dup threshold sweep ----------------------------------------------
#
# The tuning report behind every Jaccard cutoff choice (x2c's 0.8, the
# LSH banding target): how many pairs and how many documents does each
# candidate threshold capture? Computed over the same restricted slice
# and token-set Jaccard as x2c, but as a CURVE — one row per threshold —
# so the cutoff is picked from data, not folklore. One corpus scan:
# token_jaccard_pairs, x2c's pair stage.

_X2M_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)

_X2M_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents WHERE doc_id < 40
),
post AS (
  SELECT tok, lang, list_sort(list(doc_id)) AS ids
  FROM toks GROUP BY tok, lang
),
agg AS (
  SELECT p.ids[1] AS id_a, p.ids[2] AS id_b, count(*) AS n_common
  FROM (
    SELECT unnest(flatten(list_transform(generate_series(1, len(ids)),
             i -> list_transform(generate_series(i, len(ids)),
                    j -> [ids[i], ids[j]])))) AS ids
    FROM post
  ) p
  GROUP BY p.ids[1], p.ids[2]
),
sized AS (
  SELECT id_a, id_b, n_common,
         max(CASE WHEN id_a = id_b THEN n_common END)
           OVER (PARTITION BY id_a) AS na,
         max(CASE WHEN id_a = id_b THEN n_common END)
           OVER (PARTITION BY id_b) AS nb
  FROM agg
),
pairs AS (
  SELECT id_a, id_b,
         CAST(n_common AS DOUBLE) / (na + nb - n_common) AS jac
  FROM sized WHERE id_a < id_b
),
sweep AS (
  SELECT t.threshold, p.id_a, p.id_b
  FROM pairs p,
       (SELECT unnest([{", ".join(str(t) for t in _X2M_THRESHOLDS)}]) AS threshold) t
  WHERE p.jac >= t.threshold
),
ends AS (
  SELECT threshold, id_a AS doc FROM sweep
  UNION ALL
  SELECT threshold, id_b AS doc FROM sweep
)
SELECT CAST(threshold AS DOUBLE)        AS threshold,
       CAST(count(*) // 2 AS BIGINT)    AS n_pairs,
       CAST(count(DISTINCT doc) AS BIGINT) AS n_docs
FROM ends
GROUP BY threshold
ORDER BY threshold
"""


@register("x2m_threshold_sweep", oracle=_X2M_ORACLE, tags=("X2",))
def x2m_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs-and-docs-captured curve over candidate Jaccard thresholds
    (0.5-0.9), exact token-set Jaccard on the x2c slice. The posting
    lists are bounded by the slice's doc count here; at corpus scale the
    same sweep runs over the LSH candidate pairs instead (the curve's
    job — pick the cutoff — is identical), so the pair expansion is
    never all-pairs. Thresholds with zero qualifying pairs are absent
    by convention on both sides."""
    docs = Catalog(spark, sf_dir).documents.filter(F.col("doc_id") < 40)
    pairs = token_jaccard_pairs(docs)
    sweep = pairs.select(
        "id_a",
        "id_b",
        "jac",
        F.explode(
            F.array(*[F.lit(float(t)) for t in _X2M_THRESHOLDS])
        ).alias("threshold"),
    ).filter(F.col("jac") >= F.col("threshold"))
    # endpoints via explode, NOT a union of two selects — a union
    # duplicates the whole sweep lineage and plans the scan twice
    ends = sweep.select(
        "threshold", F.explode(F.array("id_a", "id_b")).alias("doc")
    )
    return (
        ends.groupBy("threshold")
        .agg(
            (F.count(F.lit(1)) / 2).cast("long").alias("n_pairs"),
            F.countDistinct("doc").alias("n_docs"),
        )
        .select(
            F.col("threshold").cast("double").alias("threshold"),
            "n_pairs",
            F.col("n_docs").cast("long").alias("n_docs"),
        )
        .orderBy("threshold")
    )


# X2n — incremental NEAR dedup (new batch vs corpus LSH index) ----------------
#
# x1b's admission test for near-duplicates: a new batch is screened
# against the EXISTING corpus without ever joining corpus-vs-corpus —
# batch band hashes probe the corpus band index (an equi-join whose
# left side is batch-sized), candidates are scored by signature-
# estimate Jaccard, and a batch doc is admitted only when no corpus
# neighbor reaches the threshold. Same md5 signature/banding law as
# x2g (shared single-site helpers), so the index and the probe can
# never disagree. At 100 TB the corpus band index and signatures are
# precomputed artifacts (built once at ingest, the x1b fingerprint
# analog); recomputing them here keeps the registry query
# self-contained.

_X2N_THRESHOLD = 0.5

_X2N_ORACLE = f"""
WITH sigs_c AS ({_md5_sigs_sql("doc_id < 200 AND doc_id % 10 <> 0")}),
sigs_b AS ({_md5_sigs_sql("doc_id < 200 AND doc_id % 10 = 0")}),
banded_c AS ({_md5_banded_sql("sigs_c")}),
banded_b AS ({_md5_banded_sql("sigs_b")}),
cand AS (
  SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
  FROM banded_b b JOIN banded_c c
    ON b.band_idx = c.band_idx AND b.band_hash = c.band_hash
),
scored AS (
  SELECT cand.batch_id, round(({_md5_matches_sql("sb", "sc")}) / {_X2G_HASHES}.0, 4) AS est
  FROM cand
  JOIN sigs_b sb ON cand.batch_id = sb.doc_id
  JOIN sigs_c sc ON cand.corpus_id = sc.doc_id
),
agg AS (
  SELECT batch_id, count(*) AS n_candidates, max(est) AS max_est
  FROM scored GROUP BY batch_id
)
SELECT s.doc_id AS batch_doc_id,
       CAST(coalesce(a.n_candidates, 0) AS BIGINT)          AS n_candidates,
       round(coalesce(a.max_est, 0.0), 4)                   AS max_est_jaccard,
       (a.max_est IS NULL OR a.max_est < {_X2N_THRESHOLD})  AS admit
FROM sigs_b s LEFT JOIN agg a ON s.doc_id = a.batch_id
ORDER BY batch_doc_id
"""


@register("x2n_incremental_near_dedup", oracle=_X2N_ORACLE, tags=("X2", "X1"))
def x2n_incremental_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admission report for a new batch against the corpus LSH index:
    per batch doc, its banding candidate count, the best signature-
    estimate Jaccard against any corpus doc, and the admit verdict
    (no neighbor at est >= 0.5). The batch side probes the corpus band
    index with a plain equi-join — the corpus NEVER self-joins and the
    join's output is candidate pairs, ~batch-sized by LSH design.
    Batch docs too short to shingle (< 3 tokens) have no signature and
    are out of scope on both engines (the sigs roster).

    Two signature passes (corpus, batch) is deliberate: deriving both
    as filters of ONE signature DataFrame would still plan the
    shingle+min-agg subtree twice (two branches of a lazy lineage),
    while costing the scans their pushed-down doc_id predicates — the
    real single-pass fix at scale is the materialized index above."""
    docs = Catalog(spark, sf_dir).documents.filter(F.col("doc_id") < 200)
    _, sigs_c = _md5_shingle_signatures(docs.filter(F.col("doc_id") % 10 != 0))
    _, sigs_b = _md5_shingle_signatures(docs.filter(F.col("doc_id") % 10 == 0))
    cand = (
        _md5_banded(sigs_b)
        .withColumnRenamed("doc_id", "batch_id")
        .join(
            _md5_banded(sigs_c).withColumnRenamed("doc_id", "corpus_id"),
            ["band_idx", "band_hash"],
        )
        .select("batch_id", "corpus_id")
        .dropDuplicates(["batch_id", "corpus_id"])
    )
    sb = sigs_b.select(
        F.col("doc_id").alias("batch_id"),
        *[F.col(f"mh_{s}").alias(f"b_{s}") for s in range(_X2G_HASHES)],
    )
    sc_ = sigs_c.select(
        F.col("doc_id").alias("corpus_id"),
        *[F.col(f"mh_{s}").alias(f"c_{s}") for s in range(_X2G_HASHES)],
    )
    matches = sum(
        (F.col(f"b_{s}") == F.col(f"c_{s}")).cast("int")
        for s in range(_X2G_HASHES)
    )
    scored = (
        cand.join(sb, "batch_id")
        .join(sc_, "corpus_id")
        .select(
            "batch_id",
            F.round(matches / float(_X2G_HASHES), 4).alias("est"),
        )
    )
    agg = scored.groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.max("est").alias("max_est"),
    )
    roster = sigs_b.select(F.col("doc_id").alias("batch_id"))
    return (
        roster.join(agg, "batch_id", "left")
        .select(
            F.col("batch_id").alias("batch_doc_id"),
            F.coalesce(F.col("n_candidates"), F.lit(0))
            .cast("long")
            .alias("n_candidates"),
            F.round(F.coalesce(F.col("max_est"), F.lit(0.0)), 4).alias(
                "max_est_jaccard"
            ),
            (
                F.col("max_est").isNull()
                | (F.col("max_est") < _X2N_THRESHOLD)
            ).alias("admit"),
        )
        .orderBy("batch_doc_id")
    )


# X2p — paragraph-level near-dedup (boilerplate mass per source) ---------------
#
# The pass public LLM pipelines run BETWEEN exact dedup and doc-level
# near-dedup: boilerplate (nav headers, license blocks, footers) repeats
# across documents at paragraph granularity, invisible to whole-document
# MinHash because the surrounding text differs. Explode documents into
# paragraphs, MinHash-LSH each paragraph with THE shared md5-twin scheme
# (_md5_shingle_signatures/_md5_banded — any change to hash count,
# shingle width, or banding lands in one place for x2g/x2n/x2p alike),
# keep cross-DOCUMENT candidate pairs only, and report per source how
# much token mass sits in duplicated paragraphs — the number a curation
# run uses to decide whether a source needs a boilerplate-strip pass.
#
# The fixture corpus has no newlines, so paragraphs are synthesized
# deterministically in both engines: fixed 16-token chunks, with a
# 16-token boilerplate header prepended to every 10th document (the
# planted cross-document duplicate — exactly the nav-header shape).
# Scale shape: identical to x2 — signatures via map-side partial min-agg
# (the shuffle carries 8 longs per paragraph, never shingles), band
# bucket pairs never all-pairs (plan-gated), and the dup roster joins
# back by paragraph id. Paragraph count is ~docs x 5, so every stage scales
# linearly with corpus size.

_X2P_WIDTH = 16
# Max paragraphs per doc baked into the para_id packing (doc_id*IDMUL +
# idx). 1024 chunks = 16k tokens per document — far above any fixture —
# and the Spark side ENFORCES it with assert_true so a longer document
# fails loudly in both engines' comparison instead of silently aliasing
# para_ids across documents (which the oracle could not catch, since
# both engines would alias identically).
_X2P_IDMUL = 1024
_X2P_THRESHOLD = 0.5
_X2P_BOILER = (
    "nav home about contact privacy terms copyright all rights reserved "
    "subscribe newsletter follow share login search"
)

# THE single boilerplate-boost law (x2p paragraphs AND x2s spans plant
# their cross-document duplicate with it — one site in each engine, so
# the modulus/separator can never drift between the two fixtures).
_BOOST_SQL = f"CASE WHEN doc_id % 10 = 0 THEN '{_X2P_BOILER} ' || text ELSE text END"


def _boosted_text() -> Column:
    """Spark half of _BOOST_SQL."""
    return F.when(
        F.col("doc_id") % 10 == 0,
        F.concat(F.lit(_X2P_BOILER + " "), F.col("text")),
    ).otherwise(F.col("text"))

_X2P_PARAS_SQL = f"""
  SELECT doc_id, source, i AS para_idx,
         doc_id * {_X2P_IDMUL} + i AS para_id,
         array_to_string(t[i*{_X2P_WIDTH}+1 : i*{_X2P_WIDTH}+{_X2P_WIDTH}], ' ') AS text,
         len(t[i*{_X2P_WIDTH}+1 : i*{_X2P_WIDTH}+{_X2P_WIDTH}]) AS n_tok
  FROM (
    SELECT doc_id, source,
           string_split({_BOOST_SQL}, ' ') AS t
    FROM documents WHERE doc_id < 200
  ), LATERAL (SELECT unnest(range(0, CAST(ceil(len(t) / {_X2P_WIDTH}.0) AS INT))) AS i)
  WHERE len(t[i*{_X2P_WIDTH}+1 : i*{_X2P_WIDTH}+{_X2P_WIDTH}]) >= 3"""

_X2P_ORACLE = f"""
WITH paras AS ({_X2P_PARAS_SQL}),
sigs AS ({_md5_sigs_sql("TRUE", "(SELECT para_id AS doc_id, text FROM paras)")}),
banded AS ({_md5_banded_sql("sigs")}),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
   AND a.doc_id // {_X2P_IDMUL} <> b.doc_id // {_X2P_IDMUL}
),
scored AS (
  SELECT id_a, id_b
  FROM pairs p
  JOIN sigs sa ON p.id_a = sa.doc_id
  JOIN sigs sb ON p.id_b = sb.doc_id
  WHERE ({_md5_matches_sql("sa", "sb")}) / {_X2G_HASHES}.0 >= {_X2P_THRESHOLD}
),
dups AS (
  SELECT DISTINCT pid FROM (
    SELECT unnest([id_a, id_b]) AS pid FROM scored
  )
)
SELECT p.source,
       count(*)                                             AS n_paras,
       CAST(sum(CASE WHEN d.pid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                                                            AS n_dup_paras,
       round(CAST(sum(CASE WHEN d.pid IS NOT NULL THEN p.n_tok ELSE 0 END) AS DOUBLE)
             / CAST(sum(p.n_tok) AS DOUBLE), 4)             AS dup_token_frac
FROM paras p LEFT JOIN dups d ON p.para_id = d.pid
GROUP BY p.source
ORDER BY p.source
"""


def _x2p_paragraphs(docs: DataFrame) -> DataFrame:
    """(doc_id, source, para_idx, para_id, text, n_tok) — deterministic
    16-token chunking with the planted boilerplate header; the Spark
    half of _X2P_PARAS_SQL's law."""
    boosted = docs.select("doc_id", "source", _boosted_text().alias("text"))
    toks = F.split("text", " ")
    n_paras = F.ceil(F.size(toks) / F.lit(float(_X2P_WIDTH))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_paras - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * _X2P_WIDTH + 1, _X2P_WIDTH)),
    )
    return (
        boosted.select(
            "doc_id",
            "source",
            F.posexplode(chunks).alias("para_idx", "text"),
        )
        .withColumn(
            "para_id",
            # assert_true returns NULL (and raises on violation), so the
            # guard rides along as a no-op addend in the packing column.
            F.col("doc_id") * _X2P_IDMUL
            + F.col("para_idx")
            + F.coalesce(
                F.assert_true(
                    F.col("para_idx") < _X2P_IDMUL,
                    F.lit(f"x2p: document exceeds {_X2P_IDMUL} paragraphs"),
                ).cast("long"),
                F.lit(0),
            ),
        )
        .withColumn("n_tok", F.size(F.split("text", " ")))
        .filter(F.col("n_tok") >= 3)
    )


@register("x2p_paragraph_near_dedup", oracle=_X2P_ORACLE, tags=("X2",))
def x2p_paragraph_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-paragraph mass per source (boilerplate
    screen): paragraph MinHash signatures -> x2g's LSH bucket pairs
    (never all-pairs), cross-document and at signature estimate >= 0.5
    -> token-mass rollup. Doc_id < 200 keeps the DuckDB twin's
    brute-force md5 cost bounded; the Spark shape is the 100 TB one."""
    docs = Catalog(spark, sf_dir).documents.filter(F.col("doc_id") < 200)
    paras = _x2p_paragraphs(docs)
    _, sigs = _md5_shingle_signatures(
        paras.select(F.col("para_id").alias("doc_id"), "text")
    )
    scored = _md5_band_pairs(
        sigs,
        "x2p",
        where=(
            F.floor(F.col("id_a") / _X2P_IDMUL) != F.floor(F.col("id_b") / _X2P_IDMUL)
        )
        & (F.col("est_jaccard") >= _X2P_THRESHOLD),
    )
    # one select exploding both endpoints — a union of two selects of
    # the scored subtree would plan (and run) the whole LSH chain twice
    dups = scored.select(
        F.explode(F.array("id_a", "id_b")).alias("pid")
    ).distinct()
    return (
        paras.join(dups, paras["para_id"] == dups["pid"], "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.col("pid").isNotNull().cast("int"))
            .cast("long")
            .alias("n_dup_paras"),
            F.round(
                F.sum(
                    F.when(F.col("pid").isNotNull(), F.col("n_tok")).otherwise(0)
                ).cast("double")
                / F.sum("n_tok").cast("double"),
                4,
            ).alias("dup_token_frac"),
        )
        .orderBy("source")
    )


# X2q — duplicated n-gram mass (exact-substring duplication diagnostic) --------
#
# The corpus-level statistic behind exact-SUBSTRING dedup (the
# suffix-array approach of "Deduplicating Training Data Makes Language
# Models Better"): what fraction of each source's 8-gram OCCURRENCES is
# text that appears elsewhere in the corpus (>= 2 total occurrences,
# anywhere)? High duplicated-gram mass on a source means verbatim
# repetition that doc- and paragraph-level dedup (x1/x2p) missed —
# templated spans, quotes, mirrored passages — and tells the operator
# whether a substring-level pass would pay for itself. Occurrences, not
# distinct grams: the report weighs mass the way a training run sees it.
#
# Scale shape: occurrences collapse FIRST to distinct (gram, source)
# rows with counts (one hash-agg on the 60-bit md5 gram key — output
# bounded by vocabulary x sources, not corpus size), corpus totals come
# from a window partitioned by the gram key over that collapsed table
# (state per partition bounded by the source count), and the final
# aggregate is sources-sized. The gram key is the md5-60bit law shared
# with the x2g family, applied IDENTICALLY in the oracle, so even a
# (cosmically unlikely) hash collision cannot break agreement.

_X2Q_K = 8

_X2Q_ORACLE = f"""
WITH occ AS (
  SELECT source,
         CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS gh
  FROM (
    SELECT source,
           unnest(list_transform(
             range(1, greatest(len(t) - {_X2Q_K - 1}, 0) + 1),
             i -> array_to_string(t[i:i+{_X2Q_K - 1}], ' ')
           )) AS gram
    FROM (SELECT source, string_split(text, ' ') AS t FROM documents)
  )
),
g1 AS (SELECT gh, source, count(*) AS occ FROM occ GROUP BY gh, source),
g2 AS (
  SELECT source, occ,
         sum(occ) OVER (PARTITION BY gh) AS tot
  FROM g1
)
SELECT source,
       CAST(sum(occ) AS BIGINT)                                 AS n_occurrences,
       CAST(coalesce(sum(occ) FILTER (WHERE tot >= 2), 0)
            AS BIGINT)                                          AS n_dup_occurrences,
       round(CAST(coalesce(sum(occ) FILTER (WHERE tot >= 2), 0) AS DOUBLE)
             / CAST(sum(occ) AS DOUBLE), 4)                     AS dup_mass_frac
FROM g2
GROUP BY source
ORDER BY source
"""


@register("x2q_duplicated_gram_mass", oracle=_X2Q_ORACLE, tags=("X2", "X4"))
def x2q_duplicated_gram_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source fraction of 8-gram occurrences whose text occurs >= 2
    times corpus-wide — the pay-for-itself signal for a substring-level
    dedup pass. Occurrence counting, two-stage: per-(gram, source)
    counts, then corpus totals attached by a gram-partitioned window
    over the collapsed table (never the raw occurrences)."""
    docs = Catalog(spark, sf_dir).documents
    toks = F.split("text", " ")
    occ = docs.select(
        "source",
        F.explode(token_shingles(toks, _X2Q_K)).alias("gram"),
    ).select("source", _md5h60(F.col("gram")).alias("gh"))
    g1 = occ.groupBy("gh", "source").agg(F.count(F.lit(1)).alias("occ"))
    tot = F.sum("occ").over(W.partitionBy("gh"))
    g2 = g1.select("source", "occ", tot.alias("tot"))
    dup = F.when(F.col("tot") >= 2, F.col("occ")).otherwise(0)
    return (
        g2.groupBy("source")
        .agg(
            F.sum("occ").cast("long").alias("n_occurrences"),
            F.sum(dup).cast("long").alias("n_dup_occurrences"),
            F.round(
                F.sum(dup).cast("double") / F.sum("occ").cast("double"), 4
            ).alias("dup_mass_frac"),
        )
        .orderBy("source")
    )


# X2r — cross-source verbatim-span flow (who copies whom) ---------------------
#
# x2q says how MUCH of each source is duplicated text; this says WHERE
# it flows: for every source pair, the count of distinct 8-grams both
# contain verbatim and the Jaccard overlap of their gram sets — the
# matrix that separates "mirror site" pairs (high overlap -> dedup them
# jointly, or drop one source) from sources that merely share idioms.
# The whole-document version of this matrix is vacuous on corpora
# without cross-source exact dups (this fixture has none), which is
# precisely why the production diagnostic runs at span granularity.
#
# Scale shape: pair_overlap on the 60-bit md5 gram key (the shuffle
# carries 8-byte keys, never gram text): distinct (source, gram-hash)
# rows, a per-hash sorted source list (bounded by the source count),
# then one sources^2-sized aggregate carrying both the shared-gram
# counts and each source's gram-set size — one corpus scan.

_X2R_ORACLE = f"""
WITH g AS (
  SELECT DISTINCT source,
         CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS gh
  FROM (
    SELECT source,
           unnest(list_transform(
             range(1, greatest(len(t) - {_X2Q_K - 1}, 0) + 1),
             i -> array_to_string(t[i:i+{_X2Q_K - 1}], ' ')
           )) AS gram
    FROM (SELECT source, string_split(text, ' ') AS t FROM documents)
  )
),
tok AS (SELECT gh, list_sort(list(source)) AS srcs FROM g GROUP BY gh),
pairs AS (
  SELECT unnest(flatten(list_transform(generate_series(1, len(srcs)),
           i -> list_transform(generate_series(i, len(srcs)),
                  j -> {{'src_a': srcs[i], 'src_b': srcs[j]}})))) AS p
  FROM tok
),
agg AS (
  SELECT p.src_a AS src_a, p.src_b AS src_b, count(*) AS n_pair FROM pairs
  GROUP BY p.src_a, p.src_b
),
sized AS (
  SELECT src_a, src_b, n_pair,
         max(CASE WHEN src_a = src_b THEN n_pair END)
           OVER (PARTITION BY src_a) AS n_grams_a,
         max(CASE WHEN src_a = src_b THEN n_pair END)
           OVER (PARTITION BY src_b) AS n_grams_b
  FROM agg
)
SELECT src_a, src_b,
       CAST(n_grams_a AS BIGINT) AS n_grams_a,
       CAST(n_grams_b AS BIGINT) AS n_grams_b,
       CAST(n_pair AS BIGINT)    AS n_shared,
       round(n_pair / CAST(n_grams_a + n_grams_b - n_pair AS DOUBLE), 4)
                                 AS jaccard
FROM sized
WHERE src_a < src_b
ORDER BY src_a, src_b
"""


@register("x2r_cross_source_gram_flow", oracle=_X2R_ORACLE, tags=("X2", "X4"))
def x2r_cross_source_gram_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source pair: distinct verbatim 8-grams shared and the Jaccard
    overlap of the two gram sets. Pairs sharing nothing don't appear
    (both engines agree by construction)."""
    docs = Catalog(spark, sf_dir).documents
    toks = F.split("text", " ")
    g = (
        ensure_min_partitions(docs)
        .select("source", F.explode(token_shingles(toks, _X2Q_K)).alias("gram"))
        .select("source", _md5h60(F.col("gram")).alias("gh"))
        .distinct()
    )
    tok = g.groupBy("gh").agg(F.sort_array(F.collect_list("source")).alias("srcs"))
    return (
        pair_overlap(tok, "srcs", "x2r")
        .select(
            F.col("a").alias("src_a"),
            F.col("b").alias("src_b"),
            F.col("n_a").alias("n_grams_a"),
            F.col("n_b").alias("n_grams_b"),
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double"),
                4,
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


# X2s — exact-substring span dedup (gram-run approximation of the
# suffix-array method) --------------------------------------------------------
#
# The pass x2q's diagnostic exists to justify: actually REMOVE the
# duplicated substrings. Public method: "Deduplicating Training Data
# Makes Language Models Better" (Lee et al. 2022) builds a suffix array
# and deletes every >=50-token substring that appears twice in the
# corpus; here the same semantics are approximated at token-8-gram
# granularity, which is what keeps the operator a pure DataFrame
# pipeline: a token position is span-covered iff it lies inside a run of
# >= _X2S_NMIN consecutive gram positions whose gram text occurs >= 2
# times corpus-wide (so marked substrings are >= NMIN+K-1 = 12 tokens).
# Each document emits its span count, removed-token mass, and the md5 of
# the TRIMMED text — the hash pins every byte of the rewritten corpus
# across engines without shipping document text through the comparator.
#
# The corpus is the x2p boilerplate-boosted one (every 10th document gets
# the 16-token nav header prepended, identically in both engines) so the
# planted cross-document duplicate exercises the span machinery
# deterministically at every scale; natural corpus repeats flag too.
#
# Scale shape (the round-8 verdict's prescription): gram corpus
# frequencies attach to occurrences via ONE gram-partitioned window
# (single corpus scan, shuffle carries (doc_id, pos, gh) = 3 longs per
# gram — never gram text, never an all-pairs stage); everything after
# the tot>=2 filter is DUPLICATED-MASS sized, grouped per document
# (run grouping, interval merge = two doc-partitioned windows over
# span-sized data); the trim rejoins documents by doc_id once. Total:
# two documents scans (gram pass + trim join), plan-gated.

_X2S_NMIN = 5  # min run length in grams => min marked span = 12 tokens

_X2S_ORACLE = f"""
WITH docs2 AS (
  SELECT doc_id, source,
         string_split({_BOOST_SQL}, ' ') AS t
  FROM documents
),
occ AS (
  SELECT doc_id, u.pos AS pos,
         count(*) OVER (PARTITION BY u.gh) AS tot
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(t) - {_X2Q_K - 1}, 0) + 1),
             i -> {{'pos': i - 1,
                    'gh': CAST('0x' || substr(md5(array_to_string(t[i:i+{_X2Q_K - 1}], ' ')), 1, 15) AS BIGINT)}})) AS u
    FROM docs2
  )
),
runs AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM occ WHERE tot >= 2
),
spans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + {_X2Q_K - 1} AS e
  FROM runs GROUP BY doc_id, isl
  HAVING count(*) >= {_X2S_NMIN}
),
m1 AS (
  SELECT doc_id, s, e,
         max(e) OVER (PARTITION BY doc_id ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
  FROM spans
),
m2 AS (
  SELECT doc_id, s, e,
         sum(CASE WHEN prev_e IS NULL OR s > prev_e THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS isl2
  FROM m1
),
miv AS (SELECT doc_id, min(s) AS ms, max(e) AS me FROM m2 GROUP BY doc_id, isl2),
ivs AS (
  SELECT doc_id, list({{'ms': ms, 'me': me}}) AS iv,
         sum(me - ms + 1) AS n_removed, count(*) AS n_spans
  FROM miv GROUP BY doc_id
)
SELECT d.doc_id, d.source,
       CAST(len(t) AS BIGINT) AS n_tok,
       CAST(coalesce(n_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(coalesce(n_removed, 0) AS BIGINT) AS n_removed_tokens,
       round((len(t) - coalesce(n_removed, 0)) / CAST(len(t) AS DOUBLE), 4)
         AS keep_frac,
       md5(coalesce(array_to_string(
         list_transform(
           list_filter(range(1, len(t) + 1),
             i -> len(list_filter(coalesce(iv, []),
                    v -> i - 1 >= v.ms AND i - 1 <= v.me)) = 0),
           i -> t[i]), ' '), '')) AS trimmed_md5
FROM docs2 d LEFT JOIN ivs ON d.doc_id = ivs.doc_id
ORDER BY d.doc_id
"""


def _x2s_docs_and_occ(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared x2s/x2s3 front end: boosted-token documents plus the
    (doc_id, pos, gh) gram-occurrence table."""
    docs = Catalog(spark, sf_dir).documents
    docs2 = ensure_min_partitions(docs).select(
        "doc_id", "source", F.split(_boosted_text(), " ").alias("t")
    )
    occ = docs2.select(
        "doc_id",
        F.posexplode(token_shingles(F.col("t"), _X2Q_K)).alias("pos", "gram"),
    ).select("doc_id", "pos", _md5h60(F.col("gram")).alias("gh"))
    return docs2, occ


@register("x2s_substring_span_dedup", oracle=_X2S_ORACLE, tags=("X2",))
def x2s_substring_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: maximal duplicated substring spans (runs of >=5
    consecutive 8-grams with corpus frequency >= 2) marked, merged, and
    REMOVED — emitting span count, removed-token mass, and the md5 of
    the trimmed text (the hash is the cross-engine proof that both
    engines rewrote every document identically, byte for byte)."""
    docs2, occ = _x2s_docs_and_occ(spark, sf_dir)
    # Corpus frequency rides along each occurrence via ONE window over
    # the gram key — no second corpus scan, no join against a derived
    # dup-gram set (a twice-referenced subtree would be PLANNED twice).
    # The trade: every occurrence of a gram lands in ONE window task
    # (no partial aggregation) — x2s3 is the map-combined twin that
    # bounds the hot-gram task at production scale.
    tot = F.count(F.lit(1)).over(W.partitionBy("gh"))
    dup_occ = occ.select("doc_id", "pos", tot.alias("tot")).filter(
        F.col("tot") >= 2
    )
    return _x2s_trim(docs2, dup_occ)


def _x2s_trim(docs2: DataFrame, dup_occ: DataFrame) -> DataFrame:
    """Shared x2s/x2s3 back end: duplicated-gram occurrences -> runs ->
    merged intervals -> trimmed documents. Input data is
    duplicated-mass sized; every window below is doc-partitioned."""
    runs = dup_occ.select(
        "doc_id",
        "pos",
        (
            F.col("pos")
            - F.row_number().over(W.partitionBy("doc_id").orderBy("pos"))
        ).alias("isl"),
    )
    spans = (
        runs.groupBy("doc_id", "isl")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + (_X2Q_K - 1)).alias("e"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .filter(F.col("cnt") >= _X2S_NMIN)
    )

    prev_e = F.max("e").over(
        W.partitionBy("doc_id").orderBy("s").rowsBetween(W.unboundedPreceding, -1)
    )
    m1 = spans.select("doc_id", "s", "e", prev_e.alias("prev_e"))
    new_isl = F.when(
        F.col("prev_e").isNull() | (F.col("s") > F.col("prev_e")), 1
    ).otherwise(0)
    m2 = m1.select(
        "doc_id",
        "s",
        "e",
        F.sum(new_isl)
        .over(
            W.partitionBy("doc_id")
            .orderBy("s")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        .alias("isl2"),
    )
    miv = m2.groupBy("doc_id", "isl2").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    ivs = miv.groupBy("doc_id").agg(
        F.collect_list(F.struct("ms", "me")).alias("iv"),
        F.sum(F.col("me") - F.col("ms") + 1).alias("n_removed"),
        F.count(F.lit(1)).alias("n_spans"),
    )

    iv0 = F.coalesce(
        F.col("iv"), F.array().cast("array<struct<ms:bigint,me:bigint>>")
    )
    keep = F.filter(
        F.col("t"),
        lambda tok, i: ~F.exists(
            iv0, lambda v: (i >= v["ms"]) & (i <= v["me"])
        ),
    )
    n_tok = F.size("t").cast("long")
    n_removed = F.coalesce(F.col("n_removed"), F.lit(0)).cast("long")
    return (
        docs2.join(ivs, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            n_tok.alias("n_tok"),
            F.coalesce(F.col("n_spans"), F.lit(0))
            .cast("long")
            .alias("n_dup_spans"),
            n_removed.alias("n_removed_tokens"),
            F.round(
                (n_tok - n_removed) / n_tok.cast("double"), 4
            ).alias("keep_frac"),
            F.md5(F.concat_ws(" ", keep)).alias("trimmed_md5"),
        )
        .orderBy("doc_id")
    )


# X2s2 — per-source removed-token mass (the span-dedup scoreboard) -------------
#
# The number the round-8 verdict asked the span pass to deliver: per
# source, how much token mass the substring dedup removes — read
# side-by-side with x2q's dup_mass_frac (the diagnostic ceiling) it
# shows how much of the measured duplication the >=12-token span rule
# actually captures. Composes the REGISTERED x2s verbatim (operator and
# oracle alike); the rollup itself is sources-sized.

_X2S2_ORACLE = f"""
WITH span AS ({_X2S_ORACLE})
SELECT source,
       CAST(count(*) AS BIGINT)                       AS n_docs,
       CAST(sum(CASE WHEN n_dup_spans > 0 THEN 1 ELSE 0 END) AS BIGINT)
                                                      AS n_docs_trimmed,
       CAST(sum(n_tok) AS BIGINT)                     AS n_tokens,
       CAST(sum(n_removed_tokens) AS BIGINT)          AS n_removed_tokens,
       round(sum(n_removed_tokens) / CAST(sum(n_tok) AS DOUBLE), 4)
                                                      AS removed_frac
FROM span
GROUP BY source
ORDER BY source
"""


@register("x2s2_span_dedup_by_source", oracle=_X2S2_ORACLE, tags=("X2",))
def x2s2_span_dedup_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source rollup of x2s: documents touched, token mass removed,
    and the removed fraction — the payoff report for the substring
    pass."""
    span = x2s_substring_span_dedup(spark, sf_dir)
    return (
        span.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("n_dup_spans") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_docs_trimmed"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum("n_removed_tokens").cast("long").alias("n_removed_tokens"),
            F.round(
                F.sum("n_removed_tokens") / F.sum("n_tok").cast("double"), 4
            ).alias("removed_frac"),
        )
        .orderBy("source")
    )


# X2s3 — span dedup, map-combined gram-count twin (the 100 TB shape) -----------
#
# Same semantics and the same oracle text as x2s (the s16/s16b identity
# pattern: one algorithm, two physical shapes, byte-identical output —
# trimmed_md5 equality across the pair is pytest-pinned). The difference
# is WHERE the gram corpus frequency comes from:
#
#   x2s : count(*) OVER (PARTITION BY gh)  — one corpus scan, but every
#         occurrence of a gram is shuffled to that gram's single window
#         task with NO partial aggregation. A pathological boilerplate
#         gram (think a site-wide nav header at 100 TB) concentrates its
#         full occurrence stream in one task.
#   x2s3: groupBy(gh).count() + equi-join — the count runs as
#         partial+final HashAggregate (map-side combine bounds the hot
#         gram's final task to ONE ROW per upstream partition), and the
#         occurrence stream itself is never key-shuffled when the
#         dup-gram set broadcasts; if it grows past broadcast range the
#         equi-join is AQE-skew-splittable (OptimizeSkewedJoin can
#         replicate the build side across probe splits), which a window
#         never is.
#
# Cost: the occ subtree is referenced twice (count + probe), so
# Catalyst plans it twice — 3 documents scans vs x2s's 2 (gate-pinned;
# a production run persists occ, same note as x6m/x4s).


@register("x2s3_span_dedup_mapcombine", oracle=_X2S_ORACLE, tags=("X2",))
def x2s3_span_dedup_mapcombine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x2s's scale-safe twin: gram corpus frequencies via map-combined
    groupBy(gh).count() + equi-join instead of a gram-partitioned
    window, bounding the hot-gram task at 100x. Identical output —
    same oracle SQL verbatim, trimmed_md5 byte-identical to x2s."""
    docs2, occ = _x2s_docs_and_occ(spark, sf_dir)
    dup_grams = (
        occ.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("tot"))
        .filter(F.col("tot") >= 2)
        .select("gh")
    )
    dup_occ = occ.join(dup_grams, "gh").select("doc_id", "pos")
    return _x2s_trim(docs2, dup_occ)


# X2v — containment rescore (asymmetric near-SUPERSET detection) ----------------
#
# Symmetric Jaccard misses the quote-expansion / page-plus-boilerplate
# case: when document B contains all of A plus more, J(A,B) =
# |A|/|A u B| can sit far below any dedup threshold while
# containment(A, B) = |A n B|/|A| is ~1 (Broder's containment measure —
# the quantity behind "is this doc subsumed by another"). This operator
# rescans the banding candidates with BOTH directed containments next to
# Jaccard and flags pairs where one side is >= 90% contained. The
# fixture plants the asymmetric shape deterministically in both engines:
# every odd doc_id < 120 absorbs its even neighbor's full text (so
# shingles(even) is a near-subset of shingles(odd)).
#
# Scale shape: x2i's exactly — candidates never leave signature space
# (banding equi-join, no est screen: containment pairs are precisely the
# ones a high estimate threshold would drop), and the exact shingle
# intersection joins only the BROADCAST survivor pair set. Banding
# recall on asymmetric pairs is genuinely partial (P[band] = J^2 — the
# known weakness containment-specific indexes exist to fix); the
# operator reports what the index surfaces, which both engines compute
# identically.

def _absorbed_docs_sql(max_id: int) -> str:
    """The planted-asymmetry corpus x2v and x2w share: every odd doc
    absorbs its even neighbor's full text. ONE generation site for both
    engines' fixtures — the Spark twin is ``_absorbed_docs``."""
    return f"""
  SELECT a.doc_id AS doc_id,
         CASE WHEN a.doc_id % 2 = 1 AND b.text IS NOT NULL
              THEN b.text || ' ' || a.text ELSE a.text END AS text
  FROM documents a LEFT JOIN documents b ON b.doc_id = a.doc_id - 1
  WHERE a.doc_id < {max_id}"""


def _absorbed_docs(spark: SparkSession, sf_dir: str, max_id: int) -> DataFrame:
    """Spark twin of ``_absorbed_docs_sql``: (doc_id, text)."""
    base = Catalog(spark, sf_dir).documents.filter(F.col("doc_id") < max_id)
    nbr = base.select(
        (F.col("doc_id") + 1).alias("doc_id"), F.col("text").alias("nbr_text")
    )
    return base.join(nbr, "doc_id", "left").select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 2 == 1) & F.col("nbr_text").isNotNull(),
            F.concat(F.col("nbr_text"), F.lit(" "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


_X2V_DOCS_SQL = _absorbed_docs_sql(120)

_X2V_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM ({_X2V_DOCS_SQL}))
),
sigs AS ({_md5_sigs_sql("TRUE", f"({_X2V_DOCS_SQL})")}),
banded AS ({_md5_banded_sql("sigs")}),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN banded b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
),
counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT p.id_a, p.id_b, count(*) AS n_common
  FROM pairs p
  JOIN sh a ON a.doc_id = p.id_a
  JOIN sh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
  GROUP BY p.id_a, p.id_b
)
SELECT p.id_a AS id_a, p.id_b AS id_b,
       CAST(ca.n AS BIGINT) AS n_shingles_a,
       CAST(cb.n AS BIGINT) AS n_shingles_b,
       CAST(coalesce(c.n_common, 0) AS BIGINT) AS n_common,
       round(coalesce(c.n_common, 0)
             / CAST(ca.n + cb.n - coalesce(c.n_common, 0) AS DOUBLE), 4) AS jaccard,
       round(coalesce(c.n_common, 0) / CAST(ca.n AS DOUBLE), 4) AS containment_a,
       round(coalesce(c.n_common, 0) / CAST(cb.n AS DOUBLE), 4) AS containment_b,
       greatest(coalesce(c.n_common, 0) / CAST(ca.n AS DOUBLE),
                coalesce(c.n_common, 0) / CAST(cb.n AS DOUBLE)) >= 0.9
         AS is_containment_dup
FROM pairs p
LEFT JOIN common c ON c.id_a = p.id_a AND c.id_b = p.id_b
JOIN counts ca ON ca.doc_id = p.id_a
JOIN counts cb ON cb.doc_id = p.id_b
ORDER BY p.id_a, p.id_b
"""


@register("x2v_containment_rescore", oracle=_X2V_ORACLE, tags=("X2",))
def x2v_containment_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding candidates rescored with DIRECTED containment alongside
    Jaccard — the near-superset detector. The verdict flags pairs where
    either side is >= 90% contained in the other (the unrounded ratio,
    identical in both engines)."""
    docs2 = _absorbed_docs(spark, sf_dir, 120)
    sh, sigs = _md5_shingle_signatures(docs2)
    sig_arr = sigs.select(
        F.col("doc_id").alias("_id"),
        F.array(*[f"mh_{s}" for s in range(_X2G_HASHES)]).alias("minhash"),
    )
    pairs = minhash_candidate_pairs(
        sig_arr, num_hashes=_X2G_HASHES, bands=_X2G_BANDS
    ).select("id_a", "id_b")
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sh_a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    sh_b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    common = (
        F.broadcast(pairs)
        .join(sh_a, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    nc = F.coalesce("n_common", F.lit(0))
    cont_a = nc / F.col("n_a").cast("double")
    cont_b = nc / F.col("n_b").cast("double")
    return (
        pairs.join(common, ["id_a", "id_b"], "left")
        .join(
            counts.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a")),
            "id_a",
        )
        .join(
            counts.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.col("n_a").cast("long").alias("n_shingles_a"),
            F.col("n_b").cast("long").alias("n_shingles_b"),
            nc.cast("long").alias("n_common"),
            F.round(nc / (F.col("n_a") + F.col("n_b") - nc).cast("double"), 4).alias(
                "jaccard"
            ),
            F.round(cont_a, 4).alias("containment_a"),
            F.round(cont_b, 4).alias("containment_b"),
            (F.greatest(cont_a, cont_b) >= 0.9).alias("is_containment_dup"),
        )
        .orderBy("id_a", "id_b")
    )


# X2w — exact similarity join via PREFIX FILTERING (AllPairs/PPJoin family) ----
#
# The third candidate-generation strategy next to MinHash banding
# (probabilistic recall) and SemDeDup clustering (semantic): an EXACT
# similarity join — every pair with Jaccard >= t, guaranteed, without
# an all-pairs stage. Public method (Chaudhuri et al. ICDE'06; Bayardo
# et al. WWW'07 "Scaling Up All Pairs"): order every document's
# shingle set by a global canonical order (ascending document
# frequency, so prefixes hold the RAREST shingles), keep only the
# first |S| - ceil(t*|S|) + 1 shingles of each document (its prefix),
# and equi-join prefixes: if J(A,B) >= t then |A n B| >= ceil(t*|A|)
# and >= ceil(t*|B|), and by pigeonhole two sets overlapping that much
# MUST share a prefix element — so the equi-join's candidates are a
# guaranteed superset and the exact verify loses nothing. The oracle is
# the NAIVE all-pairs join: equality of the two result sets IS the
# completeness theorem, checked cross-engine.
#
# Scale shape: candidates are bucket_pairs on single shingle hashes
# (rarest-first prefixes keep posting lists short — the whole
# point of the frequency order), the verify joins full sets only for
# the candidate pairs, and the corpus never crosses a cartesian. The
# fixture is x2v's absorbed corpus (even docs embedded in their odd
# neighbors) over doc_id < 240 so planted pairs span J ~0.5-0.97 and
# the naive oracle stays cheap; the operator's dataflow is
# corpus-size-agnostic.

_X2W_T = 0.5  # Jaccard threshold

_X2W_DOCS_SQL = _absorbed_docs_sql(240)

_X2W_ORACLE = f"""
WITH docs AS ({_X2W_DOCS_SQL}),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(t) - {_X2Q_K - 1}, 0) + 1),
           i -> CAST('0x' || substr(md5(array_to_string(t[i:i+{_X2Q_K - 1}], ' ')), 1, 15) AS BIGINT)))
           AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM docs)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_common,
       floor(len(list_intersect(a.s, b.s))
             / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
                    AS DOUBLE) * 10000) / 10000 AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) > 0
  AND len(list_intersect(a.s, b.s))
      >= {_X2W_T} * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
ORDER BY id_a, id_b
"""


def _hashed_shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, s: array<long>) — distinct ``_X2Q_K``-gram shingles per
    document under the portable md5-15-hex-digit hash law both engines
    share (x2w's fingerprint table)."""
    return docs.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                token_shingles(F.split("text", " "), _X2Q_K),
                lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast(
                    "long"
                ),
            )
        ).alias("s"),
    )


def _prefix_filter_pairs(sh: DataFrame, t: float) -> DataFrame:
    """AllPairs/PPJoin core over a fingerprint table ``sh`` (doc_id,
    s: array<long>): frequency-ordered prefix extraction, bucket_pairs
    on single prefix shingle hashes, exact set verify — every pair with
    Jaccard >= ``t``, never all-pairs. The candidates carry no payload:
    a doc's full set riding each of its ~|s|/2 prefix postings would
    grow the pair stage's shuffle with the square of the document
    length, so the verify joins the sets for the candidates instead.

    ``sh`` feeds four branches (the document-frequency count, the join
    back onto it, both verify sides), so it is persisted here, lazily:
    its producer (shingling, and x2w's absorbed-docs join) runs once,
    in the query's first job, with no Spark job at build time."""
    sh = persist_scoped(sh)
    occ = sh.select("doc_id", F.explode("s").alias("gh"))
    df_counts = occ.groupBy("gh").agg(F.count(F.lit(1)).alias("n_docs"))
    # per-doc shingles in canonical (doc-frequency asc, gh asc) order;
    # the prefix keeps the RAREST shingles, which is what keeps the
    # candidate posting lists short
    ranked = (
        occ.join(df_counts, "gh")
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("n_docs", "gh"))
            ).alias("ordered")
        )
    )
    n = F.size("ordered")
    prefix_len = n - F.ceil(F.lit(t) * n).cast("int") + 1
    prefix = ranked.select(
        "doc_id",
        F.explode(
            F.transform(
                F.slice("ordered", F.lit(1), prefix_len), lambda s: s["gh"]
            )
        ).alias("gh"),
    )
    cand = bucket_pairs(prefix, "doc_id", ["gh"], "x2w")
    sa = sh.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    sb = sh.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    ni = F.size(F.array_intersect("sa", "sb"))
    union_n = (F.size("sa") + F.size("sb") - ni).cast("double")
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(ni >= F.lit(t) * union_n)
        .select(
            "id_a",
            "id_b",
            ni.cast("long").alias("n_common"),
            # floor law, not round(,4): a count ratio WILL eventually
            # land on .xxxx5 where the engines' round() laws diverge
            # (e.g. 427/800 — the x4q hazard class)
            (F.floor(ni / union_n * 10000) / 10000).alias("jaccard"),
        )
        .orderBy("id_a", "id_b")
    )


@register("x2w_prefix_filter_join", oracle=_X2W_ORACLE, tags=("X2",))
def x2w_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document pair with shingle-set Jaccard >= 0.5, found by
    frequency-ordered prefix filtering + equi-join + exact verify —
    never all-pairs. The oracle is the naive all-pairs join, so the
    comparison IS the prefix filter's completeness theorem (affordable
    because the planted-asymmetry fixture caps at 240 docs; x2w2 is
    the uncapped full-corpus face)."""
    sh = _hashed_shingle_sets(_absorbed_docs(spark, sf_dir, 240))
    return _prefix_filter_pairs(sh, _X2W_T)


# X2w2 — prefix-filter join UNCAPPED: the full documents table ------------------
#
# x2w's oracle is the naive all-pairs join, which is what capped its
# fixture at 240 docs — the cap was the ORACLE's, never the
# operator's. x2w2 removes it by swapping the oracle for the other
# exact algorithm: the x2c-style INVERTED-INDEX join (shingle-equality
# postings join -> per-pair common counts -> Jaccard filter), which
# only ever meets pairs that co-occur in some posting list and so
# stays affordable at any corpus whose posting mass is bounded. Both
# sides are exact algorithms for the same set {(a,b): J(a,b) >= t}, so
# equality is a second completeness theorem — prefix filtering vs
# inverted index, checked cross-engine on the FULL corpus (500 docs at
# sf0.01, 5000 at sf0.1; 25/256 qualifying pairs).
#
# Scale shape: identical to x2w (that is the point) — the shared
# _prefix_filter_pairs persists the fingerprint table once for its
# four consumers.

_X2W2_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - {_X2Q_K - 1}, 0) + 1),
           i -> CAST('0x' || substr(md5(array_to_string(t[i:i+{_X2Q_K - 1}], ' ')), 1, 15) AS BIGINT)))) AS gh
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.gh = b.gh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.id_a AS id_a, i.id_b AS id_b,
       CAST(i.n_common AS BIGINT) AS n_common,
       floor(i.n_common
             / CAST(sa.n + sb.n - i.n_common AS DOUBLE) * 10000) / 10000
         AS jaccard
FROM inter i
JOIN sizes sa ON i.id_a = sa.doc_id
JOIN sizes sb ON i.id_b = sb.doc_id
WHERE i.n_common >= {_X2W_T} * (sa.n + sb.n - i.n_common)
ORDER BY id_a, id_b
"""


@register("x2w2_prefix_filter_full_corpus", oracle=_X2W2_ORACLE, tags=("X2",))
def x2w2_prefix_filter_full_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x2w's exact prefix-filter similarity join over the FULL
    documents table — no fixture cap. The oracle is the exact
    inverted-index join (x2c's shape at x2w's shingles/threshold), so
    cross-engine equality proves prefix-filter completeness at corpus
    scale, where the naive all-pairs oracle stopped being affordable."""
    docs = ensure_min_partitions(Catalog(spark, sf_dir).documents)
    sh = _hashed_shingle_sets(docs.select("doc_id", "text"))
    return _prefix_filter_pairs(sh, _X2W_T)


# X1d — URL/domain-level dedup report (the pre-text dedup pass) -----------------
#
# Public web-corpus pipelines (C4, RefinedWeb) dedup at URL level
# BEFORE any text-level pass: the same page fetched under cosmetic URL
# variants (scheme, www, query trackers, fragments) is the cheapest
# duplicate class there is, and catching it costs one normalize + one
# hash-agg instead of a shingle pipeline. The fixture carries no URL
# column, so the URLs are PLANTED from event fields under one
# generation law shared by both engines (the s20 pattern): domain from
# user_id, path from event_type + props.k, plus event_id-keyed
# scheme/www/query/fragment noise — exactly the variants normalization
# must erase. The Spark side normalizes with the idiomatic parse_url
# (JVM built-in HOST/PATH extraction); the oracle does the same with
# regex string surgery, so agreement also cross-checks the two
# normalization routes.
#
# Scale shape: map-only URL surgery, then x1c's two-stage aggregate —
# (domain, norm_url) partial counts first, so the distinct-URL count
# never plans a distinct-expand and the wide shuffle carries one row
# per distinct normalized URL. Output is domains-sized.

_X1D_URL_SQL = """
  SELECT CASE WHEN event_id % 3 = 0 THEN 'http://' ELSE 'https://' END
         || CASE WHEN event_id % 2 = 0 THEN 'www.' ELSE '' END
         || 'Site' || CAST(user_id % 20 AS VARCHAR) || '.Example.COM'
         || '/' || event_type || '/item'
         || CAST(CAST(json_extract_string(props, '$.k') AS INT) % 10 AS VARCHAR)
         || CASE WHEN event_id % 2 = 0
                 THEN '?utm=' || CAST(event_id AS VARCHAR) ELSE '' END
         || CASE WHEN event_id % 5 = 0 THEN '#frag' ELSE '' END AS url
  FROM events
"""

_X1D_ORACLE = f"""
WITH urls AS ({_X1D_URL_SQL}),
stripped AS (
  SELECT regexp_replace(regexp_replace(url, '[?#].*$', ''),
                        '^https?://', '') AS s
  FROM urls
),
norm AS (
  SELECT regexp_replace(lower(split_part(s, '/', 1)), '^www\\.', '') AS domain,
         regexp_replace(lower(split_part(s, '/', 1)), '^www\\.', '')
           || substr(s, len(split_part(s, '/', 1)) + 1) AS norm_url
  FROM stripped
),
f AS (SELECT domain, norm_url, count(*) AS n FROM norm GROUP BY 1, 2)
SELECT domain,
       CAST(sum(n) AS BIGINT)            AS n_fetches,
       count(*)                          AS n_unique_urls,
       CAST(sum(n) - count(*) AS BIGINT) AS n_dup_fetches,
       floor((1.0 - count(*) / CAST(sum(n) AS DOUBLE)) * 1e6) / 1e6 AS dup_frac
FROM f
GROUP BY domain
ORDER BY domain
"""


def _planted_event_urls(events: DataFrame) -> DataFrame:
    """Spark face of ``_X1D_URL_SQL`` — one column ``url``."""
    k = F.get_json_object("props", "$.k").cast("int")
    return events.select(
        F.concat(
            F.when(F.col("event_id") % 3 == 0, "http://").otherwise("https://"),
            F.when(F.col("event_id") % 2 == 0, "www.").otherwise(""),
            F.lit("Site"),
            (F.col("user_id") % 20).cast("string"),
            F.lit(".Example.COM/"),
            F.col("event_type"),
            F.lit("/item"),
            (k % 10).cast("string"),
            F.when(
                F.col("event_id") % 2 == 0,
                F.concat(F.lit("?utm="), F.col("event_id").cast("string")),
            ).otherwise(""),
            F.when(F.col("event_id") % 5 == 0, "#frag").otherwise(""),
        ).alias("url")
    )


def normalize_urls(urls: DataFrame) -> DataFrame:
    """(domain, norm_url) per input url: scheme/query/fragment stripped,
    host lowercased, leading www. dropped — the canonical form URL
    dedup groups on. parse_url is the JVM-side extractor (no Python in
    the path)."""
    host = F.parse_url("url", F.lit("HOST"))
    # parse_url PATH is NULL for a path-less URL; concat(domain, NULL)
    # would NULL the whole norm_url while the oracle's string surgery
    # yields the bare domain — coalesce to '' so both laws agree.
    path = F.coalesce(F.parse_url("url", F.lit("PATH")), F.lit(""))
    domain = F.regexp_replace(F.lower(host), r"^www\.", "")
    return urls.select(
        domain.alias("domain"), F.concat(domain, path).alias("norm_url")
    )


@register("x1d_url_dedup_report", oracle=_X1D_ORACLE, tags=("X1",))
def x1d_url_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain URL-duplication mass after normalization: fetches,
    unique canonical URLs, duplicate fetches, dup fraction — the report
    that decides whether a crawl source gets re-scoped before any
    text-level dedup runs."""
    urls = _planted_event_urls(Catalog(spark, sf_dir).events)
    norm = normalize_urls(urls)
    f = norm.groupBy("domain", "norm_url").agg(F.count(F.lit(1)).alias("n"))
    uniq = F.count(F.lit(1))
    tot = F.sum("n")
    return (
        f.groupBy("domain")
        .agg(
            tot.cast("long").alias("n_fetches"),
            uniq.alias("n_unique_urls"),
            (tot - uniq).cast("long").alias("n_dup_fetches"),
            # floor law, not round: a count ratio WILL eventually land
            # on .xxxxx5 where the engines' round() laws diverge
            (F.floor((F.lit(1.0) - uniq / tot.cast("double")) * 1e6) / 1e6).alias(
                "dup_frac"
            ),
        )
        .orderBy("domain")
    )


# X2y — MinHash LSH parameter planner (the design tool behind x2g/x2) -----------
#
# Choosing (bands, rows) for a signature budget is the published
# S-curve calculus (Leskovec/Rajaraman/Ullman ch.3): a pair with
# Jaccard J collides in one band with probability J^r, hence anywhere
# with p = 1 - (1 - J^r)^b. This operator emits that curve over the
# ACTUAL design space of the engine's registered scheme — every (b, r)
# factorization of the _X2G_HASHES signature budget — so the table is
# the evidence for why x2g runs 4 bands x 2 rows and what moving along
# the budget trades away.
#
# Cross-engine float law: J^r and (1-J^r)^b are generated as EXPLICIT
# multiplication chains (one Python site emits both the Spark Column
# and the SQL text), never pow() — repeated IEEE multiply is
# bit-identical across engines while libm pow is only ~1ulp, and a
# 1ulp drift under round() is exactly the straddle hazard. p_detect
# then takes the floor law; the >= 0.5 planner verdict compares the
# exact chained value.
#
# Scale shape: a 76-row constant-space table (|configs| x |J grid|) —
# the planner costs nothing; it EXISTS so the expensive thing (a 100 TB
# signature pass with the wrong r) never runs.

_X2Y_GRID_N = 19  # J = 0.05 .. 0.95 step 0.05


def _x2y_configs() -> list[tuple[int, int]]:
    """All (bands, rows_per_band) factorizations of the signature
    budget, widest-band first."""
    h = _X2G_HASHES
    return [(b, h // b) for b in range(1, h + 1) if h % b == 0]


def _chain_sql(base: str, n: int) -> str:
    """``base`` multiplied by itself ``n`` times — IEEE-exact both
    engines (left-associated, same order as the Spark twin)."""
    out = base
    for _ in range(n - 1):
        out = f"({out} * {base})"
    return out


def _chain_col(base: Column, n: int) -> Column:
    out = base
    for _ in range(n - 1):
        out = out * base
    return out


def _x2y_oracle() -> str:
    branches = []
    for b, r in _x2y_configs():
        jr = _chain_sql("j", r)
        miss = _chain_sql(f"(1.0 - {jr})", b)
        branches.append(f"""
  SELECT {_X2G_HASHES} AS n_hashes, {b} AS bands, {r} AS rows_per_band,
         round(j, 2) AS jaccard,
         floor((1.0 - {miss}) * 1e6) / 1e6 AS p_detect,
         (1.0 - {miss}) >= 0.5 AS is_above_half
  FROM (SELECT i * 0.05 AS j FROM range(1, {_X2Y_GRID_N + 1}) t(i))""")
    u = "\nUNION ALL\n".join(branches)
    return f"SELECT * FROM (\n{u}\n) ORDER BY bands, jaccard"


@register("x2y_lsh_parameter_planner", oracle=_x2y_oracle(), tags=("X2",))
def x2y_lsh_parameter_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detection-probability table p = 1 - (1 - J^r)^b for every
    (bands, rows) factorization of the registered signature budget over
    a J grid — the S-curve evidence a banding scheme is chosen from."""
    # numPartitions=1: a 19-row constant grid must not fan out to the
    # default-parallelism task count
    grid = spark.range(1, _X2Y_GRID_N + 1, 1, 1).select(
        (F.col("id") * 0.05).alias("j")
    )
    parts = []
    for b, r in _x2y_configs():
        jr = _chain_col(F.col("j"), r)
        miss = _chain_col(F.lit(1.0) - jr, b)
        p = F.lit(1.0) - miss
        parts.append(
            grid.select(
                F.lit(_X2G_HASHES).cast("int").alias("n_hashes"),
                F.lit(b).cast("int").alias("bands"),
                F.lit(r).cast("int").alias("rows_per_band"),
                F.round("j", 2).alias("jaccard"),
                (F.floor(p * 1e6) / 1e6).alias("p_detect"),
                (p >= 0.5).alias("is_above_half"),
            )
        )
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out.orderBy("bands", "jaccard")


# X3u — IVF-cell-confined kNN graph (corpus vs corpus) --------------------------
#
# Every x3 search is query-set-vs-corpus; the primitive behind
# SemDeDup-style clustering, graph-based ANN indexes, and diversity
# sampling is the kNN GRAPH — every corpus vector's top-k neighbors.
# Exact all-pairs is the one shape this repo forbids, so the graph is
# IVF-confined: vectors meet only within their coarse cell (the
# assign_cells law x2j shares), giving the standard recall trade —
# cross-cell true neighbors are missed, which is why production runs
# multi-probe; the dataflow is identical.
#
# Shape: an i<j cell-keyed SELF-JOIN scored by the codegen'd dot
# fold, both edge directions exploded from the one score, then a
# per-vector top-k window. Doing the pairwise work inside the cell
# aggregation row (collect_list + HOF expansion) would evaluate
# n*(n-1) interpreted multiply-add folds per cell AND buffer a whole
# cell plus its pair expansion in ONE row's memory (the §5 hazard).
# The pair join halves the dots via i<j symmetry (each a[k]*b[k]
# term is an IEEE product — bitwise commutative — so one cos serves
# both directions), compiles the scorer into whole-stage codegen, and
# the window partitions on
# vec_id, whose partitions are bounded by cell size and spill
# gracefully. The join carries a merge hint so the planner can never
# BROADCAST a corpus-sized side; the only rows crossing the window
# exchange are (cell, vid, nid, cos) — a lightweight proxy, never
# embeddings. Tie law: (round(cos,4) desc, neighbor_id asc), x3's
# standard.
#
# The oracle computes the same graph with the independent algorithm
# (cells CTE composed from the shared _IVF_CELLS_SQL site, then a
# cell self-join + per-vector window) — agreement checks both the
# graph and the confinement.

_X3U_K = 3

_X3U_ORACLE = f"""{_IVF_CELLS_SQL},
pairs AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id, a.cell AS cell,
         list_aggregate(list_transform(list_zip(a.emb, b.emb), p -> p[1] * p[2]), 'sum')
         / (sqrt(list_aggregate(list_transform(a.emb, x -> x*x), 'sum'))
            * sqrt(list_aggregate(list_transform(b.emb, x -> x*x), 'sum'))) AS cos
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id <> b.vec_id
)
SELECT vec_id, neighbor_id, CAST(cell AS BIGINT) AS cell,
       CAST(rn AS INT) AS rank, round(cos, 4) AS cos_sim
FROM (
  SELECT vec_id, neighbor_id, cell, cos,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY round(cos, 4) DESC, neighbor_id) AS rn
  FROM pairs
) WHERE rn <= {_X3U_K}
ORDER BY vec_id, rank
"""


def knn_graph_from_cells(cells: DataFrame) -> DataFrame:
    """Per-member top-``_X3U_K`` neighbor expansion over an
    ``assign_cells`` frame — THE x3u law site, shared with its
    property test and x3w's home-graph leg (one scoring site).

    An i<j cell self-join + one dot per pair + per-vector top-k
    window, not a collect_list + HOF in-row expansion. Half the dots
    (one IEEE-commutative score serves both edge directions
    bit-identically), and only the narrow
    (cell, vid, nid, cos) proxy crosses the window exchange. The
    merge hint keeps the statistics-blind planner from broadcasting
    a corpus-sized join side; per-key SMJ groups spill gracefully
    where the old single-row cell buffer could not (§5)."""
    a = cells.select(
        F.col("vec_id").alias("a_id"),
        F.col("emb").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
        "cell",
    )
    b = cells.select(
        F.col("vec_id").alias("b_id"),
        F.col("emb").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
        "cell",
    )
    # one score per unordered pair: the dot's k-th term a[k]*b[k] is
    # an IEEE product (commutative bit-for-bit), summed in the same
    # index order either way, so cos(a,b) == cos(b,a) exactly — the
    # exploded reverse edge reuses it
    cos = dot(F.col("a_emb"), F.col("b_emb")) / (
        F.col("a_nrm") * F.col("b_nrm")
    )
    edges = (
        a.hint("merge")
        .join(b, "cell")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("cell", "a_id", "b_id", cos.alias("cos"))
        .select(
            "cell",
            F.explode(
                F.array(
                    F.struct(
                        F.col("a_id").alias("vid"),
                        F.col("b_id").alias("nid"),
                        F.col("cos"),
                    ),
                    F.struct(
                        F.col("b_id").alias("vid"),
                        F.col("a_id").alias("nid"),
                        F.col("cos"),
                    ),
                )
            ).alias("e"),
        )
        .select("cell", "e.vid", "e.nid", "e.cos")
    )
    w = W.partitionBy("vid").orderBy(F.round("cos", 4).desc(), F.col("nid"))
    return (
        edges.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _X3U_K)
        .select(
            F.col("vid").alias("vec_id"),
            F.col("nid").alias("neighbor_id"),
            F.col("cell").cast("long").alias("cell"),
            F.col("rn").cast("int").alias("rank"),
            F.round("cos", 4).alias("cos_sim"),
        )
    )


@register("x3u_ivf_knn_graph", oracle=_X3U_ORACLE, tags=("X3", "X2"))
def x3u_ivf_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 cosine neighbors for EVERY corpus vector, confined to its
    IVF cell: an i<j cell self-join scored once per pair by the
    zip_with/aggregate dot fold, then a per-vector top-k window over the
    narrow edge proxy — the kNN-graph primitive without an all-pairs
    stage."""
    emb = Catalog(spark, sf_dir).embeddings
    vecs = emb.select("vec_id", _dvec("embedding").alias("emb"))
    cells = assign_cells(vecs, _ivf_centroids(emb))
    return knn_graph_from_cells(cells).orderBy("vec_id", "rank")


# X3v — multi-probe kNN-graph recall (the answer to x3u's recall trade) ---------
#
# x3u confines neighbors to ONE cell and documents the cross-cell
# recall loss with "production multi-probes". x3v makes that real and
# MEASURES it: each probe vector's candidates come from its top-1 or
# top-2 nearest cells (members keep their single top-1 home — standard
# IVF multi-probe), the per-probe top-3 is exact-rescored over the
# candidates, and recall@3 is audited against the exact brute-force
# graph over the whole corpus (probe subset vec_id < 32, the x3h
# recall-audit convention that keeps the truth affordable). Mean
# recall is integer-exact: per-probe hits are counts, so the mean is
# ONE division sum_hits/(3*n_probes) floored at 4dp — no float
# accumulation crosses engines. Monotonicity (recall@2probes >=
# recall@1probe) is the pytest law.
#
# Scale shape: probe side is 32 rows (broadcast everywhere), members
# come from the shared assign_cells table (persisted — four
# consumers), candidate generation is a cell equi-join, and the truth
# leg is the x3-brute shape (broadcast probes, corpus map-side).

_X3V_PROBES = 32
_X3V_K = 3
_X3V_NPROBES = (1, 2)


def brute_truth_edges(cells: DataFrame, n_probes: int, k: int) -> DataFrame:
    """(q_id, neighbor_id): exact top-``k`` cosine neighbors over the
    WHOLE corpus for the ``vec_id < n_probes`` probe subset, under the
    (round(cos,4) desc, neighbor_id) tie law — THE shared truth-leg
    site for the recall audits (x3v, x3w). Probes broadcast, corpus
    streams map-side; the Window partitions on the constant-bounded
    probe ids, never on corpus-pair-inflated keys."""
    probes = cells.filter(F.col("vec_id") < n_probes).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    cand = (
        cells.select(
            F.col("vec_id").alias("nid"),
            F.col("emb").alias("n_emb"),
            F.col("nrm").alias("n_nrm"),
        )
        .crossJoin(F.broadcast(probes))
        .filter(F.col("nid") != F.col("q_id"))
    )
    dq = dot(F.col("q_emb"), F.col("n_emb"))
    w = W.partitionBy("q_id").orderBy(
        F.round(dq / (F.col("q_nrm") * F.col("n_nrm")), 4).desc(), F.col("nid")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", F.col("nid").alias("neighbor_id"))
    )


def _x3v_oracle() -> str:
    cos_ab = (
        "list_aggregate(list_transform(list_zip(a.emb, b.emb), p -> p[1] * p[2]), 'sum')"
        " / (sqrt(list_aggregate(list_transform(a.emb, x -> x*x), 'sum'))"
        "    * sqrt(list_aggregate(list_transform(b.emb, x -> x*x), 'sum')))"
    )
    branches = []
    for np_ in _X3V_NPROBES:
        branches.append(f"""
  SELECT {np_} AS nprobe, g.q_id, g.nid
  FROM (
    SELECT q_id, nid FROM (
      SELECT cd.q_id, cd.nid, cd.cos,
             row_number() OVER (PARTITION BY cd.q_id
                                ORDER BY round(cd.cos, 4) DESC, cd.nid) AS rn
      FROM (
        SELECT a.vec_id AS q_id, b.vec_id AS nid, {cos_ab} AS cos
        FROM probe_cells p
        JOIN cells a ON a.vec_id = p.q_id
        JOIN cells b ON b.cell = p.cell AND b.vec_id <> p.q_id
        WHERE p.rn <= {np_}
      ) cd
    ) WHERE rn <= {_X3V_K}
  ) g""")
    u = "\nUNION ALL\n".join(branches)
    nprobe_list = ", ".join(str(n) for n in _X3V_NPROBES)
    return f"""{_IVF_CELLS_SQL},
probe_cells AS (
  SELECT vec_id AS q_id, cent_id AS cell, rn
  FROM (
    SELECT vc.vec_id, vc.cent_id,
           row_number() OVER (PARTITION BY vc.vec_id
                              ORDER BY vc.cos DESC, vc.cent_id) AS rn
    FROM vc
    WHERE vc.vec_id < {_X3V_PROBES}
      AND list_aggregate(list_transform(vc.emb, x -> x * x), 'sum') > 0
  ) WHERE rn <= {max(_X3V_NPROBES)}
),
truth AS (
  SELECT q_id, nid FROM (
    SELECT a.vec_id AS q_id, b.vec_id AS nid,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY round({cos_ab}, 4) DESC, b.vec_id) AS rn
    FROM cells a JOIN cells b ON b.vec_id <> a.vec_id
    WHERE a.vec_id < {_X3V_PROBES}
  ) WHERE rn <= {_X3V_K}
),
graphs AS ({u}),
nq AS (SELECT count(*) AS n_probes FROM cells WHERE vec_id < {_X3V_PROBES}),
hits AS (
  SELECT g.nprobe, count(*) AS n_hits
  FROM graphs g JOIN truth t ON t.q_id = g.q_id AND t.nid = g.nid
  GROUP BY g.nprobe
),
-- literal nprobe scaffold LEFT-joined so a zero-hit level still emits
-- its row, matching the Spark side's always-one-row-per-branch agg
-- (review-caught shape asymmetry)
np AS (SELECT unnest([{nprobe_list}]) AS nprobe)
SELECT np.nprobe AS nprobe,
       CAST(nq.n_probes AS BIGINT) AS n_probes,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       floor(coalesce(h.n_hits, 0)
             / ({_X3V_K}.0 * nq.n_probes) * 1e4) / 1e4 AS mean_recall
FROM np LEFT JOIN hits h ON h.nprobe = np.nprobe CROSS JOIN nq
ORDER BY nprobe
"""


@register("x3v_knn_graph_recall", oracle=_x3v_oracle(), tags=("X3",))
def x3v_knn_graph_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the IVF-confined kNN graph at 1 and 2 probe cells,
    audited against the exact brute-force neighbors for a 32-vector
    probe subset — the measured answer to x3u's cross-cell recall
    trade."""
    emb = Catalog(spark, sf_dir).embeddings
    centroids = _ivf_centroids(emb)
    vecs = emb.select("vec_id", _dvec("embedding").alias("emb"))
    # four consumers (probe emb lookup, member join, both truth sides):
    # persist, not eager checkpoint — lazy and the scan stays in the plan
    cells = persist_scoped(assign_cells(vecs, centroids))

    cent_arr = _centroid_array(centroids)
    probes = (
        cells.filter(F.col("vec_id") < _X3V_PROBES)
        .crossJoin(F.broadcast(cent_arr))
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("emb").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
            nearest_cells(
                F.col("emb"), F.col("cents"), n=max(_X3V_NPROBES), nrm=F.col("nrm")
            )["cid"].alias("probe_cells"),
        )
    )
    dq = dot(F.col("q_emb"), F.col("n_emb"))
    members = cells.select(
        F.col("vec_id").alias("nid"),
        F.col("emb").alias("n_emb"),
        F.col("nrm").alias("n_nrm"),
        "cell",
    )

    def topk_edges(cand: DataFrame) -> DataFrame:
        cos = dq / (F.col("q_nrm") * F.col("n_nrm"))
        w = W.partitionBy("q_id").orderBy(
            F.round(cos, 4).desc(), F.col("nid")
        )
        return (
            cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _X3V_K)
            .select("q_id", "nid")
        )

    # two consumers (one per nprobe branch): persist, or the whole
    # brute-force leg executes once per branch (review-caught)
    truth = persist_scoped(
        brute_truth_edges(cells, _X3V_PROBES, _X3V_K)
        .withColumnRenamed("neighbor_id", "nid")
    )
    nq = probes.agg(F.count(F.lit(1)).alias("n_probes"))
    rows = []
    for np_ in _X3V_NPROBES:
        cand = (
            probes.select(
                "q_id",
                "q_emb",
                "q_nrm",
                F.explode(F.slice("probe_cells", 1, np_)).alias("cell"),
            )
            .join(members, "cell")
            .filter(F.col("nid") != F.col("q_id"))
        )
        hits = (
            topk_edges(cand)
            .join(truth, ["q_id", "nid"])
            .agg(F.count(F.lit(1)).alias("n_hits"))
        )
        rows.append(
            hits.crossJoin(F.broadcast(nq)).select(
                F.lit(np_).cast("int").alias("nprobe"),
                F.col("n_probes").cast("long").alias("n_probes"),
                F.col("n_hits").cast("long").alias("n_hits"),
                # integer-exact mean: ONE division, floored — no float
                # accumulation crosses engines
                (
                    F.floor(
                        F.col("n_hits")
                        / (F.lit(float(_X3V_K)) * F.col("n_probes"))
                        * 1e4
                    )
                    / 1e4
                ).alias("mean_recall"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("nprobe")


# X3w — cross-cell kNN-graph repair (multi-probe, whole corpus) ------------------
#
# x3u confines neighbors to the home cell; x3v MEASURED what that gives
# up at cell borders (for a 32-probe audit subset). x3w closes the
# loop: every corpus vector's candidates now come from its top-2
# nearest cells (x3v's probe machinery lifted from the 32-row subset to
# the whole corpus), the per-vector top-3 is exact-rescored, and the
# query reports how the repair changed the graph plus the recall lift
# under x3v's truth convention (vec_id < 32, brute-force ground truth,
# integer-exact hit counts).
#
# Monotonicity is a THEOREM here, not an observation: the home cell is
# always probe rank 1 (the shared argmax law), so the multi-probe
# candidate set contains the home candidate set; under one total order
# (round(cos,4) desc, nid) a truth-top-3 edge can only be displaced
# from the repaired top-3 by a candidate ranking above it — which by
# definition of "truth = global top-3 under that order" is itself a
# truth edge. Hence per-vector hits never decrease, and the pytest
# asserts exactly that law on random corpora (plus equality with a
# naive Python recomputation).
#
# Scale shape: the only corpus-sized operations are the
# assign_cells argmax (map-side), a cell-keyed merge join (probe side
# exactly 2x corpus rows; merge-hinted so no corpus side is ever
# broadcast), the per-candidate dot projected map-side after
# the join, and one window exchange that carries only the narrow
# (q_id, nid, cos) proxy — never embeddings. Window partitions are
# per-vector (bounded by its probed cells' occupancy) and spill
# gracefully; no single row ever buffers a cell (an in-row HOF
# expansion would hold a whole cell + its pair expansion in one
# aggregation row, and the planner would broadcast a collect_list
# side). Plan-gated.

_X3W_NPROBE = 2
_X3W_PROBES = _X3V_PROBES  # the x3v truth convention


def _x3w_oracle() -> str:
    cos_ab = (
        "list_aggregate(list_transform(list_zip(a.emb, b.emb), p -> p[1] * p[2]), 'sum')"
        " / (sqrt(list_aggregate(list_transform(a.emb, x -> x*x), 'sum'))"
        "    * sqrt(list_aggregate(list_transform(b.emb, x -> x*x), 'sum')))"
    )
    return f"""{_IVF_CELLS_SQL},
probe2 AS (
  SELECT vec_id AS q_id, cent_id AS cell
  FROM (
    SELECT vc.vec_id, vc.cent_id,
           row_number() OVER (PARTITION BY vc.vec_id
                              ORDER BY vc.cos DESC, vc.cent_id) AS rn
    FROM vc
    WHERE list_aggregate(list_transform(vc.emb, x -> x * x), 'sum') > 0
  ) WHERE rn <= {_X3W_NPROBE}
),
cand AS (
  SELECT p.q_id, b.vec_id AS nid, {cos_ab} AS cos
  FROM probe2 p
  JOIN cells a ON a.vec_id = p.q_id
  JOIN cells b ON b.cell = p.cell AND b.vec_id <> p.q_id
),
repaired AS (
  SELECT q_id, nid FROM (
    SELECT q_id, nid,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY round(cos, 4) DESC, nid) AS rn
    FROM cand
  ) WHERE rn <= {_X3U_K}
),
home AS (
  SELECT q_id, nid FROM (
    SELECT a.vec_id AS q_id, b.vec_id AS nid,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY round({cos_ab}, 4) DESC, b.vec_id) AS rn
    FROM cells a JOIN cells b ON b.cell = a.cell AND b.vec_id <> a.vec_id
  ) WHERE rn <= {_X3U_K}
),
truth AS (
  SELECT q_id, nid FROM (
    SELECT a.vec_id AS q_id, b.vec_id AS nid,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY round({cos_ab}, 4) DESC, b.vec_id) AS rn
    FROM cells a JOIN cells b ON b.vec_id <> a.vec_id
    WHERE a.vec_id < {_X3W_PROBES}
  ) WHERE rn <= {_X3U_K}
),
nq AS (SELECT CAST(count(*) AS BIGINT) AS n_probes
       FROM cells WHERE vec_id < {_X3W_PROBES})
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM cells)    AS n_vectors,
  (SELECT CAST(count(*) AS BIGINT) FROM repaired) AS n_edges,
  (SELECT CAST(count(*) AS BIGINT)
   FROM repaired r LEFT JOIN home h
     ON h.q_id = r.q_id AND h.nid = r.nid
   WHERE h.q_id IS NULL)                          AS n_edges_new,
  nq.n_probes                                     AS n_probes,
  (SELECT CAST(count(*) AS BIGINT)
   FROM home g JOIN truth t ON t.q_id = g.q_id AND t.nid = g.nid)
                                                  AS n_hits_home,
  (SELECT CAST(count(*) AS BIGINT)
   FROM repaired g JOIN truth t ON t.q_id = g.q_id AND t.nid = g.nid)
                                                  AS n_hits_repaired,
  floor((SELECT count(*) FROM home g JOIN truth t
         ON t.q_id = g.q_id AND t.nid = g.nid)
        / ({_X3U_K}.0 * nq.n_probes) * 1e4) / 1e4 AS recall_home,
  floor((SELECT count(*) FROM repaired g JOIN truth t
         ON t.q_id = g.q_id AND t.nid = g.nid)
        / ({_X3U_K}.0 * nq.n_probes) * 1e4) / 1e4 AS recall_repaired
FROM nq
"""


def multiprobe_knn_graph(
    cells: DataFrame, centroids: DataFrame, nprobe: int = _X3W_NPROBE
) -> DataFrame:
    """(q_id, neighbor_id, rank): top-``_X3U_K`` neighbors for every
    vector of an ``assign_cells`` frame with candidates drawn from its
    ``nprobe`` nearest cells — THE shared site for the x3w query and
    its property test.

    The probe cells are one :func:`nearest_cells` top-``nprobe`` per
    vector; the exploded probe frame (each vector appears once per
    probed cell) joins members on the cell key, each candidate is
    scored by one projected dot, and the per-vector top-k is one
    window — x3v's ``topk_edges`` shape lifted to the whole corpus.
    Nothing buffers a whole cell in one row. Top-k over all candidates
    equals per-cell-top-k-then-merge under the one total order
    (round(cos,4) desc, nid): any global top-k candidate is within its
    own cell's top-k. A member has ONE home cell, so no (q, n)
    candidate duplicates exist. The merge hint keeps the planner from
    broadcasting a corpus-sized side; only (q_id, nid, cos) crosses
    the window exchange."""
    cent_arr = _centroid_array(centroids)
    near = nearest_cells(F.col("emb"), F.col("cents"), n=nprobe, nrm=F.col("nrm"))
    probes = cells.crossJoin(F.broadcast(cent_arr)).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.explode(near["cid"]).alias("cell"),
    )
    members = cells.select(
        F.col("vec_id").alias("nid"),
        F.col("emb").alias("n_emb"),
        F.col("nrm").alias("n_nrm"),
        "cell",
    )
    cos = dot(F.col("q_emb"), F.col("n_emb")) / (
        F.col("q_nrm") * F.col("n_nrm")
    )
    scored = (
        probes.hint("merge")
        .join(members, "cell")
        .filter(F.col("nid") != F.col("q_id"))
        .select("q_id", "nid", cos.alias("cos"))
    )
    w = W.partitionBy("q_id").orderBy(F.round("cos", 4).desc(), F.col("nid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _X3U_K)
        .select(
            "q_id",
            F.col("nid").alias("neighbor_id"),
            F.col("rn").cast("int").alias("rank"),
        )
    )


@register("x3w_knn_graph_multiprobe_repair", oracle=_x3w_oracle(), tags=("X3",))
def x3w_knn_graph_multiprobe_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repair the IVF-confined kNN graph with 2-cell multi-probe for
    EVERY vector and report the effect: edge counts, edges the repair
    changed (new vs the home-cell graph), and recall home vs repaired
    under x3v's 32-probe brute-force truth — the measured close of
    x3u's cross-cell recall trade."""
    emb = Catalog(spark, sf_dir).embeddings
    centroids = _ivf_centroids(emb)
    vecs = emb.select("vec_id", _dvec("embedding").alias("emb"))
    # consumers: queriers, members, home graph, truth leg -> persist
    cells = persist_scoped(assign_cells(vecs, centroids))

    # single consumer (the one-pass report below) — the multiprobe
    # subtree executes exactly once, no persist needed
    repaired = multiprobe_knn_graph(cells, centroids).select(
        "q_id", "neighbor_id"
    )
    # two consumers (repaired membership flag, home truth hits)
    home = persist_scoped(
        knn_graph_from_cells(cells).select(
            F.col("vec_id").alias("q_id"), "neighbor_id"
        )
    )
    # x3v's truth convention, via the shared truth-leg site; two
    # consumers (home hits, repaired hits): persist or the 32-probe
    # brute leg runs twice
    truth = persist_scoped(brute_truth_edges(cells, _X3W_PROBES, _X3U_K))

    # one pass where one pass suffices: the report's six counts come
    # from three single-pass aggregates, not six independent count legs
    # (each its own scheduled aggregation + 1-row broadcast). Edge sets
    # are unique on (q_id, neighbor_id) — top-k graphs emit each edge
    # once, truth is a top-k graph too — so the left joins flag
    # membership without multiplying rows, and every count below equals
    # its dedicated-leg twin by definition:
    # n_edges_new = rows with no home match (a left_anti count),
    # n_hits_* = rows with a truth match (inner-join counts).
    base = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.count(F.when(F.col("vec_id") < _X3W_PROBES, F.lit(1)))
        .cast("long")
        .alias("n_probes"),
    )
    rep_stats = (
        repaired.join(
            home.withColumn("_h", F.lit(1)), ["q_id", "neighbor_id"], "left"
        )
        .join(
            truth.withColumn("_t", F.lit(1)), ["q_id", "neighbor_id"], "left"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.count(F.when(F.col("_h").isNull(), F.lit(1)))
            .cast("long")
            .alias("n_edges_new"),
            F.count("_t").cast("long").alias("n_hits_repaired"),
        )
    )
    home_stats = home.join(truth, ["q_id", "neighbor_id"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_hits_home")
    )
    out = base.crossJoin(F.broadcast(rep_stats)).crossJoin(
        F.broadcast(home_stats)
    )

    def recall(hits_col: str, alias: str):
        # integer-exact: ONE floored division (the x3v law)
        return (
            F.floor(
                F.col(hits_col)
                / (F.lit(float(_X3U_K)) * F.col("n_probes"))
                * 1e4
            )
            / 1e4
        ).alias(alias)

    return out.select(
        "n_vectors",
        "n_edges",
        "n_edges_new",
        "n_probes",
        "n_hits_home",
        "n_hits_repaired",
        recall("n_hits_home", "recall_home"),
        recall("n_hits_repaired", "recall_repaired"),
    )


# X1e — portable bloom-filter dedup prescreen ------------------------------------
#
# The admission pattern that makes exact dedup affordable at 100 TB: a
# tiny bloom filter over the corpus fingerprints broadcasts to every
# executor and pre-screens the incoming batch, so the expensive exact
# membership join runs only for flagged docs (bloom guarantees NO false
# negatives — a clean verdict needs no join at all). Spark ships
# bloom_filter_agg/might_contain (gate-proven on s22's companion test),
# but its bits are not reproducible in another engine, so this operator
# builds a PORTABLE bloom from md5 slices — k=3 positions of 12 bits
# reduced mod 4032 — over 64 words of 63 bits each (bit 63 untouched:
# DuckDB raises on 1::BIGINT << 63 while Spark wraps, the one shift the
# two engines disagree on). Every step is integer-exact, so the WHOLE
# filter, the per-doc verdicts, the measured false-positive rate, and
# the zero-false-negative law are full-value oracle-checked.
#
# Scale shape: the build is one explode(k) + a 64-row bit_or hash-agg;
# the probe joins 3 rows/doc against the broadcast 64-row filter; the
# exact-truth join here is the AUDIT leg (at production scale it runs
# only for flagged docs — the point of the prescreen).

_X1E_WORDS = 64
_X1E_BITS_PER_WORD = 63  # never shift into bit 63 (engine-divergent)
_X1E_M = _X1E_WORDS * _X1E_BITS_PER_WORD  # 4032 bits
_X1E_K = 3


def _x1e_positions_sql(col: str) -> list[str]:
    return [
        f"(CAST('0x' || substr(md5({col}), {1 + 3 * i}, 3) AS BIGINT) % {_X1E_M})"
        for i in range(_X1E_K)
    ]


def _x1e_positions(col: Column) -> list[Column]:
    return [
        F.conv(F.substring(F.md5(col), 1 + 3 * i, 3), 16, 10).cast("long")
        % _X1E_M
        for i in range(_X1E_K)
    ]


def _x1e_oracle() -> str:
    pos = _x1e_positions_sql("text")
    probe_rows = "\nUNION ALL\n".join(
        f"  SELECT doc_id, source, fp, ({p} // {_X1E_BITS_PER_WORD}) AS word,"
        f" (CAST(1 AS BIGINT) << ({p} % {_X1E_BITS_PER_WORD})) AS mask"
        f" FROM batch"
        for p in pos
    )
    build_rows = "\nUNION ALL\n".join(
        f"  SELECT ({p} // {_X1E_BITS_PER_WORD}) AS word,"
        f" (CAST(1 AS BIGINT) << ({p} % {_X1E_BITS_PER_WORD})) AS mask"
        f" FROM corpus"
        for p in pos
    )
    return f"""
WITH corpus AS (
  SELECT doc_id, source, text, md5(text) AS fp FROM documents
  WHERE doc_id % 3 <> 0
),
-- the fixture has no exact-duplicate texts, so duplicates are PLANTED
-- under one generation law (the x1d idiom): every ninth batch doc
-- resubmits its right neighbor's text — (doc_id+1) % 3 = 1, so the
-- donor is always corpus-side and the plant is a true duplicate
batch AS (
  SELECT doc_id, source, text, md5(text) AS fp FROM (
    SELECT b.doc_id, b.source,
           CASE WHEN b.doc_id % 9 = 0 AND d2.text IS NOT NULL
                THEN d2.text ELSE b.text END AS text
    FROM documents b LEFT JOIN documents d2 ON d2.doc_id = b.doc_id + 1
    WHERE b.doc_id % 3 = 0
  )
),
bloom AS (
  SELECT word, bit_or(mask) AS bits FROM (
{build_rows}
  ) GROUP BY word
),
probe AS (
{probe_rows}
),
verdict AS (
  SELECT p.doc_id, p.source,
         bool_and((coalesce(b.bits, 0) & p.mask) = p.mask) AS flagged
  FROM probe p LEFT JOIN bloom b ON b.word = p.word
  GROUP BY p.doc_id, p.source
),
truth AS (
  SELECT b.doc_id, (c.fp IS NOT NULL) AS is_dup
  FROM batch b LEFT JOIN (SELECT DISTINCT fp FROM corpus) c ON c.fp = b.fp
)
SELECT v.source,
       CAST(count(*) AS BIGINT) AS n_batch,
       CAST(count(*) FILTER (WHERE t.is_dup) AS BIGINT) AS n_exact_dup,
       CAST(count(*) FILTER (WHERE v.flagged) AS BIGINT) AS n_flagged,
       CAST(count(*) FILTER (WHERE v.flagged AND NOT t.is_dup) AS BIGINT)
                                              AS n_false_pos,
       CAST(count(*) FILTER (WHERE t.is_dup AND NOT v.flagged) AS BIGINT)
                                              AS n_missed,
       CASE WHEN count(*) FILTER (WHERE NOT t.is_dup) = 0 THEN 0.0
            ELSE floor(count(*) FILTER (WHERE v.flagged AND NOT t.is_dup)
                       / CAST(count(*) FILTER (WHERE NOT t.is_dup) AS DOUBLE)
                       * 1e6) / 1e6 END        AS fpr_measured
FROM verdict v JOIN truth t ON t.doc_id = v.doc_id
GROUP BY v.source
ORDER BY v.source
"""


def _x1e_explode_word_mask(
    df: DataFrame, text_col: str, carry: list[str]
) -> DataFrame:
    """``carry`` columns + (word, mask), one row per (input row, hash) —
    THE single site of the position -> (word, bit) law: the builder and
    the probe MUST derive identically or the bloom's zero-false-negative
    guarantee silently dies (review-caught duplicate expression)."""
    pos = _x1e_positions(F.col(text_col))
    return df.select(
        *carry, F.explode(F.array(*pos)).alias("pos")
    ).select(
        *carry,
        F.expr(f"pos div {_X1E_BITS_PER_WORD}").alias("word"),
        F.expr(
            f"shiftleft(1L, CAST(pos % {_X1E_BITS_PER_WORD} AS INT))"
        ).alias("mask"),
    )


def build_portable_bloom(fps: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, bits): the 64-row portable bloom over ``fps[text_col]`` —
    shared law site for the query and its pytest."""
    stacked = _x1e_explode_word_mask(fps, text_col, carry=[])
    return stacked.groupBy("word").agg(F.bit_or("mask").alias("bits"))


@register("x1e_bloom_prescreen", oracle=_x1e_oracle(), tags=("X1",))
def x1e_bloom_prescreen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prescreened exact-dedup admission: the corpus collapses to
    a broadcastable 64-word filter, the incoming batch probes it, and
    the report audits the verdicts against exact membership — per
    source: batch size, exact dups, bloom flags, false positives, the
    (provably zero) false negatives, and the measured FPR."""
    raw = Catalog(spark, sf_dir).documents.select("doc_id", "source", "text")
    corpus = raw.filter(F.col("doc_id") % 3 != 0).withColumn(
        "fp", F.md5("text")
    )
    # plant true duplicates (generation law mirrored in the oracle):
    # every ninth batch doc resubmits its right neighbor's corpus text
    donor = raw.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("donor_text")
    )
    batch = (
        raw.filter(F.col("doc_id") % 3 == 0)
        .join(donor, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.when(
                (F.col("doc_id") % 9 == 0) & F.col("donor_text").isNotNull(),
                F.col("donor_text"),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .withColumn("fp", F.md5("text"))
    )

    bloom = build_portable_bloom(corpus)

    probe = _x1e_explode_word_mask(batch, "text", carry=["doc_id", "source"])
    verdict = (
        probe.join(F.broadcast(bloom), "word", "left")
        .select(
            "doc_id",
            "source",
            (
                (F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask")))
                == F.col("mask")
            ).alias("hit"),
        )
        .groupBy("doc_id", "source")
        .agg(F.bool_and("hit").alias("flagged"))
    )
    truth = batch.join(
        corpus.select("fp").distinct().withColumn("_in_corpus", F.lit(1)),
        "fp",
        "left",
    ).select("doc_id", F.col("_in_corpus").isNotNull().alias("is_dup"))

    joined = verdict.join(truth, "doc_id")
    n_clean = F.count(F.when(~F.col("is_dup"), 1))
    n_fp = F.count(F.when(F.col("flagged") & ~F.col("is_dup"), 1))
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_batch"),
            F.count(F.when(F.col("is_dup"), 1)).cast("long").alias("n_exact_dup"),
            F.count(F.when(F.col("flagged"), 1)).cast("long").alias("n_flagged"),
            n_fp.cast("long").alias("n_false_pos"),
            F.count(F.when(F.col("is_dup") & ~F.col("flagged"), 1))
            .cast("long")
            .alias("n_missed"),
            F.when(n_clean == 0, F.lit(0.0))
            .otherwise(F.floor(n_fp / n_clean.cast("double") * 1e6) / 1e6)
            .alias("fpr_measured"),
        )
        .orderBy("source")
    )


# X3x — incremental IVF index maintenance (batch admission + drift audit) ------
#
# The ANN family's incremental face, completing the story x1b/x2n tell
# for dedup and s24 tells for ingestion: a standing IVF index (the x3d
# cells) receives a NEW BATCH of vectors. Retraining per batch is off
# the table at 100 TB, so production admission is map-side: assign the
# arrivals to the EXISTING cells (broadcast centroid argmax — the
# shared assign_cells law) and emit the maintenance report the index
# owner acts on, per cell:
#
#   - occupancy before / added / after (exact integers);
#   - post-admission MEAN DRIFT: cosine between the cell's member-mean
#     vector before and after the batch — the signal that a cell's
#     centroid no longer represents its population and retraining
#     (x3r2) is due;
#   - needs_split: occupancy after exceeds twice the average cell load
#     (n_after * K > 2 * total_after, pure integer arithmetic) — the
#     re-split trigger that keeps x3u/x3w cell confinement effective.
#
# Cross-engine exactness: per-(cell, dim) member sums round at 4dp
# inside each engine FIRST (the x3r2 idiom — the only place summation
# order exists), so both engines derive means from bit-identical
# doubles; the cosine folds run left-to-right over the dim-sorted
# arrays (Spark F.aggregate == DuckDB list_reduce, the w10/x6u law)
# and the drift floors to 1e-6 units.
#
# Scale shape: ONE corpus scan — assignment is a per-row argmax fold
# over the broadcast centroid row, the batch flag is a map-side
# predicate, and the single shuffle is the (cell, dim) hash-aggregate
# (map-side combine; K x 64 rows out). Everything after is K-row
# arithmetic with a 1-row broadcast total. No Window, no pairwise
# stage, no retraining I/O.

_X3X_K = _IVF_K        # the standing index's centroid count (vec_id < K)
_X3X_BATCH_MOD = 5     # arrivals: vec_id % 5 == 0 (~20% of the corpus)
_X3X_SCALE = 1_000_000 # drift cosine and exported centroids in 1e-6 units


# The maintenance loop's shared laws -------------------------------------------
#
# The loop reads measure (x3x) -> plan (x3x6) -> execute (x3x2 split /
# x3x4 merge) -> re-serve (x3z2 / x3z6) -> audit (x3z3 / x3z7). Every
# law in it has one Spark site, and the split and merge tails differ
# only in their trigger and their reassignment policy:
#
#   - standing_ivf_index: the codebook, the core-spread corpus vectors
#     and their assign_cells cells — the index every query measures;
#   - cell_occupancy + load_vs_average: one K-row occupancy-and-total
#     aggregate and one integer load trigger, DEN * n * K <op> NUM *
#     total (load <op> NUM/DEN x the average, no float anywhere). x3x
#     reads it at 2/1, x3x2 and x3x6 at the split ratio, x3x4 and x3x6
#     at the merge ratio;
#   - flagged_slice + maintenance_frames: the flagged cells' members,
#     reached by an equi-join against the <= K-row broadcast flagged
#     set, handed to a policy (Gonzalez split or nearest survivor);
#     every other cell passes through with cell_after = cell_before;
#   - post_maintenance_table: the one post-maintenance centroid table
#     x3x3/x3x5 export and x3z2/x3z6 serve from.


def standing_ivf_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(cent, vecs, assigned): the standing IVF index the maintenance
    loop measures and maintains — the fixed codebook
    (:func:`_ivf_centroids`), the corpus vectors spread over the
    cores, and their cosine-nearest cell (:func:`assign_cells`: cell,
    vec_id, emb, nrm; zero-norm vectors have no cell)."""
    emb = Catalog(spark, sf_dir).embeddings
    cent = _ivf_centroids(emb)
    vecs = ensure_min_partitions(emb).select(
        "vec_id", _dvec("embedding").alias("emb")
    )
    return cent, vecs, assign_cells(vecs, cent)


def cell_occupancy(assigned: DataFrame) -> DataFrame:
    """(cell, n, total): each cell's member count with the corpus total
    alongside — a K-row aggregate and a 1-row broadcast, the input of
    every load verdict."""
    occ = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
    return occ.crossJoin(F.broadcast(occ.agg(F.sum("n").alias("total"))))


def load_vs_average(
    op: str, num: int, den: int, n: Column | None = None, total: Column | None = None
) -> Column:
    """THE integer load law: ``den * n * K <op> num * total``, i.e. the
    cell's load ``>`` or ``<`` num/den x the average load. Integer
    cross-multiplication, so the verdict is exact in both engines."""
    n = F.col("n") if n is None else n
    total = F.col("total") if total is None else total
    lhs, rhs = F.lit(den) * n * _X3X_K, num * total
    return lhs > rhs if op == ">" else lhs < rhs


def _split_trigger() -> Column:
    # x3x2 splits cells over the declared ratio that can split (n >= 2)
    return load_vs_average(">", _X3X2_NUM, _X3X2_DEN) & (F.col("n") >= 2)


def _merge_trigger() -> Column:
    # x3x4 dissolves cells under the declared floor
    return load_vs_average("<", _X3X4_NUM, _X3X4_DEN)


_X3X_ORACLE = f"""{_IVF_CELLS_SQL},
flagged AS (
  SELECT cell, emb, vec_id % {_X3X_BATCH_MOD} = 0 AS is_batch FROM cells
),
d AS (
  SELECT cell, u.i AS dim_idx,
         round(sum(CASE WHEN NOT is_batch THEN u.val ELSE 0.0 END), 4) AS s0,
         round(sum(CASE WHEN is_batch THEN u.val ELSE 0.0 END), 4) AS s1,
         sum(CASE WHEN NOT is_batch THEN 1 ELSE 0 END) AS n0,
         sum(CASE WHEN is_batch THEN 1 ELSE 0 END) AS n1
  FROM (
    SELECT cell, is_batch,
           unnest(list_transform(range(1, len(emb) + 1),
                                 i -> {{'i': i - 1, 'val': emb[i]}})) AS u
    FROM flagged
  )
  GROUP BY cell, u.i
),
g AS (
  SELECT cell, max(n0) AS n0, max(n1) AS n1,
         list(s0 ORDER BY dim_idx) AS ls0,
         list(s1 ORDER BY dim_idx) AS ls1
  FROM d GROUP BY cell
),
drifted AS (
  SELECT cell, n0, n1,
         CASE WHEN n0 > 0 AND n1 > 0 THEN
           CAST(floor(
             list_reduce(list_transform(
               list_zip(list_transform(ls0, x -> x / n0),
                        list_transform(list_zip(ls0, ls1),
                                       p -> (p[1] + p[2]) / (n0 + n1))),
               p -> p[1] * p[2]), (a, x) -> a + x)
             / (sqrt(list_reduce(list_transform(
                  list_transform(ls0, x -> x / n0), x -> x * x),
                  (a, x) -> a + x))
                * sqrt(list_reduce(list_transform(
                    list_transform(list_zip(ls0, ls1),
                                   p -> (p[1] + p[2]) / (n0 + n1)),
                    x -> x * x), (a, x) -> a + x)))
             * {_X3X_SCALE}) AS BIGINT)
         WHEN n0 > 0 THEN {_X3X_SCALE} ELSE NULL END AS drift_cos_1e6
  FROM g
),
tot AS (SELECT sum(n0 + n1) AS total_after FROM g)
SELECT CAST(cell AS BIGINT) AS cell,
       CAST(n0 AS BIGINT) AS n_before,
       CAST(n1 AS BIGINT) AS n_added,
       CAST(n0 + n1 AS BIGINT) AS n_after,
       drift_cos_1e6,
       (n0 + n1) * {_X3X_K} > 2 * total_after AS needs_split
FROM drifted CROSS JOIN tot
ORDER BY cell
"""


@register("x3x_incremental_ivf_admission", oracle=_X3X_ORACLE, tags=("X3",))
def x3x_incremental_ivf_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admit the arriving batch (vec_id % 5 == 0) into the standing
    x3d IVF cells map-side and report per cell: occupancy
    before/added/after, the cosine drift of the member mean (floored
    1e-6; exactly 1e6 when nothing was admitted), and the integer
    needs_split trigger at 2x the average load."""
    _cent, vecs, assigned = standing_ivf_index(spark, sf_dir)
    assigned = assigned.withColumn(
        "is_batch", F.col("vec_id") % _X3X_BATCH_MOD == 0
    )
    d = (
        assigned.select("cell", "is_batch", F.posexplode("emb").alias("dim_idx", "val"))
        .groupBy("cell", "dim_idx")
        .agg(
            F.round(
                F.sum(F.when(~F.col("is_batch"), F.col("val")).otherwise(0.0)), 4
            ).alias("s0"),
            F.round(
                F.sum(F.when(F.col("is_batch"), F.col("val")).otherwise(0.0)), 4
            ).alias("s1"),
            F.sum(F.when(~F.col("is_batch"), 1).otherwise(0)).alias("n0"),
            F.sum(F.when(F.col("is_batch"), 1).otherwise(0)).alias("n1"),
        )
    )
    g = d.groupBy("cell").agg(
        F.max("n0").alias("n0"),
        F.max("n1").alias("n1"),
        F.sort_array(F.collect_list(F.struct("dim_idx", "s0", "s1"))).alias("ds"),
    )
    # the shared cosine law (similarity.dot/l2_norm: F.aggregate with a
    # 0.0 init, left-to-right) — one site with the rest of the family,
    # not a hand-written twin that could drift from it
    mean_before = F.transform("ds", lambda s: s["s0"] / F.col("n0"))
    mean_after = F.transform(
        "ds", lambda s: (s["s0"] + s["s1"]) / (F.col("n0") + F.col("n1"))
    )
    drift = F.when(
        (F.col("n0") > 0) & (F.col("n1") > 0),
        F.floor(cosine(mean_before, mean_after) * _X3X_SCALE).cast("long"),
    ).when(F.col("n0") > 0, F.lit(_X3X_SCALE).cast("long"))
    # total_after == sum(n_after) over the report, but aggregating g
    # would re-plan the whole assignment subtree (a second corpus
    # argmax pass); the same number is the count of non-zero vectors —
    # one cheap column-pruned scan instead
    tot = (
        vecs.filter(l2_norm(F.col("emb")) > 0)
        .agg(F.count(F.lit(1)).alias("total_after"))
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            F.col("cell").cast("long").alias("cell"),
            F.col("n0").cast("long").alias("n_before"),
            F.col("n1").cast("long").alias("n_added"),
            (F.col("n0") + F.col("n1")).cast("long").alias("n_after"),
            drift.alias("drift_cos_1e6"),
            load_vs_average(
                ">", 2, 1, F.col("n0") + F.col("n1"), F.col("total_after")
            ).alias("needs_split"),
        )
        .orderBy("cell")
    )


# X3x2 — execute the IVF cell split x3x only flags -----------------------------
#
# x3x's needs_split column is advisory: nothing in the family ACTS on
# it, so an overloaded cell keeps degrading x3u/x3w cell confinement
# (and per-cell state bounds like x2j2's) until a full retrain. x3x2 is
# the maintenance step itself — split every overloaded cell in two with
# one Lloyd step over ITS members only:
#
#   seed_a = the member FARTHEST from the cell's standing centroid
#            (min cosine, vec_id tiebreak);
#   seed_b = the member farthest from seed_a (min cosine, vec_id
#            tiebreak, seed_a excluded).
#
# That is Gonzalez farthest-first 2-center seeding (two LINEAR passes),
# deliberately NOT the all-pairs diameter pair: a flagged cell is by
# definition the corpus's most loaded cell, and pairwise inside it is
# exactly the blow-up this family forbids — farthest-first
# 2-approximates the diameter and keeps every pass a broadcast join.
# Each member then joins the seed with the HIGHER cosine (ties: the
# lower seed id — the assign_cells comparison law). New sub-cells are
# identified portably as _X3X2_BASE + seed vec_id (BASE > any standing
# cent_id, so ids never collide); untouched cells pass through with
# cell_after = cell_before, bit-identical — the s20 untouched-
# partitions idiom, provable because the oracle hash covers every row.
#
# The overload trigger is the shared load_vs_average law with the
# multiplier a DECLARED ratio: a cell splits when DEN * n * K > NUM *
# total, i.e. load > NUM/DEN x the average. x3x reads it at 2/1 — but
# the fixture cells are near-uniform (max load 1.34x average at sf0.01,
# 1.18x at sf0.1), so a registered 2x trigger would be a dead branch at
# every test scale. The registered query therefore declares 9/8
# (1.125x), which fires on 4 cells at sf0.01 and 2 at sf0.1 — the
# doc_id < 200 oracle-cap precedent: pick the fixture-visible parameter
# so the interesting branch is actually proven; production swaps the
# ratio, not the dataflow (at 2/1 it is x3x's needs_split, the same
# Column, planted pytest included). Flagged cells holding < 2 members
# cannot split and pass through unchanged.
#
# Scale shape: ONE corpus argmax scan (standing_ivf_index, persisted
# by flagged_slice for its multiple consumers), a K-row occupancy
# aggregate, then THREE more passes (_gonzalez_split) all confined to
# flagged-cell members by an equi-join against the <= K-row broadcast
# flagged set (plan-gated): seed_a election,
# seed_b election, and the 2-way Lloyd assignment — each a broadcast
# join plus a cell-keyed min_by aggregate. No window over corpus-sized
# partitions, no pairwise stage anywhere. This closes the IVF
# maintenance loop: train (x3r2) -> admit (x3x) -> split (x3x2) ->
# serve (x3z).

_X3X2_NUM = 9      # split when DEN * n * K > NUM * total (load > NUM/DEN x avg)
_X3X2_DEN = 8
_X3X2_BASE = 1_000_000  # new sub-cell id = BASE + seed vec_id (collision-free)

# The CTE chain (cells -> occupancy -> flagged -> members -> seeds ->
# Lloyd) and the final per-vector union are split (the byte-identity
# builder law, proven by pytest) so x3x3's post-split centroid oracle
# can compose the SAME chain with the union as a named CTE.
_X3X2_CTES = f"""{_IVF_CELLS_SQL},
occ AS (SELECT cell, count(*) AS n FROM cells GROUP BY cell),
tot AS (SELECT sum(n) AS total FROM occ),
flagged AS (
  SELECT cell FROM occ CROSS JOIN tot
  WHERE {_X3X2_DEN} * n * {_X3X_K} > {_X3X2_NUM} * total AND n >= 2
),
mem AS (
  SELECT cl.cell, cl.vec_id, cl.emb,
         sqrt(list_aggregate(list_transform(cl.emb, x -> x * x), 'sum')) AS nrm
  FROM cells cl JOIN flagged f ON cl.cell = f.cell
),
ca AS (
  SELECT m.cell, m.vec_id, m.emb, m.nrm,
         list_aggregate(list_transform(list_zip(m.emb, c.cemb), p -> p[1] * p[2]), 'sum')
         / (m.nrm * sqrt(list_aggregate(list_transform(c.cemb, x -> x * x), 'sum'))) AS cosc
  FROM mem m JOIN c ON m.cell = c.cent_id
),
sa AS (
  SELECT cell, vec_id AS sa_id, emb AS sa_emb, nrm AS sa_nrm FROM (
    SELECT *, row_number() OVER (PARTITION BY cell ORDER BY cosc, vec_id) AS rn
    FROM ca
  ) WHERE rn = 1
),
cb AS (
  SELECT m.cell, m.vec_id, m.emb, m.nrm, sa.sa_id,
         list_aggregate(list_transform(list_zip(m.emb, sa.sa_emb), p -> p[1] * p[2]), 'sum')
         / (m.nrm * sa.sa_nrm) AS cos_a
  FROM mem m JOIN sa ON m.cell = sa.cell
),
sb AS (
  SELECT cell, vec_id AS sb_id, emb AS sb_emb, nrm AS sb_nrm FROM (
    SELECT *, row_number() OVER (PARTITION BY cell ORDER BY cos_a, vec_id) AS rn
    FROM cb WHERE vec_id <> sa_id
  ) WHERE rn = 1
),
re AS (
  SELECT cb.vec_id, cb.cell, cb.cos_a, cb.sa_id, sb.sb_id,
         list_aggregate(list_transform(list_zip(cb.emb, sb.sb_emb), p -> p[1] * p[2]), 'sum')
         / (cb.nrm * sb.sb_nrm) AS cos_b
  FROM cb JOIN sb ON cb.cell = sb.cell
)"""

_X3X2_FINAL = f"""SELECT vec_id,
       CAST(cell AS BIGINT) AS cell_before,
       CAST({_X3X2_BASE} + CASE WHEN cos_a > cos_b THEN sa_id
                                WHEN cos_b > cos_a THEN sb_id
                                ELSE least(sa_id, sb_id) END AS BIGINT) AS cell_after,
       TRUE AS was_split
FROM re
UNION ALL
SELECT cl.vec_id, CAST(cl.cell AS BIGINT), CAST(cl.cell AS BIGINT), FALSE
FROM cells cl ANTI JOIN flagged f ON cl.cell = f.cell"""

_X3X2_ORACLE = f"""{_X3X2_CTES}
{_X3X2_FINAL}
ORDER BY vec_id
"""


def flagged_slice(
    spark: SparkSession, sf_dir: str, trigger: Column
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(assigned, flagged, members, cent): the standing assignment
    (persisted — the occupancy count, the untouched pass-through and
    the member slice all read it), the <= K-row set of cells
    ``trigger`` flags over :func:`cell_occupancy`, and their members —
    an equi-join against the broadcast flagged set, THE plan-gated
    claim that maintenance work touches flagged cells only."""
    cent, _vecs, assigned = standing_ivf_index(spark, sf_dir)
    assigned = persist_scoped(assigned)
    flagged = cell_occupancy(assigned).filter(trigger).select("cell")
    members = assigned.join(F.broadcast(flagged), "cell")
    return assigned, flagged, members, cent


def maintenance_frames(
    sliced: tuple[DataFrame, DataFrame, DataFrame, DataFrame],
    policy: Callable[[DataFrame, DataFrame, DataFrame], DataFrame],
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(untouched, re_assigned, cent) over a :func:`flagged_slice`: one
    row per nonzero vector (vec_id, cell_before, cell_after, moved,
    emb, nrm). Unflagged cells pass through with cell_after =
    cell_before, bit-identical (the s20 idiom); the flagged members
    move to the cell_after that ``policy(members, flagged, cent)``
    adds as a column."""
    assigned, flagged, members, cent = sliced

    def rows(df: DataFrame, cell_after: Column, moved: bool) -> DataFrame:
        return df.select(
            "vec_id",
            F.col("cell").cast("long").alias("cell_before"),
            cell_after.cast("long").alias("cell_after"),
            F.lit(moved).alias("moved"),
            "emb",
            "nrm",
        )

    untouched = assigned.join(F.broadcast(flagged), "cell", "left_anti")
    re_assigned = policy(members, flagged, cent)
    return (
        rows(untouched, F.col("cell"), False),
        rows(re_assigned, F.col("cell_after"), True),
        cent,
    )


def x3x2_flagged_members(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """:func:`flagged_slice` under x3x2's split trigger."""
    return flagged_slice(spark, sf_dir, _split_trigger())


def _gonzalez_split(
    members: DataFrame, _flagged: DataFrame, cent: DataFrame
) -> DataFrame:
    """x3x2's policy: per flagged cell, seed_a = the member farthest
    from the standing centroid, seed_b = the member farthest from
    seed_a (min cosine, vec_id tiebreak), then one Lloyd step to the
    higher-cosine seed (ties: the lower seed id), as cell_after =
    _X3X2_BASE + seed id. Each pass is a broadcast join plus a
    cell-keyed min_by aggregate over the member slice."""
    centk = cent.select(
        F.col("cent_id").alias("cell"),
        "cemb",
        l2_norm(F.col("cemb")).alias("cnrm"),
    )
    ca = members.join(F.broadcast(centk), "cell").select(
        "cell", "vec_id", "emb", "nrm",
        (dot(F.col("emb"), F.col("cemb")) / (F.col("nrm") * F.col("cnrm")))
        .alias("cosc"),
    )
    sa = (
        ca.groupBy("cell")
        .agg(
            F.min_by(
                F.struct(
                    F.col("vec_id").alias("sa_id"),
                    F.col("emb").alias("sa_emb"),
                    F.col("nrm").alias("sa_nrm"),
                ),
                F.struct("cosc", "vec_id"),
            ).alias("sa")
        )
        .select("cell", "sa.*")
    )
    cb = members.join(F.broadcast(sa), "cell").select(
        "cell", "vec_id", "emb", "nrm", "sa_id",
        (dot(F.col("emb"), F.col("sa_emb")) / (F.col("nrm") * F.col("sa_nrm")))
        .alias("cos_a"),
    )
    sb = (
        cb.filter(F.col("vec_id") != F.col("sa_id"))
        .groupBy("cell")
        .agg(
            F.min_by(
                F.struct(
                    F.col("vec_id").alias("sb_id"),
                    F.col("emb").alias("sb_emb"),
                    F.col("nrm").alias("sb_nrm"),
                ),
                F.struct("cos_a", "vec_id"),
            ).alias("sb")
        )
        .select("cell", "sb.*")
    )
    cos_b = dot(F.col("emb"), F.col("sb_emb")) / (
        F.col("nrm") * F.col("sb_nrm")
    )
    return (
        cb.join(F.broadcast(sb), "cell")
        .withColumn("cos_b", cos_b)
        .withColumn(
            "cell_after",
            F.lit(_X3X2_BASE)
            + F.when(F.col("cos_a") > F.col("cos_b"), F.col("sa_id"))
            .when(F.col("cos_b") > F.col("cos_a"), F.col("sb_id"))
            .otherwise(F.least("sa_id", "sb_id")),
        )
    )


def x3x2_assignment_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """:func:`maintenance_frames` under x3x2's trigger and split
    policy."""
    return maintenance_frames(x3x2_flagged_members(spark, sf_dir), _gonzalez_split)


def _reassignment_manifest(
    untouched: DataFrame, re_assigned: DataFrame, _cent: DataFrame, flag: str
) -> DataFrame:
    """x3x2's and x3x4's output: (vec_id, cell_before, cell_after,
    ``flag``) per nonzero vector, the moved flag named ``flag``."""
    cols = ["vec_id", "cell_before", "cell_after", F.col("moved").alias(flag)]
    return (
        untouched.select(*cols)
        .unionByName(re_assigned.select(*cols))
        .orderBy("vec_id")
    )


@register("x3x2_ivf_cell_split", oracle=_X3X2_ORACLE, tags=("X3",))
def x3x2_ivf_cell_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every overloaded IVF cell (load > _X3X2_NUM/_X3X2_DEN x
    the average, the x3x integer load law) in two: Gonzalez
    farthest-first seeds (farthest member from the standing centroid,
    then farthest from that seed — min cosine, vec_id tiebreaks), one
    Lloyd step assigning members to the higher-cosine seed (ties: the
    lower seed id), new sub-cell ids _X3X2_BASE + seed vec_id. One row
    per nonzero vector: cell_before, cell_after (identical for
    untouched cells — bit-identical pass-through), was_split."""
    return _reassignment_manifest(*x3x2_assignment_frames(spark, sf_dir), "was_split")


# X3x3 — the post-split centroid table (the artifact x3z2 serves from) ---------
#
# x3x2 emits WHO moves; the serving layer also needs the centroid table
# that results: post_maintenance_table over the split frames, exported
# one row per (occupied cell, dimension). A new sub-cell's centroid is
# its member MEAN under the x3x rounding law; an untouched cell's
# STANDING centroid vector carries through bit-identically (the s20
# idiom — its components are the raw stored doubles, not a recomputed
# mean). Components ship as floor(x * 1e6) BIGINTs so no float crosses
# the hash boundary. Cells with zero members (a standing centroid
# nothing assigned to) do not appear — the table mirrors the occupancy
# view, matching x3x's report.
#
# Scale shape: x3x2's dataflow plus ONE (cell, dim)-keyed hash
# aggregate over the changed cells' members (a semi-join against the
# broadcast moved rows), its per-cell collect into the centroid array,
# a post-split occupancy count and a <= K-row broadcast join for the
# standing centroids. Nothing new reads the parquet corpus.

_X3X3_ORACLE = f"""{_X3X2_CTES},
fasg AS (
{_X3X2_FINAL}
),
nc AS (
  SELECT cell_after AS cell, u.i AS dim_idx,
         round(sum(u.val), 4) AS s, count(*) AS n
  FROM (
    SELECT fa.cell_after,
           unnest(list_transform(range(1, len(cl.emb) + 1),
                                 i -> {{'i': i - 1, 'val': cl.emb[i]}})) AS u
    FROM fasg fa JOIN cells cl ON fa.vec_id = cl.vec_id
    WHERE fa.was_split
  )
  GROUP BY cell_after, u.i
),
uc AS (
  SELECT fa.cell_after AS cell, count(*) AS n
  FROM fasg fa WHERE NOT fa.was_split GROUP BY fa.cell_after
)
SELECT CAST(cell AS BIGINT)                              AS cell,
       CAST(dim_idx AS BIGINT)                           AS dim_idx,
       CAST(floor(s / n * {_X3X_SCALE}) AS BIGINT)      AS centroid_1e6,
       CAST(n AS BIGINT)                                 AS n_members,
       TRUE                                              AS is_new
FROM nc
UNION ALL
SELECT CAST(uc.cell AS BIGINT),
       CAST(cu.u.i AS BIGINT),
       CAST(floor(cu.u.val * {_X3X_SCALE}) AS BIGINT),
       CAST(uc.n AS BIGINT),
       FALSE
FROM uc JOIN (
  SELECT cent_id, unnest(list_transform(range(1, len(cemb) + 1),
                         i -> {{'i': i - 1, 'val': cemb[i]}})) AS u
  FROM c
) cu ON uc.cell = cu.cent_id
ORDER BY cell, dim_idx
"""


def post_maintenance_table(
    untouched: DataFrame, re_assigned: DataFrame, cent: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(table, corpus) after a split or a merge (:func:`maintenance_frames`).

    corpus is (vec_id, cid, emb, nrm), keyed on cell_after. table is
    (cid, cemb, n_members, changed), one row per occupied
    post-maintenance cell. A cell is changed when a reassigned member
    lands in it; its centroid is the member mean over ALL its
    post-maintenance members under the x3x rounding law (per-(cell,
    dim) sums rounded at 4dp first — the only place summation order
    exists — then divided, so both engines divide bit-identical
    doubles). Every other cell carries its standing centroid through
    bit-identically. Dissolved cells and memberless centroids have no
    row. x3x3/x3x5 export the table as floor(1e6) components; x3z2/
    x3z6 serve from it.

    The post-maintenance members, the reassigned ones included, are
    checkpointed lazily here, the family's one truncation point: the
    corpus, the moved rows, the occupancy and every consumer's own
    reuse (x3z2's queries and members, x2j2b's guard and fold) read
    them, and each reference would otherwise replay the policy's
    passes over the member slice."""
    cols = ["vec_id", F.col("cell_after").alias("cid"), "emb", "nrm", "moved"]
    full = (
        untouched.select(*cols)
        .unionByName(re_assigned.select(*cols))
        .localCheckpoint(eager=False)
    )
    corpus = full.drop("moved")
    # semi/anti joins against the broadcast moved rows: duplicates are
    # harmless in a hash set, so no distinct (and no shuffle) is needed
    moved = F.broadcast(full.filter("moved").select("cid"))
    means = (
        corpus.join(moved, "cid", "left_semi")
        .select("cid", F.posexplode("emb").alias("dim_idx", "val"))
        .groupBy("cid", "dim_idx")
        .agg(F.round(F.sum("val"), 4).alias("s"), F.count(F.lit(1)).alias("n"))
        .groupBy("cid")
        .agg(F.sort_array(F.collect_list(F.struct("dim_idx", "s", "n"))).alias("ds"))
        .select(
            "cid",
            F.transform("ds", lambda x: x["s"] / x["n"]).alias("cemb"),
            F.lit(True).alias("changed"),
        )
    )
    standing = (
        cent.select(F.col("cent_id").alias("cid"), "cemb")
        .join(moved, "cid", "left_anti")
        .withColumn("changed", F.lit(False))
    )
    occ = corpus.groupBy("cid").agg(F.count(F.lit(1)).alias("n_members"))
    table = occ.join(F.broadcast(means.unionByName(standing)), "cid")
    return table, corpus


def _centroids_1e6(table: DataFrame, flag: str) -> DataFrame:
    """A :func:`post_maintenance_table` as hash-safe rows: one per
    (cell, dim), components floor(x * 1e6) BIGINTs, ``changed`` named
    ``flag``."""
    return (
        table.select(
            "cid", "n_members", "changed",
            F.posexplode("cemb").alias("dim_idx", "val"),
        )
        .select(
            F.col("cid").cast("long").alias("cell"),
            F.col("dim_idx").cast("long").alias("dim_idx"),
            F.floor(F.col("val") * _X3X_SCALE).cast("long").alias("centroid_1e6"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("changed").alias(flag),
        )
        .orderBy("cell", "dim_idx")
    )


@register("x3x3_post_split_centroids", oracle=_X3X3_ORACLE, tags=("X3",))
def x3x3_post_split_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The centroid table after the x3x2 split — what x3z2 serves from:
    new sub-cells get their member mean (x3x rounding law: per-dim
    sums rounded at 4dp, then divided), untouched cells carry their
    standing centroid through bit-identically; components as
    floor(x*1e6) BIGINTs, one row per (occupied cell, dim)."""
    table, _corpus = post_maintenance_table(*x3x2_assignment_frames(spark, sf_dir))
    return _centroids_1e6(table, "is_new")


# X3z2 — IVF top-k over the POST-SPLIT partition (the loop, re-served) ----------
#
# x3z proves serving over the trained partition; x3z2 proves the
# maintenance loop actually improves the index IN SERVICE: the same
# top-5 cosine search, but probing the post-x3x2 partition — standing
# cells carry their standing centroid, split cells are replaced by
# their two sub-cells under the member-mean centroid — the same
# post_maintenance_table x3x3 exports, served as its EXACT
# rounded-sum/n doubles rather than the 1e6-floored export (both
# engines divide bit-identical values, the x3x law). Same x3z ranking
# laws:
# per-query 2 L2-nearest cells (cid tiebreak), exact cosine against
# only their members, round(cos,4) DESC + vec_id.
#
# Scale shape: x3x3's dataflow for the partition, its (K + splits)-row
# centroid table collapsed to ONE broadcast array row (probe selection
# is a per-row sort/slice fold — no window over the corpus), and the
# scoring join is a cell EQUI-join of queries x nprobe probe rows
# against the cell_after-keyed corpus — the plan-gated x3z posture.

_X3Z2_NPROBE = 2
_X3Z2_TOPK = 5

_X3Z2_ORACLE = f"""{_X3X2_CTES},
fasg AS (
{_X3X2_FINAL}
),
nc2 AS (
  SELECT cell_after AS cid, u.i AS dim_idx,
         round(sum(u.val), 4) AS s, count(*) AS n
  FROM (
    SELECT fa.cell_after,
           unnest(list_transform(range(1, len(cl.emb) + 1),
                                 i -> {{'i': i - 1, 'val': cl.emb[i]}})) AS u
    FROM fasg fa JOIN cells cl ON fa.vec_id = cl.vec_id
    WHERE fa.was_split
  )
  GROUP BY cell_after, u.i
),
cents AS (
  SELECT cid, list(s / n ORDER BY dim_idx) AS cvec FROM nc2 GROUP BY cid
  UNION ALL
  SELECT c.cent_id, c.cemb
  FROM c JOIN (SELECT DISTINCT cell_after FROM fasg WHERE NOT was_split) u2
    ON c.cent_id = u2.cell_after
),
nz AS (
  SELECT fa.vec_id, fa.cell_after AS cid, cl.emb,
         sqrt(list_reduce(list_transform(cl.emb, e -> e * e),
                          (s, y) -> s + y)) AS nrm
  FROM fasg fa JOIN cells cl ON fa.vec_id = cl.vec_id
),
q AS (SELECT vec_id AS q_id, emb AS qemb, nrm AS qnrm
      FROM nz WHERE vec_id < 8),
qc AS (
  SELECT q_id, qemb, qnrm, cid FROM (
    SELECT q.q_id, q.qemb, q.qnrm, c2.cid,
           row_number() OVER (PARTITION BY q.q_id ORDER BY
             list_reduce(list_transform(list_zip(q.qemb, c2.cvec),
                                        p -> (p[1] - p[2]) * (p[1] - p[2])),
                         (a, x) -> a + x), c2.cid) AS rn
    FROM q CROSS JOIN cents c2
  ) WHERE rn <= {_X3Z2_NPROBE}
),
cand AS (
  SELECT qc.q_id, nz.vec_id, nz.cid,
         list_reduce(list_transform(list_zip(qc.qemb, nz.emb),
                                    p -> p[1] * p[2]),
                     (s, y) -> s + y) / (qc.qnrm * nz.nrm) AS cos
  FROM qc JOIN nz ON qc.cid = nz.cid
  WHERE nz.vec_id <> qc.q_id
)
SELECT q_id, CAST(rnk AS INT) AS rnk, vec_id,
       CAST(cid AS BIGINT) AS cell, cos_sim
FROM (
  SELECT q_id, vec_id, cid, round(cos, 4) + 0.0 AS cos_sim,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY round(cos, 4) DESC, vec_id) AS rnk
  FROM cand
) WHERE rnk <= {_X3Z2_TOPK}
ORDER BY q_id, rnk
"""


@register("x3z2_post_split_ivf_topk", oracle=_X3Z2_ORACLE, tags=("X3",))
def x3z2_post_split_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 cosine search over the POST-x3x2 partition: each of
    the 8 query vectors probes its 2 L2-nearest cells of the
    post-split centroid table (standing centroids for untouched cells,
    exact member means for the new sub-cells) and scores exact cosine
    against only their members (self excluded). The x3z ranking laws
    throughout — this is the serve leg of train -> admit -> split ->
    re-serve."""
    table, corpus = post_maintenance_table(*x3x2_assignment_frames(spark, sf_dir))
    return serve_ivf_topk(
        corpus,
        table.select(F.col("cid").alias("cent_id"), "cemb"),
        _X3Z2_NPROBE,
        _X3Z2_TOPK,
    )


# X3z3 — recall audit of the post-split serving leg ----------------------------
#
# The quality meter on the maintenance loop: does serving over the
# post-x3x2 partition still find the true neighbors? Per query,
# recall@5 of x3z2 against the exact brute-force truth (x3) — the x3h
# audit shape verbatim (shared recall_report / composed oracles), so
# the loop closes train -> admit -> split -> serve -> AUDIT with the
# same yardstick the x3d index answers to. Scale shape: the two
# registered legs' shapes plus a k-rows-per-query join/aggregate.

from .similarity import _X3_ORACLE as _X3_ORACLE_REF  # noqa: E402
from .similarity import recall_report  # noqa: E402

_X3Z3_ORACLE = f"""
WITH bf AS ({_X3_ORACLE_REF}),
ps AS ({_X3Z2_ORACLE}),
hits AS (
  SELECT bf.q_id, count(*) AS n_hits
  FROM bf JOIN ps ON bf.q_id = ps.q_id AND bf.vec_id = ps.vec_id
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


@register("x3z3_post_split_recall", oracle=_X3Z3_ORACLE, tags=("X3",))
def x3z3_post_split_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@5 of the post-split IVF search (x3z2) against
    exact brute force (x3) — the x3h audit applied to the maintenance
    loop's serving leg. Composes the two registered queries and the
    shared recall_report; the oracle composes their SQL verbatim."""
    from .similarity import x3_similarity_bruteforce

    bf = x3_similarity_bruteforce(spark, sf_dir).select("q_id", "vec_id")
    ps = x3z2_post_split_ivf_topk(spark, sf_dir).select("q_id", "vec_id")
    return recall_report(bf, ps)


# X2z — LSH quality audit: precision/recall of the banded candidates -----------
#
# The dashboard a dedup operator watches before trusting LSH at 100 TB:
# how many of the banded candidate pairs are REAL near-dups (precision,
# the verify-stage cost), and how many real near-dups the bands catch
# (recall, the miss risk)? Truth is the exact 3-shingle Jaccard — the
# very quantity MinHash estimates — computed by pair_overlap over the
# shingle posting lists (never all-pairs); candidates are x2g's
# _md5_band_pairs over the SAME shared signature sites, so the audited
# pipeline is the registered one, not a reimplementation. Every
# threshold verdict is a BIGINT cross-multiplication
# (den*n_common >= num*union) and the two rates are floored
# micro-ratios — bitwise cross-engine.
#
# A band collision implies a shared shingle (equal min-hash values name
# the same argmin shingle, md5 collisions aside), so every candidate
# pair appears in the shared-shingle join and the left join loses
# nothing — the structural fact that makes the audit exact.
#
# Scale shape: shingle explode -> posting-list pair_overlap for truth;
# x2g's band bucket pairs for candidates; both collapse to pair-keyed
# aggregates before the tiny 3-row threshold cross-join.

_X2Z_TAUS = ((30, 3, 10), (50, 5, 10), (70, 7, 10))  # (pct, num, den)

_X2Z_TAU_VALUES = ", ".join(f"({p}, {n}, {d})" for p, n, d in _X2Z_TAUS)

_X2Z_ORACLE = f"""
WITH {_GRAMS200_CTE},
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(count(*) AS BIGINT) AS n_common
  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
j AS (
  SELECT i.id_a, i.id_b, i.n_common,
         sa.n + sb.n - i.n_common AS u
  FROM inter i
  JOIN sizes sa ON i.id_a = sa.doc_id
  JOIN sizes sb ON i.id_b = sb.doc_id
),
sigs AS ({_md5_sigs_sql("doc_id < 200")}),
banded AS ({_md5_banded_sql("sigs")}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
jc AS (
  SELECT j.*, CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS is_cand
  FROM j LEFT JOIN cand c ON j.id_a = c.id_a AND j.id_b = c.id_b
),
nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cand),
m AS (
  SELECT t.tau_pct,
         CAST(sum(CASE WHEN t.den * jc.n_common >= t.num * jc.u
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
         CAST(sum(CASE WHEN t.den * jc.n_common >= t.num * jc.u
                        AND jc.is_cand = 1
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
  FROM jc CROSS JOIN (VALUES {_X2Z_TAU_VALUES}) t(tau_pct, num, den)
  GROUP BY t.tau_pct
)
SELECT CAST(m.tau_pct AS INT) AS tau_pct, m.n_truth, m.n_hit, nc.n_cand,
       CAST(CASE WHEN nc.n_cand > 0
            THEN (1000000 * m.n_hit) // nc.n_cand ELSE 0 END AS BIGINT)
         AS precision_micro,
       CAST(CASE WHEN m.n_truth > 0
            THEN (1000000 * m.n_hit) // m.n_truth ELSE 0 END AS BIGINT)
         AS recall_micro
FROM m CROSS JOIN nc
ORDER BY tau_pct
"""


@register("x2z_lsh_quality_audit", oracle=_X2Z_ORACLE, tags=("X2",))
def x2z_lsh_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the x2g MinHash-LSH candidate pairs against
    the exact 3-shingle Jaccard truth, at three thresholds. Candidates
    and signatures come from the SAME shared sites x2g registers, truth
    from the shingle posting lists; threshold verdicts are integer
    cross-multiplications and the rates floored micro-ratios."""
    docs = Catalog(spark, sf_dir).documents.filter(F.col("doc_id") < 200)
    sh, sigs = _md5_shingle_signatures(docs)
    cand = _md5_band_pairs(sigs, "x2z").select("id_a", "id_b")
    post = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    j = pair_overlap(post, "ids", "x2z").select(
        F.col("a").alias("id_a"),
        F.col("b").alias("id_b"),
        F.col("n_shared").alias("n_common"),
        (F.col("n_a") + F.col("n_b") - F.col("n_shared")).alias("u"),
    )
    jc = j.join(
        cand.withColumn("is_cand", F.lit(1)), ["id_a", "id_b"], "left"
    ).fillna(0, subset=["is_cand"])
    taus = spark.createDataFrame(
        list(_X2Z_TAUS), "tau_pct int, num long, den long"
    )
    nc = cand.agg(F.count(F.lit(1)).cast("long").alias("n_cand"))
    truth_flag = F.col("den") * F.col("n_common") >= F.col("num") * F.col("u")
    m = (
        jc.crossJoin(F.broadcast(taus))
        .groupBy("tau_pct")
        .agg(
            F.sum(truth_flag.cast("int")).cast("long").alias("n_truth"),
            F.sum((truth_flag & (F.col("is_cand") == 1)).cast("int"))
            .cast("long")
            .alias("n_hit"),
        )
    )
    return (
        m.crossJoin(F.broadcast(nc))
        .select(
            "tau_pct", "n_truth", "n_hit", "n_cand",
            F.expr(
                "CAST(CASE WHEN n_cand > 0 THEN (1000000 * n_hit) div n_cand"
                " ELSE 0 END AS BIGINT)"
            ).alias("precision_micro"),
            F.expr(
                "CAST(CASE WHEN n_truth > 0 THEN (1000000 * n_hit) div n_truth"
                " ELSE 0 END AS BIGINT)"
            ).alias("recall_micro"),
        )
        .orderBy("tau_pct")
    )


# X2j2b — SemDeDup prune over the POST-SPLIT partition ------------------------
#
# The composition the x2j2 mega-cluster guard names as its remedy,
# executed: instead of refusing an overloaded cluster, prune WITHIN the
# post-x3x2 cells — the split executor has already cut every
# overloaded cell in two (Gonzalez seeds + one confined Lloyd step),
# so the greedy fold's per-cluster state is bounded by construction
# wherever one split suffices (recursive splitting is the same
# dataflow re-run on the new partition). Assignment rows come from the
# registered x3x2 law sites (Spark: the post_maintenance_table corpus
# over x3x2_assignment_frames; oracle: _X3X2_CTES + _X3X2_FINAL), the
# prune from the
# registered x2j2 law sites (_semdedup_prune / _x2j2_prune_sql) — this
# entry is pure composition, so it can never drift from either parent.
# The guard itself is CARRIED (a post-split cell could still exceed
# the bound under a degenerate corpus; it then refuses loudly with the
# sub-cell id, and the planted pytest pins the flip: a corpus x2j2
# refuses is split, then pruned, here).
#
# Scale shape: x3x2's (one corpus argmax scan + flagged-cell-confined
# split passes) plus x2j2's (count-only guarded K-row pre-aggregate,
# one cell_after-keyed corpus shuffle, quadratic work confined to
# single sub-cells). Nothing new touches the corpus.

_X2J2B_ORACLE = f"""{_X3X2_CTES},
fasg AS (
{_X3X2_FINAL}
),
asg2 AS (
  SELECT fa.cell_after AS cid, fa.vec_id, cl.emb
  FROM fasg fa JOIN cells cl ON fa.vec_id = cl.vec_id
),
{_x2j2_prune_sql("asg2", p="p_")}"""


@register(
    "x2j2b_semdedup_prune_post_split", oracle=_X2J2B_ORACLE, tags=("X2", "X3")
)
def x2j2b_semdedup_prune_post_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SemDeDup keep/drop manifest over the POST-x3x2 partition: every
    overloaded IVF cell is split first (the registered x3x2 dataflow),
    then the registered x2j2 greedy fold prunes within each resulting
    cell — the structural remedy the x2j2 mega-cluster guard
    prescribes, composed from both registered law sites. Cluster ids
    are post-split cell ids (standing cells unchanged, sub-cells
    _X3X2_BASE + seed id); the lowest-id copy survives per cluster."""
    _table, corpus = post_maintenance_table(*x3x2_assignment_frames(spark, sf_dir))
    return _semdedup_prune(corpus.select("cid", "vec_id", "emb"))


# X3x4 — merge underloaded IVF cells (the dual of x3x2) ------------------------
#
# Real index maintenance shrinks as well as splits: after takedowns
# (x2e4) or admission drift (x3x), near-empty cells waste probes and
# skew recall — each probe visits nprobe cells, so a cell holding a
# handful of members buys almost no candidates for its probe slot.
# x3x4 is the x3x2 dataflow (flagged_slice + maintenance_frames) on
# the other tail: flag every cell whose load falls UNDER the declared
# integer floor (load_vs_average with "<" — a cell merges when
# DEN * n * K < NUM * total, i.e. load < NUM/DEN x the average),
# dissolve it, and reassign its
# members to the nearest SURVIVING standing centroid — the
# nearest_cells cosine law verbatim over the broadcast survivor
# array, applied to flagged members only, keeping cell_before in the
# same map-side projection (no join-back). Untouched (surviving)
# cells pass through with cell_after = cell_before, bit-identical —
# the s20/x3x2 idiom, provable because the oracle hash covers every
# row.
#
# The floor is declared 7/8 (0.875x the average): the fixture cells
# are near-uniform, and 7/8 fires on 5 cells at sf0.001, 3 at sf0.01
# and 2 at sf0.1 (measured) — the fixture-visible-parameter precedent
# (x3x2 declares 9/8 for the same reason); production swaps the
# ratio, not the dataflow. Survivors are nonempty BY PIGEONHOLE for
# any floor <= 1: sum(n) = total means some cell carries at least the
# average load, and the flag is strict <, so that cell never flags —
# no degenerate-corpus guard is needed.
#
# Scale shape: ONE corpus argmax scan (standing_ivf_index, persisted
# for its multiple consumers), a K-row occupancy aggregate, then the
# reassignment (_nearest_survivor) confined to flagged-cell members by an equi-join
# against the <= K-row broadcast flagged set (plan-gated) followed by
# a map-side argmax over the <= K-row broadcast survivor array. No
# window, no pairwise stage, O(merged members) beyond the standing
# scan. Split (x3x2) and merge (x3x4) close both tails of the IVF
# occupancy maintenance loop.

_X3X4_NUM = 7      # merge when DEN * n * K < NUM * total (load < NUM/DEN x avg)
_X3X4_DEN = 8

# CTE chain (cells -> occupancy -> flagged -> survivors -> members ->
# reassignment) and the final per-vector union, split the x3x2 way so
# x3x5's post-merge centroid oracle composes the SAME chain.
_X3X4_CTES = f"""{_IVF_CELLS_SQL},
occ AS (SELECT cell, count(*) AS n FROM cells GROUP BY cell),
tot AS (SELECT sum(n) AS total FROM occ),
mflag AS (
  SELECT cell FROM occ CROSS JOIN tot
  WHERE {_X3X4_DEN} * n * {_X3X_K} < {_X3X4_NUM} * total
),
surv AS (
  SELECT c.cent_id, c.cemb,
         sqrt(list_aggregate(list_transform(c.cemb, x -> x * x), 'sum')) AS cnrm
  FROM c ANTI JOIN mflag f ON c.cent_id = f.cell
),
mmem AS (
  SELECT cl.cell, cl.vec_id, cl.emb,
         sqrt(list_aggregate(list_transform(cl.emb, x -> x * x), 'sum')) AS nrm
  FROM cells cl JOIN mflag f ON cl.cell = f.cell
),
mre AS (
  SELECT vec_id, cell AS cell_before, cent_id AS cell_after FROM (
    SELECT m.vec_id, m.cell, s.cent_id,
           row_number() OVER (PARTITION BY m.vec_id ORDER BY
             (list_aggregate(list_transform(list_zip(m.emb, s.cemb), p -> p[1] * p[2]), 'sum')
              / (m.nrm * s.cnrm)) DESC, s.cent_id) AS rn
    FROM mmem m CROSS JOIN surv s
  ) WHERE rn = 1
)"""

_X3X4_FINAL = f"""SELECT vec_id,
       CAST(cell_before AS BIGINT) AS cell_before,
       CAST(cell_after AS BIGINT) AS cell_after,
       TRUE AS was_merged
FROM mre
UNION ALL
SELECT cl.vec_id, CAST(cl.cell AS BIGINT), CAST(cl.cell AS BIGINT), FALSE
FROM cells cl ANTI JOIN mflag f ON cl.cell = f.cell"""

_X3X4_ORACLE = f"""{_X3X4_CTES}
{_X3X4_FINAL}
ORDER BY vec_id
"""


def _nearest_survivor(
    members: DataFrame, flagged: DataFrame, cent: DataFrame
) -> DataFrame:
    """x3x4's policy: each flagged member moves to its nearest
    surviving standing centroid by :func:`nearest_cells` (cos desc,
    cent_id) over the broadcast survivor array, in the same map-side
    projection as its cell — no join-back."""
    surv = cent.join(
        F.broadcast(flagged.select(F.col("cell").alias("cent_id"))),
        "cent_id",
        "left_anti",
    )
    near = nearest_cells(F.col("emb"), F.col("cents"), nrm=F.col("nrm"))
    return (
        members.crossJoin(F.broadcast(_centroid_array(surv)))
        .withColumn("cell_after", near["cid"])
        .filter(F.col("cell_after").isNotNull())
    )


def x3x4_merge_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """:func:`maintenance_frames` under x3x4's merge trigger and
    nearest-survivor policy."""
    return maintenance_frames(
        flagged_slice(spark, sf_dir, _merge_trigger()), _nearest_survivor
    )


@register("x3x4_ivf_cell_merge", oracle=_X3X4_ORACLE, tags=("X3",))
def x3x4_ivf_cell_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge every underloaded IVF cell (load < _X3X4_NUM/_X3X4_DEN x
    the average, the x3x integer load law's dual): the cell dissolves
    and its members reassign to the nearest surviving standing
    centroid by the nearest_cells (cos desc, cent_id) law.
    One row per nonzero vector: cell_before, cell_after (identical
    for untouched cells — bit-identical pass-through), was_merged.
    Survivors are nonempty by pigeonhole for any floor <= 1x."""
    return _reassignment_manifest(*x3x4_merge_frames(spark, sf_dir), "was_merged")


# X3x5 — the post-merge centroid table (the x3x3 dual) -------------------------
#
# x3x4 emits WHO moves; the serving layer needs the centroid table
# that results: post_maintenance_table over the merge frames (the
# x3x3 law), exported one row per (occupied post-merge cell,
# dimension). A RECEIVER cell (one that absorbed merged members) — a
# changed cell in the table's terms — gets its member
# MEAN over ALL its post-merge members under the x3x rounding law
# (per-(cell, dim) sums rounded at 4dp, then divided — the only place
# summation order exists, so both engines divide bit-identical
# doubles); a surviving cell that received nothing carries its
# STANDING centroid vector through bit-identically (the s20 idiom).
# Components ship as floor(x * 1e6) BIGINTs so no float crosses the
# hash boundary; dissolved cells and memberless centroids do not
# appear — the table mirrors the post-merge occupancy view, matching
# x3x3's convention.
#
# Scale shape: x3x3's, over x3x4's dataflow — ONE (cell, dim)-keyed
# hash aggregate confined to receiver-cell members (a semi-join
# against the broadcast moved rows), its per-cell collect, a
# post-merge occupancy count and a <= K-row broadcast join for the
# standing centroids. Nothing new reads the parquet corpus.

_X3X5_ORACLE = f"""{_X3X4_CTES},
fasg AS (
{_X3X4_FINAL}
),
recv AS (SELECT DISTINCT cell_after AS cell FROM fasg WHERE was_merged),
rc AS (
  SELECT cell_after AS cell, u.i AS dim_idx,
         round(sum(u.val), 4) AS s, count(*) AS n
  FROM (
    SELECT fa.cell_after,
           unnest(list_transform(range(1, len(cl.emb) + 1),
                                 i -> {{'i': i - 1, 'val': cl.emb[i]}})) AS u
    FROM fasg fa
    JOIN recv r ON fa.cell_after = r.cell
    JOIN cells cl ON fa.vec_id = cl.vec_id
  )
  GROUP BY cell_after, u.i
),
uc AS (
  SELECT fa.cell_after AS cell, count(*) AS n
  FROM fasg fa ANTI JOIN recv r ON fa.cell_after = r.cell
  GROUP BY fa.cell_after
)
SELECT CAST(cell AS BIGINT)                              AS cell,
       CAST(dim_idx AS BIGINT)                           AS dim_idx,
       CAST(floor(s / n * {_X3X_SCALE}) AS BIGINT)      AS centroid_1e6,
       CAST(n AS BIGINT)                                 AS n_members,
       TRUE                                              AS is_receiver
FROM rc
UNION ALL
SELECT CAST(uc.cell AS BIGINT),
       CAST(cu.u.i AS BIGINT),
       CAST(floor(cu.u.val * {_X3X_SCALE}) AS BIGINT),
       CAST(uc.n AS BIGINT),
       FALSE
FROM uc JOIN (
  SELECT cent_id, unnest(list_transform(range(1, len(cemb) + 1),
                         i -> {{'i': i - 1, 'val': cemb[i]}})) AS u
  FROM c
) cu ON uc.cell = cu.cent_id
ORDER BY cell, dim_idx
"""


@register("x3x5_post_merge_centroids", oracle=_X3X5_ORACLE, tags=("X3",))
def x3x5_post_merge_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The centroid table after the x3x4 merge — what serving probes
    next: receiver cells get the member mean over ALL their post-merge
    members (x3x rounding law: per-dim sums rounded at 4dp, then
    divided), surviving non-receiver cells carry their standing
    centroid through bit-identically; components as floor(x*1e6)
    BIGINTs, one row per (occupied post-merge cell, dim)."""
    table, _corpus = post_maintenance_table(*x3x4_merge_frames(spark, sf_dir))
    return _centroids_1e6(table, "is_receiver")


# X3z4 — trained-IVF serving over a RETRACTED corpus ---------------------------
#
# x2e4 retracts docs from the dedup closure and x6b4 repacks bins, but
# the ANN serving path had no retraction face: tombstoned vectors keep
# sitting in their cells and keep surfacing in top-k answers until a
# full index rebuild. x3z4 closes that loop the cheap way a real
# serving tier does: the index structure (trained centroids, cell
# assignment, probe selection) is UNCHANGED — the tombstone filter
# applies to the MEMBER side at the cell equi-join, so a tombstoned
# vector can never enter any candidate list while every untouched
# ranking stays bit-identical to x3z (scores are per-pair, so removing
# a candidate only compacts ranks below it — the planted pytest pins
# the former-top-1-disappears / rank-2-promotes flip). Queries are
# external callers and keep probing unfiltered, tombstoned ids
# included. The predicate is THE shared x2e4 law site (_X2E4_TOMB),
# so ANN retraction and closure retraction can never disagree on who
# is gone. Both halves compose the registered x3z chain: Spark via
# _trained_ivf_serve(corpus_pred=...), the oracle via _x3z_sql(extra)
# — pure composition, byte-identity of x3z pinned across the split.
#
# Scale shape: exactly x3z's (map-side broadcast argmin assignment,
# per-row probe fold, cell equi-join) plus one map-side integer-mod
# predicate on the member side — pushed below the join, no new
# shuffle, no rebuild. At 100 TB a takedown batch becomes a tombstone
# table broadcast into the same predicate position.

from .similarity import _trained_ivf_serve, _x3z_sql  # noqa: E402

_X3Z4_ORACLE = _x3z_sql(
    f" AND NOT ({_X2E4_TOMB.format(col='nz.vec_id')})"
)


@register("x3z4_tombstone_ivf_topk", oracle=_X3Z4_ORACLE, tags=("X3", "X2"))
def x3z4_tombstone_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x3z's trained-IVF top-5 search over the RETRACTED corpus: the
    shared _X2E4_TOMB tombstone predicate filters the member side at
    the cell equi-join, so tombstoned vectors never surface in any
    top-k while untouched rankings match x3z bit-identically (ranks
    compact below a removed candidate). Queries probe unfiltered —
    retraction silences answers, not askers."""
    return _trained_ivf_serve(
        spark, sf_dir, corpus_pred=~F.expr(_X2E4_TOMB.format(col="vec_id"))
    )


# X3z5 — the per-cell occupancy delta of that retraction -----------------------
#
# The report an index operator reads before deciding maintenance: how
# much did the takedown hollow out each cell? Per trained cell: member
# count before, tombstoned count, count after, and the tombstone
# fraction in exact floored ppm — the x3x occupancy view's retraction
# delta. Cells whose n_after sinks under the x3x4 floor are the next
# merge candidates; the two reports compose into the maintenance loop
# (retract -> measure -> merge/split -> re-serve).
#
# Scale shape: the x3r2 assignment scan plus ONE map-combined hash
# aggregate keyed on the cell id (K rows out). The tombstone flag is
# the same map-side predicate as x3z4 — one law site.

_X3Z5_ORACLE = f"""{_X3R2_ASG_CTES},
nz AS (
  SELECT vec_id, cid FROM asg
  WHERE list_reduce(list_transform(emb, e -> e * e), (s, y) -> s + y) > 0
)
SELECT CAST(cid AS BIGINT)                       AS cell,
       CAST(count(*) AS BIGINT)                  AS n_before,
       CAST(sum(CASE WHEN {_X2E4_TOMB.format(col="vec_id")}
                THEN 1 ELSE 0 END) AS BIGINT)    AS n_tomb,
       CAST(count(*) - sum(CASE WHEN {_X2E4_TOMB.format(col="vec_id")}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
       CAST((1000000 * sum(CASE WHEN {_X2E4_TOMB.format(col="vec_id")}
                           THEN 1 ELSE 0 END)) // count(*) AS BIGINT)
         AS tomb_ppm
FROM nz GROUP BY cid
ORDER BY cell
"""


@register("x3z5_tombstone_occupancy", oracle=_X3Z5_ORACLE, tags=("X3", "X2"))
def x3z5_tombstone_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-trained-cell occupancy delta under the shared _X2E4_TOMB
    retraction: members before, tombstoned, after, and the floored
    tombstone ppm — the measurement leg between retraction (x2e4/
    x3z4) and occupancy maintenance (x3x2 split / x3x4 merge)."""
    assigned, _cent = x3r2_trained_assign(spark, sf_dir)
    nz = assigned.withColumn("nrm", l2_norm(F.col("emb"))).filter(
        F.col("nrm") > 0
    )
    tomb = F.expr(_X2E4_TOMB.format(col="vec_id")).cast("int")
    return (
        nz.select(F.col("cid").cast("long").alias("cell"), "vec_id")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_before"),
            F.sum(tomb).cast("long").alias("n_tomb"),
            (F.count(F.lit(1)) - F.sum(tomb)).cast("long").alias("n_after"),
            F.expr(
                f"CAST((1000000 * sum(CAST({_X2E4_TOMB.format(col='vec_id')} "
                "AS INT))) div count(*) AS BIGINT)"
            ).alias("tomb_ppm"),
        )
        .orderBy("cell")
    )


# X3z6 — IVF top-k over the POST-MERGE partition (the merge, re-served) --------
#
# x3z2 proves the split improves the index IN SERVICE; x3z6 is the
# same proof for the merge leg: the x3z top-5 cosine search probing
# the post-x3x4 partition — non-receiver survivors carry their
# standing centroid, receiver cells are scored under their member-mean
# centroid over ALL post-merge members (the post_maintenance_table
# x3x5 exports, as its EXACT rounded-sum/n doubles rather than the
# 1e6-floored export — both engines divide bit-identical values),
# dissolved cells are gone from both the probe
# table and the corpus keying. Same x3z ranking laws: per-query
# _X3Z6_NPROBE L2-nearest cells (cid tiebreak), exact cosine against
# only their members, round(cos,4) DESC + vec_id. With fewer, fuller
# cells each probe slot buys more candidates — the recall-per-probe
# argument for merging, which x3z7 then measures.
#
# Scale shape: x3x5's dataflow for the partition, its <= K-row centroid
# table collapsed to ONE broadcast array row (probe selection is a
# per-row sort/slice fold — no window over the corpus), and the
# scoring join is a BROADCAST cell equi-join of queries x nprobe
# probe rows against the cell_after-keyed corpus (explicit hint — the
# x3z2 lesson; plan-gated).

_X3Z6_NPROBE = 2
_X3Z6_TOPK = 5

_X3Z6_ORACLE = f"""{_X3X4_CTES},
fasg AS (
{_X3X4_FINAL}
),
recv AS (SELECT DISTINCT cell_after AS cell FROM fasg WHERE was_merged),
nc2 AS (
  SELECT cell_after AS cid, u.i AS dim_idx,
         round(sum(u.val), 4) AS s, count(*) AS n
  FROM (
    SELECT fa.cell_after,
           unnest(list_transform(range(1, len(cl.emb) + 1),
                                 i -> {{'i': i - 1, 'val': cl.emb[i]}})) AS u
    FROM fasg fa
    JOIN recv r ON fa.cell_after = r.cell
    JOIN cells cl ON fa.vec_id = cl.vec_id
  )
  GROUP BY cell_after, u.i
),
cents AS (
  SELECT cid, list(s / n ORDER BY dim_idx) AS cvec FROM nc2 GROUP BY cid
  UNION ALL
  SELECT c.cent_id, c.cemb
  FROM c JOIN (
    SELECT DISTINCT fa2.cell_after
    FROM fasg fa2 ANTI JOIN recv r2 ON fa2.cell_after = r2.cell
  ) u2 ON c.cent_id = u2.cell_after
),
nz AS (
  SELECT fa.vec_id, fa.cell_after AS cid, cl.emb,
         sqrt(list_reduce(list_transform(cl.emb, e -> e * e),
                          (s, y) -> s + y)) AS nrm
  FROM fasg fa JOIN cells cl ON fa.vec_id = cl.vec_id
),
q AS (SELECT vec_id AS q_id, emb AS qemb, nrm AS qnrm
      FROM nz WHERE vec_id < 8),
qc AS (
  SELECT q_id, qemb, qnrm, cid FROM (
    SELECT q.q_id, q.qemb, q.qnrm, c2.cid,
           row_number() OVER (PARTITION BY q.q_id ORDER BY
             list_reduce(list_transform(list_zip(q.qemb, c2.cvec),
                                        p -> (p[1] - p[2]) * (p[1] - p[2])),
                         (a, x) -> a + x), c2.cid) AS rn
    FROM q CROSS JOIN cents c2
  ) WHERE rn <= {_X3Z6_NPROBE}
),
cand AS (
  SELECT qc.q_id, nz.vec_id, nz.cid,
         list_reduce(list_transform(list_zip(qc.qemb, nz.emb),
                                    p -> p[1] * p[2]),
                     (s, y) -> s + y) / (qc.qnrm * nz.nrm) AS cos
  FROM qc JOIN nz ON qc.cid = nz.cid
  WHERE nz.vec_id <> qc.q_id
)
SELECT q_id, CAST(rnk AS INT) AS rnk, vec_id,
       CAST(cid AS BIGINT) AS cell, cos_sim
FROM (
  SELECT q_id, vec_id, cid, round(cos, 4) + 0.0 AS cos_sim,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY round(cos, 4) DESC, vec_id) AS rnk
  FROM cand
) WHERE rnk <= {_X3Z6_TOPK}
ORDER BY q_id, rnk
"""


@register("x3z6_post_merge_ivf_topk", oracle=_X3Z6_ORACLE, tags=("X3",))
def x3z6_post_merge_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 cosine search over the POST-x3x4 partition: each of
    the 8 query vectors probes its 2 L2-nearest cells of the
    post-merge centroid table (standing centroids for non-receiver
    survivors, exact member means over ALL post-merge members for
    receiver cells; dissolved cells gone) and scores exact cosine
    against only their members (self excluded). The x3z ranking laws
    throughout — the serve leg of retract/drift -> measure -> merge ->
    re-serve."""
    table, corpus = post_maintenance_table(*x3x4_merge_frames(spark, sf_dir))
    return serve_ivf_topk(
        corpus,
        table.select(F.col("cid").alias("cent_id"), "cemb"),
        _X3Z6_NPROBE,
        _X3Z6_TOPK,
    )


# X3z7 — recall audit of the post-merge serving leg ----------------------------
#
# The x3z3 dual: does serving over the post-x3x4 partition still find
# the true neighbors? Per query, recall@5 of x3z6 against the exact
# brute-force truth (x3) — the x3h audit shape verbatim (shared
# recall_report / composed oracles), so the merge loop closes
# measure -> merge -> re-serve -> AUDIT with the same yardstick as
# the split loop. Scale shape: the two registered legs' shapes plus a
# k-rows-per-query join/aggregate.

_X3Z7_ORACLE = f"""
WITH bf AS ({_X3_ORACLE_REF}),
pm AS ({_X3Z6_ORACLE}),
hits AS (
  SELECT bf.q_id, count(*) AS n_hits
  FROM bf JOIN pm ON bf.q_id = pm.q_id AND bf.vec_id = pm.vec_id
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


@register("x3z7_post_merge_recall", oracle=_X3Z7_ORACLE, tags=("X3",))
def x3z7_post_merge_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@5 of the post-merge IVF search (x3z6) against
    exact brute force (x3) — the x3h audit applied to the merge loop's
    serving leg. Composes the two registered queries and the shared
    recall_report; the oracle composes their SQL verbatim."""
    from .similarity import x3_similarity_bruteforce

    bf = x3_similarity_bruteforce(spark, sf_dir).select("q_id", "vec_id")
    pm = x3z6_post_merge_ivf_topk(spark, sf_dir).select("q_id", "vec_id")
    return recall_report(bf, pm)


# X3x6 — the per-cell occupancy maintenance PLAN -------------------------------
#
# The decision table between measurement and execution: per standing
# cell, its load against BOTH declared triggers — x3x2's split
# threshold (DEN2*n*K > NUM2*total, load > 9/8 x average) and x3x4's
# merge floor (DEN4*n*K < NUM4*total, load < 7/8 x average) — and the
# resulting action verdict: 'split' (x3x2 executes), 'merge' (x3x4
# executes), or 'hold'. Load ships as an exact floored ppm of the
# average (1e6 * n * K div total) so no float crosses the hash
# boundary, and both verdicts are the executors' own trigger Columns
# (_split_trigger / _merge_trigger over the shared cell_occupancy) —
# the plan cannot disagree with what the executors would do. The two
# trigger bands cannot overlap
# (9/8 > 7/8), so the CASE order is immaterial; a cell with a single
# member still reports honestly (x3x2 skips n < 2 cells — surfaced
# here as 'hold' via the same n >= 2 conjunct).
#
# This closes the maintenance loop's control face: measure (x3x /
# x3z5) -> PLAN (x3x6) -> execute (x3x2 split / x3x4 merge) ->
# re-serve (x3z2 / x3z6) -> audit (x3z3 / x3z7).
#
# Scale shape: the ONE standing assignment scan (standing_ivf_index)
# plus cell_occupancy's K-row aggregate and 1-row total broadcast —
# nothing else
# touches the corpus; the report is K rows.

_X3X6_ORACLE = f"""{_IVF_CELLS_SQL},
occ AS (SELECT cell, count(*) AS n FROM cells GROUP BY cell),
tot AS (SELECT sum(n) AS total FROM occ)
SELECT CAST(cell AS BIGINT)                                AS cell,
       CAST(n AS BIGINT)                                   AS n_members,
       CAST((1000000 * n * {_X3X_K}) // total AS BIGINT)   AS load_ppm_of_avg,
       ({_X3X2_DEN} * n * {_X3X_K} > {_X3X2_NUM} * total AND n >= 2)
         AS over_split_trigger,
       ({_X3X4_DEN} * n * {_X3X_K} < {_X3X4_NUM} * total)
         AS under_merge_floor,
       CASE WHEN {_X3X2_DEN} * n * {_X3X_K} > {_X3X2_NUM} * total AND n >= 2
            THEN 'split'
            WHEN {_X3X4_DEN} * n * {_X3X_K} < {_X3X4_NUM} * total
            THEN 'merge'
            ELSE 'hold' END                                AS action
FROM occ CROSS JOIN tot
ORDER BY cell
"""


@register("x3x6_maintenance_plan", oracle=_X3X6_ORACLE, tags=("X3",))
def x3x6_maintenance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per standing IVF cell: member count, exact floored load ppm of
    the average, both trigger verdicts, and the split/merge/hold
    action — the verdicts are x3x2's and x3x4's own trigger Columns
    over the shared occupancy, so the plan and the executors cannot
    disagree. One assignment scan + a K-row aggregate; the report is
    K rows."""
    _cent, _vecs, assigned = standing_ivf_index(spark, sf_dir)
    over, under = _split_trigger(), _merge_trigger()
    return (
        cell_occupancy(assigned)
        .select(
            F.col("cell").cast("long").alias("cell"),
            F.col("n").cast("long").alias("n_members"),
            F.expr(
                f"CAST((1000000 * n * {_X3X_K}) div total AS BIGINT)"
            ).alias("load_ppm_of_avg"),
            over.alias("over_split_trigger"),
            under.alias("under_merge_floor"),
            F.when(over, F.lit("split"))
            .when(under, F.lit("merge"))
            .otherwise(F.lit("hold"))
            .alias("action"),
        )
        .orderBy("cell")
    )
