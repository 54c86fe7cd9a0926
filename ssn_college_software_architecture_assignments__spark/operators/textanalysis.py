"""Text analysis operators (SURVEY.md §2.10 X4): token counting, term
stats, quality scoring, fingerprinting, language-ID heuristic.

All hot-path math is JVM higher-order functions over the token array —
the per-document feature extraction a training-data pipeline runs over
billions of documents, with zero Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import Catalog, ensure_min_partitions
from ..registry import register
from ..scratch import persist_scoped

# X4a — token counting ----------------------------------------------------------

_X4A_ORACLE = """
WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT)                 AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT)  AS n_unique_tokens,
       n_chars,
       round(CAST(n_chars AS DOUBLE) / len(toks), 4) AS chars_per_token
FROM t
"""


@register("x4a_token_count", oracle=_X4A_ORACLE, tags=("X4",))
def x4a_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counts + type/token stats per document."""
    docs = Catalog(spark, sf_dir).documents
    toks = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_tokens"),
        "n_chars",
        F.round(F.col("n_chars").cast("double") / F.size(toks), 4).alias(
            "chars_per_token"
        ),
    )


# X4a2 — BPE-ish regex tokenization ------------------------------------------------

# Letter runs, digit runs, or single non-alphanumeric marks — the
# pre-tokenization split most BPE vocabularies assume. Kept to a subset
# with identical semantics in Java regex (Spark) and RE2 (DuckDB).
_BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"

_X4A2_ORACLE = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{_BPE_PATTERN}') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT)                AS n_bpe_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique_bpe_tokens
FROM t
"""


@register("x4a2_bpe_token_count", oracle=_X4A2_ORACLE, tags=("X4",))
def x4a2_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenization counts (letter runs / digit runs /
    punctuation marks) — the token budget estimator for training-data
    accounting, entirely in JVM regexp_extract_all."""
    docs = Catalog(spark, sf_dir).documents
    toks = F.expr(f"regexp_extract_all(lower(text), '{_BPE_PATTERN}', 0)")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_bpe_tokens"),
    )


# X4b — corpus term frequencies ---------------------------------------------------

_X4B_ORACLE = """
SELECT tok AS term, count(*) AS tf, count(DISTINCT doc_id) AS df
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
GROUP BY tok
ORDER BY tf DESC, term
LIMIT 25
"""


@register("x4b_term_frequency", oracle=_X4B_ORACLE, tags=("X4",))
def x4b_term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF/DF table (the explode -> groupBy inverted-index build).
    DF is computed as a two-stage aggregate — (term, doc_id) partial
    counts, then per-term sum/count — instead of ``countDistinct``, which
    plans a distinct-expand carrying every (term, doc_id) pair through a
    wider shuffle. Both stages keep map-side partial aggregation, so
    network volume ~ vocabulary x docs-per-term, and the scan is spread
    before the explode (single-split fixture)."""
    docs = ensure_min_partitions(Catalog(spark, sf_dir).documents)
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    per_doc = toks.groupBy("term", "doc_id").agg(F.count("*").alias("c"))
    return (
        per_doc.groupBy("term")
        .agg(
            F.sum("c").alias("tf"),
            F.count("*").alias("df"),
        )
        .orderBy(F.col("tf").desc(), "term")
        .limit(25)
    )


# X4i — intra-document repetition profile -------------------------------------------

# Run-length scan over the sorted token array: the count of the most
# frequent element equals the longest run of equal adjacent elements
# after sorting — O(n log n) per document and NO per-distinct-element
# rescans (a transform(distinct, w -> count(filter(...))) shape is
# O(distinct x n) per doc, quadratic on degenerate spam docs, which are
# exactly the docs this filter exists to catch).
def _mode_count_expr(arr: str) -> str:
    return (
        f"aggregate(array_sort({arr}), "
        "named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0), "
        "(acc, x) -> named_struct("
        "'prev', x, "
        "'run', IF(acc.prev <=> x, acc.run + 1, 1), "
        "'best', GREATEST(acc.best, IF(acc.prev <=> x, acc.run + 1, 1))), "
        "acc -> acc.best)"
    )


_X4I_ORACLE = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
), m AS (
  SELECT doc_id,
         len(w) AS n,
         len(list_distinct(w)) AS d,
         CASE WHEN len(w) = 0 THEN 0
              ELSE list_max(list_transform(list_distinct(w),
                     u -> len(list_filter(w, x -> x = u)))) END AS mode_w,
         CASE WHEN len(w) < 2 THEN []
              ELSE list_transform(range(1, len(w)),
                     i -> w[i] || ' ' || w[i + 1]) END AS bg
  FROM t
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_words,
       CAST(d AS BIGINT) AS n_distinct_words,
       round(CASE WHEN n = 0 THEN 0.0
             ELSE 1.0 - CAST(d AS DOUBLE) / n END, 4)            AS word_rep_frac,
       round(CASE WHEN n = 0 THEN 0.0
             ELSE CAST(mode_w AS DOUBLE) / n END, 4)             AS top_word_frac,
       round(CASE WHEN len(bg) = 0 THEN 0.0
             ELSE CAST(list_max(list_transform(list_distinct(bg),
                    u -> len(list_filter(bg, x -> x = u)))) AS DOUBLE)
                  / len(bg) END, 4)                              AS top_bigram_frac
FROM m
"""


@register("x4i_repetition_profile", oracle=_X4I_ORACLE, tags=("X4",))
def x4i_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition profile — the Gopher-rule quality
    signals (Rae et al. 2021, public: fraction of duplicate words, mass
    of the most frequent word / bigram) that catch boilerplate and
    degenerate spam before pre-training.

    Scale shape: every column is a per-row JVM higher-order-function
    expression (filter/transform/aggregate over the token array) — map
    only, whole-stage codegen, zero shuffle, no Python. Mode counts come
    from a run-length scan over the SORTED array (O(n log n) per doc,
    bounded by doc length), not a per-distinct-element rescan, so a
    degenerate 10M-token spam doc costs a sort, not a quadratic loop.
    The DuckDB oracle uses the O(d x n) rescan form — fine at oracle
    scale, and its independence from the engine's algorithm is the
    point of an oracle."""
    docs = Catalog(spark, sf_dir).documents
    df = (
        docs.select(
            "doc_id",
            F.expr("filter(split(text, ' '), x -> x != '')").alias("_w"),
        )
        .withColumn("_n", F.size("_w"))
        .withColumn("_d", F.size(F.array_distinct("_w")))
        .withColumn(
            "_bg",
            F.expr(
                "IF(_n < 2, array(), transform(sequence(1, _n - 1), "
                "i -> concat(element_at(_w, i), ' ', element_at(_w, i + 1))))"
            ),
        )
    )
    n = F.col("_n").cast("double")
    n_bg = F.size("_bg").cast("double")
    return df.select(
        "doc_id",
        F.col("_n").cast("long").alias("n_words"),
        F.col("_d").cast("long").alias("n_distinct_words"),
        F.round(
            F.when(F.col("_n") == 0, F.lit(0.0)).otherwise(
                1.0 - F.col("_d").cast("double") / n
            ),
            4,
        ).alias("word_rep_frac"),
        F.round(
            F.when(F.col("_n") == 0, F.lit(0.0)).otherwise(
                F.expr(_mode_count_expr("_w")).cast("double") / n
            ),
            4,
        ).alias("top_word_frac"),
        F.round(
            F.when(F.size("_bg") == 0, F.lit(0.0)).otherwise(
                F.expr(_mode_count_expr("_bg")).cast("double") / n_bg
            ),
            4,
        ).alias("top_bigram_frac"),
    )


# X4c — quality scoring --------------------------------------------------------------

_STOPWORDS = ("the", "a")

_X4C_ORACLE = """
WITH t AS (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id, lang,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4)           AS distinct_ratio,
       round(CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS DOUBLE)
             / len(toks), 4)                                                    AS stopword_ratio,
       round(CAST(n_chars AS DOUBLE) / len(toks), 4)                            AS avg_token_len,
       (len(toks) >= 20 AND len(list_distinct(toks)) > 5)                       AS passes_quality
FROM t
"""


@register("x4c_quality_score", oracle=_X4C_ORACLE, tags=("X4",))
def x4c_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality gates (length, lexical diversity,
    stopword density) — the pre-training filter stage."""
    docs = Catalog(spark, sf_dir).documents
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    is_stop = lambda x: (x == _STOPWORDS[0]) | (x == _STOPWORDS[1])  # noqa: E731
    return docs.select(
        "doc_id",
        "lang",
        n_tok.cast("long").alias("n_tokens"),
        F.round(
            F.size(F.array_distinct(toks)).cast("double") / n_tok, 4
        ).alias("distinct_ratio"),
        F.round(
            F.size(F.filter(toks, is_stop)).cast("double") / n_tok, 4
        ).alias("stopword_ratio"),
        F.round(F.col("n_chars").cast("double") / n_tok, 4).alias("avg_token_len"),
        ((n_tok >= 20) & (F.size(F.array_distinct(toks)) > 5)).alias(
            "passes_quality"
        ),
    )


# X4d — content fingerprinting ----------------------------------------------------------

_X4D_ORACLE = """
SELECT doc_id,
       md5(lower(text))                       AS content_md5,
       md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS bag_of_words_md5
FROM documents
"""


@register("x4d_fingerprint", oracle=_X4D_ORACLE, tags=("X4",))
def x4d_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level fingerprints: raw content hash (byte-exact dedup) and
    order-insensitive bag-of-words hash (reorder-invariant dedup)."""
    docs = Catalog(spark, sf_dir).documents
    low = F.lower("text")
    bow = F.array_join(F.sort_array(F.array_distinct(F.split(low, " "))), " ")
    return docs.select(
        "doc_id",
        F.md5(low).alias("content_md5"),
        F.md5(bow).alias("bag_of_words_md5"),
    )


# X4d2 — winnowing (rolling-window fingerprint selection) --------------------------

_X4D2_ORACLE = """
WITH sh AS (
  SELECT doc_id, i AS pos,
         substring(md5(array_to_string(string_split(text, ' ')[i:i+3], ' ')), 1, 16) AS fp
  FROM documents,
       LATERAL (SELECT unnest(range(1, greatest(len(string_split(text, ' ')) - 3, 0) + 1)) AS i)
),
wmin AS (
  SELECT doc_id,
         min(fp) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS sel
  FROM sh
)
SELECT doc_id,
       CAST(count(DISTINCT sel) AS BIGINT) AS n_fingerprints,
       min(sel)                            AS min_fp
FROM wmin
GROUP BY doc_id
"""


def winnow_fingerprints(
    docs: DataFrame, k: int = 4, window: int = 5
) -> DataFrame:
    """Selected winnowing fingerprints, one row per (doc_id, window
    position): hash every word ``k``-gram, slide a ``window``-shingle
    frame, keep each frame's minimum (Schleimer et al.'s guarantee:
    any shared token run of length >= window + k - 1 produces at least
    one shared selected fingerprint — property-tested in
    tests/test_dedup.py). Expressed relationally (posexplode +
    frame-window min, all codegen) rather than per-row loops; hashes
    are md5-prefix STRINGS so lexicographic min is identical across
    engines. Sub-``k``-token docs produce no rows."""
    from pyspark.sql import Window as W

    from .dedup import token_shingles

    toks = F.split("text", " ")
    # token_shingles guards sub-k-token docs (empty array, not a
    # sequence(1,0) slice error); pos only orders the rolling window, so
    # its 0-based origin vs the oracle's 1-based series is immaterial.
    sh = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                token_shingles(toks, k),
                lambda s: F.substring(F.md5(s), 1, 16),
            )
        ).alias("pos", "fp"),
    )
    w = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, window - 1)
    return sh.select("doc_id", F.min("fp").over(w).alias("sel"))


@register("x4d2_winnowing", oracle=_X4D2_ORACLE, tags=("X4",))
def x4d2_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (the rolling-hash dedup scheme) reduced to
    per-doc invariants; the selection itself lives in
    :func:`winnow_fingerprints`."""
    docs = Catalog(spark, sf_dir).documents
    wmin = winnow_fingerprints(docs)
    return wmin.groupBy("doc_id").agg(
        F.countDistinct("sel").cast("long").alias("n_fingerprints"),
        F.min("sel").alias("min_fp"),
    )


# X4f — composed corpus-curation verdict (dedup + quality gates in one pass) ------

_X4F_ORACLE = """
WITH t AS (
  SELECT doc_id, lang,
         string_split(text, ' ') AS toks,
         min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
  FROM documents
),
v AS (
  SELECT doc_id, lang, canonical_id,
         (doc_id = canonical_id)                                   AS is_canonical,
         (len(toks) >= 20 AND len(list_distinct(toks)) > 5)        AS passes_quality
  FROM t
)
SELECT doc_id, lang,
       CAST(canonical_id AS BIGINT) AS canonical_id,
       (is_canonical AND passes_quality) AS keep,
       CASE WHEN NOT is_canonical THEN 'duplicate'
            WHEN NOT passes_quality THEN 'low_quality'
            ELSE 'kept' END AS verdict
FROM v
"""


@register("x4f_corpus_curation", oracle=_X4F_ORACLE, tags=("X4",))
def x4f_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation verdict per document: exact-dedup canonical
    selection (window-min over the content fingerprint) composed with the
    quality gates of x4c, emitting keep/drop + reason — the final filter a
    training-data pipeline writes back to the lake. One window shuffle on
    the (uniform) fingerprint; every expression is codegen'd."""
    from pyspark.sql import Window as W

    docs = Catalog(spark, sf_dir).documents
    toks = F.split("text", " ")
    canonical_id = F.min("doc_id").over(W.partitionBy(F.md5("text")))
    staged = docs.select(
        "doc_id",
        "lang",
        canonical_id.cast("long").alias("canonical_id"),
        ((F.size(toks) >= 20) & (F.size(F.array_distinct(toks)) > 5)).alias(
            "passes_quality"
        ),
    )
    is_canon = F.col("doc_id") == F.col("canonical_id")
    return staged.select(
        "doc_id",
        "lang",
        "canonical_id",
        (is_canon & F.col("passes_quality")).alias("keep"),
        F.when(~is_canon, "duplicate")
        .when(~F.col("passes_quality"), "low_quality")
        .otherwise("kept")
        .alias("verdict"),
    )


# X4e — language-ID heuristic ----------------------------------------------------------

# Marker-ngram profiles. The fixture text is synthetic word soup, so this
# demonstrates the *mechanism* (profile scoring entirely in JVM exprs);
# accuracy on real text comes from real profiles.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "es": ("el", "la", "de"),
    "fr": ("le", "la", "et"),
    "de": ("der", "die", "und"),
    "zh": ("的", "了", "是"),
}


def lang_score(toks: Column, markers: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda x: x.isin(*markers)))


def _lang_id_oracle() -> str:
    """DuckDB twin generated from the same marker table (list_filter +
    greatest + first-wins CASE), so profile edits cannot drift."""
    langs = list(_LANG_MARKERS)
    score_cols = ",\n       ".join(
        "CAST(len(list_filter(toks, x -> x IN ({}))) AS DOUBLE) AS score_{}".format(
            ", ".join(f"'{m}'" for m in _LANG_MARKERS[lang]), lang
        )
        for lang in langs
    )
    best = "greatest({})".format(", ".join(f"score_{l}" for l in langs))
    whens = "\n            ".join(
        f"WHEN score_{lang} = {best} THEN '{lang}'" for lang in langs
    )
    return f"""
WITH t AS (
  SELECT doc_id, lang, string_split(lower(text), ' ') AS toks FROM documents
),
s AS (
  SELECT doc_id, lang,
       {score_cols}
  FROM t
)
SELECT doc_id,
       lang AS labeled_lang,
       CASE WHEN {best} = 0 THEN 'und'
            {whens}
       END AS guessed_lang,
       CAST({best} AS BIGINT) AS marker_hits
FROM s
"""


@register("x4e_lang_id", oracle=_lang_id_oracle(), tags=("X4",))
def x4e_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID: score each profile, argmax wins, 'und'
    when nothing matches. Pure JVM expressions (isin + filter + greatest),
    with a generated DuckDB twin for the full-oracle check."""
    docs = Catalog(spark, sf_dir).documents
    toks = F.split(F.lower("text"), " ")
    scores = [
        lang_score(toks, markers).cast("double").alias(f"score_{lang}")
        for lang, markers in _LANG_MARKERS.items()
    ]
    scored = docs.select("doc_id", "lang", *scores)
    langs = list(_LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    guess = F.lit("und")
    # argmax with deterministic first-wins ordering
    for lang in reversed(langs):
        guess = F.when(
            (F.col(f"score_{lang}") == best) & (best > 0), lang
        ).otherwise(guess)
    return scored.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        guess.alias("guessed_lang"),
        best.cast("long").alias("marker_hits"),
    ).orderBy("doc_id")


# X4g — corpus column profiling (data-quality stats, one pass) -----------------

_X4G_ORACLE = """
SELECT 'doc_id' AS col_name,
       count(*) - count(doc_id)              AS n_nulls,
       count(DISTINCT doc_id)                AS n_distinct,
       CAST(min(doc_id) AS DOUBLE)           AS min_num,
       CAST(max(doc_id) AS DOUBLE)           AS max_num
FROM documents
UNION ALL
SELECT 'n_chars', count(*) - count(n_chars), count(DISTINCT n_chars),
       CAST(min(n_chars) AS DOUBLE), CAST(max(n_chars) AS DOUBLE)
FROM documents
UNION ALL
SELECT 'text', count(*) - count(text), count(DISTINCT text),
       CAST(min(length(text)) AS DOUBLE), CAST(max(length(text)) AS DOUBLE)
FROM documents
UNION ALL
SELECT 'lang', count(*) - count(lang), count(DISTINCT lang),
       CAST(min(length(lang)) AS DOUBLE), CAST(max(length(lang)) AS DOUBLE)
FROM documents
UNION ALL
SELECT 'source', count(*) - count(source), count(DISTINCT source),
       CAST(min(length(source)) AS DOUBLE), CAST(max(length(source)) AS DOUBLE)
FROM documents
"""


@register("x4g_column_profile", oracle=_X4G_ORACLE, tags=("X4", "A2"))
def x4g_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile (null count, exact distinct,
    numeric/length min-max) in ONE aggregate over one scan, then
    unpivoted to long form with ``stack`` — the ingest-gate profiling
    step a training pipeline runs before admitting a batch. The multiple
    exact count-distincts compile to Spark's Expand (5x row multiply
    before partial aggregation, still one scan + one shuffle); at 100 TB
    swap ``countDistinct`` for ``approx_count_distinct`` per column and
    the Expand disappears — same query shape, sketch-mergeable. String
    columns profile length (collation-free); numeric columns profile the
    value itself."""
    docs = Catalog(spark, sf_dir).documents
    n = F.count(F.lit(1))

    def _stats(col: str, measure: Column) -> list[Column]:
        return [
            (n - F.count(col)).alias(f"{col}_nulls"),
            F.countDistinct(col).alias(f"{col}_distinct"),
            F.min(measure).cast("double").alias(f"{col}_min"),
            F.max(measure).cast("double").alias(f"{col}_max"),
        ]

    wide = docs.agg(
        *_stats("doc_id", F.col("doc_id")),
        *_stats("n_chars", F.col("n_chars")),
        *_stats("text", F.length("text")),
        *_stats("lang", F.length("lang")),
        *_stats("source", F.length("source")),
    )
    stack_args = ", ".join(
        f"'{c}', {c}_nulls, {c}_distinct, {c}_min, {c}_max"
        for c in ("doc_id", "n_chars", "text", "lang", "source")
    )
    return wide.select(
        F.expr(
            f"stack(5, {stack_args}) AS (col_name, n_nulls, n_distinct, min_num, max_num)"
        )
    )


# X4h — PII redaction ----------------------------------------------------------

_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

_X4H_ORACLE = f"""
WITH dirty AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) ||
         '@example.com or 555-' ||
         lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
  FROM documents
), red AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                        '{_PII_PHONE}', '<PHONE>', 'g') AS redacted
  FROM dirty
)
SELECT doc_id,
       md5(redacted)                                   AS redacted_md5,
       length(redacted) - length(replace(redacted, '<EMAIL>', ''))
           >= 7                                        AS had_email,
       length(redacted) - length(replace(redacted, '<PHONE>', ''))
           >= 7                                        AS had_phone
FROM red
"""


@register("x4h_pii_redaction", oracle=_X4H_ORACLE, tags=("X4", "P6"))
def x4h_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for a training corpus: regexp-replace email and
    phone patterns with typed placeholder tokens (the curation step every
    published LLM data pipeline runs before tokenization). Map-only JVM
    regex — zero shuffle, scales linearly with corpus bytes. The fixture
    corpus contains no organic PII, so the query deterministically
    injects a synthetic email+phone per document first (same expression
    in the oracle) — the check then proves every injected instance is
    caught. Patterns stay in the RE2-compatible subset so the DuckDB
    oracle runs the *same* regexes rather than a translation."""
    docs = Catalog(spark, sf_dir).documents
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(dirty, _PII_EMAIL, "<EMAIL>"), _PII_PHONE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.md5(redacted).alias("redacted_md5"),
        (
            F.length(redacted) - F.length(F.replace(redacted, F.lit("<EMAIL>"), F.lit("")))
            >= 7
        ).alias("had_email"),
        (
            F.length(redacted) - F.length(F.replace(redacted, F.lit("<PHONE>"), F.lit("")))
            >= 7
        ).alias("had_phone"),
    )


# X4j — unigram log-probability quality score (corpus-statistic LM) -----------
#
# The classic corpus-LM quality filter from public LLM data pipelines:
# score each document by the mean log-probability of its tokens under
# the corpus's own unigram distribution. Boilerplate and word-soup score
# near the corpus mean; documents dominated by rare tokens (OCR noise,
# junk encodings) fall far below it. Fully relational — the "model" IS a
# token-frequency table — so the oracle is the same algebra in DuckDB.

_X4J_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
vocab AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
tot AS (SELECT count(*) AS t FROM toks)
SELECT doc_id,
       count(*)                                   AS n_tokens,
       round(avg(ln(CAST(n AS DOUBLE) / t)), 4)   AS avg_logprob
FROM toks JOIN vocab USING (tok) CROSS JOIN tot
GROUP BY doc_id
"""


@register("x4j_unigram_logprob", oracle=_X4J_ORACLE, tags=("X4",))
def x4j_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring by mean unigram log-probability under the corpus's
    own token distribution — the self-supervised LM filter public
    training pipelines run before heavier models. Dataflow: explode
    tokens (one scan), hash-aggregate the vocabulary (map-side combine;
    the shuffle carries (token, count), never documents), join tokens
    back to their frequencies on the token key (inverted-index shape —
    an equi-join a 100 TB corpus shuffles once on the token, exactly like
    x6d's gram join but with the corpus-wide table on both sides), then
    one per-doc mean. The scalar corpus total rides along as a 1-row
    broadcast cross join. No Python anywhere; log/avg are codegen'd."""
    docs = Catalog(spark, sf_dir).documents
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    # corpus token total WITHOUT a third explode pass: sum of per-doc
    # token-array sizes is the same number, map-only + scalar agg.
    total = docs.agg(F.sum(F.size(F.split("text", " "))).alias("t"))
    return (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("n").cast("double") / F.col("t"))), 4
            ).alias("avg_logprob"),
        )
    )


# X4k — TF-IDF scoring (smooth idf) -------------------------------------------
#
# The companion to x4b's raw TF/DF table: weight each (doc, term) pair
# by tf * (ln((N + 1) / (df + 1)) + 1) — the smoothed idf used by public
# sklearn-style vectorizers, which never divides by zero and keeps
# corpus-wide terms at weight ~tf. The output is the top-50 weighted
# pairs, the "most characteristic term occurrences" view a curation
# pipeline uses to spot template/boilerplate clusters.

# The smooth-idf scored table (toks -> tf -> df -> n -> 4dp tfidf) as
# DuckDB CTEs — ONE site for the tokenization and formula, shared by
# x4k's corpus top-50 and x4y's per-doc keyword window so the two
# views can never disagree on the law.
_X4K_SCORED_CTES = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf,
         round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 4) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
)"""

_X4K_ORACLE = f"""{_X4K_SCORED_CTES}
SELECT doc_id, term, tf, tfidf
FROM scored
ORDER BY tfidf DESC, doc_id, term
LIMIT 50
"""


def tfidf_scored(docs: DataFrame) -> DataFrame:
    """THE smooth-idf TF-IDF scored table — the Spark twin of
    _X4K_SCORED_CTES, shared by x4k (corpus top-50) and x4y (per-doc
    keywords): one explode scan, map-combined tf, df over the collapsed
    tf table, the 1-row doc count broadcast, 4dp-rounded scores."""
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    tfidf = F.round(
        F.col("tf")
        * (
            F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
            + F.lit(1.0)
        ),
        4,
    )
    return (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", "tf", tfidf.alias("tfidf"))
    )


@register("x4k_tfidf", oracle=_X4K_ORACLE, tags=("X4",))
def x4k_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with smooth idf (ln((N+1)/(df+1)) + 1), top-50 pairs.

    Dataflow mirrors x4j's inverted-index shape: one explode scan ->
    (doc, term) hash-aggregate (map-side combine) -> term-keyed df
    aggregate over the ALREADY-collapsed tf table (the shuffle carries
    one row per distinct (doc, term), never raw token occurrences) ->
    equi-join tf back to df on the term key -> global top-50 via
    TakeOrderedAndProject (no full sort materializes). The doc count N
    rides along as a 1-row broadcast (computed from a column-pruned
    count scan — no explode).

    The tf subtree IS planned twice (once as the join's probe side, once
    feeding df) — measured, and kept deliberately: AQE's exchange reuse
    does not fire on this fork (verified on the executed plan), and
    every single-pass alternative funnels a stopword's rows through one
    task — df-as-window over term partitions buffers n_docs rows for a
    corpus-wide term, per-term collect_list materializes the same as one
    row, and a forced repartition("term") reuse point gets collapsed
    into the df aggregate's own exchange. Recomputing the explode +
    map-combined aggregate is embarrassingly parallel with uniform keys
    (doc_id spreads stopwords), which is the property that actually
    survives 100 TB; a production pipeline that runs TF-IDF repeatedly
    writes the tf table once (the j11 amortized-ingest pattern) instead.
    The final top-k is per-partition heaps + a driver-side merge of
    50-row heads, never a global sort."""
    docs = Catalog(spark, sf_dir).documents
    return (
        tfidf_scored(docs)
        .orderBy(F.col("tfidf").desc(), "doc_id", "term")
        .limit(50)
    )


# X4l — corpus n-gram statistics (top trigrams) -------------------------------
#
# Corpus-wide n-gram frequency tables are the raw material for
# boilerplate mining, decontamination gram choice, and tokenizer
# training sanity checks. Trigrams are built INSIDE the token array with
# a higher-order transform (no self-join of an exploded token table,
# which would shuffle the corpus twice), then exploded once and
# hash-aggregated.

_X4L_ORACLE = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
),
g AS (
  SELECT doc_id,
         unnest(CASE WHEN len(w) < 3 THEN []
                ELSE list_transform(range(1, len(w) - 1),
                       i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]) END)
           AS trigram
  FROM t
)
SELECT trigram,
       count(*)                 AS n_occurrences,
       count(DISTINCT doc_id)   AS n_docs
FROM g
GROUP BY trigram
ORDER BY n_occurrences DESC, trigram
LIMIT 25
"""


@register("x4l_trigram_stats", oracle=_X4L_ORACLE, tags=("X4",))
def x4l_trigram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 corpus trigrams with occurrence and document counts.

    The trigram list is built per-document with transform over the token
    array (pure codegen, no shuffle), exploded once, then aggregated in
    two stages like x4b: (trigram, doc_id) partial counts first, so the
    distinct-doc count never plans a distinct-expand and the wide
    shuffle carries one row per (trigram, doc) — bounded by document
    length, not corpus size. Final top-25 is TakeOrderedAndProject."""
    docs = ensure_min_partitions(Catalog(spark, sf_dir).documents)
    w = F.filter(F.split("text", " "), lambda x: x != "")
    trigrams = F.when(F.size(w) < 3, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.slice(w, 1, F.greatest(F.size(w) - 2, F.lit(0))),
            lambda x, i: F.concat_ws(
                " ", x, F.element_at(w, i + 2), F.element_at(w, i + 3)
            ),
        )
    )
    g = docs.select("doc_id", F.explode(trigrams).alias("trigram"))
    per_doc = g.groupBy("trigram", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_doc.groupBy("trigram")
        .agg(
            F.sum("c").alias("n_occurrences"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), "trigram")
        .limit(25)
    )


# X4n — quality-decile stratification -----------------------------------------
#
# The threshold-selection report behind every "keep the top X% by
# quality" curation decision: rank documents by lexical diversity,
# split into deciles, and report each decile's doc/token mass and score
# range — read it to see how much data a given quality cut keeps and
# what it throws away. Composes x4c's score; ntile over a pinned
# (score, doc_id) order is deterministic in both engines.

_X4N_ORACLE = f"""
WITH q AS ({_X4C_ORACLE}),
d AS (
  SELECT doc_id, n_tokens, distinct_ratio,
         ntile(10) OVER (ORDER BY distinct_ratio DESC, doc_id) AS decile
  FROM q
)
SELECT CAST(decile AS INT)                       AS decile,
       count(*)                                  AS n_docs,
       CAST(sum(n_tokens) AS BIGINT)             AS total_tokens,
       round(min(distinct_ratio), 4)             AS min_score,
       round(max(distinct_ratio), 4)             AS max_score
FROM d
GROUP BY decile
ORDER BY decile
"""


@register("x4n_quality_deciles", oracle=_X4N_ORACLE, tags=("X4",))
def x4n_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-decile stratification composed over x4c's score: ntile(10)
    on (distinct_ratio DESC, doc_id), then per-decile doc count, token
    mass, and score range — decile 1 is the best tenth, so "keep the top
    30% by quality" reads straight off the cumulative rows.

    The unpartitioned ntile is the honest local form (exact N/10 split
    with doc_id tie-breaking needs the global total order); the
    registered 100 TB twin is x4n2_quality_deciles_scalable (broadcast
    quantile cutpoints, value-based deciles, no Window node,
    plan-gated). The aggregate after the ntile carries ten rows."""
    q = x4c_quality_score(spark, sf_dir).select(
        "doc_id", "n_tokens", "distinct_ratio"
    )
    from pyspark.sql import Window as W

    decile = F.ntile(10).over(
        W.orderBy(F.col("distinct_ratio").desc(), "doc_id")
    )
    return (
        q.select("doc_id", "n_tokens", "distinct_ratio", decile.alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(F.min("distinct_ratio"), 4).alias("min_score"),
            F.round(F.max("distinct_ratio"), 4).alias("max_score"),
        )
        .orderBy("decile")
    )


# X4n2 — scale-safe quality deciles (no Window node) --------------------------
#
# x4n's 100 TB form, as its docstring promises: decile boundaries from
# broadcast quantile cutpoints (functions.bucketing) instead of a
# single-partition ntile(10). Value-based law: deciles come from the
# score DISTRIBUTION (ties share a decile; counts near-N/10, not
# exactly N/10) — the honest distributed semantics for a
# threshold-selection report. Decile 1 is still the best tenth:
# ascending cutpoints at p=0.1..0.9, then decile = 11 - ascending
# bucket.

_X4N2_PROBS = tuple(k / 10 for k in range(1, 10))


def _x4n2_oracle() -> str:
    from ..functions.bucketing import bucket_sql, cuts_sql

    return f"""
WITH q AS ({_X4C_ORACLE}),
cuts AS (SELECT {cuts_sql('distinct_ratio', _X4N2_PROBS)} AS cuts FROM q),
d AS (
  SELECT n_tokens, distinct_ratio,
         11 - {bucket_sql('distinct_ratio')} AS decile
  FROM q, cuts
)
SELECT CAST(decile AS INT)                       AS decile,
       count(*)                                  AS n_docs,
       CAST(sum(n_tokens) AS BIGINT)             AS total_tokens,
       round(min(distinct_ratio), 4)             AS min_score,
       round(max(distinct_ratio), 4)             AS max_score
FROM d
GROUP BY decile
ORDER BY decile
"""


@register("x4n2_quality_deciles_scalable", oracle=_x4n2_oracle(), tags=("X4",))
def x4n2_quality_deciles_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-decile stratification with NO global window: nine
    quantile cutpoints of x4c's distinct_ratio in one aggregate,
    broadcast back, map-side decile assignment, ten-row report. The
    score subtree is planned twice (cutpoints + assignment) — at scale a
    pipeline persists the score column between the passes; what this
    entry pins is the shuffle-free SHAPE (plan-gated: no Window node)."""
    from ..functions.bucketing import with_range_bucket

    q = x4c_quality_score(spark, sf_dir).select(
        "n_tokens", "distinct_ratio"
    )
    d = with_range_bucket(q, "distinct_ratio", _X4N2_PROBS, out="asc_bucket")
    return (
        d.withColumn("decile", (F.lit(11) - F.col("asc_bucket")).cast("int"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(F.min("distinct_ratio"), 4).alias("min_score"),
            F.round(F.max("distinct_ratio"), 4).alias("max_score"),
        )
        .orderBy("decile")
    )


# X4m — source vocabulary overlap ---------------------------------------------
#
# The corpus-diversity question behind mixture design (x6c/x6e): how
# much do two sources' vocabularies actually overlap? Near-identical
# vocabularies mean the sources are redundant; near-disjoint ones mean
# dropping a source loses coverage. Computed as pairwise Jaccard over
# each source's distinct-token set. Scale shape: the corpus collapses
# to distinct (token, source) rows FIRST (one uniform-key hash-agg —
# output is bounded by vocabulary x sources, millions of rows at 100 TB,
# not corpus-sized); per-token source lists are then bounded by the
# number of sources (~dozens), so the i<j in-list pair expansion (the
# x2j bucket idiom — no self-join, the subtree is computed once) emits
# at most sources^2/2 rows per token.

_X4M_ORACLE = """
WITH vocab AS (
  SELECT DISTINCT source, token FROM (
    SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
  )
),
sizes AS (SELECT source, count(*) AS n FROM vocab GROUP BY source),
tok AS (SELECT token, list_sort(list(source)) AS srcs FROM vocab GROUP BY token),
inter AS (
  SELECT p.srcs[1] AS src_a, p.srcs[2] AS src_b, count(*) AS n_shared
  FROM (
    SELECT unnest(flatten(list_transform(generate_series(1, len(srcs) - 1),
             i -> list_transform(generate_series(i + 1, len(srcs)),
                    j -> [srcs[i], srcs[j]])))) AS srcs
    FROM tok
  ) p
  GROUP BY p.srcs[1], p.srcs[2]
)
SELECT i.src_a, i.src_b,
       CAST(sa.n AS BIGINT)       AS n_vocab_a,
       CAST(sb.n AS BIGINT)       AS n_vocab_b,
       CAST(i.n_shared AS BIGINT) AS n_shared,
       round(i.n_shared / CAST(sa.n + sb.n - i.n_shared AS DOUBLE), 4) AS jaccard
FROM inter i
JOIN sizes sa ON i.src_a = sa.source
JOIN sizes sb ON i.src_b = sb.source
ORDER BY i.src_a, i.src_b
"""


@register("x4m_source_vocab_overlap", oracle=_X4M_ORACLE, tags=("X4",))
def x4m_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jaccard overlap between source vocabularies, computed in
    ONE pass over the corpus: distinct (source, token) pairs, a
    per-token sorted source list, then dedup.pair_overlap, whose one
    sources^2-sized aggregate carries both the intersections and each
    source's vocabulary size (a separate sizes aggregate joined back
    plans the expensive distinct THREE times; this form scans documents
    once). Pairs sharing zero tokens don't appear — both engines agree
    on that convention by construction."""
    from .dedup import pair_overlap

    docs = Catalog(spark, sf_dir).documents
    vocab = (
        ensure_min_partitions(docs)
        .select("source", F.explode(F.split("text", " ")).alias("token"))
        .distinct()
    )
    tok = vocab.groupBy("token").agg(
        F.sort_array(F.collect_list("source")).alias("srcs")
    )
    return (
        pair_overlap(tok, "srcs", "x4m")
        .select(
            F.col("a").alias("src_a"),
            F.col("b").alias("src_b"),
            F.col("n_a").alias("n_vocab_a"),
            F.col("n_b").alias("n_vocab_b"),
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double"),
                4,
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


# X4e2 — language-ID confusion matrix -----------------------------------------
#
# The evaluation every classifier in the pipeline owes its operators:
# how does the x4e marker heuristic's guess line up against the labeled
# lang? One row per (labeled, guessed) cell with count and the labeled
# language's recall share — the table that decides whether the
# heuristic is good enough to gate training data, and per-language
# where it fails. Composes the registered x4e verbatim (and the oracle
# composes its generated SQL), so the audit tracks the classifier.

_X4E2_ORACLE = f"""
WITH pred AS ({_lang_id_oracle()})
SELECT labeled_lang, guessed_lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(count(*) / CAST(sum(count(*)) OVER (PARTITION BY labeled_lang)
             AS DOUBLE), 4) AS labeled_share
FROM pred
GROUP BY labeled_lang, guessed_lang
ORDER BY labeled_lang, guessed_lang
"""


@register("x4e2_lang_confusion", oracle=_X4E2_ORACLE, tags=("X4",))
def x4e2_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix over x4e's predictions: per (labeled_lang,
    guessed_lang) document count and the share of the labeled language
    it represents (the diagonal cell's share IS per-language recall).
    One aggregate over x4e's map-only scoring pass, then a window over
    the languages^2-sized cell table — nothing here grows with the
    corpus except the one count shuffle."""
    from pyspark.sql import Window as W

    pred = x4e_lang_id(spark, sf_dir).select("labeled_lang", "guessed_lang")
    cells = pred.groupBy("labeled_lang", "guessed_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    share = F.col("n_docs") / F.sum("n_docs").over(
        W.partitionBy("labeled_lang")
    ).cast("double")
    return (
        cells.select(
            "labeled_lang",
            "guessed_lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.round(share, 4).alias("labeled_share"),
        )
        .orderBy("labeled_lang", "guessed_lang")
    )


# X4o — per-source token entropy (corpus diversity) ---------------------------
#
# The information-theoretic companion to x4m's vocabulary overlap: a
# source whose token distribution has low Shannon entropy is templated/
# repetitive text regardless of its vocabulary SIZE, and normalized
# entropy (H / log2(V)) separates "small vocabulary" from "skewed
# usage". Float determinism: a groupBy SUM of float terms would be
# partition-order dependent, so both engines instead collect the
# per-source (token, count) list, SORT it by token, and run the
# identical sequential fold over the sorted terms — the established
# Horner-law trick (w10), applied to entropy. Per-source state is
# vocabulary-bounded (the corpus collapses to (source, token) counts
# first — one uniform-key hash-agg, the only corpus-wide shuffle).

_X4O_ORACLE = """
WITH tc AS (
  SELECT source, token, count(*) AS cnt FROM (
    SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
  ) GROUP BY source, token
),
per AS (
  SELECT source,
         list_sort(list({'token': token, 'cnt': cnt})) AS l,
         sum(cnt) AS n
  FROM tc GROUP BY source
),
h AS (
  SELECT source, n, len(l) AS v,
         -list_reduce(list_transform(l,
             x -> (x.cnt / CAST(n AS DOUBLE)) * log2(x.cnt / CAST(n AS DOUBLE))),
           (a, b) -> a + b) AS ent
  FROM per
)
SELECT source,
       CAST(n AS BIGINT)     AS n_tokens,
       CAST(v AS BIGINT)     AS n_distinct,
       round(ent + 0.0, 4)   AS entropy_bits,
       CASE WHEN v > 1 THEN round(ent / log2(CAST(v AS DOUBLE)), 4) END
                             AS entropy_norm
FROM h
ORDER BY source
"""
# The `+ 0.0` absorbs IEEE negative zero: a single-token source folds to
# ent = -(+0.0) = -0.0, which DuckDB's round() preserves while Spark's
# BigDecimal round normalizes to +0.0 — repr-level oracle mismatch.


@register("x4o_token_entropy", oracle=_X4O_ORACLE, tags=("X4",))
def x4o_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (bits) of each source's token distribution plus
    the log2(V)-normalized form. The fold runs over the token-sorted
    count list so every float operation happens in the same sequence in
    both engines."""
    docs = Catalog(spark, sf_dir).documents
    tc = (
        docs.select("source", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per = tc.groupBy("source").agg(
        F.sort_array(F.collect_list(F.struct("token", "cnt"))).alias("l"),
        F.sum("cnt").alias("n"),
    )
    terms = F.transform(
        "l",
        lambda x: (x["cnt"] / F.col("n"))
        * F.log2(x["cnt"] / F.col("n")),
    )
    h = per.select(
        "source",
        F.col("n").cast("long").alias("n_tokens"),
        F.size("l").cast("long").alias("n_distinct"),
        (-F.aggregate(terms, F.lit(0.0), lambda a, b: a + b)).alias("ent"),
    )
    return h.select(
        "source",
        "n_tokens",
        "n_distinct",
        F.round("ent", 4).alias("entropy_bits"),
        F.when(
            F.col("n_distinct") > 1,
            F.round(F.col("ent") / F.log2(F.col("n_distinct").cast("double")), 4),
        ).alias("entropy_norm"),
    ).orderBy("source")


# X4p — per-source Zipf rank-frequency fit -------------------------------------
#
# The corpus-health diagnostic public pipelines run on every new source:
# natural language follows Zipf's law (token frequency ~ rank^-s with
# s ~ 1); machine-generated spam, template farms, and encoding junk bend
# the rank-frequency curve. Fit ln(freq) ~ ln(rank) per source by least
# squares over each source's top-256 tokens and report slope, intercept
# and R^2 — both engines use their built-in regr_* aggregates, which
# compute the same closed-form moments.
#
# Scale shape: token counts collapse to (source, token) via hash-agg
# (vocabulary-bounded), ranking is a window PARTITIONED BY source (never
# global), the fit sees <= 256 rows per source, and the output is
# sources-sized. Ties rank deterministically by (freq DESC, token).

_X4P_TOPK = 256

_X4P_ORACLE = f"""
WITH tf AS (
  SELECT source, tok, count(*) AS freq
  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY source, tok
),
ranked AS (
  SELECT source, freq,
         row_number() OVER (PARTITION BY source ORDER BY freq DESC, tok) AS rnk
  FROM tf
)
SELECT source,
       CAST(count(*) AS BIGINT)                              AS n_fit,
       round(regr_slope(ln(CAST(freq AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 4)
                                                             AS zipf_slope,
       round(regr_intercept(ln(CAST(freq AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 4)
                                                             AS zipf_intercept,
       round(regr_r2(ln(CAST(freq AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 4)
                                                             AS r2
FROM ranked
WHERE rnk <= {_X4P_TOPK}
GROUP BY source
ORDER BY source
"""


@register("x4p_zipf_fit", oracle=_X4P_ORACLE, tags=("X4",))
def x4p_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares Zipf fit per source: slope/intercept/R^2 of
    ln(freq) against ln(rank) over the top-256 tokens. A healthy
    natural-language source fits a steep near-linear curve; flat or
    kinked fits flag synthetic/template text."""
    docs = Catalog(spark, sf_dir).documents
    tf = (
        docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    rnk = F.row_number().over(
        W.partitionBy("source").orderBy(F.col("freq").desc(), "tok")
    )
    ranked = tf.select("source", "freq", rnk.alias("rnk")).filter(
        F.col("rnk") <= _X4P_TOPK
    )
    lf = F.log(F.col("freq").cast("double"))
    lr = F.log(F.col("rnk").cast("double"))
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fit"),
            F.round(F.regr_slope(lf, lr), 4).alias("zipf_slope"),
            F.round(F.regr_intercept(lf, lr), 4).alias("zipf_intercept"),
            F.round(F.regr_r2(lf, lr), 4).alias("r2"),
        )
        .orderBy("source")
    )


# X4q — Flesch reading-ease scoring --------------------------------------------
#
# The classic readability filter (Flesch 1948; the Kincaid variant is the
# same three counts): 206.835 - 1.015*(words/sentences) -
# 84.6*(syllables/words). Public LLM pipelines bucket documents on it to
# drop both word-soup (too "hard") and SEO keyword-stuffing (too "easy").
# Syllables use the standard deterministic approximation — maximal vowel
# groups [aeiouy]+ over the lowered text — and sentences count [.!?]+
# runs (floor 1), so every number is a regex count both engines compute
# identically. Map-only: zero shuffles, scales by construction.

_X4Q_ORACLE = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
         AS n_sentences,
       CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
         AS n_syllables,
       floor((206.835
             - 1.015 * (len(string_split(text, ' '))
                        / CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE))
             - 84.6 * (len(regexp_extract_all(lower(text), '[aeiouy]+'))
                       / CAST(len(string_split(text, ' ')) AS DOUBLE))) * 100) / 100
         AS flesch
FROM documents
ORDER BY doc_id
"""


@register("x4q_readability", oracle=_X4Q_ORACLE, tags=("X4",))
def x4q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per document from three regex counts (words,
    [.!?]+ sentence runs floored at 1, [aeiouy]+ vowel-group
    syllables). Every count is a JVM regexp_extract_all — no Python, no
    shuffle."""
    docs = Catalog(spark, sf_dir).documents
    n_words = F.size(F.split("text", " ")).cast("long")
    n_sent = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
    ).cast("long")
    n_syl = F.size(
        F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")
    ).cast("long")
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syl.alias("n_syllables"),
        # floor(x*100)/100, NOT round(,2): the unrounded doubles are
        # bit-identical across engines (same IEEE op sequence), but the
        # engines' round() disagree on exact .xx5 boundaries (hit at
        # sf0.1: 85.165 -> 85.16 vs 85.17); floor of the identical
        # double is deterministic in both.
        (
            F.floor(
                (
                    F.lit(206.835)
                    - 1.015 * (n_words / n_sent.cast("double"))
                    - 84.6 * (n_syl / n_words.cast("double"))
                )
                * 100
            )
            / 100
        ).alias("flesch"),
    ).orderBy("doc_id")


# X4s — bigram-LM log-probability scoring (the KenLM-filter shape) -------------
#
# x4j scores documents under the corpus UNIGRAM distribution; the
# public production filter (CCNet/KenLM style) scores under an n-gram
# LM. This is the bigram step of that ladder, fully relational so the
# oracle is the same algebra: p(w | prev) = (c(prev w) + 1) /
# (ctx(prev) + V) with Laplace smoothing, where c() is the corpus
# bigram count, ctx(prev) the count of prev AS A CONTEXT (first element
# of a bigram — NOT the raw unigram count, so probabilities per context
# sum to 1 exactly), and V the corpus unigram vocabulary. Per document:
# the mean log-probability over its bigram occurrences. Documents with
# fewer than 2 tokens have no bigrams and are absent — identically in
# both engines.
#
# Scale shape: bigram occurrences collapse to corpus counts via two
# hash-aggs (map-side combined; shuffles carry (bigram, count) and
# (context, count), both vocabulary-bounded), occurrences join back on
# the bigram key then the context key — x4j's inverted-index shape run
# twice — and V rides a 1-row broadcast. No Python anywhere.

_X4S_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)),
                i -> {'prev': t[i], 'cur': t[i + 1]})) AS b
  FROM toks
),
occ AS (SELECT doc_id, b.prev AS prev, b.cur AS cur FROM bg),
c2 AS (SELECT prev, cur, count(*) AS n2 FROM occ GROUP BY prev, cur),
c1 AS (SELECT prev, count(*) AS n1 FROM occ GROUP BY prev),
vocab AS (
  SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
  FROM (SELECT unnest(t) AS tok FROM toks)
)
SELECT o.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(ln((n2 + 1.0) / (n1 + v))), 4) AS avg_logprob
FROM occ o
JOIN c2 ON o.prev = c2.prev AND o.cur = c2.cur
JOIN c1 ON o.prev = c1.prev
CROSS JOIN vocab
GROUP BY o.doc_id
ORDER BY o.doc_id
"""


@register("x4s_bigram_logprob", oracle=_X4S_ORACLE, tags=("X4",))
def x4s_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean bigram log-probability per document under the corpus's own
    Laplace-smoothed bigram LM — x4j's quality filter upgraded one
    n-gram order, still pure DataFrame algebra."""
    docs = Catalog(spark, sf_dir).documents
    toks = F.split("text", " ")
    # the token_shingles guard class: sequence(1, 0) is DESCENDING in
    # Spark, so a 1-token document would index past the array — guard to
    # an empty bigram list (matching DuckDB range(1, 1) = empty). The
    # token array binds ONCE (column t) so the tokenization rule has a
    # single site shared with the vocab scan below.
    occ = (
        docs.select("doc_id", toks.alias("t"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(t) >= 2 THEN "
                    "transform(sequence(1, size(t) - 1), "
                    "i -> struct(element_at(t, i) AS prev, "
                    "element_at(t, i + 1) AS cur)) "
                    "ELSE array() END"
                )
            ).alias("b"),
        )
        .select("doc_id", F.col("b.prev").alias("prev"), F.col("b.cur").alias("cur"))
    )
    c2 = occ.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("n2"))
    c1 = occ.groupBy("prev").agg(F.count(F.lit(1)).alias("n1"))
    vocab = docs.select(F.explode(toks).alias("tok")).agg(
        F.count_distinct("tok").cast("double").alias("v")
    )
    return (
        occ.join(c2, ["prev", "cur"])
        .join(c1, "prev")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(
                F.avg(F.log((F.col("n2") + 1.0) / (F.col("n1") + F.col("v")))), 4
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


# X4w — Gopher rule battery (the full pass/fail filter, per rule) ---------------
#
# x4i computes the repetition SIGNALS; the public Gopher filter (Rae et
# al. 2021, Appendix A — same battery FineWeb/Dolma re-use) is a
# CONJUNCTION of per-rule verdicts, and what a curation run audits is
# which rule killed each document. This operator emits the per-rule
# boolean columns plus the final keep, with every threshold a
# module-level constant generating BOTH engines' predicates (one law
# site). Verdict arithmetic is engine-exact by construction: bound
# checks run on integer cross-multiplications (sum_len BETWEEN 3n AND
# 10n, never sum_len/n vs 3.0) or on the 4dp-rounded signal columns the
# registered x4i SQL already emits — no unrounded float ever crosses a
# comparison. Fixture adaptation, documented: the corpus is symbol-free
# single-line text, so Gopher's symbol/bullet/ellipsis line rules are
# vacuous here and the battery carries the five rules with signal:
# word-count bounds, mean-word-length bounds, >=2 distinct stopwords,
# top-word mass, duplicate-word mass.
#
# Scale shape: x4i's (map-only HOF expressions) plus one doc_id
# equi-join — no new shuffle class; output is corpus-sized and
# column-pruned.

_X4W_MIN_WORDS, _X4W_MAX_WORDS = 20, 90
_X4W_MIN_MWL, _X4W_MAX_MWL = 3, 10  # mean word length bounds (integer law)
_X4W_MIN_STOPS = 2
_X4W_TOP_WORD_MAX = 0.2  # on x4i's 4dp-rounded top_word_frac
_X4W_WORD_REP_MAX = 0.6  # on x4i's 4dp-rounded word_rep_frac


def _x4w_oracle() -> str:
    stop_pred = " OR ".join(f"x = '{s}'" for s in _STOPWORDS)
    return f"""
WITH rep AS ({_X4I_ORACLE}),
sig AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(w, x -> strlen(x))) AS BIGINT)
           AS sum_word_len,
         CAST(len(list_filter(list_distinct(w), x -> {stop_pred})) AS BIGINT)
           AS stop_hits
  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
        FROM documents)
)
SELECT s.doc_id AS doc_id,
       s.n_words AS n_words,
       floor(s.sum_word_len / CAST(s.n_words AS DOUBLE) * 1e4) / 1e4
         AS mean_word_len,
       s.stop_hits AS stop_hits,
       (s.n_words BETWEEN {_X4W_MIN_WORDS} AND {_X4W_MAX_WORDS})
         AS rule_word_count,
       (s.sum_word_len BETWEEN {_X4W_MIN_MWL} * s.n_words
                           AND {_X4W_MAX_MWL} * s.n_words)
         AS rule_mean_word_len,
       (s.stop_hits >= {_X4W_MIN_STOPS}) AS rule_stopwords,
       (r.top_word_frac <= {_X4W_TOP_WORD_MAX}) AS rule_top_word,
       (r.word_rep_frac <= {_X4W_WORD_REP_MAX}) AS rule_word_rep,
       ((s.n_words BETWEEN {_X4W_MIN_WORDS} AND {_X4W_MAX_WORDS})
        AND (s.sum_word_len BETWEEN {_X4W_MIN_MWL} * s.n_words
                                AND {_X4W_MAX_MWL} * s.n_words)
        AND (s.stop_hits >= {_X4W_MIN_STOPS})
        AND (r.top_word_frac <= {_X4W_TOP_WORD_MAX})
        AND (r.word_rep_frac <= {_X4W_WORD_REP_MAX})) AS keep
FROM sig s JOIN rep r ON r.doc_id = s.doc_id
ORDER BY doc_id
"""


@register("x4w_gopher_rules", oracle=_x4w_oracle(), tags=("X4", "X6"))
def x4w_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher filter battery: per-rule verdict columns + conjunction
    keep, composing x4i's registered repetition signals with fresh
    integer-exact length/stopword signals. The audit table a curation
    run reads to learn WHICH rule killed each document."""
    docs = Catalog(spark, sf_dir).documents
    w = F.expr("filter(split(text, ' '), x -> x != '')")

    def _is_stop(x):
        cond = F.lit(False)
        for s in _STOPWORDS:
            cond = cond | (x == s)
        return cond

    sig = docs.select(
        "doc_id",
        F.size(w).cast("long").alias("n_words"),
        F.aggregate(
            w, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        ).alias("sum_word_len"),
        F.size(F.filter(F.array_distinct(w), _is_stop))
        .cast("long")
        .alias("stop_hits"),
    )
    rep = x4i_repetition_profile(spark, sf_dir).select(
        "doc_id", "top_word_frac", "word_rep_frac"
    )
    nw, sl, sh = F.col("n_words"), F.col("sum_word_len"), F.col("stop_hits")
    r_wc = nw.between(_X4W_MIN_WORDS, _X4W_MAX_WORDS)
    r_mwl = (sl >= _X4W_MIN_MWL * nw) & (sl <= _X4W_MAX_MWL * nw)
    r_stop = sh >= _X4W_MIN_STOPS
    r_top = F.col("top_word_frac") <= _X4W_TOP_WORD_MAX
    r_rep = F.col("word_rep_frac") <= _X4W_WORD_REP_MAX
    return (
        sig.join(rep, "doc_id")
        .select(
            "doc_id",
            "n_words",
            (F.floor(sl / nw.cast("double") * 1e4) / 1e4).alias("mean_word_len"),
            "stop_hits",
            r_wc.alias("rule_word_count"),
            r_mwl.alias("rule_mean_word_len"),
            r_stop.alias("rule_stopwords"),
            r_top.alias("rule_top_word"),
            r_rep.alias("rule_word_rep"),
            (r_wc & r_mwl & r_stop & r_top & r_rep).alias("keep"),
        )
        .orderBy("doc_id")
    )


# X4u — BM25 ranked retrieval (top-k documents per query) ----------------------
#
# The retrieval face the TF-IDF table (x4k) stops short of: "which
# documents answer this query" — the primitive an LLM-data pipeline
# uses for contamination forensics (find the training docs that match
# an eval question) and RAG curation audits. Okapi BM25 with the
# Lucene non-negative idf:
#
#   score(q, d) = sum_{t in q} ln(1 + (N - df + 0.5)/(df + 0.5))
#                 * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
#
# Cross-engine exactness: every PER-TERM contribution is floored to
# integer micro-units (x 1e6) BEFORE the per-(query, doc) sum, so the
# aggregate is an order-independent BIGINT sum — no float summation
# drift — and the top-k tie law (equal scores break by doc_id) is
# exact, not approximately so. The scoring formula is ONE f-string
# (_X4U_W) evaluated by Spark via F.expr and interpolated verbatim
# into the DuckDB oracle, so the two engines cannot disagree on the
# algebra.
#
# Scale shape: one explode scan -> map-combined (doc, term) tf table;
# df aggregates over the already-collapsed tf rows; the query table
# (a handful of declared terms) BROADCASTS into the inverted-index
# equi-join on the term key, so the corpus shuffles once on term and
# only rows matching query terms survive into scoring; per-query top-k
# is a rank window over the scored slice (|q| x N_matching rows, never
# the corpus).

_X4U_K1 = "1.2"  # term-frequency saturation
_X4U_B = "0.75"  # length normalization strength
_X4U_TOPK = 10
_X4U_SCALE = 1_000_000  # micro-unit flooring of each term contribution

# declared query set over the fixture's 31-token vocabulary: rare+common
# ("dup" is the one low-df token), all-common, and mixed shapes
_X4U_QUERIES = (
    (0, "dup"), (0, "join"),
    (1, "hash"), (1, "merge"), (1, "sort"),
    (2, "vector"), (2, "stream"),
    (3, "dup"), (3, "window"), (3, "fast"),
)

# the single-site scoring expression, shared verbatim by both engines.
# NB the idf ratio's numerator is forced to DOUBLE: with bare decimal
# literals Spark would run (N - df + 0.5) / (df + 0.5) in
# precision-limited DECIMAL division while DuckDB promotes to double
# (the s25 lesson); the cast makes both engines do IEEE-double division
# so the floored micro-unit score is bit-identical.
_X4U_W = (
    f"CAST(floor(ln(1 + (CAST(n_docs AS DOUBLE) - df_t + 0.5)"
    f" / (df_t + CAST(0.5 AS DOUBLE)))"
    f" * (tf_t * CAST({_X4U_K1} + 1 AS DOUBLE))"
    f" / (tf_t + {_X4U_K1} * (1 - {_X4U_B} + {_X4U_B} * dl_t / avgdl))"
    f" * {_X4U_SCALE}) AS BIGINT)"
)

_X4U_VALUES = ", ".join(f"({q}, '{t}')" for q, t in _X4U_QUERIES)

# The CTE chain (query table -> tf -> df -> dl -> stats -> scored hits
# -> rank window) is shared with x4x's retrieval-eval oracle, which
# appends its relevance/metric CTEs after `ranked`.
_X4U_CTES = f"""
WITH q AS (
  SELECT CAST(query_id AS BIGINT) AS query_id, term
  FROM (VALUES {_X4U_VALUES}) v(query_id, term)
),
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf_t
  FROM toks GROUP BY doc_id, term
),
df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY term
),
dl AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl_t FROM documents
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*) AS avgdl
  FROM documents
),
hits AS (
  SELECT q.query_id, tf.doc_id, {_X4U_W} AS w_micro
  FROM tf
  JOIN q USING (term)
  JOIN df USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
),
scores AS (
  SELECT query_id, doc_id,
         CAST(sum(w_micro) AS BIGINT) AS score_micro,
         CAST(count(*) AS BIGINT) AS n_hit_terms
  FROM hits GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, score_micro, n_hit_terms,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score_micro DESC, doc_id
         ) AS rnk
  FROM scores
)"""

_X4U_ORACLE = f"""{_X4U_CTES}
SELECT query_id, rnk, doc_id, score_micro, n_hit_terms
FROM ranked
WHERE rnk <= {_X4U_TOPK}
ORDER BY query_id, rnk
"""


def bm25_topk(
    toks: DataFrame,
    dl: DataFrame,
    unit_cols: list[str],
    carry_cols: list[str],
    qdf: DataFrame,
    topk: int,
) -> DataFrame:
    """THE BM25 pipeline (tf -> df -> prune-df-before-broadcast ->
    broadcast-query inverted-index join -> integer micro-unit scores ->
    rank window), parameterized by the scoring UNIT — documents for
    x4u (unit = doc_id), chunks for x6x (unit = (doc_id, chunk_id)).
    One site, so the broadcast discipline and the flooring law cannot
    diverge between the retrieval paths. ``toks`` carries one row per
    (unit, term occurrence); ``dl`` one row per unit with its length
    ``dl_t`` plus any ``carry_cols`` to surface in the output; the
    corpus stats (unit count, mean length) derive from ``dl``."""
    tf = toks.groupBy(*unit_cols, "term").agg(
        F.count(F.lit(1)).alias("tf_t")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    stats = (
        dl.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl_t").alias("t"),
        )
        .select(
            "n_docs",
            (F.col("t").cast("double") / F.col("n_docs")).alias("avgdl"),
        )
    )
    # prune df to the query terms BEFORE broadcasting: the full df table
    # is vocabulary-sized (web-scale corpora: 1e8+ terms) and must never
    # ship to the driver; the pruned table is |query terms| rows and the
    # output is identical because hits already intersects on term
    df_q = df.join(F.broadcast(qdf.select("term").distinct()), "term")
    hits = (
        tf.join(F.broadcast(qdf), "term")
        .join(F.broadcast(df_q), "term")
        .join(dl, list(unit_cols))
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id", *unit_cols, *carry_cols,
            F.expr(_X4U_W).alias("w_micro"),
        )
    )
    scores = hits.groupBy("query_id", *unit_cols, *carry_cols).agg(
        F.sum("w_micro").alias("score_micro"),
        F.count(F.lit(1)).alias("n_hit_terms"),
    )
    win = W.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), *[F.col(c) for c in unit_cols]
    )
    return (
        scores.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= topk)
        .select(
            "query_id", "rnk", *unit_cols, *carry_cols,
            "score_micro", "n_hit_terms",
        )
        .orderBy("query_id", "rnk")
    )


@register("x4u_bm25_retrieval", oracle=_X4U_ORACLE, tags=("X4",))
def x4u_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents per declared query under Okapi BM25
    (k1=1.2, b=0.75, Lucene idf), scored in integer micro-units so the
    per-(query, doc) sum is order-independent and the doc_id tie break
    is exact. The query table broadcasts into the term-keyed
    inverted-index join (plan-gated); the pipeline itself is the shared
    bm25_topk site, instantiated at document granularity."""
    docs = Catalog(spark, sf_dir).documents
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    dl = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("dl_t")
    )
    qdf = spark.createDataFrame(
        list(_X4U_QUERIES), "query_id long, term string"
    )
    return bm25_topk(toks, dl, ["doc_id"], [], qdf, _X4U_TOPK)


# X4v — hybrid retrieval fusion: BM25 + dense cosine via RRF -------------------
#
# The standard production retrieval stack fuses a sparse (lexical) and a
# dense (embedding) ranking; reciprocal-rank fusion is the fusion rule
# that needs NO score calibration between legs — only ranks. Both legs
# here are this repo's own registered operators composed verbatim (the
# x6s idiom): the sparse leg is x4u's BM25 top-10 for the declared
# query set, the dense leg is the x2d-law brute cosine top-10 around a
# declared ANCHOR document per query (query-by-example: "docs like this
# one AND containing these terms"), corpus = the embedded documents
# (embeddings semi-joined to documents on id — at sf0.1 only 2000 of
# 5000 docs carry vectors, so the legs genuinely rank different
# universes and the fusion property is structural, not decorative).
#
# Integer-exact law: each leg contributes 1e6 div (60 + rank) — pure
# BIGINT division, identical in Spark (`div`) and DuckDB (`//`) — so
# the fused score is an exact integer sum with the doc_id tie break.
# A doc ranked by only ONE leg still surfaces with the other leg's
# contribution 0 (full-outer fusion); that property and the tie law are
# pytest-pinned on a planted corpus.
#
# Scale shape: x4u's shape for the sparse leg; the dense leg broadcasts
# 4 anchor vectors against the map-side corpus (the x3-brute law) with
# a per-query rank window over corpus-sized rows — at 100 TB the dense
# leg swaps to the IVF/LSH candidate generators (x3d/x3b) with the
# same downstream fusion, which is rank-only and corpus-free (<= 20
# rows per query meet in the full-outer join).

_X4V_ANCHORS = ((0, 7), (1, 11), (2, 23), (3, 42))
_X4V_RRF_K = 60
_X4V_DENSE_TOPK = 10
_X4V_TOPK = 10

_X4V_ANCHOR_VALUES = ", ".join(f"({q}, {a})" for q, a in _X4V_ANCHORS)

_X4V_ORACLE = f"""
WITH sparse AS ({_X4U_ORACLE}),
anch AS (
  SELECT CAST(query_id AS BIGINT) AS query_id, anchor_id
  FROM (VALUES {_X4V_ANCHOR_VALUES}) v(query_id, anchor_id)
),
ce AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
  WHERE vec_id IN (SELECT doc_id FROM documents)
),
dscored AS (
  SELECT a.query_id, c.vec_id AS doc_id,
         round(
           list_aggregate(list_transform(list_zip(qa.emb, c.emb),
                                         p -> p[1] * p[2]), 'sum')
           / (sqrt(list_aggregate(list_transform(qa.emb, x -> x*x), 'sum'))
              * sqrt(list_aggregate(list_transform(c.emb, x -> x*x), 'sum'))),
           4) AS cos_r4
  FROM anch a
  JOIN ce qa ON qa.vec_id = a.anchor_id
  JOIN ce c ON c.vec_id <> a.anchor_id
),
dense AS (
  SELECT query_id, doc_id, rnk FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_r4 DESC, doc_id) AS rnk
    FROM dscored
  ) WHERE rnk <= {_X4V_DENSE_TOPK}
),
fused AS (
  SELECT coalesce(s.query_id, d.query_id) AS query_id,
         coalesce(s.doc_id, d.doc_id) AS doc_id,
         coalesce(1000000 // ({_X4V_RRF_K} + s.rnk), 0)
           + coalesce(1000000 // ({_X4V_RRF_K} + d.rnk), 0) AS rrf_micro,
         s.rnk AS sparse_rnk,
         d.rnk AS dense_rnk
  FROM sparse s
  FULL OUTER JOIN dense d
    ON s.query_id = d.query_id AND s.doc_id = d.doc_id
)
SELECT query_id, rnk, doc_id, rrf_micro, sparse_rnk, dense_rnk FROM (
  SELECT query_id, doc_id,
         CAST(rrf_micro AS BIGINT) AS rrf_micro,
         CAST(sparse_rnk AS BIGINT) AS sparse_rnk,
         CAST(dense_rnk AS BIGINT) AS dense_rnk,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf_micro DESC, doc_id) AS rnk
  FROM fused
) WHERE rnk <= {_X4V_TOPK}
ORDER BY query_id, rnk
"""


def _x4v_dense_leg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dense leg: per declared anchor, the x2d-law cosine top-k
    (rank by round(cos, 4) DESC, doc_id) over the embedded documents,
    anchor excluded. Kept as its own site so a chunk-level or IVF
    variant can swap in without touching the fusion."""
    from .similarity import _dvec, cosine

    cat = Catalog(spark, sf_dir)
    anch = spark.createDataFrame(
        list(_X4V_ANCHORS), "query_id long, anchor_id long"
    )
    emb = cat.embeddings
    ce = emb.join(
        cat.documents.select("doc_id"),
        emb["vec_id"] == F.col("doc_id"),
        "semi",
    ).select("vec_id", _dvec("embedding").alias("emb"))
    qa = ce.join(F.broadcast(anch), ce["vec_id"] == F.col("anchor_id")).select(
        "query_id", "anchor_id", F.col("emb").alias("qemb")
    )
    scored = ce.join(
        F.broadcast(qa), F.col("vec_id") != F.col("anchor_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        F.round(cosine(F.col("qemb"), F.col("emb")), 4).alias("cos_r4"),
    )
    win = W.partitionBy("query_id").orderBy(
        F.col("cos_r4").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= _X4V_DENSE_TOPK)
        .select("query_id", "doc_id", "rnk")
    )


@register("x4v_hybrid_rrf_fusion", oracle=_X4V_ORACLE, tags=("X4",))
def x4v_hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the registered BM25 leg (x4u) and the
    anchor-cosine dense leg: per (query, doc), score = sum over legs of
    1e6 div (60 + rank) — integer-exact, calibration-free — fused over
    the FULL OUTER union of the legs' top-10s so single-leg docs
    surface, top-10 per query by (score DESC, doc_id)."""
    sparse = x4u_bm25_retrieval(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rnk").alias("sparse_rnk")
    )
    dense = _x4v_dense_leg(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rnk").alias("dense_rnk")
    )
    fused = sparse.join(dense, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        (
            F.coalesce(
                F.expr(f"1000000 div ({_X4V_RRF_K} + sparse_rnk)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"1000000 div ({_X4V_RRF_K} + dense_rnk)"), F.lit(0)
            )
        ).cast("long").alias("rrf_micro"),
        F.col("sparse_rnk").cast("long").alias("sparse_rnk"),
        F.col("dense_rnk").cast("long").alias("dense_rnk"),
    )
    win = W.partitionBy("query_id").orderBy(
        F.col("rrf_micro").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= _X4V_TOPK)
        .select(
            "query_id", "rnk", "doc_id", "rrf_micro",
            "sparse_rnk", "dense_rnk",
        )
        .orderBy("query_id", "rnk")
    )


# X4x — retrieval quality evaluation: recall@k, MRR, nDCG over x4u -------------
#
# The eval harness every retrieval stack ships next to the engine: given
# the system ranking (x4u's BM25 top-k, composed verbatim) and a
# relevance law, score each query with recall@k, MRR, and nDCG@k. The
# relevance law is lexical-AND, derived from the corpus itself so the
# oracle needs no side file: a doc is RELEVANT to a query iff it
# contains ALL the query's distinct terms; its GRADE (for nDCG) is the
# number of distinct query terms it contains, so partially-matching
# docs earn partial gain in the ideal ranking.
#
# Cross-engine exactness (the x4u idiom): each DCG position contributes
# floor(1e6 * grade / log2(pos+1)) — integer inputs, one IEEE-double
# log both engines compute identically, floored to BIGINT — so DCG and
# ideal-DCG are order-independent integer sums, and the three ratios
# are pure BIGINT divisions (Spark `div`, DuckDB `//`): no float ever
# crosses an aggregate boundary.
#
# Scale shape: grades come from one distinct-(doc, term) scan joined to
# the BROADCAST query table (|q| rows) — corpus-sized rows appear only
# in that map-side join and the per-query ideal-rank window (same
# posture as x4v's dense leg; with a vocabulary-sized query load the
# ideal top-k would swap to a bounded per-partition top-k, the o3
# pattern). Everything downstream of the two rank windows is
# |queries|-sized.

_X4X_DCG_TERM = (
    f"CAST(floor({_X4U_SCALE} * grade / (ln(pos + 1) / ln(2))) AS BIGINT)"
)

_X4X_ORACLE = f"""{_X4U_CTES},
qterms AS (
  SELECT query_id, CAST(count(DISTINCT term) AS BIGINT) AS n_q
  FROM q GROUP BY query_id
),
grades AS (
  SELECT q.query_id, tf.doc_id,
         CAST(count(DISTINCT q.term) AS BIGINT) AS grade
  FROM tf JOIN q USING (term)
  GROUP BY q.query_id, tf.doc_id
),
rel AS (
  SELECT g.query_id, g.doc_id, g.grade, (g.grade = qt.n_q) AS is_rel
  FROM grades g JOIN qterms qt USING (query_id)
),
ideal AS (
  SELECT query_id, grade,
         row_number() OVER (
           PARTITION BY query_id ORDER BY grade DESC, doc_id
         ) AS pos
  FROM rel
),
idcg AS (
  SELECT query_id, CAST(sum({_X4X_DCG_TERM}) AS BIGINT) AS idcg_micro
  FROM ideal WHERE pos <= {_X4U_TOPK} GROUP BY query_id
),
sys AS (
  SELECT r.query_id, r.rnk AS pos, rel.grade, rel.is_rel
  FROM ranked r
  JOIN rel ON r.query_id = rel.query_id AND r.doc_id = rel.doc_id
  WHERE r.rnk <= {_X4U_TOPK}
),
sysm AS (
  SELECT query_id,
         CAST(sum({_X4X_DCG_TERM}) AS BIGINT) AS dcg_micro,
         CAST(sum(CASE WHEN is_rel THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_k,
         min(CASE WHEN is_rel THEN pos END) AS first_rel
  FROM sys GROUP BY query_id
),
nrel AS (
  SELECT query_id,
         CAST(sum(CASE WHEN is_rel THEN 1 ELSE 0 END) AS BIGINT) AS n_relevant
  FROM rel GROUP BY query_id
)
SELECT nrel.query_id,
       nrel.n_relevant,
       sysm.hits_at_k,
       CAST(CASE WHEN nrel.n_relevant > 0
            THEN ({_X4U_SCALE} * sysm.hits_at_k) // nrel.n_relevant
            ELSE 0 END AS BIGINT)                       AS recall_micro,
       CAST(CASE WHEN sysm.first_rel IS NOT NULL
            THEN {_X4U_SCALE} // sysm.first_rel
            ELSE 0 END AS BIGINT)                       AS mrr_micro,
       sysm.dcg_micro,
       idcg.idcg_micro,
       CAST(CASE WHEN idcg.idcg_micro > 0
            THEN ({_X4U_SCALE} * sysm.dcg_micro) // idcg.idcg_micro
            ELSE 0 END AS BIGINT)                       AS ndcg_micro
FROM nrel
JOIN sysm USING (query_id)
JOIN idcg USING (query_id)
ORDER BY query_id
"""


@register("x4x_retrieval_eval", oracle=_X4X_ORACLE, tags=("X4",))
def x4x_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query retrieval metrics over x4u's BM25 top-k: recall@k and
    MRR under the lexical-AND relevance law (doc contains ALL query
    terms) and nDCG@k under graded relevance (grade = matched distinct
    query terms). Every metric is an exact integer in micro-units —
    DCG positions floor to BIGINT before summing, ratios are BIGINT
    divisions — so the oracle match is bitwise, not approximate."""
    docs = Catalog(spark, sf_dir).documents
    qdf = spark.createDataFrame(
        list(_X4U_QUERIES), "query_id long, term string"
    )
    ranked = x4u_bm25_retrieval(spark, sf_dir)
    toks_d = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("term"),
    )
    grades = (
        toks_d.join(F.broadcast(qdf), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count_distinct("term").alias("grade"))
    )
    qn = qdf.groupBy("query_id").agg(F.count_distinct("term").alias("n_q"))
    # materialize the grade table ONCE (the x5r localCheckpoint idiom):
    # `rel` feeds three consumer subtrees (idcg, sys, nrel) — lazily the
    # corpus explode + grade shuffle would re-run for each
    rel = (
        grades.join(F.broadcast(qn), "query_id")
        .select(
            "query_id", "doc_id", "grade",
            (F.col("grade") == F.col("n_q")).alias("is_rel"),
        )
        .localCheckpoint()
    )
    w_ideal = W.partitionBy("query_id").orderBy(
        F.col("grade").desc(), "doc_id"
    )
    idcg = (
        rel.withColumn("pos", F.row_number().over(w_ideal))
        .filter(F.col("pos") <= _X4U_TOPK)
        .groupBy("query_id")
        .agg(F.sum(F.expr(_X4X_DCG_TERM)).cast("long").alias("idcg_micro"))
    )
    sys = ranked.withColumnRenamed("rnk", "pos").join(
        rel, ["query_id", "doc_id"]
    )
    sysm = sys.groupBy("query_id").agg(
        F.sum(F.expr(_X4X_DCG_TERM)).cast("long").alias("dcg_micro"),
        F.sum(F.col("is_rel").cast("int")).cast("long").alias("hits_at_k"),
        F.min(F.when(F.col("is_rel"), F.col("pos"))).alias("first_rel"),
    )
    nrel = rel.groupBy("query_id").agg(
        F.sum(F.col("is_rel").cast("int")).cast("long").alias("n_relevant")
    )
    scale = _X4U_SCALE
    return (
        nrel.join(sysm, "query_id")
        .join(idcg, "query_id")
        .select(
            "query_id",
            "n_relevant",
            "hits_at_k",
            F.expr(
                f"CAST(CASE WHEN n_relevant > 0 THEN ({scale} * hits_at_k)"
                f" div n_relevant ELSE 0 END AS BIGINT)"
            ).alias("recall_micro"),
            F.expr(
                f"CAST(CASE WHEN first_rel IS NOT NULL THEN {scale}"
                f" div first_rel ELSE 0 END AS BIGINT)"
            ).alias("mrr_micro"),
            "dcg_micro",
            "idcg_micro",
            F.expr(
                f"CAST(CASE WHEN idcg_micro > 0 THEN ({scale} * dcg_micro)"
                f" div idcg_micro ELSE 0 END AS BIGINT)"
            ).alias("ndcg_micro"),
        )
        .orderBy("query_id")
    )


# X4y — per-document keyword extraction over the x4k TF-IDF law ----------------
#
# The tagging pass an indexing/labeling pipeline runs after TF-IDF: the
# top-K most distinctive terms PER DOCUMENT (x4k's global top-50 is the
# corpus view; a keyword extractor needs the per-doc view). Same
# inverted-index dataflow and the identical smooth-idf formula, then a
# doc-partitioned rank window instead of the global TakeOrdered — the
# window partitions carry one doc's distinct terms (bounded by doc
# length), never corpus-sized rows. Ties on the 4dp-rounded score break
# lexicographically so the oracle match stays exact.

_X4Y_TOPK = 3

_X4Y_ORACLE = f"""{_X4K_SCORED_CTES}
SELECT doc_id, CAST(rnk AS INT) AS rnk, term,
       CAST(tf AS BIGINT) AS tf, tfidf
FROM (
  SELECT *, row_number() OVER (
           PARTITION BY doc_id ORDER BY tfidf DESC, term
         ) AS rnk
  FROM scored
) WHERE rnk <= {_X4Y_TOPK}
ORDER BY doc_id, rnk
"""


@register("x4y_keyword_extract", oracle=_X4Y_ORACLE, tags=("X4",))
def x4y_keyword_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K keywords per document by smooth-idf TF-IDF (x4k's exact
    formula), rank window per doc with the lexicographic tie law on the
    4dp-rounded score. Both the scores and the SQL CTEs come from the
    shared x4k site (tfidf_scored / _X4K_SCORED_CTES), so the corpus
    view and the per-doc view can never disagree on the law; the window
    partitions are single-document term sets."""
    docs = Catalog(spark, sf_dir).documents
    scored = tfidf_scored(docs)
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _X4Y_TOPK)
        .select(
            "doc_id",
            F.col("rnk").cast("int").alias("rnk"),
            "term",
            F.col("tf").cast("long").alias("tf"),
            "tfidf",
        )
        .orderBy("doc_id", "rnk")
    )


# X4z — MMR-diversified retrieval (dedup at serving time) ----------------------
#
# The step that completes the RAG stack: x4u ranks by relevance alone,
# so two near-identical documents both make the top-k and one answer
# slot is wasted. Maximal Marginal Relevance re-ranks the top-k
# greedily — each pick maximizes lambda * relevance - (1 - lambda) *
# max-similarity-to-already-picked — trading relevance for novelty.
#
# Integer-exact law (the x4v idiom): relevance is the rank-based
# 1e6 div (60 + bm25_rank) — calibration-free, shared with x4v's RRF —
# and redundancy is distinct-token-set Jaccard in floored micro-units
# (1e6 * |A∩B|) div |A∪B| (the x2c measure, integerized). lambda = 1/2
# is declared as the (NUM, DEN) = (1, 2) pair and the reported
# mmr_micro is the DEN-scaled value NUM*rel - (DEN-NUM)*maxsim (scaling
# by DEN keeps every decision in BIGINT; the argmax is identical).
# Ties resolve by doc_id asc. The greedy fold is the x6b2
# engine-identical-fold idiom: Spark F.aggregate and DuckDB list_reduce
# run the same branch algebra over a LIST<LIST<BIGINT>> state
# ([selected positions] ++ candidate rows ++ tagged output rows), so
# every pick — including both-negative-score picks — matches.
#
# Scale shape: the candidate set is top-k PER QUERY (k = 10), so the
# pairwise-similarity stage is k^2 rows per query built by the
# candidate-postings equi-join (never corpus-pairs), and the fold runs
# over a k-element list per query — driver-free, broadcast-free,
# corpus-sized rows appear only in x4u's own scan.

_X4Z_LAMBDA_NUM = 1   # lambda = NUM / DEN = 0.5 — the classic MMR midpoint
_X4Z_LAMBDA_DEN = 2

# the fold's branch algebra, built once as SQL text for the DuckDB leg;
# the Spark leg constructs the structurally identical lambda tree below
_X4Z_MAXSIM = "coalesce(list_max(list_transform(acc[1], s -> r[3 + s])), 0)"
_X4Z_KEY = (
    f"[{_X4Z_LAMBDA_NUM} * r[3] - {_X4Z_LAMBDA_DEN - _X4Z_LAMBDA_NUM} * "
    f"({_X4Z_MAXSIM}), -r[2], r[1], r[3], {_X4Z_MAXSIM}]"
)
_X4Z_BEST = (
    "list_max(list_transform(list_filter(acc[2:], "
    f"r -> r[1] > 0 AND NOT list_contains(acc[1], r[1])), r -> {_X4Z_KEY}))"
)
_X4Z_MERGE = (
    f"list_concat(list_concat([list_append(acc[1], ({_X4Z_BEST})[3])], acc[2:]), "
    f"[[-(len(acc[1]) + 1), -({_X4Z_BEST})[2], ({_X4Z_BEST})[3], "
    f"({_X4Z_BEST})[4], ({_X4Z_BEST})[5], ({_X4Z_BEST})[1]]])"
)

_X4Z_ORACLE = f"""{_X4U_CTES},
cand AS (
  SELECT query_id, CAST(rnk AS BIGINT) AS pa, doc_id,
         CAST(1000000 // ({_X4V_RRF_K} + rnk) AS BIGINT) AS rel
  FROM ranked WHERE rnk <= {_X4U_TOPK}
),
toksd AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents WHERE doc_id IN (SELECT doc_id FROM cand)
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM toksd GROUP BY doc_id),
inter AS (
  SELECT a.query_id, a.pa AS pa, b.pa AS pb,
         CAST(count(*) AS BIGINT) AS n_common
  FROM cand a
  JOIN cand b ON a.query_id = b.query_id AND a.pa < b.pa
  JOIN toksd ta ON ta.doc_id = a.doc_id
  JOIN toksd tb ON tb.doc_id = b.doc_id AND ta.tok = tb.tok
  GROUP BY 1, 2, 3
),
jac AS (
  SELECT i.query_id, i.pa, i.pb,
         (1000000 * i.n_common) // (sa.n + sb.n - i.n_common) AS sim
  FROM inter i
  JOIN cand ca ON ca.query_id = i.query_id AND ca.pa = i.pa
  JOIN cand cb ON cb.query_id = i.query_id AND cb.pa = i.pb
  JOIN sizes sa ON sa.doc_id = ca.doc_id
  JOIN sizes sb ON sb.doc_id = cb.doc_id
),
grid AS (
  SELECT a.query_id, a.pa, b.pa AS pb,
         CASE WHEN a.pa = b.pa THEN 0
              ELSE coalesce(j.sim, 0) END AS sim
  FROM cand a
  JOIN cand b ON a.query_id = b.query_id
  LEFT JOIN jac j ON j.query_id = a.query_id
                 AND j.pa = least(a.pa, b.pa)
                 AND j.pb = greatest(a.pa, b.pa)
),
simlist AS (
  SELECT query_id, pa, list(sim ORDER BY pb) AS sims
  FROM grid GROUP BY query_id, pa
),
rows_ AS (
  SELECT c.query_id,
         list_concat([c.pa, c.doc_id, c.rel], s.sims) AS r
  FROM cand c JOIN simlist s ON c.query_id = s.query_id AND c.pa = s.pa
),
lst AS (
  SELECT query_id,
         list_concat(
           [list_concat([CAST([] AS BIGINT[])], list(r ORDER BY r[1]))],
           list([r] ORDER BY r[1])) AS l
  FROM rows_ GROUP BY query_id
),
folded AS (
  SELECT query_id, list_reduce(l, (acc, x) -> {_X4Z_MERGE}) AS st FROM lst
),
outs AS (
  SELECT query_id, unnest(st) AS u FROM folded
)
SELECT query_id,
       CAST(-u[1] AS INT)  AS mmr_rank,
       u[2]                AS doc_id,
       CAST(u[3] AS INT)   AS bm25_rnk,
       u[4]                AS rel_micro,
       u[5]                AS max_sim_micro,
       u[6]                AS mmr_micro
FROM outs WHERE u[1] < 0
ORDER BY query_id, mmr_rank
"""


def mmr_greedy_outputs(lst: DataFrame) -> DataFrame:
    """THE Spark half of the MMR fold (the DuckDB half is _X4Z_MERGE):
    given per-query candidate lists — (query_id, rows) where rows[p] =
    [position, unit_id, rel_micro, sim_to_pos_1..n] — run the greedy
    argmax fold and explode the tagged output rows (query_id, u) with
    u = [-rank, unit_id, position, rel, maxsim, mmr]. One site shared
    by the document-level (x4z) and chunk-level (x4z2) re-rankers so
    the branch algebra cannot diverge between granularities."""
    num, den = _X4Z_LAMBDA_NUM, _X4Z_LAMBDA_DEN

    def maxsim(sel, r):
        return F.coalesce(
            F.array_max(
                F.transform(
                    sel, lambda s: F.element_at(r, (s + F.lit(3)).cast("int"))
                )
            ),
            F.lit(0).cast("long"),
        )

    def key(sel, r):
        ms = maxsim(sel, r)
        return F.array(
            F.lit(num) * F.element_at(r, 3) - F.lit(den - num) * ms,
            -F.element_at(r, 2),
            F.element_at(r, 1),
            F.element_at(r, 3),
            ms,
        )

    def merge(acc, x):
        sel = F.element_at(acc, 1)
        tail = F.slice(acc, 2, F.size(acc) - 1)
        rem = F.filter(
            tail,
            lambda r: (F.element_at(r, 1) > 0)
            & ~F.array_contains(sel, F.element_at(r, 1)),
        )
        best = F.array_max(F.transform(rem, lambda r: key(sel, r)))
        out = F.array(
            (-(F.size(sel) + 1)).cast("long"),
            -F.element_at(best, 2),
            F.element_at(best, 3),
            F.element_at(best, 4),
            F.element_at(best, 5),
            F.element_at(best, 1),
        )
        return F.concat(
            F.array(F.concat(sel, F.array(F.element_at(best, 3)))),
            tail,
            F.array(out),
        )

    empty = F.expr("cast(array() as array<bigint>)")
    init_state = F.concat(F.array(empty), F.col("rows"))
    wrapped = F.transform("rows", lambda r: F.array(r))
    st = lst.select(
        "query_id", F.aggregate(wrapped, init_state, merge).alias("st")
    )
    return st.select(
        "query_id",
        F.explode(
            F.filter("st", lambda r: F.element_at(r, 1) < 0)
        ).alias("u"),
    )


@register("x4z_mmr_diversified_retrieval", oracle=_X4Z_ORACLE, tags=("X4",))
def x4z_mmr_diversified_retrieval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Greedy MMR re-rank of x4u's BM25 top-10 at lambda = 1/2: pick k
    maximizes NUM*rel_micro - (DEN-NUM)*max_sim_micro over the unpicked
    candidates (rel = the rank-based 1e6 div (60+rnk) law shared with
    x4v, sim = floored token-set-Jaccard micro-units), doc_id asc tie
    law. The fold is engine-identical (F.aggregate vs list_reduce over
    the same LIST<LIST<BIGINT>> state), so every greedy decision
    matches bit for bit; the planted pytest pins the case where MMR
    demotes a near-duplicate that plain BM25 ranks second."""
    docs = Catalog(spark, sf_dir).documents
    ranked = x4u_bm25_retrieval(spark, sf_dir)
    # six consumers below (pair grid twice, sim grid twice, postings
    # semi-join, fold rows) each replayed the whole BM25 retrieval
    # chain without this persist (r18, guide §3.3) — Q x top-10 rows
    cand = persist_scoped(
        ranked.filter(F.col("rnk") <= _X4U_TOPK).select(
            "query_id",
            F.col("rnk").cast("long").alias("pa"),
            "doc_id",
            F.expr(
                f"CAST(1000000 div ({_X4V_RRF_K} + rnk) AS BIGINT)"
            ).alias("rel"),
        )
    )
    # three consumers (both sides of the token-intersection join, sizes)
    toksd = persist_scoped(
        docs.join(cand.select("doc_id").distinct(), "doc_id", "semi")
        .select(
            "doc_id",
            F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
        )
    )
    sizes = toksd.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a, b = cand.alias("a"), cand.alias("b")
    ta, tb = toksd.alias("ta"), toksd.alias("tb")
    inter = (
        a.join(
            b,
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col("a.pa") < F.col("b.pa")),
        )
        .join(ta, F.col("ta.doc_id") == F.col("a.doc_id"))
        .join(
            tb,
            (F.col("tb.doc_id") == F.col("b.doc_id"))
            & (F.col("ta.tok") == F.col("tb.tok")),
        )
        .groupBy(
            F.col("a.query_id").alias("query_id"),
            F.col("a.pa").alias("pa"),
            F.col("b.pa").alias("pb"),
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    jac = (
        inter.join(
            sizes.select(F.col("doc_id").alias("da"), F.col("n").alias("na")),
            "da",
        )
        .join(
            sizes.select(F.col("doc_id").alias("db"), F.col("n").alias("nb")),
            "db",
        )
        .select(
            "query_id", "pa", "pb",
            F.expr(
                "CAST((1000000 * n_common) div (na + nb - n_common)"
                " AS BIGINT)"
            ).alias("sim"),
        )
    )
    ga, gb = cand.alias("ga"), cand.alias("gb")
    grid = (
        ga.join(gb, F.col("ga.query_id") == F.col("gb.query_id"))
        .select(
            F.col("ga.query_id").alias("query_id"),
            F.col("ga.pa").alias("pa"),
            F.col("gb.pa").alias("pb"),
        )
        .join(
            jac.select(
                F.col("query_id").alias("jq"),
                F.col("pa").alias("jpa"),
                F.col("pb").alias("jpb"),
                "sim",
            ),
            (F.col("jq") == F.col("query_id"))
            & (F.col("jpa") == F.least("pa", "pb"))
            & (F.col("jpb") == F.greatest("pa", "pb")),
            "left",
        )
        .select(
            "query_id", "pa", "pb",
            F.when(F.col("pa") == F.col("pb"), F.lit(0).cast("long"))
            .otherwise(F.coalesce(F.col("sim"), F.lit(0).cast("long")))
            .alias("sim"),
        )
    )
    simlist = grid.groupBy("query_id", "pa").agg(
        F.transform(
            F.sort_array(F.collect_list(F.array("pb", "sim"))),
            lambda x: F.element_at(x, 2),
        ).alias("sims")
    )
    rows_ = cand.join(simlist, ["query_id", "pa"]).select(
        "query_id",
        F.concat(F.array("pa", "doc_id", "rel"), F.col("sims")).alias("r"),
    )
    lst = rows_.groupBy("query_id").agg(
        F.sort_array(F.collect_list("r")).alias("rows")
    )
    outs = mmr_greedy_outputs(lst)
    return (
        outs.select(
            "query_id",
            (-F.element_at("u", 1)).cast("int").alias("mmr_rank"),
            F.element_at("u", 2).alias("doc_id"),
            F.element_at("u", 3).cast("int").alias("bm25_rnk"),
            F.element_at("u", 4).alias("rel_micro"),
            F.element_at("u", 5).alias("max_sim_micro"),
            F.element_at("u", 6).alias("mmr_micro"),
        )
        .orderBy("query_id", "mmr_rank")
    )
