"""Invariant tests for the near-dedup family (SURVEY.md §5.2(4))."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ssn_college_software_architecture_assignments__spark.operators.dedup import (
    minhash_candidate_pairs,
    minhash_signatures,
    simhash64,
)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_minhash_identical_docs_always_pair(spark, sf_dir):
    docs = _docs(spark, sf_dir).limit(30)
    # duplicate doc 0 under a new id -> exact dup must surface as candidate
    clone = docs.filter(F.col("doc_id") == 0).withColumn("doc_id", F.lit(999_999))
    corpus = docs.unionByName(clone)
    sigs = minhash_signatures(corpus, "doc_id", "text")
    pairs = minhash_candidate_pairs(sigs).collect()
    assert any(
        p["id_a"] == 0 and p["id_b"] == 999_999 and p["est_jaccard"] == 1.0
        for p in pairs
    )


def test_minhash_pairs_are_canonical_and_unique(spark, sf_dir):
    docs = _docs(spark, sf_dir).limit(50)
    sigs = minhash_signatures(docs, "doc_id", "text")
    pairs = minhash_candidate_pairs(sigs).collect()
    seen = set()
    for p in pairs:
        assert p["id_a"] < p["id_b"]
        assert (p["id_a"], p["id_b"]) not in seen
        seen.add((p["id_a"], p["id_b"]))
        assert 0.0 <= p["est_jaccard"] <= 1.0


def test_simhash_deterministic_and_near_for_near_texts(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "the quick brown fox jumps over the lazy cat"),
            (4, "completely different words entirely unrelated content here"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["sh"] for r in df.select("doc_id", simhash64("text").alias("sh")).collect()}
    assert rows[1] == rows[2]  # identical text -> identical fingerprint

    def hamming(a: int, b: int) -> int:
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    near = hamming(rows[1], rows[3])
    far = hamming(rows[1], rows[4])
    assert near < far  # one-word edit is closer than unrelated text
    assert near <= 16


def test_embedding_lsh_candidates_scored_exactly_and_sublinear(spark):
    """x2f: every LSH candidate pair's score must equal the exact cosine
    (recomputed independently), verdicts must match the 0.95 bar, and the
    candidate set must stay well under all-pairs (that is the point of
    bucketing)."""
    import itertools
    import math

    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        x2f_embedding_neardup_lsh,
    )

    sf = "/root/testdata/sf0.001"
    out = x2f_embedding_neardup_lsh(spark, sf).collect()
    assert out, "bucket collisions must produce at least one candidate"

    emb = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    }

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    for r in out:
        exact = cos(emb[r["id_a"]], emb[r["id_b"]])
        assert abs(round(exact, 4) - r["cos_sim"]) <= 1e-4
        assert r["is_near_dup"] == (exact >= 0.95)
        assert r["id_a"] < r["id_b"]
    # no duplicate pairs, and sublinear vs all-pairs
    pairs = [(r["id_a"], r["id_b"]) for r in out]
    assert len(pairs) == len(set(pairs))
    n = len(emb)
    assert len(pairs) < 0.5 * n * (n - 1) / 2


def test_simhash_pairs_hamming_exact_and_banded(spark):
    """x2b2: the reported Hamming distance must equal popcount(xor) of the
    two docs' independently computed signatures; every candidate pair must
    genuinely share a 16-bit band; candidates stay sublinear."""
    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        x2b2_simhash_pairs,
        x2b_simhash,
    )

    sf = "/root/testdata/sf0.001"
    sigs = {r["doc_id"]: r["simhash"] for r in x2b_simhash(spark, sf).collect()}
    out = x2b2_simhash_pairs(spark, sf).collect()
    assert out, "band collisions must produce candidates on the fixture"
    for r in out:
        xor = (sigs[r["id_a"]] ^ sigs[r["id_b"]]) & 0xFFFFFFFFFFFFFFFF
        assert bin(xor).count("1") == r["hamming"]
        assert r["is_near_dup"] == (r["hamming"] <= 12)
        shares_band = any(
            ((sigs[r["id_a"]] >> (16 * b)) & 0xFFFF)
            == ((sigs[r["id_b"]] >> (16 * b)) & 0xFFFF)
            for b in range(4)
        )
        assert shares_band
    n = len(sigs)
    assert len(out) < 0.5 * n * (n - 1) / 2


def test_short_documents_never_crash_shingle_pipelines(spark):
    """Regression for the sequence(1,0) crash class: documents with fewer
    tokens than the shingle width must yield EMPTY shingle sets (and flow
    through minhash / decontamination), never abort the query with
    INVALID_PARAMETER_VALUE.START."""
    from pyspark.sql import functions as F

    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        minhash_signatures,
        shingles,
        token_shingles,
    )

    docs = spark.createDataFrame(
        [(0, ""), (1, "one"), (2, "one two"), (3, "exactly three tokens here")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", F.size(shingles("text", 3)).alias("n")
        ).collect()
    }
    assert out == {0: 0, 1: 0, 2: 0, 3: 2}

    # k-1 tokens through the k=8 gram builder used by x6d
    toks = F.split("text", " ")
    g8 = docs.select(
        F.size(F.array_distinct(
            F.transform(token_shingles(toks, 8), lambda s: F.xxhash64(s))
        )).alias("n")
    ).collect()
    assert [r["n"] for r in g8] == [0, 0, 0, 0]

    # the full minhash pipeline: short docs simply produce no signature row
    sigs = minhash_signatures(docs, "doc_id", "text")
    ids = {r["_id"] for r in sigs.collect()}
    assert ids == {3}


# ---- connected components: property test vs union-find -----------------------


def _union_find_components(n, edges):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id in the component
    comp_min = {}
    for v in range(n):
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    return sorted((v, comp_min[find(v)]) for v in range(n))


# ---- winnowing: property test vs Python reference + the sharing guarantee ----


def _python_winnow(tokens, k=4, window=5):
    """Schleimer-style reference: md5-prefix each k-gram, take the min of
    each window of `window` consecutive shingle hashes (tail windows
    shrink, matching the frame spec); return the selected set."""
    import hashlib

    if len(tokens) < k:
        return set()
    fps = [
        hashlib.md5(" ".join(tokens[i : i + k]).encode()).hexdigest()[:16]
        for i in range(len(tokens) - k + 1)
    ]
    return {min(fps[i : i + window]) for i in range(len(fps))}


def _spark_winnow_sets(spark, docs_rows):
    from ssn_college_software_architecture_assignments__spark.operators.textanalysis import (
        winnow_fingerprints,
    )

    docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
    out = {}
    for r in winnow_fingerprints(docs).collect():
        out.setdefault(r["doc_id"], set()).add(r["sel"])
    return out


def test_winnowing_matches_python_reference_and_guarantee(spark):
    """x4d2 semantics pin: the posexplode + frame-window-min selection
    equals a per-doc Python reference on arbitrary token sequences, and
    the winnowing guarantee holds — two docs sharing a token run of
    >= window + k - 1 = 8 tokens share at least one fingerprint."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    tok = st.sampled_from("abcdef")
    seqs = st.lists(tok, min_size=0, max_size=30)

    @given(
        a=seqs,
        b=seqs,
        shared=st.lists(tok, min_size=8, max_size=12),
        cut_a=st.integers(0, 30),
        cut_b=st.integers(0, 30),
    )
    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(a, b, shared, cut_a, cut_b):
        ta = a[: cut_a % (len(a) + 1)] + shared + a[cut_a % (len(a) + 1):]
        tb = b[: cut_b % (len(b) + 1)] + shared + b[cut_b % (len(b) + 1):]
        got = _spark_winnow_sets(
            spark, [(1, " ".join(ta)), (2, " ".join(tb))]
        )
        assert got.get(1, set()) == _python_winnow(ta)
        assert got.get(2, set()) == _python_winnow(tb)
        # the guarantee: a shared 8-token run forces a shared fingerprint
        assert got[1] & got[2], (ta, tb)

    run()


def test_semantic_dedup_surfaces_planted_duplicate(spark, tmp_path):
    """x2j on a handmade embedding table: a planted near-identical pair
    (cos ~ 1) must land in the same cell, rank first there, and carry
    is_semantic_dup = true; orthogonal fillers must not be flagged."""
    import os
    import random

    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        x2j_semantic_dedup,
    )

    rng = random.Random(7)
    dim = 8

    def noisy(base, eps):
        return [v + rng.uniform(-eps, eps) for v in base]

    base = [rng.uniform(-1, 1) for _ in range(dim)]
    rows = []
    # 16 centroid slots (vec_id < 16): spread, axis-aligned-ish
    for i in range(16):
        vec = [0.0] * dim
        vec[i % dim] = 1.0 if i < dim else -1.0
        rows.append((i, [float(v) for v in noisy(vec, 0.05)], 0))
    # planted duplicate pair, far from centroid slots
    rows.append((100, [float(v) for v in base], 1))
    rows.append((101, [float(v) for v in noisy(base, 1e-4)], 1))
    # unrelated fillers
    for i in range(102, 112):
        rows.append((i, [float(rng.uniform(-1, 1)) for _ in range(dim)], 2))
    # zero vector: undefined cosine — must be dropped, not ranked
    rows.append((120, [0.0] * dim, 3))

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{sf_dir}/embeddings.parquet")

    out = x2j_semantic_dedup(spark, sf_dir).collect()
    planted = [r for r in out if (r["keep_id"], r["dup_id"]) == (100, 101)]
    assert len(planted) == 1, out
    assert planted[0]["is_semantic_dup"] is True
    assert planted[0]["cos_sim"] > 0.99
    # rank 1 in its cell: no other pair in that cell scores higher
    cell = planted[0]["cell"]
    top = [r for r in out if r["cell"] == cell][0]
    assert (top["keep_id"], top["dup_id"]) == (100, 101)
    # nothing else crosses the 0.9 bar
    assert all(
        not r["is_semantic_dup"] for r in out if (r["keep_id"], r["dup_id"]) != (100, 101)
    )
    # the zero vector never appears on either side of a pair
    assert all(120 not in (r["keep_id"], r["dup_id"]) for r in out)


def test_quality_manifest_keeps_best_not_lowest_id(spark, tmp_path):
    """x2k's reason to exist: when a cluster's highest-quality member is
    NOT the lowest id, the keep verdict goes to quality (x2e's min-id
    canonical would pick the other doc). Exactly one keep per cluster."""
    import os

    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        x2k_quality_dedup_manifest,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        # doc 1: same token SET as doc 2 (Jaccard 1.0) but word-soup
        # repeats -> LOWER distinct_ratio than doc 2
        (1, base + " alpha alpha beta beta", "en", 60),
        (2, base, "en", 47),
        (3, "unrelated solitary content here", "en", 31),
    ]
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long"
    ).write.parquet(f"{sf_dir}/documents.parquet")
    got = {r["doc_id"]: r for r in x2k_quality_dedup_manifest(spark, sf_dir).collect()}

    assert got[1]["cluster_id"] == got[2]["cluster_id"] == 1   # min-id label
    assert got[1]["n_members"] == got[2]["n_members"] == 2
    assert got[2]["keep"] is True and got[1]["keep"] is False  # quality wins
    assert got[2]["quality"] > got[1]["quality"]
    assert got[3]["keep"] is True and got[3]["n_members"] == 1
    by_cluster = {}
    for r in got.values():
        by_cluster.setdefault(r["cluster_id"], []).append(r["keep"])
    assert all(sum(ks) == 1 for ks in by_cluster.values())


def test_threshold_sweep_closed_form(spark, tmp_path):
    """x2m curve on a handmade corpus: pairs (1,2)=0.6, (2,3)=0.6,
    (1,3)=1.0 within lang 'en'; doc 4 shares nothing; doc 5 duplicates
    doc 1's text in another lang and must NOT pair (the lang guard).
    Expected curve: 3 pairs/3 docs at 0.5 and 0.6, then 1 pair/2 docs
    at 0.7-0.9."""
    import os

    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        x2m_threshold_sweep,
    )

    rows = [
        (1, "a b c d", "en", "s"),
        (2, "a b c e", "en", "s"),
        (3, "a b c d", "en", "s"),
        (4, "x y", "en", "s"),
        (5, "a b c d", "fr", "s"),
    ]
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        [(i, t, lang, src, len(t)) for i, t, lang, src in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{sf_dir}/documents.parquet")

    got = {
        r["threshold"]: (r["n_pairs"], r["n_docs"])
        for r in x2m_threshold_sweep(spark, sf_dir).collect()
    }
    assert got == {
        0.5: (3, 3),
        0.6: (3, 3),
        0.7: (1, 2),
        0.8: (1, 2),
        0.9: (1, 2),
    }, got


def test_incremental_near_dedup_admission(spark, tmp_path):
    """x2n on a handmade corpus: a batch doc that duplicates a corpus
    doc's text collides on every band (est 1.0) and is rejected; an
    unrelated batch doc shares no shingles, finds no candidate, and is
    admitted; a too-short batch doc (< 3 tokens) is out of scope."""
    import os

    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        x2n_incremental_near_dedup,
    )

    t_corpus = "the quick brown fox jumps over the lazy dog tonight"
    t_other = "completely different words about gardening and rare tulips"
    rows = [
        (1, t_corpus, "en", "s"),    # corpus (1 % 10 != 0)
        (2, t_other + " extra", "en", "s"),
        (10, t_corpus, "en", "s"),   # batch: duplicate of corpus doc 1
        (20, "unrelated sentence mentioning spacecraft telemetry formats", "en", "s"),
        (30, "too short", "en", "s"),  # < 3 tokens: no signature
    ]
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        [(i, t, lang, src, len(t)) for i, t, lang, src in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{sf_dir}/documents.parquet")

    got = {r["batch_doc_id"]: r for r in x2n_incremental_near_dedup(spark, sf_dir).collect()}
    assert sorted(got) == [10, 20]
    dup, fresh = got[10], got[20]
    assert dup["max_est_jaccard"] == 1.0 and dup["admit"] is False
    assert dup["n_candidates"] >= 1
    assert fresh["n_candidates"] == 0
    assert fresh["max_est_jaccard"] == 0.0 and fresh["admit"] is True


def test_paragraph_near_dedup_finds_planted_boilerplate(spark, tmp_path):
    """x2p law on a handmade corpus: docs 0 and 10 (the %10==0 cohort)
    get the boilerplate header prepended — their FIRST paragraphs are
    identical across documents while every other paragraph uses a
    disjoint vocabulary. Exactly those two paragraphs must flag, each
    attributed to its own source."""
    import os

    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        _X2P_WIDTH,
        x2p_paragraph_near_dedup,
    )

    def body(prefix, n):
        return " ".join(f"{prefix}{i}" for i in range(n))

    rows = [
        (0, body("a", 2 * _X2P_WIDTH), "en", "srcA"),   # boiler + 2 paras
        (10, body("b", 2 * _X2P_WIDTH), "en", "srcB"),  # boiler + 2 paras
        (3, body("c", 3 * _X2P_WIDTH), "en", "srcA"),   # 3 paras, no boiler
        (7, body("d", _X2P_WIDTH), "en", "srcC"),       # 1 para, no boiler
    ]
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        [(i, t, lang, src, len(t)) for i, t, lang, src in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{sf_dir}/documents.parquet")

    got = {r["source"]: r for r in x2p_paragraph_near_dedup(spark, sf_dir).collect()}
    assert sorted(got) == ["srcA", "srcB", "srcC"]
    # srcA: doc0 has 3 paras (boiler + 2), doc3 has 3 -> 6; only doc0's
    # boiler para is duplicated (vs doc10's)
    assert got["srcA"]["n_paras"] == 6
    assert got["srcA"]["n_dup_paras"] == 1
    assert got["srcA"]["dup_token_frac"] == round(_X2P_WIDTH / (6 * _X2P_WIDTH), 4)
    assert got["srcB"]["n_paras"] == 3
    assert got["srcB"]["n_dup_paras"] == 1
    assert got["srcC"]["n_dup_paras"] == 0


def test_paragraph_id_packing_guard_fires_on_overlong_doc(spark, tmp_path):
    """x2p's para_id packing (doc_id*IDMUL + idx) silently aliases
    para_ids across documents if a document ever exceeds IDMUL
    paragraphs — identically in BOTH engines, so the oracle could never
    catch it. The Spark side therefore carries an assert_true guard;
    this pins that a >IDMUL-paragraph document fails loudly instead of
    corrupting cross-document exclusion."""
    import os

    import pytest

    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        _X2P_IDMUL,
        _X2P_WIDTH,
        x2p_paragraph_near_dedup,
    )

    monster = " ".join(f"w{i}" for i in range((_X2P_IDMUL + 1) * _X2P_WIDTH))
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        [(1, monster, "en", "srcA", len(monster))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{sf_dir}/documents.parquet")

    with pytest.raises(Exception, match="exceeds"):
        x2p_paragraph_near_dedup(spark, sf_dir).collect()


def test_duplicated_gram_mass_closed_form(spark, tmp_path):
    """x2q on a handmade corpus: doc A and doc B (different sources)
    share one verbatim 10-token span (3 duplicated 8-gram positions
    each); doc C is all-unique. Fractions checked in closed form."""
    import os

    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        x2q_duplicated_gram_mass,
    )

    span = " ".join(f"s{i}" for i in range(10))          # 10 shared tokens
    a = span + " " + " ".join(f"a{i}" for i in range(10))  # 20 tokens
    b = span + " " + " ".join(f"b{i}" for i in range(10))  # 20 tokens
    c = " ".join(f"c{i}" for i in range(20))
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        [(1, a, "sA"), (2, b, "sB"), (3, c, "sC")],
        "doc_id long, text string, source string",
    ).write.parquet(f"{sf_dir}/documents.parquet")

    got = {r["source"]: r for r in x2q_duplicated_gram_mass(spark, sf_dir).collect()}
    # 20 tokens -> 13 8-gram positions per doc; the shared span covers
    # positions 1..3 (grams fully inside the first 10 tokens)
    assert got["sA"]["n_occurrences"] == 13
    assert got["sA"]["n_dup_occurrences"] == 3
    assert got["sA"]["dup_mass_frac"] == round(3 / 13, 4)
    assert got["sB"]["n_dup_occurrences"] == 3
    assert got["sC"]["n_dup_occurrences"] == 0
    assert got["sC"]["dup_mass_frac"] == 0.0


def test_cross_source_gram_flow_finds_planted_mirror(spark, tmp_path):
    """x2r on a handmade corpus: srcA and srcB share one verbatim
    10-token span (3 distinct 8-grams); srcC shares nothing, so no
    (A,C)/(B,C) rows exist."""
    import os

    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        x2r_cross_source_gram_flow,
    )

    span = " ".join(f"s{i}" for i in range(10))
    a = span + " " + " ".join(f"a{i}" for i in range(10))   # 13 grams
    b = span + " " + " ".join(f"b{i}" for i in range(10))   # 13 grams
    c = " ".join(f"c{i}" for i in range(20))
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        [(1, a, "srcA"), (2, b, "srcB"), (3, c, "srcC")],
        "doc_id long, text string, source string",
    ).write.parquet(f"{sf_dir}/documents.parquet")

    rows = x2r_cross_source_gram_flow(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["src_a"], r["src_b"]) == ("srcA", "srcB")
    assert r["n_shared"] == 3
    assert r["n_grams_a"] == r["n_grams_b"] == 13
    assert r["jaccard"] == round(3 / (13 + 13 - 3), 4)


def test_substring_span_dedup_removes_planted_spans(spark, tmp_path):
    """x2s law on a handmade corpus: a 20-token block A shared by docs
    1 and 4, a 20-token block B shared by docs 2 and 4, where doc 4 is
    A and B OVERLAPPED (B's first 4 tokens are A's last 4) — so doc 1
    loses exactly A, doc 2 exactly B, doc 4 merges the two overlapping
    spans into one interval covering its whole text, and doc 3 (unique
    vocabulary) is untouched. Trimmed text is pinned byte-for-byte via
    md5."""
    import hashlib
    import os

    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        x2s_substring_span_dedup,
    )

    s = [f"s{i}" for i in range(36)]
    A, B = s[0:20], s[16:36]
    doc1 = ["a0", "a1", "a2"] + A + ["a3", "a4", "a5"]
    doc2 = B + ["b0", "b1", "b2"]
    doc3 = [f"c{i}" for i in range(20)]
    doc4 = s
    rows = [(1, doc1), (2, doc2), (3, doc3), (4, doc4)]

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        [(i, " ".join(t), "en", f"src{i}", len(" ".join(t))) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{sf_dir}/documents.parquet")

    md5 = lambda toks: hashlib.md5(" ".join(toks).encode()).hexdigest()  # noqa: E731
    got = {r["doc_id"]: r for r in x2s_substring_span_dedup(spark, sf_dir).collect()}

    assert got[1]["n_dup_spans"] == 1
    assert got[1]["n_removed_tokens"] == 20
    assert got[1]["trimmed_md5"] == md5(["a0", "a1", "a2", "a3", "a4", "a5"])
    assert got[2]["n_removed_tokens"] == 20
    assert got[2]["trimmed_md5"] == md5(["b0", "b1", "b2"])
    assert got[3]["n_dup_spans"] == 0
    assert got[3]["n_removed_tokens"] == 0
    assert got[3]["keep_frac"] == 1.0
    assert got[3]["trimmed_md5"] == md5(doc3)
    # doc 4: two overlapping spans MERGE to one interval = the whole doc
    assert got[4]["n_dup_spans"] == 1
    assert got[4]["n_removed_tokens"] == 36
    assert got[4]["keep_frac"] == 0.0
    assert got[4]["trimmed_md5"] == md5([])


def test_substring_span_dedup_matches_python_reference_on_random_corpus(
    spark, tmp_path
):
    """x2s vs an independent pure-Python implementation of the law on a
    seeded random corpus with a SMALL vocabulary (so natural duplicated
    grams and runs arise organically, not just the planted boiler):
    every column of every doc row must match, including the trimmed-text
    md5."""
    import hashlib
    import os
    import random

    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        _X2P_BOILER,
        _X2Q_K,
        _X2S_NMIN,
        x2s_substring_span_dedup,
    )

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(30)]  # small vocab -> natural repeats
    docs = {}
    for doc_id in range(60):
        n = rng.randrange(5, 80)
        docs[doc_id] = [rng.choice(vocab) for _ in range(n)]
    # two verbatim long blocks shared across docs (guaranteed spans)
    block = [rng.choice(vocab) for _ in range(25)]
    docs[3] = docs[3][:10] + block + docs[3][10:]
    docs[7] = block + docs[7][:5]

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        [
            (i, " ".join(t), "en", f"src{i % 4}", len(" ".join(t)))
            for i, t in docs.items()
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{sf_dir}/documents.parquet")

    # pure-Python reference of the registered law
    boosted = {
        i: (_X2P_BOILER.split() + t if i % 10 == 0 else list(t))
        for i, t in docs.items()
    }
    from collections import Counter

    freq: Counter = Counter()
    for t in boosted.values():
        for p in range(len(t) - _X2Q_K + 1):
            freq[" ".join(t[p : p + _X2Q_K])] += 1

    expect = {}
    for i, t in boosted.items():
        dup_pos = [
            p
            for p in range(len(t) - _X2Q_K + 1)
            if freq[" ".join(t[p : p + _X2Q_K])] >= 2
        ]
        runs, start = [], None
        for idx, p in enumerate(dup_pos):
            if start is None:
                start = p
            nxt = dup_pos[idx + 1] if idx + 1 < len(dup_pos) else None
            if nxt != p + 1:
                runs.append((start, p))
                start = None
        spans = [
            (s, e + _X2Q_K - 1) for s, e in runs if e - s + 1 >= _X2S_NMIN
        ]
        merged = []
        for s, e in sorted(spans):
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        removed = {p for s, e in merged for p in range(s, e + 1)}
        kept = [tok for p, tok in enumerate(t) if p not in removed]
        expect[i] = (
            len(t),
            len(merged),
            len(removed),
            round((len(t) - len(removed)) / len(t), 4),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )

    got = {
        r["doc_id"]: (
            r["n_tok"],
            r["n_dup_spans"],
            r["n_removed_tokens"],
            r["keep_frac"],
            r["trimmed_md5"],
        )
        for r in x2s_substring_span_dedup(spark, sf_dir).collect()
    }
    assert got == expect
    # sanity: the corpus genuinely exercised the machinery
    assert sum(1 for v in expect.values() if v[1] > 0) >= 3


def test_containment_rescore_flags_subset_pair(spark, tmp_path):
    """x2v law on a handmade pair: the operator's own corpus transform
    makes doc 1 absorb doc 0's text, so shingles(doc0) is a strict
    subset of shingles(doc1) — containment_a must be exactly 1.0 while
    Jaccard sits below 1, and the pair flags as a containment dup. An
    unrelated doc pair (disjoint vocabulary) must not pair at all."""
    import os

    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        x2v_containment_rescore,
    )

    a_text = " ".join(f"a{i}" for i in range(20))
    rows = [
        (0, a_text, "en", "s1"),
        (1, "tail0 tail1", "en", "s1"),         # becomes a_text + tails
        (2, " ".join(f"c{i}" for i in range(20)), "en", "s2"),
        (3, " ".join(f"d{i}" for i in range(20)), "en", "s2"),
    ]
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        [(i, t, lang, src, len(t)) for i, t, lang, src in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{sf_dir}/documents.parquet")

    out = {(r["id_a"], r["id_b"]): r for r in x2v_containment_rescore(spark, sf_dir).collect()}
    assert (0, 1) in out, out
    r = out[(0, 1)]
    assert r["n_shingles_a"] == 18            # 20 tokens -> 18 tri-shingles
    assert r["n_shingles_b"] == 20            # 22 tokens -> 20
    assert r["n_common"] == 18
    assert r["containment_a"] == 1.0
    assert r["jaccard"] == 0.9
    assert r["is_containment_dup"] is True
    # disjoint-vocabulary docs never band together (doc 3 absorbs doc 2,
    # but (2,3) flags too — that's the transform; what must NOT appear
    # is any pair across the two vocabularies)
    assert all({p[0], p[1]} <= {0, 1} or {p[0], p[1]} <= {2, 3} for p in out)


def test_x2s3_mapcombine_twin_is_byte_identical_to_x2s(spark):
    """x2s3 identity law (the s16/s16b pattern): the map-combined
    gram-count twin must produce the EXACT rows of the window-attach
    x2s at every document — including trimmed_md5 byte-for-byte, the
    strongest equality the pair can state."""
    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        x2s3_span_dedup_mapcombine,
        x2s_substring_span_dedup,
    )

    sf = "/root/testdata/sf0.001"
    a = {r["doc_id"]: r for r in x2s_substring_span_dedup(spark, sf).collect()}
    b = {r["doc_id"]: r for r in x2s3_span_dedup_mapcombine(spark, sf).collect()}
    assert set(a) == set(b) and len(a) > 0
    trimmed = 0
    for k in a:
        assert a[k] == b[k], (a[k], b[k])
        trimmed += int(a[k]["n_dup_spans"] > 0)
    assert trimmed > 0, "fixture must exercise the span machinery"


def test_x2w_prefix_filter_completeness_at_threshold(spark, tmp_path):
    """x2w law on a handmade corpus engineered AT the threshold: doc 1
    and doc 2 (ids 2 and 4) share exactly 20 of their 30 8-gram
    shingles (J = 20/40 = 0.5, exactly t) — the prefix filter must
    still surface the pair (completeness has no slack at the
    boundary); a clearly-below-t pair must be excluded; a disjoint doc
    must pair with nothing. Truth from an independent Python
    recomputation."""
    import os

    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        x2w_prefix_filter_join,
    )

    # below-threshold pair: a 19-token shared block between two docs
    # whose own 19-token halves dominate (J ~ 0.19 < t)
    shared = [f"s{i}" for i in range(19)]
    doc1 = shared + [f"fa{i}" for i in range(7)] + [f"a{i}" for i in range(19)]
    doc2 = shared + [f"fb{i}" for i in range(7)] + [f"b{i}" for i in range(19)]
    # exact-boundary engineering: a 27-token shared block gives 20
    # pure-shared shingles; a 10-token own tail gives 10 own shingles
    # (7 boundary-mixed + 3 pure) => J = 20/(30+30-20) = 0.5 EXACTLY
    big_shared = [f"s{i}" for i in range(27)]
    d1 = big_shared + [f"a{i}" for i in range(10)]
    d2 = big_shared + [f"b{i}" for i in range(10)]
    def shingles(toks):
        return {" ".join(toks[i : i + 8]) for i in range(len(toks) - 7)}

    # all-EVEN doc ids: x2w's corpus transform absorbs each even doc
    # into its odd successor (the x2v planting); with no odd ids
    # present the transform is the identity and the planted structure
    # survives untouched.
    docs = {2: d1, 4: d2, 6: doc1, 8: doc2, 10: [f"z{i}" for i in range(30)]}
    truth = {}
    ids = sorted(docs)
    for i in ids:
        for j in ids:
            if i < j:
                si, sj = shingles(docs[i]), shingles(docs[j])
                inter = len(si & sj)
                truth[(i, j)] = inter / (len(si) + len(sj) - inter)
    sf_dir = str(tmp_path / "corpus")
    os.makedirs(sf_dir, exist_ok=True)
    spark.createDataFrame(
        [(i, " ".join(t), "src", "en", len(" ".join(t))) for i, t in docs.items()],
        "doc_id long, text string, source string, lang string, n_chars long",
    ).write.parquet(f"{sf_dir}/documents.parquet")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in x2w_prefix_filter_join(spark, sf_dir).collect()
    }
    want = {p: j for p, j in truth.items() if j >= 0.5}
    assert truth[(2, 4)] == 0.5, "fixture must sit exactly at t"
    assert set(got) == set(want), (got, truth)
    assert (2, 4) in got, "boundary pair must be found (no completeness slack)"
    import math

    for p in want:
        assert got[p] == math.floor(want[p] * 10000) / 10000
    assert any(0 < j < 0.5 for j in truth.values()), "below-t pair must exist"


def test_x2w_prefix_filter_property_vs_naive(spark, tmp_path):
    """Property: on arbitrary small corpora (repeated blocks, shared
    vocab, sub-8-token docs that shingle to empty sets), the prefix
    filter finds EXACTLY the naive all-pairs Jaccard >= 0.5 pairs — the
    completeness theorem under random structure, not just the
    engineered fixtures. Even doc ids only (identity corpus
    transform)."""
    import os

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        x2w_prefix_filter_join,
    )

    vocab = [f"t{i}" for i in range(12)]

    def shingles(toks):
        return {" ".join(toks[i : i + 8]) for i in range(len(toks) - 7)}

    counter = [0]

    @given(
        docs=st.lists(
            st.lists(st.sampled_from(vocab), min_size=3, max_size=30),
            min_size=2,
            max_size=5,
        )
    )
    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(docs):
        counter[0] += 1
        sf_dir = str(tmp_path / f"c{counter[0]}")
        os.makedirs(sf_dir, exist_ok=True)
        rows = [
            (2 * (i + 1), " ".join(t), "src", "en", len(" ".join(t)))
            for i, t in enumerate(docs)
        ]
        spark.createDataFrame(
            rows,
            "doc_id long, text string, source string, lang string, "
            "n_chars long",
        ).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
        got = {
            (r["id_a"], r["id_b"])
            for r in x2w_prefix_filter_join(spark, sf_dir).collect()
        }
        want = set()
        for i in range(len(docs)):
            for j in range(i + 1, len(docs)):
                si, sj = shingles(docs[i]), shingles(docs[j])
                union = len(si | sj)
                if union > 0 and len(si & sj) >= 0.5 * union:
                    want.add((2 * (i + 1), 2 * (j + 1)))
        assert got == want, (got, want)

    run()


def test_x2s3_twin_property_on_random_corpora(spark, tmp_path):
    """Property: the x2s/x2s3 twin identity (byte-identical rows incl.
    trimmed_md5) holds on arbitrary small corpora — tiny vocabulary so
    duplicated 8-gram runs are common, doc lengths straddling the
    shingle width, the every-10th-doc boilerplate boost applying to
    some docs — not just the fixture the committed sweep covers."""
    import os

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        x2s3_span_dedup_mapcombine,
        x2s_substring_span_dedup,
    )

    vocab = [f"v{i}" for i in range(6)]
    counter = [0]

    @given(
        docs=st.lists(
            st.lists(st.sampled_from(vocab), min_size=2, max_size=40),
            min_size=2,
            max_size=6,
        )
    )
    @settings(
        max_examples=4,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(docs):
        counter[0] += 1
        sf_dir = str(tmp_path / f"s{counter[0]}")
        os.makedirs(sf_dir, exist_ok=True)
        spark.createDataFrame(
            [(i, " ".join(t), "src", "en", len(" ".join(t)))
             for i, t in enumerate(docs)],
            "doc_id long, text string, source string, lang string, "
            "n_chars long",
        ).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
        a = {r["doc_id"]: r for r in
             x2s_substring_span_dedup(spark, sf_dir).collect()}
        b = {r["doc_id"]: r for r in
             x2s3_span_dedup_mapcombine(spark, sf_dir).collect()}
        assert a == b

    run()


def test_x1d_url_normalization_collapses_variants(spark):
    """x1d law on handmade URLs: scheme, www, case of the host, query
    strings, and fragments are all cosmetic — the four variants of one
    page collapse to a single canonical URL; a different path does
    not."""
    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        normalize_urls,
    )

    urls = spark.createDataFrame(
        [
            ("https://www.Example.COM/a/b?utm=1",),
            ("http://example.com/a/b#frag",),
            ("https://EXAMPLE.com/a/b",),
            ("https://www.example.com/a/b",),
            ("https://example.com/a/c",),
        ],
        "url string",
    )
    got = {
        r["norm_url"]: r["n"]
        for r in normalize_urls(urls)
        .groupBy("norm_url")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == {"example.com/a/b": 4, "example.com/a/c": 1}
    domains = {r["domain"] for r in normalize_urls(urls).collect()}
    assert domains == {"example.com"}


def test_x1d_pathless_url_normalizes_to_bare_domain(spark):
    """Advice-caught law gap: parse_url PATH is NULL for a path-less URL
    and concat(domain, NULL) would NULL the whole norm_url, while the
    oracle's regex surgery yields the bare domain — the helper must
    coalesce so both laws agree (and the two path-less variants of one
    host collapse together)."""
    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        normalize_urls,
    )

    urls = spark.createDataFrame(
        [
            ("https://www.Example.COM",),
            ("http://example.com?utm=1",),
            ("https://example.com/",),
        ],
        "url string",
    )
    rows = normalize_urls(urls).collect()
    assert all(r["norm_url"] is not None for r in rows)
    got = {r["norm_url"] for r in rows}
    # '/' is a real (root) path and stays distinct from the bare domain,
    # exactly as the oracle's substr-after-host law keeps it
    assert got == {"example.com", "example.com/"}


def test_x3u_knn_graph_matches_naive_per_cell(spark):
    """Property: on random small vector sets, the HOF-expanded kNN graph
    equals a naive Python recomputation — same cell assignment (argmax
    with (cos, cent_id) tie law), same per-member top-3 under the
    (round(cos,4) desc, neighbor_id) tie law. Duplicate vectors, cos
    ties, and singleton cells all arise naturally."""
    import math

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        _X3U_K,
        assign_cells,
        knn_graph_from_cells,
    )

    DIM, K_CENT = 3, 3
    vec = st.lists(
        st.integers(-2, 2).map(float), min_size=DIM, max_size=DIM
    )

    @given(vecs=st.lists(vec, min_size=4, max_size=10))
    @settings(
        max_examples=4,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(vecs):
        rows = [(i, v) for i, v in enumerate(vecs)]
        df = spark.createDataFrame(rows, "vec_id long, emb array<double>")
        cents = [(i, v) for i, v in rows[:K_CENT]]
        cdf = spark.createDataFrame(cents, "cent_id long, cemb array<double>")

        def nrm(v):
            return math.sqrt(sum(x * x for x in v))

        def cos(a, b):
            return sum(x * y for x, y in zip(a, b)) / (nrm(a) * nrm(b))

        # python reference: assignment then per-member top-k in the cell
        live = [(i, v) for i, v in rows if nrm(v) > 0]
        lc = [(i, v) for i, v in cents if nrm(v) > 0]
        cells = {}
        for i, v in live:
            best = (-2.0, -1)
            for cid, cv in lc:
                c = cos(v, cv)
                if c > best[0] or (c == best[0] and cid < best[1]):
                    best = (c, cid)
            if best[1] >= 0:
                cells.setdefault(best[1], []).append((i, v))
        expect = set()
        for cell, ms in cells.items():
            if len(ms) < 2:
                continue
            for i, v in ms:
                cands = sorted(
                    (
                        (-round(cos(v, w), 4), j)
                        for j, w in ms
                        if j != i
                    ),
                )[:_X3U_K]
                for r, (negc, j) in enumerate(cands, start=1):
                    expect.add((i, j, cell, r, -negc))

        cell_df = assign_cells(df, cdf)
        got = {
            (
                r["vec_id"],
                r["neighbor_id"],
                r["cell"],
                r["rank"],
                r["cos_sim"],
            )
            for r in knn_graph_from_cells(cell_df).collect()
        }
        assert got == expect

    run()


def test_x3v_recall_monotone_in_nprobe(spark):
    """x3v law: probing more cells can only ADD candidates, so
    recall@3 is non-decreasing in nprobe, and every recall sits in
    [0, 1] with hits <= 3 * n_probes."""
    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        x3v_knn_graph_recall,
    )

    rows = {
        r["nprobe"]: r
        for r in x3v_knn_graph_recall(spark, "/root/testdata/sf0.001").collect()
    }
    assert set(rows) == {1, 2}
    for r in rows.values():
        assert 0.0 <= r["mean_recall"] <= 1.0
        assert r["n_hits"] <= 3 * r["n_probes"]
    assert rows[2]["mean_recall"] >= rows[1]["mean_recall"]
    assert rows[2]["n_hits"] >= rows[1]["n_hits"]


def test_x3v_probe_rank1_matches_assign_cells(spark):
    """Law-sync guard for the two cell-ranking routes: x3v's top-N sort
    (probe side) must agree at rank 1 with assign_cells' argmax fold
    (member side) for EVERY vector — multi-probe semantics depend on
    the probe's first cell being the member's home cell. Executable
    single-siting: if either law drifts, this fails before any recall
    number goes wrong."""
    from pyspark.sql import functions as F

    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        _centroid_array,
        assign_cells,
    )
    from ssn_college_software_architecture_assignments__spark.operators.similarity import (
        _dvec,
    )

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"), _dvec("embedding").alias("cemb")
    )
    vecs = emb.select("vec_id", _dvec("embedding").alias("emb"))
    home = assign_cells(vecs, centroids).select("vec_id", "cell")
    ranked1 = (
        vecs.withColumn("nrm", F.expr(
            "sqrt(aggregate(transform(emb, x -> x * x), 0D, (a, v) -> a + v))"
        ))
        .filter(F.col("nrm") > 0)
        .crossJoin(F.broadcast(_centroid_array(centroids)))
        .select(
            "vec_id",
            F.expr(
                """
                transform(slice(array_sort(
                  transform(cents, c -> named_struct(
                    'cos', aggregate(zip_with(emb, c.cemb, (x, y) -> x * y),
                                     0D, (acc, v) -> acc + v) / (nrm * c.cnrm),
                    'cid', c.cent_id)),
                  (l, r) -> CASE WHEN l.cos > r.cos THEN -1
                                 WHEN l.cos < r.cos THEN 1
                                 WHEN l.cid < r.cid THEN -1
                                 WHEN l.cid > r.cid THEN 1
                                 ELSE 0 END), 1, 1), s -> s.cid)[0]
                """
            ).alias("rank1"),
        )
    )
    diff = home.join(ranked1, "vec_id").filter(
        F.col("cell") != F.col("rank1")
    )
    assert diff.count() == 0


def test_x3w_multiprobe_graph_matches_naive_and_recall_is_monotone(spark):
    """x3w laws on random small corpora: (1) the two-stage cell-join +
    merge expansion equals a naive Python multi-probe recomputation
    (top-2 probe cells by (cos desc, cid), candidates = union of those
    cells' members, top-3 under (round(cos,4) desc, nid)); (2) the
    monotonicity theorem — per-vector truth hits of the repaired graph
    never drop below the home-cell graph's, because any displacer of a
    truth edge under the shared total order is itself a truth edge."""
    import math

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        _X3U_K,
        _X3W_NPROBE,
        assign_cells,
        knn_graph_from_cells,
        multiprobe_knn_graph,
    )

    DIM, K_CENT = 3, 3
    vec = st.lists(st.integers(-2, 2).map(float), min_size=DIM, max_size=DIM)

    @given(vecs=st.lists(vec, min_size=4, max_size=10))
    @settings(
        max_examples=4,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(vecs):
        rows = [(i, v) for i, v in enumerate(vecs)]
        df = spark.createDataFrame(rows, "vec_id long, emb array<double>")
        cents = rows[:K_CENT]
        cdf = spark.createDataFrame(cents, "cent_id long, cemb array<double>")

        def nrm(v):
            return math.sqrt(sum(x * x for x in v))

        def cos(a, b):
            return sum(x * y for x, y in zip(a, b)) / (nrm(a) * nrm(b))

        live = [(i, v) for i, v in rows if nrm(v) > 0]
        lc = [(i, v) for i, v in cents if nrm(v) > 0]
        if not lc:
            return
        # python reference: home assignment + ordered probe-cell list
        home_cell, probe_cells = {}, {}
        for i, v in live:
            ranked = sorted(((-cos(v, cv), cid) for cid, cv in lc))
            home_cell[i] = ranked[0][1]
            probe_cells[i] = [cid for _, cid in ranked[:_X3W_NPROBE]]
        members = {}
        for i, _v in live:
            members.setdefault(home_cell[i], []).append(i)
        emb = dict(live)

        def topk(i, cand_ids):
            ranked = sorted(
                (-round(cos(emb[i], emb[j]), 4), j) for j in cand_ids if j != i
            )[:_X3U_K]
            return [j for _, j in ranked]

        expect = set()
        for i, _v in live:
            cands = [j for c in probe_cells[i] for j in members.get(c, [])]
            for r, j in enumerate(topk(i, cands), start=1):
                expect.add((i, j, r))

        cell_df = assign_cells(df, cdf)
        got = {
            (r["q_id"], r["neighbor_id"], r["rank"])
            for r in multiprobe_knn_graph(cell_df, cdf).collect()
        }
        assert got == expect

        # monotonicity vs the global-truth convention, per vector
        all_ids = [i for i, _ in live]
        truth = {i: set(topk(i, all_ids)) for i in all_ids}
        home_edges = {}
        for r in knn_graph_from_cells(cell_df).collect():
            home_edges.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
        rep_edges = {}
        for i, j, _r in got:
            rep_edges.setdefault(i, set()).add(j)
        for i in all_ids:
            h_home = len(home_edges.get(i, set()) & truth[i])
            h_rep = len(rep_edges.get(i, set()) & truth[i])
            assert h_rep >= h_home, f"repair lost recall for vec {i}"

    run()


def test_x1e_bloom_has_no_false_negatives_and_matches_python_law(spark):
    """x1e laws on handmade corpora: (1) the 64-word portable bloom
    equals a bit-for-bit Python recomputation of the md5-slice law;
    (2) NO false negative is possible — every text present in the
    corpus probes fully set; (3) a fresh text may collide (false
    positive) but only by setting bits some corpus member set."""
    import hashlib

    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        _X1E_BITS_PER_WORD,
        _X1E_K,
        _X1E_M,
        build_portable_bloom,
    )

    texts = [f"doc number {i} body" for i in range(40)]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = {r["word"]: r["bits"] for r in build_portable_bloom(df).collect()}

    def positions(t):
        h = hashlib.md5(t.encode()).hexdigest()
        return [int(h[3 * i : 3 * i + 3], 16) % _X1E_M for i in range(_X1E_K)]

    expect: dict[int, int] = {}
    for t in texts:
        for p in positions(t):
            w, b = divmod(p, _X1E_BITS_PER_WORD)
            expect[w] = expect.get(w, 0) | (1 << b)
    assert got == expect

    def is_flagged(t):
        return all(
            (expect.get(p // _X1E_BITS_PER_WORD, 0) >> (p % _X1E_BITS_PER_WORD))
            & 1
            for p in positions(t)
        )

    assert all(is_flagged(t) for t in texts), "bloom false negative"
    fresh = [f"unseen text {i}" for i in range(200)]
    fpr = sum(is_flagged(t) for t in fresh) / len(fresh)
    # 40 docs x 3 bits in 4032 -> theoretical fpr ~ (1-e^(-120/4032))^3 ~ 2e-5
    assert fpr < 0.05


def test_x3x_admission_laws_planted_skewed_batch(spark, tmp_path):
    """x3x laws on a handmade corpus: (a) CONSERVATION — per cell
    n_after = n_before + n_added and the totals account for every
    non-zero vector; (b) NO-ADMISSION IDENTITY — a cell receiving no
    batch vector reports drift exactly 1e6 (cos == 1, floored), never
    epsilon-close; (c) SPLIT TRIGGER — a batch planted entirely onto
    one centroid drives exactly that cell over the 2x-average-load
    integer threshold; (d) the drifted cell's value is strictly below
    1e6 and matches a python recomputation of the same rounded-sum
    law."""
    import math

    import pandas as pd

    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        _X3X_K,
        _X3X_SCALE,
        x3x_incremental_ivf_admission,
    )

    # 16 centroids = vec_id < 16 (one-hot-ish, mutually far); base
    # members (ids 16..47, % 5 != 0) sit near their id%16 centroid;
    # batch members (ids 50..105 step 5, % 5 == 0) ALL equal centroid
    # 3's direction -> every admission lands in cell 3
    dim = 8
    rows = []
    for vid in range(16):
        v = [0.0] * dim
        v[vid % dim] = 1.0
        v[(vid // dim) + 4] += 0.5  # make the 16 centroids distinct
        rows.append((vid, v, 0))
    for vid in range(16, 48):
        if vid % 5 == 0:
            continue
        c = vid % 16
        v = [0.0] * dim
        v[c % dim] = 1.0
        v[(c // dim) + 4] += 0.5
        v[(vid * 3) % dim] += 0.01  # jitter so means move
        rows.append((vid, v, 0))
    target = [0.0] * dim
    target[3] = 1.0
    target[4] += 0.5
    for vid in range(50, 110, 5):
        rows.append((vid, list(target), 0))
    # 9 extra members sized to make the split threshold BOUNDARY-TIGHT:
    # total nonzero vectors becomes 63 and cell 1 lands exactly at
    # n_after = 8, where 16*8 = 128 > 2*63 = 126 flags but a total of
    # 64 (the zero-norm vector below leaking into total_after) gives
    # 128 > 128 = False — so the flag itself witnesses the exclusion
    for vid, c in [(201, 1), (202, 1), (203, 1), (204, 1), (206, 1),
                   (207, 2), (208, 2), (209, 2), (211, 2)]:
        v = [0.0] * dim
        v[c % dim] = 1.0
        v[(c // dim) + 4] += 0.5
        rows.append((vid, v, 0))
    # a planted ZERO-NORM vector: the cross-function invariant behind
    # x3x's total_after shortcut (count of l2_norm>0 vectors ==
    # sum(n_after)) holds only because assign_cells excludes nrm>0 —
    # this row pins that both sides exclude it, so a future change to
    # assign_cells' exclusion rule (or to the tot scan's filter) fails
    # here instead of silently skewing needs_split
    zero_vid = 999
    rows.append((zero_vid, [0.0] * dim, 0))
    pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]).to_parquet(
        tmp_path / "embeddings.parquet"
    )

    out = {r["cell"]: r for r in x3x_incremental_ivf_admission(
        spark, str(tmp_path)
    ).collect()}
    n_vecs = len(rows) - 1  # the zero-norm vector joins NO cell
    assert sum(r["n_before"] + r["n_added"] for r in out.values()) == n_vecs
    assert all(
        r["n_after"] == r["n_before"] + r["n_added"] for r in out.values()
    )
    # every PLANTED batch vector equals centroid 3's direction; the
    # centroid ids 0/5/10/15 are themselves % 5 == 0, so each admits
    # its own vector into its own cell — part of the law, not noise
    assert out[3]["n_added"] == 12
    for c, r in out.items():
        if c != 3:
            assert r["n_added"] == (1 if c in (0, 5, 10, 15) else 0), c
    # (b) untouched cells: drift EXACTLY 1e6
    assert all(
        r["drift_cos_1e6"] == _X3X_SCALE
        for r in out.values()
        if r["n_added"] == 0 and r["n_before"] > 0
    )
    # (c) the integer split trigger fires for cells 1 and 3 alone;
    # cell 1 sits exactly on the boundary (128 > 126), so this flag is
    # ALSO the witness that the operator's internal total_after scan
    # excluded the zero-norm vector (a total of 64 would unflag it)
    total_after = sum(r["n_after"] for r in out.values())
    assert total_after == n_vecs
    for c, r in out.items():
        assert r["needs_split"] == (r["n_after"] * _X3X_K > 2 * total_after), c
    assert out[3]["needs_split"]
    assert out[1]["needs_split"] and out[1]["n_after"] == 8
    assert sum(bool(r["needs_split"]) for r in out.values()) == 2
    # ... and needs_split IS the maintenance loop's shared load law at
    # ratio 2/1 (the Column x3x2/x3x4/x3x6 read at their own ratios)
    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        load_vs_average,
    )

    law = load_vs_average(">", 2, 1, F.col("n_after"), F.lit(total_after))
    report = x3x_incremental_ivf_admission(spark, str(tmp_path))
    assert report.filter(F.col("needs_split") != law).count() == 0
    # (d) drifted cell: strictly below 1e6 and equal to the python
    # mirror of the rounded-sum law
    members0 = [
        v for vid, v, _ in rows
        if vid % 5 != 0 and 16 <= vid < 48 and vid % 16 == 3
    ]
    # centroid vectors themselves are corpus members too (cell 3 holds
    # vec_id 3 as well) — recompute assignment-free: cell 3's base set
    # is {vec 3} + the id%16==3 jittered members
    base3 = [r[1] for r in rows if r[0] == 3] + members0
    assert out[3]["n_before"] == len(base3)  # the mirror's premise
    add3 = [list(target)] * 12
    s0 = [round(sum(v[i] for v in base3), 4) for i in range(dim)]
    s1 = [round(sum(v[i] for v in add3), 4) for i in range(dim)]
    n0, n1 = len(base3), len(add3)
    mb = [x / n0 for x in s0]
    ma = [(x + y) / (n0 + n1) for x, y in zip(s0, s1)]
    dot = sum(x * y for x, y in zip(mb, ma))
    cos = dot / (
        math.sqrt(sum(x * x for x in mb)) * math.sqrt(sum(x * x for x in ma))
    )
    assert out[3]["drift_cos_1e6"] == math.floor(cos * _X3X_SCALE)
    assert out[3]["drift_cos_1e6"] < _X3X_SCALE


def _spark_ls_components(spark, n, edges):
    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        large_star_small_star,
    )

    nodes = spark.range(n).select(F.col("id").cast("long"))
    if edges:
        e = spark.createDataFrame(
            [(int(a), int(b)) for a, b in edges], "src long, dst long"
        )
    else:
        e = spark.createDataFrame([], "src long, dst long")
    return sorted(
        (r["id"], r["label"])
        for r in large_star_small_star(nodes, e).collect()
    )


def test_large_star_small_star_planted_3chain(spark):
    """The law x2e2 exists for: A~B and B~C with A not~ C must land all
    three in ONE cluster labeled min(A). Single-hop clustering (each
    PAIR keeps its own min — the pairs -> groupBy shortcut) provably
    mislabels this topology, which the test computes explicitly so the
    contrast is pinned, not asserted by prose."""
    edges = [(10, 20), (20, 30), (41, 40)]
    got = _spark_ls_components(spark, 50, edges)
    labels = dict(got)
    assert labels[10] == labels[20] == labels[30] == 10
    assert labels[40] == labels[41] == 40
    assert labels[45] == 45  # isolated node keeps its own id
    # the single-hop shortcut: each node takes min over its DIRECT pair
    # partners only — node 30 never sees 10
    single_hop = {}
    for a, b in edges:
        m = min(a, b)
        single_hop[a] = min(single_hop.get(a, a), m)
        single_hop[b] = min(single_hop.get(b, b), m)
    assert single_hop[30] == 20 != labels[30]  # the mislabel x2e2 fixes
    # chain 1-2-3 plus edge 5-4 plus isolated 9: transitivity groups the
    # whole chain although (1,3) is not an edge, and a reversed edge
    # still labels to its minimum
    labels = dict(_spark_ls_components(spark, 10, [(1, 2), (2, 3), (5, 4)]))
    assert {v: labels[v] for v in (1, 2, 3, 4, 5, 9)} == {
        1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 9: 9
    }


def test_large_star_small_star_long_chain_converges(spark):
    """A 60-node path has diameter 59 >> the 16-round budget; the
    edge-rewriting rounds must still converge (O(log n) is the paper's
    bound) and label every node 0: a propagation that moved the minimum
    one hop per round would return wrong labels here without an error."""
    n = 60
    edges = [(i, i + 1) for i in range(n - 1)]
    assert _spark_ls_components(spark, n, edges) == [(v, 0) for v in range(n)]


def test_large_star_small_star_match_union_find(spark):
    """Property: arbitrary small graphs (self-loops, duplicate and
    reversed edges, isolated nodes) resolve to exactly the union-find
    components with min-id canonical labels."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    n = 12

    @given(
        edges=st.lists(
            st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)),
            min_size=0,
            max_size=18,
        )
    )
    @settings(
        max_examples=4,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(edges):
        assert _spark_ls_components(spark, n, edges) == _union_find_components(
            n, edges
        )

    run()


@pytest.mark.parametrize("variant", ["capped", "full"])
def test_x2e2_planted_gram_chain(spark, tmp_path, variant):
    """x2e2 (and its uncapped twin x2e2b) end-to-end on a handmade
    corpus where the shared-gram evidence CHAINS: A and B share exactly
    3 distinct 3-grams, B and C share 3 OTHER grams, A and C share only
    1 (< _X2E2_MIN_SHARED) — so the pair stage never links A-C, yet the
    closure must. Also pins the threshold boundary (a 2-shared-gram
    pair stays unlinked) and the cluster_size / is_canonical laws;
    x2e2b additionally must assert closure_converged on every row."""
    import os

    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        x2e2_global_dedup_clusters,
        x2e2b_global_dedup_clusters_full,
    )

    op = (
        x2e2_global_dedup_clusters
        if variant == "capped"
        else x2e2b_global_dedup_clusters_full
    )
    rows = [
        (10, "a b c d e f", "en", 11),        # grams: abc bcd cde def
        (11, "a b c d e x y", "en", 13),      # shares abc bcd cde with 10
        (12, "c d e x y z", "en", 11),        # shares cde dex exy with 11,
                                              # only cde with 10
        (13, "p q r s t", "en", 9),           # grams: pqr qrs rst
        (14, "p q r s u", "en", 9),           # shares pqr qrs = 2 < 3: NO edge
        (15, "lone w1 w2 w3", "en", 13),      # singleton
    ]
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long"
    ).write.parquet(f"{sf_dir}/documents.parquet")
    got = {r["doc_id"]: r for r in op(spark, sf_dir).collect()}
    assert len(got) == 6
    if variant == "full":
        assert all(r["closure_converged"] for r in got.values())
    # the chain closes: one cluster {10, 11, 12} labeled 10
    assert got[10]["cluster_id"] == got[11]["cluster_id"] == 10
    assert got[12]["cluster_id"] == 10
    assert got[10]["cluster_size"] == got[12]["cluster_size"] == 3
    # 2 shared grams is below the bar: 13 and 14 stay apart
    assert got[13]["cluster_id"] == 13 and got[14]["cluster_id"] == 14
    assert got[13]["cluster_size"] == got[14]["cluster_size"] == 1
    assert got[15]["cluster_id"] == 15
    # exactly one canonical per cluster, always the min id
    assert got[10]["is_canonical"] and not got[11]["is_canonical"]
    assert not got[12]["is_canonical"]
    canon = [d for d, r in got.items() if r["is_canonical"]]
    assert sorted(canon) == [10, 13, 14, 15]


def test_x2e3_bridge_doc_merges_standing_clusters(spark, tmp_path):
    """x2e3 end-to-end on a handmade corpus exercising all three
    verdicts: standing clusters {1,2}, {3,4}, {5,6} (each pair shares
    exactly 3 grams); batch doc 10 BRIDGES {1,2} and {3,4} (>= 3 shared
    grams with each side) -> one 'merge' cluster absorbing 2 standing
    families; batch doc 50 joins {5,6} only -> 'extend'; batch doc 20
    is a vocab-isolated singleton -> 'new'; batch docs 30/40 pair with
    each other only -> a 2-member 'new'. The oracle-equivalent facts
    (member counts, absorbed counts, min-id labels) are hand-derived."""
    import os

    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        x2e3_incremental_closure,
    )

    rows = [
        # standing corpus (doc_id % 10 != 0)
        (1, "a b c d e f", "en", 11),       # abc bcd cde def
        (2, "a b c d e y", "en", 11),       # shares abc bcd cde with 1
        (3, "p q r s t u", "en", 11),       # pqr qrs rst stu
        (4, "p q r s t z", "en", 11),       # shares pqr qrs rst with 3
        (5, "g h i j k l", "en", 11),       # ghi hij ijk jkl
        (6, "g h i j k z3", "en", 12),      # shares ghi hij ijk with 5
        # batch (doc_id % 10 == 0)
        (10, "a b c d e p q r s t", "en", 19),  # bridges {1,2} and {3,4}
        (20, "k l m n", "en", 7),               # isolated singleton
        (30, "u v w x y z1", "en", 12),         # pairs with 40 only
        (40, "u v w x y z2", "en", 12),
        (50, "g h i j k m", "en", 11),          # extends {5,6}
    ]
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long"
    ).write.parquet(f"{sf_dir}/documents.parquet")
    got = {
        r["cluster_id"]: r
        for r in x2e3_incremental_closure(spark, sf_dir).collect()
    }
    assert set(got) == {1, 5, 20, 30}
    assert all(r["closure_converged"] for r in got.values())
    merge = got[1]
    assert merge["n_members"] == 5 and merge["n_batch_docs"] == 1
    assert merge["n_standing_absorbed"] == 2 and merge["verdict"] == "merge"
    ext = got[5]
    assert ext["n_members"] == 3 and ext["n_batch_docs"] == 1
    assert ext["n_standing_absorbed"] == 1 and ext["verdict"] == "extend"
    single = got[20]
    assert single["n_members"] == 1 and single["n_batch_docs"] == 1
    assert single["n_standing_absorbed"] == 0 and single["verdict"] == "new"
    pair = got[30]
    assert pair["n_members"] == 2 and pair["n_batch_docs"] == 2
    assert pair["n_standing_absorbed"] == 0 and pair["verdict"] == "new"


def test_x2e2b_lp_oracle_convergence_guard_fires():
    """The x2e2b oracle's safety law, pinned in DuckDB itself: on an
    8-node path seeded at node 0 (eccentricity 7), min-label
    propagation with only 2 rounds must report lconv.ok = FALSE (the
    loud-mismatch branch — labels at that point are WRONG and the
    guard is the only thing standing between that and a silent green),
    while 8 rounds must report ok = TRUE with every label 0. Also pins
    that _X2E2B_ROUNDS carries >= 2x margin over the measured
    convergence depth (11 rounds at sf0.01, 10 at sf0.1)."""
    import duckdb

    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        _X2E2B_ROUNDS,
        _lp_label_ctes,
    )

    def run(rounds):
        edges = ", ".join(f"({i}, {i + 1})" for i in range(7))
        sql = f"""
WITH nodes AS (SELECT * FROM (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) v(id)),
e AS (SELECT * FROM (VALUES {edges}) v(a, b)),
sym AS (SELECT a AS src, b AS dst FROM e UNION SELECT b, a FROM e),
{_lp_label_ctes("SELECT id FROM nodes", "sym", "l", rounds)}
SELECT llab.id, llab.cluster_id, lconv.ok
FROM llab CROSS JOIN lconv ORDER BY llab.id
"""
        return duckdb.connect().execute(sql).fetchall()

    short = run(2)
    assert all(not ok for _, _, ok in short), "2 rounds must NOT converge"
    assert any(lbl != 0 for _, lbl, _ in short), "and labels ARE still wrong"
    full = run(8)
    assert all(ok for _, _, ok in full)
    assert [lbl for _, lbl, _ in full] == [0] * 8
    assert _X2E2B_ROUNDS >= 2 * 11


def test_x2z_audit_truth_counts_and_rate_laws(spark):
    """x2z laws on a planted corpus with python-derivable truth: doc 0
    == doc 1 (J=1), doc 2 overlaps each at exactly J=0.5 (4 shared of 8
    union shingles), doc 3 is disjoint. n_truth per threshold must
    equal the python shingle-Jaccard count; the identical pair is
    ALWAYS a banded candidate so n_hit >= 1 everywhere; and both rates
    must equal their floored micro-ratio definitions."""
    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        _X2Z_TAUS,
        x2z_lsh_quality_audit,
    )
    import ssn_college_software_architecture_assignments__spark.operators.dedup as dmod

    texts = {
        0: "a b c d e f g h",
        1: "a b c d e f g h",
        2: "a b c d e f x y",
        3: "p q r s t u",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )

    class _Cat:
        def __init__(self, spark, sf_dir):
            self.documents = df

    orig = dmod.Catalog
    dmod.Catalog = _Cat
    try:
        rows = {r["tau_pct"]: r for r in x2z_lsh_quality_audit(spark, "x").collect()}
    finally:
        dmod.Catalog = orig

    def shingles(t):
        toks = t.split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sh = {i: shingles(t) for i, t in texts.items()}
    ids = sorted(sh)
    jac = {
        (a, b): len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        for ai, a in enumerate(ids)
        for b in ids[ai + 1 :]
        if sh[a] & sh[b]
    }
    assert jac[(0, 2)] == 0.5 and jac[(1, 2)] == 0.5 and jac[(0, 1)] == 1.0

    prev_truth = None
    for pct, num, den in _X2Z_TAUS:
        r = rows[pct]
        # integer-safe recompute: den*n_common >= num*union
        want_truth = sum(
            1
            for (a, b) in jac
            if den * len(sh[a] & sh[b]) >= num * len(sh[a] | sh[b])
        )
        assert r["n_truth"] == want_truth
        assert 1 <= r["n_hit"] <= min(r["n_truth"], r["n_cand"])
        assert r["precision_micro"] == (
            (1_000_000 * r["n_hit"]) // r["n_cand"] if r["n_cand"] else 0
        )
        assert r["recall_micro"] == (
            (1_000_000 * r["n_hit"]) // r["n_truth"] if r["n_truth"] else 0
        )
        if prev_truth is not None:
            assert r["n_truth"] <= prev_truth  # monotone in tau
        prev_truth = r["n_truth"]
    assert rows[30]["n_truth"] == 3 and rows[70]["n_truth"] == 1
    # J=1 pair collides in every band -> at tau 70 truth={identical pair},
    # hit is certain: recall exactly 1e6
    assert rows[70]["n_hit"] == 1 and rows[70]["recall_micro"] == 1_000_000


def test_x2j2_oracle_composes_registered_training_chain():
    """x2j2's oracle must reuse the REGISTERED x3r2 training CTE chain
    byte-for-byte (the r15 split law) — a drifted copy would let the
    two training laws diverge silently."""
    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        _X2J2_ORACLE,
    )
    from ssn_college_software_architecture_assignments__spark.operators.similarity import (
        _X3R2_ORACLE,
        _x3r2_ctes,
    )

    chain = _x3r2_ctes()
    assert _X3R2_ORACLE.startswith(chain)
    assert _X2J2_ORACLE.startswith(chain)


def test_x2j2_semdedup_planted_paraphrase_lower_id_survives(spark):
    """x2j2 law on a planted 2-D corpus: v8 is a near-copy of v0
    (cos ~ 1 >= 0.45) and must drop while the LOWER id v0 survives;
    v9 shares the cluster but sits below the threshold (cos 0.406)
    and must be kept; v1..v7 are far singletons that keep themselves;
    the zero vector v10 is excluded entirely. The same fixture runs
    through the DuckDB oracle so BOTH halves of the engine-identical
    fold pin to the same hand-computed keep set."""
    import duckdb
    import pandas as pd
    import ssn_college_software_architecture_assignments__spark.operators.similarity as smod
    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        _X2J2_ORACLE,
        x2j2_semdedup_prune,
    )

    vecs = [
        (0, [10.0, 0.0]),
        (1, [1000.0, 1000.0]),
        (2, [-1000.0, 1000.0]),
        (3, [1000.0, -1000.0]),
        (4, [-1000.0, -1000.0]),
        (5, [2000.0, 0.0]),
        (6, [0.0, 2000.0]),
        (7, [-2000.0, 0.0]),
        (8, [9.999, 0.001]),   # paraphrase of v0: cos ~ 1
        (9, [4.0, 9.0]),       # same cluster, cos(v0, v9) = 0.406 < 0.45
        (10, [0.0, 0.0]),      # zero norm: no defined cosine
    ]
    df = spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>"
    )

    class _Cat:
        def __init__(self, spark, sf_dir):
            self.embeddings = df

    orig = smod.Catalog
    smod.Catalog = _Cat
    try:
        rows = {r["vec_id"]: r for r in x2j2_semdedup_prune(spark, "x").collect()}
    finally:
        smod.Catalog = orig

    assert set(rows) == set(range(10)), "zero vector must be excluded"
    assert rows[0]["keep"] and not rows[8]["keep"] and rows[9]["keep"]
    fam = [rows[0], rows[8], rows[9]]
    assert len({r["cluster_id"] for r in fam}) == 1
    assert all(r["cluster_size"] == 3 and r["n_kept"] == 2 for r in fam)
    for vid in range(1, 8):
        assert rows[vid]["keep"] and rows[vid]["cluster_size"] == 1

    # the DuckDB half folds to the SAME keep set on the same bytes
    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame(
            {"vec_id": [v for v, _ in vecs], "embedding": [e for _, e in vecs]}
        ),
    )
    oracle = {
        int(r[1]): bool(r[2])
        for r in con.execute(_X2J2_ORACLE).fetchall()
    }
    assert oracle == {vid: rows[vid]["keep"] for vid in rows}


def test_x2e4_planted_bridge_removal_splits_cluster(spark):
    """x2e4 law on a planted corpus exercising all three verdicts:
    tombstoning bridge doc 3 SPLITS {1,3,4} into {1} and {4} (1~3 and
    3~4 share >= 3 shingles; 1 and 4 share none); tombstoning leaf 23
    only SHRINKS {5,6,23} (the 5~6 edge survives); singleton {13}
    DISSOLVES; the untouched cluster {7,8} must not appear at all."""
    import ssn_college_software_architecture_assignments__spark.operators.dedup as dmod
    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        x2e4_closure_retraction,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g"),
            (3, "a b c d e f q r s t u"),     # bridge: ~1 and ~4
            (4, "q r s t u v w"),
            (5, "h i j k l m n"),
            (6, "h i j k l m z"),
            (23, "i j k l m n"),              # leaf of {5,6,23}
            (13, "z1 z2 z3 z4"),              # tombstoned singleton
            (7, "u1 u2 u3 u4 u5 u6"),
            (8, "u1 u2 u3 u4 u5 u7"),
        ],
        "doc_id long, text string",
    )

    class _Cat:
        def __init__(self, spark, sf_dir):
            self.documents = df

    orig = dmod.Catalog
    dmod.Catalog = _Cat
    try:
        rows = {
            r["standing_cluster"]: r
            for r in x2e4_closure_retraction(spark, "x").collect()
        }
    finally:
        dmod.Catalog = orig

    assert set(rows) == {1, 5, 13}, "untouched {7,8} must be absent"
    assert all(r["closure_converged"] for r in rows.values())
    r1 = rows[1]
    assert (r1["n_members"], r1["n_tombstoned"], r1["n_remaining"]) == (3, 1, 2)
    assert r1["n_new_clusters"] == 2 and r1["verdict"] == "split"
    assert r1["min_new_label"] == 1
    r5 = rows[5]
    assert (r5["n_members"], r5["n_tombstoned"], r5["n_remaining"]) == (3, 1, 2)
    assert r5["n_new_clusters"] == 1 and r5["verdict"] == "shrink"
    assert r5["min_new_label"] == 5
    r13 = rows[13]
    assert (r13["n_members"], r13["n_tombstoned"], r13["n_remaining"]) == (1, 1, 0)
    assert r13["n_new_clusters"] == 0 and r13["verdict"] == "dissolved"
    assert r13["min_new_label"] is None


def test_x2j2_fold_halves_match_python_reference_randomized(spark):
    """Randomized cross-engine law for the x2j2 greedy keep fold: 5
    seeded random member sets (float32-truncated so Spark's
    array<float> ingest and DuckDB's registered float64 frame see
    IDENTICAL doubles) run through the Spark F.aggregate half, the
    DuckDB list_reduce half (on a REGISTERED in-memory frame — the
    layout that corrupted the identity-return fold r16 fixed), and a
    pure-python left-fold reference. All three keep sets must agree
    exactly. Dims=4 random vectors collide above tau=0.45 often, so
    drops are exercised in every seed (asserted)."""
    import math
    import random

    import duckdb
    import numpy as np
    import pandas as pd
    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        _X2J2_MEMBER_T,
        _X2J2_MERGE,
        _X2J2_SPARK_DUP,
        _X2J2_TAU,
    )

    tau = float(_X2J2_TAU)
    any_drop = False
    for seed in range(5):
        rng = random.Random(seed)
        members = []
        for vid in range(12):
            emb = [float(np.float32(rng.uniform(-1, 1))) for _ in range(4)]
            nrm = math.sqrt(sum(e * e for e in emb))
            if nrm == 0:
                continue
            members.append([float(vid), nrm] + emb)

        # python reference: ordered left fold, same association order
        kept_ref, keep_ids = [], []
        for m in members:
            dup = any(
                sum(a * b for a, b in zip(k[2:], m[2:]))
                >= tau * k[1] * m[1]
                for k in kept_ref
            )
            if not dup:
                kept_ref.append(m)
                keep_ids.append(int(m[0]))
            else:
                any_drop = True

        # Spark half: one-row frame holding the sorted member list in
        # the r19 struct layout (same ids/nrm/emb doubles as the
        # DuckDB half's array layout — the layouts differ, the law
        # must not)
        sdf = spark.createDataFrame(
            [([(int(m[0]), m[1], m[2:]) for m in members],)],
            f"members array<{_X2J2_MEMBER_T}>",
        )
        got_spark = sdf.selectExpr(
            "transform(aggregate(members, "
            f"CAST(array() AS array<{_X2J2_MEMBER_T}>), "
            f"(acc, m) -> CASE WHEN exists(acc, k -> {_X2J2_SPARK_DUP}) "
            "THEN acc ELSE array_append(acc, m) END), "
            "k -> k.id) AS kept"
        ).collect()[0]["kept"]

        # DuckDB half on a registered frame (the corrupting layout)
        con = duckdb.connect()
        con.register("mems", pd.DataFrame({"m": members}))
        got_duck = con.execute(
            "SELECT list_transform(list_reduce(l, (acc, x) -> "
            + _X2J2_MERGE
            + "), k -> CAST(k[1] AS BIGINT)) FROM ("
            "SELECT list_concat([CAST([] AS DOUBLE[][])],"
            " list([m] ORDER BY m[1])) AS l FROM mems)"
        ).fetchall()[0][0]

        assert list(got_spark) == keep_ids, f"seed {seed}: spark half"
        assert [int(x) for x in got_duck] == keep_ids, f"seed {seed}: duck half"
    assert any_drop, "fixture must exercise the drop branch"


def test_x2j2_mega_cluster_guard_raises_on_oversized_cluster(spark, monkeypatch):
    """The r17 per-cluster state guard: a trained assignment landing
    more than _X2J2_MAX_CLUSTER members in one cluster must raise
    loudly with the offending cluster id and size (the collect_list
    row would be corpus-sized under a degenerate centroid set), while
    a cluster exactly AT the bound passes through untouched. The
    assignment is monkeypatched so the oversize is planted, not
    lucky; the bound is lowered the same way (read at plan-build
    time)."""
    import ssn_college_software_architecture_assignments__spark.operators.dedup as dmod

    assigned = spark.createDataFrame(
        [(i, 0, [1.0, 0.0]) for i in range(5)],
        "vec_id long, cid long, emb array<double>",
    )
    monkeypatch.setattr(
        dmod, "x3r2_trained_assign", lambda s, d: (assigned, {})
    )
    monkeypatch.setattr(dmod, "_X2J2_MAX_CLUSTER", 3)
    with pytest.raises(Exception) as ei:
        dmod.x2j2_semdedup_prune(spark, "unused").collect()
    assert "x2j2: cluster" in str(ei.value)
    assert "5 members" in str(ei.value)

    # boundary: n_members == bound is conforming, not an error
    monkeypatch.setattr(dmod, "_X2J2_MAX_CLUSTER", 5)
    rows = dmod.x2j2_semdedup_prune(spark, "unused").collect()
    assert len(rows) == 5
    assert sorted(r["vec_id"] for r in rows) == [0, 1, 2, 3, 4]
    # identical vectors: the lowest id survives, everything else drops
    assert [r["vec_id"] for r in rows if r["keep"]] == [0]


def _x3x2_python_reference(rows, num, den, base, k):
    """Pure-python x3x2 twin with Spark's exact association order:
    left-to-right IEEE folds for every dot/norm, (cos desc, cid asc)
    assignment, the integer load trigger, farthest-first seeds and the
    2-way Lloyd step. Returns {vec_id: (cell_before, cell_after,
    was_split)}."""
    import math

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    def nrm(a):
        return math.sqrt(dot(a, a))

    cents = {vid: v for vid, v, _ in rows if vid < k}
    cnrm = {cid: nrm(v) for cid, v in cents.items() if nrm(v) > 0}
    asg = {}
    for vid, v, _ in rows:
        n = nrm(v)
        if n == 0:
            continue
        best = None
        for cid in sorted(cnrm):
            cos = dot(v, cents[cid]) / (n * cnrm[cid])
            if best is None or cos > best[0] or (cos == best[0] and cid < best[1]):
                best = (cos, cid)
        asg[vid] = best[1]
    occ = {}
    for vid, c in asg.items():
        occ[c] = occ.get(c, 0) + 1
    total = sum(occ.values())
    flagged = {c for c, n in occ.items() if den * n * k > num * total and n >= 2}
    emb = {vid: v for vid, v, _ in rows}
    out = {}
    for c in sorted(set(asg.values())):
        members = sorted(vid for vid, cc in asg.items() if cc == c)
        if c not in flagged:
            for vid in members:
                out[vid] = (c, c, False)
            continue
        sa = min(
            members,
            key=lambda vid: (
                dot(emb[vid], cents[c]) / (nrm(emb[vid]) * cnrm[c]),
                vid,
            ),
        )
        sb = min(
            (vid for vid in members if vid != sa),
            key=lambda vid: (
                dot(emb[vid], emb[sa]) / (nrm(emb[vid]) * nrm(emb[sa])),
                vid,
            ),
        )
        for vid in members:
            ca = dot(emb[vid], emb[sa]) / (nrm(emb[vid]) * nrm(emb[sa]))
            cb = dot(emb[vid], emb[sb]) / (nrm(emb[vid]) * nrm(emb[sb]))
            seed = sa if ca > cb else sb if cb > ca else min(sa, sb)
            out[vid] = (c, base + seed, True)
    return out


def test_x3x2_planted_overloaded_cell_matches_python_reference(spark, tmp_path):
    """x3x2 laws on a handmade corpus (the x3x fixture shape): an
    overloaded cell splits into the farthest-first sub-cells, every
    untouched cell's rows pass through with cell_after == cell_before,
    and EVERY decision — assignment, trigger, both seed elections, the
    Lloyd step, tie resolution — matches a pure-python reference that
    folds in Spark's exact IEEE order. A planted zero-norm vector
    joins no cell on either side."""
    import pandas as pd

    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        _X3X2_BASE,
        _X3X2_DEN,
        _X3X2_NUM,
        _X3X_K,
        x3x2_ivf_cell_split,
    )

    dim = 8
    rows = []
    for vid in range(16):
        v = [0.0] * dim
        v[vid % dim] = 1.0
        v[(vid // dim) + 4] += 0.5
        rows.append((vid, v, 0))
    # overload cell 3: 12 jittered members near centroid 3
    for j, vid in enumerate(range(100, 112)):
        v = [0.0] * dim
        v[3] = 1.0
        v[4] += 0.5
        v[(j * 3) % dim] += 0.02 * (j + 1)
        rows.append((vid, v, 0))
    # a second, mildly loaded cell: 3 members near centroid 7
    for j, vid in enumerate(range(200, 203)):
        v = [0.0] * dim
        v[7] = 1.0
        v[4] += 0.5
        v[(j * 5) % dim] += 0.03 * (j + 1)
        rows.append((vid, v, 0))
    rows.append((999, [0.0] * dim, 0))  # zero-norm: excluded everywhere
    pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]).to_parquet(
        tmp_path / "embeddings.parquet"
    )

    ref = _x3x2_python_reference(rows, _X3X2_NUM, _X3X2_DEN, _X3X2_BASE, _X3X_K)
    got = {
        r["vec_id"]: (r["cell_before"], r["cell_after"], r["was_split"])
        for r in x3x2_ivf_cell_split(spark, str(tmp_path)).collect()
    }
    assert 999 not in got and 999 not in ref
    assert got == ref
    # the fixture exercises BOTH branches: cell 3 split, some untouched
    assert any(split for _, _, split in got.values())
    assert any(not split for _, _, split in got.values())
    # every split member landed in a BASE-offset sub-cell of two seeds
    subcells = {ca for _, ca, split in got.values() if split}
    assert all(ca >= _X3X2_BASE for ca in subcells)


def test_x3x2_flagged_singleton_cell_cannot_split(spark, tmp_path):
    """The n >= 2 guard on the load trigger: with a 5-vector corpus
    every singleton cell exceeds the 9/8-average law (8*1*16 = 128 >
    9*5 = 45) yet none of them may split — only the 2-member cell
    does, into two singleton sub-cells seeded by (farthest-from-
    centroid, then farthest-from-seed)."""
    import pandas as pd

    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        _X3X2_BASE,
        x3x2_ivf_cell_split,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.0, 1.0, 0.0, 0.0], 0),
        (2, [0.0, 0.0, 1.0, 0.0], 0),
        (3, [0.0, 0.0, 0.0, 1.0], 0),
        (20, [0.1, 0.0, 1.0, 0.0], 0),  # joins cell 2
    ]
    pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]).to_parquet(
        tmp_path / "embeddings.parquet"
    )
    got = {
        r["vec_id"]: (r["cell_before"], r["cell_after"], r["was_split"])
        for r in x3x2_ivf_cell_split(spark, str(tmp_path)).collect()
    }
    assert got[0] == (0, 0, False)
    assert got[1] == (1, 1, False)
    assert got[3] == (3, 3, False)
    # cell 2 splits: seed_a = 20 (farther from centroid 2), seed_b = 2
    assert got[20] == (2, _X3X2_BASE + 20, True)
    assert got[2] == (2, _X3X2_BASE + 2, True)


def test_x3x3_centroid_table_planted_split_and_carry_through(spark, tmp_path):
    """x3x3 law on the mini split fixture (cell 2 splits into two
    singleton sub-cells, cells 0/1/3 untouched): new sub-cells carry
    their member MEAN (here: the member itself, n=1) in floor(x*1e6)
    units with is_new=true; untouched cells carry the STANDING
    centroid vector through bit-identically with their occupancy; the
    composed oracle chain starts with the x3x2 CTEs verbatim (the
    byte-identity composition law)."""
    import pandas as pd

    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        _X3X2_BASE,
        _X3X2_CTES,
        _X3X3_ORACLE,
        x3x3_post_split_centroids,
    )

    assert _X3X3_ORACLE.startswith(_X3X2_CTES)

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.0, 1.0, 0.0, 0.0], 0),
        (2, [0.0, 0.0, 1.0, 0.0], 0),
        (3, [0.0, 0.0, 0.0, 1.0], 0),
        (20, [0.1, 0.0, 1.0, 0.0], 0),  # joins cell 2 -> split
    ]
    pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]).to_parquet(
        tmp_path / "embeddings.parquet"
    )
    got = {
        (r["cell"], r["dim_idx"]): r
        for r in x3x3_post_split_centroids(spark, str(tmp_path)).collect()
    }
    cells = {c for c, _ in got}
    assert cells == {0, 1, 3, _X3X2_BASE + 2, _X3X2_BASE + 20}
    # untouched cell 0: standing centroid [1,0,0,0], one member
    assert got[(0, 0)]["centroid_1e6"] == 1_000_000
    assert got[(0, 1)]["centroid_1e6"] == 0
    assert got[(0, 0)]["n_members"] == 1
    assert got[(0, 0)]["is_new"] is False
    # new sub-cell of member 20: mean of one member = the member,
    # rounded-sum law: round(0.1, 4)/1 * 1e6 floors to 100000
    sub20 = _X3X2_BASE + 20
    assert got[(sub20, 0)]["centroid_1e6"] == 100_000
    assert got[(sub20, 2)]["centroid_1e6"] == 1_000_000
    assert got[(sub20, 0)]["n_members"] == 1
    assert got[(sub20, 0)]["is_new"] is True
    sub2 = _X3X2_BASE + 2
    assert got[(sub2, 2)]["centroid_1e6"] == 1_000_000
    assert got[(sub2, 0)]["centroid_1e6"] == 0


def test_x3z2_post_split_serving_planted_neighbors(spark, tmp_path):
    """x3z2 laws on the mini split fixture (cell 2 -> sub-cells
    BASE+2 = {2} and BASE+20 = {20}): probe selection runs over the
    POST-split centroid table, so query 2's two nearest cells are its
    own singleton sub-cell and its near-twin's — candidate set = {20}
    at rank 1 (cos 1/sqrt(1.01) -> 0.995); and query 0 (untouched
    cell) probes the BASE+20 sub-cell as its second cell and surfaces
    vector 20. (Vector 20 itself is NOT a query — the vec_id < 8 law.)
    Self never matches; ranks are contiguous from 1."""
    import pandas as pd

    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        _X3X2_BASE,
        x3z2_post_split_ivf_topk,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.0, 1.0, 0.0, 0.0], 0),
        (2, [0.0, 0.0, 1.0, 0.0], 0),
        (3, [0.0, 0.0, 0.0, 1.0], 0),
        (20, [0.1, 0.0, 1.0, 0.0], 0),  # joins cell 2 -> split
    ]
    pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]).to_parquet(
        tmp_path / "embeddings.parquet"
    )
    out = x3z2_post_split_ivf_topk(spark, str(tmp_path)).collect()
    by_q = {}
    for r in out:
        assert r["vec_id"] != r["q_id"], "self must never match"
        by_q.setdefault(r["q_id"], []).append(r)
    for q, rs in by_q.items():
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1)), q
    assert set(by_q) <= {0, 1, 2, 3}, "only vec_id < 8 may query"
    # query 2: nearest = its near-twin 20, served from the NEW sub-cell
    r2 = by_q[2][0]
    assert r2["vec_id"] == 20 and r2["cell"] == _X3X2_BASE + 20
    assert r2["cos_sim"] == 0.995
    # query 0 (untouched cell): second probe is the BASE+20 sub-cell
    # (L2 1.81 < 2.0 of every other cell), so vector 20 surfaces
    r0 = by_q[0][0]
    assert r0["vec_id"] == 20 and r0["cell"] == _X3X2_BASE + 20
    assert r0["cos_sim"] == 0.0995


def test_x3z3_recall_is_one_on_mini_fixture_and_bounded(spark, tmp_path):
    """x3z3 law on the mini split fixture: with k small and every
    neighborhood inside the probed cells, the post-split search
    recovers the exact truth — recall@k = 1.0 for every query — and
    structurally n_hits <= n_true with recall in [0, 1]."""
    import pandas as pd

    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        x3z3_post_split_recall,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.0, 1.0, 0.0, 0.0], 0),
        (2, [0.0, 0.0, 1.0, 0.0], 0),
        (3, [0.0, 0.0, 0.0, 1.0], 0),
        (20, [0.1, 0.0, 1.0, 0.0], 0),
    ]
    pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]).to_parquet(
        tmp_path / "embeddings.parquet"
    )
    out = x3z3_post_split_recall(spark, str(tmp_path)).collect()
    assert {r["q_id"] for r in out} == {0, 1, 2, 3}
    for r in out:
        assert 0 <= r["n_hits"] <= r["n_true"]
        assert 0.0 <= r["recall_at_k"] <= 1.0


def test_x2j2b_oracle_composes_both_registered_law_sites():
    """x2j2b must be pure composition: the x3x2 split chain and the
    x2j2 prune chain, both byte-identical to the registered strings
    (the r15 split law) — and the x2j2 registered string itself must
    be unchanged across the r18 builder factoring."""
    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        _X2J2_ASG_CTES,
        _X2J2_ORACLE,
        _X2J2B_ORACLE,
        _X3X2_CTES,
        _X3X2_FINAL,
        _x2j2_prune_sql,
    )

    assert _X2J2_ORACLE == f"{_X2J2_ASG_CTES},\n" + _x2j2_prune_sql("asg")
    assert _X2J2B_ORACLE.startswith(_X3X2_CTES)
    assert _X3X2_FINAL in _X2J2B_ORACLE
    assert _X2J2B_ORACLE.endswith(_x2j2_prune_sql("asg2", p="p_"))


def test_x2j2b_planted_mega_cell_splits_then_prunes(spark, monkeypatch):
    """The guard-remedy flip, pinned end to end: a planted corpus puts
    5 members in standing cell 0 (4 extras within 9 degrees of the
    centroid) — over a monkeypatched prune bound of 3, so the raw
    (un-split) prune REFUSES loudly. x2j2b splits the cell first
    (Gonzalez seeds 16 and 19 by the min-cos law, sub-assignment by
    higher cosine), leaving sub-cells {16,17} and {0,18,19}, both
    within bound — the prune then succeeds with the lowest id
    surviving each sub-cluster. The DuckDB oracle folds the same
    fixture to the same keep set (the guard is engine-input-side
    only, so no bound patch is needed there)."""
    import math

    import duckdb
    import numpy as np
    import pandas as pd
    import pytest as _pytest
    import ssn_college_software_architecture_assignments__spark.operators.dedup as dmod
    from pyspark.sql import functions as F

    def unit(deg):
        r = math.radians(deg)
        return [float(np.float32(math.cos(r))), float(np.float32(math.sin(r)))]

    rows = [(i, unit(i * 22.5)) for i in range(16)]          # standing centroids
    rows += [(16, unit(-9.0)), (17, unit(-5.0)),
             (18, unit(4.0)), (19, unit(8.0))]               # cell-0 extras
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    class _Cat:
        def __init__(self, spark, sf_dir):
            self.embeddings = df

    monkeypatch.setattr(dmod, "Catalog", _Cat)
    monkeypatch.setattr(dmod, "_X2J2_MAX_CLUSTER", 3)

    # the un-split prune refuses: standing cell 0 holds 5 > 3 members
    cent = df.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"), dmod._dvec("embedding").alias("cemb")
    )
    vecs = df.select("vec_id", dmod._dvec("embedding").alias("emb"))
    raw = dmod.assign_cells(vecs, cent).select(
        F.col("cell").alias("cid"), "vec_id", "emb"
    )
    with _pytest.raises(Exception) as ei:
        dmod._semdedup_prune(raw).collect()
    assert "x2j2: cluster 0 holds 5 members" in str(ei.value)

    # x2j2b splits first, then prunes within bound
    try:
        got = {
            r["vec_id"]: r
            for r in dmod.x2j2b_semdedup_prune_post_split(spark, "x").collect()
        }
    finally:
        spark.catalog.clearCache()
    assert set(got) == set(range(20))
    base = dmod._X3X2_BASE
    fam_a = {v for v, r in got.items() if r["cluster_id"] == base + 16}
    fam_b = {v for v, r in got.items() if r["cluster_id"] == base + 19}
    assert fam_a == {16, 17} and fam_b == {0, 18, 19}
    assert all(r["cluster_size"] <= 3 for r in got.values())
    assert got[16]["keep"] and not got[17]["keep"]
    assert got[0]["keep"] and not got[18]["keep"] and not got[19]["keep"]
    for vid in range(1, 16):
        assert got[vid]["keep"] and got[vid]["cluster_size"] == 1
        assert got[vid]["cluster_id"] == vid

    # the DuckDB half agrees on the same bytes
    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame(
            {"vec_id": [v for v, _ in rows], "embedding": [e for _, e in rows]}
        ),
    )
    oracle = {
        int(r[1]): (int(r[0]), bool(r[2]))
        for r in con.execute(dmod._X2J2B_ORACLE).fetchall()
    }
    assert oracle == {
        v: (int(r["cluster_id"]), bool(r["keep"])) for v, r in got.items()
    }


def test_x3x4_planted_underloaded_cells_merge_to_nearest_survivor(spark):
    """x3x4/x3x5 law on a hand-computed 2-D fixture: 16 standing
    centroids at 22.5-degree spacing; cell 0 holds 5 members, cells
    1..13 hold 2 each, cells 14/15 are singletons. total = 33, so the
    7/8 floor flags exactly n = 1 (128 < 231) and spares n = 2
    (256 > 231): cells 14 and 15 dissolve. Their members reassign by
    the (cos desc, cent_id) survivor argmax — v14 (315 deg) to cell 13
    (292.5, its other neighbor 337.5 is also dissolving), v15
    (337.5 deg) to cell 0 (22.5 deg away vs 45 to cell 13). Everything
    else passes through bit-identically. x3x5 then recomputes ONLY the
    receiver centroids (0 and 13) as member means, carries survivors'
    standing centroids through, and drops cells 14/15. Both engines
    fold the same bytes to the same tables."""
    import math

    import duckdb
    import numpy as np
    import pandas as pd
    import ssn_college_software_architecture_assignments__spark.operators.dedup as dmod

    def unit(deg):
        r = math.radians(deg)
        return [float(np.float32(math.cos(r))), float(np.float32(math.sin(r)))]

    rows = [(i, unit(i * 22.5)) for i in range(16)]
    rows += [(16, unit(-9.0)), (17, unit(-5.0)),
             (18, unit(4.0)), (19, unit(8.0))]            # cell-0 extras
    rows += [(20 + i, unit((1 + i) * 22.5 + 2.0)) for i in range(13)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    class _Cat:
        def __init__(self, spark, sf_dir):
            self.embeddings = df

    orig = dmod.Catalog
    dmod.Catalog = _Cat
    try:
        got = {
            r["vec_id"]: r
            for r in dmod.x3x4_ivf_cell_merge(spark, "x").collect()
        }
        cents = {
            (r["cell"], r["dim_idx"]): r
            for r in dmod.x3x5_post_merge_centroids(spark, "x").collect()
        }
    finally:
        dmod.Catalog = orig
        spark.catalog.clearCache()

    assert set(got) == set(range(33))
    merged = {v: r for v, r in got.items() if r["was_merged"]}
    assert set(merged) == {14, 15}
    assert (got[14]["cell_before"], got[14]["cell_after"]) == (14, 13)
    assert (got[15]["cell_before"], got[15]["cell_after"]) == (15, 0)
    for v, r in got.items():
        if v not in (14, 15):
            assert r["cell_after"] == r["cell_before"]

    # x3x5: receivers 0 (6 members) and 13 (3), survivors n=2,
    # dissolved cells absent, 2 dims per cell
    cells_present = {c for c, _ in cents}
    assert cells_present == set(range(14))
    assert cents[(0, 0)]["is_receiver"] and cents[(0, 0)]["n_members"] == 6
    assert cents[(13, 0)]["is_receiver"] and cents[(13, 0)]["n_members"] == 3
    for c in range(1, 13):
        assert not cents[(c, 0)]["is_receiver"]
        assert cents[(c, 0)]["n_members"] == 2
        # standing centroid carried through bit-identically
        e = unit(c * 22.5)
        assert cents[(c, 0)]["centroid_1e6"] == math.floor(e[0] * 1e6)
        assert cents[(c, 1)]["centroid_1e6"] == math.floor(e[1] * 1e6)

    # both engines fold the same bytes to the same tables
    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame(
            {"vec_id": [v for v, _ in rows], "embedding": [e for _, e in rows]}
        ),
    )
    o4 = {
        int(r[0]): (int(r[1]), int(r[2]), bool(r[3]))
        for r in con.execute(dmod._X3X4_ORACLE).fetchall()
    }
    assert o4 == {
        v: (int(r["cell_before"]), int(r["cell_after"]), bool(r["was_merged"]))
        for v, r in got.items()
    }
    o5 = {
        (int(r[0]), int(r[1])): (int(r[2]), int(r[3]), bool(r[4]))
        for r in con.execute(dmod._X3X5_ORACLE).fetchall()
    }
    assert o5 == {
        k: (int(r["centroid_1e6"]), int(r["n_members"]), bool(r["is_receiver"]))
        for k, r in cents.items()
    }


def _planted_merge_rows():
    # the x3x4 planted fixture: 16 standing centroids 22.5 degrees
    # apart, 4 extras in cell 0, one extra in each of cells 1..13, so
    # cells 14/15 are singletons under the 7/8 floor
    import math

    import numpy as np

    def unit(deg):
        r = math.radians(deg)
        return [float(np.float32(math.cos(r))), float(np.float32(math.sin(r)))]

    rows = [(i, unit(i * 22.5)) for i in range(16)]
    rows += [(16, unit(-9.0)), (17, unit(-5.0)),
             (18, unit(4.0)), (19, unit(8.0))]
    rows += [(20 + i, unit((1 + i) * 22.5 + 2.0)) for i in range(13)]
    return rows, "vec_id long, embedding array<float>"


def _mini_split_rows():
    # the x3x3/x3z2 mini split fixture: cell 2 splits into {2} and {20}
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 1.0]),
        (20, [0.1, 0.0, 1.0, 0.0]),
    ]
    return rows, "vec_id long, embedding array<double>"


@pytest.mark.parametrize(
    "fixture, export, served, flag, changed",
    [
        (_mini_split_rows, "x3x3_post_split_centroids",
         "x3z2_post_split_ivf_topk", "is_new", {1_000_002, 1_000_020}),
        (_planted_merge_rows, "x3x5_post_merge_centroids",
         "x3z6_post_merge_ivf_topk", "is_receiver", {0, 13}),
    ],
    ids=["split", "merge"],
)
def test_exported_centroids_are_the_served_table(
    spark, monkeypatch, fixture, export, served, flag, changed
):
    """One post-maintenance law: the rows x3x3/x3x5 export are exactly
    floor(1e6 x component) of the centroid table x3z2/x3z6 hand to
    serve_ivf_topk — same cells, same dims, same doubles — on the
    planted split fixture (cell 2 -> sub-cells BASE+2, BASE+20) and the
    planted merge fixture (cells 14/15 dissolve into receivers 13, 0).
    Only the changed cells carry the changed flag."""
    import math

    import ssn_college_software_architecture_assignments__spark.operators.dedup as dmod

    assert dmod._X3X2_BASE == 1_000_000  # the split case's sub-cell ids
    rows, schema = fixture()
    df = spark.createDataFrame(rows, schema)

    class _Cat:
        def __init__(self, spark, sf_dir):
            self.embeddings = df

    probed = []
    serve = dmod.serve_ivf_topk

    def spy(corpus, centroids, *args):
        probed.append(centroids)
        return serve(corpus, centroids, *args)

    monkeypatch.setattr(dmod, "Catalog", _Cat)
    monkeypatch.setattr(dmod, "serve_ivf_topk", spy)
    try:
        out = getattr(dmod, export)(spark, "x").collect()
        assert getattr(dmod, served)(spark, "x").collect()
        table = probed[0].collect()
    finally:
        spark.catalog.clearCache()

    exported = {(r["cell"], r["dim_idx"]): r["centroid_1e6"] for r in out}
    served_1e6 = {
        (r["cent_id"], i): math.floor(v * 1e6)
        for r in table
        for i, v in enumerate(r["cemb"])
    }
    assert exported == served_1e6
    assert {r["cell"] for r in out if r[flag]} == changed


def test_x3z4_oracle_and_helper_compose_registered_x3z():
    """x3z4 must be pure composition of the registered x3z chain: the
    builder with extra_pred '' IS the registered x3z string (byte
    identity across the r18 factoring), and x3z4's oracle is the same
    builder with the shared _X2E4_TOMB law appended."""
    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        _X2E4_TOMB,
        _X3Z4_ORACLE,
    )
    from ssn_college_software_architecture_assignments__spark.operators.similarity import (
        _X3Z_ORACLE,
        _x3z_sql,
    )

    assert _x3z_sql() == _X3Z_ORACLE
    extra = f" AND NOT ({_X2E4_TOMB.format(col='nz.vec_id')})"
    assert _X3Z4_ORACLE == _x3z_sql(extra)
    assert "nz.vec_id % 10 = 3" in _X3Z4_ORACLE


def test_x3z4_planted_tombstoned_top1_disappears_rank2_promotes(spark):
    """The retraction law end to end on a planted corpus: v13
    (tombstoned by the shared vec_id % 10 = 3 law) is a near-copy of
    v8, so it sits in q0's pre-retraction top-k. x3z4 must (a) never
    surface ANY tombstoned vec_id, (b) reproduce x3z's rankings
    bit-identically for queries untouched by the retraction, and (c)
    for touched queries, compact ranks below each removed candidate
    (the former neighbor's rank promotes). Tombstoned QUERIES still
    ask (q3 keeps its rows). The DuckDB oracle folds the same bytes
    to the same table."""
    import duckdb
    import pandas as pd
    import ssn_college_software_architecture_assignments__spark.operators.dedup as dmod
    import ssn_college_software_architecture_assignments__spark.operators.similarity as smod

    vecs = [
        (0, [10.0, 0.0]),
        (1, [1000.0, 1000.0]),
        (2, [-1000.0, 1000.0]),
        (3, [1000.0, -1000.0]),
        (4, [-1000.0, -1000.0]),
        (5, [2000.0, 0.0]),
        (6, [0.0, 2000.0]),
        (7, [-2000.0, 0.0]),
        (8, [9.999, 0.001]),
        (9, [4.0, 9.0]),
        (10, [0.0, 0.0]),
        (13, [9.998, 0.002]),   # tombstoned near-copy of v8
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")

    class _Cat:
        def __init__(self, spark, sf_dir):
            self.embeddings = df

    orig = smod.Catalog
    smod.Catalog = _Cat
    try:
        base = smod.x3z_trained_ivf_topk(spark, "x").collect()
        got = dmod.x3z4_tombstone_ivf_topk(spark, "x").collect()
    finally:
        smod.Catalog = orig

    tomb = lambda v: v % 10 == 3  # noqa: E731
    assert any(tomb(r["vec_id"]) for r in base), "fixture must plant a hit"
    assert all(not tomb(r["vec_id"]) for r in got)
    # tombstoned queries still ask
    assert {r["q_id"] for r in got} == {r["q_id"] for r in base}

    by_q_base = {}
    for r in sorted(base, key=lambda r: (r["q_id"], r["rnk"])):
        by_q_base.setdefault(r["q_id"], []).append(r)
    by_q_got = {}
    for r in sorted(got, key=lambda r: (r["q_id"], r["rnk"])):
        by_q_got.setdefault(r["q_id"], []).append(r)
    for q, rows in by_q_base.items():
        kept = [r for r in rows if not tomb(r["vec_id"])]
        grows = by_q_got[q]
        # same survivors in the same order, ranks compacted to 1..k
        assert [r["vec_id"] for r in grows] == [r["vec_id"] for r in kept]
        assert [r["rnk"] for r in grows] == list(range(1, len(kept) + 1))
        assert [(r["cell"], r["cos_sim"]) for r in grows] == [
            (r["cell"], r["cos_sim"]) for r in kept
        ]
        if all(not tomb(r["vec_id"]) for r in rows):
            # untouched query: bit-identical rows
            assert [tuple(r) for r in grows] == [tuple(r) for r in rows]
    # the planted flip actually happened for q0
    q0b = [r["vec_id"] for r in by_q_base[0]]
    assert 13 in q0b
    i = q0b.index(13)
    assert [r["vec_id"] for r in by_q_got[0]] == q0b[:i] + q0b[i + 1:]

    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame(
            {"vec_id": [v for v, _ in vecs], "embedding": [e for _, e in vecs]}
        ),
    )
    oracle = sorted(
        (int(r[0]), int(r[1]), int(r[2]), int(r[3]), float(r[4]))
        for r in con.execute(dmod._X3Z4_ORACLE).fetchall()
    )
    gt = sorted(
        (r["q_id"], r["rnk"], r["vec_id"], r["cell"], r["cos_sim"])
        for r in got
    )
    assert oracle == gt

    # x3z5 on the same fixture: deltas reconcile and v13's cell shows it
    smod.Catalog = _Cat
    try:
        occ = {r["cell"]: r for r in dmod.x3z5_tombstone_occupancy(spark, "x").collect()}
    finally:
        smod.Catalog = orig
    assert sum(r["n_tomb"] for r in occ.values()) == 2  # v3 and v13
    for r in occ.values():
        assert r["n_after"] == r["n_before"] - r["n_tomb"]
    o5 = {
        int(r[0]): (int(r[1]), int(r[2]), int(r[3]), int(r[4]))
        for r in con.execute(dmod._X3Z5_ORACLE).fetchall()
    }
    assert o5 == {
        c: (r["n_before"], r["n_tomb"], r["n_after"], r["tomb_ppm"])
        for c, r in occ.items()
    }


def test_x3z6_planted_post_merge_serving_uses_dissolved_cells_never(spark):
    """x3z6 law on a variant of the x3x4 planted fixture (three cell-0
    extras instead of four, so the merged-in member fits the top-5):
    dissolved cells 14/15 appear in NO candidate cell column, and v15
    — merged into cell 0 — IS SERVED from its new cell: q0's top-5
    ends [..., 1, 15], the rank-4/5 pair being the hand-computed
    cos 22.5-degree TIE between v1 (22.5) and v15 (337.5) resolved to
    the lower vec_id (the round(cos,4) DESC, vec_id law). Receiver
    centroids enter probe ranking as exact member means, and the
    DuckDB oracle folds the same bytes to the same table."""
    import math

    import duckdb
    import numpy as np
    import pandas as pd
    import ssn_college_software_architecture_assignments__spark.operators.dedup as dmod
    import ssn_college_software_architecture_assignments__spark.operators.similarity as smod

    def unit(deg):
        r = math.radians(deg)
        return [float(np.float32(math.cos(r))), float(np.float32(math.sin(r)))]

    rows = [(i, unit(i * 22.5)) for i in range(16)]
    rows += [(16, unit(-9.0)), (17, unit(-5.0)), (18, unit(4.0))]
    rows += [(20 + i, unit((1 + i) * 22.5 + 2.0)) for i in range(13)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    class _Cat:
        def __init__(self, spark, sf_dir):
            self.embeddings = df

    # x3z7's truth leg (x3 brute force) resolves Catalog in similarity
    orig, orig_s = dmod.Catalog, smod.Catalog
    dmod.Catalog = _Cat
    smod.Catalog = _Cat
    try:
        got = dmod.x3z6_post_merge_ivf_topk(spark, "x").collect()
        rec = {r["q_id"]: r for r in dmod.x3z7_post_merge_recall(spark, "x").collect()}
    finally:
        dmod.Catalog = orig
        smod.Catalog = orig_s
        spark.catalog.clearCache()

    assert len(got) > 0
    assert all(r["cell"] not in (14, 15) for r in got)
    assert all(r["vec_id"] != r["q_id"] for r in got)
    # v15 now lives in cell 0 and q0 serves it: hand-computed top-5 is
    # 18 (cos 4deg), 17 (cos 5), 16 (cos 9), then the 0.9239 tie
    # between v1 (22.5) and v15 (337.5) resolved lower-id-first
    q0 = sorted((r["rnk"], r["vec_id"], r["cell"]) for r in got if r["q_id"] == 0)
    assert [v for _, v, _ in q0] == [18, 17, 16, 1, 15]
    assert q0[4][2] == 0, "v15 must be served FROM its new cell 0"

    # recall rows exist for all 8 queries with sane fractions
    assert set(rec) == set(range(8))
    for r in rec.values():
        assert 0.0 <= r["recall_at_k"] <= 1.0
        assert r["n_hits"] <= r["n_true"]

    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame(
            {"vec_id": [v for v, _ in rows], "embedding": [e for _, e in rows]}
        ),
    )
    oracle = sorted(
        (int(r[0]), int(r[1]), int(r[2]), int(r[3]), float(r[4]))
        for r in con.execute(dmod._X3Z6_ORACLE).fetchall()
    )
    gt = sorted(
        (r["q_id"], r["rnk"], r["vec_id"], r["cell"], r["cos_sim"])
        for r in got
    )
    assert oracle == gt


def test_x3x6_plan_verdicts_agree_with_both_executors(spark):
    """The control-face law: on the real fixture, x3x6's 'split' rows
    must be EXACTLY the cells x3x2 splits (distinct cell_before of
    was_split rows) and its 'merge' rows exactly the cells x3x4
    dissolves — the plan and the executors share the same integer
    constants, so disagreement would mean a drifted law."""
    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        x3x2_ivf_cell_split,
        x3x4_ivf_cell_merge,
        x3x6_maintenance_plan,
    )

    sf = "/root/testdata/sf0.001"
    try:
        plan = {r["cell"]: r for r in x3x6_maintenance_plan(spark, sf).collect()}
        split_cells = {
            r["cell_before"]
            for r in x3x2_ivf_cell_split(spark, sf).collect()
            if r["was_split"]
        }
        merge_cells = {
            r["cell_before"]
            for r in x3x4_ivf_cell_merge(spark, sf).collect()
            if r["was_merged"]
        }
    finally:
        spark.catalog.clearCache()

    assert {c for c, r in plan.items() if r["action"] == "split"} == split_cells
    assert {c for c, r in plan.items() if r["action"] == "merge"} == merge_cells
    assert split_cells and merge_cells, "fixture must exercise both actions"
    # verdict booleans are consistent with the action column
    for r in plan.values():
        assert r["action"] == (
            "split" if r["over_split_trigger"]
            else "merge" if r["under_merge_floor"] else "hold"
        )
        assert not (r["over_split_trigger"] and r["under_merge_floor"])


def _x2e2_hot_gram(spark, dmod, lake):
    # five docs sharing every 3-shingle: each gram's postings hold 5 docs,
    # and every doc pair shares all three shingles (>= MIN_SHARED 3)
    docs = spark.createDataFrame(
        [(i, "w x y z q") for i in range(5)], "doc_id long, text string"
    )
    return dmod.x2e2_shared_gram_pairs(docs).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )


def _x2_mega_bucket(spark, dmod, lake):
    # five verbatim copies: identical signatures fill one bucket per band
    docs = spark.createDataFrame(
        [(i, "w x y z q") for i in range(5)], "doc_id long, text string"
    )
    sigs = dmod.minhash_signatures(docs, "doc_id", "text")
    return dmod.minhash_candidate_pairs(sigs).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    )


def _x2j_single_cell(spark, dmod, lake):
    # one centroid: every (non-zero) vector lands in the same cell
    emb = spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(5)], "vec_id long, emb array<double>"
    )
    cents = spark.createDataFrame([(0, [1.0, 0.0])], "cent_id long, cemb array<double>")
    return dmod.semantic_dup_candidates(emb, cents, top_per_cell=10).select(
        F.col("keep_id").alias("a"), F.col("dup_id").alias("b")
    )


def _verbatim_lake(spark, lake):
    # five verbatim same-lang copies as a one-table lake, so the planted
    # group reaches a registered query through its own Catalog read
    spark.createDataFrame(
        [(i, "en", "w x y z q") for i in range(5)],
        "doc_id long, lang string, text string",
    ).write.mode("overwrite").parquet(str(lake / "documents.parquet"))
    return str(lake)


def _x2b2_one_bucket(spark, dmod, lake):
    # verbatim copies share one simhash, so every band holds all five
    return dmod.x2b2_simhash_pairs(spark, _verbatim_lake(spark, lake)).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    )


def _x2c_verbatim(spark, dmod, lake):
    # every (token, lang) posting list holds all five docs
    return dmod.x2c_ngram_jaccard(spark, _verbatim_lake(spark, lake)).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    )


@pytest.mark.parametrize(
    "planted",
    [_x2e2_hot_gram, _x2_mega_bucket, _x2j_single_cell, _x2b2_one_bucket,
     _x2c_verbatim],
    ids=["x2e2", "x2", "x2j", "x2b2", "x2c"],
)
def test_pair_group_bound_refuses_oversized_group(
    spark, monkeypatch, planted, tmp_path
):
    """Every in-row pair expansion carries the declared pair-group
    bound: a planted group (x2e2 hot gram, x2 LSH mega-bucket, x2j
    single cell, x2b2 simhash bucket, x2c token postings) over the
    bound must raise loudly BEFORE the quadratic in-row pair buffer is
    built, naming the size and the remedy; a group exactly AT the bound
    passes through untouched. The bound is lowered by monkeypatch; each
    planted group holds five members."""
    import ssn_college_software_architecture_assignments__spark.operators.dedup as dmod

    monkeypatch.setattr(dmod, "_MAX_PAIR_GROUP", 4)
    with pytest.raises(Exception) as ei:
        planted(spark, dmod, tmp_path).collect()
    assert "pair-expansion bound" in str(ei.value)
    assert "5 members" in str(ei.value)

    # boundary: a group == bound is conforming and emits all C(5,2) pairs
    monkeypatch.setattr(dmod, "_MAX_PAIR_GROUP", 5)
    rows = planted(spark, dmod, tmp_path).collect()
    assert len(rows) == 10
    assert all(r["a"] < r["b"] for r in rows)
