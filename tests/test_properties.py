"""Property-based laws (SURVEY.md §5.2(4)) on small generated frames.

hypothesis drives the inputs; each law runs one Spark job per example, so
example counts are kept low (Spark latency, not law weakness, is the
budget). Laws:

- ``from_json(to_json(row)) == row`` on a pinned schema (JSON round trip,
  the reference's payload format — README.md:21);
- exact dedup output is unique and a subset of its input;
- minhash estimated Jaccard is 1.0 for identical texts and in [0, 1]
  always.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from ssn_college_software_architecture_assignments__spark.operators.dedup import (
    large_star_small_star,
    minhash_candidate_pairs,
    minhash_signatures,
)

SETTINGS = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

clean_text = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd"), max_codepoint=0x7F),
    min_size=0,
    max_size=40,
)


@given(
    rows=st.lists(
        st.tuples(st.integers(-(2**31), 2**31 - 1), clean_text, st.booleans()),
        min_size=1,
        max_size=8,
    )
)
@SETTINGS
def test_json_round_trip_identity(spark, rows):
    schema = "id BIGINT, name STRING, flag BOOLEAN"
    df = spark.createDataFrame(rows, schema)
    back = df.select(
        F.from_json(F.to_json(F.struct("id", "name", "flag")), schema).alias("s")
    ).select("s.*")
    assert sorted(map(tuple, back.collect())) == sorted(rows)


@given(
    keys=st.lists(st.integers(0, 5), min_size=1, max_size=20),
)
@SETTINGS
def test_exact_dedup_unique_and_subset(spark, keys):
    df = spark.createDataFrame([(k,) for k in keys], "k BIGINT")
    out = [r["k"] for r in df.dropDuplicates(["k"]).collect()]
    assert len(out) == len(set(out))
    assert set(out) == set(keys)


def _distinct_shingles(tokens: list[str], k: int = 3) -> set[str]:
    return {" ".join(tokens[i : i + k]) for i in range(len(tokens) - k + 1)}


@given(seed=st.integers(0, 2**16), s_target=st.sampled_from([0.6, 0.8]))
@settings(
    max_examples=2,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_lsh_banding_recall_bound(spark, seed, s_target):
    """Banding recall law: a pair with true shingle-set Jaccard s becomes
    an LSH candidate with probability 1-(1-s^r)^b (r rows per band, b
    bands). Plant P pairs at controlled Jaccard — doc B shares doc A's
    token prefix, so the EXACT per-pair Jaccard is computable in Python —
    and assert the empirical recall is not significantly below the mean
    theoretical catch-rate (4-sigma slack; a broken banding formula or a
    band-hash that ignores part of the signature craters recall to ~0 and
    fails this decisively, while the r5 quadratic all-pairs regression
    could never be caught by correctness checks at all)."""
    import random

    num_hashes, bands = 16, 4
    r = num_hashes // bands
    rng = random.Random(seed)
    n = 42  # tokens per doc
    P = 60
    rows, true_j = [], {}
    for p in range(P):
        # unique-per-pair vocabularies: cross-pair candidacy impossible
        a_toks = [f"p{p}a{i}x{rng.randrange(1 << 30)}" for i in range(n)]
        # prefix share sized for Jaccard ~ s_target: k-2 = 2*s*(n-2)/(1+s)
        k = round(2 * s_target * (n - 2) / (1 + s_target)) + 2
        b_toks = a_toks[:k] + [
            f"p{p}b{i}x{rng.randrange(1 << 30)}" for i in range(k, n)
        ]
        sa, sb = _distinct_shingles(a_toks), _distinct_shingles(b_toks)
        true_j[p] = len(sa & sb) / len(sa | sb)
        rows.append((2 * p, " ".join(a_toks)))
        rows.append((2 * p + 1, " ".join(b_toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(df, "doc_id", "text", num_hashes=num_hashes)
    got = {
        (row["id_a"], row["id_b"])
        for row in minhash_candidate_pairs(
            sigs, num_hashes=num_hashes, bands=bands
        ).collect()
    }
    caught = sum((2 * p, 2 * p + 1) in got for p in range(P))
    probs = [1 - (1 - true_j[p] ** r) ** bands for p in range(P)]
    expected = sum(probs) / P
    sigma = (sum(q * (1 - q) for q in probs) ** 0.5) / P
    assert caught / P >= expected - 4 * sigma - 0.02, (
        f"empirical recall {caught / P:.3f} below banding bound "
        f"{expected:.3f} - 4*{sigma:.3f} (s_target={s_target})"
    )


@given(
    base=st.lists(clean_text.filter(lambda s: s.strip()), min_size=4, max_size=6),
)
@SETTINGS
def test_minhash_identical_docs_jaccard_one(spark, base):
    text = " ".join(base)
    df = spark.createDataFrame([(1, text), (2, text)], "doc_id BIGINT, text STRING")
    sigs = minhash_signatures(df, "doc_id", "text", num_hashes=8)
    pairs = minhash_candidate_pairs(sigs, num_hashes=8, bands=4).collect()
    assert len(pairs) == 1
    est = pairs[0]["est_jaccard"]
    assert est == 1.0


def _union_find_components(n_nodes: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    """Pure-Python oracle: min node id per component via union-find."""
    parent = list(range(n_nodes))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n_nodes)}


@given(
    n_nodes=st.integers(2, 10),
    edge_picks=st.lists(st.tuples(st.integers(0, 9), st.integers(0, 9)), max_size=12),
)
@SETTINGS
def test_connected_components_matches_union_find(spark, n_nodes, edge_picks):
    edges = [(a % n_nodes, b % n_nodes) for a, b in edge_picks if a % n_nodes != b % n_nodes]
    nodes_df = spark.createDataFrame([(i,) for i in range(n_nodes)], "id long")
    edges_df = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    if not edges:
        edges_df = edges_df.limit(0)
    got = {
        r["id"]: r["label"]
        for r in large_star_small_star(nodes_df, edges_df).collect()
    }
    assert got == _union_find_components(n_nodes, edges)


# Arbitrary unicode: CJK (no spaces at all), emoji, combining marks,
# whitespace runs, empty — the shapes a real web corpus contains and the
# ASCII word-soup fixture never exercises.
unicode_text = st.text(min_size=0, max_size=60)


@given(st.lists(unicode_text, min_size=1, max_size=8))
@SETTINGS
def test_text_pipeline_survives_arbitrary_unicode(spark, texts):
    """Robustness law: shingling, minhash, and simhash must never abort
    on ANY document content (the sequence(1,0) crash class), and
    byte-identical documents must always produce identical signatures."""
    from ssn_college_software_architecture_assignments__spark.operators.dedup import (
        shingles,
        simhash64,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    # duplicate every doc so the identical-signature law is exercised
    rows += [(len(texts) + i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    shingled = df.select(
        "doc_id", F.size(shingles("text", 3)).alias("n_shingles")
    ).collect()
    assert all(r["n_shingles"] >= 0 for r in shingled)

    sigs = minhash_signatures(df, "doc_id", "text").collect()
    by_id = {r["_id"]: tuple(r["minhash"]) for r in sigs}
    sims = {
        r["doc_id"]: r["s"]
        for r in df.select("doc_id", simhash64("text").alias("s")).collect()
    }
    for i, t in enumerate(texts):
        twin = len(texts) + i
        # identical text -> identical signatures (when a signature exists)
        if i in by_id or twin in by_id:
            assert by_id.get(i) == by_id.get(twin)
        assert sims[i] == sims[twin]


def test_length_histogram_bin_law_exhaustive(spark, tmp_path):
    """x6f bin-id law, exhaustively for every token length 0..4097 (all
    power-of-two edges through 2^12): the engine's binary-string bin id
    must equal Python's (n+1).bit_length()-1, every doc must satisfy
    lo_tokens <= n <= hi_tokens for its bin, and per-bin doc counts must
    reproduce the Python recount. One Spark job, not one per example."""
    import os

    from ssn_college_software_architecture_assignments__spark.operators.curation import (
        x6f_length_histogram,
    )

    lengths = list(range(4098))
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    # n tokens <=> n-1 spaces; 0 words is unreachable (split('') = ['']),
    # so doc i carries i+1 tokens — covers every length 1..4098.
    spark.createDataFrame(
        [(i, " ".join("w" for _ in range(i + 1))) for i in lengths],
        "doc_id long, text string",
    ).write.parquet(f"{sf_dir}/documents.parquet")

    got = {r["bin_id"]: r for r in x6f_length_histogram(spark, sf_dir).collect()}

    expect_docs: dict[int, int] = {}
    for i in lengths:
        n = i + 1
        b = (n + 1).bit_length() - 1
        expect_docs[b] = expect_docs.get(b, 0) + 1
    assert sorted(got) == sorted(expect_docs)
    for b, row in got.items():
        assert row["n_docs"] == expect_docs[b], b
        assert row["lo_tokens"] == 2**b - 1
        assert row["hi_tokens"] == 2 ** (b + 1) - 2
    # containment: every length lands inside its bin's [lo, hi]
    for i in lengths:
        n = i + 1
        b = (n + 1).bit_length() - 1
        assert got[b]["lo_tokens"] <= n <= got[b]["hi_tokens"], n


def test_tfidf_matches_python_reference_on_random_corpus(spark, tmp_path):
    """x4k vs an independent Python recompute on a seeded random corpus
    (120 docs over a 40-word vocabulary with skewed frequencies): the
    full top-50 list — pairs, weights, and order — must agree."""
    import math
    import os
    import random
    from collections import Counter

    from ssn_college_software_architecture_assignments__spark.operators.textanalysis import (
        x4k_tfidf,
    )

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(40)]
    weights = [1.0 / (i + 1) for i in range(40)]          # Zipf-ish skew
    docs = {
        d: rng.choices(vocab, weights=weights, k=rng.randint(1, 30))
        for d in range(120)
    }
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        [(d, " ".join(toks)) for d, toks in docs.items()],
        "doc_id long, text string",
    ).write.parquet(f"{sf_dir}/documents.parquet")

    n_docs = len(docs)
    df_counts = Counter(t for toks in docs.values() for t in set(toks))
    ref = []
    for d, toks in docs.items():
        for t, tf in Counter(toks).items():
            w = round(tf * (math.log((n_docs + 1) / (df_counts[t] + 1)) + 1), 4)
            ref.append((w, d, t, tf))
    ref.sort(key=lambda r: (-r[0], r[1], r[2]))
    expect = [(d, t, tf, w) for w, d, t, tf in ref[:50]]

    got = [
        (r["doc_id"], r["term"], r["tf"], r["tfidf"])
        for r in x4k_tfidf(spark, sf_dir).collect()
    ]
    assert got == expect


def test_time_range_window_matches_python_reference(spark, tmp_path):
    """w8 vs an independent Python recount on a seeded random event
    stream (3 users, bursty second-granularity timestamps with
    duplicates): per-event trailing-1h sum and count must agree exactly,
    including RANGE peer semantics for same-second events."""
    import datetime as dt
    import os
    import random

    from ssn_college_software_architecture_assignments__spark.operators.windows import (
        w8_time_range_window,
    )

    rng = random.Random(99)
    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = []
    for eid in range(300):
        user = rng.randint(1, 3)
        # bursty: clusters of events, frequently sharing exact seconds
        sec = rng.randint(0, 50) * 600 + rng.choice([0, 0, 1, 7, 3600, 3601])
        rows.append((eid, base + dt.timedelta(seconds=sec), user,
                     "e", float(rng.randint(1, 9)), "{}"))
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(f"{sf_dir}/events.parquet")
    got = {r["event_id"]: r for r in w8_time_range_window(spark, sf_dir).collect()}

    epoch = lambda t: int(t.timestamp())  # noqa: E731
    for eid, ts, user, _, value, _ in rows:
        peers = [
            (v, e)
            for e, t, u, _, v, _ in rows
            if u == user and epoch(ts) - 3600 <= epoch(t) <= epoch(ts)
        ]
        expect_sum = round(sum(v for v, _ in peers), 2)
        assert got[eid]["trail_1h_cnt"] == len(peers), eid
        assert got[eid]["trail_1h_sum"] == expect_sum, eid


@given(
    g=st.integers(1, 10**7),
    s=st.integers(0, 10**13),
    c=st.integers(0, 10**13),
)
@settings(max_examples=300, deadline=None)
def test_interval_grid_cell_law(g, s, c):
    """j12's cell math, pure Python (no Spark — cheap, so hundreds of
    examples): a window [s, s+g) on grid width g covers at most two
    cells (exactly two unless s is grid-aligned), an instant maps to
    exactly one cell, and the equi-join-plus-recheck is COMPLETE — any
    instant inside the window has its cell in the window's covering
    set, so no matching pair can be missed by the grid rewrite. Spark's
    DIV on nonnegative longs is floor division (Python //)."""
    cover = list(range(s // g, (s + g - 1) // g + 1))
    assert 1 <= len(cover) <= 2
    assert (len(cover) == 1) == (s % g == 0)
    inside = s <= c < s + g
    if inside:
        assert c // g in cover
    # and the recheck removes every false cell-mate:
    assert inside == ((c // g in cover) and s <= c < s + g)


def test_interval_grid_join_matches_python_reference(spark, tmp_path):
    """j12 end-to-end vs an independent Python naive range join on a
    seeded random event stream (millisecond-granularity timestamps so
    gap_sec has exactly 3 decimals — no rounding ambiguity), including
    exact boundary hits: a click AT the error instant (gap 0, counted)
    and one at s+g (excluded)."""
    import datetime as dt
    import os
    import random

    from ssn_college_software_architecture_assignments__spark.operators.joins import (
        _J12_WINDOW_US,
        j12_interval_grid_join,
    )

    g = _J12_WINDOW_US
    rng = random.Random(7)
    base_us = 1_700_000_000_000_000  # well inside timestamp range
    errs = {
        eid: base_us + rng.randrange(0, 20 * g // 1000) * 1000
        for eid in range(40)
    }
    clicks = {
        1000 + i: base_us + rng.randrange(0, 20 * g // 1000) * 1000
        for i in range(400)
    }
    # planted boundaries on error 0: exact start hit, last-inside, first-outside
    clicks[2000] = errs[0]
    clicks[2001] = errs[0] + g - 1000
    clicks[2002] = errs[0] + g

    def ts(us):
        return dt.datetime.utcfromtimestamp(us / 1_000_000)

    rows = [(eid, ts(us), 1, "error", 0.0, "{}") for eid, us in errs.items()]
    rows += [(cid, ts(us), 1, "click", 0.0, "{}") for cid, us in clicks.items()]
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(f"{sf_dir}/events.parquet")

    ref = {}
    for eid, s in errs.items():
        gaps = [c - s for c in clicks.values() if s <= c < s + g]
        if gaps:
            ref[eid] = (len(gaps), round(min(gaps) / 1e6, 3))

    got = {
        r["err_id"]: (r["n_clicks"], r["first_click_gap_sec"])
        for r in j12_interval_grid_join(spark, sf_dir).collect()
    }
    assert got == ref
    assert got[0][1] == 0.0  # the exact-start boundary click counted


def test_ewma_matches_python_reference(spark, tmp_path):
    """w10 vs an independent Python recompute on a seeded random event
    stream: per-event truncated renormalized EWMA (decay 0.75, span 8)
    must agree exactly, including the short-history warm-up rows."""
    import datetime as dt
    import os
    import random

    from ssn_college_software_architecture_assignments__spark.operators.windows import (
        _W10_DECAY,
        _W10_SPAN,
        w10_ewma,
    )

    rng = random.Random(21)
    base = dt.datetime(2024, 5, 1)
    rows = []
    for eid in range(200):
        rows.append((eid, base + dt.timedelta(seconds=eid * 37 % 997),
                     rng.randint(1, 4), "e", float(rng.randint(1, 99)), "{}"))
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(f"{sf_dir}/events.parquet")

    by_user: dict[int, list[tuple]] = {}
    for eid, ts, uid, _, v, _p in rows:
        by_user.setdefault(uid, []).append((ts, eid, v))
    expect = {}
    for uid, evs in by_user.items():
        evs.sort()
        for i in range(len(evs)):
            frame = [v for _, _, v in evs[max(0, i - _W10_SPAN + 1): i + 1]]
            num = den = 0.0
            for v in frame:
                num = num * _W10_DECAY + v
                den = den * _W10_DECAY + 1.0
            expect[evs[i][1]] = (len(frame), round(num / den, 4))

    got = {
        r["event_id"]: (r["n_frame"], r["ewma"])
        for r in w10_ewma(spark, sf_dir).collect()
    }
    assert got == expect


@given(seed=st.integers(0, 2**16), n_parts=st.integers(1, 12))
@settings(max_examples=200, deadline=None)
def test_misra_gries_screen_superset_guarantee(seed, n_parts):
    """a13's pigeonhole law, pure Python over adversarial partitionings:
    for ANY split of the stream, every token with global frequency
    > N/(K+1) exceeds the local threshold in at least one partition —
    so the distributed screen's candidate union is always a superset of
    the true heavy hitters and the final exact filter is
    partitioning-independent."""
    import random
    from collections import Counter

    from ssn_college_software_architecture_assignments__spark.operators.aggregations import (
        _A13_K,
    )

    rng = random.Random(seed)
    vocab = [f"t{i}" for i in range(rng.randint(2, 40))]
    weights = [rng.random() ** 3 + 0.001 for _ in vocab]  # skewed
    stream = rng.choices(vocab, weights=weights, k=rng.randint(50, 600))
    parts = [[] for _ in range(n_parts)]
    for tok in stream:
        parts[rng.randrange(n_parts)].append(tok)

    n = len(stream)
    global_counts = Counter(stream)
    heavy = {t for t, c in global_counts.items() if c * (_A13_K + 1) > n}

    survivors = set()
    for p in parts:
        local = Counter(p)
        total = len(p)
        survivors |= {
            t for t, c in local.items() if c * (_A13_K + 1) > total
        }
        # MG bound: at most K survivors per partition
        assert (
            len([t for t, c in local.items() if c * (_A13_K + 1) > total])
            <= _A13_K
        )
    assert heavy <= survivors


def test_heavy_hitters_closed_form(spark, tmp_path):
    """a13 end-to-end on a handmade corpus: one token holds 40% of all
    occurrences, one exactly at the N/32 boundary (excluded — strict
    >), the rest far below."""
    import os

    from ssn_college_software_architecture_assignments__spark.operators.aggregations import (
        a13_heavy_hitters,
    )

    # N = 320 tokens total: 'hot' x 128, 'edge' x 10 (= N/32, excluded),
    # 'warm' x 11 (> N/32, included), 171 singletons
    toks = ["hot"] * 128 + ["edge"] * 10 + ["warm"] * 11 + [
        f"u{i}" for i in range(171)
    ]
    docs, chunk = [], 32
    for i in range(0, len(toks), chunk):
        docs.append((i // chunk, " ".join(toks[i : i + chunk]), "s"))
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        docs, "doc_id long, text string, source string"
    ).write.parquet(f"{sf_dir}/documents.parquet")

    got = {r["token"]: r for r in a13_heavy_hitters(spark, sf_dir).collect()}
    assert sorted(got) == ["hot", "warm"]
    assert got["hot"]["n_occurrences"] == 128
    assert got["hot"]["freq_frac"] == round(128 / 320, 6)
    assert got["warm"]["n_occurrences"] == 11


@given(
    h1=st.integers(min_value=0, max_value=(1 << 64) - 1),
    flips=st.lists(
        st.integers(min_value=0, max_value=63), min_size=0, max_size=3
    ),
)
@settings(max_examples=50, deadline=None)
def test_x5m2_pigeonhole_band_property(h1, flips):
    """The x5m2 completeness theorem as a property: for ANY 64-bit hash
    and ANY <= 3 bit flips, the pair shares at least one of the 4
    16-bit bands — so the band equi-join can never miss a pair within
    Hamming distance 3 (d = 2 in the operator is strictly inside the
    guarantee)."""
    h2 = h1
    for b in flips:
        h2 ^= 1 << b
    dist = bin(h1 ^ h2).count("1")
    assert dist <= 3
    bands1 = [(h1 >> (16 * i)) & 0xFFFF for i in range(4)]
    bands2 = [(h2 >> (16 * i)) & 0xFFFF for i in range(4)]
    assert any(a == b for a, b in zip(bands1, bands2))


@given(
    tf=st.integers(min_value=1, max_value=50),
    dl=st.integers(min_value=1, max_value=500),
    df=st.integers(min_value=1, max_value=400),
    n=st.integers(min_value=401, max_value=5000),
)
@settings(max_examples=50, deadline=None)
def test_x4u_bm25_monotonicity_property(tf, dl, df, n):
    """BM25 shape laws on the exact formula x4u evaluates (python
    mirror of _X4U_W before flooring): the score strictly increases in
    tf (with diminishing returns under k1 saturation), strictly
    decreases as the document grows (b length normalization), and
    strictly decreases in df (idf)."""
    import math

    from ssn_college_software_architecture_assignments__spark.operators.textanalysis import (
        _X4U_B,
        _X4U_K1,
    )

    k1, b = float(_X4U_K1), float(_X4U_B)
    avgdl = 100.0

    def w(tf_, dl_, df_):
        idf = math.log(1 + (n - df_ + 0.5) / (df_ + 0.5))
        return idf * (tf_ * (k1 + 1)) / (
            tf_ + k1 * (1 - b + b * dl_ / avgdl)
        )

    assert w(tf + 1, dl, df) > w(tf, dl, df)
    assert w(tf + 1, dl, df) - w(tf, dl, df) < w(tf, dl, df) - w(
        max(tf - 1, 0), dl, df
    ) or tf == 1  # diminishing returns (vacuous at the tf=1 edge)
    assert w(tf, dl + 50, df) < w(tf, dl, df)
    assert w(tf, dl, df + 1) < w(tf, dl, df)


@given(n=st.integers(min_value=8, max_value=2000))
@settings(max_examples=80, deadline=None)
def test_x6w_gram_coverage_property(n):
    """The x6w airtight-scrub arithmetic as a property: with window 16,
    overlap 7 (stride 9), and chunk count max(1, ceil((n-7)/9)), EVERY
    8-token span of an n-token document falls wholly inside at least
    one chunk, and every tail chunk keeps >= 8 tokens (so it can carry
    a gram at all). This is the premise of the x6d<->x6w biconditional;
    x6v's RAG overlap (4) deliberately does NOT satisfy it."""
    W, V, S, G = 16, 7, 9, 8
    m = max(1, -(-(n - V) // S))
    spans = []
    for k in range(m):
        start, end = k * S, min(k * S + W, n)
        assert end - start >= G  # no gram-incapable chunk
        spans.append((start, end))
    for p in range(0, n - G + 1):
        assert any(s <= p and p + G <= e for s, e in spans), (n, p)
