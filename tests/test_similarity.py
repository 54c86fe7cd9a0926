"""Similarity-search tests: brute-force sanity + LSH recall bound."""

from __future__ import annotations

from ssn_college_software_architecture_assignments__spark.operators.similarity import (
    x3_similarity_bruteforce,
    x3b_similarity_lsh,
    x3d_similarity_ivf,
)


def test_bruteforce_topk_shape_and_bounds(spark, sf_dir):
    rows = x3_similarity_bruteforce(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        assert -1.0001 <= r["cos_sim"] <= 1.0001
        assert r["q_id"] != r["vec_id"]  # self excluded
        by_q.setdefault(r["q_id"], []).append(r["cos_sim"])
    for q, sims in by_q.items():
        assert len(sims) == 5
        assert sims == sorted(sims, reverse=True)


def test_lsh_results_subset_of_corpus_and_bucket_consistent(spark, sf_dir):
    bf = {(r["q_id"], r["vec_id"]): r["cos_sim"] for r in x3_similarity_bruteforce(spark, sf_dir).collect()}
    lsh_rows = x3b_similarity_lsh(spark, sf_dir).collect()
    assert lsh_rows, "LSH should return at least some neighbors"
    # every LSH sim must equal the exact sim for that pair (same math)
    for r in lsh_rows:
        key = (r["q_id"], r["vec_id"])
        if key in bf:
            assert abs(bf[key] - r["cos_sim"]) < 1e-9


def test_ivf_results_scored_exactly_and_ranked(spark, sf_dir):
    bf = {(r["q_id"], r["vec_id"]): r["cos_sim"] for r in x3_similarity_bruteforce(spark, sf_dir).collect()}
    ivf_rows = x3d_similarity_ivf(spark, sf_dir).collect()
    assert ivf_rows, "IVF should return neighbors"
    by_q = {}
    for r in ivf_rows:
        assert r["q_id"] != r["vec_id"]
        by_q.setdefault(r["q_id"], []).append(r["cos_sim"])
        key = (r["q_id"], r["vec_id"])
        if key in bf:  # same pair -> identical exact score
            assert abs(bf[key] - r["cos_sim"]) < 1e-9
    for sims in by_q.values():
        assert sims == sorted(sims, reverse=True)
        assert len(sims) <= 5


def _planted_corpus():
    """Seeded corpus with PLANTED near-duplicates: 150 random unit-ish
    vectors; the first 40 get a twin at cosine >= 0.95. Random-hyperplane
    LSH's contract is recall on genuinely-near pairs (collision
    probability (1 - theta/pi)^planes per table, OR-amplified over 4
    tables => ~0.9+ for cosine >= 0.95); on near-orthogonal noise like
    the fixture embeddings (max pairwise cosine ~0.51) low recall is the
    mathematically expected behavior, so the bound is asserted on the
    planted pairs."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(150, 64)
    rows, planted = [], []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    nxt = len(base)
    for i in range(40):
        v = base[i]
        twin = v + 0.18 * rng.randn(64)
        cos = float(v @ twin / (np.linalg.norm(v) * np.linalg.norm(twin)))
        assert cos >= 0.95, cos
        rows.append((nxt, [float(x) for x in twin]))
        planted.append((i, nxt))
        nxt += 1
    return rows, planted


def test_lsh_bucket_recall_on_planted_near_dups(spark):
    """The x2f/x3b candidate mechanism (multi-table hyperplane buckets)
    must recall >= 85% of planted cosine>=0.95 pairs. Deterministic:
    seeded vectors, seeded hyperplanes. Bound documented in SCALE.md."""
    from pyspark.sql import functions as F

    from ssn_college_software_architecture_assignments__spark.operators.similarity import (
        lsh_buckets,
    )

    rows, planted = _planted_corpus()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    tagged = df.select(
        "vec_id", F.posexplode(lsh_buckets(F.col("embedding"))).alias("tbl", "bucket")
    )
    a = tagged.select(F.col("vec_id").alias("id_a"), "tbl", "bucket")
    b = tagged.select(F.col("vec_id").alias("id_b"), "tbl", "bucket")
    cand = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .collect()
    }
    hit = sum(1 for p in planted if p in cand)
    recall = hit / len(planted)
    assert recall >= 0.85, f"planted-pair recall {recall:.2f} < 0.85"
    # and the candidate set stays sublinear vs all-pairs
    n = df.count()
    assert len(cand) < 0.25 * n * (n - 1) / 2


def test_lsh_auto_params_scaling_law():
    """The parameter law behind x2f's linear candidate growth: planes
    track log2(n) (constant bucket occupancy), tables hold the recall
    bound, and expected pairs-per-vector stay bounded as n grows 100x."""
    import math

    from ssn_college_software_architecture_assignments__spark.operators.similarity import (
        lsh_auto_params,
    )

    p_bit = 1.0 - math.acos(0.95) / math.pi
    prev_planes = 0
    for n in (200, 2_000, 20_000, 200_000, 2_000_000):
        tables, planes = lsh_auto_params(n)
        assert planes >= prev_planes, "planes must be monotone in n"
        prev_planes = planes
        # recall bound holds for cos>=0.95 pairs
        recall = 1.0 - (1.0 - p_bit**planes) ** tables
        assert recall >= 0.85, f"n={n}: recall {recall:.3f}"
        # occupancy invariant: per-table bucket population n/2^planes
        # never exceeds the occupancy target (16), so pairs per vector
        # are <= tables * occupancy / 2 — an O(log n) factor on linear,
        # never the n/2^planes -> n quadratic drift of fixed planes
        assert n / 2**planes <= 16, f"n={n}: occupancy {n / 2**planes:.1f}"
        pairs_per_vec = tables * n / 2 ** (planes + 1)
        assert pairs_per_vec <= tables * 8, f"n={n}: {pairs_per_vec:.0f} pairs/vec"
    # small corpora keep the proven defaults
    assert lsh_auto_params(190) == (4, 6)


def test_quantize_exact_values_and_error_bound(spark, tmp_path):
    """x3f on handmade vectors: exact quantized invariants, the zero-
    vector guard (scale 0 -> all-zero codes, no division), and the
    absmax-scheme law |x - q*scale| <= scale/2 on every component."""
    import os

    from ssn_college_software_architecture_assignments__spark.operators.similarity import (
        x3f_embedding_quantize,
    )

    vecs = [
        (1, [1.0, -0.5, 0.25, 0.0], "a"),
        (2, [0.0, 0.0, 0.0, 0.0], "zero"),
        (3, [-2.0, 2.0, 1.0, -1.0], "b"),
    ]
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label string"
    ).write.parquet(f"{sf_dir}/embeddings.parquet")
    rows = {r["vec_id"]: r for r in x3f_embedding_quantize(spark, sf_dir).collect()}

    v1 = rows[1]  # scale = 1/127; q = round(x * 127)
    assert v1["scale_r"] == round(1.0 / 127, 6)
    assert (v1["q_min"], v1["q_max"]) == (-64, 127)      # round(-63.5) -> -64
    assert v1["q_sum"] == 127 - 64 + 32 + 0
    assert v1["q_l1"] == 127 + 64 + 32

    zero = rows[2]
    assert (zero["scale_r"], zero["q_sum"], zero["q_min"], zero["q_max"],
            zero["q_l1"]) == (0.0, 0, 0, 0, 0)

    v3 = rows[3]  # scale = 2/127; codes are +-127, +-64 (round(63.5)=64)
    assert (v3["q_min"], v3["q_max"]) == (-127, 127)
    assert v3["q_l1"] == 2 * (127 + 64)

    # reconstruction-error law on the non-degenerate vectors
    for vid, emb, _ in vecs:
        if vid == 2:
            continue
        scale = max(abs(x) for x in emb) / 127.0
        for x in emb:
            q = round(x / scale)
            assert abs(x - q * scale) <= scale / 2 + 1e-12


def test_quantized_screen_recall_vs_float_bruteforce(spark, sf_dir):
    """x3g law: screening on int8 codes must preserve the float
    brute-force ranking almost exactly on the fixture corpus — absmax
    int8 error is ~0.4% of the max component, far below the ranking
    gaps of random vectors. Gate: mean top-5 overlap >= 0.8 and top-1
    agreement on >= 6 of 8 queries."""
    from ssn_college_software_architecture_assignments__spark.operators.similarity import (
        x3g_similarity_quantized,
    )

    float_top = {}
    for r in x3_similarity_bruteforce(spark, sf_dir).collect():
        float_top.setdefault(r["q_id"], []).append(r["vec_id"])
    quant_top = {}
    for r in x3g_similarity_quantized(spark, sf_dir).collect():
        quant_top.setdefault(r["q_id"], []).append(r["vec_id"])

    assert set(quant_top) == set(float_top)
    overlaps = [
        len(set(float_top[q]) & set(quant_top[q])) / 5 for q in float_top
    ]
    assert sum(overlaps) / len(overlaps) >= 0.8, overlaps
    top1_hits = sum(float_top[q][0] == quant_top[q][0] for q in float_top)
    assert top1_hits >= 6, (top1_hits, float_top, quant_top)


# --- x3g screen-soundness law (hypothesis vs a Python int reference) --------
#
# Shared-formula risk: x3g's oracle performs the SAME quantize + integer
# dot in DuckDB, so both sides could agree and both be wrong. The
# independent check is mathematical: an exact-integer Python reference
# verifies (a) Spark's int8 codes bit-for-bit, (b) the claimed cosine
# error bound eps(v) = scale_v*sqrt(d)/||v||, and (c) the screen-
# soundness consequence — a true top-k neighbor the int8 screen drops is
# never better than a kept vector by more than the two vectors' bounds.

def _py_absmax_quantize(vec32: list[float]) -> tuple[list[int], float]:
    """Exact-integer reference for _absmax_quantize: absmax/127 scale,
    round half AWAY FROM ZERO (Spark F.round == BigDecimal HALF_UP)."""
    import math

    s = max(abs(x) for x in vec32) / 127.0
    if s == 0.0:
        return [0] * len(vec32), 0.0
    q = [
        int(math.floor(abs(x / s) + 0.5)) * (1 if x >= 0 else -1)
        for x in vec32
    ]
    return q, s


def _py_cos(u: list[float], v: list[float]) -> float:
    import math

    uu = math.sqrt(sum(x * x for x in u))
    vv = math.sqrt(sum(x * x for x in v))
    return sum(a * b for a, b in zip(u, v)) / (uu * vv)


def test_quantized_screen_soundness_law(spark):
    """Hypothesis-driven: random float32 corpora; for every pair the
    quantized cosine must sit within the claimed bound of the float
    cosine, and any true top-k neighbor dropped by the int8 screen must
    be within eps(dropped)+eps(kept) of the k-th kept vector — the
    margin a float rescore needs. Spark's codes are cross-checked
    against the Python reference on one example per run (one job; the
    law itself is exact-integer Python, no Spark latency per example)."""
    import math

    import numpy as np
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from ssn_college_software_architecture_assignments__spark.operators.similarity import (
        _absmax_quantize,
    )

    K = 3

    @given(seed=st.integers(0, 2**32 - 1))
    @settings(
        max_examples=25,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def law(seed):
        rng = np.random.default_rng(seed)
        d = int(rng.integers(4, 17))
        n = int(rng.integers(6, 15))
        # mixed scales so absmax quantization error actually varies
        corpus = (
            rng.normal(0, 1, (n, d)) * rng.choice([0.01, 1.0, 50.0], (n, 1))
        ).astype(np.float32)
        vecs = [[float(x) for x in row] for row in corpus]
        if any(all(x == 0.0 for x in v) for v in vecs):
            return  # zero vectors are x3f's guard case, screened out in x3g
        query, cands = vecs[0], list(enumerate(vecs[1:], start=1))

        qq, sq = _py_absmax_quantize(query)
        eps_q = sq * math.sqrt(d) / math.sqrt(sum(x * x for x in query))
        scored = []
        for i, v in cands:
            qv, sv = _py_absmax_quantize(v)
            idot = sum(a * b for a, b in zip(qq, qv))  # exact int math
            nq = math.sqrt(sum(a * a for a in qq))
            nv = math.sqrt(sum(a * a for a in qv))
            if nq == 0 or nv == 0:
                continue
            cos_q = idot / (nq * nv)
            cos_f = _py_cos(query, v)
            eps_v = sv * math.sqrt(d) / math.sqrt(sum(x * x for x in v))
            # (b) per-pair error bound
            assert abs(cos_q - cos_f) <= eps_q + eps_v + 1e-9, (
                seed, i, cos_q, cos_f, eps_q, eps_v
            )
            scored.append((i, cos_q, cos_f, eps_v))
        if len(scored) <= K:
            return
        kept = sorted(scored, key=lambda t: -t[1])[:K]
        true_top = sorted(scored, key=lambda t: -t[2])[:K]
        kth = min(kept, key=lambda t: t[1])  # worst KEPT by quantized score
        for t in true_top:
            if t[0] in {x[0] for x in kept}:
                continue
            # (c) a dropped true neighbor is within the two bounds of
            # the k-th kept vector's float score
            assert t[2] <= kth[2] + t[3] + kth[3] + 1e-9, (
                seed, t, kth, eps_q
            )

    law()

    # (a) Spark's codes == Python reference, one representative frame
    rng = np.random.default_rng(7)
    corpus = (rng.normal(0, 1, (10, 8)) * 3.7).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(corpus)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: list(r["_q"]) for r in _absmax_quantize(df).collect()
    }
    for i, row in enumerate(corpus):
        expect, _ = _py_absmax_quantize([float(x) for x in row])
        assert got[i] == expect, (i, got[i], expect)


def test_ann_recall_eval_matches_independent_recount(spark, sf_dir):
    """x3h's recall must equal a Python recount over the two legs it
    claims to compare (collected independently), and obey bounds."""
    from ssn_college_software_architecture_assignments__spark.operators.similarity import (
        x3_similarity_bruteforce,
        x3d_similarity_ivf,
        x3h_ann_recall_eval,
    )

    bf = {}
    for r in x3_similarity_bruteforce(spark, sf_dir).collect():
        bf.setdefault(r["q_id"], set()).add(r["vec_id"])
    ivf = {}
    for r in x3d_similarity_ivf(spark, sf_dir).collect():
        ivf.setdefault(r["q_id"], set()).add(r["vec_id"])

    got = {r["q_id"]: r for r in x3h_ann_recall_eval(spark, sf_dir).collect()}
    assert sorted(got) == sorted(bf)
    for q_id, truth in bf.items():
        row = got[q_id]
        expect_hits = len(truth & ivf.get(q_id, set()))
        assert row["n_true"] == len(truth) == 5
        assert row["n_hits"] == expect_hits, (q_id, row)
        assert row["recall_at_k"] == round(expect_hits / 5.0, 4)
        assert 0.0 <= row["recall_at_k"] <= 1.0


def test_pq_codes_self_and_composite_encoding(spark, tmp_path):
    """x3j laws on a handmade table: every codebook vector (vec_id < 16)
    encodes to its own id in all 4 blocks with recon_err 0; a composite
    vector stitched from different codebook entries per block gets
    exactly those per-block codes (err 0); a perturbed vector matches a
    Python argmin recount."""
    import os
    import random

    from ssn_college_software_architecture_assignments__spark.operators.similarity import (
        x3j_pq_codes,
    )

    rng = random.Random(5)
    cents = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(16)]
    rows = [(i, [float(v) for v in cents[i]], 0) for i in range(16)]
    perm = [3, 7, 0, 12]
    composite = [
        cents[perm[b]][b * 16 + i] for b in range(4) for i in range(16)
    ]
    rows.append((100, [float(v) for v in composite], 1))
    noisy = [v + rng.uniform(-0.05, 0.05) for v in cents[5]]
    rows.append((101, [float(v) for v in noisy], 1))

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{sf_dir}/embeddings.parquet")
    got = {r["vec_id"]: r for r in x3j_pq_codes(spark, sf_dir).collect()}

    for i in range(16):
        r = got[i]
        assert [r[f"code_{b}"] for b in range(4)] == [i] * 4, r
        assert r["recon_err"] == 0.0
    comp = got[100]
    assert [comp[f"code_{b}"] for b in range(4)] == perm
    assert comp["recon_err"] == 0.0

    # Python recount for the noisy vector (float32 round-trip like parquet)
    import numpy as np

    store = {i: np.array(v, dtype=np.float32).astype(np.float64) for i, v, _ in rows}
    expect_codes, expect_err = [], 0.0
    for b in range(4):
        sl = slice(b * 16, (b + 1) * 16)
        dists = [(float(((store[101][sl] - store[j][sl]) ** 2).sum()), j) for j in range(16)]
        d, j = min(dists)
        expect_codes.append(j)
        expect_err += d
    nz = got[101]
    assert [nz[f"code_{b}"] for b in range(4)] == expect_codes
    assert abs(nz["recon_err"] - round(expect_err, 4)) <= 1e-3


def test_pq_adc_matches_python_reference(spark, tmp_path):
    """x3k law on a handmade table: full PQ pipeline (codes -> per-query
    distance tables -> ADC top-5) recounted in plain Python/NumPy. Also
    pins the ADC invariant that the approximate distance equals the sum
    of table lookups for the vector's own codes — so a codebook vector
    at ADC distance 0 from itself is excluded, and composite vectors
    land where the table arithmetic says they must."""
    import os
    import random

    import numpy as np

    from ssn_college_software_architecture_assignments__spark.operators.similarity import (
        x3k_pq_adc_topk,
    )

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(64)], 0) for i in range(40)
    ]
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        [(i, [float(v) for v in vec], m) for i, vec, m in rows],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(f"{sf_dir}/embeddings.parquet")

    store = {
        i: np.array(vec, dtype=np.float32).astype(np.float64)
        for i, vec, _ in rows
    }
    # Python reference: codes, then ADC
    codes = {}
    for vid, v in store.items():
        codes[vid] = []
        for b in range(4):
            sl = slice(b * 16, (b + 1) * 16)
            dists = [
                (float(((v[sl] - store[j][sl]) ** 2).sum()), j)
                for j in range(16)
            ]
            codes[vid].append(min(dists)[1])
    expect = {}
    for q in range(8):
        dt = [
            [
                float(((store[q][b * 16 : (b + 1) * 16]
                        - store[j][b * 16 : (b + 1) * 16]) ** 2).sum())
                for j in range(16)
            ]
            for b in range(4)
        ]
        scored = sorted(
            (round(sum(dt[b][codes[v][b]] for b in range(4)), 4), v)
            for v in store
            if v != q
        )
        expect[q] = scored[:5]

    got = x3k_pq_adc_topk(spark, sf_dir).collect()
    assert len(got) == 40
    by_q = {}
    for r in got:
        by_q.setdefault(r["q_id"], []).append((r["adc_dist"], r["vec_id"]))
    for q in range(8):
        assert sorted(by_q[q]) == expect[q], (q, sorted(by_q[q]), expect[q])


def test_pq_recall_bounds_and_self_consistency(spark, sf_dir):
    """x3l sanity on the fixture: one row per query, n_true == 5,
    0 <= n_hits <= 5, recall is their exact ratio."""
    from ssn_college_software_architecture_assignments__spark.operators.similarity import (
        x3l_pq_recall,
    )

    rows = x3l_pq_recall(spark, sf_dir).collect()
    assert sorted(r["q_id"] for r in rows) == list(range(8))
    for r in rows:
        assert r["n_true"] == 5
        assert 0 <= r["n_hits"] <= 5
        assert r["recall_at_k"] == round(r["n_hits"] / 5.0, 4)


def test_pq_adc_survives_noncontiguous_codebook_ids(spark, tmp_path):
    """The codebook convention is vec_id < 16, but nothing guarantees
    those ids are contiguous (an upstream filter can leave gaps). The
    cent_id-keyed map lookup must stay faithful: with codebook ids
    {0,2,4,...,14} every codebook vector still ADC-scores 0 against
    itself via its own code, and results match a Python recount (a
    positional array lookup would misread slots for any id > its
    position)."""
    import os
    import random

    import numpy as np

    from ssn_college_software_architecture_assignments__spark.operators.similarity import (
        x3k_pq_adc_topk,
    )

    rng = random.Random(23)
    ids = list(range(0, 16, 2)) + list(range(20, 32))  # 8 codebook + 12 corpus
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in ids]
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        [(i, [float(v) for v in vec], 0) for i, vec in rows],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(f"{sf_dir}/embeddings.parquet")

    store = {
        i: np.array(vec, dtype=np.float32).astype(np.float64) for i, vec in rows
    }
    cb = [i for i in ids if i < 16]
    codes = {
        v: [
            min(
                (float(((store[v][b * 16 : (b + 1) * 16]
                         - store[j][b * 16 : (b + 1) * 16]) ** 2).sum()), j)
                for j in cb
            )[1]
            for b in range(4)
        ]
        for v in store
    }
    queries = [i for i in ids if i < 8]
    expect = {}
    for q in queries:
        dt = {
            j: [
                float(((store[q][b * 16 : (b + 1) * 16]
                        - store[j][b * 16 : (b + 1) * 16]) ** 2).sum())
                for b in range(4)
            ]
            for j in cb
        }
        scored = sorted(
            (round(sum(dt[codes[v][b]][b] for b in range(4)), 4), v)
            for v in store
            if v != q
        )
        expect[q] = scored[:5]

    got = x3k_pq_adc_topk(spark, sf_dir).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["q_id"], []).append((r["adc_dist"], r["vec_id"]))
    assert sorted(by_q) == queries
    for q in queries:
        assert sorted(by_q[q]) == expect[q], (q, sorted(by_q[q]), expect[q])


def test_pq_ivf_search_matches_python_reference(spark, tmp_path):
    """x3m law on a handmade table: the full IVF-PQ pipeline (coarse
    cell assignment, per-block codes, nprobe=2 probe, ADC over the
    probed cells' codes, top-5) recounted in plain Python/NumPy with
    block-grouped float addition — the same grouping the operator and
    its oracle share."""
    import os
    import random

    import numpy as np

    from ssn_college_software_architecture_assignments__spark.operators.similarity import (
        x3m_pq_ivf_search,
    )

    rng = random.Random(31)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(48)]
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        [(i, [float(v) for v in vec], 0) for i, vec in rows],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(f"{sf_dir}/embeddings.parquet")

    store = {
        i: np.array(vec, dtype=np.float32).astype(np.float64) for i, vec in rows
    }

    def block_d(a, b, blk):
        sl = slice(blk * 16, (blk + 1) * 16)
        return float(((store[a][sl] - store[b][sl]) ** 2).sum())

    def full_d(a, b):
        return sum(block_d(a, b, blk) for blk in range(4))

    cb = list(range(16))
    cells = {v: min((full_d(v, j), j) for j in cb)[1] for v in store}
    codes = {
        v: [min((block_d(v, j, b), j) for j in cb)[1] for b in range(4)]
        for v in store
    }
    expect = {}
    for q in range(8):
        probed = {j for _, j in sorted((full_d(q, j), j) for j in cb)[:2]}
        cand = [v for v in store if v != q and cells[v] in probed]
        scored = sorted(
            (round(sum(block_d(q, codes[v][b], b) for b in range(4)), 4), v)
            for v in cand
        )
        expect[q] = scored[:5]

    got = x3m_pq_ivf_search(spark, sf_dir).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["q_id"], []).append((r["adc_dist"], r["vec_id"]))
    assert sorted(by_q) == [q for q in range(8) if expect[q]]
    for q in by_q:
        assert sorted(by_q[q]) == expect[q], (q, sorted(by_q[q]), expect[q])


def test_pq_refine_recall_dominates_adc_recall(spark, sf_dir):
    """The theorem that justifies x3n's existence: any true top-5
    neighbor that made the ADC shortlist is NECESSARILY in the exact
    top-5 of that shortlist (its exact distance is globally top-5), and
    the ADC top-5 is a subset of the top-20 shortlist — so per query,
    refine recall@5 >= plain ADC recall@5. Checked on the fixture
    against exact squared-L2 truth computed in Python."""
    from ssn_college_software_architecture_assignments__spark.catalog import Catalog
    from ssn_college_software_architecture_assignments__spark.operators.similarity import (
        x3k_pq_adc_topk,
        x3n_pq_refine_topk,
    )

    embs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in Catalog(spark, sf_dir).embeddings.collect()
    }

    def sqd(u, v):
        return sum((a - b) * (a - b) for a, b in zip(u, v))

    truth = {}
    for q in range(8):
        d = sorted(
            (round(sqd(embs[q], v), 4), vid)
            for vid, v in embs.items()
            if vid != q
        )
        truth[q] = {vid for _, vid in d[:5]}

    adc = {}
    for r in x3k_pq_adc_topk(spark, sf_dir).collect():
        adc.setdefault(r["q_id"], set()).add(r["vec_id"])
    ref = {}
    for r in x3n_pq_refine_topk(spark, sf_dir).collect():
        ref.setdefault(r["q_id"], set()).add(r["vec_id"])

    for q in range(8):
        assert len(ref[q]) == 5 and len(adc[q]) == 5
        assert len(ref[q] & truth[q]) >= len(adc[q] & truth[q]), q


def test_nprobe_sweep_recall_is_monotone(spark, sf_dir):
    """x3p law: widening the probe only ADDS candidate cells, so
    recall@5 is nondecreasing in nprobe, and at nprobe == K (all 16
    cells probed) IVF degenerates to exact search with recall 1.0."""
    from ssn_college_software_architecture_assignments__spark.operators.similarity import (
        _ivf_topk,
        x3_similarity_bruteforce,
        x3p_ivf_nprobe_sweep,
    )

    rows = {r["nprobe"]: r for r in x3p_ivf_nprobe_sweep(spark, sf_dir).collect()}
    assert sorted(rows) == [1, 2, 4]
    assert rows[1]["recall"] <= rows[2]["recall"] <= rows[4]["recall"]
    assert all(r["n_true"] == 40 for r in rows.values())  # 8 queries x 5

    bf = {
        (r["q_id"], r["vec_id"])
        for r in x3_similarity_bruteforce(spark, sf_dir).collect()
    }
    full = {
        (r["q_id"], r["vec_id"])
        for r in _ivf_topk(spark, sf_dir, nprobe=16).collect()
    }
    assert full == bf


def test_mrl_full_prefix_degenerates_to_exact_topk(spark, sf_dir):
    """x3q law: with pre_dim = the full dimension, the prefix shortlist
    ranks by EXACT cosine, so the funnel must return exactly the x3
    brute-force top-5 — the degeneracy pin that proves the funnel
    machinery itself loses nothing (any recall gap at pre_dim=16 is
    attributable to truncation alone)."""
    from ssn_college_software_architecture_assignments__spark.operators.similarity import (
        EMB_DIM,
        _mrl_topk,
        x3_similarity_bruteforce,
    )

    exact = {
        (r["q_id"], r["vec_id"]): r["cos_sim"]
        for r in x3_similarity_bruteforce(spark, sf_dir).collect()
    }
    full = {
        (r["q_id"], r["vec_id"]): r["cos_sim"]
        for r in _mrl_topk(spark, sf_dir, EMB_DIM).collect()
    }
    assert full == exact


def test_mrl_truncated_shortlist_subset_and_recall(spark, sf_dir):
    """x3q at pre_dim=16: every returned pair must carry the true exact
    cosine (rescoring is exact), and recall@5 vs brute force must be
    meaningfully high on the fixture (the shortlist is 4x the final k)."""
    from ssn_college_software_architecture_assignments__spark.operators.similarity import (
        x3_similarity_bruteforce,
        x3q_mrl_refine_topk,
    )

    exact = {
        (r["q_id"], r["vec_id"]) for r in x3_similarity_bruteforce(spark, sf_dir).collect()
    }
    exact_sims = {
        (r["q_id"], r["vec_id"]): r["cos_sim"]
        for r in x3_similarity_bruteforce(spark, sf_dir).collect()
    }
    got = x3q_mrl_refine_topk(spark, sf_dir).collect()
    assert len(got) == 40  # 8 queries x 5
    for r in got:
        if (r["q_id"], r["vec_id"]) in exact_sims:
            assert r["cos_sim"] == exact_sims[(r["q_id"], r["vec_id"])]
    hits = sum(1 for r in got if (r["q_id"], r["vec_id"]) in exact)
    # fixture embeddings are RANDOM (not Matryoshka-trained), so a
    # 16/64-dim prefix carries only sqrt-fraction signal; measured
    # recall ~0.375 here. The bar pins "far above chance" (random top-5
    # of 500 would hit ~0.01) without pretending untrained vectors
    # deliver trained-prefix recall.
    assert hits / len(exact) >= 0.25


def test_kmeans_step_matches_hand_computed_lloyd_update(spark, tmp_path):
    """x3r law on a handmade corpus: 8 unit-vector centroids, two extra
    members with obvious nearest centroids, and one vector EQUIDISTANT
    between centroids 2 and 3 (must break to the smaller id). The
    updated coordinates are hand-computed means."""
    import os

    from ssn_college_software_architecture_assignments__spark.operators.similarity import (
        x3r_kmeans_step,
    )

    def unit(d, scale=1.0):
        v = [0.0] * 64
        v[d] = scale
        return v

    rows = [(i, unit(i), 0) for i in range(8)]          # centroids = e_i
    rows.append((8, unit(0, 0.9), 0))                    # -> cluster 0
    rows.append((9, unit(1, 0.8), 0))                    # -> cluster 1
    tie = [0.0] * 64
    tie[2] = 0.5
    tie[3] = 0.5
    rows.append((10, tie, 0))                            # equidistant 2/3 -> 2

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{sf_dir}/embeddings.parquet")

    out = {}
    for r in x3r_kmeans_step(spark, sf_dir).collect():
        out.setdefault(r["cluster_id"], {})[r["dim_idx"]] = r
    assert sorted(out) == list(range(8))

    members = {0: 2, 1: 2, 2: 2, 3: 1, 4: 1, 5: 1, 6: 1, 7: 1}
    for cid, n in members.items():
        assert out[cid][0]["n_members"] == n, cid
    # cluster 0: mean of e0 and 0.9*e0 at dim 0
    assert out[0][0]["new_val"] == round((1.0 + 0.9) / 2, 4)
    # cluster 1: mean of e1 and 0.8*e1 at dim 1
    assert out[1][1]["new_val"] == round((1.0 + 0.8) / 2, 4)
    # tie vector joined cluster 2: dims 2 and 3 move to the member means
    assert out[2][2]["new_val"] == round((1.0 + 0.5) / 2, 4)
    assert out[2][3]["new_val"] == round((0.0 + 0.5) / 2, 4)
    # untouched singleton clusters keep their coordinates exactly
    for cid in (3, 4, 5, 6, 7):
        for d in (0, cid):
            assert out[cid][d]["new_val"] == out[cid][d]["old_val"]


def test_x3r2_inertia_monotone_and_step1_matches_x3r(spark, sf_dir):
    """x3r2 Lloyd laws: (1) per-step TOTAL inertia is monotone
    non-increasing (the convergence guarantee the training loop
    exists for); (2) every vector is assigned every step (member
    counts sum to the corpus size); (3) step 1 is exactly one x3r
    step from the same init, so per-cluster member counts agree with
    the registered single-step operator."""
    from ssn_college_software_architecture_assignments__spark.operators.similarity import (
        _X3R2_STEPS,
        x3r2_kmeans_train,
        x3r_kmeans_step,
    )

    rows = x3r2_kmeans_train(spark, sf_dir).collect()
    n_vecs = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    )
    by_step: dict[int, list] = {}
    for r in rows:
        by_step.setdefault(r["step"], []).append(r)
    assert sorted(by_step) == list(range(1, _X3R2_STEPS + 1))
    totals = []
    for step in sorted(by_step):
        assert sum(r["n_members"] for r in by_step[step]) == n_vecs
        totals.append(sum(r["inertia"] for r in by_step[step]))
    assert all(a >= b for a, b in zip(totals, totals[1:])), totals
    assert totals[0] > 0

    single = x3r_kmeans_step(spark, sf_dir).collect()
    x3r_members = {
        (r["cluster_id"], r["n_members"]) for r in single
    }
    step1_members = {
        (r["cluster_id"], r["n_members"])
        for r in by_step[1]
        if r["n_members"] > 0
    }
    assert step1_members == x3r_members


def test_x3t_filtered_search_matches_python_truth(spark, sf_dir):
    """x3t laws: every neighbor carries the query's own label
    (pre-filter semantics), and the per-query top-5 equals an
    independent Python brute force over the label-matching candidates
    with the same (rounded cos desc, vec_id) tie law."""
    import math

    from ssn_college_software_architecture_assignments__spark.operators.similarity import (
        x3t_filtered_search,
    )

    # Spark F.round is HALF_UP; Python round() is banker's — emulate
    # the former so a .xxxx5 cosine cannot flip the truth (memory law:
    # never round in the driver with round())
    def half_up4(x):
        return math.copysign(math.floor(abs(x) * 10000 + 0.5), x) / 10000

    rows = x3t_filtered_search(spark, sf_dir).collect()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    vecs = {r["vec_id"]: ([float(x) for x in r["embedding"]], r["label"]) for r in emb}
    by_q: dict[int, list] = {}
    for r in rows:
        assert vecs[r["vec_id"]][1] == r["label"] == vecs[r["q_id"]][1]
        by_q.setdefault(r["q_id"], []).append((r["vec_id"], r["cos_sim"]))
    for q_id in range(8):
        qv, ql = vecs[q_id]
        qn = math.sqrt(sum(x * x for x in qv))
        scored = []
        for vid, (v, lab) in vecs.items():
            if vid == q_id or lab != ql:
                continue
            cos = sum(a * b for a, b in zip(qv, v)) / (
                qn * math.sqrt(sum(x * x for x in v))
            )
            scored.append((half_up4(cos), vid))
        scored.sort(key=lambda t: (-t[0], t[1]))
        want = [(vid, c) for c, vid in scored[:5]]
        assert by_q.get(q_id, []) == want, q_id


def test_x3y_mips_partition_invariance_and_tie_law(spark):
    """x3y theorems on a planted corpus: (a) the per-batch top-k cut is
    partition-invariant — 1-partition and 7-partition runs produce
    identical rows because the (idot desc, vec_id) total order makes
    every global winner a batch winner; (b) byte-identical candidates
    tie on idot and rank by vec_id; (c) a query never matches itself."""
    from pyspark.sql import functions as F  # noqa: F401
    from ssn_college_software_architecture_assignments__spark.operators.similarity import (
        x3y_mips_matmul_topk,
    )
    import ssn_college_software_architecture_assignments__spark.operators.similarity as smod

    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (10, [1.0, 2.0, 3.0, 4.0]),
        (11, [1.0, 2.0, 3.0, 4.0]),   # byte-identical to 10: idot tie
        (12, [4.0, 3.0, 2.0, 1.0]),
        (13, [-1.0, -2.0, -3.0, -4.0]),
        (14, [0.5, 0.5, 0.5, 0.5]),
        (15, [2.0, 0.0, 0.0, 0.0]),
    ]

    def run(n_parts):
        df = spark.createDataFrame(
            vecs, "vec_id long, embedding array<double>"
        ).repartition(n_parts)

        class _Cat:
            def __init__(self, spark, sf_dir):
                self.embeddings = df

        orig = smod.Catalog
        smod.Catalog = _Cat
        try:
            return [
                tuple(r)
                for r in x3y_mips_matmul_topk(spark, "x")
                .orderBy("q_id", "rn")
                .collect()
            ]
        finally:
            smod.Catalog = orig

    one, seven = run(1), run(7)
    assert one == seven
    assert all(q != v for q, _, v, _ in one)  # no self-match
    by_q = {}
    for q, rn, v, idot in one:
        by_q.setdefault(q, []).append((rn, v, idot))
    # tie law for query 0: vecs 10 and 11 share codes -> equal idot,
    # adjacent ranks, lower vec_id first
    r0 = {v: (rn, idot) for rn, v, idot in by_q[0]}
    assert r0[10][1] == r0[11][1]
    assert r0[11][0] == r0[10][0] + 1
    # ranks are dense 1..k per query
    for rows in by_q.values():
        assert [rn for rn, _, _ in sorted(rows)] == list(
            range(1, len(rows) + 1)
        )


def test_x3z_trained_ivf_planted_probe_and_ranking(spark):
    """x3z law on the planted 2-D corpus (the x2j2 fixture): query 0's
    probe set is its own trained cell 0 plus cell 1 (the L2 tie at
    1980100 between centroids 1 and 3 resolves to the lower cid — the
    (dist, cid) law); candidates are exactly the probed cells' nonzero
    members (8, 9 from cell 0; 1 from cell 1; the zero vector 10 is
    excluded), ranked 8 (cos ~ 1.0), 1 (0.7071), 9 (0.4061). The same
    frame runs through the DuckDB oracle so both engines pin the same
    ranking."""
    import duckdb
    import pandas as pd
    import ssn_college_software_architecture_assignments__spark.operators.similarity as smod
    from ssn_college_software_architecture_assignments__spark.operators.similarity import (
        _X3Z_ORACLE,
        x3z_trained_ivf_topk,
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
        (8, [9.999, 0.001]),
        (9, [4.0, 9.0]),
        (10, [0.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")

    class _Cat:
        def __init__(self, spark, sf_dir):
            self.embeddings = df

    orig = smod.Catalog
    smod.Catalog = _Cat
    try:
        rows = x3z_trained_ivf_topk(spark, "x").collect()
    finally:
        smod.Catalog = orig

    assert all(r["vec_id"] != r["q_id"] for r in rows)
    assert all(1 <= r["rnk"] <= 5 for r in rows)
    assert all(r["vec_id"] != 10 for r in rows), "zero vector excluded"
    q0 = sorted(
        (r["rnk"], r["vec_id"], r["cell"], r["cos_sim"])
        for r in rows if r["q_id"] == 0
    )
    assert [x[1] for x in q0] == [8, 1, 9]
    assert q0[0][2] == 0 and q0[1][2] == 1 and q0[2][2] == 0
    assert q0[0][3] == 1.0
    assert abs(q0[1][3] - 0.7071) < 1e-9
    assert abs(q0[2][3] - 0.4061) < 1e-9

    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame(
            {"vec_id": [v for v, _ in vecs], "embedding": [e for _, e in vecs]}
        ),
    )
    oracle = sorted(
        (int(r[0]), int(r[1]), int(r[2]), int(r[3]), float(r[4]))
        for r in con.execute(_X3Z_ORACLE).fetchall()
    )
    got = sorted(
        (r["q_id"], r["rnk"], r["vec_id"], r["cell"], r["cos_sim"])
        for r in rows
    )
    assert oracle == got


def test_nearest_cells_tie_order_and_zero_norm_law(spark):
    """nearest_cells law on handmade 2-D vectors, both metrics, n = 1
    and n = 3: an exact distance tie (vector [1, 1] is equally near
    centroids 1 and 2 by cosine AND by L2) goes to the smaller cent_id;
    the answer does not depend on the centroid array's order (the
    reversed array gives the same cells); the zero-norm centroid 4 is
    never a cosine candidate but is an ordinary L2 one; the zero vector
    has no cosine cell (null) and assign_cells drops it."""
    import math

    from pyspark.sql import functions as F

    from ssn_college_software_architecture_assignments__spark.operators.similarity import (
        _centroid_array,
        assign_cells,
        nearest_cells,
    )

    cents = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (4, [0.0, 0.0]), (5, [-1.0, 0.0])],
        "cent_id long, cemb array<double>",
    )
    vecs = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, [0.0, 0.0]), (2, [-2.0, 0.0])],
        "vec_id long, emb array<double>",
    )
    expect = {
        ("cos", 1): {0: 1, 1: None, 2: 5},
        ("cos", 3): {0: [1, 2, 5], 1: None, 2: [5, 2, 1]},
        ("l2", 1): {0: 1, 1: 4, 2: 5},
        ("l2", 3): {0: [1, 2, 4], 1: [4, 1, 2], 2: [5, 4, 2]},
    }
    arr = _centroid_array(cents)
    for cents_col in (F.col("cents"), F.reverse("cents")):
        frame = vecs.crossJoin(arr.select(cents_col.alias("cents")))
        for (metric, n), want in expect.items():
            near = nearest_cells(F.col("emb"), F.col("cents"), metric, n)
            got = {
                r["vec_id"]: r["cell"]
                for r in frame.select("vec_id", near["cid"].alias("cell")).collect()
            }
            assert got == want, (metric, n, got)
        # n = 1 carries the winning key: squared L2, or -cos
        keys = {
            r["vec_id"]: (r["d"], r["c"])
            for r in frame.select(
                "vec_id",
                nearest_cells(F.col("emb"), F.col("cents"), "l2")["key"].alias("d"),
                nearest_cells(F.col("emb"), F.col("cents"))["key"].alias("c"),
            ).collect()
        }
        assert keys == {
            0: (1.0, -(1.0 / math.sqrt(2.0))),
            1: (0.0, None),
            2: (1.0, -1.0),
        }

    cells = {r["vec_id"]: r["cell"] for r in assign_cells(vecs, cents).collect()}
    assert cells == {0: 1, 2: 5}


def test_pq_argmin_folds_follow_nearest_cells_tie_law(spark):
    """x3j's per-block encoder (_pq_argmin_sql) and x3m's fused ingest
    fold (_pq_ingest_fold) keep their own SQL argmins for speed; on
    handmade 64-D exact ties they pick the same code and cell as
    nearest_cells under its (key, cent_id) law: the smallest tied
    cent_id, whatever the codebook array's order. Centroids 9 (e0),
    2 (-e0), 5 (3 e0) and 4 (e16); vector 0 ties cell 2/4/9, vector 1
    ties cell 5/9, and every all-zero block ties all four codes."""
    from pyspark.sql import functions as F

    from ssn_college_software_architecture_assignments__spark.operators.similarity import (
        _PQ_BLOCK_DIM,
        _PQ_BLOCKS,
        _centroid_array,
        _pq_argmin_sql,
        _pq_block_sqdist_sql,
        _pq_full_sqdist,
        _pq_ingest_fold,
        nearest_cells,
        sqdist,
    )

    def vec(**dims):
        v = [0.0] * (_PQ_BLOCKS * _PQ_BLOCK_DIM)
        for d, x in dims.items():
            v[int(d[1:])] = x
        return v

    cents = spark.createDataFrame(
        [(9, vec(d0=1.0)), (2, vec(d0=-1.0)), (5, vec(d0=3.0)), (4, vec(d16=1.0))],
        "cent_id long, cemb array<double>",
    )
    vecs = spark.createDataFrame(
        [(0, vec()), (1, vec(d0=2.0)), (2, vec(d16=1.0))],
        "vec_id long, emb array<double>",
    )
    want_cell = {0: 2, 1: 5, 2: 4}
    want_codes = {0: [4, 2, 2, 2], 1: [5, 2, 2, 2], 2: [4, 4, 2, 2]}

    def block_l2(b):
        lo = b * _PQ_BLOCK_DIM + 1
        return lambda v, c: sqdist(
            F.slice(v, lo, _PQ_BLOCK_DIM), F.slice(c, lo, _PQ_BLOCK_DIM)
        )

    arr = _centroid_array(cents)
    for cents_col in (F.col("cents"), F.reverse("cents")):
        frame = vecs.crossJoin(arr.select(cents_col.alias("cents")))
        rows = frame.select(
            "vec_id",
            nearest_cells(F.col("emb"), F.col("cents"), _pq_full_sqdist)["cid"]
            .alias("kernel_cell"),
            _pq_ingest_fold("emb").alias("fused"),
            *[
                F.expr(
                    _pq_argmin_sql(_pq_block_sqdist_sql("emb", "c.cemb", b))
                )["bid"].alias(f"x3j_{b}")
                for b in range(_PQ_BLOCKS)
            ],
            *[
                nearest_cells(F.col("emb"), F.col("cents"), block_l2(b))["cid"]
                .alias(f"kernel_{b}")
                for b in range(_PQ_BLOCKS)
            ],
        ).collect()
        for r in rows:
            i = r["vec_id"]
            assert r["kernel_cell"] == r["fused"]["cell"]["bid"] == want_cell[i]
            for b in range(_PQ_BLOCKS):
                assert (
                    r[f"kernel_{b}"]
                    == r[f"x3j_{b}"]
                    == r["fused"][f"a{b}"]["bid"]
                    == want_codes[i][b]
                ), (i, b)
