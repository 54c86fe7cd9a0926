

def test_f5_cogrouped_asof_matches_naive(spark):
    """Property: on random per-user click/purchase histories (duplicate
    timestamps, clickless users, purchaseless users), the cogrouped
    merge_asof kernel equals the naive as-of definition — latest click
    with ts <= purchase ts, ties to the highest event_id."""
    import datetime

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pyspark.sql import functions as F

    base = datetime.datetime(2024, 1, 1)
    ev_strat = st.lists(
        st.tuples(
            st.integers(0, 2),            # user
            st.integers(0, 5),            # minute offset (collisions likely)
            st.booleans(),                # is_purchase
        ),
        min_size=1,
        max_size=12,
    )

    @given(raw=ev_strat)
    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(raw):
        rows = [
            (
                i,
                base + datetime.timedelta(minutes=m),
                u,
                "purchase" if p else "click",
                float(i) + 0.5,
                "{}",
            )
            for i, (u, m, p) in enumerate(raw)
        ]
        schema = (
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        ev = spark.createDataFrame(rows, schema)

        # f5's real layout (r18): cogroup on a hash BUCKET of the user
        # id, right side user column aliased to c_user_id — so the law
        # exercises the kernel's multi-user left_by/right_by path, not
        # only the per-user degenerate case. Two buckets guarantee
        # multi-user frames whenever the strategy draws 2+ users.
        purchases = (
            ev.filter(F.col("event_type") == "purchase")
            .select("user_id", "event_id", "ts")
            .withColumn("_b", F.pmod(F.col("user_id"), F.lit(2)))
        )
        clicks = (
            ev.filter(F.col("event_type") == "click")
            .select(
                F.col("user_id").alias("c_user_id"),
                F.col("event_id").alias("c_event_id"),
                F.col("ts").alias("c_ts"),
                F.col("value").alias("c_value"),
            )
            .withColumn("_b", F.pmod(F.col("c_user_id"), F.lit(2)))
        )
        from ssn_college_software_architecture_assignments__spark.operators.udfs import (
            _asof_merge_kernel,
        )

        got = {
            (r["user_id"], r["purchase_id"]): (r["click_id"], r["click_value"])
            for r in purchases.groupBy("_b")
            .cogroup(clicks.groupBy("_b"))
            .applyInPandas(
                _asof_merge_kernel,
                "user_id long, purchase_id long, click_id long, "
                "click_value double",
            )
            .collect()
        }

        expect = {}
        for i, (u, m, p) in enumerate(raw):
            if not p:
                continue
            cands = [
                (m2, j)
                for j, (u2, m2, p2) in enumerate(raw)
                if u2 == u and not p2 and m2 <= m
            ]
            if cands:
                _, j = max(cands)
                expect[(u, i)] = (j, float(j) + 0.5)
            else:
                expect[(u, i)] = (None, None)
        assert got == expect

    run()


def test_f6_map_in_arrow_exact_byte_laws(spark):
    """f6 law on planted strings: multi-byte UTF-8 counts BYTES not
    characters (the strlen contract both engines share), empty-ish and
    single-token docs get n_tokens = n_spaces + 1, and doc_id passes
    through zero-copy."""
    from ssn_college_software_architecture_assignments__spark.operators.udfs import (
        f6_map_in_arrow,
    )
    import ssn_college_software_architecture_assignments__spark.operators.udfs as umod

    df = spark.createDataFrame(
        [
            (1, "plain ascii text"),
            (2, "café au lait"),   # é is 2 bytes in UTF-8
            (3, "single"),
            (4, "a  b"),                # double space: 2 spaces, 3 "tokens"
        ],
        "doc_id long, text string",
    )

    class _Cat:
        def __init__(self, spark, sf_dir):
            self.documents = df

    orig = umod.Catalog
    umod.Catalog = _Cat
    try:
        rows = {r["doc_id"]: r for r in f6_map_in_arrow(spark, "x").collect()}
    finally:
        umod.Catalog = orig

    assert rows[1]["n_bytes"] == len("plain ascii text")
    assert rows[2]["n_bytes"] == len("café au lait".encode())  # 13
    assert rows[2]["n_bytes"] == 13 and rows[2]["n_spaces"] == 2
    assert rows[3]["n_spaces"] == 0 and rows[3]["n_tokens"] == 1
    assert rows[4]["n_spaces"] == 2 and rows[4]["n_tokens"] == 3


def test_f7_counts_bytes_not_characters(spark):
    """f7's pinned law: Arrow binary_length (and DuckDB strlen) count
    UTF-8 BYTES. A 5-character text with one 2-byte character measures
    6 bytes; the kernel's per-group min/max/total all follow. Verified
    against python's own encode() lengths on a handmade corpus."""
    from ssn_college_software_architecture_assignments__spark.operators.udfs import (
        f7_apply_in_arrow,
    )
    import ssn_college_software_architecture_assignments__spark.operators.udfs as umod

    texts_a = ["héllo", "ascii"]       # 6 bytes, 5 bytes
    texts_b = ["éé", "xyz", "pq"]  # 4, 3, 2 bytes
    rows = [(i, t, "a") for i, t in enumerate(texts_a)] + [
        (10 + i, t, "b") for i, t in enumerate(texts_b)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")

    class _Cat:
        def __init__(self, spark, sf_dir):
            self.documents = df

    orig = umod.Catalog
    umod.Catalog = _Cat
    try:
        got = {r["source"]: r for r in f7_apply_in_arrow(spark, "x").collect()}
    finally:
        umod.Catalog = orig

    blen = lambda t: len(t.encode("utf-8"))  # noqa: E731
    a, b = got["a"], got["b"]
    assert a["n_docs"] == 2 and a["total_bytes"] == sum(map(blen, texts_a)) == 11
    assert (a["min_bytes"], a["max_bytes"]) == (5, 6)
    assert a["max_bytes"] == 6 != len("héllo")  # bytes, not chars
    assert b["n_docs"] == 3 and b["total_bytes"] == 9
    assert (b["min_bytes"], b["max_bytes"]) == (2, 4)


def test_f5_bucket_count_treats_unknown_stats_as_unknown(spark, sf_dir):
    """An RDD-backed frame has no size statistics; Spark reports the
    ``spark.sql.defaultSizeInBytes`` sentinel (Long.MaxValue) instead of
    raising. f5 must read that as unknown and keep the core floor, not
    ask for ~1.4e11 buckets. A parquet scan with a known size still
    scales its bucket count with the size."""
    from ssn_college_software_architecture_assignments__spark.catalog import Catalog
    from ssn_college_software_architecture_assignments__spark.operators.udfs import (
        _f5_bucket_count,
    )

    floor = spark.sparkContext.defaultParallelism
    rdd_backed = spark.createDataFrame(
        spark.sparkContext.parallelize([(1, 2)]), "user_id long, event_id long"
    )
    stats = rdd_backed._jdf.queryExecution().optimizedPlan().stats()
    assert int(str(stats.sizeInBytes())) == (1 << 63) - 1
    assert _f5_bucket_count(spark, rdd_backed) == floor

    ev = Catalog(spark, sf_dir).events
    size = int(str(ev._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    target = max(size // (floor + 3), 1)
    spark.conf.set("spark.ssn.f5.targetBucketBytes", str(target))
    try:
        assert _f5_bucket_count(spark, ev) == size // target > floor
    finally:
        spark.conf.unset("spark.ssn.f5.targetBucketBytes")
