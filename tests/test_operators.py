"""Operator-level invariants beyond the oracle hash checks."""

from __future__ import annotations

import pyspark.sql.functions as F

from walrus_spark.catalog import load_table
from walrus_spark.operators.dedup import (
    exact_jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
)
from walrus_spark.operators.similarity import cosine_topk, ivf_topk
from tests.conftest import SF_DIR_ORACLE


def test_lsh_equals_exact(spark):
    """LSH candidates + verify must reproduce the exact Jaccard pairs."""
    docs = load_table(spark, SF_DIR_ORACLE, "documents")
    exact = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in exact_jaccard_pairs(docs).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_lsh_pairs(docs).collect()
    }
    assert exact == lsh
    assert len(exact) > 0  # fixture has injected near-dups


def test_simhash_finds_near_identical(spark):
    """Every Jaccard≈1 pair must be a SimHash pair (hamming small)."""
    docs = load_table(spark, SF_DIR_ORACLE, "documents")
    exact_high = {
        (r["doc_a"], r["doc_b"])
        for r in exact_jaccard_pairs(docs, threshold=0.95).collect()
    }
    sim = {
        (r["doc_a"], r["doc_b"]) for r in simhash_pairs(docs).collect()
    }
    missed = exact_high - sim
    assert not missed, f"simhash missed near-identical pairs: {missed}"


def test_simhash_pairs_are_near_dups(spark):
    """SimHash pairs must be genuinely similar (precision sanity):
    every reported pair has word-shingle Jaccard above the noise floor."""
    docs = load_table(spark, SF_DIR_ORACLE, "documents")
    sim = simhash_pairs(docs)
    exact_any = exact_jaccard_pairs(docs, threshold=0.3).select(
        "doc_a", "doc_b"
    )
    bogus = sim.join(exact_any, ["doc_a", "doc_b"], "left_anti").count()
    assert bogus == 0


def test_ivf_recall_vs_bruteforce(spark):
    """IVF with 4/16 probes must recover most of the exact top-10."""
    emb = load_table(spark, SF_DIR_ORACLE, "embeddings")
    exact = [r["vec_id"] for r in cosine_topk(emb, 1).collect()]
    approx = [r["vec_id"] for r in ivf_topk(emb, 1).collect()]
    overlap = len(set(exact) & set(approx))
    assert overlap >= 6, (exact, approx)
    assert approx[0] == 1  # the query vector itself must rank first


def test_ivf_arrow_assignment_parity_and_scale_plan(spark):
    """The broadcast-matrix Arrow assignment must (a) agree with the
    literal-argmax path cluster-for-cluster, and (b) keep the plan
    SMALL and exchange-free at nlist=256 — the cardinality where a
    literal plan would carry ~256·64 expression nodes. Plan size
    independent of nlist is the 100 TB property (real IVF runs
    nlist ≥ 10⁴)."""
    from walrus_spark.operators.similarity import ivf_assign, ivf_topk

    emb = load_table(spark, SF_DIR_ORACLE, "embeddings")
    lit = {
        r["vec_id"]: r["cluster"]
        for r in ivf_assign(emb, 16, method="literal").collect()
    }
    arw = {
        r["vec_id"]: r["cluster"]
        for r in ivf_assign(emb, 16, method="arrow").collect()
    }
    assert arw == lit and len(lit) == 500

    big = ivf_assign(emb, 256, method="auto")  # auto → arrow past 64
    plan = big._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan, plan
    # no literal-array blow-up: a literal plan at nlist=256 is >100 KB
    assert len(plan) < 20_000, len(plan)
    # end-to-end probe query on the arrow path: exchange-free and sane
    q = ivf_topk(emb, 1, n_centroids=256, n_probe=32, method="arrow")
    qplan = q._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in qplan, qplan
    got = [r["vec_id"] for r in q.collect()]
    assert got[0] == 1 and len(got) == 10


def test_ivf_plan_has_no_exchange(spark):
    """Centroid assignment + probe filter must be a pure projection +
    pushed filter — zero Exchange nodes anywhere in the IVF plan (the
    100 TB property: no shuffle of the embedding column, ever)."""
    emb = load_table(spark, SF_DIR_ORACLE, "embeddings")
    plan = (
        ivf_topk(emb, 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_embedding_cosine_reference_bound_enforced(spark):
    """The broadcast side of the block-matmul is contractually bounded —
    oversize must fail loudly, never OOM the driver silently."""
    import pytest

    from walrus_spark.operators.dedup import embedding_cosine_pairs

    emb = load_table(spark, SF_DIR_ORACLE, "embeddings")
    with pytest.raises(ValueError, match="embedding_lsh_pairs"):
        embedding_cosine_pairs(spark, emb, max_reference_rows=10).collect()


def test_shingles_short_doc(spark):
    from walrus_spark.operators.dedup import shingles

    df = spark.createDataFrame(
        [("one two",), ("a b c d",), ("",)], "text string"
    ).select(shingles(F.col("text")).alias("s"))
    rows = [r["s"] for r in df.collect()]
    assert rows[0] == []  # < n words → no shingles, not an error
    assert rows[1] == ["a b c", "b c d"]
    assert rows[2] == []


def test_embedding_lsh_recall_and_precision(spark):
    """Hyperplane-LSH pairs: perfect precision (exact verify stage) and
    high recall vs the exact broadcast-matmul operator."""
    from walrus_spark.operators.dedup import (
        embedding_cosine_pairs,
        embedding_lsh_pairs,
    )

    emb = load_table(spark, SF_DIR_ORACLE, "embeddings")
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_cosine_pairs(spark, emb).collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_lsh_pairs(spark, emb).collect()
    }
    assert lsh <= exact  # verify stage guarantees precision
    assert len(exact) > 0
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.7, f"recall {recall:.2f} ({len(lsh)}/{len(exact)})"


def test_ppm_decode_roundtrip_and_errors():
    """The pure-Python PPM decoder: full header grammar (comments,
    arbitrary whitespace), exact raster recovery, loud failures on
    malformed input."""
    import numpy as np
    import pytest

    from walrus_spark.operators.multimodal import decode_image

    raster = bytes(range(2 * 3 * 3))  # 2x3 image
    ppm = b"P6 # a comment\n# another\n 2\t3 \n255\n" + raster
    w, h, px = decode_image(ppm)
    assert (w, h) == (2, 3)
    assert px.shape == (3, 2, 3)
    assert px.tobytes() == raster
    assert px.dtype == np.uint8
    with pytest.raises(ValueError, match="magic"):
        decode_image(b"P5\n2 3\n255\n" + raster)
    with pytest.raises(ValueError, match="truncated"):
        decode_image(b"P6\n2 3\n255\n" + raster[:-1])
    with pytest.raises(ValueError, match="maxval"):
        decode_image(b"P6\n2 3\n65535\n" + raster)


def test_asof_join_semantics(spark):
    """Hand-built edge cases: no preceding right row -> NULL; equal-ts
    right row counts (at-or-before); ties on ts pick highest tiebreak;
    keys never mix."""
    from datetime import datetime

    from walrus_spark.operators.asof import asof_join

    t = datetime(2024, 1, 1, 12, 0, 0)
    t2 = datetime(2024, 1, 1, 13, 0, 0)
    left = spark.createDataFrame(
        [(1, 10, t), (2, 20, t), (3, 10, t2)],
        "lid long, k long, ts timestamp",
    ).select("lid", F.col("k"), "ts")
    right = spark.createDataFrame(
        [
            (100, 10, t),   # same ts as lid=1 -> counts (at-or-before)
            (101, 10, t),   # tie on ts: higher id wins
            (102, 10, t2),  # later; only visible to lid=3
            (200, 20, t2),  # after lid=2's ts -> lid=2 gets NULL
        ],
        "rid long, k long, ts timestamp",
    )
    out = {
        r["lid"]: r["rid"]
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            right_tiebreak="rid", right_payload=["rid"],
        ).collect()
    }
    assert out == {1: 101, 2: None, 3: 102}


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located bucketed tables must sort-merge join with zero
    exchanges (the repeated fact-fact join scale path)."""
    from walrus_spark.operators.bucketing import (
        colocated_join,
        materialize_bucketed,
    )

    o = load_table(spark, SF_DIR_ORACLE, "orders")
    li = load_table(spark, SF_DIR_ORACLE, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    materialize_bucketed(o, "b_orders", str(tmp_path / "bo"), "o_orderkey")
    materialize_bucketed(li, "b_lineitem", str(tmp_path / "bl"), "o_orderkey")
    try:
        j = colocated_join(spark, "b_orders", "b_lineitem", on="o_orderkey")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert j.count() == load_table(spark, SF_DIR_ORACLE, "lineitem").count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_connected_components_multi_round(spark):
    """A 4-chain (diameter 3) forces multiple propagation rounds; an
    isolated pair and the chain must not merge."""
    from walrus_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_seq_packing_bucket_stitching(spark):
    """Hand-computed packing with a tiny context window and a bucket
    span that forces multiple prefix-sum buckets — the per-bucket bases
    must stitch into one exact global running sum."""
    from walrus_spark.operators.pipeline import seq_packing

    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate([3, 4, 2, 5, 1, 6])]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["start_tok"], r["first_window"], r["last_window"])
        for r in seq_packing(docs, context_window=5, bucket_span=2).collect()
    }
    # cumulative starts: 0,3,7,9,14,15 ; windows of 5 tokens
    assert out == {
        0: (0, 0, 0),
        1: (3, 0, 1),   # tokens 3-6 straddle windows 0 and 1
        2: (7, 1, 1),
        3: (9, 1, 2),
        4: (14, 2, 2),
        5: (15, 3, 4),  # tokens 15-20 straddle windows 3 and 4
    }, out


def test_seq_packing_broadcast_bases_at_many_buckets(spark):
    """The bucket bases must enter the plan as a BROADCAST JOIN, not a
    literal map: at real span sizing the bucket table is ~10⁴–10⁵ rows,
    and a create_map of that many literals is an O(n_buckets)
    expression tree (plan/codegen killer). Exercised at 2·10⁴ buckets —
    plan stays small, carries a BroadcastHashJoin, and the prefix sums
    stitch exactly (every doc has 3 tokens → start_tok = 3·doc_id)."""
    from walrus_spark.operators.pipeline import seq_packing

    docs = spark.range(20_000).select(
        F.col("id").alias("doc_id"), F.lit("a b c").alias("text")
    )
    out = seq_packing(docs, context_window=7, bucket_span=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert len(plan) < 20_000, len(plan)
    rows = out.where(F.col("doc_id").isin(0, 1, 9_999, 19_999)).collect()
    got = {r["doc_id"]: (r["start_tok"], r["first_window"]) for r in rows}
    assert got == {
        0: (0, 0),
        1: (3, 0),
        9_999: (29_997, 4285),
        19_999: (59_997, 8571),
    }, got


def test_partition_invariance(spark):
    """Results must be identical regardless of input partitioning — the
    property that makes every operator safe to run on any cluster
    layout. Exercises the dedup + knn paths whose candidate generation
    depends on physical partitioning (repartition + mapInPandas)."""
    from walrus_spark.operators.dedup import minhash_lsh_pairs, simhash_pairs
    from walrus_spark.operators.similarity import knn_join
    from walrus_spark.catalog import load_table
    from tests.conftest import SF_DIR_ORACLE

    docs = load_table(spark, SF_DIR_ORACLE, "documents")
    emb = load_table(spark, SF_DIR_ORACLE, "embeddings")
    for op, src in (
        (lambda d: minhash_lsh_pairs(d), docs),
        (lambda d: simhash_pairs(d), docs),
        (lambda d: knn_join(spark, d), emb),
    ):
        base = sorted(map(tuple, op(src).collect()))
        skewed = sorted(map(tuple, op(src.repartition(3)).collect()))
        one = sorted(map(tuple, op(src.coalesce(1)).collect()))
        assert base == skewed == one and len(base) > 0


def test_range_join_is_equi_join(spark):
    """range_join must plan as a hash/sort-merge EQUI-join on
    (key, bucket) — never BroadcastNestedLoopJoin, the scale-killer
    Spark picks for raw inequality joins."""
    from walrus_spark.operators.asof import range_join

    ev = load_table(spark, SF_DIR_ORACLE, "events")
    l = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    r = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    j = range_join(
        l, r, on="user_id", left_ts="ts", right_ts="ts",
        lower_us=-86_400_000_000, upper_us=0, right_payload=["click_id"],
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan, plan
    assert "Cartesian" not in plan, plan


def test_range_join_window_edges(spark):
    """Inclusive lower / exclusive upper bounds, including partners that
    sit exactly on a bucket boundary (the case the 2-bucket probe
    explode exists for)."""
    from walrus_spark.operators.asof import range_join

    def mk(rows, cols):
        return spark.createDataFrame(rows, cols)

    # window [t-10s, t): partner at exactly t-10s matches, at t doesn't
    l = mk([(1, "2024-01-01 00:00:20")], "id long, ts string").select(
        "id", F.col("ts").cast("timestamp").alias("ts")
    )
    r = mk(
        [
            (100, "2024-01-01 00:00:10.000000"),  # == lower bound: in
            (101, "2024-01-01 00:00:19.999999"),  # just inside: in
            (102, "2024-01-01 00:00:20"),  # == upper bound: out
            (103, "2024-01-01 00:00:09.999999"),  # below lower: out
        ],
        "rid long, ts string",
    ).select("rid", F.col("ts").cast("timestamp").alias("ts"), F.lit(1).alias("id"))
    # same key for all rows
    l = l.withColumn("k", F.lit(1))
    r = r.withColumn("k", F.lit(1))
    out = range_join(
        l, r, on="k", left_ts="ts", right_ts="ts",
        lower_us=-10_000_000, upper_us=0, right_payload=["rid"],
    )
    assert sorted(x["rid"] for x in out.collect()) == [100, 101]


def test_stratified_sample_exact_and_deterministic(spark):
    """Exactly n per stratum (or the whole stratum when smaller), and
    the pre-filter + window plan agrees with the full-stratum ranking
    run twice (determinism)."""
    from walrus_spark.operators.pipeline import stratified_sample

    docs = load_table(spark, SF_DIR_ORACLE, "documents")
    a = stratified_sample(docs, n_per_stratum=7)
    b = stratified_sample(docs, n_per_stratum=7)
    rows_a = [(r["doc_id"], r["lang"], r["rn"]) for r in a.collect()]
    rows_b = [(r["doc_id"], r["lang"], r["rn"]) for r in b.collect()]
    assert rows_a == rows_b
    from collections import Counter

    per = Counter(lang for _, lang, _ in rows_a)
    totals = {
        r["lang"]: r["count"]
        for r in docs.groupBy("lang").count().collect()
    }
    for lang, total in totals.items():
        assert per[lang] == min(7, total)


def test_decontaminate_flags_verbatim_copy(spark):
    """A train doc that IS an eval doc must come out 100% contaminated;
    an unrelated doc must be 0%."""
    from walrus_spark.operators.pipeline import decontaminate

    ev = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    tr = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon"),  # verbatim copy
            (11, "one two three four five six"),  # disjoint
            (12, "zz"),  # too short for any shingle
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in decontaminate(tr, ev).collect()}
    assert out[10]["overlap_frac"] == 1.0 and out[10]["contaminated"]
    assert out[11]["n_overlap"] == 0 and not out[11]["contaminated"]
    assert out[12]["n_shingles"] == 0 and out[12]["contaminated"] is None


def test_repetition_plan_has_no_exchange(spark):
    """Repetition signals are doc-local: the operator must be a pure
    scan-stage Arrow pass — zero Exchange nodes (the 100 TB property:
    no token of the corpus ever shuffles)."""
    from walrus_spark.operators.text import repetition_signals

    docs = load_table(spark, SF_DIR_ORACLE, "documents")
    plan = (
        repetition_signals(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_sketch_signature_plans_have_no_exchange(spark):
    """MinHash and SimHash signatures are doc-local given the
    shingle-set frame: the signature stages must add ZERO exchanges on
    top of it (the banding repartition later is each pair pipeline's
    only shuffle). The set frame is checkpointed here to isolate the
    stages under test."""
    from walrus_spark.operators.dedup import (
        _shingle_sets,
        minhash_signatures,
        simhash_signatures,
    )

    docs = load_table(spark, SF_DIR_ORACLE, "documents")
    sets = _shingle_sets(docs).localCheckpoint(eager=True)
    for stage in (simhash_signatures, minhash_signatures):
        plan = (
            stage(docs, sets=sets)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan, (stage.__name__, plan)


def test_filter_pushdown_reaches_scan(spark):
    """dq11's predicates must reach the parquet scan as PushedFilters —
    a scan that reads everything and filters later is wrong at scale."""
    from walrus_spark.queries import QUERIES

    plan = (
        QUERIES["dq11_filter_project"](spark, SF_DIR_ORACLE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan, plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200], plan


def test_broadcast_chain_plan(spark):
    """dq14's dim joins must both broadcast — a SortMergeJoin on the
    fact side would shuffle the whole customer table per dim."""
    from walrus_spark.queries import QUERIES

    plan = (
        QUERIES["dq14_broadcast_chain"](spark, SF_DIR_ORACLE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_connected_components_random_graphs(spark):
    """The iterative min-label propagation must reach the exact
    union-find fixpoint on arbitrary graphs — not just the tiny cliques
    near-dup pairs produce (chains, stars, multi-component mixes)."""
    import random

    from walrus_spark.operators.dedup import connected_components

    def uf_components(n_ids, edges):
        parent = list(range(n_ids))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {v for e in edges for v in e}
        return {x: find(x) for x in sorted(touched)}

    rng = random.Random(7)
    for trial in range(3):
        n = 30
        edges = sorted(
            {
                tuple(sorted(rng.sample(range(n), 2)))
                for _ in range(25 + 5 * trial)
            }
        )
        expected = uf_components(n, edges)
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {
            int(r["id"]): int(r["component"])
            for r in connected_components(df).collect()
        }
        assert got == expected, (trial, edges, got, expected)
        star = {
            int(r["id"]): int(r["component"])
            for r in connected_components(df, method="star").collect()
        }
        assert star == expected, (trial, edges, star, expected)


def test_star_components_path_graph_logn_rounds(spark):
    """The large-star/small-star alternation must solve a 10³-node PATH
    graph — diameter 999, the propagate method's worst case — within
    its default iteration budget (O(log n) rounds ≈ 10, not O(n)).
    Every node must land in component 0; a shuffled id permutation
    guards against order-dependent shortcuts."""
    import random

    from walrus_spark.operators.dedup import connected_components

    rng = random.Random(13)
    ids = list(range(1000))
    rng.shuffle(ids)
    edges = [
        (min(ids[i], ids[i + 1]), max(ids[i], ids[i + 1]))
        for i in range(len(ids) - 1)
    ]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        int(r["id"]): int(r["component"])
        for r in connected_components(df, method="star").collect()
    }
    assert got == {i: 0 for i in range(1000)}


def test_salted_join_equals_plain_join(spark):
    """Salting must be invisible in values: a 90%-hot-key fact side
    salted k ways joined to a dim equals the plain join exactly, and
    the hot key's rows really do spread across salt partitions."""
    from walrus_spark.operators.skew import salted_join

    fact = spark.createDataFrame(
        [(1 if i % 10 else (i // 10) % 5 + 2, i) for i in range(1000)],
        "k long, v long",
    )
    dim = spark.createDataFrame(
        [(i, f"d{i}") for i in range(1, 8)], "k long, name string"
    )
    plain = {
        (r["k"], r["v"], r["name"])
        for r in fact.join(dim, "k").collect()
    }
    salted = {
        (r["k"], r["v"], r["name"])
        for r in salted_join(fact, dim, "k", n_salts=4).collect()
    }
    assert salted == plain and len(plain) == 1000
    # the hot key occupies several salt buckets, not one
    import pyspark.sql.functions as F
    from pyspark.sql.functions import xxhash64

    n_buckets = (
        fact.where(F.col("k") == 1)
        .select(F.pmod(xxhash64("k", "v"), F.lit(4)).alias("s"))
        .distinct()
        .count()
    )
    assert n_buckets >= 3


def test_simhash_auto_budget_and_narrow_override(spark):
    """The DEFAULT budget must be the scale-safe one past the corpus
    cutoff (narrow 16-bit chunks — the only configuration whose
    in-bucket verify stays subquadratic), wide only for small corpora
    whose short-doc sketches need the recall radius. An explicit
    narrow budget on the fixture must still find the low-Hamming pairs
    (subset of the wide-budget result, by pigeonhole exactness)."""
    from walrus_spark.operators.dedup import (
        SIMHASH_NARROW_BUDGET,
        SIMHASH_WIDE_BUDGET,
        simhash_auto_budget,
        simhash_pairs,
    )

    assert simhash_auto_budget(500) == SIMHASH_WIDE_BUDGET
    assert simhash_auto_budget(20_001) == SIMHASH_NARROW_BUDGET

    docs = load_table(spark, SF_DIR_ORACLE, "documents")
    wide = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_pairs(docs, max_hamming=12).collect()
    }
    narrow = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_pairs(docs, max_hamming=3).collect()
    }
    assert narrow == {t for t in wide if t[2] <= 3}
    assert narrow  # the fixture has Hamming≤3 pairs; vacuity check


def test_salted_join_plan_shape(spark):
    """The scale contract behind the dq15 'salted:*' gate branch: with
    broadcast off (the regime salting exists for — the small side fits
    k-fold replication but not a broadcast), the physical plan must
    show (a) the k-fold salt fan-out as a Generate/explode on the small
    side, (b) a shuffle join keyed on (key, _salt) — i.e. an Exchange
    on each side whose partitioning includes _salt, spreading a hot
    key over k reducers — and (c) no BroadcastHashJoin."""
    import pyspark.sql.functions as F

    from walrus_spark.operators.skew import salted_join

    fact = spark.range(0, 20_000).select(
        F.when(F.col("id") % 10 != 0, F.lit(1))
        .otherwise(F.col("id") % 5 + 2)
        .alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.createDataFrame(
        [(i, f"d{i}") for i in range(1, 8)], "k long, name string"
    )
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        # AQE off so the pre-execution plan string is the final shape
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        j = salted_join(fact, dim, "k", n_salts=4)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan
        assert "Generate explode" in plan, plan  # the k-fold fan-out
        # both sides shuffle on the SALTED key: every hashpartitioning
        # in the join's exchanges carries _salt next to k
        import re

        parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
        salted_parts = [p for p in parts if "_salt" in p and "k#" in p]
        assert len(salted_parts) >= 2, plan
        # and the values still equal the plain join under this regime
        plain = {
            (r["k"], r["v"], r["name"]) for r in fact.join(dim, "k").collect()
        }
        assert {
            (r["k"], r["v"], r["name"]) for r in j.collect()
        } == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def test_salted_join_rejects_small_side_outer(spark):
    """right/full outer would emit n_salts null-padded rows per
    unmatched small-side row — salted_join must refuse loudly rather
    than silently diverge from the unsalted join."""
    import pytest

    from walrus_spark.operators.skew import salted_join

    fact = spark.createDataFrame([(1, 1)], "k long, v long")
    dim = spark.createDataFrame([(1, "a"), (2, "b")], "k long, name string")
    for how in ("right", "right_outer", "full", "full_outer", "outer"):
        with pytest.raises(ValueError, match="equivalence-preserving"):
            salted_join(fact, dim, "k", n_salts=4, how=how)
    # the safe set still works
    assert salted_join(fact, dim, "k", how="left_anti").count() == 0


def test_repetition_half_up_ties_and_null_text(spark):
    """Two regressions the advisor flagged: (a) exact 6th-decimal ties
    must round HALF_UP like the oracle (128 identical-count words →
    top_word_frac 1/128 = 0.0078125 → 0.007813, where Python round()
    gives 0.007812); (b) NULL text must yield NULL signals, not crash."""
    from walrus_spark.operators.text import repetition_signals

    doc = " ".join(f"w{i}" for i in range(128))
    docs = spark.createDataFrame(
        [(1, doc), (2, None)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in repetition_signals(docs).collect()}
    assert rows[1]["top_word_frac"] == 0.007813
    assert rows[1]["dup_word_frac"] == 0.0
    assert rows[2]["n_words"] is None
    assert rows[2]["top_word_frac"] is None


def test_corpus_filter_single_exchange(spark):
    """The composed corpus filter must be exactly ONE exchange (the
    fingerprint window for canonical election) — signals, filters, and
    election all ride a single shuffle of hashed fingerprints."""
    from walrus_spark.operators.pipeline import corpus_filter

    docs = load_table(spark, SF_DIR_ORACLE, "documents")
    plan = (
        corpus_filter(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_asof_join_random_vs_bruteforce(spark):
    """The union-window as-of algorithm must equal the O(n*m) definition
    on random data with heavy ts collisions (equal-ts left/right rows,
    duplicate right ts needing the tiebreak, keys with no right rows)."""
    import random
    from datetime import datetime, timedelta

    from walrus_spark.operators.asof import asof_join

    rng = random.Random(41)
    base = datetime(2024, 1, 1)
    for _ in range(3):
        lrows = [
            (i, rng.randrange(5), base + timedelta(seconds=rng.randrange(20)))
            for i in range(60)
        ]
        rrows = [
            (100 + j, rng.randrange(6), base + timedelta(seconds=rng.randrange(20)))
            for j in range(80)
        ]
        expected = {}
        for lid, k, lts in lrows:
            best = None
            for rid, rk, rts in rrows:
                if rk == k and rts <= lts:
                    cand = (rts, rid)
                    if best is None or cand > best:
                        best = cand
            expected[lid] = best[1] if best else None
        left = spark.createDataFrame(lrows, "lid long, k long, ts timestamp")
        right = spark.createDataFrame(
            rrows, "rid long, k long, ts timestamp"
        )
        got = {
            r["lid"]: r["rid"]
            for r in asof_join(
                left, right, on="k", left_ts="ts", right_ts="ts",
                right_tiebreak="rid", right_payload=["rid"],
            ).collect()
        }
        assert got == expected


def test_range_join_random_vs_bruteforce(spark):
    """The bucketed range join must count exactly the pairs the interval
    definition names, on random data crossing bucket boundaries."""
    import random
    from datetime import datetime, timedelta

    from walrus_spark.operators.asof import range_join

    rng = random.Random(17)
    base = datetime(2024, 1, 1)
    lower_us, upper_us = -5_000_000, 0  # 5-second lookback
    lrows = [
        (i, rng.randrange(4), base + timedelta(milliseconds=rng.randrange(20000)))
        for i in range(50)
    ]
    rrows = [
        (100 + j, rng.randrange(4), base + timedelta(milliseconds=rng.randrange(20000)))
        for j in range(200)
    ]
    expected = set()
    for lid, k, lts in lrows:
        for rid, rk, rts in rrows:
            dt_us = (rts - lts).total_seconds() * 1e6
            if rk == k and lower_us <= dt_us < upper_us:
                expected.add((lid, rid))
    left = spark.createDataFrame(lrows, "lid long, k long, ts timestamp")
    right = spark.createDataFrame(rrows, "rid long, k long, ts timestamp")
    got = {
        (r["lid"], r["rid"])
        for r in range_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            lower_us=lower_us, upper_us=upper_us, right_payload=["rid"],
        ).collect()
    }
    assert got == expected


def test_pii_scrub_redacts_and_counts(spark):
    """pii_scrub: emails, IPv4s, and phone-like runs are redacted in
    scrub order (email → ip → phone) and counted on the text as already
    scrubbed by earlier passes — so an IP is never half-eaten by the
    phone pattern, and an email's host never counts as a phone."""
    from walrus_spark.operators.text import pii_scrub

    rows = [
        (1, "mail bob.smith+x@foo-bar.co.uk or a@b.io today"),
        (2, "server 192.168.1.100 and 10.0.0.1 up"),
        (3, "call +1 415-555-0199 now"),
        (4, "mixed: u@v.com at 10.0.0.2, dial 0800 555 7788"),
        (5, "clean text, no pii at all"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in pii_scrub(df).collect()
    }
    assert got[1]["n_email"] == 2 and got[1]["n_ipv4"] == 0
    assert got[1]["text_scrubbed"] == "mail <EMAIL> or <EMAIL> today"
    assert got[2]["n_ipv4"] == 2
    assert got[2]["text_scrubbed"] == "server <IP> and <IP> up"
    assert got[3]["n_phone"] == 1
    assert got[3]["text_scrubbed"] == "call <PHONE> now"
    assert (got[4]["n_email"], got[4]["n_ipv4"], got[4]["n_phone"]) == (1, 1, 1)
    assert got[4]["text_scrubbed"] == "mixed: <EMAIL> at <IP>, dial <PHONE>"
    assert (got[5]["n_email"], got[5]["n_ipv4"], got[5]["n_phone"]) == (0, 0, 0)
    assert got[5]["text_scrubbed"] == "clean text, no pii at all"
    assert got[6]["text_scrubbed"] is None  # NULL propagates, no crash


def test_shuffle_shards_deterministic_permutation(spark):
    """shuffle_shards: same seed → identical (shard, pos) on re-run;
    within a shard, pos is a dense 1..n rank ordered by the md5 key;
    different seeds give a different permutation."""
    from walrus_spark.operators.pipeline import shuffle_shards

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = shuffle_shards(df, n_shards=8, seed=42).collect()
    b = shuffle_shards(df, n_shards=8, seed=42).collect()
    assert {(r["doc_id"], r["shard"], r["pos"]) for r in a} == {
        (r["doc_id"], r["shard"], r["pos"]) for r in b
    }
    # every doc exactly once, shards within range
    assert sorted(r["doc_id"] for r in a) == list(range(500))
    assert all(0 <= r["shard"] < 8 for r in a)
    # dense 1..n rank per shard
    by_shard: dict[int, list[int]] = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for ps in by_shard.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))
    # all 8 shards occupied and roughly balanced on 500 uniform keys
    assert len(by_shard) == 8
    assert max(len(p) for p in by_shard.values()) < 3 * min(
        len(p) for p in by_shard.values()
    )
    c = shuffle_shards(df, n_shards=8, seed=7).collect()
    assert {(r["doc_id"], r["shard"]) for r in c} != {
        (r["doc_id"], r["shard"]) for r in a
    }


def test_ivf_recall_vs_exact(spark):
    """IVF approximate top-k must hit high recall against brute force
    at its default nlist/nprobe on the real fixture embeddings — the
    quantitative claim behind calling it an ANN index rather than a
    random subset. Averaged over several query vectors."""
    from walrus_spark.operators.similarity import cosine_topk, ivf_topk

    emb = load_table(spark, SF_DIR_ORACLE, "embeddings")
    k = 10
    qids = (0, 17, 99, 150, 199)  # sf0.01 has 200 vectors
    exact = {
        q: {r["vec_id"] for r in cosine_topk(emb, query_vec_id=q, k=k).collect()}
        for q in qids
    }

    def avg_recall(n_probe: int) -> float:
        rs = []
        for q in qids:
            approx = {
                r["vec_id"]
                for r in ivf_topk(emb, query_vec_id=q, k=k, n_probe=n_probe)
                .collect()
            }
            rs.append(len(exact[q] & approx) / k)
        return sum(rs) / len(rs)

    # probing every cluster IS brute force — must be exactly the top-k
    assert avg_recall(16) == 1.0
    # recall rises monotonically with probes, and the default (4/16)
    # clears the ~nprobe/nlist random-subset baseline decisively. The
    # fixture vectors are near-uniform on the sphere (no real cluster
    # structure — the hardest regime for IVF), so the bar is the
    # geometry's, not a tuned fixture's.
    r4, r8 = avg_recall(4), avg_recall(8)
    assert r4 >= 0.45, r4
    assert r8 >= r4 and r8 >= 0.6, (r4, r8)


def test_write_shard_files_training_order(spark, tmp_path):
    """write_shard_files: every shard lands in its own shard=N dir and
    the PHYSICAL row order inside each shard's files is the pos order —
    what a sequential data loader consumes. Verified by reading the
    parquet files directly (pyarrow preserves file row order)."""
    import glob

    import pyarrow.parquet as pq_

    from walrus_spark.operators.pipeline import (
        shuffle_shards,
        write_shard_files,
    )

    df = spark.range(0, 300).withColumnRenamed("id", "doc_id")
    out = str(tmp_path / "shards")
    write_shard_files(df, out, n_shards=4, seed=42)

    expected = {}
    for r in shuffle_shards(df, n_shards=4, seed=42).collect():
        expected.setdefault(r["shard"], {})[r["pos"]] = r["doc_id"]

    seen = 0
    for shard, by_pos in expected.items():
        files = sorted(glob.glob(f"{out}/shard={shard}/*.parquet"))
        assert files, f"no files for shard {shard}"
        got = []
        for f in files:
            got.extend(pq_.read_table(f, columns=["doc_id", "pos"]).to_pylist())
        # physical order == pos order == the deterministic permutation
        assert [g["pos"] for g in got] == sorted(g["pos"] for g in got)
        assert [g["doc_id"] for g in got] == [
            by_pos[p] for p in sorted(by_pos)
        ]
        seen += len(got)
    assert seen == 300


def test_registry_exactly_fifty_entries():
    """The driver records at most 50 gate entries; anything past 50 is
    silently truncated (round-2 lesson). Pin the registry size so a
    new entry can't hide an existing one — grow only by MERGING."""
    from walrus_spark.queries import ORACLES, QUERIES

    assert len(QUERIES) == 50, sorted(QUERIES)
    # every entry is hash-checkable: oracle present (None marks the
    # documented rows-only exceptions; currently there are none)
    assert set(ORACLES) == set(QUERIES)
    assert all(sql for sql in ORACLES.values())


def test_pii_scrub_stays_jvm_side(spark):
    """The PII pass (and the whole dq18 entry) must never drop to
    Python — sequential regexp_count/replace are codegen expressions
    riding the scan. One real Exchange pair for the partial/final
    aggregate; the rest is the presentation sort."""
    from walrus_spark.queries import QUERIES

    plan = (
        QUERIES["dq18_text_stats"](spark, SF_DIR_ORACLE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan and "MapInPandas" not in plan, plan
    assert "HashAggregate" in plan


def test_pii_scrub_property_planted_and_idempotent(spark):
    """Property test: in random letter/space text with k planted PII
    items of each kind, the scrub finds at least the planted ones (the
    filler alphabet cannot form emails/IPs/phones), and scrubbing is
    IDEMPOTENT — replacement tokens contain no digits or '@', so a
    second pass must find exactly zero matches."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from walrus_spark.operators.text import pii_scrub

    filler = st.text(alphabet="abcdefgh QZ", min_size=0, max_size=40)
    pii = st.sampled_from(
        [
            ("email", "joe.doe+1@example-site.org"),
            ("email", "a@b.io"),
            ("ipv4", "192.168.254.7"),
            ("ipv4", "8.8.8.8"),
            ("phone", "+1 415 555 0199"),
            ("phone", "0800-555-7788"),
        ]
    )
    docs = st.lists(
        st.tuples(filler, st.lists(pii, max_size=4), filler),
        min_size=1,
        max_size=5,
    )

    @settings(
        max_examples=8, deadline=None, suppress_health_check=list(HealthCheck)
    )
    @given(docs=docs)
    def run(docs):
        rows, planted = [], []
        for i, (pre, items, post) in enumerate(docs):
            # space-separate plants from filler: glued alphanumerics
            # legitimately reclassify (e.g. "Q192.168.0.1" fails the
            # IP's \b and redacts as a phone-like run instead — still
            # redacted, which is what idempotence checks below)
            text = " ".join([pre] + [v for _, v in items] + [post])
            rows.append((i, text))
            planted.append(
                {
                    k: sum(1 for kk, _ in items if kk == k)
                    for k in ("email", "ipv4", "phone")
                }
            )
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in pii_scrub(df).collect()}
        for i, want in enumerate(planted):
            # emails and IPs can't merge across a space; phone-like
            # runs CAN (space/dash are in the body class), so adjacent
            # planted phones may collapse into one match — assert
            # presence there, exact floor elsewhere
            assert got[i]["n_email"] >= want["email"], (got[i], want)
            assert got[i]["n_ipv4"] >= want["ipv4"], (got[i], want)
            if want["phone"]:
                assert got[i]["n_phone"] >= 1, (got[i], want)
        # idempotence: a second scrub over the scrubbed text finds 0
        df2 = spark.createDataFrame(
            [(i, got[i]["text_scrubbed"]) for i in got],
            "doc_id long, text string",
        )
        for r in pii_scrub(df2).collect():
            assert (r["n_email"], r["n_ipv4"], r["n_phone"]) == (0, 0, 0), r

    run()


def test_wav_decode_roundtrip_and_errors():
    """The pure-Python WAV decoder: chunk walking (extra LIST chunks,
    odd-size word alignment), exact sample recovery, loud failures on
    malformed input."""
    import struct

    import numpy as np
    import pytest

    from walrus_spark.operators.multimodal import decode_audio

    s = np.array([0, 1000, -1000, 32767, -32768, 7], dtype="<i2")
    data = s.tobytes()

    def wav(extra=b"", rate=8000):
        return (
            b"RIFF" + struct.pack("<I", 36 + len(extra) + len(data)) + b"WAVE"
            + extra
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
            + b"data" + struct.pack("<I", len(data)) + data
        )

    rate, ch, got = decode_audio(wav())
    assert (rate, ch) == (8000, 1) and np.array_equal(got, s)
    # an odd-size foreign chunk before fmt: word-aligned walk skips it
    odd = b"LIST" + struct.pack("<I", 3) + b"abc\x00"
    rate, ch, got = decode_audio(wav(extra=odd))
    assert np.array_equal(got, s)
    with pytest.raises(ValueError, match="magic"):
        decode_audio(b"RIFX" + wav()[4:])
    with pytest.raises(ValueError, match="truncated"):
        decode_audio(wav()[:-3])
    bad_bits = wav().replace(
        struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16),
        struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 8),
    )
    with pytest.raises(ValueError, match="unsupported"):
        decode_audio(bad_bits)


def test_chunk_documents_coverage_and_overlap(spark):
    """chunk_documents: every token covered exactly once per stride
    step, consecutive chunks share `overlap` tokens, short docs give
    one chunk, empty docs give none — verified against a Python
    reference implementation over crafted and random docs."""
    import random

    from walrus_spark.operators.pipeline import chunk_documents

    rng = random.Random(5)
    docs = [
        (0, ""),                               # no chunks
        (1, "a"),                              # one short chunk
        (2, " ".join(f"t{i}" for i in range(10))),   # exactly 1 chunk @10
        (3, " ".join(f"t{i}" for i in range(11))),   # 2 chunks @ stride 7
        (4, " ".join(f"w{rng.randrange(99)}" for _ in range(57))),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    CH, OV = 10, 3
    stride = CH - OV
    got = {}
    for r in chunk_documents(df, chunk_tokens=CH, overlap=OV).collect():
        got.setdefault(r["doc_id"], {})[r["chunk_idx"]] = r

    assert 0 not in got
    for doc_id, text in docs[1:]:
        toks = text.lower().split()
        n = len(toks)
        want_chunks = max(1, -(-(n - OV) // stride))
        chunks = got[doc_id]
        assert len(chunks) == want_chunks, (doc_id, len(chunks), want_chunks)
        for i, r in sorted(chunks.items()):
            lo = i * stride
            want = toks[lo : lo + CH]
            assert r["chunk_text"].split() == want, (doc_id, i)
            assert r["tok_start"] == lo
            assert r["n_chunk_tokens"] == len(want)
        # union of chunks covers every token position
        covered = set()
        for i in chunks:
            covered.update(range(i * stride, min(i * stride + CH, n)))
        assert covered == set(range(n)), doc_id


def test_minhash_lsh_cross_semantics(spark):
    """Cross-corpus dedup: exactly the (new, corpus) near-dup pairs —
    corpus-internal duplicates are never reported (the whole point:
    that work was already done), new-internal duplicates aren't either,
    and results match a brute-force cross Jaccard on synthetic docs."""
    from walrus_spark.operators.dedup import (
        exact_jaccard_pairs,
        minhash_lsh_cross,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = []
    # corpus: ids 0-9; two internal dup pairs (0,1) and (2,3)
    for i in range(10):
        text = base if i < 4 else base.replace("fox", f"animal{i}").replace(
            "river", f"place{i}"
        )
        rows.append((i, text))
    # new batch: ids 100-104; 100 dups corpus doc 5's text, 101-102 are
    # internal near-dups of each other only, 103-104 unrelated
    rows.append((100, base.replace("fox", "animal5").replace("river", "place5")))
    rows.append((101, "completely different words about solar panels and wind farms in rural areas"))
    rows.append((102, "completely different words about solar panels and wind farms in rural zones"))
    rows.append((103, "unique text one about cooking pasta with garlic and fresh basil leaves"))
    rows.append((104, "another unique text regarding mountain hiking trails and weather conditions"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    new = df.where("doc_id >= 100")
    corpus = df.where("doc_id < 100")

    got = {
        (r["doc_new"], r["doc_corpus"])
        for r in minhash_lsh_cross(new, corpus).collect()
    }
    # brute force on the union, keep only cross pairs
    exact = {
        (max(r["doc_a"], r["doc_b"]), min(r["doc_a"], r["doc_b"]))
        for r in exact_jaccard_pairs(df).collect()
        if (r["doc_a"] >= 100) != (r["doc_b"] >= 100)
    }
    assert got == exact, (got, exact)
    assert (100, 5) in got                     # the planted cross dup
    assert all(a >= 100 and b < 100 for a, b in got)


def test_hll_registers_accuracy_and_mergeability(spark):
    """The engine-independent HLL: (a) estimate within ~3 standard
    errors of the exact distinct count at p=12 (σ ≈ 1.04/√4096 ≈
    1.6%), (b) registers MERGE — per-bucket max of two halves' sketches
    equals the whole corpus' sketch (the property that lets sketches
    combine across partitions/corpora/days), (c) duplicate values
    change nothing."""
    from walrus_spark.operators.sketch import hll_estimate, hll_registers

    df = spark.range(0, 20_000).select(
        F.concat(F.lit("val-"), F.col("id")).alias("v"),
        (F.col("id") < 10_000).alias("lo"),
    )
    whole = {
        (r["bucket"], r["max_rho"])
        for r in hll_registers(df, "v").collect()
    }
    est = hll_estimate(list(whole))
    assert abs(est - 20_000) / 20_000 < 0.05, est

    halves = {}
    for half in (True, False):
        for r in hll_registers(df.where(F.col("lo") == half), "v").collect():
            halves[r["bucket"]] = max(
                halves.get(r["bucket"], 0), r["max_rho"]
            )
    assert set(halves.items()) == whole

    doubled = df.union(df)
    again = {
        (r["bucket"], r["max_rho"])
        for r in hll_registers(doubled, "v").collect()
    }
    assert again == whole


def test_end_to_end_training_pipeline(spark, tmp_path):
    """Capstone integration: the full training-data pipeline composes —
    raw documents → quality/dedup corpus filter → near-dup removal
    (LSH clusters → keep cluster minimum) → eval decontamination →
    train/val split → chunking → deterministic shuffle → shard files
    on disk. Each stage consumes the previous stage's DataFrame (no
    materialization between stages until the final write), and the
    final shard files account for exactly the surviving train docs."""
    import glob

    import pyarrow.parquet as pq_

    from walrus_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )
    from walrus_spark.operators.pipeline import (
        chunk_documents,
        corpus_filter,
        decontaminate,
        train_val_split,
        write_shard_files,
    )

    docs = load_table(spark, SF_DIR_ORACLE, "documents")
    n_raw = docs.count()

    # 1. quality + exact-dedup keep-set
    kept = corpus_filter(docs).select("doc_id")
    clean = docs.join(kept, "doc_id")

    # 2. near-dup removal: keep each cluster's smallest doc_id
    comp = connected_components(
        minhash_lsh_pairs(clean).select("doc_a", "doc_b")
    )
    losers = comp.where(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    deduped = clean.join(losers, "doc_id", "left_anti")

    # 3. decontaminate against a held-out "eval set" (every 17th doc)
    eval_docs = docs.where(F.col("doc_id") % 17 == 0)
    flags = decontaminate(
        deduped.where(F.col("doc_id") % 17 != 0), eval_docs
    )
    survivors = (
        deduped.join(
            flags.where(
                F.col("contaminated").isNull() | ~F.col("contaminated")
            ).select("doc_id"),
            "doc_id",
        )
    )

    # 4. split; 5. chunk the train side; 6. shard files
    train = train_val_split(survivors).where(F.col("split") == "train")
    chunks = chunk_documents(train, chunk_tokens=64, overlap=16)
    out = str(tmp_path / "final_shards")
    write_shard_files(train, out, n_shards=4)

    n_clean = clean.count()
    n_dedup = deduped.count()
    n_surv = survivors.count()
    n_train = train.count()
    n_chunks = chunks.count()
    # every stage strictly filters; nothing vanishes entirely
    assert n_raw >= n_clean >= n_dedup > 0
    assert n_dedup >= n_surv >= n_train > 0
    assert n_chunks >= n_train  # every doc yields ≥1 chunk (none empty)
    files = glob.glob(f"{out}/shard=*/*.parquet")
    assert len(glob.glob(f"{out}/shard=*")) == 4
    n_written = sum(pq_.read_table(f, columns=["doc_id"]).num_rows for f in files)
    assert n_written == n_train
    # near-dup removal actually removed something on this fixture
    # (it has injected near-dup pairs)
    assert n_dedup < n_clean


def test_resize_images_nearest_neighbor_exact(spark):
    """resize_images: output is a valid P6 of the target dims whose
    pixels are EXACTLY the integer-strided samples of the source
    raster (dst[y,x] = src[y*h//H, x*w//W]) — verified per pixel
    against numpy on the synthesized PPM corpus."""
    import numpy as np

    from walrus_spark.operators.multimodal import (
        decode_image,
        ppm_media,
        resize_images,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(12)], "doc_id long"
    )
    media = ppm_media(docs)
    originals = {
        int(r["doc_id"]): decode_image(bytes(r["payload"]))
        for r in media.collect()
    }
    W, H = 4, 3
    for r in resize_images(media, W, H).collect():
        w, h, got = decode_image(bytes(r["payload"]))
        assert (w, h) == (W, H)
        sw, sh, src = originals[int(r["doc_id"])]
        ys = (np.arange(H) * sh) // H
        xs = (np.arange(W) * sw) // W
        assert np.array_equal(got, src[ys][:, xs]), r["doc_id"]


def test_new_operator_plan_shapes(spark):
    """Plan pins for the round-4 operators: chunk_documents is a
    zero-Exchange scan-stage flatMap; hll_registers is exactly one
    Exchange (the 4096-bucket aggregate) with partial aggregation
    before it; resize_images stays a scan-stage MapInPandas with no
    Exchange; pii_scrub adds no Exchange and no Python."""
    from walrus_spark.operators.multimodal import ppm_media, resize_images
    from walrus_spark.operators.pipeline import chunk_documents
    from walrus_spark.operators.sketch import hll_registers
    from walrus_spark.operators.text import pii_scrub

    docs = load_table(spark, SF_DIR_ORACLE, "documents")

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    p = plan(chunk_documents(docs))
    assert "Exchange" not in p and "EvalPython" not in p, p

    p = plan(hll_registers(docs, "text"))
    assert p.count("Exchange") == 1 and "partial_max" in p.lower() or (
        p.count("Exchange") == 1 and "HashAggregate" in p
    ), p

    p = plan(resize_images(ppm_media(docs), 4, 3))
    assert "Exchange" not in p and "MapInPandas" in p, p

    p = plan(pii_scrub(docs))
    assert "Exchange" not in p and "EvalPython" not in p, p


def test_shared_shingle_sets_one_cache_entry(spark):
    """The dedup entries share ONE memoized cached shingle-set frame
    per (session, dataset): repeated calls return the identical handle
    (so a 50-entry gate run never materializes a second copy of the
    tokenize scan — the r4 dedup_clusters bench outlier), a dataset
    switch evicts the previous frame, and clear_shared_sets() empties
    the memo entirely."""
    from walrus_spark.operators.dedup import (
        _SETS_CACHE,
        clear_shared_sets,
        shared_shingle_sets,
    )
    from tests.conftest import SF_DIR

    clear_shared_sets()
    a = shared_shingle_sets(spark, SF_DIR_ORACLE)
    b = shared_shingle_sets(spark, SF_DIR_ORACLE)
    assert a is b
    assert len(_SETS_CACHE) == 1
    c = shared_shingle_sets(spark, SF_DIR)  # new dataset → evict + replace
    assert c is not a
    assert len(_SETS_CACHE) == 1
    clear_shared_sets()
    assert len(_SETS_CACHE) == 0


def test_release_session_caches_drains_storage(spark):
    """The uniform between-stages hook (r7 directive #3): after
    materializing the memoized shingle frame AND a catalog-cached
    table, release_session_caches empties every python-side memo and
    leaves the JVM block manager with zero cached RDD blocks — the
    storage pool a freshly-started session would see."""
    from tests.conftest import SF_DIR_ORACLE
    from walrus_spark.operators.dedup import (
        _SETS_CACHE,
        shared_shingle_sets,
    )
    from walrus_spark.queries.sketch_queries import _FRAME_CACHE
    from walrus_spark.session import release_session_caches

    sets = shared_shingle_sets(spark, SF_DIR_ORACLE)
    sets.count()  # materialize the cache
    extra = spark.range(1000).cache()
    extra.count()
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    assert len(infos) >= 1  # something is actually cached

    release_session_caches(spark)
    assert len(_SETS_CACHE) == 0
    assert len(_FRAME_CACHE) == 0
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    assert len(infos) == 0, [str(i) for i in infos]


def test_aqe_skew_join_split_engages(spark):
    """The session's AQE skew-join claim, executed: a sort-merge join
    with one hot key (10x the cold keys combined) gets its oversized
    partition SPLIT at runtime — the final adaptive plan marks the
    join skew=true — with thresholds scaled down so the behavior is
    observable at test size. Results stay exact."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        hot = spark.range(200_000).select(
            F.lit(0).alias("k"),
            F.col("id").alias("v"),
            F.expr("repeat('x', 64)").alias("pad"),
        )
        cold = spark.range(20_000).select(
            (F.col("id") % 100 + 1).alias("k"),
            F.col("id").alias("v"),
            F.expr("repeat('x', 64)").alias("pad"),
        )
        dim = spark.range(101).select(
            F.col("id").alias("k"), F.expr("repeat('y', 8)").alias("d")
        )
        j = hot.union(cold).join(dim, "k")
        n = j.count()
        assert n == 220_000
        j.collect()
        p = j._jdf.queryExecution().executedPlan().toString()
        if "== Initial Plan ==" in p:
            p = p.split("== Initial Plan ==")[0]
        assert "isFinalPlan=true" in p
        assert "skew=true" in p, p[:2000]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_bm25_topk_matches_python_recompute(spark):
    """bm25_topk against a literal python BM25 (independent of the SQL
    oracle): same docs, same formula, same rounding — plus ranking
    sanity (a doc with more query terms at equal length outranks, docs
    without any query term are absent)."""
    import math

    import pandas as pd

    from walrus_spark.operators.text import bm25_topk

    docs = {
        1: "hash join hash join filler words here now",
        2: "hash filler words and more filler words here",
        3: "completely unrelated text with no query words",
        4: "hash join stream vector all four terms present",
        5: "stream stream stream stream padded padded padded padded",
    }
    terms = ["hash", "join", "stream", "vector"]
    k1, b = 1.2, 0.75
    df_ = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(docs), "text": list(docs.values())})
    )
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_topk(df_, terms, k=10, k1=k1, b=b).collect()
    }

    toks = {i: t.lower().split() for i, t in docs.items()}
    N = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / N
    df_t = {
        t: sum(1 for v in toks.values() if t in v) for t in terms
    }
    want = {}
    for i, tk in toks.items():
        dl = len(tk)
        s = 0.0
        for t in terms:
            tf = tk.count(t)
            idf = math.log(1.0 + (N - df_t[t] + 0.5) / (df_t[t] + 0.5))
            s += idf * (tf * (k1 + 1.0)) / (tf + k1 * (1 - b + b * dl / avgdl))
        if any(t in tk for t in terms):
            want[i] = math.floor(s * 1e6 + 0.5) / 1e6
    assert got == want, (got, want)
    assert 3 not in got  # no query terms -> absent
    # all-four-terms doc outranks the single-term doc of equal length
    assert got[4] > got[2]


def test_bm25_topk_term_ceiling(spark):
    """The pivoted form degrades loudly past its declared boundary
    (r6 verdict 'what's wrong' #2): >32 terms must raise and point at
    bm25_batch_topk, never silently build a 1000-column aggregate."""
    import pandas as pd
    import pytest

    from walrus_spark.operators.text import (
        BM25_TOPK_MAX_TERMS,
        bm25_topk,
    )

    df_ = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["hello world"]})
    )
    ok_terms = [f"t{i}" for i in range(BM25_TOPK_MAX_TERMS)]
    bm25_topk(df_, ok_terms, k=1)  # at the ceiling: builds fine
    with pytest.raises(ValueError, match="bm25_batch_topk"):
        bm25_topk(df_, ok_terms + ["one-too-many"], k=1)


def test_bm25_batch_topk_many_queries(spark):
    """The batch (postings-join) form agrees with per-query
    bm25_topk and a literal python recompute — tolerance-based (its
    per-(query,doc) sum is an unordered float aggregate), with exact
    rank agreement after rounding. Terms absent from the corpus
    contribute nothing; docs matching no term are absent."""
    import math

    import pandas as pd

    from walrus_spark.operators.text import bm25_batch_topk, bm25_topk

    docs = {
        1: "hash join hash join filler words here now",
        2: "hash filler words and more filler words here",
        3: "completely unrelated text with no query words",
        4: "hash join stream vector all four terms present",
        5: "stream stream stream stream padded padded padded padded",
        6: "vector vector join padded words words words words",
    }
    ddf = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(docs), "text": list(docs.values())})
    )
    qs = {
        "q1": ["hash", "join"],
        "q2": ["stream", "vector", "zzz-not-in-corpus"],
        "q3": ["padded"],
    }
    qdf = spark.createDataFrame(
        [(q, t) for q, ts in qs.items() for t in ts],
        "query_id string, term string",
    )
    batch = bm25_batch_topk(ddf, qdf, k=10)
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"])
        )

    for q, terms in qs.items():
        single = bm25_topk(ddf, terms, k=10).collect()
        want = [
            (i + 1, r["doc_id"], r["score"]) for i, r in enumerate(single)
        ]
        have = sorted(got.get(q, []))
        assert [x[:2] for x in have] == [x[:2] for x in want], (q, have, want)
        for (_, _, a), (_, _, b) in zip(have, want):
            assert math.isclose(a, b, abs_tol=2e-6), (q, a, b)

    # no doc without a query term ever appears
    assert all(doc != 3 for rows in got.values() for _, doc, _ in rows)


def test_index_delta_append_and_compaction(spark, tmp_path):
    """Incremental index maintenance: build on part of the corpus,
    stream the rest in as two deltas, and every query along the way
    must EXACTLY equal the index built fresh on the same cumulative
    corpus (BM25 depends on postings/dl/stats only, so delta reads
    must be transparent). Compaction folds deltas into one term-sorted
    base — same answers, delta dirs gone, pruning predicate back on a
    single sorted base."""
    import os

    import pandas as pd

    from walrus_spark.operators.index import (
        append_index_delta,
        bm25_topk_indexed,
        build_inverted_index,
        compact_index,
    )

    texts = {
        i: t
        for i, t in enumerate(
            [
                "hash join hash join filler words",
                "stream vector stream filler",
                "hash filler words and more",
                "vector vector join padded words",
                "stream stream padded padded",
                "join hash vector stream mix",
                "padded filler mix words here",
                "hash vector padded mix final",
            ]
        )
    }

    def df_of(ids):
        return spark.createDataFrame(
            pd.DataFrame(
                {"doc_id": list(ids), "text": [texts[i] for i in ids]}
            )
        )

    qs = [("q1", "hash"), ("q1", "join"), ("q2", "stream"), ("q2", "vector")]

    def query(path):
        return sorted(
            map(
                tuple,
                bm25_topk_indexed(
                    spark, path, qs, k=10, ordered_sum=True
                ).collect(),
            )
        )

    def fresh(ids):
        p = str(tmp_path / f"fresh_{len(ids)}")
        build_inverted_index(df_of(ids), p, partitions=2)
        return query(p)

    inc = str(tmp_path / "inc")
    build_inverted_index(df_of(range(0, 4)), inc, partitions=2)
    assert query(inc) == fresh(range(0, 4))

    append_index_delta(df_of(range(4, 6)), inc, delta_id="b1")
    assert query(inc) == fresh(range(0, 6))

    append_index_delta(df_of(range(6, 8)), inc, delta_id="b2")
    full = fresh(range(0, 8))
    assert query(inc) == full

    compact_index(spark, inc, partitions=2)
    assert query(inc) == full
    # the manifest snapshot no longer references the deltas, but their
    # dirs survive ONE publish (grace window for in-flight readers);
    # vacuum_index reaps everything unreferenced
    from walrus_spark.operators.index import _read_manifest, vacuum_index

    man = _read_manifest(inc)
    assert not [
        d
        for ds in man["components"].values()
        for d in ds
        if "_delta_" in d
    ], man
    # default vacuum (retain 1 generation) keeps the previous
    # snapshot's dirs — safe under live readers holding it
    vacuum_index(inc)
    prev_dirs = {
        d
        for ds in man["history"][0]["components"].values()
        for d in ds
    }
    assert prev_dirs <= set(os.listdir(inc)), (
        prev_dirs - set(os.listdir(inc))
    )
    # eager reap (retain 0, quiesced readers) removes the delta dirs
    assert vacuum_index(inc, retain_generations=0) >= 2
    assert not [
        d for d in os.listdir(inc) if "_delta_" in d
    ], os.listdir(inc)
    assert query(inc) == full  # vacuumed artifact still serves
    # pruning contract survives compaction
    plan = (
        bm25_topk_indexed(spark, inc, qs, k=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert any(
        "PushedFilters" in line and "In(term" in line
        for line in plan.splitlines()
    )


def test_index_tombstone_deletes(spark, tmp_path):
    """delete_docs (r9 — the take-down path): a tombstoned artifact
    must answer EXACTLY like a fresh index that never ingested the
    deleted docs (stats, df, dl, ranks — double-for-double), deletes
    must accumulate, compaction must apply them physically and clear
    the component, and deleting after an append must keep stats
    tombstone-exclusive."""
    import os

    import pandas as pd

    from walrus_spark.operators.index import (
        _read_manifest,
        append_index_delta,
        bm25_topk_indexed,
        build_inverted_index,
        compact_index,
        delete_docs,
        vacuum_index,
    )

    texts = {
        i: t
        for i, t in enumerate(
            [
                "hash join hash join filler words",
                "stream vector stream filler",
                "hash filler words and more",
                "vector vector join padded words",
                "stream stream padded padded",
                "join hash vector stream mix",
                "padded filler mix words here",
                "hash vector padded mix final",
            ]
        )
    }

    def df_of(ids):
        return spark.createDataFrame(
            pd.DataFrame(
                {"doc_id": list(ids), "text": [texts[i] for i in ids]}
            )
        )

    qs = [("q1", "hash"), ("q1", "join"), ("q2", "stream"), ("q2", "vector")]

    def query(path):
        return sorted(
            map(
                tuple,
                bm25_topk_indexed(
                    spark, path, qs, k=10, ordered_sum=True
                ).collect(),
            )
        )

    def fresh(ids):
        p = str(tmp_path / ("fresh_" + "_".join(map(str, ids))))
        build_inverted_index(df_of(ids), p, partitions=2)
        return query(p)

    idx = str(tmp_path / "tomb_idx")
    build_inverted_index(df_of(range(0, 6)), idx, partitions=2)

    delete_docs(spark, idx, [1, 3])
    assert query(idx) == fresh([0, 2, 4, 5])

    delete_docs(spark, idx, [5])  # deletes accumulate
    assert query(idx) == fresh([0, 2, 4])

    # append after delete: stats stay tombstone-exclusive
    append_index_delta(df_of([6, 7]), idx, delta_id="b1")
    assert query(idx) == fresh([0, 2, 4, 6, 7])

    # compaction applies tombstones physically and clears the component
    compact_index(spark, idx, partitions=2)
    assert query(idx) == fresh([0, 2, 4, 6, 7])
    man = _read_manifest(idx)
    assert man["components"]["tombstones"] == []
    vacuum_index(idx)
    import pyspark.sql.functions as F

    remaining = (
        spark.read.parquet(os.path.join(idx, man["components"]["postings"][0]))
        .select("doc_id")
        .distinct()
        .agg(F.collect_set("doc_id"))
        .first()[0]
    )
    assert sorted(remaining) == [0, 2, 4, 6, 7]  # bytes actually gone


def test_phrase_search_positional_index(spark, tmp_path):
    """phrase_search over the positional postings (r10): exact
    adjacency semantics against a hand-checkable corpus — overlapping
    matches count per start position, duplicate terms in a phrase bind
    to distinct slots, order matters, absent phrases yield no rows,
    tombstoned docs are suppressed, and the positions survive a
    delta-append + compact cycle."""
    import pandas as pd

    from walrus_spark.operators.index import (
        append_index_delta,
        build_inverted_index,
        compact_index,
        delete_docs,
        phrase_search,
    )

    rows = {
        0: "the cat sat on the mat",
        1: "cat cat cat",                 # 'cat cat' at starts 0,1
        2: "sat the cat",                  # 'the cat' once, order check
        3: "on the on the on",             # 'on the on' at 0,2
    }

    def df_of(ids):
        return spark.createDataFrame(
            pd.DataFrame({"doc_id": ids, "text": [rows[i] for i in ids]})
        )

    idx = str(tmp_path / "phrase_idx")
    build_inverted_index(df_of([0, 1, 2]), idx, partitions=2)

    def got(phrases, path=idx):
        return sorted(
            map(tuple, phrase_search(spark, path, phrases).collect())
        )

    assert got([("p1", ["the", "cat"])]) == [
        ("p1", 0, 1),
        ("p1", 2, 1),
    ]
    # overlapping occurrences + duplicate-term slots
    assert got([("p2", ["cat", "cat"])]) == [("p2", 1, 2)]
    # order matters: 'cat the' only in doc 2? doc2 = sat the cat -> no
    assert got([("p3", ["cat", "the"])]) == []
    # multi-phrase batch + absent phrase
    assert got(
        [("p1", ["the", "cat"]), ("pz", ["zz", "absent"])]
    ) == [("p1", 0, 1), ("p1", 2, 1)]
    # three-term phrase across a delta append
    append_index_delta(df_of([3]), idx, delta_id="d1")
    assert got([("p4", ["on", "the", "on"])]) == [("p4", 3, 2)]
    # tombstones suppress phrase hits; compaction preserves positions
    delete_docs(spark, idx, [0])
    assert got([("p1", ["the", "cat"])]) == [("p1", 2, 1)]
    compact_index(spark, idx, partitions=2)
    assert got([("p1", ["the", "cat"])]) == [("p1", 2, 1)]
    assert got([("p4", ["on", "the", "on"])]) == [("p4", 3, 2)]

    # match positions + snippet extraction (r10): every occurrence
    # yields the context window around it, 0-based offsets over the
    # empty-filtered token sequence, clamped at doc start
    from walrus_spark.operators.index import phrase_snippets

    starts = {
        (r["phrase_id"], r["doc_id"]): list(r["match_starts"])
        for r in phrase_search(
            spark, idx, [("p2", ["cat", "cat"])], with_starts=True
        ).collect()
    }
    assert starts == {("p2", 1): [0, 1]}
    snips = sorted(
        map(
            tuple,
            phrase_snippets(
                spark,
                idx,
                df_of([1, 2, 3]),
                [("p2", ["cat", "cat"]), ("p4", ["on", "the", "on"])],
                context=1,
            ).collect(),
        )
    )
    assert snips == [
        ("p2", 1, 0, "cat cat cat"),       # clamped at doc start
        ("p2", 1, 1, "cat cat cat"),       # overlap: own window
        ("p4", 3, 0, "on the on the"),
        ("p4", 3, 2, "the on the on"),
    ], snips


def test_index_delta_id_reuse_raises(spark, tmp_path):
    """Reusing a published delta_id must raise, not overwrite the live
    manifest-referenced dir in place / double-count tf (r9 advisor
    finding). A retry of an UNPUBLISHED (crashed) append succeeds."""
    import os
    import shutil

    import pandas as pd
    import pytest

    from walrus_spark.operators.index import (
        _read_manifest,
        append_index_delta,
        build_inverted_index,
    )

    def df_of(ids):
        return spark.createDataFrame(
            pd.DataFrame(
                {"doc_id": ids, "text": [f"hash w{i}" for i in ids]}
            )
        )

    idx = str(tmp_path / "dup_idx")
    build_inverted_index(df_of([0, 1]), idx, partitions=2)
    append_index_delta(df_of([2, 3]), idx, delta_id="b1")
    man1 = _read_manifest(idx)
    with pytest.raises(ValueError, match="already"):
        append_index_delta(df_of([4, 5]), idx, delta_id="b1")
    # the failed call must not have touched the artifact
    assert _read_manifest(idx) == man1
    # crash-retry path: orphan dirs (written, never published) don't
    # block the same delta_id
    v = man1["version"] + 1
    orphan = os.path.join(idx, f"postings_delta_b2_v{v}")
    os.makedirs(orphan, exist_ok=True)
    append_index_delta(df_of([4, 5]), idx, delta_id="b2")
    man2 = _read_manifest(idx)
    assert f"postings_delta_b2_v{v}" in man2["components"]["postings"]
    shutil.rmtree(orphan, ignore_errors=True)


def test_index_corrupt_manifest_raises(spark, tmp_path):
    """A manifest that EXISTS but cannot be parsed must raise — the
    old None fallback adopted the legacy layout and the next publish
    reaped every real versioned dir (r9 advisor finding). Absence
    still means legacy (None)."""
    import os

    import pandas as pd
    import pytest

    from walrus_spark.operators.index import (
        MANIFEST,
        _read_manifest,
        bm25_topk_indexed,
        build_inverted_index,
        vacuum_index,
    )

    idx = str(tmp_path / "corrupt_idx")
    build_inverted_index(
        spark.createDataFrame(
            pd.DataFrame({"doc_id": [0, 1], "text": ["hash a", "hash b"]})
        ),
        idx,
        partitions=2,
    )
    with open(os.path.join(idx, MANIFEST), "w") as f:
        f.write("{ torn json")
    with pytest.raises(RuntimeError, match="corrupt"):
        _read_manifest(idx)
    with pytest.raises(RuntimeError):
        bm25_topk_indexed(spark, idx, [("q1", "hash")]).collect()
    with pytest.raises(RuntimeError):
        vacuum_index(idx)
    os.remove(os.path.join(idx, MANIFEST))
    assert _read_manifest(idx) is None  # absence = legacy, not error


def test_index_maintenance_racing_reader(spark, tmp_path):
    """r8 verdict finding #4: the old stats/compaction swap
    (rmtree-then-rename) had a window where a component dir was
    ABSENT, erroring a concurrent reader. Under the manifest snapshot
    contract a reader thread looping full index queries while the
    writer appends two deltas and compacts must see zero errors —
    every read resolves a complete snapshot (pre- or post-op), and
    component dirs survive one publish after leaving the manifest
    (grace window), so the snapshot a reader holds stays on disk.

    r10 extension (r9 verdict directive #5): the writer loop also runs
    the DEFAULT retain-1 ``vacuum_index`` after every maintenance op —
    reclamation must be exactly as reader-safe as the publish grace
    window, with no quiescing."""
    import threading

    import pandas as pd

    from walrus_spark.operators.index import (
        append_index_delta,
        bm25_topk_indexed,
        build_inverted_index,
        compact_index,
        vacuum_index,
    )

    def df_of(lo, hi):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": list(range(lo, hi)),
                    "text": [
                        f"hash join word{i} filler text" for i in range(lo, hi)
                    ],
                }
            )
        )

    idx = str(tmp_path / "race_idx")
    build_inverted_index(df_of(0, 50), idx, partitions=2)
    qs = [("q1", "hash"), ("q1", "join")]
    errors: list[str] = []
    n_docs_seen: list[int] = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                rows = bm25_topk_indexed(
                    spark, idx, qs, k=500, ordered_sum=True
                ).collect()
                assert rows, "reader saw an empty index"
                n_docs_seen.append(len(rows))
            except Exception as e:  # noqa: BLE001
                errors.append(repr(e))
                return

    t = threading.Thread(target=reader)
    t.start()

    def wait_for_reads(k: int) -> None:
        # writer paces itself on reader progress so every maintenance
        # op demonstrably overlaps at least one full read (no
        # starvation flake: the scheduler can otherwise let the
        # writer's jobs crowd the reader out entirely)
        import time as _time

        deadline = _time.time() + 120
        while len(n_docs_seen) < k and not errors and _time.time() < deadline:
            _time.sleep(0.05)

    try:
        wait_for_reads(1)
        append_index_delta(df_of(50, 80), idx, delta_id="d1")
        vacuum_index(idx)  # retain-1 default: safe under the live reader
        wait_for_reads(len(n_docs_seen) + 1)
        append_index_delta(df_of(80, 110), idx, delta_id="d2")
        vacuum_index(idx)
        wait_for_reads(len(n_docs_seen) + 1)
        compact_index(spark, idx, partitions=2)
        vacuum_index(idx)
        wait_for_reads(len(n_docs_seen) + 1)
    finally:
        stop.set()
        t.join()
    assert not errors, errors
    assert len(n_docs_seen) >= 4
    # reads are monotone-consistent: every observed snapshot is one of
    # the four published corpus sizes, never a torn in-between
    assert set(n_docs_seen) <= {50, 80, 110}, sorted(set(n_docs_seen))
    # and the final read (post-join, quiesced) serves the full corpus
    final = bm25_topk_indexed(
        spark, idx, qs, k=500, ordered_sum=True
    ).collect()
    assert len(final) == 110


def test_fit_linear_classifier_parity_and_separation(spark):
    """fit_linear_classifier (distributed full-batch GD) vs a literal
    numpy reference running the IDENTICAL update rule on the same
    hashed features: weights agree to float tolerance (per-doc sums
    are unordered map-side combines, so bit-identity is out of
    contract — the bm25_batch float note), and the learned model fed
    through the unchanged scoring path separates the classes."""
    import hashlib

    import numpy as np
    import pandas as pd

    from walrus_spark.operators.classifier import (
        fit_linear_classifier,
        linear_classifier_score,
    )

    pos = [f"useful informative content piece{i} detail" for i in range(12)]
    neg = [f"spam buy now spam offer{i % 3} spam" for i in range(12)]
    texts = pos + neg + [""]  # a token-less doc trains the intercept
    ys = [1] * len(pos) + [0] * len(neg) + [0]
    df_ = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(len(texts)),
                "text": texts,
                "label": ys,
            }
        )
    )
    nb, n_iter, lr, l2 = 32, 20, 1.0, 0.01
    w_got, b_got = fit_linear_classifier(
        df_, n_buckets=nb, n_iter=n_iter, lr=lr, l2=l2
    )

    def bucket(t: str) -> int:
        return int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % nb

    X = np.zeros((len(texts), nb + 1))
    X[:, nb] = 1.0  # intercept column
    for i, text in enumerate(texts):
        for t in text.lower().split():
            X[i, bucket(t)] += 1.0
    y = np.asarray(ys, dtype=float)
    w = np.zeros(nb + 1)
    for _ in range(n_iter):
        p = 1.0 / (1.0 + np.exp(-(X @ w)))
        g = X.T @ (p - y) / len(texts)
        reg = l2 * w
        reg[nb] = 0.0  # bias unregularized
        w = w - lr * (g + reg)
    assert np.allclose(w_got, w[:nb], rtol=1e-6, atol=1e-8)
    assert abs(b_got - w[nb]) < 1e-8

    scores = {
        r["doc_id"]: r["score"]
        for r in linear_classifier_score(df_, w_got, bias=b_got).collect()
    }
    pos_scores = [scores[i] for i in range(len(pos))]
    neg_scores = [scores[i] for i in range(len(pos), len(pos) + len(neg))]
    assert min(pos_scores) > max(neg_scores)
    assert min(pos_scores) > 0.5 > max(neg_scores)


def test_linear_classifier_matches_python_recompute(spark):
    """operators/classifier.py vs a literal python recompute: same md5
    bucket hash, same weights, same sigmoid — exact after rounding.
    Token-less docs score sigmoid(bias); weight-length mismatch
    refuses loudly."""
    import hashlib
    import math

    import pandas as pd
    import pytest

    from walrus_spark.operators.classifier import (
        linear_classifier_score,
        make_demo_weights,
    )

    docs = {
        1: "alpha beta alpha gamma",
        2: "beta beta beta",
        3: "",
        4: "delta eps zeta alpha",
    }
    nb, bias = 64, 0.25
    weights = make_demo_weights(nb, seed=7)
    df_ = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(docs), "text": list(docs.values())})
    )
    got = {
        r["doc_id"]: (r["n_features"], r["score"])
        for r in linear_classifier_score(
            df_, weights, bias=bias
        ).collect()
    }

    def bucket(t: str) -> int:
        return int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % nb

    want = {}
    for did, text in docs.items():
        toks = [t for t in text.lower().split() if t]
        cnts: dict[int, int] = {}
        for t in toks:
            cnts[bucket(t)] = cnts.get(bucket(t), 0) + 1
        z = sum(c * weights[b] for b, c in cnts.items())
        p = 1.0 / (1.0 + math.exp(-(bias + z)))
        want[did] = (len(cnts), math.floor(p * 1e6 + 0.5) / 1e6)
    assert got == want, (got, want)
    assert got[3] == (0, math.floor(
        1.0 / (1.0 + math.exp(-bias)) * 1e6 + 0.5) / 1e6)

    with pytest.raises(ValueError, match="weights"):
        linear_classifier_score(df_, weights, n_buckets=nb + 1)


def test_inverted_index_roundtrip_and_pruning(spark, tmp_path):
    """operators/index.py: build once → query many. The indexed query
    must EXACTLY reproduce bm25_batch_topk on the same corpus (same
    formula, same ordered_sum folds — artifact roundtrip changes the
    data path, never the answer), and the literal-terms path must push
    an In(term, ...) predicate into the postings parquet scan (the
    row-group-pruning contract of the term-sorted layout)."""
    import pandas as pd

    from walrus_spark.operators.index import (
        bm25_topk_indexed,
        build_inverted_index,
    )
    from walrus_spark.operators.text import bm25_batch_topk

    docs = {
        1: "hash join hash join filler words here now",
        2: "hash filler words and more filler words here",
        3: "completely unrelated text with no query words",
        4: "hash join stream vector all four terms present",
        5: "stream stream stream stream padded padded padded padded",
        6: "vector vector join padded words words words words",
    }
    ddf = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(docs), "text": list(docs.values())})
    )
    idx = str(tmp_path / "idx")
    build_inverted_index(ddf, idx, partitions=2)

    qs = [
        ("q1", "hash"),
        ("q1", "join"),
        ("q2", "stream"),
        ("q2", "vector"),
        ("q2", "zzz-absent"),
        ("q3", "padded"),
    ]
    qdf = spark.createDataFrame(qs, "query_id string, term string")
    direct = bm25_batch_topk(ddf, qdf, k=10, ordered_sum=True)
    via_index = bm25_topk_indexed(spark, idx, qs, k=10, ordered_sum=True)
    assert sorted(map(tuple, direct.collect())) == sorted(
        map(tuple, via_index.collect())
    )
    # DataFrame-queries fallback (semi-join path) agrees too
    via_df = bm25_topk_indexed(spark, idx, qdf, k=10, ordered_sum=True)
    assert sorted(map(tuple, via_df.collect())) == sorted(
        map(tuple, via_index.collect())
    )
    # pruning contract: the literal path pushes In(term, ...) to scan
    plan = via_index._jdf.queryExecution().executedPlan().toString()
    assert any(
        "PushedFilters" in line and "In(term" in line
        for line in plan.splitlines()
    ), plan[:2000]


def test_ngram_lm_perplexity_matches_python_recompute(spark):
    """CCNet-style bigram perplexity: per-doc cross-entropy against a
    python recompute of the identical add-k model (tolerance-based —
    unordered float sum), plus the filter's reason to exist: an
    out-of-distribution gibberish doc scores strictly worse than
    in-distribution text, and a <2-token doc is absent. Also pins the
    decoupled form: scoring docs against a SEPARATE reference corpus."""
    import math
    from collections import Counter

    import pandas as pd

    from walrus_spark.operators.text import ngram_lm_perplexity

    corpus = {
        1: "the cat sat on the mat",
        2: "the dog sat on the rug",
        3: "the cat and the dog sat",
        4: "zq xv qj zz vx qq jx",  # gibberish, unseen bigrams
        5: "one",  # <2 tokens -> absent
        6: "",
    }
    ddf = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(corpus), "text": list(corpus.values())})
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["cross_entropy"], r["perplexity"])
        for r in ngram_lm_perplexity(ddf).collect()
    }

    toks = {i: [w for w in t.lower().split() if w] for i, t in corpus.items()}
    uni = Counter(w for ws in toks.values() for w in ws)
    big = Counter(
        (ws[i], ws[i + 1])
        for ws in toks.values()
        for i in range(len(ws) - 1)
    )
    V = len(uni)
    for i, ws in toks.items():
        bgs = [(ws[j], ws[j + 1]) for j in range(len(ws) - 1)]
        if not bgs:
            assert i not in got
            continue
        s = sum(
            math.log((big[bg] + 1.0) / (uni[bg[0]] + 1.0 * V)) for bg in bgs
        )
        ce = -s / len(bgs)
        n, gce, gpp = got[i]
        assert n == len(bgs)
        assert math.isclose(gce, ce, abs_tol=2e-6), (i, gce, ce)
        assert math.isclose(gpp, math.exp(ce), abs_tol=1e-4), (i, gpp)
    # the quality signal: gibberish is strictly more surprising (the
    # margin is small here because add-1 smoothing over a ~17-word toy
    # vocabulary flattens the distribution; at corpus scale the
    # unigram masses dominate the smoothing and the gap widens)
    assert got[4][1] > got[1][1]
    assert got[4][1] > got[2][1]
    assert got[4][1] > got[3][1]

    # decoupled LM: score docs against a DIFFERENT reference corpus
    ref = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [10, 11], "text": ["aa bb aa bb", "bb aa bb aa"]}
        )
    )
    out = {
        r["doc_id"]: r["cross_entropy"]
        for r in ngram_lm_perplexity(
            spark.createDataFrame(
                pd.DataFrame({"doc_id": [1, 2], "text": ["aa bb aa", "cc dd"]})
            ),
            lm_corpus=ref,
        ).collect()
    }
    assert out[1] < out[2]  # in-distribution beats out-of-distribution


def test_load_table_memo_invalidation(spark, tmp_path):
    """catalog.load_table memoizes table HANDLES (r10 — the per-entry
    spark.read.parquet floor): same content must return the same
    DataFrame object; an in-place rewrite (new mtime/size) must MISS
    and serve the new data, never a stale plan."""
    import pandas as pd

    from walrus_spark.catalog import load_table

    sf = str(tmp_path)
    spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a", "b"]})
    ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    d1 = load_table(spark, sf, "documents")
    d1b = load_table(spark, sf, "documents")
    assert d1 is d1b  # memo hit: same handle, no re-resolution
    assert d1.count() == 2

    spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["a", "b", "c"]})
    ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    d2 = load_table(spark, sf, "documents")
    assert d2 is not d1  # content signature changed -> miss
    assert d2.count() == 3


def test_runtime_confs_applied_per_session(spark):
    """apply_runtime_confs guards per SESSION, not per context (r10
    advisor finding): the confs are per-session SQL confs, so a second
    session sharing the SparkContext (spark.newSession()) must get
    them applied too — a context-level guard silently skipped it,
    breaking events.ts nanos parsing and UTC oracle semantics there."""
    from walrus_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"

    # NOTE: no fresh.stop() — PySpark's session stop() would stop the
    # SHARED SparkContext; the extra session state is just GC'd.
    fresh = spark.newSession()
    # newSession starts from builder defaults: the sentinel (and the
    # UTC conf, unless the builder set it) must not leak over.
    assert (
        fresh.conf.get("spark.walrus.runtimeConfsApplied", None) != "true"
    )
    apply_runtime_confs(fresh)
    assert fresh.conf.get("spark.sql.session.timeZone") == "UTC"
    assert (
        fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    )

    # BLAS pin retrofit (r15): externally-created sessions get the
    # per-task thread pin through sc.environment (read at every
    # Python-function pickle, so it reaches workers the driver's
    # plain session forks later). setdefault semantics: an explicit
    # user sizing must survive.
    import os

    from walrus_spark.session import _BLAS_ENV_KEYS

    for k in _BLAS_ENV_KEYS:
        assert spark.sparkContext.environment.get(k) == os.environ[k]


def test_index_delta_matches_legacy_base_schema(spark, tmp_path):
    """r10 advisor finding: appending onto a PRE-POSITIONAL (pre-pos1)
    base must write the delta in the base's schema generation so the
    postings component stays uniform — a mixed component reads
    footer-order dependently (silently missing phrase matches or
    dropping delta positions at compact). Also pins the heal path:
    append onto a pre-fix MIXED artifact raises; compact_index demotes
    it to uniform pre-pos1 with BM25 answers intact."""
    import os

    import pandas as pd
    import pytest

    from walrus_spark.operators.index import (
        _postings_schema_gen,
        _publish_manifest,
        _read_manifest,
        _tokenize_postings,
        append_index_delta,
        bm25_topk_indexed,
        build_inverted_index,
        compact_index,
        phrase_search,
    )

    def docs_of(ids):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": list(ids),
                    "text": [f"apple banana doc{i} apple" for i in ids],
                }
            )
        )

    # Transcribe a real build into a LEGACY pre-pos1 artifact: plain
    # component dirs, no manifest, postings without positions — what
    # an r9-era build_inverted_index left on disk.
    tmpidx = str(tmp_path / "tmp_idx")
    build_inverted_index(docs_of(range(0, 4)), tmpidx, partitions=2)
    legacy = str(tmp_path / "legacy_idx")
    man = _read_manifest(tmpidx)
    for name, drop in (
        ("postings", ["positions"]),
        ("doc_lengths", []),
        ("stats", []),
    ):
        df = spark.read.parquet(
            *(os.path.join(tmpidx, d) for d in man["components"][name])
        )
        df.drop(*drop).write.mode("overwrite").parquet(
            os.path.join(legacy, name)
        )

    append_index_delta(docs_of(range(4, 6)), legacy, "d1")
    comp = _read_manifest(legacy)["components"]
    assert _postings_schema_gen(legacy, comp["postings"]) == "pre"
    # BM25 over the appended legacy artifact equals a fresh full build
    full = str(tmp_path / "full_idx")
    build_inverted_index(docs_of(range(0, 6)), full, partitions=2)
    q = [("q0", "apple")]
    got = sorted(
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_topk_indexed(spark, legacy, q, k=10).collect()
    )
    want = sorted(
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_topk_indexed(spark, full, q, k=10).collect()
    )
    assert got == want
    # phrase on a pre-pos1 artifact: the clean raise, never null-misses
    with pytest.raises(RuntimeError, match="no positional"):
        phrase_search(spark, legacy, [("p0", ["apple", "banana"])])

    # Simulate the PRE-FIX bug: hand-publish a positional delta onto
    # the pre-pos1 component (postings + doc_lengths + stats, exactly
    # what the buggy append wrote).
    bad_docs = docs_of(range(6, 8))
    comp = {k: list(v) for k, v in _read_manifest(legacy)["components"].items()}
    bad_p = _tokenize_postings(bad_docs, "text", "doc_id")
    bad_p.write.mode("overwrite").parquet(
        os.path.join(legacy, "postings_delta_bad_v99")
    )
    bad_p.groupBy("doc_id").agg(
        F.sum("tf").alias("dl")
    ).write.mode("overwrite").parquet(
        os.path.join(legacy, "doc_lengths_delta_bad_v99")
    )
    comp["postings"].append("postings_delta_bad_v99")
    comp["doc_lengths"].append("doc_lengths_delta_bad_v99")
    all_dl = spark.read.parquet(
        *(os.path.join(legacy, d) for d in comp["doc_lengths"])
    )
    all_dl.agg(
        F.count("*").alias("N"), F.sum("dl").alias("S")
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(legacy, "stats_v99")
    )
    comp["stats"] = ["stats_v99"]
    _publish_manifest(legacy, comp)
    comp = _read_manifest(legacy)["components"]
    assert _postings_schema_gen(legacy, comp["postings"]) == "mixed"

    with pytest.raises(RuntimeError, match="mixes positional"):
        append_index_delta(docs_of(range(8, 10)), legacy, "d2")

    compact_index(spark, legacy, partitions=2)
    comp = _read_manifest(legacy)["components"]
    assert len(comp["postings"]) == 1
    assert _postings_schema_gen(legacy, comp["postings"]) == "pre"
    full8 = str(tmp_path / "full8_idx")
    build_inverted_index(docs_of(range(0, 8)), full8, partitions=2)
    got = sorted(
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_topk_indexed(spark, legacy, q, k=10).collect()
    )
    want = sorted(
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_topk_indexed(spark, full8, q, k=10).collect()
    )
    assert got == want
    # healed artifact accepts appends again, still uniform pre-pos1
    append_index_delta(docs_of(range(8, 10)), legacy, "d2")
    comp = _read_manifest(legacy)["components"]
    assert _postings_schema_gen(legacy, comp["postings"]) == "pre"


def test_index_mixed_dl_component_reads_correctly_and_heals(
    spark, tmp_path
):
    """r13 advisor finding: a postings component mixing dl-denormalized
    and pre-dl parts resolves a PLAIN read footer-order dependently —
    pre-dl rows could surface dl as NULL and silently null scores.
    Contract now: bm25_topk_indexed never trusts the sniffed column on
    'mixed' (falls back to the doc_lengths join — correct for every
    row), append_index_delta refuses to extend the mix, and
    compact_index upgrades it to uniform dl."""
    import os

    import pandas as pd
    import pytest

    from walrus_spark.operators.index import (
        _postings_col_state,
        _publish_manifest,
        _read_manifest,
        append_index_delta,
        bm25_topk_indexed,
        build_inverted_index,
        compact_index,
    )

    def docs_of(ids):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": list(ids),
                    "text": [f"apple banana doc{i} apple" for i in ids],
                }
            )
        )

    idx = str(tmp_path / "mixed_dl_idx")
    build_inverted_index(docs_of(range(0, 4)), idx, partitions=2)
    append_index_delta(docs_of(range(4, 6)), idx, "d1")
    comp = {
        k: list(v) for k, v in _read_manifest(idx)["components"].items()
    }
    assert _postings_col_state(idx, comp["postings"], "dl") == "all"
    # manufacture the mix: strip dl from the BASE postings part (what
    # a pre-dl1 artifact's base looks like) and republish
    base_dir = comp["postings"][0]
    predl = "postings_predl_v97"
    spark.read.parquet(os.path.join(idx, base_dir)).drop(
        "dl"
    ).write.mode("overwrite").parquet(os.path.join(idx, predl))
    comp["postings"] = [predl] + comp["postings"][1:]
    _publish_manifest(idx, comp)
    comp = _read_manifest(idx)["components"]
    assert _postings_col_state(idx, comp["postings"], "dl") == "mixed"

    # the mixed read must still score every row correctly (fallback
    # join), matching a fresh full build bit-for-bit
    full = str(tmp_path / "full_dl_idx")
    build_inverted_index(docs_of(range(0, 6)), full, partitions=2)
    q = [("q0", "apple")]
    got = sorted(
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_topk_indexed(spark, idx, q, k=10).collect()
    )
    want = sorted(
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_topk_indexed(spark, full, q, k=10).collect()
    )
    assert got == want

    # appending onto the mix is refused with the heal instruction
    with pytest.raises(RuntimeError, match="mixes dl-denormalized"):
        append_index_delta(docs_of(range(6, 8)), idx, "d2")

    # compact upgrades to uniform dl; answers intact; appends resume
    compact_index(spark, idx, partitions=2)
    comp = _read_manifest(idx)["components"]
    assert _postings_col_state(idx, comp["postings"], "dl") == "all"
    got = sorted(
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_topk_indexed(spark, idx, q, k=10).collect()
    )
    assert got == want
    append_index_delta(docs_of(range(6, 8)), idx, "d2")
    comp = _read_manifest(idx)["components"]
    assert _postings_col_state(idx, comp["postings"], "dl") == "all"


def test_manifest_ts_strictly_monotone_across_clock_step(
    spark, tmp_path, monkeypatch
):
    """r13 advisor finding: manifest ts was max(now, prev_ts) — a
    backwards clock step made a delta commit SHARE the base's ts, and
    resolve_at_timestamp (newest ≤ t, current-first) then served the
    delta snapshot for the base's own commit instant. ts must be
    strictly monotone so every snapshot's commit instant resolves to
    that snapshot."""
    import time as _time

    import pandas as pd

    from walrus_spark.operators.index import (
        _read_manifest,
        append_index_delta,
        build_inverted_index,
        resolve_at_timestamp,
    )

    def docs_of(ids):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": list(ids),
                    "text": [f"apple banana doc{i}" for i in ids],
                }
            )
        )

    idx = str(tmp_path / "mono_idx")
    build_inverted_index(docs_of(range(0, 4)), idx, partitions=2)
    base = _read_manifest(idx)
    # clock steps BACKWARD 5 s before the delta commit
    monkeypatch.setattr(_time, "time", lambda: base["ts"] - 5.0)
    append_index_delta(docs_of(range(4, 6)), idx, "d1")
    man = _read_manifest(idx)
    assert man["version"] == base["version"] + 1
    assert man["ts"] > base["ts"]  # strictly monotone despite the step
    # the base's own commit instant resolves to the BASE snapshot
    assert resolve_at_timestamp(idx, base["ts"]) == base["version"]
    # ...and anything at/after the delta's ts resolves to the delta
    assert resolve_at_timestamp(idx, man["ts"]) == man["version"]


def test_index_time_travel(spark, tmp_path):
    """at_version reads (r11): a query against snapshot N answers
    exactly as a reader holding snapshot N's manifest did — after an
    append AND after a delete (historic stats/tombstones included).
    Unknown versions and reclaimed snapshots raise precisely."""
    import os

    import pandas as pd
    import pytest

    from walrus_spark.operators.index import (
        append_index_delta,
        bm25_topk_indexed,
        build_inverted_index,
        delete_docs,
        index_snapshots,
        set_index_retention,
        vacuum_index,
    )

    def docs_of(ids):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": list(ids),
                    "text": [f"apple pear doc{i} apple" for i in ids],
                }
            )
        )

    idx = str(tmp_path / "idx")
    build_inverted_index(docs_of(range(0, 4)), idx, partitions=2)  # v1
    set_index_retention(idx, 3)                                    # v2
    append_index_delta(docs_of(range(4, 6)), idx, "d1")            # v3
    delete_docs(spark, idx, [0, 5])                                # v4

    snaps = index_snapshots(idx)
    assert [s["version"] for s in snaps] == [4, 3, 2, 1]
    assert snaps[0]["current"] and all(s["resolvable"] for s in snaps)

    q = [("q0", "apple")]

    def answer(**kw):
        return sorted(
            (r["doc_id"], round(r["score"], 9))
            for r in bm25_topk_indexed(spark, idx, q, k=10, **kw).collect()
        )

    # v1 (and v2, the retention bump) == a fresh build of the base docs
    ref1 = str(tmp_path / "ref1")
    build_inverted_index(docs_of(range(0, 4)), ref1, partitions=2)
    want1 = sorted(
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_topk_indexed(spark, ref1, q, k=10).collect()
    )
    assert answer(at_version=1) == want1
    assert answer(at_version=2) == want1
    # v3 == base + delta, pre-delete
    ref2 = str(tmp_path / "ref2")
    build_inverted_index(docs_of(range(0, 6)), ref2, partitions=2)
    assert answer(at_version=3) == sorted(
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_topk_indexed(spark, ref2, q, k=10).collect()
    )
    # current == v4 == post-delete; explicit and implicit agree
    assert answer(at_version=4) == answer()
    assert {d for d, _ in answer()} == {1, 2, 3, 4}

    with pytest.raises(ValueError, match="no snapshot v9"):
        answer(at_version=9)

    # an eager vacuum must NOT expire what the policy promised: the
    # retention floor (3) overrides retain_generations=0
    assert vacuum_index(idx, retain_generations=0) == 0
    assert answer(at_version=1) == want1

    # dropping the policy to 0 (itself a publish, v5) reaps beyond the
    # grace window: v1 stops resolving with the precise error; the
    # current snapshot still serves
    set_index_retention(idx, 0)
    snaps = {s["version"]: s["resolvable"] for s in index_snapshots(idx)}
    assert snaps[5] and snaps[4] and not snaps[1]
    with pytest.raises(ValueError, match="no longer resolvable"):
        answer(at_version=1)
    assert {d for d, _ in answer(at_version=4)} == {1, 2, 3, 4}


def test_semantic_dedup_matches_numpy_recompute(spark):
    """semantic_dedup (r11, SemDeDup-style): kept/dropped verdicts
    equal a brute-force numpy recompute of the same rule — within the
    SAME fitted cluster, a vector drops iff some smaller-id cluster
    mate has cosine >= threshold. Exact duplicates in one cluster keep
    only the smallest id; near-dups split across clusters are NOT
    dropped (the documented recall trade of cluster-scoped pruning)."""
    import numpy as np
    import pandas as pd

    from walrus_spark.operators.cluster import kmeans_quantized
    from walrus_spark.operators.similarity import semantic_dedup

    rng = np.random.RandomState(7)
    base = rng.randn(40, 8)
    # three exact duplicates of row 0 and one near-dup of row 5
    base[11] = base[0]
    base[23] = base[0]
    base[17] = base[5] + 0.01 * rng.randn(8)
    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": range(40),
                "embedding": [
                    [float(x) for x in row] for row in base
                ],
            }
        )
    )
    th = 0.9
    assigned, _ = kmeans_quantized(emb)
    got = {
        r["vec_id"]: (r["cluster"], r["kept"])
        for r in semantic_dedup(spark, emb, threshold=th).collect()
    }
    assert set(got) == set(range(40))

    # numpy oracle over the SAME clusters
    clusters = {
        r["vec_id"]: r["cluster"] for r in assigned.collect()
    }
    E = base / np.linalg.norm(base, axis=1, keepdims=True)
    for i in range(40):
        drop = any(
            j < i
            and clusters[j] == clusters[i]
            and float(E[j] @ E[i]) >= th
            for j in range(40)
        )
        assert got[i] == (clusters[i], not drop), f"vec {i}"
    # sanity on the constructed structure: the duplicate family keeps
    # exactly its smallest same-cluster representative
    fam = [i for i in (0, 11, 23) if clusters[i] == clusters[0]]
    assert got[fam[0]][1] and all(not got[i][1] for i in fam[1:])

    # n_clusters (the scoped BLAS-raise hint, r15) is advisory only:
    # verdicts are bit-identical with and without it, including an
    # over-stated k (boost floors at 1) — threading never changes
    # which pairs clear the threshold
    for k_hint in (8, 10_000):
        boosted = {
            r["vec_id"]: (r["cluster"], r["kept"])
            for r in semantic_dedup(
                spark, emb, threshold=th, n_clusters=k_hint
            ).collect()
        }
        assert boosted == got, f"n_clusters={k_hint} changed verdicts"


def test_blas_thread_fns_set_restore():
    """The scoped BLAS raise helper: resolves the loaded OpenBLAS (or
    degrades to (None, None) without raising), and set/get round-trip
    so the prune stage's finally-restore genuinely puts the worker's
    thread pin back for the next task."""
    from walrus_spark.operators.similarity import _blas_thread_fns

    get_t, set_t = _blas_thread_fns()
    if set_t is None:
        return  # non-OpenBLAS backend: helper must degrade silently
    before = get_t()
    try:
        set_t(2)
        assert get_t() == 2
        set_t(1)
        assert get_t() == 1
    finally:
        set_t(before)
    assert get_t() == before


def test_ivf_batch_topk_and_recall(spark):
    """ivf_batch_topk (r11): the batched serving path must return, per
    query, exactly what the single-query ivf_topk returns; recall@k is
    1.0 whenever the true top-k lies inside the probed clusters and in
    [0,1] always, with the exact side equal to cosine_topk."""
    import numpy as np
    import pandas as pd

    from walrus_spark.operators.similarity import (
        ann_recall_at_k,
        cosine_topk,
        ivf_batch_topk,
        ivf_topk,
    )

    rng = np.random.RandomState(11)
    base = rng.randn(60, 8)
    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": range(60),
                "embedding": [[float(x) for x in r] for r in base],
            }
        )
    )
    qids = [1, 7, 42]
    batch = ivf_batch_topk(
        emb, qids, k=5, n_centroids=8, n_probe=3
    ).collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_vec_id"], []).append(
            (r["rank"], r["vec_id"])
        )
    for q in qids:
        single = [
            r["vec_id"]
            for r in ivf_topk(
                emb, q, k=5, n_centroids=8, n_probe=3
            ).collect()
        ]
        assert [v for _, v in sorted(got[q])] == single, f"query {q}"

    rec_rows = ann_recall_at_k(
        emb, qids, k=5, n_centroids=8, n_probe=3
    ).collect()
    rec = {r["query_vec_id"]: r["recall"] for r in rec_rows}
    assert set(rec) == set(qids)
    assert all(0.0 <= v <= 1.0 for v in rec.values())
    # r14: the integral counts are the hash-checkable form of the same
    # verdict — recall must be exactly n_hit/n_true with n_true = k
    for r in rec_rows:
        assert r["n_true"] == 5
        assert 0 <= r["n_hit"] <= r["n_true"]
        assert r["recall"] == r["n_hit"] / r["n_true"]
    # full-probe IVF degenerates to exact search -> recall 1 everywhere
    rec_full = {
        r["query_vec_id"]: r["recall"]
        for r in ann_recall_at_k(
            emb, qids, k=5, n_centroids=8, n_probe=8
        ).collect()
    }
    assert all(v == 1.0 for v in rec_full.values())
    # and the exact side really is cosine_topk: spot-check via recall
    # of "approx == exact" by construction above; also direct compare
    exact_ids = [r["vec_id"] for r in cosine_topk(emb, 7, k=5).collect()]
    batch_full = ivf_batch_topk(
        emb, [7], k=5, n_centroids=8, n_probe=8
    ).collect()
    assert [r["vec_id"] for r in sorted(batch_full, key=lambda r: r["rank"])] == exact_ids


def test_session_memos_match_fresh_computation(spark, tmp_path):
    """The r11 session memos are HANDLES to identical results, never
    different answers: shared_kmeans_fit's cached (assignment, state)
    equals a fresh kmeans_quantized run, and shared_media's cached
    payload tables equal fresh synthesis byte-for-byte. Release +
    re-derive also matches (the caches recompute, not corrupt)."""
    import hashlib

    import pandas as pd

    from walrus_spark.operators.cluster import kmeans_quantized
    from walrus_spark.operators.multimodal import (
        ppm_media,
        shared_media,
        wav_media,
    )
    from walrus_spark.operators.similarity import shared_kmeans_fit
    from walrus_spark.catalog import load_table
    from walrus_spark.session import release_session_caches

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")

    a1, s1 = shared_kmeans_fit(spark, sf, emb)
    a2, s2 = kmeans_quantized(emb)
    assert s1 == s2
    assign = lambda df: sorted(  # noqa: E731
        (r["vec_id"], r["cluster"]) for r in df.collect()
    )
    assert assign(a1) == assign(a2)
    # memo hit returns the same handle; post-release refit matches too
    a1b, s1b = shared_kmeans_fit(spark, sf, emb)
    assert a1b is a1 and s1b is s1
    release_session_caches(spark)
    a1c, s1c = shared_kmeans_fit(spark, sf, emb)
    assert a1c is not a1 and s1c == s1

    # r14: the serving-plane batch memo is a handle to identical rows
    from walrus_spark.operators.similarity import (
        ANN_BATCH_K,
        ANN_QUERY_BATCH,
        ivf_batch_topk,
        shared_ivf_batch,
    )

    b1 = shared_ivf_batch(spark, sf, emb, ANN_QUERY_BATCH, ANN_BATCH_K)
    b2 = ivf_batch_topk(emb, ANN_QUERY_BATCH, k=ANN_BATCH_K, model_key=sf)
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert key(b1) == key(b2)
    assert shared_ivf_batch(
        spark, sf, emb, ANN_QUERY_BATCH, ANN_BATCH_K
    ) is b1  # memo hit returns the same handle
    release_session_caches(spark)
    b3 = shared_ivf_batch(spark, sf, emb, ANN_QUERY_BATCH, ANN_BATCH_K)
    assert b3 is not b1 and key(b3) == key(b2)

    docs = load_table(spark, sf, "documents")
    img_m, wav_m = shared_media(spark, sf)

    def digest(df):
        h = hashlib.sha256()
        for r in sorted(df.collect(), key=lambda r: r["doc_id"]):
            h.update(str(r["doc_id"]).encode())
            h.update(bytes(r["payload"]))
        return h.hexdigest()

    assert digest(img_m) == digest(ppm_media(docs))
    assert digest(wav_m) == digest(wav_media(docs))


def test_ivf_batch_topk_dedups_duplicate_queries(spark):
    """r11 advisor finding: duplicate query ids duplicated probe/qvec
    rows, so the same vec_id got two distinct ranks and displaced a
    real neighbor (also skewing recall@k). The batch must dedup ids up
    front: duplicates yield exactly the deduped answer, with each
    vec_id ranked once per query."""
    import numpy as np
    import pandas as pd

    from walrus_spark.operators.similarity import ivf_batch_topk

    rng = np.random.RandomState(12)
    base = rng.randn(40, 8)
    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": range(40),
                "embedding": [[float(x) for x in r] for r in base],
            }
        )
    )
    clean = sorted(
        map(
            tuple,
            ivf_batch_topk(
                emb, [3, 9], k=5, n_centroids=8, n_probe=3
            ).collect(),
        )
    )
    dup = sorted(
        map(
            tuple,
            ivf_batch_topk(
                emb, [9, 3, 9, 9, 3], k=5, n_centroids=8, n_probe=3
            ).collect(),
        )
    )
    assert dup == clean
    seen = {}
    for q, v, _r in dup:
        assert v not in seen.get(q, set()), "vec_id ranked twice"
        seen.setdefault(q, set()).add(v)


def test_memo_content_signature_invalidation(spark, tmp_path):
    """r11 advisor finding: derived-frame memos keyed on the dataset
    PATH only kept serving stale cached frames after an in-place
    fixture rewrite that load_table's content signature would have
    caught. All memo families now key on catalog.dataset_key: a
    rewritten table must MISS and re-derive from the new bytes."""
    import shutil

    from walrus_spark.catalog import load_table
    from walrus_spark.operators.multimodal import shared_media
    from walrus_spark.operators.similarity import shared_kmeans_fit
    from walrus_spark.operators.text import shared_doc_tokens

    src = "/root/testdata/sf0.001"
    d = tmp_path / "ds"
    d.mkdir()
    for t in ("documents", "embeddings"):
        shutil.copy(f"{src}/{t}.parquet", d / f"{t}.parquet")
    sf = str(d)

    n_tok = shared_doc_tokens(spark, sf).count()
    img1, _ = shared_media(spark, sf)
    n_img = img1.count()
    emb = load_table(spark, sf, "embeddings")
    a1, _s1 = shared_kmeans_fit(spark, sf, emb)
    n_assign = a1.count()

    # rewrite both tables in place to HALF the rows
    docs_half = load_table(spark, sf, "documents").limit(
        max(1, n_tok // 2)
    )
    docs_half.toPandas().to_parquet(d / "documents.parquet")
    emb_half = emb.limit(max(1, n_assign // 2)).toPandas()
    emb_half.to_parquet(d / "embeddings.parquet")

    assert shared_doc_tokens(spark, sf).count() == max(1, n_tok // 2)
    img2, _ = shared_media(spark, sf)
    assert img2.count() == max(1, n_img // 2)
    emb2 = load_table(spark, sf, "embeddings")
    a2, _s2 = shared_kmeans_fit(spark, sf, emb2)
    assert a2.count() == max(1, n_assign // 2)


def test_make_sf_replica_rolls_distinct(tmp_path):
    """r11 advisor finding: the embedding-roll stride must be coprime
    to 63 or replicas alias (stride 7 had period 9 — k and k+9 got
    identical vectors, manufacturing cosine-1.0 cross-replica dup
    pairs). Pin: generated replicas of the same source vector are
    pairwise DISTINCT rolls, and --k past the 63-roll capacity is
    refused at parse time."""
    import subprocess
    import sys

    import duckdb

    dst = str(tmp_path / "sfk")
    r = subprocess.run(
        [
            sys.executable,
            "tools/make_sf.py",
            "--src",
            "/root/testdata/sf0.001",
            "--dst",
            dst,
            "--k",
            "4",
        ],
        capture_output=True,
        text=True,
        cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr
    con = duckdb.connect()
    n_src, n_vec = con.execute(
        f"""SELECT count(*), count(DISTINCT embedding)
            FROM (SELECT embedding FROM '{dst}/embeddings.parquet'
                  QUALIFY row_number() OVER
                    (PARTITION BY vec_id % (SELECT count(*) FROM
                     '/root/testdata/sf0.001/embeddings.parquet')
                     ORDER BY vec_id) <= 4
                  ) t
            WHERE t.embedding IS NOT NULL
        """
    ).fetchone()
    # every replica of every source vector is a distinct roll: if any
    # two replicas aliased, distinct-count would drop below total
    assert n_src == n_vec

    r2 = subprocess.run(
        [
            sys.executable,
            "tools/make_sf.py",
            "--src",
            "/root/testdata/sf0.001",
            "--dst",
            str(tmp_path / "sfbad"),
            "--k",
            "65",
        ],
        capture_output=True,
        text=True,
        cwd="/root/repo",
    )
    assert r2.returncode != 0
    assert "--k must be <= 64" in r2.stderr


def test_index_time_travel_at_timestamp(spark, tmp_path):
    """at_timestamp addressing (r12, r11 verdict directive #6): each
    publish stamps commit wall-clock metadata; at_timestamp resolves
    to the newest snapshot <= t and then answers EXACTLY as the same
    at_version read (a 3-publish artifact, every boundary), surfaces
    committed_at in index_snapshots, rejects ambiguous/unknown
    addresses, and fails reaped generations with the same precise
    error as version reads."""
    import pandas as pd
    import pytest

    from walrus_spark.operators.index import (
        append_index_delta,
        bm25_topk_indexed,
        build_inverted_index,
        index_snapshots,
        phrase_search,
        resolve_at_timestamp,
        set_index_retention,
    )

    def docs_of(ids):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": list(ids),
                    "text": [f"apple pear doc{i} apple" for i in ids],
                }
            )
        )

    idx = str(tmp_path / "idx")
    build_inverted_index(docs_of(range(0, 4)), idx, partitions=2)  # v1
    set_index_retention(idx, 3)                                    # v2
    append_index_delta(docs_of(range(4, 6)), idx, "d1")            # v3

    snaps = index_snapshots(idx)
    ts = {s["version"]: s["committed_at"] for s in snaps}
    assert all(v is not None for v in ts.values())
    # commit times are non-decreasing with version
    assert ts[1] <= ts[2] <= ts[3]

    # boundary semantics: exactly-at resolves to that snapshot;
    # in-between resolves DOWN; after-last resolves to the newest
    assert resolve_at_timestamp(idx, ts[1]) == 1
    assert resolve_at_timestamp(idx, ts[2]) == 2
    mid = (ts[2] + ts[3]) / 2
    assert resolve_at_timestamp(idx, mid) in (2,) if ts[2] < ts[3] else (2, 3)
    assert resolve_at_timestamp(idx, ts[3] + 3600) == 3
    with pytest.raises(ValueError, match="at or before"):
        resolve_at_timestamp(idx, ts[1] - 3600)

    # datetime addressing works too
    from datetime import datetime, timezone

    assert (
        resolve_at_timestamp(
            idx, datetime.fromtimestamp(ts[3] + 60, tz=timezone.utc)
        )
        == 3
    )

    q = [("q0", "apple")]

    def answer(**kw):
        return sorted(
            (r["doc_id"], round(r["score"], 9))
            for r in bm25_topk_indexed(spark, idx, q, k=10, **kw).collect()
        )

    for v in (1, 2, 3):
        assert answer(at_timestamp=ts[v]) == answer(at_version=v), v
    # and through phrase_search
    ph = [("p0", ["apple", "pear"])]
    got_t = sorted(
        map(tuple, phrase_search(spark, idx, ph, at_timestamp=ts[1]).collect())
    )
    got_v = sorted(
        map(tuple, phrase_search(spark, idx, ph, at_version=1).collect())
    )
    assert got_t == got_v

    with pytest.raises(ValueError, match="not both"):
        answer(at_version=1, at_timestamp=ts[1])

    # reaped-generation path: drop retention (publish v4), v1's churned
    # dirs leave the window -> the timestamp address resolves to v1 but
    # the READ fails with the precise at_version error
    set_index_retention(idx, 0)
    assert resolve_at_timestamp(idx, ts[1]) == 1
    with pytest.raises(ValueError, match="no longer resolvable"):
        answer(at_timestamp=ts[1])


def test_linear_classifier_hof_path_matches_exploded(spark):
    """The zero-shuffle tok_arrays path (per-row sorted-bucket fold
    against an inlined weight array) must agree bit-for-bit with the
    explode+shuffle+join path — n_features AND the 6-dp score — across
    empty docs (score = sigmoid(bias)), single-token docs, repeated
    tokens (run-length counts), and hash-colliding buckets."""
    import pyspark.sql.functions as F

    from walrus_spark.operators.classifier import (
        linear_classifier_score,
        make_demo_weights,
    )
    from walrus_spark.operators.text import tokens

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog the end"),
            (1, ""),
            (2, "one"),
            (3, "dup dup dup dup dup dup"),
            (4, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
            (5, "   "),
        ],
        "doc_id long, text string",
    )
    W = make_demo_weights(16)  # few buckets -> guaranteed collisions
    toks = docs.select("doc_id", tokens(F.col("text")).alias("ts"))
    for bias in (0.0, -0.7):
        base = {
            r["doc_id"]: (r["n_features"], r["score"])
            for r in linear_classifier_score(
                docs, W, bias=bias, ordered_sum=True
            ).collect()
        }
        hof = {
            r["doc_id"]: (r["n_features"], r["score"])
            for r in linear_classifier_score(
                docs, W, bias=bias, tok_arrays=toks
            ).collect()
        }
        assert hof == base, (bias, hof, base)
    # empty docs really do score the bias-only sigmoid
    import math

    assert hof[1][0] == 0 and hof[5][0] == 0
    assert hof[1][1] == round(1.0 / (1.0 + math.exp(0.7)), 6)

    # NULL token arrays must behave exactly like EMPTY ones on the
    # fold path (r12 advisor: transform/aggregate would otherwise
    # propagate null into n_features/score; the explode path scores
    # such docs bias-only)
    null_toks = spark.createDataFrame(
        [(0, ["one", "two"]), (1, None), (2, [])],
        "doc_id long, ts array<string>",
    )
    got = {
        r["doc_id"]: (r["n_features"], r["score"])
        for r in linear_classifier_score(
            docs.limit(0), W, bias=-0.7, tok_arrays=null_toks
        ).collect()
    }
    assert got[1] == got[2] == (0, round(1.0 / (1.0 + math.exp(0.7)), 6))
    assert got[0][0] > 0 and got[0][1] is not None


def test_bm25_batch_pivot_path_matches_postings(spark, monkeypatch):
    """bm25_batch_topk's small-batch pivot plan must equal the postings
    plan ROW FOR ROW — scores bit-identical under ordered_sum (the
    pivot's fixed-order expression is the fold), rank sets identical,
    docs matching no query term absent from both — including a query
    with a DUPLICATED term (contributes twice in both shapes) and a
    query matching nothing. The postings plan is forced by shrinking
    the driver-peek bound to 0."""
    import pyspark.sql.functions as F

    from walrus_spark.operators import text as tmod

    docs = spark.createDataFrame(
        [
            (1, "hash join hash scan"),
            (2, "join join stream"),
            (3, "vector scan table"),
            (4, "the quick fox"),
            (5, "hash hash hash hash"),
            (6, ""),
        ],
        "doc_id long, text string",
    )
    qdf = spark.createDataFrame(
        [
            ("q1", "hash"),
            ("q2", "join"),
            ("q2", "stream"),
            ("q3", "hash"),
            ("q3", "hash"),  # duplicated term: counted twice
            ("q4", "absentterm"),
        ],
        "query_id string, term string",
    )

    def run():
        return [
            (r["query_id"], r["doc_id"], r["score"], r["rank"])
            for r in tmod.bm25_batch_topk(
                docs, qdf, k=10, ordered_sum=True
            ).collect()
        ]

    fast = run()
    monkeypatch.setattr(tmod, "_BM25B_PIVOT_MAX_QUERY_ROWS", 0)
    slow = run()
    assert fast == slow
    qids = {q for q, *_ in fast}
    assert qids == {"q1", "q2", "q3"}  # q4 matches nothing in BOTH
    # duplicated term really doubles the contribution: q3 = 2 * q1
    s1 = {d: s for q, d, s, _ in fast if q == "q1"}
    s3 = {d: s for q, d, s, _ in fast if q == "q3"}
    assert set(s1) == set(s3)
    for d in s1:
        assert abs(s3[d] - 2 * s1[d]) < 2e-6, (d, s1[d], s3[d])


def test_spread_is_row_aware(spark, tmp_path):
    """catalog.spread must scale its fan-out with the input's parquet
    row count (footer metadata, no job): tiny inputs stay unsplit
    (the r12 unconditional 32-way split made 150-row tasks whose
    launch overhead dominated the compute — the sf0.1 multimodal
    regression), big inputs still saturate defaultParallelism, and
    non-file frames keep the full fan-out (row count unknowable)."""
    import pyspark.sql.functions as F

    from walrus_spark.catalog import spread

    target = spark.sparkContext.defaultParallelism

    small = str(tmp_path / "small.parquet")
    spark.range(100).withColumn("x", F.col("id")).write.parquet(small)
    s = spark.read.parquet(small)
    # 100 rows / 512 per part -> 1 partition: no repartition at all
    assert spread(s) is s

    mid = str(tmp_path / "mid.parquet")
    spark.range(5000).coalesce(1).write.parquet(mid)
    m = spread(spark.read.parquet(mid))
    assert m.rdd.getNumPartitions() == min(target, 10)  # ceil(5000/512)

    big = str(tmp_path / "big.parquet")
    spark.range(512 * target + 1).coalesce(1).write.parquet(big)
    b = spread(spark.read.parquet(big))
    assert b.rdd.getNumPartitions() == target

    # non-file frame: row count unknowable without a job -> full fan-out
    nf = spread(spark.createDataFrame([(i,) for i in range(10)], "id long"))
    assert nf.rdd.getNumPartitions() == target


def test_doc_entry_spread_is_layout_invariant(spark, tmp_path):
    """r16: sketch_bloom_decontam / pipeline_decontamination /
    pipeline_corpus_filter spread() the documents scan before their
    scan-stage shingle/signal compute (guide §2.5 — on a single-split
    fixture the whole probe otherwise runs in ONE task at any core
    count; measured sf1: sketch_bloom 15.9 s serial -> 7.7 s spread).
    Two pinned properties, on the two documents-only entries:

      (a) the spread exchange actually fires on a single-split input
          big enough to split (RoundRobinPartitioning in the plan),
          and does NOT fire when the input already arrives in enough
          splits (the production no-op contract);
      (b) entry output is a layout-independent multiset — identical
          between the single-split and pre-split copies of the same
          rows, which is exactly what makes the repartition safe."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from walrus_spark.queries import QUERIES

    rows = 1200  # ceil(1200/512) = 3 -> single-split input spreads to 3
    tbl = pa.table(
        {
            "doc_id": pa.array(range(rows), type=pa.int64()),
            "text": pa.array(
                " ".join(f"w{(i * 7 + j) % 50}" for j in range(10))
                for i in range(rows)
            ),
        }
    )
    one = tmp_path / "one"
    many = tmp_path / "many"
    os.makedirs(one / "documents.parquet")
    os.makedirs(many / "documents.parquet")
    pq.write_table(tbl, str(one / "documents.parquet" / "part-0.parquet"))
    for k in range(4):  # 4 files >= want(3): spread must no-op
        pq.write_table(
            tbl.slice(k * rows // 4, rows // 4),
            str(many / "documents.parquet" / f"part-{k}.parquet"),
        )

    # dq24 spreads the events scan the same way (scan-stage JSON parse)
    ev = pa.table(
        {
            "event_id": pa.array(range(rows), type=pa.int64()),
            "props": pa.array('{"k": %d}' % (i % 97) for i in range(rows)),
        }
    )
    os.makedirs(one / "events.parquet")
    os.makedirs(many / "events.parquet")
    pq.write_table(ev, str(one / "events.parquet" / "part-0.parquet"))
    for k in range(4):
        pq.write_table(
            ev.slice(k * rows // 4, rows // 4),
            str(many / "events.parquet" / f"part-{k}.parquet"),
        )

    for name in (
        "pipeline_decontamination",
        "sketch_bloom_decontam",
        "dq24_json_extract",
    ):
        a = QUERIES[name](spark, str(one))
        b = QUERIES[name](spark, str(many))
        got_a = sorted(map(tuple, a.collect()))
        got_b = sorted(map(tuple, b.collect()))
        assert got_a == got_b, f"{name}: layout changed the multiset"

    plan_a = (
        QUERIES["pipeline_decontamination"](spark, str(one))
        ._jdf.queryExecution().executedPlan().toString()
    )
    plan_b = (
        QUERIES["pipeline_decontamination"](spark, str(many))
        ._jdf.queryExecution().executedPlan().toString()
    )
    # with one core there is nothing to spread to, so spread() no-ops
    # on the single-split arm too; the multiset check above holds at
    # every parallelism
    if spark.sparkContext.defaultParallelism >= 2:
        assert "RoundRobinPartitioning" in plan_a, plan_a
    assert "RoundRobinPartitioning" not in plan_b, plan_b
