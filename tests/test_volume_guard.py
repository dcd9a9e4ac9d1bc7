"""Volume-guard verdicts: the pre-flight disk-budget probe in
``operators/dedup.py`` (``pair_volume_guard``'s quadratic pair model,
``replicated_volume_guard``'s chunk-split model) — its fail, sample
and off branches, the worst-case probe skip, ``persist_on_probe``
caching and release, the guard's ``max_bucket`` certificate for
jaccard's adaptive plan, and the registered queries' pinned guard
modes."""

from __future__ import annotations

import math

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from welearn_datastack_spark.operators.dedup import (
    PairVolumeExceeded,
    hexint,
    jaccard_pairs,
    pair_volume_guard,
    replicated_volume_guard,
    word_shingles,
)


# --- pair_volume_guard: quadratic Σ C(c,2) model ---------------------


def _mega_bucket(spark, n=100):
    """n members of ONE (band, band_key) bucket → C(n,2) pairs."""
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit(0).alias("band"),
        F.lit("k").alias("band_key"),
    )


def test_pair_guard_passthrough_under_budget(spark):
    """Projected volume within budget → the input comes back unchanged
    (same rows, no sampling filter)."""
    df = _mega_bucket(spark, n=10)  # 45 pairs * 12 B well under 1 MB
    out = pair_volume_guard(
        df, ["band", "band_key"], "doc_id", budget_bytes=1 << 20, mode="fail"
    )
    assert out.count() == 10


def test_pair_guard_fail_branch_measured_projection(spark):
    """Over budget in fail mode → PairVolumeExceeded BEFORE any pair
    row is built, carrying the exact Σ C(c,2) projection."""
    df = _mega_bucket(spark, n=100)  # C(100,2) = 4950 pairs
    with pytest.raises(PairVolumeExceeded) as ei:
        pair_volume_guard(
            df, ["band", "band_key"], "doc_id",
            bytes_per_pair=12, budget_bytes=1000, mode="fail",
        )
    e = ei.value
    assert e.projected_pairs == 4950
    assert e.projected_bytes == 4950 * 12
    assert e.budget_bytes == 1000
    # the message IS the verdict the bench artifact records — it must
    # carry the numbers and the remediation paths
    assert "4,950" in str(e)
    assert "sample" in str(e) and "decision-only" in str(e)


def test_pair_guard_sample_branch_bounds_mega_bucket(spark):
    """Over budget in sample mode → deterministic MEMBER sampling at
    1/ceil(sqrt(den)) — the one construction that bounds a single
    mega-bucket (bucket-level sampling could not)."""
    df = _mega_bucket(spark, n=100)
    budget = 1000
    out = pair_volume_guard(
        df, ["band", "band_key"], "doc_id",
        bytes_per_pair=12, budget_bytes=budget, mode="sample",
    )
    den = math.ceil(4950 * 12 / budget)  # 60
    keep = math.isqrt(den - 1) + 1  # ceil(sqrt(60)) = 8
    kept = sorted(r["doc_id"] for r in out.collect())
    # exactly the hexint(id) % keep == 0 members, nothing else
    expected = [
        r["doc_id"]
        for r in df.filter(
            hexint(F.col("doc_id").cast("string")) % keep == 0
        ).collect()
    ]
    assert kept == sorted(expected)
    assert 0 < len(kept) < 100
    # deterministic: same call → same sample
    out2 = pair_volume_guard(
        df, ["band", "band_key"], "doc_id",
        bytes_per_pair=12, budget_bytes=budget, mode="sample",
    )
    assert sorted(r["doc_id"] for r in out2.collect()) == kept


def test_pair_guard_worst_case_hint_skips_probe_entirely(spark):
    """When the caller's free upper bound already fits the budget, the
    guard must not launch ANY Spark job — pinned with a poisoned column
    whose evaluation would raise."""
    df = spark.range(4).select(
        F.col("id").alias("doc_id"),
        F.lit(0).alias("band"),
        F.assert_true(F.lit(False)).alias("band_key"),  # evaluating = boom
    )
    out = pair_volume_guard(
        df, ["band", "band_key"], "doc_id",
        worst_case_pairs=6, bytes_per_pair=12, budget_bytes=1 << 20,
    )
    assert out is df  # structurally untouched, no job ran


def test_pair_guard_mode_off_and_conf_resolution(spark):
    """mode='off' skips everything; session conf supplies mode and a
    size-string budget when the call site passes neither."""
    df = _mega_bucket(spark, n=100)
    out = pair_volume_guard(
        df, ["band", "band_key"], "doc_id", budget_bytes=1, mode="off"
    )
    assert out is df
    spark.conf.set("spark.welearn.pairGuard.mode", "sample")
    spark.conf.set("spark.welearn.pairGuard.budget", "1k")  # 1024 B
    try:
        out = pair_volume_guard(
            df, ["band", "band_key"], "doc_id", bytes_per_pair=12
        )
        assert 0 < out.count() < 100  # sampled, not raised
    finally:
        spark.conf.unset("spark.welearn.pairGuard.mode")
        spark.conf.unset("spark.welearn.pairGuard.budget")
    with pytest.raises(ValueError, match="unknown mode"):
        pair_volume_guard(df, ["band", "band_key"], "doc_id", mode="explode")


def test_simhash_near_pairs_guarded(spark):
    """The simhash banded self-join now runs through
    replicated_volume_guard — the chunk-split cost model (replicated
    join-input rows, NOT quadratic pairs: simhash pairs are generated
    in-task and never hit disk). fail branch: a sub-row budget raises
    with the measured replicated-row projection; no-trigger branch: a
    generous budget leaves the exact pair set untouched."""
    import pyspark.sql.functions as F

    from welearn_datastack_spark.operators.dedup import (
        PairVolumeExceeded,
        simhash,
        simhash_near_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc {i % 3}") for i in range(40)],
        ["doc_id", "text"],
    )
    fp = simhash(docs, "doc_id", "text", bits=16)
    spark.conf.set("spark.welearn.pairGuard.budget", "100")
    try:
        with pytest.raises(PairVolumeExceeded) as ei:
            simhash_near_pairs(fp, "doc_id").write.format("noop").mode(
                "overwrite"
            ).save()
        assert ei.value.projected_pairs > 0
    finally:
        spark.conf.unset("spark.welearn.pairGuard.budget")
    # generous budget (default: free disk / 2) -> unchanged output
    out = simhash_near_pairs(fp, "doc_id")
    assert out.filter(F.col("a_id") >= F.col("b_id")).count() == 0
    assert out.count() > 0


# --- jaccard_pairs and semantic dedup guards, persist_on_probe --------


def _docs(spark, n=24, text="alpha beta gamma delta epsilon zeta"):
    """n documents sharing every trigram shingle — one mega bucket per
    shingle, ΣC(c,2) = n_shingles · C(n,2)."""
    return spark.createDataFrame(
        [(i, text) for i in range(n)], ["doc_id", "text"]
    )


def test_jaccard_guard_fail_branch(spark):
    sh = word_shingles(_docs(spark), "doc_id", "text", n=3)
    spark.conf.set("spark.welearn.pairGuard.budget", "100")
    try:
        # the guard probes at BUILD time (eager, documented in
        # _volume_guard) — the verdict arrives before any sink runs
        with pytest.raises(PairVolumeExceeded) as ei:
            jaccard_pairs(sh, "doc_id", threshold=0.0)
        # 4 shingle buckets x C(24,2) = 1104 pairs, measured exactly
        assert ei.value.projected_pairs == 4 * 276
        assert "Σ C(bucket,2)" in str(ei.value)
    finally:
        spark.conf.unset("spark.welearn.pairGuard.budget")


def test_jaccard_guard_sample_branch_bounds_and_subsets(spark):
    sh = word_shingles(_docs(spark), "doc_id", "text", n=3)
    full = {
        (r["a_id"], r["b_id"])
        for r in jaccard_pairs(sh, "doc_id", threshold=0.0).collect()
    }
    spark.conf.set("spark.welearn.pairGuard.mode", "sample")
    spark.conf.set("spark.welearn.pairGuard.budget", "2k")
    try:
        sampled = {
            (r["a_id"], r["b_id"])
            for r in jaccard_pairs(sh, "doc_id", threshold=0.0).collect()
        }
    finally:
        spark.conf.unset("spark.welearn.pairGuard.mode")
        spark.conf.unset("spark.welearn.pairGuard.budget")
    assert sampled and sampled < full  # engaged, never invents a pair
    # member sampling keeps whole documents: jaccard values of kept
    # pairs are the full run's (sizes computed per doc, not per sample)
    full_j = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in jaccard_pairs(sh, "doc_id", threshold=0.0).collect()
    }
    assert all(full_j[p] == 1.0 for p in sampled)


def test_jaccard_passthrough_and_chunk_invariance(spark):
    """Under budget the guard is a no-op (same pairs as guard=False),
    and the chunk sub-split never changes the pair set — the rewrite
    off the collect_list idiom is output-invariant."""
    docs = spark.createDataFrame(
        [(i, f"w{i % 5} common tail tokens here {i % 3}") for i in range(30)],
        ["doc_id", "text"],
    )
    sh = word_shingles(docs, "doc_id", "text", n=2)

    def pairs(**kw):
        return sorted(
            (r["a_id"], r["b_id"], r["jaccard"])
            for r in jaccard_pairs(sh, "doc_id", threshold=0.05, **kw).collect()
        )

    base = pairs(guard=False)
    assert base
    assert pairs() == base
    assert pairs(chunk_target=2) == base  # forced multi-chunk splits
    assert all(a < b for a, b, _ in base)


def test_semantic_dedup_guard_engages_on_tiny_budget(spark, sf_dir):
    """semantic_dedup_flags now pre-flights its within-cluster chunk
    join with the replicated-volume model: a sub-worst-case budget
    forces the probe and the fail verdict; the default budget leaves
    the gated output untouched (oracle-verified separately)."""
    from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

    _load_groups()
    spark.conf.set("spark.welearn.pairGuard.budget", "10")
    try:
        with pytest.raises(PairVolumeExceeded) as ei:
            REGISTRY["semantic_dedup_flags"].build(spark, sf_dir).write.format(
                "noop"
            ).mode("overwrite").save()
        assert "replicated chunk-join input rows" in str(ei.value)
    finally:
        spark.conf.unset("spark.welearn.pairGuard.budget")


def test_persist_on_probe_caches_and_fail_branch_releases(spark):
    df = spark.range(50).select(
        F.col("id").alias("doc_id"), F.lit(0).alias("b"), F.lit("k").alias("bk")
    )
    # passthrough: probe ran (no worst-case hint), frame left persisted
    out = replicated_volume_guard(
        df, ["b", "bk"], "doc_id", budget_bytes=1 << 30, persist_on_probe=True
    )
    assert out.storageLevel.useMemory
    out.unpersist()
    # fail: the persist must be RELEASED before the raise (a guarded
    # query that declines to run must not leak executor storage).
    # chunk_target differs from the call above so this is a distinct
    # cost model, not a repeat of the passing build
    with pytest.raises(PairVolumeExceeded):
        replicated_volume_guard(
            df, ["b", "bk"], "doc_id", budget_bytes=10,
            chunk_target=128, persist_on_probe=True,
        )
    assert not df.storageLevel.useMemory and not df.storageLevel.useDisk
    # and a later guarded run is unaffected by the released cache
    out2 = replicated_volume_guard(
        df, ["b", "bk"], "doc_id", budget_bytes=1 << 30, persist_on_probe=True
    )
    assert out2.count() == 50
    out2.unpersist()


# --- adaptive chunking, guard-mode pins, repeat builds ----------------


def _chunk_split_markers(plan: str) -> bool:
    """The chunk-split plan is identifiable by its chunk-pair
    repartition columns (ci, cj) — absent from the direct join."""
    return "ci#" in plan and "cj#" in plan


def test_jaccard_adaptive_takes_direct_plan_when_buckets_small(spark):
    """30 docs, every shingle bucket well under chunk_target → the
    probe's max-bucket certificate selects direct_self_pairs (no
    chunk-split scaffolding in the plan), while a chunk_target BELOW
    the max bucket re-engages the sub-split — with identical pairs."""
    docs = spark.createDataFrame(
        [(i, f"w{i % 5} common tail tokens here {i % 3}") for i in range(30)],
        ["doc_id", "text"],
    )
    sh = word_shingles(docs, "doc_id", "text", n=2)

    direct = jaccard_pairs(sh, "doc_id", threshold=0.05)
    dplan = direct._jdf.queryExecution().executedPlan().toString()
    assert not _chunk_split_markers(dplan), dplan[:1200]

    # max bucket here is > 2, so chunk_target=2 must chunk-split
    split = jaccard_pairs(sh, "doc_id", threshold=0.05, chunk_target=2)
    splan = split._jdf.queryExecution().executedPlan().toString()
    assert _chunk_split_markers(splan)

    # unguarded calls have no certificate → always the safe sub-split
    unguarded = jaccard_pairs(sh, "doc_id", threshold=0.05, guard=False)
    uplan = unguarded._jdf.queryExecution().executedPlan().toString()
    assert _chunk_split_markers(uplan)

    key = lambda df: sorted(  # noqa: E731
        (r["a_id"], r["b_id"], r["jaccard"]) for r in df.collect()
    )
    assert key(direct) == key(split) == key(unguarded)


def test_jaccard_sample_branch_never_takes_direct_plan(spark):
    """The max-bucket certificate describes the PRE-sample frame, so
    the sample branch must fall back to the chunk-split."""
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(24)],
        ["doc_id", "text"],
    )
    sh = word_shingles(docs, "doc_id", "text", n=3)
    spark.conf.set("spark.welearn.pairGuard.mode", "sample")
    spark.conf.set("spark.welearn.pairGuard.budget", "2k")
    try:
        out = jaccard_pairs(sh, "doc_id", threshold=0.0)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert _chunk_split_markers(plan)
    finally:
        spark.conf.unset("spark.welearn.pairGuard.mode")
        spark.conf.unset("spark.welearn.pairGuard.budget")


def test_guard_mode_pin_overrides_session_sample_conf(spark):
    """A registered non-sampled query's oracle does not model member
    sampling — guard_mode='fail' must raise even when the session conf
    asks for sample mode globally."""
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(24)],
        ["doc_id", "text"],
    )
    sh = word_shingles(docs, "doc_id", "text", n=3)
    spark.conf.set("spark.welearn.pairGuard.mode", "sample")
    spark.conf.set("spark.welearn.pairGuard.budget", "100")
    try:
        with pytest.raises(PairVolumeExceeded) as ei:
            jaccard_pairs(sh, "doc_id", threshold=0.0, guard_mode="fail")
        assert "oracle" in str(ei.value)  # the parity note ships in the msg
    finally:
        spark.conf.unset("spark.welearn.pairGuard.mode")
        spark.conf.unset("spark.welearn.pairGuard.budget")


def test_rewritten_input_gets_fresh_guard_verdict(spark, tmp_path):
    """End-to-end: a corpus rewritten AT THE SAME PATH within one
    application gets a verdict measured on the new files — reusing the
    small corpus's verdict would under-gate the big one. The guard
    keeps no verdict between builds, so every build probes afresh."""
    p = str(tmp_path / "docs.parquet")
    pq.write_table(pa.table({"doc_id": [1, 2], "bk": ["x", "y"]}), p)
    budget = 24 * 10  # fits the 2-row corpus (≤1 pair), not the big one
    out = pair_volume_guard(
        spark.read.parquet(p), ["bk"], "doc_id", budget_bytes=budget
    )
    assert out.count() == 2
    pq.write_table(
        pa.table({"doc_id": list(range(200)), "bk": ["x"] * 200}), p
    )
    with pytest.raises(PairVolumeExceeded):
        pair_volume_guard(
            spark.read.parquet(p), ["bk"], "doc_id", budget_bytes=budget
        )


def test_repeat_build_repersists_idempotently(spark):
    """A caller that unpersisted after its sink must still get
    probe/run sharing on LATER builds — a repeat build of the same plan
    probes again and re-marks the frame persisted."""
    spark.catalog.clearCache()
    df = spark.range(30).select(
        F.col("id").alias("doc_id"), F.lit(1).alias("b"), F.lit("m").alias("bk")
    )
    out1, st1 = replicated_volume_guard(
        df, ["b", "bk"], "doc_id", budget_bytes=1 << 30,
        persist_on_probe=True, with_stats=True,
    )
    assert out1.storageLevel.useMemory
    out1.unpersist()  # the docstring's 'after their sink' advice
    out2, st2 = replicated_volume_guard(
        df, ["b", "bk"], "doc_id", budget_bytes=1 << 30,
        persist_on_probe=True, with_stats=True,
    )
    assert out2.storageLevel.useMemory  # persisted again
    assert st1.units == st2.units == 30 * 2  # both builds probed
    spark.catalog.clearCache()


def test_sampled_cache_feeds_sibling_plan(spark, sf_dir):
    """Pin of the claimed sibling-query cache hit (round-13 verdict
    item 6): after minhash_lsh_candidates_sampled's persist_on_probe
    caches the shared band frame, the hashed sibling's physical plan
    reads through the InMemoryRelation; clearing the session's cache
    restores the cold plan within the tight exchange budget."""
    from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

    _load_groups()
    spark.catalog.clearCache()
    REGISTRY["minhash_lsh_candidates_sampled"].build(spark, sf_dir).count()
    warm = (
        REGISTRY["minhash_lsh_candidates_hashed"]
        .build(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "InMemoryTableScan" in warm
    spark.catalog.clearCache()
    cold = (
        REGISTRY["minhash_lsh_candidates_hashed"]
        .build(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "InMemoryTableScan" not in cold
    assert cold.count("Exchange hashpartitioning") <= 7


def test_registered_minhash_queries_ignore_session_sample_conf(spark, sf_dir):
    """minhash_lsh_candidates(_hashed) gate against the FULL candidate
    set — under a global sample conf and an impossible budget they must
    refuse (pinned mode='fail'), never silently emit a subset."""
    from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

    _load_groups()
    spark.conf.set("spark.welearn.pairGuard.mode", "sample")
    spark.conf.set("spark.welearn.pairGuard.budget", "10")
    try:
        for name in ("minhash_lsh_candidates", "minhash_lsh_candidates_hashed"):
            with pytest.raises(PairVolumeExceeded):
                REGISTRY[name].build(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
    finally:
        spark.conf.unset("spark.welearn.pairGuard.mode")
        spark.conf.unset("spark.welearn.pairGuard.budget")


def test_registered_semantic_dedup_ignores_session_sample_conf(spark, sf_dir):
    from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

    _load_groups()
    spark.conf.set("spark.welearn.pairGuard.mode", "sample")
    spark.conf.set("spark.welearn.pairGuard.budget", "10")
    try:
        with pytest.raises(PairVolumeExceeded):
            REGISTRY["semantic_dedup_flags"].build(spark, sf_dir).write.format(
                "noop"
            ).mode("overwrite").save()
    finally:
        spark.conf.unset("spark.welearn.pairGuard.mode")
        spark.conf.unset("spark.welearn.pairGuard.budget")


def test_sampled_variant_still_samples_under_its_own_mode(spark, sf_dir):
    """The sanctioned sample path (minhash_lsh_candidates_sampled pins
    mode='sample' itself) keeps working regardless of session conf —
    the fail pins above must not have leaked into it."""
    from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

    _load_groups()
    spark.conf.set("spark.welearn.pairGuard.mode", "fail")  # hostile the other way
    try:
        n = REGISTRY["minhash_lsh_candidates_sampled"].build(spark, sf_dir).count()
        assert n >= 0  # built and ran; its 600 B budget guarantees sampling engaged
    finally:
        spark.conf.unset("spark.welearn.pairGuard.mode")
