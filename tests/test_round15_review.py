"""Round-15 self-review fixes, pinned.

Three seams the round's diff review surfaced: the BPE oracle CTEs
emptied the vocab when a merge round found no pairs (the Spark loop
breaks and keeps it), post_query_hygiene skipped clearing for queries
whose lazy cache entries had no materialized blocks yet, and
_parse_sf_dir lost the old full-path fallback for data dirs whose
basename carries no sf tag."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pandas as pd
import pytest

from welearn_datastack_spark.plans.oracle_check import check_query, duckdb_conn
from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

REPO = Path(__file__).resolve().parent.parent

_load_groups()

BPE_QUERIES = ["bpe_merge_3rounds", "bpe_encode_corpus", "token_budget_packing_bpe"]


def _bench():
    spec = importlib.util.spec_from_file_location("bench", REPO / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("bench", mod)
    spec.loader.exec_module(mod)
    return mod


def _degenerate_dir(tmp_path, texts):
    d = tmp_path / "sf_degenerate"
    d.mkdir()
    pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": (["en", "fr"] * len(texts))[: len(texts)],
            "source": ["s"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(d / "documents.parquet", index=False)
    return str(d)


@pytest.mark.parametrize(
    "texts",
    [
        # no pairs at ALL: every word is a single character — round 1
        # is already dry, the pre-fix SQL emptied v2..v4 and returned
        # zero encode rows while Spark kept the vocab
        ["a b c", "x y", "a a b"],
        # merges exhaust after round 1: one distinct 2-char word —
        # round 1 collapses it to a single symbol, rounds 2-3 are dry
        ["ab ab", "ab", "ab ab ab"],
        # exhaust after round 2: one distinct 3-char word
        ["abc abc", "abc"],
    ],
    ids=["dry-round-1", "dry-round-2", "dry-round-3"],
)
def test_bpe_oracles_survive_dry_merge_rounds(spark, tmp_path, texts):
    sf_dir = _degenerate_dir(tmp_path, texts)
    con = duckdb_conn(sf_dir)
    try:
        for name in BPE_QUERIES:
            issues = check_query(spark, REGISTRY[name], sf_dir, con)
            assert not issues, f"{name}: {issues}"
            # and the encode output is genuinely non-empty: the dry
            # round must keep the vocab, not clear it
            if name == "bpe_encode_corpus":
                rows = REGISTRY[name].build(spark, sf_dir).collect()
                assert len(rows) == len(texts)
    finally:
        con.close()


def test_parse_sf_dir_full_path_fallback():
    bench = _bench()
    # basename carries the sf: unchanged round-15 behavior
    assert bench._parse_sf_dir("/root/testdata/sf0.1") == (0.1, None)
    assert bench._parse_sf_dir("/tmp/welearn_sf1_zipf50k") == (1.0, "zipf50k")
    # basename does not: fall back to the pre-round-15 full-path scan
    assert bench._parse_sf_dir("/data/sf1/corpus") == (1.0, None)
    assert bench._parse_sf_dir("/x/sf0.1-v2") == (0.1, None)
    assert bench._parse_sf_dir("/nothing/here") == (None, None)


def test_post_query_hygiene_clears_lazy_cache_entries(spark):
    """A persist registered but never materialized leaves rdds==0 in
    the storage sample — hygiene must clear the CacheManager anyway,
    or the entry materializes inside a later query's wall."""
    bench = _bench()
    bench.post_query_hygiene(spark)  # start from a clean session
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    df.persist()  # lazy: no action, no blocks materialized
    try:
        cm = spark._jsparkSession.sharedState().cacheManager()
        assert not cm.isEmpty()
        rec = bench.post_query_hygiene(spark)
        # the lazy entry contributed no blocks to the storage sample…
        assert rec is None or rec["rdds"] == 0
        # …and was cleared anyway
        assert cm.isEmpty()
    finally:
        df.unpersist()


def test_gen_sf_regen_releases_live_guard_caches(spark):
    """A regen inside a live session must not leave guard persists (or
    any other cached frame over the old files) to serve stale data:
    the hook empties the active session's CacheManager."""
    from welearn_datastack_spark.operators.dedup import pair_volume_guard

    sys.path.insert(0, str(REPO / "tools"))
    try:
        import gen_sf
    finally:
        sys.path.pop(0)

    df = spark.range(50).selectExpr("id AS doc_id", "'a' AS bk")
    guarded = pair_volume_guard(
        df, ["bk"], "doc_id", budget_bytes=1 << 30, persist_on_probe=True
    )
    guarded.count()
    cm = spark._jsparkSession.sharedState().cacheManager()
    try:
        assert not cm.isEmpty()
        gen_sf._invalidate_guard_memos()
        assert cm.isEmpty()
        assert len(spark.sparkContext._jsc.sc().getRDDStorageInfo()) == 0
    finally:
        guarded.unpersist()
