"""Round-14 pin: direct vs chunked pair-join equivalence. The round's
volume-guard tests live in test_volume_guard.py."""

from __future__ import annotations


# --- direct vs chunked pair-join equivalence, property-tested --------


def test_direct_and_chunked_self_pairs_equivalent_property(spark):
    """For ANY bucket assignment and payload, direct_self_pairs and
    chunked_self_pairs (at several chunk targets, including 1 — every
    member its own chunk) must emit the identical unordered pair set
    with identically aligned payloads. Deterministic pseudo-random
    fixtures spanning the shapes that matter: singleton buckets, one
    mega bucket, many mid buckets."""
    import random as _r

    from welearn_datastack_spark.operators.dedup import (
        chunked_self_pairs,
        direct_self_pairs,
    )

    rng = _r.Random(1407)
    for trial in range(3):
        n = [40, 25, 60][trial]
        n_buckets = [1, 12, 5][trial]  # mega / sparse / mid
        rows = [
            (i, rng.randrange(n_buckets), f"p{i % 7}") for i in range(n)
        ]
        df = spark.createDataFrame(rows, ["id", "bk", "pl"])

        def canon(out):
            return sorted(
                (r["bk"], r["a_id"], r["b_id"], r["a_pl"], r["b_pl"])
                for r in out.collect()
            )

        base = canon(direct_self_pairs(df, ["bk"], "id", ["pl"]))
        assert base and all(a < b for _, a, b, _, _ in base)
        for ct in (1, 3, 256):
            got = canon(chunked_self_pairs(df, ["bk"], "id", ["pl"], chunk_target=ct))
            assert got == base, f"trial {trial}, chunk_target {ct}"
