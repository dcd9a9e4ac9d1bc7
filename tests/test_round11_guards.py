"""Round-11 hardening pins: the fan-out evidence plane's remaining
quadrants (mixed layout; >128-file cap deactivation), the
minPartitionNum conf mirror, and the DuckDB oracle's multi-file-layout
read path."""

from __future__ import annotations

import glob
import os
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parent.parent


# --- fan-out evidence plane: mixed layout quadrant -------------------


def test_fan_out_mixed_layout_estimate_matches_spark(spark, tmp_path):
    """SCALE.md §21.1 pinned many-small-files and §21.5 few-huge-row-
    groups; this pins the MIXED quadrant — several files × several row
    groups each. The bin-packing estimate must match Spark's real
    partition count, the row-group cap must be NON-binding (groups ≥
    planned splits), and the guard must no-op when the layout already
    provides the parallelism."""
    import welearn_datastack_spark.sources.tables as tables

    d = tmp_path / "mixed"
    d.mkdir()
    # 6 files × 4 row groups each (1k rows per group) — the shape a
    # real cluster writes when executors flush multiple groups per file
    for i in range(6):
        t = pa.table(
            {
                "id": pa.array(range(i * 4000, (i + 1) * 4000), pa.int64()),
                "pad": [f"{j:064x}" for j in range(4000)],
            }
        )
        pq.write_table(t, str(d / f"part-{i:05d}.parquet"), row_group_size=1000)
    files = sorted(glob.glob(f"{d}/*.parquet"))
    assert tables._total_row_groups(files) == 24
    sizes = [os.path.getsize(f) for f in files]
    est = tables._estimate_scan_partitions(
        sizes,
        tables._size_to_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes")),
        tables._size_to_bytes(
            spark.conf.get("spark.sql.files.openCostInBytes", "4194304b")
        ),
        spark.sparkContext.defaultParallelism,
    )
    df = spark.read.parquet(str(d))
    actual = df.rdd.getNumPartitions()
    assert est == actual, (est, actual)
    # cap non-binding on this quadrant: plenty of row groups
    assert min(est, tables._total_row_groups(files)) == est
    # layout already parallel at a proportionate task size -> no-op
    # (ceil division: target = ceil(total/bytes_per_task) <= actual)
    total_bytes = sum(sizes)
    fanned = tables.fan_out_for_compute(
        df, bytes_per_task=-(-total_bytes // max(1, actual))
    )
    assert fanned is df


def test_fan_out_row_group_cap_deactivates_above_128_files(
    spark, tmp_path, monkeypatch
):
    """sources/tables.py deliberately skips the row-group footer scan
    above 128 files (driver-side reads; many-file layouts provide
    splits by count alone). Pin the branch BOTH ways so a refactor
    can't silently invert it, and pin the arithmetic that makes the
    skip safe: planned splits ≤ file count ≤ Σ row groups when files
    are small, so the cap could never bind there anyway."""
    import welearn_datastack_spark.sources.tables as tables

    calls: list[int] = []
    real = tables._total_row_groups

    def recording(paths):
        calls.append(len(paths))
        return real(paths)

    monkeypatch.setattr(tables, "_total_row_groups", recording)

    t = pa.table({"id": pa.array(range(200), pa.int64())})
    many = tmp_path / "many"
    many.mkdir()
    for i in range(130):
        pq.write_table(t, str(many / f"part-{i:05d}.parquet"))
    df = spark.read.parquet(str(many))
    tables.fan_out_for_compute(df, bytes_per_task=1)
    assert calls == [], "footer scan must be skipped above 128 files"
    # the safety arithmetic behind the skip
    files = sorted(glob.glob(f"{many}/*.parquet"))
    assert real(files) >= len(files)

    few = tmp_path / "few"
    few.mkdir()
    for i in range(3):
        pq.write_table(t, str(few / f"part-{i:05d}.parquet"))
    df2 = spark.read.parquet(str(few))
    tables.fan_out_for_compute(df2, bytes_per_task=1)
    assert calls and calls[-1] == 3, "cap must engage at <=128 files"


# --- ADVICE r10: estimator mirrors spark.sql.files.minPartitionNum ---


def test_fan_out_estimator_reads_min_partition_num_conf(
    spark, tmp_path, monkeypatch
):
    """Spark's maxSplitBytes uses spark.sql.files.minPartitionNum when
    set (defaultParallelism only as fallback); the guard must pass the
    SAME value into its packing estimate or the two diverge on tuned
    sessions. Pinned two ways: the argument actually handed to the
    estimator, and formula-vs-Spark agreement under the conf."""
    import welearn_datastack_spark.sources.tables as tables

    p = str(tmp_path / "conf_layout")
    spark.range(0, 4_000).selectExpr(
        "id", "sha2(cast(id AS string), 256) AS pad"
    ).repartition(33).write.parquet(p)

    captured: list[int] = []
    real_est = tables._estimate_scan_partitions

    def recording(sizes, mx, oc, n):
        captured.append(n)
        return real_est(sizes, mx, oc, n)

    monkeypatch.setattr(tables, "_estimate_scan_partitions", recording)
    old = spark.conf.get("spark.sql.files.minPartitionNum", None)
    spark.conf.set("spark.sql.files.minPartitionNum", "4")
    try:
        df = spark.read.parquet(p)
        tables.fan_out_for_compute(df, bytes_per_task=16 << 10)
        assert captured and captured[-1] == 4
        # formula agreement with Spark's real packing under the conf
        files = sorted(glob.glob(f"{p}/*.parquet"))
        sizes = [os.path.getsize(f) for f in files]
        est = real_est(
            sizes,
            tables._size_to_bytes(
                spark.conf.get("spark.sql.files.maxPartitionBytes")
            ),
            tables._size_to_bytes(
                spark.conf.get("spark.sql.files.openCostInBytes", "4194304b")
            ),
            4,
        )
        actual = spark.read.parquet(p).rdd.getNumPartitions()
        assert est == actual, (est, actual)
        # unset conf -> falls back to defaultParallelism
        spark.conf.unset("spark.sql.files.minPartitionNum")
        tables.fan_out_for_compute(spark.read.parquet(p), bytes_per_task=16 << 10)
        assert captured[-1] == spark.sparkContext.defaultParallelism
    finally:
        if old is None:
            try:
                spark.conf.unset("spark.sql.files.minPartitionNum")
            except Exception:
                pass
        else:
            spark.conf.set("spark.sql.files.minPartitionNum", old)


# --- ADVICE r10: DuckDB oracle reads the multi-file layout -----------


def test_duckdb_oracle_reads_multifile_layout(spark, tmp_path):
    """gen_sf.py --files-per-table writes <name>.parquet as a DIRECTORY
    of part files; the oracle harness must glob its members (DuckDB's
    read_parquet errors on a bare directory), so the correctness gate
    stays runnable against production-layout datasets."""
    out = str(tmp_path / "sf_multifile")
    subprocess.run(
        [
            sys.executable,
            str(REPO / "tools" / "gen_sf.py"),
            "--sf",
            "0.001",
            "--out",
            out,
            "--files-per-table",
            "2",
        ],
        check=True,
        capture_output=True,
        text=True,
    )
    assert os.path.isdir(os.path.join(out, "documents.parquet"))
    # region (5 rows) is also a dir at 2 files; nation 25 rows etc. —
    # all >= 2 rows, so the layout is uniform here
    from welearn_datastack_spark.plans.oracle_check import duckdb_conn

    con = duckdb_conn(out)
    for name in ("documents", "lineitem", "region"):
        duck_n = con.execute(f"SELECT count(*) FROM {name}").fetchone()[0]
        spark_n = spark.read.parquet(os.path.join(out, f"{name}.parquet")).count()
        assert duck_n == spark_n and duck_n > 0, (name, duck_n, spark_n)
    con.close()
