"""Small-file compaction + latest-state snapshotting for the
append-only state log (SURVEY.md §2.10).

The reference's process log is an append-only table
(ProcessState rows, document_hub/models/db_models) that every batch
job appends to and every reader re-scans for the arg-max state per
document.  On Spark at 100 TB that pattern has two failure modes:

1. **Small files.** Each micro-batch / ingest run appends a handful
   of rows → after months the log is millions of KB-sized parquet
   files, and the scan is dominated by file-open overhead (driver
   listing + one task per file).  ``compact`` is the OPTIMIZE verb:
   bin-pack existing files into ~target-size outputs, content
   preserved, partition layout preserved.

2. **Unbounded history.** Readers only ever need the latest state
   per (document, step) but pay for the full history every query.
   ``snapshot_latest`` is the checkpoint verb: materialize the
   arg-max rows once, after which readers scan snapshot + tail
   (the log since the snapshot watermark) — the same
   snapshot-plus-delta contract Delta/Iceberg checkpoints use.

Both are rewrite jobs expressed as plain DataFrame plans: no driver
loops, no per-file RPCs; Spark's committer gives all-or-nothing
replacement via write-to-staging + atomic swap.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def plan_compaction(
    spark: SparkSession, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> dict:
    """Inspect a parquet directory and decide how many output files a
    compaction should produce. Pure metadata read: a local directory
    walk (data files only — committer metadata like ``_SUCCESS`` and
    dotfiles are skipped), never a Spark job. The previous
    implementation enumerated files by scanning every ROW through
    ``input_file_name()`` + groupBy + collect — a full read of the
    table to learn its file listing (r15 opt: one whole-scan Spark job
    removed per compact() call; the stats are identical because the
    old path resolved the same local file names and ``getsize``d
    them). Only local paths are supported, exactly as before — remote
    stores must derive sizes from their filesystem API."""
    from urllib.parse import urlparse

    parsed = urlparse(path)
    if parsed.scheme not in ("", "file"):
        raise OSError(
            f"plan_compaction only supports local paths, got {path!r} — "
            "derive sizes from the path scheme's filesystem API for "
            "remote stores"
        )
    root = parsed.path or path
    if not os.path.isdir(root):
        raise OSError(f"plan_compaction: {root!r} is not a local directory")
    names = []
    for dirpath, dirnames, filenames in os.walk(root):
        # prune committer/staging metadata dirs; keep partition dirs
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for fn in filenames:
            if fn.endswith(".parquet") and not fn.startswith(("_", ".")):
                names.append(os.path.join(dirpath, fn))
    sizes = [os.path.getsize(n) for n in names]
    total = sum(sizes)
    n_out = max(1, math.ceil(total / target_file_bytes))
    return {
        "n_files": len(names),
        "total_bytes": total,
        "target_files": n_out,
        "small_files": sum(1 for s in sizes if s < target_file_bytes // 2),
    }


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within_by: list[Column] | None = None,
) -> dict:
    """Rewrite ``path`` in place into ~``target_file_bytes`` parquet
    files. Data is byte-identical modulo row order; an optional
    within-file sort restores clustering so min/max row-group stats
    stay selective after the rewrite (the reason Delta's OPTIMIZE has
    ZORDER — sorted files prune, shuffled files don't).

    Swap semantics (local-FS, SINGLE-WRITER only): writes to a
    staging dir, then two ``os.rename`` calls move the old layout
    aside and the staging dir into place. POSIX rename is atomic per
    call but the pair is not — between the renames the table path
    briefly does not exist, so a concurrent reader can error; run
    compaction from the one writer that owns the table, during a
    window with no readers. A crash between the renames leaves the
    data under ``.__old_*`` — ``recover_interrupted_compaction``
    restores it on the next startup. Object stores/HDFS need a
    metastore- or table-format-level swap (Delta/Iceberg commit)
    instead of renames, so this swap stays local-FS on purpose even
    though the ingest state store it compacts (``compact_state``) is
    otherwise read and written through the Hadoop FileSystem of its
    path's scheme."""
    stats = plan_compaction(spark, path, target_file_bytes)
    df = spark.read.parquet(path)
    out = df.repartition(stats["target_files"])
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    staging = f"{path.rstrip('/')}.__compact_{uuid.uuid4().hex[:8]}"
    out.write.mode("overwrite").parquet(staging)
    old = f"{path.rstrip('/')}.__old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old)
    return stats


def recover_interrupted_compaction(path: str) -> str | None:
    """Startup recovery for a compact() crash window: if the table
    path is missing but a ``.__old_*`` sibling exists, restore the
    old layout (the staging dir, if present, is incomplete by
    definition — drop it). Returns the restored source dir or None."""
    base = path.rstrip("/")
    parent = os.path.dirname(base) or "."
    prefix = os.path.basename(base)
    olds = sorted(
        n for n in os.listdir(parent) if n.startswith(f"{prefix}.__old_")
    )
    stagings = [n for n in os.listdir(parent) if n.startswith(f"{prefix}.__compact_")]
    if not os.path.exists(base) and olds:
        os.rename(os.path.join(parent, olds[0]), base)
        for s in stagings:
            shutil.rmtree(os.path.join(parent, s), ignore_errors=True)
        return olds[0]
    for s in stagings:
        shutil.rmtree(os.path.join(parent, s), ignore_errors=True)
    return None


def snapshot_latest(
    spark: SparkSession,
    log_path: str,
    snapshot_path: str,
    key_cols: list[str],
    ts_col: str,
    tie_break: list[str] | None = None,
) -> int:
    """Materialize the latest row per key from the append-only log —
    the checkpoint against which later reads only need the log tail.
    Returns the snapshot row count."""
    log = spark.read.parquet(log_path)
    order = [F.col(ts_col).desc()] + [F.col(c).desc() for c in (tie_break or [])]
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(*order)
    latest = (
        log.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    # the row count rides the write action as an Observation — no
    # second job re-reading the files just written (r15 opt)
    from pyspark.sql import Observation

    obs = Observation()
    latest = latest.observe(obs, F.count(F.lit(1)).alias("c"))
    latest.write.mode("overwrite").parquet(snapshot_path)
    return int(obs.get["c"])


def read_with_snapshot(
    spark: SparkSession,
    snapshot_path: str,
    log_path: str,
    key_cols: list[str],
    ts_col: str,
    tie_break: list[str] | None = None,
) -> DataFrame:
    """Latest-state view = snapshot ∪ log-tail, arg-maxed. The tail
    predicate (`ts > snapshot watermark`) prunes the log scan to
    files whose row-group max exceeds the watermark — with
    time-ordered appends that is only the recent files. ``tie_break``
    mirrors :func:`snapshot_latest`: pass the same columns so reads
    resolve equal-timestamp rows identically to the snapshot
    builder (and deterministically for oracle checks)."""
    snap = spark.read.parquet(snapshot_path)
    watermark = snap.agg(F.max(ts_col)).collect()[0][0]
    tail = spark.read.parquet(log_path).filter(F.col(ts_col) > F.lit(watermark))
    both = snap.select(*tail.columns).unionByName(tail)
    from pyspark.sql import Window

    order = [F.col(ts_col).desc()] + [F.col(c).desc() for c in (tie_break or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        both.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
