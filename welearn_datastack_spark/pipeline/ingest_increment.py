"""Incremental-ingest pipeline: the reference's append-only state
machine (URL-ingest dedup + anti-join backfill, pipeline/url_ingest.py
twin) generalized to content-level dedup state.

One cycle, :func:`ingest_batch`, is the only way a batch enters the
state store: the batch is probed against the persisted state (a
content-hash store and an LSH band store), each document gets a
decision (exact_dup / near_dup / new), the decisions are written, and
the new documents' hashes and bands are appended so the next probe
sees them. ``jobs ingest-increment`` (:func:`ingest_increment`), the
streaming drop-folder ingest (``streaming/state_machine.
stream_ingest_probe``) and the registered maintenance gate all admit
through it.

Per-ingest cost scales with |batch|: the batch is shingled and hashed
in-engine once per cycle, while the corpus side is a plain parquet
scan of precomputed state, never re-shingled. The store is
append-only — the same snapshot+tail discipline as
operators/compaction.py — and :func:`compact_state` folds the
fragments. Every store access (the parquet legs, the params sidecar,
the first-run check) goes through the Hadoop FileSystem of the path's
scheme, so a ``file://`` or object-store URI works like a local path;
only compaction's in-place swap is local-disk only.

The bucketed-table layout (:func:`build_state_bucketed`,
:func:`fold_state_bucketed`, :func:`probe_batch_bucketed`) probes with
zero corpus-side Exchange (tests/test_bucketed_layout.py); the ingest
cycle itself reads and appends the path store.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    incremental_lsh_candidates,
    incremental_near_dup_ids,
    lsh_band_keys,
    minhash_signatures,
    normalize_text,
    word_shingles,
)


@dataclass(frozen=True)
class LshParams:
    """The ingest pipeline's LSH parameterization — a PROPERTY OF THE
    STATE STORE, not of any one job invocation: persisted bands are
    only probe-able by bands built with the same (shingle_n, n_hashes,
    rows_per_band), so :func:`build_state` writes these to
    ``state_dir/lsh_params.json`` and :func:`probe_batch` reads them
    back, making a mismatched probe structurally impossible.

    What the knobs mean (the banding s-curve): with b = n_hashes /
    rows_per_band bands of r = rows_per_band rows, a pair with
    Jaccard similarity s becomes a candidate with probability
    1 − (1 − s^r)^b — a sigmoid whose 50% threshold sits near
    s50 ≈ (1/b)^(1/r). The defaults (n_hashes=8, r=2 → b=4) give
    s50 = 0.5: pairs more than half-similar usually collide, pairs
    much below rarely do. Raising n_hashes at fixed r adds bands →
    lowers the threshold (more recall, more candidates); raising r at
    fixed b sharpens the sigmoid (fewer false candidates, harder
    cutoff). Per-batch cost is linear in n_hashes (signature rows =
    |batch|·n_hashes) and state size is |corpus|·b band rows."""

    shingle_n: int = 3
    n_hashes: int = 8
    rows_per_band: int = 2

    def __post_init__(self) -> None:
        # a remainder would silently build one more (short) band than
        # n_bands reports: lsh_band_keys bands seed s as s // rows
        if min(self.shingle_n, self.n_hashes, self.rows_per_band) < 1:
            raise ValueError(f"LSH params must all be >= 1, got {self}")
        if self.n_hashes % self.rows_per_band:
            raise ValueError(
                f"n_hashes ({self.n_hashes}) must be a multiple of "
                f"rows_per_band ({self.rows_per_band})"
            )

    @property
    def n_bands(self) -> int:
        return self.n_hashes // self.rows_per_band

    @property
    def s50(self) -> float:
        """Approximate Jaccard similarity at 50% candidate probability."""
        return (1.0 / self.n_bands) ** (1.0 / self.rows_per_band)


_DEFAULT_PARAMS = LshParams()


def _run_concurrently(*thunks):
    """Run independent Spark actions from driver threads so the later
    job's tasks back-fill executors freed by the earlier job's tail —
    the two legs of the state store (content hashes / band keys) and
    the two compaction rewrites touch disjoint directories and share
    no lineage, so serializing them only serialized their stragglers
    (optimization guide §2.6). Results in submission order; the first
    exception propagates."""
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        return [f.result() for f in [pool.submit(t) for t in thunks]]


def size_lsh_params(
    target_s50: float,
    shingle_n: int = 3,
    max_hashes: int = 64,
    rows_choices: tuple[int, ...] = (2, 3, 4),
) -> LshParams:
    """CLOSE THE RECALL→SIZING LOOP: turn a similarity threshold into
    a banding parameterization. The banding s-curve puts a pair with
    Jaccard s at candidate probability 1−(1−s^r)^b, whose 50% point
    is s50 ≈ (1/b)^(1/r); given the threshold a user wants near-dups
    caught above, solve for (b, r): for each candidate row count r,
    b = round((1/target)^r), keep the combination whose realized s50
    lands closest to the target within the ``max_hashes`` signature
    budget (ties → fewer hashes, i.e. cheaper signatures and less
    band-store state: per-batch cost is linear in n_hashes, state is
    |corpus|·b rows). The choice is VALIDATED empirically by the
    lsh_dedup_recall harness family — the measured per-decile recall
    curve at the chosen params (SCALE.md s-curve table), not just the
    formula. Surfaced on the ingest-increment CLI as --target-s50."""
    if not 0.0 < target_s50 < 1.0:
        raise ValueError(f"target_s50 must be in (0, 1), got {target_s50}")
    best: tuple[tuple[float, int], LshParams] | None = None
    for r in rows_choices:
        b0 = round((1.0 / target_s50) ** r)
        for b in (b0 - 1, b0, b0 + 1):
            if b < 1 or b * r > max_hashes:
                continue
            p = LshParams(shingle_n=shingle_n, n_hashes=b * r, rows_per_band=r)
            key = (abs(p.s50 - target_s50), p.n_hashes)
            if best is None or key < best[0]:
                best = (key, p)
    if best is None:
        raise ValueError(
            f"no banding with <= {max_hashes} hashes reaches s50 ~ "
            f"{target_s50}; raise max_hashes or relax the target"
        )
    return best[1]


def _hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` through the Hadoop FileSystem of
    its scheme, so a local path, a ``file://`` URI and an object-store
    URI are read, written and deleted alike."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _params_path(state_dir: str) -> str:
    return f"{state_dir}/lsh_params.json"


def load_params(state_dir: str) -> LshParams:
    """The state store's own parameterization; defaults for stores
    written before the params file existed (they were all built at
    the defaults)."""
    spark = SparkSession.active()
    fs, path = _hadoop_path(spark, _params_path(state_dir))
    if not fs.exists(path):
        return _DEFAULT_PARAMS
    stream = fs.open(path)
    try:
        raw = spark._jvm.org.apache.hadoop.io.IOUtils.readFullyToByteArray(stream)
    finally:
        stream.close()
    return LshParams(**json.loads(bytes(raw)))


def content_hashes(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, content_hash) — md5 of whitespace-normalized lowercase
    text, the exact-dup key (same formula as exact_dup_flags)."""
    return docs.select(
        F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("content_hash")
    )


def band_keys(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    params: LshParams = _DEFAULT_PARAMS,
) -> DataFrame:
    """(doc_id, band, band_key) — the standard minhash/LSH band
    pipeline at the given parameterization (see :class:`LshParams`
    for the collision s-curve the knobs trace)."""
    sh = word_shingles(docs, id_col, text_col, n=params.shingle_n)
    sigs = minhash_signatures(sh, id_col, n_hashes=params.n_hashes)
    return lsh_band_keys(sigs, id_col, rows_per_band=params.rows_per_band)


def build_state(
    docs: DataFrame, state_dir: str, params: LshParams = _DEFAULT_PARAMS
) -> None:
    """Materialize the persisted dedup state for a stored corpus:
    ``state_dir/doc_hashes`` and ``state_dir/band_store`` parquet,
    plus ``lsh_params.json`` recording the parameterization so every
    later probe and admission rebuilds bands identically."""
    _run_concurrently(
        lambda: content_hashes(docs)
        .write.mode("overwrite")
        .parquet(f"{state_dir}/doc_hashes"),
        lambda: band_keys(docs, params=params)
        .write.mode("overwrite")
        .parquet(f"{state_dir}/band_store"),
    )
    fs, path = _hadoop_path(docs.sparkSession, _params_path(state_dir))
    stream = fs.create(path, True)
    try:
        stream.write(json.dumps(asdict(params)).encode())
    finally:
        stream.close()


_TBLPROP_KEY = "welearn.lsh_params"


def _persist_table_params(
    spark: SparkSession, table_prefix: str, params: LshParams
) -> None:
    """Stamp the LSH parameterization onto the bucketed band-store
    table as a TBLPROPERTY — the metastore twin of the path store's
    ``lsh_params.json`` sidecar, so a probe can never silently run
    with bands built differently than the store holds."""
    spark.sql(
        f"ALTER TABLE {table_prefix}_band_store "
        f"SET TBLPROPERTIES ('{_TBLPROP_KEY}' = '{json.dumps(asdict(params))}')"
    )


def load_table_params(spark: SparkSession, table_prefix: str) -> LshParams | None:
    """The bucketed store's own parameterization, or None for tables
    written before the property existed (all built at the defaults)."""
    rows = spark.sql(f"SHOW TBLPROPERTIES {table_prefix}_band_store").collect()
    for r in rows:
        if r["key"] == _TBLPROP_KEY:
            return LshParams(**json.loads(r["value"]))
    return None


def _write_bucketed(
    hashes: DataFrame,
    bands: DataFrame,
    table_prefix: str,
    n_buckets: int,
    params: LshParams,
) -> None:
    """Write the two state legs as bucketed tables —
    ``{prefix}_doc_hashes`` by content_hash, ``{prefix}_band_store`` by
    (band, band_key), each sorted by its key within buckets — and stamp
    ``params`` on the band store."""
    spark = hashes.sparkSession
    for df, leg, keys in (
        (hashes, "doc_hashes", ("content_hash",)),
        (bands, "band_store", ("band", "band_key")),
    ):
        table = f"{table_prefix}_{leg}"
        _drop_table_and_orphan(spark, table)
        (
            df.write.format("parquet")
            .bucketBy(n_buckets, *keys)
            .sortBy(*keys)
            .mode("overwrite")
            .saveAsTable(table)
        )
    _persist_table_params(spark, table_prefix, params)


def build_state_bucketed(
    docs: DataFrame,
    table_prefix: str,
    n_buckets: int = 8,
    params: LshParams = _DEFAULT_PARAMS,
) -> None:
    """The state store as BUCKETED tables (see :func:`_write_bucketed`),
    so the per-batch probe joins satisfy their ClusteredDistribution
    straight from the scan — the corpus side of every probe join
    carries ZERO Exchange; only the (small) batch side shuffles, into
    the bucket count. Parity and the exchange delta vs the path-based
    store are pinned in tests/test_bucketed_layout.py."""
    _write_bucketed(
        content_hashes(docs),
        band_keys(docs, params=params),
        table_prefix,
        n_buckets,
        params,
    )


def probe_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    count_candidates: bool = False,
) -> DataFrame:
    """Per-incoming-document dedup decision against the PERSISTED
    state — the batch is hashed/shingled in-engine, the corpus side is
    read from the state parquet (never recomputed), so probe cost is
    O(|batch|) plus the bucket-local band join. A probe only: to admit
    the batch's new documents, run :func:`ingest_batch`.

    Default (decision-only) output (doc_id, exact_dup_of, near_dup,
    state):
      - exact_dup_of: min stored doc id with identical content hash
        (NULL if none) → state 'exact_dup'
      - near_dup: TRUE iff the doc shares ≥1 LSH band with any stored
        doc (a left_semi EXISTENCE check — probe bytes track matched
        batch rows, never corpus collision multiplicity) → state
        'near_dup' when no exact hit
      - otherwise state 'new'.

    ``count_candidates=True`` is the opt-in DIAGNOSTIC: it swaps the
    near leg for the candidate-pair stream and reports
    ``n_near_candidates`` (distinct stored partners per doc). Its
    bytes grow with corpus collision density (4.72× per 3× corpus
    step measured at sf30), so it is not the hot-loop default — the
    ingest cycle admits on the state column only, which is identical
    between the modes (gated by ingest_decision_probe vs
    ingest_increment_pipeline)."""
    params = load_params(state_dir)
    return _probe(
        batch,
        content_hashes(batch),
        band_keys(batch, params=params),
        spark.read.parquet(f"{state_dir}/doc_hashes"),
        spark.read.parquet(f"{state_dir}/band_store"),
        count_candidates=count_candidates,
    )


def probe_batch_bucketed(
    spark: SparkSession,
    batch: DataFrame,
    table_prefix: str,
    params: LshParams | None = None,
    count_candidates: bool = False,
) -> DataFrame:
    """:func:`probe_batch` against the bucketed-table state layout
    (:func:`build_state_bucketed`): identical decisions, but the
    corpus-side scans report HashPartitioning from the bucket spec so
    neither probe join shuffles stored data. The store's persisted
    parameterization (band-store TBLPROPERTY, written by
    :func:`build_state_bucketed` / :func:`fold_state_bucketed`)
    always governs — passing ``params`` that CONFLICT with it raises
    instead of silently probing with mismatched bands (which would
    find zero candidates); tables from before the property existed
    fall back to the explicit/default params."""
    stored = load_table_params(spark, table_prefix)
    if stored is not None and params is not None and stored != params:
        raise ValueError(
            f"LSH params mismatch: bucketed store {table_prefix!r} was "
            f"built with {stored}, probe requested {params} — probing "
            "with different bands than the store holds finds nothing. "
            "Rebuild the store or drop the explicit params."
        )
    return _probe(
        batch,
        content_hashes(batch),
        band_keys(batch, params=stored or params or _DEFAULT_PARAMS),
        spark.table(f"{table_prefix}_doc_hashes"),
        spark.table(f"{table_prefix}_band_store"),
        count_candidates=count_candidates,
    )


def _probe(
    batch: DataFrame,
    batch_hashes: DataFrame,
    batch_bands: DataFrame,
    stored_hashes: DataFrame,
    stored_bands: DataFrame,
    count_candidates: bool = False,
) -> DataFrame:
    exact = (
        batch_hashes
        .join(
            stored_hashes.select(
                F.col("doc_id").alias("s_id"), "content_hash"
            ),
            on="content_hash",
        )
        .groupBy("doc_id")
        .agg(F.min("s_id").alias("exact_dup_of"))
    )
    base = batch.select("doc_id").join(exact, on="doc_id", how="left")
    if count_candidates:
        near = (
            incremental_lsh_candidates(stored_bands, batch_bands, "doc_id")
            .groupBy(F.col("new_id").alias("doc_id"))
            .agg(F.count(F.lit(1)).alias("n_near_candidates"))
        )
        return base.join(near, on="doc_id", how="left").select(
            "doc_id",
            "exact_dup_of",
            F.coalesce("n_near_candidates", F.lit(0)).cast("long").alias(
                "n_near_candidates"
            ),
            F.when(F.col("exact_dup_of").isNotNull(), F.lit("exact_dup"))
            .when(F.coalesce("n_near_candidates", F.lit(0)) > 0, F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("state"),
        )
    near_ids = incremental_near_dup_ids(stored_bands, batch_bands, "doc_id").select(
        F.col("new_id").alias("doc_id"), F.lit(True).alias("near_dup")
    )
    return base.join(near_ids, on="doc_id", how="left").select(
        "doc_id",
        "exact_dup_of",
        F.coalesce("near_dup", F.lit(False)).alias("near_dup"),
        F.when(F.col("exact_dup_of").isNotNull(), F.lit("exact_dup"))
        .when(F.coalesce("near_dup", F.lit(False)), F.lit("near_dup"))
        .otherwise(F.lit("new"))
        .alias("state"),
    )


_STATES = ("exact_dup", "near_dup", "new")


def ingest_batch(
    spark: SparkSession, batch: DataFrame, state_dir: str, dec_dir: str
) -> tuple[DataFrame, dict[str, int], int]:
    """One ingest cycle — the only path by which documents join the
    state store at ``state_dir``: probe ``batch`` against the store
    (decision-only :func:`probe_batch` semantics), write the
    per-document decisions to ``dec_dir`` (overwrite), then append the
    hashes and bands of the documents decided 'new', so the next probe
    sees them (re-probing the same batch flags each of them an exact
    dup of itself). Returns the written decisions (read back), the
    decision count per state, and the number of documents admitted.

    Pin before append: the probe reads the very state files the
    appends grow, so a recompute after an append would flip every
    admitted document to an exact dup of itself. The decision write is
    the one materialization — the appends select the admitted ids from
    the WRITTEN decisions, never from the live probe plan. The batch's
    band frame (the minhash pipeline, the expensive per-batch leg)
    feeds both the probe and the band append, so it is pinned once
    with ``localCheckpoint``; the hash frame is one md5 per row and
    stays lazy. Both read only the batch, never the state.

    The per-state counts ride the decision write and the admitted
    count rides the hash append as Observations, so neither costs a
    Spark job. A batch with no 'new' decision appends nothing: an
    empty append would still add one 0-row file to each leg of the
    store. A batch that decided 0 rows leaves schema-only files in
    ``dec_dir``."""
    bands = band_keys(batch, params=load_params(state_dir)).localCheckpoint(eager=True)
    hashes = content_hashes(batch)
    decisions = _probe(
        batch,
        hashes,
        bands,
        spark.read.parquet(f"{state_dir}/doc_hashes"),
        spark.read.parquet(f"{state_dir}/band_store"),
    )
    decided_obs = Observation()
    decisions.observe(
        decided_obs, *[F.count_if(F.col("state") == s).alias(s) for s in _STATES]
    ).write.mode("overwrite").parquet(dec_dir)
    decided = decided_obs.get
    # explicit schema: the files carry the probe's own schema by
    # construction, so the read skips the footer-sampling job
    written = spark.read.schema(decisions.schema).parquet(dec_dir)
    if not decided["new"]:
        return written, decided, 0
    new_ids = written.filter(F.col("state") == "new").select("doc_id")
    admitted_obs = Observation()
    hashes_out = hashes.join(new_ids, on="doc_id").observe(
        admitted_obs, F.count(F.lit(1)).alias("n")
    )
    _run_concurrently(
        lambda: hashes_out.write.mode("append").parquet(f"{state_dir}/doc_hashes"),
        lambda: bands.join(new_ids, on="doc_id")
        .write.mode("append")
        .parquet(f"{state_dir}/band_store"),
    )
    return written, decided, admitted_obs.get["n"]


def ingest_increment(
    spark: SparkSession,
    docs: DataFrame,
    state_dir: str,
    out_dir: str,
    batch_mod: int = 5,
    params: LshParams = _DEFAULT_PARAMS,
) -> tuple[DataFrame, dict[str, int], int]:
    """The composed job behind ``jobs ingest-increment``: mod-split
    ``docs`` into stored corpus and incoming batch, build the state
    store on first run (no ``state_dir/band_store``), then ingest the
    batch with :func:`ingest_batch`, writing its decisions to
    ``out_dir``. Returns :func:`ingest_batch`'s result.

    ``params`` applies only to a FIRST build; an existing store's
    persisted parameterization always wins (probing with different
    bands than the store holds would silently find nothing)."""
    batch_pred = F.col("doc_id") % batch_mod == 0
    fs, band_store = _hadoop_path(spark, f"{state_dir}/band_store")
    if not fs.exists(band_store):
        build_state(docs.filter(~batch_pred), state_dir, params=params)
    return ingest_batch(spark, docs.filter(batch_pred), state_dir, out_dir)


def compact_state(
    spark: SparkSession, state_dir: str, target_file_bytes: int = 128 * 1024 * 1024
) -> dict:
    """The MAINTENANCE verb for the ingest state store: under
    continuous ingest, every admitted batch appends a handful of
    small files to ``doc_hashes``/``band_store`` (in the batch's
    arriving partitioning), so the store degrades into
    snapshot+fragments — after months the probe scan is dominated by
    file-open overhead. Bin-pack both legs in place
    (operators/compaction.compact), sorting within files by the probe
    key (content_hash; band, band_key) so parquet min/max row-group
    stats stay selective after the fold. Content is preserved
    row-for-row, so probe decisions are IDENTICAL pre/post — gated by
    the ingest_state_maintenance query and
    tests/test_e2e_pipeline.py. The params sidecar is untouched. Unlike
    the rest of the store, this verb needs a local ``state_dir``: the
    in-place swap is a pair of ``os.rename`` calls
    (operators/compaction.compact)."""
    from ..operators.compaction import compact

    hashes_stats, band_stats = _run_concurrently(
        lambda: compact(
            spark,
            f"{state_dir}/doc_hashes",
            target_file_bytes,
            [F.col("content_hash")],
        ),
        lambda: compact(
            spark,
            f"{state_dir}/band_store",
            target_file_bytes,
            [F.col("band"), F.col("band_key")],
        ),
    )
    return {"doc_hashes": hashes_stats, "band_store": band_stats}


def _drop_table_and_orphan(spark: SparkSession, table: str) -> None:
    """DROP TABLE IF EXISTS, then purge an ORPHANED managed location: a
    killed earlier run can leave the warehouse directory on disk with no
    catalog entry, and ``saveAsTable`` then refuses with
    LOCATION_ALREADY_EXISTS. Only removes a local-filesystem path, and
    only after verifying the catalog really has no such table."""
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if spark.catalog.tableExists(table):
        return
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", ""))
    if wh.scheme in ("", "file") and wh.path:
        shutil.rmtree(os.path.join(wh.path, table.lower()), ignore_errors=True)


def fold_state_bucketed(
    spark: SparkSession, state_dir: str, table_prefix: str, n_buckets: int = 8
) -> None:
    """Fold the path-based state store into the bucketed-table layout
    WITHOUT recomputing — a pure shuffle-on-key rewrite of the
    persisted hashes/bands (the corpus is never re-shingled). The
    folded snapshot is what :func:`probe_batch_bucketed` reads with
    ZERO corpus-side Exchange; :func:`ingest_batch` itself probes and
    appends the path store only. Decisions are identical across the
    fold (same rows, different layout). The path store's ``lsh_params.json`` sidecar
    travels with the fold (band-store TBLPROPERTY), so the folded
    tables stay self-describing."""
    _write_bucketed(
        spark.read.parquet(f"{state_dir}/doc_hashes"),
        spark.read.parquet(f"{state_dir}/band_store"),
        table_prefix,
        n_buckets,
        load_params(state_dir),
    )
