"""Full-pipeline integration test over the real synthetic tables:
documents → slices → embeddings → classification → keywords →
vector-store points, all stages chained, all stub models — the
Spark analog of running every reference node back-to-back."""

from __future__ import annotations

import json

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from welearn_datastack_spark import jobs
from welearn_datastack_spark.pipeline.classifier import classify_slices, document_verdicts
from welearn_datastack_spark.pipeline.keywords import extract_and_link
from welearn_datastack_spark.pipeline.qdrant_sync import (
    build_points,
    doc_top2_sdgs,
    route_collections,
    sync,
)
from welearn_datastack_spark.pipeline.vectorizer import vectorize
from welearn_datastack_spark.sources.tables import load_table


def test_full_enrichment_chain(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(60)
    n_docs = docs.count()

    # vectorize: slice + embed
    slices = vectorize(
        docs.select(F.col("doc_id").cast("string").alias("id"), F.col("text").alias("full_content")),
        slice_length=12,
    )
    assert slices.count() >= n_docs  # every doc yields ≥1 slice
    assert slices.select("document_id").distinct().count() == n_docs
    one = slices.first()
    assert abs(np.linalg.norm(np.array(one["embedding"])) - 1.0) < 1e-5

    # classify
    classified = classify_slices(
        slices.select("document_id", F.col("order_sequence").alias("slice_seq"), "embedding")
    )
    verdicts = document_verdicts(classified)
    assert verdicts.count() == n_docs

    # keywords
    dim, links = extract_and_link(
        docs.select(F.col("doc_id").cast("string").alias("document_id"), F.col("text").alias("description")),
        spark.createDataFrame([], "keyword string, id string"),
        spark.createDataFrame([], "document_id string, keyword_id string"),
    )
    assert links.select("document_id").distinct().count() == n_docs
    # dictionary ids are deterministic → re-extraction is a no-op
    dim2, _ = extract_and_link(
        docs.select(F.col("doc_id").cast("string").alias("document_id"), F.col("text").alias("description")),
        dim,
        links,
    )
    assert dim2.count() == dim.count()

    # vector-store sync: route, top-2, points, overwrite
    doc_meta = docs.select(
        F.col("doc_id").cast("string").alias("document_id"),
        F.lit("t").alias("title"),
        F.lit("https://x").alias("url"),
        "lang",
        F.col("source").alias("corpus"),
        F.lit("model-a").alias("model_name"),
    )
    collections = spark.createDataFrame(
        [("en", "model-a", "c_en"), ("multi", "model-a", "c_multi")],
        ["lang", "model_name", "collection"],
    )
    routed = route_collections(doc_meta, collections)
    assert routed.filter(F.col("target_collection").isNull()).count() == 0

    top2 = doc_top2_sdgs(classified.select("document_id", "sdg"))
    points = build_points(
        slices.select("document_id", "order_sequence", "body", "embedding").join(
            classified.select(
                "document_id", F.col("slice_seq").alias("order_sequence"), "sdg"
            ),
            on=["document_id", "order_sequence"],
        ),
        doc_meta,
        top2,
    )
    n_points = points.count()
    assert n_points == slices.count()

    store = sync(points.limit(0), points.select("point_id", "document_id", "vector", "payload"))
    assert store.count() == n_points
    # re-sync is idempotent
    again = sync(store, points.select("point_id", "document_id", "vector", "payload"))
    assert again.count() == n_points


ENRICH_OUTPUTS = ("slices", "classified", "verdicts", "keywords", "keyword_links", "points")


def _lazy_enrich_chain(spark, sf_dir):
    """The six ``jobs enrich`` outputs as the stage functions chained
    lazily, each write re-deriving its whole lineage."""
    docs = load_table(spark, sf_dir, "documents")
    slices = vectorize(
        docs.select(F.col("doc_id").cast("string").alias("id"), F.col("text").alias("full_content")),
        slice_length=20,
    )
    classified = classify_slices(
        slices.select("document_id", F.col("order_sequence").alias("slice_seq"), "embedding")
    )
    dim, links = extract_and_link(
        docs.select(F.col("doc_id").cast("string").alias("document_id"), F.col("text").alias("description")),
        spark.createDataFrame([], "keyword string, id string"),
        spark.createDataFrame([], "document_id string, keyword_id string"),
    )
    meta = docs.select(
        F.col("doc_id").cast("string").alias("document_id"),
        F.lit(None).cast("string").alias("title"),
        F.lit(None).cast("string").alias("url"),
        "lang",
        F.col("source").alias("corpus"),
        F.lit("stub-64").alias("model_name"),
    )
    points = build_points(
        slices.join(
            classified.select("document_id", F.col("slice_seq").alias("order_sequence"), "sdg"),
            on=["document_id", "order_sequence"],
        ),
        meta,
        doc_top2_sdgs(classified.select("document_id", "sdg")),
    )
    return {
        "slices": slices,
        "classified": classified.drop("embedding"),
        "verdicts": document_verdicts(classified),
        "keywords": dim,
        "keyword_links": links,
        "points": points,
    }


def _read_outputs(out):
    """Per output directory: (Arrow schema, sorted canonical rows)."""
    tables = {name: pq.read_table(f"{out}/{name}") for name in ENRICH_OUTPUTS}
    return {
        name: (t.schema.remove_metadata(),
               sorted(json.dumps(r, sort_keys=True) for r in t.to_pylist()))
        for name, t in tables.items()
    }


def test_jobs_enrich_matches_lazy_chain_and_reruns_identically(spark, sf_dir, tmp_path):
    """``jobs enrich`` builds each stage from its predecessor's written
    parquet; every output must hold the same rows (as a multiset) with
    the same Arrow schema as the stage functions chained lazily. A
    second run into the same --out (the overwrite/replay window)
    must leave every directory identical to the first run's."""
    ref = tmp_path / "lazy"
    for name, df in _lazy_enrich_chain(spark, sf_dir).items():
        df.write.parquet(str(ref / name))
    expected = _read_outputs(ref)
    assert all(rows for _, rows in expected.values())

    out = str(tmp_path / "enrich")
    # jobs.main's get_spark() applies the job's runtime confs to the
    # shared test session; put the fixture's shuffle partitions back
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        jobs.main(["enrich", "--sf-dir", sf_dir, "--out", out])
        first = _read_outputs(out)
        jobs.main(["enrich", "--sf-dir", sf_dir, "--out", out])
        second = _read_outputs(out)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", partitions)

    for name in ENRICH_OUTPUTS:
        assert first[name][0] == expected[name][0], (name, first[name][0], expected[name][0])
        assert first[name][1] == expected[name][1], name
        assert second[name] == first[name], name


def _run_job(spark, argv, capsys):
    """``jobs.main(argv)``; returns its stdout lines. jobs.main's
    get_spark() applies the job's runtime confs to the shared test
    session, so the fixture's shuffle partitions are put back."""
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    capsys.readouterr()
    try:
        jobs.main(argv)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
    return capsys.readouterr().out.splitlines()


def test_jobs_enrich_stage_report_counts_written_rows(spark, sf_dir, tmp_path, capsys):
    """The closing JSON line reports the rows written to each output
    (counted by Observations on the writes); each count equals the
    rows read back from its directory."""
    out = str(tmp_path / "enrich")
    lines = _run_job(spark, ["enrich", "--sf-dir", sf_dir, "--out", out], capsys)
    report = json.loads(lines[-1])
    assert report["job"] == "enrich" and report["out"] == out
    rows = report["rows_written"]
    assert list(rows) == list(ENRICH_OUTPUTS)
    for name in ENRICH_OUTPUTS:
        assert rows[name] == pq.read_table(f"{out}/{name}").num_rows > 0, name
    assert lines[-2] == f"enrich complete: {rows['points']} points written to {out}"


def test_jobs_curate_prints_observed_row_count(spark, sf_dir, tmp_path, capsys):
    n_docs = load_table(spark, sf_dir, "documents").count()
    for keep_pct in ("100", "0"):
        out = str(tmp_path / f"curate{keep_pct}")
        lines = _run_job(
            spark, ["curate", "--sf-dir", sf_dir, "--out", out, "--keep-pct", keep_pct], capsys
        )
        n_out = pq.read_table(out).num_rows
        assert lines == [f"curate complete: {n_docs} -> {n_out} documents ({out})"]
        assert (n_out > 0) == (keep_pct == "100")


def test_jobs_query_out_prints_observed_row_count(spark, sf_dir, tmp_path, capsys):
    out = str(tmp_path / "query")
    argv = ["query", "--name", "semi_join_recent_customers", "--sf-dir", sf_dir, "--out", out]
    lines = _run_job(spark, argv, capsys)
    n_out = pq.read_table(out).num_rows
    assert n_out > 0
    assert lines[-1] == f"wrote {n_out} rows to {out}"


def test_ingest_increment_end_to_end(spark, sf_dir, tmp_path):
    """The incremental-ingest cycle: state build → probe → decisions →
    admission, with the two structural guarantees a production ingest
    needs — (a) probe cost scales with |batch| (the stored corpus is a
    plain parquet scan of pre-computed state, never re-shingled), (b)
    admitting a batch transitions state so a re-probe of the same
    batch flags every doc an exact duplicate. After ``ingest_batch``
    the store must hold exactly the hashes and bands of corpus ∪
    admitted docs, computed directly from their text."""
    from welearn_datastack_spark.pipeline.ingest_increment import (
        band_keys,
        build_state,
        content_hashes,
        ingest_batch,
        ingest_increment,
        probe_batch,
    )

    docs = load_table(spark, sf_dir, "documents")
    batch_pred = F.col("doc_id") % 5 == 0
    state = str(tmp_path / "state")

    build_state(docs.filter(~batch_pred), state)
    batch = docs.filter(batch_pred)
    decisions = probe_batch(spark, batch, state)

    # (a) plan shape: the probe reads the PERSISTED state (band_store
    # + doc_hashes parquet — identified by their ReadSchemas, which
    # survive the toString path truncation) and tokenizes text only on
    # the batch side — the stored corpus is never re-shingled
    plan = decisions._jdf.queryExecution().executedPlan().toString()
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert any("band:int,band_key:string" in ln for ln in schemas), schemas
    assert any("content_hash:string" in ln for ln in schemas), schemas
    text_scans = [ln for ln in schemas if "text:string" in ln]
    # exactly two text scans: the batch's content-hash leg + its
    # shingle leg — a third would mean the corpus side re-reads text
    assert len(text_scans) == 2, text_scans
    # both text scans carry the batch's mod-5 residual — stated by the
    # lone Filter ancestor pattern: no text scan without the batch cut
    assert plan.count("% 5) = 0") >= 2, plan[:2000]
    rows = decisions.collect()
    got = {r["doc_id"]: r for r in rows}
    assert set(got) == {r["doc_id"] for r in batch.select("doc_id").collect()}
    states = {r["state"] for r in rows}
    assert states <= {"exact_dup", "near_dup", "new"}
    # decisions are internally consistent
    for r in rows:
        if r["state"] == "exact_dup":
            assert r["exact_dup_of"] is not None and r["exact_dup_of"] % 5 != 0
        elif r["state"] == "near_dup":
            assert r["exact_dup_of"] is None and r["near_dup"]
        else:
            assert r["exact_dup_of"] is None

    # (b) the ingest cycle writes the same decisions it probed, counts
    # them per state, and admits the NEW docs into the state
    key = lambda r: (r["doc_id"], r["exact_dup_of"], r["near_dup"], r["state"])
    written, decided, admitted = ingest_batch(spark, batch, state, str(tmp_path / "dec"))
    assert sorted(map(key, written.collect())) == sorted(map(key, rows))
    assert decided == {s: sum(r["state"] == s for r in rows) for s in ("exact_dup", "near_dup", "new")}
    new_ids = [d for d, r in got.items() if r["state"] == "new"]
    assert admitted == len(new_ids) > 0

    # the store holds exactly corpus ∪ admitted, hashed directly
    stored = docs.filter(~batch_pred | F.col("doc_id").isin(new_ids))
    for leg, expected in (("doc_hashes", content_hashes(stored)), ("band_store", band_keys(stored))):
        assert sorted(map(tuple, spark.read.parquet(f"{state}/{leg}").collect())) == sorted(
            map(tuple, expected.collect())
        ), leg

    # re-probing the SAME batch now finds each former-new doc as an
    # exact dup of itself (its hash is in the store)
    reprobe = {r["doc_id"]: r for r in probe_batch(spark, batch, state).collect()}
    for doc_id in new_ids:
        assert reprobe[doc_id]["state"] == "exact_dup"
        assert reprobe[doc_id]["exact_dup_of"] == doc_id

    # the one-call composed job over a fresh state dir matches the
    # step-by-step decisions
    state2 = str(tmp_path / "state2")
    out = str(tmp_path / "out")
    ingest_increment(spark, docs, state2, out, batch_mod=5)
    assert {(r["doc_id"], r["state"]) for r in spark.read.parquet(out).collect()} == {
        (r["doc_id"], r["state"]) for r in rows
    }


def test_ingest_params_persisted_with_state(spark, sf_dir, tmp_path):
    """The LSH parameterization is a property of the STATE STORE:
    build_state persists it, probe_batch/ingest_batch read it back, and a later ingest_increment call passing DIFFERENT params
    must be overruled by the store's own (probing a store with
    mismatched bands would silently find nothing)."""
    from welearn_datastack_spark.pipeline.ingest_increment import (
        LshParams,
        build_state,
        ingest_increment,
        load_params,
        probe_batch,
    )

    docs = load_table(spark, sf_dir, "documents")
    batch_pred = F.col("doc_id") % 5 == 0
    state = str(tmp_path / "state")
    custom = LshParams(shingle_n=2, n_hashes=12, rows_per_band=3)
    assert custom.n_bands == 4 and abs(custom.s50 - 0.25 ** (1 / 3)) < 1e-9
    build_state(docs.filter(~batch_pred), state, params=custom)
    assert load_params(state) == custom

    # the probe picks the persisted params up: its band leg must use
    # 12 hashes (the wide minhash agg emits one _mh<seed> column per
    # seed since the r16 rewrite — _mh11 present, _mh12 absent)
    probe = probe_batch(spark, docs.filter(batch_pred), state)
    plan = probe._jdf.queryExecution().analyzed().toString()
    assert "_mh11" in plan and "_mh12" not in plan, plan[:3000]

    # a composed call against the EXISTING store with conflicting
    # params: the store's persisted parameterization wins
    ingest_increment(
        spark, docs, state, str(tmp_path / "out"), batch_mod=5,
        params=LshParams(n_hashes=4),
    )
    assert load_params(state) == custom

    # the store stays self-consistent: re-probing the same batch after
    # its admission flags every former-new doc as its own exact dup
    reprobe = probe_batch(spark, docs.filter(batch_pred), state)
    assert reprobe.filter(F.col("state") == "new").count() == 0


def test_stream_ingest_probe_exactly_once(spark, sf_dir, tmp_path):
    """The streaming drop-folder ingest: two arrivals processed by two
    checkpointed availableNow invocations, then a third invocation
    with NO new files — which must decide nothing (exactly-once file
    tracking). Phase-B decisions must see phase-A admissions."""
    import glob
    import shutil

    from welearn_datastack_spark.pipeline.ingest_increment import build_state
    from welearn_datastack_spark.streaming.state_machine import stream_ingest_probe

    docs = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id") % 5
    work = str(tmp_path)
    build_state(docs.filter(m.isin(1, 2, 3)), f"{work}/state")
    src = f"{work}/incoming"

    def land(df, name):
        df.coalesce(1).write.mode("overwrite").parquet(f"{work}/tmp_{name}")
        part = glob.glob(f"{work}/tmp_{name}/part-*.parquet")[0]
        import os

        os.makedirs(src, exist_ok=True)
        shutil.copy(part, f"{src}/{name}.parquet")

    land(docs.filter(m == 4), "a")
    stream_ingest_probe(spark, src, f"{work}/state", f"{work}/ckpt", f"{work}/out")
    n_a = spark.read.parquet(f"{work}/out").count()
    assert n_a == docs.filter(m == 4).count()

    land(docs.filter(m == 0), "b")
    stream_ingest_probe(spark, src, f"{work}/state", f"{work}/ckpt", f"{work}/out")
    out = spark.read.parquet(f"{work}/out")
    assert out.count() == docs.filter(m.isin(0, 4)).count()

    # a B doc whose content hash matches an ADMITTED (state=new) A doc
    # must be flagged exact_dup — phase B saw phase A's transitions
    rows = {r["doc_id"]: r for r in out.collect()}
    from welearn_datastack_spark.pipeline.ingest_increment import content_hashes

    ch = {r["doc_id"]: r["content_hash"] for r in content_hashes(docs).collect()}
    admitted_a = {
        d for d, r in rows.items() if d % 5 == 4 and r["state"] == "new"
    }
    admitted_hashes = {ch[d] for d in admitted_a}
    corpus_hashes = {
        r["doc_id"]: r["content_hash"]
        for r in content_hashes(docs.filter(m.isin(1, 2, 3))).collect()
    }
    cross = [
        d
        for d in rows
        if d % 5 == 0
        and ch[d] in admitted_hashes
        and ch[d] not in corpus_hashes.values()
    ]
    for d in cross:
        assert rows[d]["state"] == "exact_dup", (d, rows[d])

    # third invocation, no new files: the checkpoint remembers both
    # consumed files — nothing is re-decided, the log does not grow
    stream_ingest_probe(spark, src, f"{work}/state", f"{work}/ckpt", f"{work}/out")
    assert spark.read.parquet(f"{work}/out").count() == out.count()


def test_stream_ingest_probe_empty_batch_leaves_nothing(spark, sf_dir, tmp_path):
    """A landed 0-row parquet file runs as a micro-batch whose
    decision directory is written and then deleted through the Hadoop
    FileSystem: no batch_id=N directory remains, and the state store
    does not grow."""
    import glob
    import os
    import shutil

    from welearn_datastack_spark.pipeline.ingest_increment import build_state
    from welearn_datastack_spark.streaming.state_machine import stream_ingest_probe

    docs = load_table(spark, sf_dir, "documents")
    work = str(tmp_path)
    state = f"{work}/state"
    build_state(docs.filter(F.col("doc_id") % 5 == 1), state)

    def state_snapshot():
        return {
            part: (
                spark.read.parquet(f"{state}/{part}").count(),
                sorted(glob.glob(f"{state}/{part}/*.parquet")),
            )
            for part in ("doc_hashes", "band_store")
        }

    before = state_snapshot()
    docs.limit(0).coalesce(1).write.parquet(f"{work}/tmp_empty")
    (part,) = glob.glob(f"{work}/tmp_empty/part-*.parquet")
    src = f"{work}/incoming"
    os.makedirs(src)
    shutil.copy(part, f"{src}/empty.parquet")

    stream_ingest_probe(spark, src, state, f"{work}/ckpt", f"{work}/out")
    # the batch ran and committed (so its write-then-delete happened)
    assert os.path.exists(f"{work}/ckpt/commits/0")
    assert glob.glob(f"{work}/out/batch_id=*") == []
    assert state_snapshot() == before


def test_state_maintenance_cycle_equivalence(spark, sf_dir, tmp_path):
    """The full maintenance cycle: ingest appends fragments -> compact
    folds them -> fold_state_bucketed rewrites into bucketed tables.
    Decisions must be IDENTICAL at every layout stage, the fold must
    actually shrink the file count, and the bucketed re-fold must
    probe the corpus side with zero corpus Exchange — the same
    discipline snapshot_tail_read proved for the state log, applied
    to the dedup state store."""
    from welearn_datastack_spark.pipeline.ingest_increment import (
        build_state,
        compact_state,
        fold_state_bucketed,
        ingest_batch,
        load_params,
        probe_batch,
        probe_batch_bucketed,
    )

    docs = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id") % 5
    state = str(tmp_path / "state")
    build_state(docs.filter(m.isin(1, 2, 3)), state)

    ingest_batch(spark, docs.filter(m == 4), state, str(tmp_path / "dec_a"))

    key = lambda r: (r["doc_id"], r["exact_dup_of"], r["near_dup"], r["state"])
    batch_b = docs.filter(m == 0)
    before = sorted(map(key, probe_batch(spark, batch_b, state).collect()))

    import glob

    n_before = len(glob.glob(f"{state}/band_store/part-*.parquet"))
    compact_state(spark, state)
    n_after = len(glob.glob(f"{state}/band_store/part-*.parquet"))
    assert n_after < n_before, (n_before, n_after)
    # the params sidecar survives the fold
    assert load_params(state).n_hashes == 8

    after = sorted(map(key, probe_batch(spark, batch_b, state).collect()))
    assert after == before

    # bucketed re-fold from the PERSISTED state (no recompute) probes
    # shuffle-free on the corpus side and decides identically
    fold_state_bucketed(spark, state, "maint_fold_test", n_buckets=8)
    try:
        saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            bucketed = probe_batch_bucketed(spark, batch_b, "maint_fold_test")
            plan = bucketed._jdf.queryExecution().executedPlan().toString()
            path_x = probe_batch(spark, batch_b, state)
            path_plan = path_x._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        assert "SelectedBucketsCount" in plan
        # the two stored-side exchanges disappear relative to the path store
        assert (
            plan.count("Exchange hashpartitioning")
            == path_plan.count("Exchange hashpartitioning") - 2
        )
        assert sorted(map(key, bucketed.collect())) == before
    finally:
        spark.sql("DROP TABLE IF EXISTS maint_fold_test_doc_hashes")
        spark.sql("DROP TABLE IF EXISTS maint_fold_test_band_store")


def test_ingest_increment_state_on_file_uri(spark, sf_dir, tmp_path):
    """A ``file://`` state URI goes through the Hadoop FileSystem of
    its scheme for the first-run check and the params sidecar: the
    first run builds the store with the custom params, the second finds
    it, keeps those params over conflicting ones, and admits nothing —
    each doc admitted by the first run is now its own exact dup, and
    the near dups (never admitted) stay near dups."""
    from welearn_datastack_spark.pipeline.ingest_increment import (
        LshParams,
        ingest_increment,
        load_params,
    )

    docs = load_table(spark, sf_dir, "documents")
    state = (tmp_path / "state").as_uri()
    custom = LshParams(shingle_n=2, n_hashes=12, rows_per_band=3)
    key = lambda r: (r["doc_id"], r["exact_dup_of"], r["state"])

    first, decided, admitted = ingest_increment(spark, docs, state, str(tmp_path / "out1"), params=custom)
    assert load_params(state) == custom
    assert admitted == decided["new"] > 0
    first = sorted(map(key, first.collect()))

    second, decided, admitted = ingest_increment(spark, docs, state, str(tmp_path / "out2"))
    assert load_params(state) == custom
    assert admitted == decided["new"] == 0
    assert sorted(map(key, second.collect())) == [
        (d, d, "exact_dup") if s == "new" else (d, of, s) for d, of, s in first
    ]


def test_jobs_ingest_increment_stage_report_counts_written_rows(spark, sf_dir, tmp_path, capsys):
    """The closing JSON line of ``jobs ingest-increment`` reports the
    decisions per state and the documents admitted (counted by
    Observations on the decision write and the hash append); each count
    equals the rows read back. A second run against the same --state
    admits nothing and adds no (empty) file to the store."""
    import glob

    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    argv = ["ingest-increment", "--sf-dir", sf_dir, "--state", state, "--out", out]
    n_corpus = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 != 0).count()
    admitted, state_files = [], []
    for _ in range(2):
        report = json.loads(_run_job(spark, argv, capsys)[-1])
        assert report["job"] == "ingest-increment" and report["out"] == out
        written = [r["state"] for r in pq.read_table(out).to_pylist()]
        assert report["decisions"] == {
            s: written.count(s) for s in ("exact_dup", "near_dup", "new")
        }
        admitted.append(report["admitted"])
        assert pq.read_table(f"{state}/doc_hashes").num_rows == n_corpus + sum(admitted)
        state_files.append(sorted(glob.glob(f"{state}/*/*.parquet")))
    assert admitted[0] > 0 and admitted[1] == 0
    assert state_files[1] == state_files[0]


def test_decision_log_legacy_flat_layout_raises(tmp_path):
    """A pre-batch_id flat decision log must be rejected before the
    first micro-batch — mixing flat part-files with batch_id=N
    subdirectories breaks partition discovery for every reader."""
    from welearn_datastack_spark.streaming.state_machine import (
        _check_decision_log_layout,
    )

    out = tmp_path / "out"
    out.mkdir()
    (out / "part-00000-legacy.snappy.parquet").write_bytes(b"PAR1")
    with pytest.raises(RuntimeError, match="legacy flat"):
        _check_decision_log_layout(str(out))
    # the partitioned layout (and an empty dir) pass
    (out / "part-00000-legacy.snappy.parquet").unlink()
    (out / "batch_id=0").mkdir()
    _check_decision_log_layout(str(out))
    _check_decision_log_layout(str(tmp_path / "missing"))


def test_decision_log_counting_schema_raises(spark, tmp_path):
    """A decision log written by the counting-probe era
    (n_near_candidates) must be rejected too: mixing it with
    decision-only batches (near_dup) makes parquet schema resolution
    silently null one column for every reader."""
    from welearn_datastack_spark.streaming.state_machine import (
        _check_decision_log_layout,
    )

    out = tmp_path / "out"
    legacy = spark.createDataFrame(
        [(1, None, 2, "near_dup")],
        "doc_id long, exact_dup_of long, n_near_candidates long, state string",
    )
    legacy.coalesce(1).write.parquet(str(out / "batch_id=0"))
    with pytest.raises(RuntimeError, match="counting-probe schema"):
        _check_decision_log_layout(str(out))
    # the current decision schema passes
    import shutil

    shutil.rmtree(out)
    current = spark.createDataFrame(
        [(1, None, True, "near_dup")],
        "doc_id long, exact_dup_of long, near_dup boolean, state string",
    )
    current.coalesce(1).write.parquet(str(out / "batch_id=0"))
    _check_decision_log_layout(str(out))


def test_bucketed_store_params_roundtrip_and_conflict(spark, sf_dir):
    """The bucketed store is self-describing: build persists the LSH
    params as a band-store TBLPROPERTY, probe reads them back, and a
    conflicting explicit parameterization raises instead of silently
    probing with mismatched bands (which finds zero candidates)."""
    from welearn_datastack_spark.pipeline.ingest_increment import (
        LshParams,
        build_state_bucketed,
        load_table_params,
        probe_batch_bucketed,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 200
    )
    params = LshParams(shingle_n=2, n_hashes=12, rows_per_band=3)
    prefix = "params_roundtrip_test"
    build_state_bucketed(docs.filter(F.col("doc_id") % 5 != 0), prefix, params=params)
    try:
        assert load_table_params(spark, prefix) == params
        batch = docs.filter(F.col("doc_id") % 5 == 0)
        # no explicit params: the persisted ones govern
        dec = probe_batch_bucketed(spark, batch, prefix)
        assert dec.count() == batch.count()
        # matching explicit params are fine
        probe_batch_bucketed(spark, batch, prefix, params=params)
        with pytest.raises(ValueError, match="LSH params mismatch"):
            probe_batch_bucketed(spark, batch, prefix, params=LshParams())
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_doc_hashes")
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_band_store")


def test_size_lsh_params_solves_the_s_curve():
    """The sizing helper inverts s50 = (1/b)^(1/r): known anchors map
    back exactly, the realized s50 lands near any target, more
    permissive targets never cost more hashes than stricter ones, and
    impossible targets fail loudly."""
    from welearn_datastack_spark.pipeline.ingest_increment import (
        LshParams,
        size_lsh_params,
    )

    # the production default is the 0.5 anchor: 4 bands x 2 rows
    assert size_lsh_params(0.5) == LshParams(3, 8, 2)
    # the documented second parameterization: 8 bands x 2 rows
    p = size_lsh_params(0.35)
    assert (p.n_hashes, p.rows_per_band) == (16, 2)
    assert abs(p.s50 - 0.35) < 0.01
    # realized s50 tracks the target across the range
    for t in (0.2, 0.3, 0.4, 0.6, 0.7, 0.8):
        got = size_lsh_params(t, max_hashes=256)
        assert abs(got.s50 - t) < 0.05, (t, got)
    # lower threshold (more recall) needs at least as many hashes
    assert size_lsh_params(0.3, max_hashes=256).n_hashes >= size_lsh_params(
        0.6, max_hashes=256
    ).n_hashes
    import pytest as _pytest

    with _pytest.raises(ValueError):
        size_lsh_params(0.05, max_hashes=8)  # unreachable in budget
    with _pytest.raises(ValueError):
        size_lsh_params(1.5)


def test_wide_banding_raises_mid_similarity_recall(spark):
    """The sizing helper's promise, validated empirically: moving
    from the default (b=4, r=2; s50~0.5) to the 0.35-target sizing
    (b=8, r=2; s50~0.354) must catch MORE mid-similarity pairs.
    Structurally, band k is built from seeds (rk .. rk+r-1), so the
    wide banding's first 4 bands ARE the default's bands — its
    candidate set is a superset by construction; the extra 4 bands
    buy the extra recall. Synthetic pairs near Jaccard ~0.35 (where
    the default's s-curve gives ~0.4 hit rate and the wide one ~0.65)
    make the gap deterministic and visible."""
    from welearn_datastack_spark.operators.dedup import (
        lsh_band_keys,
        lsh_candidates,
        minhash_signatures,
        word_shingles,
    )

    rows = []
    for i in range(60):
        base = [f"w{i}_{j}" for j in range(30)]
        # partner shares a prefix: trigram-shingle Jaccard lands in
        # the 0.3-0.45 band (shared shingles / union)
        partner = base[:16] + [f"x{i}_{j}" for j in range(14)]
        rows.append((2 * i, " ".join(base)))
        rows.append((2 * i + 1, " ".join(partner)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = word_shingles(docs, "doc_id", "text", n=3)
    true_pairs = {(2 * i, 2 * i + 1) for i in range(60)}

    def caught(n_hashes: int) -> set:
        sigs = minhash_signatures(sh, "doc_id", n_hashes=n_hashes)
        cand = lsh_candidates(
            lsh_band_keys(sigs, "doc_id", rows_per_band=2), "doc_id"
        )
        got = {(r["a_id"], r["b_id"]) for r in cand.collect()}
        return got & true_pairs

    default_caught = caught(8)
    wide_caught = caught(16)
    # superset by construction (shared leading bands) ...
    assert default_caught <= wide_caught
    # ... and the extra bands genuinely move mid-band recall
    assert len(wide_caught) > len(default_caught), (
        len(default_caught), len(wide_caught),
    )
    print(
        f"mid-band recall: default {len(default_caught)}/60, "
        f"wide {len(wide_caught)}/60"
    )


def test_decision_probe_matches_counting_probe(spark, sf_dir, tmp_path):
    """The decision-only probe (production default: left_semi band
    existence) and the counting diagnostic must yield IDENTICAL
    (doc_id, exact_dup_of, state) decisions — only the near leg's
    evidence differs (near_dup boolean vs partner multiplicity). The
    decision plan must actually BE a semi join: no candidate-pair
    aggregation may survive in it."""
    from welearn_datastack_spark.pipeline.ingest_increment import (
        build_state,
        probe_batch,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    state = str(tmp_path / "state")
    build_state(docs.filter(F.col("doc_id") % 5 != 0), state)
    batch = docs.filter(F.col("doc_id") % 5 == 0)

    decision = probe_batch(spark, batch, state)
    counting = probe_batch(spark, batch, state, count_candidates=True)

    plan = decision._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan[:1500]

    key = lambda r: (r["doc_id"], r["exact_dup_of"], r["state"])
    d = sorted(key(r) for r in decision.collect())
    c = sorted(key(r) for r in counting.collect())
    assert d == c
    # and the boolean agrees with the count
    nd = {r["doc_id"]: r["near_dup"] for r in decision.collect()}
    for r in counting.collect():
        assert nd[r["doc_id"]] == (r["n_near_candidates"] > 0), r


def test_fold_state_bucketed_carries_params(spark, sf_dir, tmp_path):
    """fold_state_bucketed moves the path store's lsh_params.json
    sidecar into the folded tables' TBLPROPERTY, so a later
    probe_batch_bucketed can never default-mismatch a non-default
    store (the exact failure the sidecar exists to prevent)."""
    from welearn_datastack_spark.pipeline.ingest_increment import (
        LshParams,
        build_state,
        fold_state_bucketed,
        load_table_params,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 100
    )
    params = LshParams(shingle_n=3, n_hashes=16, rows_per_band=4)
    state = str(tmp_path / "state")
    build_state(docs, state, params=params)
    prefix = "params_fold_test"
    fold_state_bucketed(spark, state, prefix)
    try:
        assert load_table_params(spark, prefix) == params
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_doc_hashes")
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_band_store")


def test_decision_log_partial_migration_raises(spark, tmp_path):
    """A MIXED decision log — one batch written by the counting era,
    one by the decision era — must be rejected no matter which batch
    the directory glob happens to order first. The round-10 guard
    sampled only the first glob hit, so a partially-migrated log
    passed whenever that hit was new-schema."""
    from welearn_datastack_spark.streaming.state_machine import (
        _check_decision_log_layout,
    )

    out = tmp_path / "out"
    current = spark.createDataFrame(
        [(1, None, True, "near_dup")],
        "doc_id long, exact_dup_of long, near_dup boolean, state string",
    )
    # batch_id=0 sorts FIRST: the old single-sample guard would read
    # it, see the new schema, and wave the mixed log through
    current.coalesce(1).write.parquet(str(out / "batch_id=0"))
    legacy = spark.createDataFrame(
        [(2, None, 3, "near_dup")],
        "doc_id long, exact_dup_of long, n_near_candidates long, state string",
    )
    legacy.coalesce(1).write.parquet(str(out / "batch_id=1"))
    with pytest.raises(RuntimeError, match="counting-probe schema"):
        _check_decision_log_layout(str(out))
    # all-new-schema multi-batch log passes
    import shutil

    shutil.rmtree(out / "batch_id=1")
    current.coalesce(1).write.parquet(str(out / "batch_id=1"))
    _check_decision_log_layout(str(out))


def test_stream_near_leg_is_decision_only(spark, sf_dir, tmp_path, monkeypatch):
    """The STREAM's per-micro-batch probe must ride the decision-only
    path: _probe (the probe inside ingest_batch) called with
    count_candidates falsey, LeftSemi in the executed decision plan,
    and no counting-era candidate
    aggregation (n_near_candidates) anywhere in it. §21.4 proved the
    BATCH probe's bytes linear; this pins that the streaming wrapper
    cannot silently regress onto the counting leg whose bytes grow
    with corpus collision density (4.72x per 3x at sf30)."""
    import glob
    import os
    import shutil

    import welearn_datastack_spark.pipeline.ingest_increment as inc
    from welearn_datastack_spark.sources.tables import load_table
    from welearn_datastack_spark.streaming.state_machine import stream_ingest_probe

    captured: dict = {}
    real = inc._probe

    def spy(*frames, count_candidates=False):
        d = real(*frames, count_candidates=count_candidates)
        captured["count_candidates"] = count_candidates
        captured["plan"] = d._jdf.queryExecution().executedPlan().toString()
        return d

    monkeypatch.setattr(inc, "_probe", spy)

    docs = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id") % 5
    work = str(tmp_path)
    inc.build_state(docs.filter(m.isin(1, 2, 3)), f"{work}/state")
    src = f"{work}/incoming"
    docs.filter(m == 4).coalesce(1).write.mode("overwrite").parquet(f"{work}/tmp_a")
    os.makedirs(src, exist_ok=True)
    shutil.copy(glob.glob(f"{work}/tmp_a/part-*.parquet")[0], f"{src}/a.parquet")

    stream_ingest_probe(spark, src, f"{work}/state", f"{work}/ckpt", f"{work}/out")

    assert captured, "stream never reached _probe"
    assert not captured["count_candidates"]
    assert "LeftSemi" in captured["plan"], captured["plan"][:1500]
    assert "n_near_candidates" not in captured["plan"]


# SCALE.md §22.5 explains the stream probe's steep sf1→sf3 byte rung
# (5.05x for 3x data) as a broadcast→exchange plan transition: at sf1
# the stored state side fits under the broadcast threshold so the
# semi-join leg pays no shuffle; by sf3 it is a real exchange. This
# pins that mechanism: the SAME probe plan rides BroadcastHashJoin
# when the state side is under the threshold and a shuffle join once
# it is not — so a future change that made the probe super-linear
# could no longer hide behind the "plan transition" sentence.


def test_stream_probe_first_rung_is_broadcast_to_exchange_transition(spark, sf_dir):
    from welearn_datastack_spark.operators.dedup import (
        incremental_near_dup_ids,
        lsh_band_keys,
        minhash_signatures,
        word_shingles,
    )
    from welearn_datastack_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")

    def bands(d):
        return lsh_band_keys(
            minhash_signatures(word_shingles(d, "doc_id", "text", n=3), "doc_id", 8),
            "doc_id",
            rows_per_band=2,
        )

    stored = bands(docs.filter(F.col("doc_id") % 5 != 4))
    new = bands(docs.filter(F.col("doc_id") % 5 == 4))

    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )

    def executed_plan(threshold):
        old = {k: spark.conf.get(k, None) for k in keys}
        try:
            for k in keys:
                spark.conf.set(k, threshold)
            d = incremental_near_dup_ids(stored, new, "doc_id")
            d.write.format("noop").mode("overwrite").save()
            return d._jdf.queryExecution().executedPlan().toString()
        finally:
            for k, v in old.items():
                spark.conf.set(k, v) if v is not None else spark.conf.unset(k)

    # sf1 regime: state side under the threshold → broadcast semi leg
    small = executed_plan("10485760b")
    assert "BroadcastHashJoin" in small and "LeftSemi" in small, small[:1500]
    # sf3+ regime: no broadcast eligibility → the semi leg is a real
    # exchange-backed join (the byte rung §22.5 measured)
    big = executed_plan("-1")
    assert "LeftSemi" in big, big[:1500]
    assert "BroadcastHashJoin" not in big, big[:1500]
    assert "SortMergeJoin" in big or "ShuffledHashJoin" in big, big[:1500]
