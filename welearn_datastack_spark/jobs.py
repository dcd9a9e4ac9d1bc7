"""CLI entry points — run the engine as an application.

``python -m welearn_datastack_spark.jobs enrich --sf-dir D --out O``
runs the full enrichment pipeline (slice → embed → classify →
keywords → vector points) over the ``documents`` table and writes
each stage's output as parquet under O — the batch twin of the
reference's Argo-scheduled node chain, collapsed into one Spark
application (cron/Argo/Airflow schedules THIS instead of 10 pods).
As in the reference chain, each stage reads its predecessor's
written output: the write is the materialization, so no model runs
twice (see ``_enrich`` for the crash window). It ends with a one-line
JSON stage report: the rows written to each directory.

``... query --name Q --sf-dir D [--out O]`` runs any registered
query; without --out it prints 20 rows (exploration), with --out it
writes parquet (production). Every written-row count the jobs print
comes from an ``Observation`` on the write, not from reading the
output back.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _write_counted(df: DataFrame, path: str) -> int:
    """Writes ``df`` as parquet to ``path`` (overwrite) and returns the
    rows written, counted by an ``Observation`` on the write itself:
    no read-back job."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").parquet(path)
    return obs.get["rows"]


def _enrich(args: argparse.Namespace) -> None:
    """Enrichment chain over the ``documents`` table: six parquet
    directories under ``--out``, written in order — slices, classified,
    verdicts, keywords, keyword_links, points.

    The write is the materialization: every stage after ``slices``
    builds from the parquet this run has just written, never from the
    lazy frame that produced it, so slicing, embedding and both
    classifiers each run once per document or slice. ``classified``
    reads ``slices``; ``verdicts`` and ``points`` read ``classified``
    (and ``points`` also ``slices``). Keyword extraction does not feed
    a directory of its own, so its ``(document_id, keyword)`` rows are
    persisted and released after the ``keywords`` and ``keyword_links``
    writes. Both directories are written fresh, so ``link_keywords``
    builds them without stores: the distinct keywords and a projection
    of the extraction, with no MERGE against empty tables.

    Each write carries an ``Observation`` of its row count, so the
    closing stage report (one JSON line: rows written per directory)
    adds no Spark job.

    Crash window: a failure after write k leaves directories 1…k
    complete and the later ones stale (from an earlier run) or absent.
    Rerunning the job rewrites all six. A stage only reads a directory
    after its write has committed, and no stage reads the directory it
    writes, so an ``overwrite`` never races its own input."""
    from .functions.udfs import extract_keywords
    from .pipeline.classifier import classify_slices, document_verdicts
    from .pipeline.keywords import link_keywords
    from .pipeline.qdrant_sync import build_points, doc_top2_sdgs
    from .pipeline.vectorizer import vectorize
    from .session import get_spark
    from .sources.tables import load_table

    spark = get_spark("welearn-enrich")
    rows = {}
    docs = load_table(spark, args.sf_dir, "documents")
    doc_in = docs.select(
        F.col("doc_id").cast("string").alias("id"), F.col("text").alias("full_content")
    )
    slices = vectorize(doc_in, slice_length=args.slice_length)
    rows["slices"] = _write_counted(slices, f"{args.out}/slices")
    slices = spark.read.parquet(f"{args.out}/slices")

    # a parquet read makes every column nullable; order_sequence is a
    # posexplode position, never null, and the coalesce keeps
    # classified.slice_seq NOT NULL as written from the lazy slices
    slice_seq = F.coalesce("order_sequence", F.lit(0)).alias("slice_seq")
    classified = classify_slices(slices.select("document_id", slice_seq, "embedding"))
    rows["classified"] = _write_counted(classified.drop("embedding"), f"{args.out}/classified")
    classified = spark.read.parquet(f"{args.out}/classified")
    rows["verdicts"] = _write_counted(document_verdicts(classified), f"{args.out}/verdicts")

    spark_docs = docs.select(
        F.col("doc_id").cast("string").alias("document_id"), F.col("text").alias("description")
    )
    kws = extract_keywords(spark_docs, id_col="document_id", text_col="description").persist()
    try:
        dim, links = link_keywords(kws)
        rows["keywords"] = _write_counted(dim, f"{args.out}/keywords")
        rows["keyword_links"] = _write_counted(links, f"{args.out}/keyword_links")
    finally:
        kws.unpersist()

    meta = docs.select(
        F.col("doc_id").cast("string").alias("document_id"),
        F.lit(None).cast("string").alias("title"),
        F.lit(None).cast("string").alias("url"),
        "lang",
        F.col("source").alias("corpus"),
        F.lit("stub-64").alias("model_name"),
    )
    top2 = doc_top2_sdgs(classified.select("document_id", "sdg"))
    points = build_points(
        slices.join(
            classified.select(
                "document_id", F.col("slice_seq").alias("order_sequence"), "sdg"
            ),
            on=["document_id", "order_sequence"],
        ),
        meta,
        top2,
    )
    rows["points"] = _write_counted(points, f"{args.out}/points")
    print(f"enrich complete: {rows['points']} points written to {args.out}")
    print(json.dumps({"job": "enrich", "out": args.out, "rows_written": rows}))


def _curate(args: argparse.Namespace) -> None:
    """Training-data curation chain: drop exact duplicates, drop
    low-quality documents, apply per-language stratified keep rates,
    write the surviving corpus — the dedup→filter→mix export every
    LLM-data pipeline runs, composed from the registered operators."""
    from .operators.dedup import exact_dup_flags, hexint
    from .session import get_spark
    from .sources.tables import load_table

    spark = get_spark("welearn-curate")
    docs = load_table(spark, args.sf_dir, "documents")
    flags = exact_dup_flags(docs, "doc_id", "text")
    deduped = docs.join(flags, on="doc_id").filter(~F.col("is_dup")).drop("is_dup")
    words = F.size(F.regexp_extract_all("text", F.lit(r"\w+"), 0))
    quality_ok = deduped.filter(words >= args.min_words)
    keep = hexint(F.col("doc_id").cast("string")) % 100 < args.keep_pct
    curated = quality_ok.filter(keep)
    n_out = _write_counted(curated, args.out)
    n_in = docs.count()
    print(f"curate complete: {n_in} -> {n_out} documents ({args.out})")


def _ingest_increment(args: argparse.Namespace) -> None:
    """Incremental-ingest job: mod-split the documents table into the
    stored corpus and an incoming batch, build the persisted dedup
    state on first run, then run one ingest cycle
    (``pipeline.ingest_increment.ingest_batch``): probe the batch
    against the STATE (exact-hash + LSH band probes — the corpus is
    never re-shingled), write the per-document decisions to --out, and
    append the admitted documents' hashes and bands to --state. Run it
    twice against the same --state to see the idempotent shape: the
    second run admits nothing.

    The LSH knobs (--shingle-n/--n-hashes/--rows-per-band) apply to a
    FIRST build only; an existing store's persisted lsh_params.json
    always wins, so probes can never mismatch the stored bands. See
    pipeline.ingest_increment.LshParams for the candidate s-curve the
    knobs trace (defaults: 4 bands x 2 rows -> s50 = 0.5 Jaccard).

    It ends with a one-line JSON stage report: the decisions per state
    and the documents admitted, counted by the Observations on the
    decision write and the hash append."""
    from .pipeline.ingest_increment import (
        LshParams,
        ingest_increment,
        load_params,
        size_lsh_params,
    )
    from .session import get_spark
    from .sources.tables import load_table

    try:
        if args.target_s50 is not None:
            # recall-driven sizing: derive the banding from the threshold
            # (validated by the lsh_dedup_recall harness family)
            params = size_lsh_params(args.target_s50, shingle_n=args.shingle_n)
            print(
                f"sized for s50~{args.target_s50}: {params} "
                f"(realized s50={params.s50:.3f}, {params.n_bands} bands)"
            )
        else:
            params = LshParams(
                shingle_n=args.shingle_n,
                n_hashes=args.n_hashes,
                rows_per_band=args.rows_per_band,
            )
    except ValueError as e:
        sys.exit(f"ingest-increment: {e}")
    spark = get_spark("welearn-ingest-increment")
    docs = load_table(spark, args.sf_dir, "documents")
    _, decided, admitted = ingest_increment(
        spark, docs, args.state, out_dir=args.out, batch_mod=args.batch_mod,
        params=params,
    )
    eff = load_params(args.state)
    print(f"lsh params in effect: {eff} (s50={eff.s50:.3f})")
    print(f"ingest-increment complete: {decided} -> {args.out}")
    report = {"job": "ingest-increment", "out": args.out, "decisions": decided, "admitted": admitted}
    print(json.dumps(report))


def _compact(args: argparse.Namespace) -> None:
    """Maintenance job: bin-pack a fragmented parquet directory (the
    OPTIMIZE verb for the append-only state log)."""
    from .operators.compaction import compact
    from .session import get_spark

    spark = get_spark("welearn-compact")
    sort_by = [F.col(c) for c in args.sort_by.split(",")] if args.sort_by else None
    stats = compact(spark, args.path, args.target_mb * 1024 * 1024, sort_by)
    print(
        f"compacted {stats['n_files']} files ({stats['total_bytes']} bytes, "
        f"{stats['small_files']} under half-target) -> {stats['target_files']} files"
    )


def _query(args: argparse.Namespace) -> None:
    from .plans.registry import REGISTRY, _load_groups
    from .session import get_spark

    _load_groups()
    if args.name not in REGISTRY:
        sys.exit(f"unknown query {args.name!r}; known: {', '.join(sorted(REGISTRY))}")
    spark = get_spark(f"welearn-query-{args.name}")
    df = REGISTRY[args.name].build(spark, args.sf_dir)
    if args.out:
        print(f"wrote {_write_counted(df, args.out)} rows to {args.out}")
    else:
        df.show(20, truncate=80)


def _at_least_one(text: str) -> int:
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {n}")
    return n


def _percent(text: str) -> int:
    n = int(text)
    if not 0 <= n <= 100:
        raise argparse.ArgumentTypeError(f"must be within 0..100, got {n}")
    return n


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="welearn_datastack_spark.jobs")
    sub = p.add_subparsers(dest="cmd", required=True)

    e = sub.add_parser("enrich", help="full enrichment pipeline over the documents table")
    e.add_argument("--sf-dir", required=True)
    e.add_argument("--out", required=True)
    e.add_argument("--slice-length", type=_at_least_one, default=20)
    e.set_defaults(fn=_enrich)

    c = sub.add_parser("curate", help="dedup + quality-filter + sample the documents table")
    c.add_argument("--sf-dir", required=True)
    c.add_argument("--out", required=True)
    c.add_argument("--min-words", type=int, default=10)
    c.add_argument("--keep-pct", type=_percent, default=100)
    c.set_defaults(fn=_curate)

    ii = sub.add_parser(
        "ingest-increment",
        help="probe an incoming batch against persisted dedup state and admit new docs",
    )
    ii.add_argument("--sf-dir", required=True)
    ii.add_argument("--state", required=True, help="dedup state store directory")
    ii.add_argument("--out", required=True, help="per-document decisions parquet")
    ii.add_argument("--batch-mod", type=_at_least_one, default=5)
    ii.add_argument("--shingle-n", type=int, default=3,
                    help="word-shingle width (first build only)")
    ii.add_argument("--n-hashes", type=int, default=8,
                    help="minhash signature length (first build only)")
    ii.add_argument("--rows-per-band", type=int, default=2,
                    help="LSH rows per band; bands = n_hashes/rows (first build only)")
    ii.add_argument("--target-s50", type=float, default=None,
                    help="size the banding from a Jaccard threshold instead: "
                    "pick (n_hashes, rows_per_band) whose candidate s-curve "
                    "crosses 50%% nearest this similarity (overrides "
                    "--n-hashes/--rows-per-band; first build only)")
    ii.set_defaults(fn=_ingest_increment)

    k = sub.add_parser("compact", help="bin-pack a fragmented parquet directory in place")
    k.add_argument("--path", required=True)
    k.add_argument("--target-mb", type=int, default=128)
    k.add_argument("--sort-by", help="comma-separated columns for within-file clustering")
    k.set_defaults(fn=_compact)

    q = sub.add_parser("query", help="run one registered query")
    q.add_argument("--name", required=True)
    q.add_argument("--sf-dir", required=True)
    q.add_argument("--out")
    q.set_defaults(fn=_query)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
