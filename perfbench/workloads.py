"""The benchmark's workloads: ``enrich`` and ``queries``.

Each workload prepares seeded inputs, warms up once on its own copy of
them, then runs one pass of fixed work, each operation on a copy of
the inputs that no earlier operation touched, so that no timed
operation reuses a per-input memo an earlier one filled. Outputs are
checked after the timed window.
All calls into the program go through its public entry points:
``jobs.main``, ``plans.registry.all_queries``,
``plans.registry.REGISTRY[name].build``, ``session.get_spark`` and,
for the checks, ``plans.oracle_check``.
"""

from __future__ import annotations

import os
import re
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import inputs
from measure import Outcomes, fingerprint, median, parse_metric, tail
from spans import Span, Tracer, descendants


@dataclass
class Context:
    work: str  # this run's scratch directory
    seed: int
    tracer: Tracer
    gen: object  # tools/gen_sf.py
    spark: object = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class Op:
    id: str
    name: str
    span: Span
    phase_spans: dict = field(default_factory=dict)  # phase name -> Span
    info: dict = field(default_factory=dict)


@dataclass
class Pass:
    span: Span
    ops: list[Op]
    docs: int  # input documents the pass completes
    info: dict = field(default_factory=dict)


class CheckFailed(Exception):
    """An operation's output failed a check."""


def _guarded(outcomes: Outcomes, op_id: str, fn) -> None:
    """Run one timed operation; an exception (a guard exit included)
    fails the operation and the run goes on."""
    outcomes.attempt()
    try:
        fn()
    except Exception as exc:  # noqa: BLE001 — counted, the run continues
        traceback.print_exc()
        outcomes.fail(op_id, f"raised {type(exc).__name__}: {exc}")


def pass_tail(p: Pass):
    """The tail of the pass's operation times."""
    return tail([op.span.seconds for op in p.ops])


class Workload:
    name = ""

    def prepare(self, ctx: Context) -> None:
        """Generate inputs; runs before the session starts."""
        raise NotImplementedError

    def warmup(self, ctx: Context) -> None:
        raise NotImplementedError

    def run_pass(self, ctx: Context, outcomes: Outcomes) -> Pass:
        """The timed work of a run: the same fixed work on every run."""
        raise NotImplementedError

    def check(self, ctx: Context, p: Pass, outcomes: Outcomes) -> dict:
        """Check the outputs of the timed pass; returns what the result
        file should record."""
        raise NotImplementedError

    def end_to_end(self, p: Pass) -> dict[str, float]:
        return {
            "wall_s": p.span.seconds,
            "docs_per_s": p.docs / p.span.seconds,
            "op_p50_s": median([op.span.seconds for op in p.ops]),
            "op_tail_s": pass_tail(p).value,
        }

    def layer_metrics(self, p: Pass, sql: dict, spans: list[Span]) -> dict[str, float]:
        """Per-layer metrics of a traced run."""
        raise NotImplementedError


# ------------------------------------------------------------ REST helpers

_PYTHON_NODE = re.compile(r"InPandas|EvalPython|InArrow|PythonUDTF")
_WRITE_PATH = re.compile(r"InsertIntoHadoopFsRelationCommand\nInput: .*\nArguments: (\S+?),")


def _node_metric(node: dict, name: str) -> float:
    for m in node["metrics"]:
        if m["name"] == name:
            return parse_metric(m["value"])
    return 0.0


def subtree_counters(spans: list[Span], root: int, sql: dict) -> dict[str, float]:
    """Counters summed over the Spark work below span ``root``: scans,
    Python-UDF nodes and shuffle bytes."""
    out = dict.fromkeys(
        ("sources.scan_ms", "sources.files_read", "udfs.python_nodes", "udfs.python_rows",
         "udfs.python_s", "exchange.shuffle_read_mb", "exchange.shuffle_write_mb"), 0.0)
    for s in descendants(spans, root):
        if s.layer == "spark.sql":
            for node in sql[s.attrs["execution"]]["nodes"]:
                name = node["nodeName"]
                if name.startswith("Scan "):
                    out["sources.scan_ms"] += 1000.0 * _node_metric(node, "scan time")
                    out["sources.files_read"] += _node_metric(node, "number of files read")
                elif _PYTHON_NODE.search(name):
                    out["udfs.python_nodes"] += 1
                    out["udfs.python_rows"] += _node_metric(node, "number of output rows")
                    out["udfs.python_s"] += _node_metric(node, "time to run Python workers")
        elif s.layer == "spark.stage":
            out["exchange.shuffle_read_mb"] += s.attrs["shuffle_read"] / 1e6
            out["exchange.shuffle_write_mb"] += s.attrs["shuffle_write"] / 1e6
    return out


def _jobs_below(spans: list[Span], root: int) -> int:
    return sum(s.layer == "spark.job" for s in descendants(spans, root))


# ------------------------------------------------------------------ enrich

ENRICH_OUTPUTS = ("slices", "classified", "verdicts", "keywords", "keyword_links", "points")


class Enrich(Workload):
    """One operation is one ``jobs.main(["enrich", ...])`` over a seeded
    ``documents`` corpus; the pass is ``OPS`` operations, each on its own
    copy of the corpus. The JVM keeps warming for several operations
    after the warm-up; more, shorter operations give steadier medians
    than fewer, longer ones."""

    name = "enrich"
    DOCS = 1000
    OPS = 3

    def prepare(self, ctx):
        self.src = ctx.path("enrich", "src")
        inputs.generate_tables(ctx.gen, ctx.seed, self.DOCS / inputs.DOCS_PER_SF,
                               self.src, ["documents"])

    def _enrich(self, in_dir: str, out_dir: str) -> None:
        from welearn_datastack_spark import jobs

        jobs.main(["enrich", "--sf-dir", in_dir, "--out", out_dir])

    def warmup(self, ctx):
        d = inputs.copy_tables(self.src, ctx.path("enrich", "in-warmup"))
        self._enrich(d, ctx.path("enrich", "out-warmup"))

    def run_pass(self, ctx, outcomes):
        dirs = [inputs.copy_tables(self.src, ctx.path("enrich", f"in-{i}"))
                for i in range(self.OPS)]
        ops = []
        with ctx.tracer.span("pass", "bench") as ps:
            for i, d in enumerate(dirs):
                op_id = f"enrich#{i}"
                out = ctx.path("enrich", f"out-{i}")
                with ctx.tracer.span("pipeline.enrich", "pipeline") as s:
                    _guarded(outcomes, op_id, lambda: self._enrich(d, out))
                ops.append(Op(op_id, "enrich", s, info={"out": out}))
        return Pass(ps, ops, self.OPS * self.DOCS)

    def check(self, ctx, p, outcomes):
        reference = None
        for op in p.ops:
            if op.id in outcomes.failed_ops:
                continue
            try:
                prints, op.info["slices"] = self._check_outputs(op.info["out"])
            except (CheckFailed, OSError, pa.ArrowException) as exc:  # unreadable output fails too
                outcomes.fail(op.id, f"{type(exc).__name__}: {exc}")
                continue
            if reference is None:
                reference = prints
            elif prints != reference:
                outcomes.fail(op.id, f"fingerprints {prints} differ from {reference}")
        # equal across runs with the same seed
        return {"fingerprints": reference}

    @staticmethod
    def _check_outputs(out: str) -> tuple[dict, int]:
        """Check one operation's outputs; returns the fingerprint of
        each output directory and the number of slices."""
        def read(name, columns=None):
            return pq.read_table(os.path.join(out, name), columns=columns)

        slices = read("slices", ["document_id", "order_sequence"]).to_pydict()
        points = read("points", ["point_id", "vector"]).to_pydict()
        expect = {f"{d}:{s}" for d, s in zip(slices["document_id"], slices["order_sequence"])}
        ids = points["point_id"]
        if len(ids) != len(set(ids)):
            raise CheckFailed("duplicate point_id")
        if set(ids) != expect or len(ids) != len(slices["document_id"]):
            raise CheckFailed(f"{len(ids)} points for {len(slices['document_id'])} slices")
        norms = np.linalg.norm(np.asarray(points["vector"], dtype=np.float64), axis=1)
        if not np.all(np.abs(norms - 1.0) < 1e-3):
            raise CheckFailed(f"vector norms off unit: max |n-1| = {np.max(np.abs(norms - 1.0))}")
        keyword_ids = set(read("keywords", ["id"]).column("id").to_pylist())
        linked = set(read("keyword_links", ["keyword_id"]).column("keyword_id").to_pylist())
        if not linked <= keyword_ids:
            raise CheckFailed(f"{len(linked - keyword_ids)} keyword_ids missing from keywords")
        prints = {name: fingerprint(read(name).to_pylist()) for name in ENRICH_OUTPUTS}
        return prints, len(ids)

    def layer_metrics(self, p, sql, spans):
        out = subtree_counters(spans, p.span.id, sql)
        # one pass per Python stage: slicing and keyword extraction see
        # each document once; embedding and the two classifiers each see
        # each slice once
        out["udfs.python_rows_floor"] = sum(
            2 * self.DOCS + 3 * op.info.get("slices", 0) for op in p.ops)
        per_dir: dict[str, list[float]] = {name: [] for name in ENRICH_OUTPUTS}
        for op in p.ops:
            for s in descendants(spans, op.span.id):
                m = s.layer == "spark.sql" and _WRITE_PATH.search(
                    sql[s.attrs["execution"]]["planDescription"])
                if m and os.path.basename(m.group(1).rstrip("/")) in per_dir:
                    per_dir[os.path.basename(m.group(1).rstrip("/"))].append(s.seconds)
        for name, secs in per_dir.items():
            out[f"pipeline.enrich.{name}_s"] = median(secs) if secs else 0.0
        out["pipeline.enrich.jobs"] = median([_jobs_below(spans, op.span.id) for op in p.ops])
        return out


# ----------------------------------------------------------------- queries

# The 8 of the workload's 23 candidate queries with the largest
# driver-side build time (ROADMAP D2), measured in traced cold passes
# over all 23 at sf0.01 (perfbench/README.md has the table). They also
# launch ~122 of the 23 queries' ~157 eager jobs (guard probes and
# driver-loop collects, ROADMAP D3).
QUERIES = (
    "stream_ingest_probe",
    "ingest_state_maintenance",
    "snapshot_tail_read",
    "lsh_recall_corpus_midband",
    "ingest_increment_pipeline",
    "ivf_learned_topk",
    "minhash_lsh_candidates_sampled",
    "semantic_dedup_flags",
)
# The warm-up query: one of the 23, with a small build and not in the
# pass, so that every query of the pass runs cold.
WARMUP_QUERY = "latest_event"


class Queries(Workload):
    """The pass runs each of ``QUERIES`` once, built with its registry
    builder and forced with a noop sink, over seeded tables. The
    warm-up runs ``WARMUP_QUERY``, so the pass runs every one of its
    queries cold, as a single-shot ``jobs query`` run does. A cold
    pass is twice as long as a warm one, so it evens out more of a
    shared machine's short slowdowns per second of run."""

    name = "queries"
    SF = 0.01

    def prepare(self, ctx):
        self.src = ctx.path("queries", "src")
        inputs.generate_tables(ctx.gen, ctx.seed, self.SF, self.src)
        self.docs = pq.ParquetFile(os.path.join(self.src, "documents.parquet")).metadata.num_rows

    def _query(self, ctx, name: str, sf_dir: str, phases: dict):
        """Build ``name`` over ``sf_dir`` and force it with a noop sink;
        the build and sink spans land in ``phases``. Returns the
        DataFrame, for the check."""
        from welearn_datastack_spark.plans.registry import REGISTRY

        with ctx.tracer.span("plans.build", "plans", query=name) as phases["build"]:
            df = REGISTRY[name].build(ctx.spark, sf_dir)
        with ctx.tracer.span("plans.sink", "plans", query=name) as phases["sink"]:
            df.write.format("noop").mode("overwrite").save()
        return df

    def warmup(self, ctx):
        from welearn_datastack_spark.plans.registry import all_queries

        all_queries()  # imports every query group, so that each registers
        d = inputs.copy_tables(self.src, ctx.path("queries", "in-warmup"))
        self._query(ctx, WARMUP_QUERY, d, {})

    def run_pass(self, ctx, outcomes):
        d = inputs.copy_tables(self.src, ctx.path("queries", "in"))
        ops = []
        with ctx.tracer.span("pass", "bench") as ps:
            for name in QUERIES:
                with ctx.tracer.span("plans.query", "plans", query=name) as s:
                    op = Op(name, name, s)

                    def query():
                        op.info["df"] = self._query(ctx, name, d, op.phase_spans)

                    _guarded(outcomes, name, query)
                ops.append(op)
        return Pass(ps, ops, self.docs, info={"dir": d})

    def check(self, ctx, p, outcomes):
        """Each query's timed DataFrame against its DuckDB oracle (or
        for rows, where it has none) on the pass's tables, through
        ``check_query``. It checks the DataFrame the timed execution
        built, collected again, rather than a fresh build: a fresh build
        would repeat the build time, which is most of the pass. A
        mismatch fails the query's timed execution."""
        from dataclasses import replace

        from welearn_datastack_spark.plans.oracle_check import check_query, duckdb_conn
        from welearn_datastack_spark.plans.registry import REGISTRY

        d = p.info["dir"]
        con = duckdb_conn(d)
        try:
            for op in p.ops:
                if op.id in outcomes.failed_ops:
                    continue  # raised in the timed window; counted there
                timed = replace(REGISTRY[op.name], build=lambda spark, sf_dir, df=op.info["df"]: df)
                try:
                    issues = check_query(ctx.spark, timed, d, con)
                except Exception as exc:  # noqa: BLE001 — a failed check, counted
                    issues = [f"check raised {type(exc).__name__}: {exc}"]
                if issues:
                    outcomes.fail(op.id, "; ".join(issues))
        finally:
            con.close()
        return {}

    def layer_metrics(self, p, sql, spans):
        out = subtree_counters(spans, p.span.id, sql)
        totals = {"build_s": 0.0, "sink_s": 0.0, "eager_jobs": 0}
        for op in p.ops:
            b, s = op.phase_spans.get("build"), op.phase_spans.get("sink")
            vals = {
                "build_s": b.seconds if b else 0.0,
                "sink_s": s.seconds if s else 0.0,
                # jobs launched inside build(): guard probes and
                # driver-loop collects
                "eager_jobs": _jobs_below(spans, b.id) if b else 0,
            }
            for k, v in vals.items():
                totals[k] += v
                out[f"plans.{k}.{op.name}"] = v
        for k, v in totals.items():
            out[f"plans.{k}"] = v
        return out


WORKLOADS = {w.name: w for w in (Enrich, Queries)}
