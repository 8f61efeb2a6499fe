"""The two request mixes and their verifiers.

A request is one call into the program plus the action that makes it
do its work; its latency is timed around exactly that. Verification
runs after the timer stops, on every request, and a request that raises
or returns a wrong result counts as failed.

- ``Analytics``: registry queries over the driver's sf0.01 star schema
  and LLM corpora (``perfbench/data/sf0.01``, the deterministic tables
  the repository's oracle tests use), each as ``spec.fn(spark, sf)``
  followed by ``collect()``, in a seed-permuted order;
  the collected rows are checked against the query's DuckDB oracle
  (rows-only queries against invariants recomputed from the input).
- ``Ingest``: one LASER/TRACE study submission (validate + chunk, the
  chunked-text sink, TRACE validation, job descriptors), then a
  streaming upsert over parquet event files, one request per trigger;
  checked against the generator's by-construction expectations.
"""

from __future__ import annotations

import glob
import gzip
import json
import os
import shutil
import time
import traceback
from dataclasses import dataclass, field
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen


@dataclass
class Request:
    kind: str
    seconds: float
    ok: bool = True
    error: str = ""
    phases: dict = field(default_factory=dict)  # sub-timings, e.g. fn / action
    counters: dict = field(default_factory=dict)  # Spark deltas (traced pass)


@dataclass
class Pass:
    seconds: float
    requests: list[Request]
    extra: dict = field(default_factory=dict)


class Ctx(SimpleNamespace):
    """What a pass needs: spark, tracer, counters (or None), pass_id."""


def _timed(ctx, req: Request, fn, phase: str | None = None):
    """Run ``fn`` as (part of) a request; record Spark deltas if traced."""
    if ctx.counters is not None:
        ctx.counters.mark()
    t0 = time.perf_counter()
    try:
        return fn()
    finally:
        dt = time.perf_counter() - t0
        req.seconds += dt
        if phase:
            req.phases[phase] = dt
        if ctx.counters is not None:
            for k, v in ctx.counters.delta().items():
                req.counters[k] = req.counters.get(k, 0.0) + v


def _fail(req: Request, why: str) -> None:
    req.ok = False
    req.error = req.error or why


# --- analytics -------------------------------------------------------------------

STAR_QUERIES = [
    "q_product_profit",  # six-way join over broadcast dimensions, per-year profit
    "q_waiting_suppliers",  # EXISTS / NOT EXISTS decorrelation, fact self-joins
    "q_bucketed_fact_join",  # the warehouse's bucketed lineitem x orders join
]
LLM_QUERIES = [
    "q_dedup_ngram_jaccard",  # shingle pair self-join
    "q_ann_lsh_prod",  # LSH similarity search through an Arrow kernel
    "q_bm25_search",  # tokenise + ranked text search
]
ANN_K = 5  # neighbours per vector in q_ann_lsh_prod
# the driver's deterministic sf0.01 tables, shipped with the benchmark
STAR_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


class _OracleCache:
    """Duck-typed DuckDB connection for ``testing.compare_query`` that
    evaluates each oracle once and replays the frame."""

    def __init__(self, con) -> None:
        self._con = con
        self._frames: dict[str, pd.DataFrame] = {}

    def sql(self, query: str):
        if query not in self._frames:
            self._frames[query] = self._con.sql(query).df()
        frame = self._frames[query]
        return SimpleNamespace(df=lambda: frame)


class Analytics:
    name = "analytics"
    queries = STAR_QUERIES + LLM_QUERIES

    def __init__(self, work: str, seed: int) -> None:
        self.sf = STAR_DIR
        self.order_rng = np.random.default_rng([seed, 10])
        self.embeddings: np.ndarray | None = None

    def generate(self) -> None:
        """The tables are fixed; the seed permutes the query order."""
        emb = pq.read_table(os.path.join(self.sf, "embeddings.parquet")).to_pandas()
        self.embeddings = np.stack(emb["embedding"].to_numpy()).astype(np.float64)

    def setup(self, spark, tracer) -> None:
        """The per-session part of set-up: registry load, bucketed facts."""
        with tracer.span("registry.load"):
            from laser_hadoop_spark import registry

            registry.specs()
        from laser_hadoop_spark.warehouse import ensure_bucketed_facts

        with tracer.span("warehouse.ensure_bucketed_facts"):
            ensure_bucketed_facts(spark, self.sf)

    def prepare(self) -> None:
        """Evaluate every oracle once, outside any timed region."""
        from laser_hadoop_spark import registry
        from laser_hadoop_spark.testing import duckdb_connect

        self.oracle = _OracleCache(duckdb_connect(self.sf))
        for q in self.queries:
            sql = registry.get(q).oracle
            if sql is not None:
                self.oracle.sql(sql)

    def run_pass(self, ctx) -> Pass:
        from laser_hadoop_spark import registry
        from laser_hadoop_spark.session import release_persisted

        order = [self.queries[i] for i in self.order_rng.permutation(len(self.queries))]
        reqs: list[Request] = []
        t0 = time.perf_counter()
        for q in order:
            spec = registry.get(q)
            req = Request(q, 0.0)
            ctx.tracer.request = f"{ctx.pass_id}/{q}"
            df = rows = None
            try:
                with ctx.tracer.span("request", kind=q):
                    with ctx.tracer.span("queries.fn"):
                        df = _timed(ctx, req, lambda: spec.fn(ctx.spark, self.sf), "fn")
                    with ctx.tracer.span("queries.action"):
                        rows = _timed(ctx, req, df.collect, "action")
            except Exception:  # noqa: BLE001 - a failed request is counted, not fatal
                _fail(req, traceback.format_exc(limit=3))
            ctx.tracer.request = None
            pause = time.perf_counter()
            if req.ok:
                self.verify(ctx, spec, df, rows, req)
            release_persisted(ctx.spark)
            t0 += time.perf_counter() - pause  # verification is not pass time
            reqs.append(req)
        return Pass(time.perf_counter() - t0, reqs)

    def verify(self, ctx, spec, df, rows, req: Request) -> None:
        """Compare the request's own collected rows with the oracle."""
        from laser_hadoop_spark.testing import compare_query

        try:
            if spec.oracle is None:
                frame = pd.DataFrame([r.asDict() for r in rows], columns=df.columns)
                problems = ann_problems(frame, self.embeddings, ANN_K)
                if problems:
                    _fail(req, "; ".join(problems))
                return
            result = SimpleNamespace(
                collect=lambda: rows, columns=df.columns, schema=df.schema
            )
            res = compare_query(
                ctx.spark, self.oracle, spec.name, lambda *_: result, spec.oracle, self.sf
            )
            if not res.ok:
                _fail(req, "; ".join(res.mismatches))
        except Exception:  # noqa: BLE001
            _fail(req, "verify: " + traceback.format_exc(limit=3))


def ann_problems(rows: pd.DataFrame, emb: np.ndarray, k: int) -> list[str]:
    """Structural check of an approximate top-k neighbour result: ids
    valid and distinct, at most k per query vector, ranks 1..m in
    descending score, and every score the true cosine (micro units)."""
    problems = []
    if rows.empty:
        return ["no neighbour rows"]
    a, b = rows["id_a"].to_numpy(), rows["id_b"].to_numpy()
    n = len(emb)
    if (a < 0).any() or (a >= n).any() or (b < 0).any() or (b >= n).any():
        return ["neighbour id out of range"]
    if (a == b).any():
        problems.append("self pair")
    unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    true = np.rint(1e6 * np.einsum("ij,ij->i", unit[a], unit[b]))
    if (np.abs(true - rows["cosine_micro"].to_numpy()) > 1).any():
        problems.append("cosine_micro differs from the true cosine")
    for _, g in rows.sort_values(["id_a", "rnk"]).groupby("id_a"):
        if len(g) > k or list(g["rnk"]) != list(range(1, len(g) + 1)):
            problems.append(f"bad ranks for id_a={g['id_a'].iat[0]}")
            break
        if (np.diff(g["cosine_micro"].to_numpy()) > 0).any():
            problems.append(f"ranks not by score for id_a={g['id_a'].iat[0]}")
            break
        if g["id_b"].duplicated().any():
            problems.append(f"duplicate neighbour for id_a={g['id_a'].iat[0]}")
            break
    return problems


# --- ingest ----------------------------------------------------------------------

STREAM_FILES = 2
STREAM_ROWS_PER_FILE = 20_000
STREAM_SCHEMA = "event_id bigint, ts timestamp, key bigint, value double"


class Ingest:
    name = "ingest"

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed

    def generate(self) -> None:
        self.study = gen.write_study(os.path.join(self.work, "study"), self.seed, 0)
        self.events_dir = os.path.join(self.work, "events")
        self.expected = gen.write_events(
            self.events_dir, self.seed, STREAM_FILES, STREAM_ROWS_PER_FILE
        )

    def setup(self, spark, tracer) -> None:
        pass

    def prepare(self) -> None:
        pass

    def run_pass(self, ctx) -> Pass:
        out = os.path.join(self.work, f"out-{ctx.pass_id}")
        os.makedirs(out)
        extra = {"verify_s": 0.0, "sink_bytes_written": 0, "seq_bytes": 0}
        t0 = time.perf_counter()
        reqs = self._submission(ctx, out, extra)
        reqs += self._stream(ctx, out, extra)
        seconds = time.perf_counter() - t0 - extra["verify_s"]
        shutil.rmtree(out, ignore_errors=True)
        return Pass(seconds, reqs, extra)

    # one study submission: four requests -------------------------------------

    def _submission(self, ctx, out: str, extra: dict) -> list[Request]:
        from pyspark.sql import functions as F

        from laser_hadoop_spark.plans import pipeline as P
        from laser_hadoop_spark.sources import sinks

        spark, st, p = ctx.spark, self.study, self.study.paths
        reqs: list[Request] = []

        def step(kind: str, fn, check):
            req = Request(kind, 0.0)
            reqs.append(req)
            ctx.tracer.request = f"{ctx.pass_id}/{kind}"
            try:
                with ctx.tracer.span("request", kind=kind):
                    with ctx.tracer.span(kind):
                        result = _timed(ctx, req, fn)
            except Exception:  # noqa: BLE001
                _fail(req, traceback.format_exc(limit=3))
                return None
            finally:
                ctx.tracer.request = None
            t = time.perf_counter()
            problems = check(result)
            if problems:
                _fail(req, "; ".join(problems))
            extra["verify_s"] += time.perf_counter() - t
            return result

        res = step(
            "plans.laser_validate_and_chunk",
            lambda: P.laser_validate_and_chunk(
                spark,
                seq_path=p["seq"],
                site_path=p["site"],
                groups_path=p["groups"],
                reference_site_path=p["ref_site"],
                chunk_size=gen.CHUNK_SIZE,
            ),
            lambda r: laser_problems(r, st),
        )
        chunks_dir = os.path.join(out, "chunks")
        if res is not None:
            triple = lambda s: F.array(  # noqa: E731
                *[s[f].cast("bigint").cast("string") for f in ("v1", "v2", "v3")]
            )
            lines = res.chunked_seq.select(
                F.concat_ws(
                    " ",
                    "pop_id",
                    "ind_id",
                    F.array_join(F.flatten(F.transform("loci", triple)), " "),
                ).alias("value"),
                "ind_id",
            )
            n = step(
                "sinks.write_chunked_text",
                lambda: sinks.write_chunked_text(
                    lines, chunks_dir, order_col="ind_id", chunk_size=gen.CHUNK_SIZE
                ),
                lambda n: chunk_problems(n, chunks_dir, st),
            )
            if n is not None:
                extra["sink_bytes_written"] = dir_bytes(chunks_dir)
                extra["seq_bytes"] = os.path.getsize(p["seq"])
        tv = step(
            "plans.trace_validate",
            lambda: P.trace_validate(
                spark,
                vcf_paths=[p["vcf1"], p["vcf2"]],
                groups_path=p["groups"],
                reference_site_path=p["ref_site"],
            ),
            lambda r: trace_problems(r, st),
        )
        step(
            "plans.trace_job_descriptors",
            lambda: P.trace_job_descriptors(
                spark,
                n_individuals=tv.individuals if tv is not None else st.individuals,
                batch_size=gen.DESCRIPTOR_BATCH,
                reference="panel.site.gz",
                study_vcf="study.vcf.gz",
                reference_pc="panel.pc",
            ).collect(),
            lambda rows: descriptor_problems(rows, st),
        )
        return reqs

    # streaming upsert: one request per trigger ---------------------------------

    def _stream(self, ctx, out: str, extra: dict) -> list[Request]:
        from laser_hadoop_spark.streaming import ops

        spark = ctx.spark
        base = os.path.join(out, "upsert")
        src = (
            spark.readStream.schema(STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.events_dir)
        )
        agg = ops.tumbling_counts(
            src, key_col="key", width=f"{gen.STREAM_WINDOW_S} seconds", delay=gen.STREAM_DELAY
        )
        ctx.tracer.request = f"{ctx.pass_id}/stream"
        if ctx.counters is not None:
            ctx.counters.mark()
        failure = ""
        with ctx.tracer.span("request", kind="streaming.query"):
            with ctx.tracer.span("streaming.query"):
                try:
                    q = ops.start_upsert_sink(
                        agg,
                        spark,
                        base_dir=base,
                        keys=["window_start", "key"],
                        checkpoint_dir=os.path.join(out, "ckpt"),
                    )
                    try:
                        q.awaitTermination()
                    finally:
                        q.stop()
                    progress = list(q.recentProgress)
                except Exception:  # noqa: BLE001
                    failure, progress = traceback.format_exc(limit=3), []
        ctx.tracer.request = None
        counters = ctx.counters.delta() if ctx.counters is not None else {}
        t_verify = time.perf_counter()
        reqs = []
        for p in progress:
            d = p.get("durationMs") or {}
            ops_ = p.get("stateOperators") or []
            reqs.append(
                Request(
                    "streaming.trigger",
                    d.get("triggerExecution", 0) / 1000.0,
                    phases={
                        "add_batch": d.get("addBatch", 0) / 1000.0,
                        "state_commit": sum(o.get("commitTimeMs", 0) for o in ops_) / 1000.0,
                        "state_rows": max((o.get("numRowsTotal", 0) for o in ops_), default=0),
                        "input_rows": p.get("numInputRows", 0),
                    },
                )
            )
        if counters and reqs:  # spread the query's Spark work over its triggers
            for r in reqs:
                r.counters = {k: v / len(reqs) for k, v in counters.items()}
        if failure or not reqs:
            reqs.append(Request("streaming.trigger", 0.0))
            _fail(reqs[-1], failure or "stream made no progress")
        else:
            got = pq.read_table(base).to_pandas() if os.path.isdir(base) else pd.DataFrame()
            problems = stream_problems(got, self.expected)
            rows_in = sum(r.phases["input_rows"] for r in reqs)
            if rows_in != STREAM_FILES * STREAM_ROWS_PER_FILE + 1:
                problems.append(f"stream read {rows_in} rows")
            if problems:
                _fail(reqs[-1], "; ".join(problems))  # the trigger that left the table
        extra["verify_s"] += time.perf_counter() - t_verify
        return reqs


# --- ingest verifiers (pure functions of the outputs) -----------------------------


def laser_problems(r, st: gen.Study) -> list[str]:
    want = {
        "individuals": st.individuals,
        "total_sites": st.loci,
        "shared_sites": st.shared,
        "n_chunks": st.n_chunks,
    }
    return [
        f"{k}={getattr(r, k)} expected {v}" for k, v in want.items() if getattr(r, k) != v
    ]


def trace_problems(r, st: gen.Study) -> list[str]:
    want = {"individuals": st.individuals, "total_loci": st.loci, "shared_loci": st.shared}
    return [
        f"{k}={getattr(r, k)} expected {v}" for k, v in want.items() if getattr(r, k) != v
    ]


def chunk_problems(n: int, chunks_dir: str, st: gen.Study) -> list[str]:
    """Chunk k holds exactly the seq lines of individuals
    [k*CHUNK_SIZE, (k+1)*CHUNK_SIZE), as written, gzip-compressed."""
    problems = [] if n == st.n_chunks else [f"{n} chunks, expected {st.n_chunks}"]
    for k in range(st.n_chunks):
        files = glob.glob(os.path.join(chunks_dir, f"chunk={k}", "*.gz"))
        got: list[str] = []
        for f in files:
            with gzip.open(f, "rt") as fh:
                got += fh.read().splitlines()
        want = st.seq_lines[k * gen.CHUNK_SIZE : (k + 1) * gen.CHUNK_SIZE]
        if sorted(got) != sorted(want):
            problems.append(f"chunk {k}: {len(got)} lines differ from the study")
            break
    return problems


def descriptor_problems(rows, st: gen.Study) -> list[str]:
    """Both job kinds tile individuals 1..n in DESCRIPTOR_BATCH batches."""
    if len(rows) != st.n_descriptors:
        return [f"{len(rows)} descriptors, expected {st.n_descriptors}"]
    n, b = st.individuals, gen.DESCRIPTOR_BATCH
    want = [(s, min(s + b - 1, n)) for s in range(1, n + 1, b)]
    problems = []
    for kind in ("vcf2geno", "study_pca"):
        got = sorted((r["start_ind"], r["end_ind"]) for r in rows if r["kind"] == kind)
        if got != want:
            problems.append(f"{kind} batches {got[:3]}... do not tile 1..{n}")
        for r in rows:
            if r["kind"] == kind:
                payload = json.loads(r["payload"])
                if (payload["start"], payload["end"]) != (r["start_ind"], r["end_ind"]):
                    problems.append(f"{kind} payload range differs from its row")
                    break
    return problems


def stream_problems(got: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """The upsert table equals the batch group-by over the same input."""
    cols = ["window_start", "key", "n_events", "sum_value"]
    if got.empty or list(sorted(got.columns)) != sorted(cols):
        return [f"upsert table columns {list(got.columns)}"]

    def norm(df: pd.DataFrame) -> pd.DataFrame:
        ws = pd.to_datetime(df["window_start"])
        if ws.dt.tz is not None:
            ws = ws.dt.tz_convert("UTC").dt.tz_localize(None)
        return (
            pd.DataFrame(
                {
                    "window_start": ws.astype("datetime64[us]").astype("int64"),
                    "key": df["key"].astype("int64"),
                    "n_events": df["n_events"].astype("int64"),
                    "sum_value": df["sum_value"].astype("float64"),
                }
            )
            .sort_values(["window_start", "key"])
            .reset_index(drop=True)
        )

    g, e = norm(got), norm(expected)
    if len(g) != len(e):
        return [f"upsert table has {len(g)} rows, expected {len(e)}"]
    if not g.equals(e):
        bad = (g != e).any(axis=1)
        return [f"{int(bad.sum())} (window, key) rows differ, first {g[bad].head(1).to_dict('records')}"]
    return []


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


WORKLOADS = {"analytics": Analytics, "ingest": Ingest}
