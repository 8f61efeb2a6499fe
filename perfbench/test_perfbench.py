"""The benchmark's own tests: ``python -m pytest perfbench -q``.

They check the benchmark, not the engine: generator determinism, the
tail-percentile rule, that every metric the benchmark can print is
declared in BENCHMARK.json, and that the verifiers reject wrong
results. No Spark session is started.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


# --- generator -------------------------------------------------------------------


def test_analytics_order_is_a_seeded_permutation():
    def order(seed):
        wl = workloads.Analytics("unused", seed)
        return [wl.queries[i] for i in wl.order_rng.permutation(len(wl.queries))]

    assert order(3) == order(3)
    assert sorted(order(3)) == sorted(workloads.Analytics.queries)
    assert any(order(3) != order(s) for s in range(4, 8))


def test_shipped_tables_cover_every_table_the_oracles_read():
    from laser_hadoop_spark.tables import TABLE_NAMES

    for name in TABLE_NAMES:
        assert os.path.isfile(os.path.join(workloads.STAR_DIR, f"{name}.parquet")), name


def test_ingest_files_deterministic_per_seed(tmp_path):
    for run_dir in ("a", "b"):
        gen.write_study(str(tmp_path / run_dir / "study"), 5, 0)
        gen.write_events(str(tmp_path / run_dir / "events"), 5, 3, 100)
    gen.write_study(str(tmp_path / "c" / "study"), 6, 0)
    a, b, c = (_digest(str(tmp_path / d / "study")) for d in "abc")
    assert a == b and a != c
    assert _digest(str(tmp_path / "a" / "events")) == _digest(str(tmp_path / "b" / "events"))


def test_study_expectations_by_construction(tmp_path):
    st = gen.write_study(str(tmp_path), 7, 0)
    assert st.shared > 100  # the reference's shared-loci gate must pass
    assert st.n_chunks == -(-st.individuals // gen.CHUNK_SIZE)
    assert len(st.seq_lines) == st.individuals
    assert all(len(line.split()) == 2 + 3 * st.loci for line in st.seq_lines)


def test_stream_expectation_is_the_batch_group_by(tmp_path):
    exp = gen.write_events(str(tmp_path), 9, 3, 500)
    assert exp["n_events"].sum() == 3 * 500
    frames = [pd.read_parquet(tmp_path / f"events-{i:04d}.parquet") for i in range(3)]
    total = sum(f["value"].sum() for f in frames)
    assert exp["sum_value"].sum() == total


# --- statistics --------------------------------------------------------------------


def test_tail_rule():
    vals = [float(i) for i in range(1, 41)]  # 40 samples
    value, pct, n = run.tail(vals)
    assert (value, pct, n) == (30.0, 75.0, 40)
    assert sum(v > value for v in vals) == run.TAIL_SAMPLES
    value, pct, n = run.tail(list(reversed(vals[:11])))
    assert (value, n) == (1.0, 11) and sum(v > value for v in vals[:11]) == 10
    with pytest.raises(ValueError):
        run.tail(vals[:10])


def test_memory_counts_child_processes():
    import subprocess

    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert run.descendants_mem_mb(os.getpid()) > 1.0
    finally:
        child.kill()
        child.wait()


def test_self_times_subtract_children():
    s = tracing.Span
    spans = [
        s(0, "request", 0.0, 10.0, None, "r", {}),
        s(1, "queries.fn", 1.0, 4.0, 0, "r", {}),
        s(2, "tables.table", 2.0, 3.0, 1, "r", {}),
        s(3, "queries.action", 3.5, 9.0, 0, "r", {}),  # overlaps fn: counted once
    ]
    self_s = tracing.self_times(spans)
    assert self_s["request"] == pytest.approx(10.0 - 8.0)
    assert self_s["queries.fn"] == pytest.approx(3.0 - 1.0)
    assert self_s["tables.table"] == pytest.approx(1.0)


# --- declared metrics ----------------------------------------------------------------


def _fake_passes():
    def req(kind, sec, **phases):
        return workloads.Request(kind, sec, phases=phases, counters={
            k: 1.0 for k in list(tracing.STAGE_FIELDS) + ["stages", "jobs"]})

    analytics = workloads.Pass(3.0, [req(q, 0.5, fn=0.1, action=0.4)
                                     for q in workloads.Analytics.queries])
    trig = dict(add_batch=0.5, state_commit=0.01, state_rows=40, input_rows=100)
    ingest = workloads.Pass(
        5.0,
        [req(k, 1.0) for k in ("plans.laser_validate_and_chunk", "sinks.write_chunked_text",
                               "plans.trace_validate", "plans.trace_job_descriptors")]
        + [req("streaming.trigger", 0.9, **trig) for _ in range(12)],
        {"sink_bytes_written": 10, "seq_bytes": 20},
    )
    return analytics, ingest


def test_every_end_to_end_metric_is_declared():
    analytics, _ = _fake_passes()
    metrics, _ = run.end_to_end(2.0, analytics, [analytics, analytics], 100.0)
    declared = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: u for k, (_, u) in metrics.items()} == declared


def test_every_per_layer_metric_is_declared():
    analytics, ingest = _fake_passes()
    tracer = tracing.Tracer()
    with tracer.span("session.get_spark"):
        pass
    tracer.request = "t/q"
    with tracer.span("tables.table", hit=True):
        pass
    metrics = layers.per_layer(
        tracer, {"analytics": (None, analytics, "t"), "ingest": (None, ingest, "c")},
        [analytics, analytics], [analytics, analytics],
        {"read_seq_s": 1.0, "read_vcf_s": 1.0, "seq_mb_per_s": 1.0}, 4,
    )
    declared = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: u for k, (_, u) in metrics.items()} == declared
    assert metrics["tables.table_calls"][0] == 1 and metrics["tables.cache_hit_ratio"][0] == 1.0


class _CountingWorkload:
    def __init__(self, pass_s: float) -> None:
        self.pass_s, self.calls = pass_s, 0

    def run_pass(self, ctx):
        self.calls += 1
        return workloads.Pass(self.pass_s, [])


def test_warm_passes_run_the_minimum_count_and_the_window(monkeypatch):
    ctx = SimpleNamespace()
    wl = _CountingWorkload(1.0)
    assert len(run.warm_passes(wl, ctx, 0.0, run.time.perf_counter())) == run.MIN_WARM_PASSES
    late = run.time.perf_counter() - 2 * run.DEADLINE_S  # past the deadline: minimum only
    assert len(run.warm_passes(wl, ctx, 1e9, late)) == run.MIN_WARM_PASSES
    clock = iter(range(0, 1000, 5))  # every pass appears to take 5 s
    monkeypatch.setattr(run.time, "perf_counter", lambda: float(next(clock)))
    assert len(run.warm_passes(_CountingWorkload(5.0), ctx, 32.0, -10.0)) > run.MIN_WARM_PASSES


def test_benchmark_json_shape():
    assert BENCH["command"][:2] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in BENCH["workloads"]} == set(workloads.WORKLOADS)
    setup = [m for m in BENCH["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


# --- verifiers reject wrong results ------------------------------------------------------


def test_stream_verifier_rejects_a_wrong_count(tmp_path):
    exp = gen.write_events(str(tmp_path), 11, 2, 300)
    got = exp.copy()
    got["window_start"] = got["window_start"].dt.tz_localize("UTC")  # as Spark writes it
    assert workloads.stream_problems(got, exp) == []
    bad = got.copy()
    bad.loc[0, "n_events"] += 1
    assert workloads.stream_problems(bad, exp)
    assert workloads.stream_problems(got.iloc[1:], exp)


def test_study_verifiers_reject_wrong_counters_and_chunks(tmp_path):
    import gzip

    st = gen.write_study(str(tmp_path / "s"), 12, 0)
    good = SimpleNamespace(individuals=st.individuals, total_sites=st.loci,
                           shared_sites=st.shared, n_chunks=st.n_chunks)
    assert workloads.laser_problems(good, st) == []
    assert workloads.laser_problems(SimpleNamespace(**{**vars(good), "shared_sites": 99}), st)
    out = tmp_path / "chunks"
    for k in range(st.n_chunks):
        (out / f"chunk={k}").mkdir(parents=True)
        lines = st.seq_lines[k * gen.CHUNK_SIZE:(k + 1) * gen.CHUNK_SIZE]
        with gzip.open(out / f"chunk={k}" / "part-0.txt.gz", "wt") as f:
            f.write("".join(line + "\n" for line in lines))
    assert workloads.chunk_problems(st.n_chunks, str(out), st) == []
    with gzip.open(out / "chunk=0" / "part-0.txt.gz", "wt") as f:
        f.write(st.seq_lines[0].replace(" 1 ", " 2 ", 1) + "\n")
    assert workloads.chunk_problems(st.n_chunks, str(out), st)


def test_descriptor_verifier_rejects_a_gap():
    st = SimpleNamespace(individuals=45, n_descriptors=6)
    rows = []
    for kind in ("vcf2geno", "study_pca"):
        for s in range(1, 46, gen.DESCRIPTOR_BATCH):
            e = min(s + gen.DESCRIPTOR_BATCH - 1, 45)
            rows.append({"kind": kind, "start_ind": s, "end_ind": e,
                         "payload": json.dumps({"start": s, "end": e})})
    assert workloads.descriptor_problems(rows, st) == []
    rows[1] = {**rows[1], "end_ind": 39}
    assert workloads.descriptor_problems(rows, st)


def test_ann_verifier_rejects_a_wrong_score():
    rng = np.random.default_rng(0)
    emb = rng.normal(size=(20, 8))
    unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    cos = unit @ unit.T
    rows = []
    for a in range(20):
        order = [b for b in np.argsort(-cos[a]) if b != a][:3]
        rows += [{"id_a": a, "id_b": int(b), "cosine_micro": int(np.rint(1e6 * cos[a, b])),
                  "rnk": r + 1} for r, b in enumerate(order)]
    good = pd.DataFrame(rows)
    assert workloads.ann_problems(good, emb, 3) == []
    bad = good.copy()
    bad.loc[4, "cosine_micro"] += 1000
    assert workloads.ann_problems(bad, emb, 3)
    assert workloads.ann_problems(good.assign(id_b=good["id_a"]), emb, 3)


def test_query_verifier_rejects_a_wrong_row(tmp_path):
    """The analytics verifier accepts the oracle's own rows and rejects
    them with one value changed (no Spark session: the rows are the
    oracle's, typed as Spark would type them)."""
    import duckdb
    from pyspark.sql import Row
    from pyspark.sql import types as T

    from laser_hadoop_spark import registry

    sf = workloads.STAR_DIR
    wl = workloads.Analytics(str(tmp_path), 13)
    wl.prepare()
    spec = registry.get("q_pricing_summary")
    oracle = duckdb.connect()
    oracle.sql(f"CREATE VIEW lineitem AS SELECT * FROM '{sf}/lineitem.parquet'")
    frame = oracle.sql(spec.oracle).df()
    types = {"count_order": T.LongType()}
    schema = T.StructType([
        T.StructField(c, types.get(c, T.StringType() if frame[c].dtype == object
                                   else T.DoubleType()))
        for c in frame.columns
    ])
    rows = [Row(**{c: (int(v) if c == "count_order" else v) for c, v in r.items()})
            for r in frame.to_dict("records")]
    df = SimpleNamespace(columns=list(frame.columns), schema=schema)
    ctx = SimpleNamespace(spark=SimpleNamespace(sparkContext=SimpleNamespace(
        _jsc=SimpleNamespace(getPersistentRDDs=lambda: {}))))

    ok = workloads.Request("q", 0.0)
    wl.verify(ctx, spec, df, rows, ok)
    assert ok.ok, ok.error
    wrong = list(rows)
    wrong[0] = Row(**{**wrong[0].asDict(), "count_order": wrong[0]["count_order"] + 1})
    bad = workloads.Request("q", 0.0)
    wl.verify(ctx, spec, df, wrong, bad)
    assert not bad.ok
