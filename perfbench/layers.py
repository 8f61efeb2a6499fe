"""Per-layer metrics of a traced run, from spans, request phases,
streaming progress and Spark status-store deltas."""

from __future__ import annotations

import statistics
import time


SPARK_COUNTERS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_mb": "MB",
    "input_mb": "MB",
    "output_mb": "MB",
}


def standalone_parse(spark, ingest) -> dict[str, float]:
    """Parse plus ``noop`` of the study's seq file and of its two VCF
    batches, each on its own: the reader layer without the pipeline."""
    from laser_hadoop_spark.sources import readers

    p = ingest.study.paths

    def timed(make) -> float:
        t = time.perf_counter()
        make().write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    seq_s = timed(lambda: readers.read_seq(spark, p["seq"]))
    vcf_s = sum(timed(lambda f=f: readers.read_vcf(spark, p[f])) for f in ("vcf1", "vcf2"))
    text_mb = sum(len(line) + 1 for line in ingest.study.seq_lines) / 2**20
    return {"read_seq_s": seq_s, "read_vcf_s": vcf_s, "seq_mb_per_s": text_mb / seq_s}


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def per_layer(tracer, by_name, named, untraced, standalone, cores) -> dict:
    """name -> (value, unit) for every per-layer metric in BENCHMARK.json.

    ``by_name`` maps each workload to (workload, pass, pass id): the
    named workload's last traced pass, and every other workload's single
    traced pass. ``named`` and ``untraced`` are the named workload's
    traced and untraced warm passes, in pairs."""
    spans = tracer.spans
    dur = lambda name, ss=spans: [s.end - s.start for s in ss if s.name == name]  # noqa: E731
    _, a_pass, a_id = by_name["analytics"]
    _, i_pass, _ = by_name["ingest"]
    a_spans = [s for s in spans if (s.request or "").startswith(a_id + "/")]
    table_spans = [s for s in a_spans if s.name == "tables.table"]
    hits = sum(bool(s.attrs.get("hit")) for s in table_spans)
    a_req = a_pass.requests
    i_req = {r.kind: r for r in i_pass.requests if r.kind != "streaming.trigger"}
    trig = [r for r in i_pass.requests if r.kind == "streaming.trigger"]
    m = {
        "session.get_spark_s": (sum(dur("session.get_spark")), "s"),
        "registry.load_s": (sum(dur("registry.load")), "s"),
        "warehouse.ensure_bucketed_facts_s": (sum(dur("warehouse.ensure_bucketed_facts")), "s"),
        "queries.fn_s": (sum(r.phases.get("fn", 0.0) for r in a_req), "s"),
        "queries.action_s": (sum(r.phases.get("action", 0.0) for r in a_req), "s"),
        "tables.table_calls": (len(table_spans), "count"),
        "tables.table_s": (sum(dur("tables.table", a_spans)), "s"),
        "tables.cache_hit_ratio": (hits / len(table_spans) if table_spans else 0.0, "ratio"),
        "sources.read_seq_s": (standalone["read_seq_s"], "s"),
        "sources.read_vcf_s": (standalone["read_vcf_s"], "s"),
        "sources.seq_mb_per_s": (standalone["seq_mb_per_s"], "MB/s"),
    }
    for kind in (
        "plans.laser_validate_and_chunk",
        "plans.trace_validate",
        "plans.trace_job_descriptors",
        "sinks.write_chunked_text",
    ):
        m[f"{kind}_s"] = (i_req[kind].seconds if kind in i_req else 0.0, "s")
    written, read = i_pass.extra.get("sink_bytes_written", 0), i_pass.extra.get("seq_bytes", 0)
    m["sinks.bytes_written_per_input_byte"] = (written / read if read else 0.0, "ratio")
    busy = sum(r.seconds for r in trig)
    m.update(
        {
            "streaming.trigger_s": (_median(r.seconds for r in trig), "s"),
            "streaming.add_batch_s": (_median(r.phases["add_batch"] for r in trig), "s"),
            "streaming.state_commit_s": (
                _median(r.phases["state_commit"] for r in trig), "s"),
            "streaming.state_rows_max": (
                max((r.phases["state_rows"] for r in trig), default=0), "count"),
            "streaming.rows_per_s": (
                sum(r.phases["input_rows"] for r in trig) / busy if busy else 0.0, "1/s"),
        }
    )
    last = named[-1].requests
    for key, unit in SPARK_COUNTERS.items():
        m[f"spark.{key}"] = (sum(r.counters.get(key, 0.0) for r in last) / len(last), unit)
    wall = sum(r.seconds for r in last)
    run = sum(r.counters.get("executor_run_s", 0.0) for r in last)
    m["spark.slot_util"] = (run / (wall * cores) if wall else 0.0, "ratio")
    overhead = [t.seconds - u.seconds for t, u in zip(named, untraced)]
    m["trace.overhead_s"] = (statistics.mean(overhead), "s")
    return m
