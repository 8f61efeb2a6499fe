"""The benchmark's contract with the program, checked without Spark.

``perfbench/`` (workloads.py, layers.py, tracing.py, run.py) calls or
wraps these program names at run time. A rename or deletion here would
otherwise surface only when the benchmark runs; this makes it a tier-1
failure instead.
"""

from __future__ import annotations

import ast
import importlib
import os

import pytest

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")

CONTRACT = [
    ("laser_hadoop_spark.session", "get_spark"),
    ("laser_hadoop_spark.session", "release_persisted"),
    ("laser_hadoop_spark.registry", "specs"),
    ("laser_hadoop_spark.registry", "get"),
    ("laser_hadoop_spark.warehouse", "ensure_bucketed_facts"),
    ("laser_hadoop_spark.testing", "compare_query"),
    ("laser_hadoop_spark.testing", "duckdb_connect"),
    ("laser_hadoop_spark.tables", "table"),
    ("laser_hadoop_spark.sources.readers", "read_seq"),
    ("laser_hadoop_spark.sources.readers", "read_vcf"),
    ("laser_hadoop_spark.sources.sinks", "upsert_parquet"),
    ("laser_hadoop_spark.sources.sinks", "write_chunked_text"),
    ("laser_hadoop_spark.plans.pipeline", "laser_validate_and_chunk"),
    ("laser_hadoop_spark.plans.pipeline", "trace_validate"),
    ("laser_hadoop_spark.plans.pipeline", "trace_job_descriptors"),
    ("laser_hadoop_spark.streaming.ops", "tumbling_counts"),
    ("laser_hadoop_spark.streaming.ops", "start_upsert_sink"),
]


@pytest.mark.parametrize("module,attr", CONTRACT, ids=[f"{m}.{a}" for m, a in CONTRACT])
def test_benchmark_names_exist(module, attr):
    assert callable(getattr(importlib.import_module(module), attr, None)), f"{module}.{attr}"


def test_benchmark_queries_are_registered():
    """Every query the analytics workload runs is in the registry."""
    from laser_hadoop_spark import registry

    with open(os.path.join(PERFBENCH, "workloads.py")) as f:
        tree = ast.parse(f.read())
    queries = [
        q
        for node in tree.body
        if isinstance(node, ast.Assign)
        and [t.id for t in node.targets if isinstance(t, ast.Name)] in (["STAR_QUERIES"], ["LLM_QUERIES"])
        for q in ast.literal_eval(node.value)
    ]
    assert len(queries) == 6
    assert [q for q in queries if q not in registry.specs()] == []
