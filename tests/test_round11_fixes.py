"""Round-11 fixes (VERDICT_r10 items 1/7 + ADVICE r10).

The in-session slow mode: q_jaro_pairs ran 17 s min-of-3 inside a
42-query benchmark session vs 5.9 s fresh-session warm (BENCH_r09).
Round-11 diagnosis: checkpoint/broadcast blocks are freed only when a
JVM GC lets the ContextCleaner notice dropped references, so storage
tenancy on the shared 8 GB local-mode heap is GC-timing-dependent;
3.2 GB of pinned storage reproducibly degrades the 1.17M-row
sort+collect to 7.7-14.1 s. Fix: explicit release_persisted() between
queries in every long-session harness (check_oracles.py,
compare_query, the perfbench analytics pass).
"""

from __future__ import annotations

import pytest

from laser_hadoop_spark import registry
from laser_hadoop_spark.session import release_persisted, storage_memory_used


def _persistent_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_release_persisted_frees_checkpoint_blocks(spark):
    release_persisted(spark)  # start clean regardless of test order
    df = spark.range(100_000).selectExpr("id", "id * 2 AS y").localCheckpoint(
        eager=True
    )
    assert df.count() == 100_000
    assert _persistent_count(spark) >= 1
    freed = release_persisted(spark)
    assert freed >= 1
    assert _persistent_count(spark) == 0


def test_compare_query_releases_persisted(spark, sf_dir):
    """compare_query (the pytest-corpus/sweep fetch path) frees each
    query's blocks by construction — even a checkpoint-heavy query
    leaves nothing behind."""
    from laser_hadoop_spark.testing import compare_query

    release_persisted(spark)
    spec = registry.specs()["q_matrix_profile"]  # two eager checkpoints
    res = compare_query(spark, None, spec.name, spec.fn, None, sf_dir)
    assert res.ok
    assert _persistent_count(spark) == 0


@pytest.mark.slow
def test_full_registry_sweep_leaves_no_persisted_rdds(spark, sf_dir):
    """VERDICT_r10 item 7, verbatim: a full registry sweep at sf0.001
    leaves no persisted RDDs behind, and storage stays bounded (no
    GC-timing dependence). Runs the Spark side of all registered
    queries in this one session with the harness hygiene applied."""
    release_persisted(spark)
    peak = 0
    for name, spec in sorted(registry.specs().items()):
        spec.fn(spark, sf_dir).collect()
        release_persisted(spark)
        peak = max(peak, storage_memory_used(spark))
    assert _persistent_count(spark) == 0
    # residual tenancy = broadcast blocks awaiting the ContextCleaner;
    # at sf0.001 they are small — the GB-scale accumulation that caused
    # the slow mode is structurally impossible with per-query release
    assert peak < 500_000_000, f"storage peaked at {peak / 1e6:.0f} MB"


def test_payloadish_excludes_full_hash_suffix_family():
    """ADVICE r10: the hash/id-discipline suffix family is excluded at
    EVERY spelling — `sig_hash#3`, `gram_h2#1`, `vec_idx#4` must stay
    excluded exactly like `sig_h`/`gram_h`/`vec_id` — while bare
    payload stems keep flagging."""
    import re

    from laser_hadoop_spark.plans.pair_audit import PAYLOADISH

    def hit(s: str) -> bool:
        return any(re.search(p, s) for p in PAYLOADISH)

    for benign in (
        "sig_h#5", "sig_h2#5", "sig_hash#3", "gram_h#6", "gram_h2#1",
        "gram_hash#2", "vec_id#8", "vec_idx#4", "vec_hash#1",
    ):
        assert not hit(benign), benign
    for payload in (
        "sig#2", "sig_a#2", "vec#3", "vec_a#9", "gram#7", "gram_a#1",
        "sig_hex#1",  # not in the suffix family — stays payload-ish
    ):
        assert hit(payload), payload


def test_grouped_procrustes_tolerates_duplicate_anchor_ids(spark):
    """ADVICE r10: a duplicated id inside a group must neither crash
    the Arrow kernel (length mismatch) nor skew the fit — the fit
    dedups to first-row-per-id; the projection still maps every study
    row, duplicates included."""
    import numpy as np

    from laser_hadoop_spark.operators.pca import grouped_procrustes

    ref_rows = [("g", f"s{i}", [float(i), float(i % 3)]) for i in range(6)]
    # study = reference rotated 90 degrees, with s2 DUPLICATED on the
    # study side and s3 duplicated on the reference side
    rot = np.array([[0.0, -1.0], [1.0, 0.0]])
    study_rows = [
        (g, i, [float(x) for x in np.array(pc) @ rot]) for (g, i, pc) in ref_rows
    ]
    study_rows.append(study_rows[2])
    ref_dup = ref_rows + [ref_rows[3]]
    study = spark.createDataFrame(study_rows, "g string, id string, pc array<double>")
    ref = spark.createDataFrame(ref_dup, "g string, id string, pc array<double>")
    out = grouped_procrustes(study, ref, group_col="g", id_col="id").collect()
    assert len(out) == 7  # every study row, duplicate included
    by_id = {}
    for r in out:
        by_id.setdefault(r["id"], []).append(r["proj"])
    ref_map = {i: pc for (_, i, pc) in ref_rows}
    for rid, projs in by_id.items():
        for proj in projs:
            np.testing.assert_allclose(proj, ref_map[rid], atol=1e-9)
