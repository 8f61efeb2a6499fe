"""Seeded, vectorised input generator for the ``ingest`` workload.

Everything the ingest requests read is written here from ``--seed``
alone, and every expected result their verifiers need is derived by
construction (not by running the engine):

- ``write_study``: one LASER/TRACE study submission (gzip seq, site,
  groups, reference-panel site, two VCF batches) with its expected
  counters, chunk contents and descriptor rows.
- ``write_events``: parquet event files for the streaming upsert, one
  event-time slice per file, with the expected (window, key) ->
  (count, sum) table.

The ``analytics`` workload reads fixed tables (``perfbench/data``); its
seed only permutes the query order.
"""

from __future__ import annotations

import gzip
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# --- LASER / TRACE study submissions -----------------------------------------

ALLELES = np.array(list("ACGT"))
GENOTYPES = np.array(["0/0", "0/1", "1/1", "./."])
CHUNK_SIZE = 25  # individuals per chunk file
DESCRIPTOR_BATCH = 20  # individuals per TRACE job batch
SHARED_FRACTION = 0.85  # loci shared with the reference panel (> 100 from 120 loci)
PANEL_EXTRA_FRACTION = 0.1  # panel loci keyed like the study but allele-flipped


@dataclass(frozen=True)
class Study:
    """Paths of one study submission and its expected results."""

    paths: dict[str, str]
    individuals: int
    loci: int
    shared: int
    n_chunks: int
    n_descriptors: int
    seq_lines: tuple[str, ...]  # the seq file's lines, in ind_id order


# individuals x loci^2 per submission: the seq parse cost grows with the
# square of the loci per row, so shapes vary by seed at constant work
STUDY_WORK = 30 * 125**2


def study_shape(seed: int, index: int) -> tuple[int, int]:
    """(individuals, loci) of submission ``index``: widths vary by seed."""
    rng = np.random.default_rng([seed, 2, index])
    loci = int(rng.integers(120, 131))
    return int(round(STUDY_WORK / loci**2)), loci


def write_study(out_dir: str, seed: int, index: int) -> Study:
    n_ind, n_loci = study_shape(seed, index)
    rng = np.random.default_rng([seed, 3, index])
    os.makedirs(out_dir, exist_ok=True)
    p = {k: os.path.join(out_dir, f) for k, f in {
        "seq": "study.seq.gz",
        "site": "study.site.gz",
        "groups": "study.groups",
        "ref_site": "panel.site.gz",
        "vcf1": "study1.vcf.gz",
        "vcf2": "study2.vcf.gz",
    }.items()}

    inds = np.char.add("ind", np.char.zfill(np.arange(n_ind).astype(str), 5))
    grp = np.char.add("group", (np.arange(n_ind) % 5).astype(str))
    with open(p["groups"], "w") as f:
        f.write("".join(f"{s}\t{g}\n" for s, g in zip(inds, grp)))

    chrom = np.sort(rng.integers(1, 23, n_loci)).astype(str)
    pos = 10_000 + np.arange(n_loci) * 17
    ids = np.char.add("rs", np.arange(n_loci).astype(str))
    ref_i = rng.integers(0, 4, n_loci)
    alt_i = (ref_i + rng.integers(1, 4, n_loci)) % 4
    ref, alt = ALLELES[ref_i], ALLELES[alt_i]
    site_rows = [f"{c}\t{q}\t{i}\t{r}\t{a}\n" for c, q, i, r, a in zip(chrom, pos, ids, ref, alt)]
    _write_gz(p["site"], "CHR\tPOS\tID\tREF\tALT\n" + "".join(site_rows))

    # panel: exactly n_shared loci match on (chr,pos) and alleles (some
    # lower-cased, which must still count), a further slice matches on
    # (chr,pos) with flipped alleles (must not count), the rest is absent
    order = rng.permutation(n_loci)
    n_shared = int(round(SHARED_FRACTION * n_loci))
    n_flip = int(round(PANEL_EXTRA_FRACTION * n_loci))
    shared, flipped = order[:n_shared], order[n_shared : n_shared + n_flip]
    pref, palt = ref.copy(), alt.copy()
    lower = shared[rng.random(n_shared) < 0.3]
    pref[lower], palt[lower] = np.char.lower(ref[lower]), np.char.lower(alt[lower])
    pref[flipped], palt[flipped] = alt[flipped], ref[flipped]
    keep = np.sort(np.concatenate([shared, flipped]))
    _write_gz(
        p["ref_site"],
        "CHR\tPOS\tID\tREF\tALT\n"
        + "".join(
            f"{chrom[k]}\t{pos[k]}\t{ids[k]}\t{pref[k]}\t{palt[k]}\n" for k in keep
        ),
    )

    vals = np.stack(
        [rng.integers(0, 61, (n_ind, n_loci)), rng.integers(0, 31, (n_ind, n_loci)),
         rng.integers(0, 3, (n_ind, n_loci))],
        axis=2,
    ).reshape(n_ind, 3 * n_loci).astype(str)
    pops = np.char.add("pop", (np.arange(n_ind) % 3).astype(str))
    lines = tuple(f"{pp} {s} " + " ".join(v) for pp, s, v in zip(pops, inds, vals))
    _write_gz(p["seq"], "".join(line + "\n" for line in lines))

    gts = GENOTYPES[rng.integers(0, 4, (n_loci, n_ind))]
    header = (
        "##fileformat=VCFv4.2\n##source=perfbench\n"
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t" + "\t".join(inds) + "\n"
    )
    vcf_rows = [
        f"{chrom[k]}\t{pos[k]}\t{ids[k]}\t{ref[k]}\t{alt[k]}\t.\tPASS\t.\tGT\t"
        + "\t".join(gts[k]) + "\n"
        for k in range(n_loci)
    ]
    half = n_loci // 2  # two batch files, disjoint loci, same samples
    _write_gz(p["vcf1"], header + "".join(vcf_rows[:half]))
    _write_gz(p["vcf2"], header + "".join(vcf_rows[half:]))

    n_chunks = -(-n_ind // CHUNK_SIZE)
    return Study(
        paths=p,
        individuals=n_ind,
        loci=n_loci,
        shared=n_shared,
        n_chunks=n_chunks,
        n_descriptors=2 * -(-n_ind // DESCRIPTOR_BATCH),
        seq_lines=lines,
    )


def _write_gz(path: str, text: str) -> None:
    # level 1 keeps large studies quick to write; mtime=0 makes the bytes
    # depend on the seed only
    with open(path, "wb") as raw, gzip.GzipFile(
        fileobj=raw, mode="wb", compresslevel=1, mtime=0
    ) as f:
        f.write(text.encode())


# --- streaming events ----------------------------------------------------------

STREAM_KEYS = 8
STREAM_WINDOW_S = 60  # tumbling window width, seconds
STREAM_FILE_SPAN_S = 300  # event time covered by one file
STREAM_DELAY = "1 minute"  # watermark delay (< one file's span)
STREAM_BASE = np.datetime64("2024-03-01T00:00:00", "us")


def write_events(out_dir: str, seed: int, n_files: int, rows_per_file: int) -> pd.DataFrame:
    """Write ``n_files`` event files plus one sentinel file; return the
    expected (window_start, key) -> (n_events, sum_value) frame.

    File i holds events in [i, i+1) x STREAM_FILE_SPAN_S, so no event is
    ever behind the watermark. The sentinel file (one event a day later)
    moves the watermark past every real window, closing them all; its
    own window stays open and is not expected in the table.
    """
    rng = np.random.default_rng([seed, 4])
    os.makedirs(out_dir, exist_ok=True)
    span_us = STREAM_FILE_SPAN_S * 10**6
    frames = []
    for i in range(n_files):
        off = i * span_us + rng.integers(0, span_us, rows_per_file)
        df = pd.DataFrame(
            {
                "event_id": i * rows_per_file + np.arange(rows_per_file, dtype=np.int64),
                "ts": STREAM_BASE + off.astype("timedelta64[us]"),
                "key": rng.integers(0, STREAM_KEYS, rows_per_file).astype(np.int64),
                # quarter units: every sum is exact in binary floating point
                "value": rng.integers(0, 400, rows_per_file) / 4.0,
            }
        )
        frames.append(df)
        _write_events(out_dir, i, df)
    sentinel = pd.DataFrame(
        {
            "event_id": np.array([-1], dtype=np.int64),
            "ts": [STREAM_BASE + np.timedelta64(n_files * span_us + 86_400 * 10**6, "us")],
            "key": np.array([0], dtype=np.int64),
            "value": [0.0],
        }
    )
    _write_events(out_dir, n_files, sentinel)
    ev = pd.concat(frames, ignore_index=True)
    ev["window_start"] = ev["ts"].dt.floor(f"{STREAM_WINDOW_S}s")
    return (
        ev.groupby(["window_start", "key"])
        .agg(n_events=("value", "size"), sum_value=("value", "sum"))
        .reset_index()
    )


def _write_events(out_dir: str, i: int, df: pd.DataFrame) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False).cast(
        pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us", tz="UTC")),
                ("key", pa.int64()),
                ("value", pa.float64()),
            ]
        )
    )
    path = os.path.join(out_dir, f"events-{i:04d}.parquet")
    pq.write_table(table, path)
    # the file source takes files oldest first: pin the order to i
    os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
