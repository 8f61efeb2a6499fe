"""Readers for every input format the reference consumes (SURVEY.md §2.1).

The reference streams gzipped text line-by-line with hand-rolled splits
(LASERInputCheckMapper.java:53-72,100-122; TRACEInputCheckMapper.java:117-226).
Here each format is a declarative Spark scan with an explicit schema —
gzip decoding, predicate pushdown, and column pruning come from the
data source framework.
"""

from __future__ import annotations

import gzip
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Site-file header enforced by the reference: LASERInputCheckMapper.java:21-23.
SITE_COLUMNS = ("CHR", "POS", "ID", "REF", "ALT")

SITE_SCHEMA = T.StructType(
    [
        T.StructField("chr", T.StringType()),
        T.StructField("pos", T.LongType()),
        T.StructField("id", T.StringType()),
        T.StructField("ref", T.StringType()),
        T.StructField("alt", T.StringType()),
    ]
)

# VCF fixed columns: TRACEInputCheckMapper.java:22-24.
VCF_FIXED_COLUMNS = (
    "#CHROM",
    "POS",
    "ID",
    "REF",
    "ALT",
    "QUAL",
    "FILTER",
    "INFO",
    "FORMAT",
)


def read_gzip_tsv(
    spark: SparkSession, path: str, schema: T.StructType | None = None, header: bool = True
) -> DataFrame:
    """S1: gzipped TSV scan with header skip.

    Reference: readReferenceSite streams gzip text, splits on tab, skips
    one header line (LASERInputCheckMapper.java:53-72). Spark's CSV
    reader decodes .gz via codec and skips the header declaratively.
    """
    reader = spark.read.option("sep", "\t").option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", False)
    return reader.csv(path)


def read_site(spark: SparkSession, path: str) -> DataFrame:
    """Site-major locus table (CHR POS ID REF ALT), gz or plain.

    Header names are validated by validation.check_site_header (the
    engine analogue of LASERInputCheckMapper.java:203-235).
    """
    return (
        spark.read.option("sep", "\t")
        .option("header", True)
        .csv(path)
        .toDF(*[c.lower().lstrip("#") for c in SITE_COLUMNS])
        .withColumn("pos", F.col("pos").cast("long"))
    )


def read_seq(spark: SparkSession, path: str) -> DataFrame:
    """S2: headerless tab-or-space separated sample-major seq matrix.

    Reference splits each row on `[\\t ]` (LASERInputCheckMapper.java:105):
    2 ID fields then 3 values per locus (:124-136). Parsed into
    (pop_id, ind_id, loci array<struct<v1,v2,v3>>, arity) — the
    wide-text row becomes a typed nested column in one pass.

    The split array is projected once below the per-locus transform:
    inlined into every element_at, each line would be split 3 x loci
    times, so parse cost would grow with individuals x loci^2.
    """
    lines = spark.read.text(path).select(F.split(F.col("value"), "[\t ]").alias("fields"))
    fields = F.col("fields")
    n = F.size(fields)
    triple = lambda i: F.struct(  # noqa: E731
        F.element_at(fields, i + 1).cast("double").alias("v1"),
        F.element_at(fields, i + 2).cast("double").alias("v2"),
        F.element_at(fields, i + 3).cast("double").alias("v3"),
    )
    loci = F.when(
        n >= 5,
        F.transform(F.sequence(F.lit(3), n - 2, F.lit(3)), lambda i: triple(i - 1)),
    ).otherwise(F.array().cast("array<struct<v1:double,v2:double,v3:double>>"))
    return lines.select(
        F.element_at(fields, 1).alias("pop_id"),
        F.element_at(fields, 2).alias("ind_id"),
        loci.alias("loci"),
        n.alias("n_fields"),
    )


def read_groups(spark: SparkSession, path: str) -> DataFrame:
    """Two-column sample->group map (LASERInputCheckMapper.java:82-95).

    Arity violations (1- or 3-column rows) surface via n_fields for the
    validation gate rather than failing the scan.
    """
    lines = spark.read.text(path)
    fields = F.split(F.col("value"), "\t")
    return lines.select(
        F.element_at(fields, 1).alias("sample_id"),
        F.element_at(fields, 2).alias("group_name"),
        F.size(fields).alias("n_fields"),
    )


def read_vcf(spark: SparkSession, path: str, melt: bool = True) -> DataFrame:
    """S3: VCF scan — skip ## meta lines, recover #CHROM header, parse.

    Reference: TRACEInputCheckMapper.java:117-226 (meta skip :120,
    header parse :124-167, samples = columns 10.. :169-178).

    Wide sample columns are melted to long form
    (chr,pos,id,ref,alt,qual,filter,info,format,sample_id,gt) by
    default — the scalable layout (SURVEY.md §7.4): thousands of sample
    columns become a row dimension instead of a schema dimension.
    """
    lines = spark.read.text(path)
    header_row = (
        lines.where(F.col("value").startswith("#CHROM")).limit(1).collect()
    )
    if not header_row:
        raise ValueError(f"no #CHROM header line in {path}")
    cols = header_row[0][0].split("\t")
    samples = cols[9:]
    body = lines.where(~F.col("value").startswith("#"))
    fields = F.split(F.col("value"), "\t")
    fixed = [
        F.element_at(fields, 1).alias("chr"),
        F.element_at(fields, 2).cast("long").alias("pos"),
        F.element_at(fields, 3).alias("id"),
        F.element_at(fields, 4).alias("ref"),
        F.element_at(fields, 5).alias("alt"),
        F.element_at(fields, 6).alias("qual"),
        F.element_at(fields, 7).alias("filter"),
        F.element_at(fields, 8).alias("info"),
        F.element_at(fields, 9).alias("format"),
    ]
    if not melt:
        wide = body.select(
            *fixed,
            *[F.element_at(fields, 10 + i).alias(s) for i, s in enumerate(samples)],
        )
        return wide
    # Melt via posexplode of the sample slice + a broadcast (pos ->
    # sample_id) lookup: the plan stays constant-size no matter how many
    # sample columns the VCF declares (a map/array literal would embed
    # one sub-expression per sample — a plan-size hazard at biobank
    # scale), and the join side is ~#samples rows, always broadcastable.
    gts = body.select(
        *fixed,
        F.posexplode(F.slice(fields, 10, len(samples))).alias("__pos", "gt"),
    )
    names = spark.createDataFrame(
        list(enumerate(samples)), "__pos int, sample_id string"
    )
    return gts.join(F.broadcast(names), "__pos").select(
        "chr", "pos", "id", "ref", "alt", "qual", "filter", "info", "format",
        "sample_id", "gt",
    )


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """S4: JSON-lines scan (the reference's job-descriptor IR).

    Reference parses one JSON object per line with typed field gets
    (LASERInputCheckMapper.java:275-287).
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def list_input_files(spark: SparkSession, pattern: str) -> list[str]:
    """S5: glob enumeration, error if empty (TRACEInputValidator.java:168-172)."""
    import glob as _glob

    files = sorted(_glob.glob(pattern))
    if not files:
        raise FileNotFoundError(f"no input files match {pattern}")
    return files


def sniff_gzip(path: str) -> bool:
    """S7: gzip magic-byte check (LASERInputCheckMapper.java:33-51).

    Spark codecs decode by extension, so this is only an ingest-time
    assertion reading two bytes.
    """
    with open(path, "rb") as f:
        magic = f.read(2)
    return magic == b"\x1f\x8b"


def open_maybe_gzip(path: str):
    """Text handle for gz or plain files (utility for sinks/tests)."""
    return gzip.open(path, "rt") if sniff_gzip(path) else open(path)


ReaderFn = Callable[..., DataFrame]

# S8: format dispatch registry (TRACEInputCheckMapper.java:323-338).
# The reference stubs 23andMe/AncestryDNA (:275-293); kept as explicit
# NotImplementedError entries so dispatch parity is test-visible.
READER_REGISTRY: dict[str, ReaderFn] = {
    "vcf": read_vcf,
    "seq": read_seq,
    "site": read_site,
    "groups": read_groups,
    "tsv": read_gzip_tsv,
    "jsonl": read_jsonl,
}

UNSUPPORTED_FORMATS = ("23andMe", "AncestryDNA")


def read_dispatch(spark: SparkSession, fmt: str, path: str, **kwargs) -> DataFrame:
    """Route a file to its parser by declared format; error on unknown."""
    if fmt in UNSUPPORTED_FORMATS:
        raise NotImplementedError(
            f"format {fmt!r} is declared but unsupported (reference parity: "
            "TRACEInputCheckMapper.java:275-293)"
        )
    try:
        reader = READER_REGISTRY[fmt]
    except KeyError:
        raise ValueError(f"unknown genotype format {fmt!r}") from None
    return reader(spark, path, **kwargs)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """Columnar ORC scan (built-in DataSource V1/V2, same pushdown +
    pruning guarantees as parquet — PushedFilters/ReadSchema reach the
    stripe reader). Interchange-format coverage beyond parquet: ORC is
    the other columnar format a warehouse migration actually hits."""
    return spark.read.orc(path)


def read_csv_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    delimiter: str = ",",
    header: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """S15: CSV scan with malformed-row routing (ingest quarantine).

    PERMISSIVE mode with an explicit ``_corrupt_record`` column splits
    the scan into (clean, quarantined) — the production ingest
    contract: bad rows never silently vanish (DROPMALFORMED) and never
    kill the job (FAILFAST); they land in a quarantine relation with
    their raw text for replay. The reference's validators route bad
    lines to error counters (LASERInputCheckMapper.java:214-230); this
    is the same gate with the rows preserved. Both outputs come from
    ONE scan definition — Catalyst shares the parse.
    """
    full = T.StructType(
        schema.fields + [T.StructField("_corrupt_record", T.StringType())]
    )
    raw = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("delimiter", delimiter)
        .option("header", str(header).lower())
        .csv(path)
        # Spark requires caching/materializing before referencing only
        # the corrupt-record column (SPARK-38523 query restriction)
        .cache()
    )
    clean = raw.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    quarantined = raw.where(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_line")
    )
    return clean, quarantined


def read_parquet_evolved(spark: SparkSession, *paths: str) -> DataFrame:
    """S16: schema-evolution read (mergeSchema over parquet batches).

    Ingest batches written months apart rarely share a schema; reading
    the union with ``mergeSchema=true`` resolves the superset schema
    (missing columns -> NULL) — the contract that lets a 100 TB lake
    add columns without rewriting history. Int-widening and
    column-adding are handled by the merger; incompatible type changes
    raise, which is the correct failure mode (the pytest asserts
    both)."""
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def read_fixed_width(
    spark: SparkSession,
    path: str,
    colspecs: list[tuple[str, int, int, str]],
    *,
    skip_header_lines: int = 0,
) -> DataFrame:
    """S17: fixed-width (mainframe/COBOL-layout) text source.

    ``colspecs`` is [(name, start_1based, length, spark_type)] — the
    copybook-derived layout. Each field is sliced with ``substring``
    (pure codegen, one pass over the line buffer), right/left-trimmed,
    and cast; empty slices become NULL via the cast. The whole parse is
    a single Project over ``spark.read.text`` — per-file splittable,
    no Python in the path, so at 100 TB it scans exactly like the
    gzip-TSV source (S1).

    Header skipping (headers repeat per file in fixed-width drops)
    needs a SPLIT-STABLE per-file line index: a window over
    ``monotonically_increasing_id`` is not one — FilePartition packing
    orders splits by size, not offset, so splits of one large file can
    land out of order and the wrong lines would be skipped (round-4
    advice). With ``skip_header_lines > 0`` the file is therefore read
    ``wholetext`` (one task per file — exact line order by
    construction; parallelism comes from file count, the same
    trade-off as gzip members) and split into lines JVM-side with
    posexplode. ``skip_header_lines=0`` keeps the fully splittable
    scan.

    Reference analogue: the positional-projection parse discipline of
    LASERInputCheckMapper.java:68,243-245 (fields addressed by
    position, not name), generalized to byte offsets.
    """
    if skip_header_lines:
        whole = spark.read.text(path, wholetext=True)
        arr = F.split("value", "\r?\n")
        # a trailing newline yields one empty final element (read.text
        # itself never emits that phantom line) — drop it
        arr = F.when(
            F.element_at(arr, -1) == "", F.slice(arr, F.lit(1), F.size(arr) - 1)
        ).otherwise(arr)
        lines = (
            whole.select(F.posexplode(arr).alias("__ln", "value"))
            .where(F.col("__ln") >= skip_header_lines)  # posexplode is 0-based
            .select("value")
        )
    else:
        lines = spark.read.text(path)
    fields = [
        F.nullif(F.trim(F.substring("value", start, length)), F.lit(""))
        .cast(dtype)
        .alias(name)
        for name, start, length, dtype in colspecs
    ]
    return lines.select(*fields)


def read_xml(
    spark: SparkSession,
    path: str,
    *,
    row_tag: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """S19: XML source (Spark 4 native ``xml`` format).

    Feed drops from enterprise systems (SOAP exports, RSS/Atom, config
    dumps) arrive as XML; Spark 4 folded the former spark-xml package
    into the core distribution, so the scan is a first-class
    FileFormat: splittable by file, schema-inferred or explicit,
    attributes surfaced as ``_attr`` columns and nested elements as
    structs. ``row_tag`` names the repeated element that becomes a row
    (the XML analogue of a JSONL line).

    An explicit ``schema`` skips the inference pass — at 100 TB
    inference reads every byte once before the real scan, so
    production feeds should always pin it (same discipline as S4's
    JSONL descriptor schema).
    """
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_xml(df: DataFrame, path: str, *, row_tag: str, root_tag: str) -> None:
    """S19 sink side: write a DataFrame as XML part-files.

    One XML document per partition file (``root_tag`` wrapping one
    ``row_tag`` element per row) — the mirror contract of read_xml, so
    round-tripping a relation through the feed format is lossless for
    flat schemas (the pytest asserts it). Distributed write: one file
    per task, same layout economics as every other text sink here.
    """
    (
        df.write.format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .mode("overwrite")
        .save(path)
    )
