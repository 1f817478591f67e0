"""Fixed-size chunking as a DataFrame pipeline (REF A1).

The reference vendors Spark's own FixedLengthBinaryInputFormat
(FixedLengthBinaryRecordReader.scala:105-142): records of ``blocksize``
bytes, key = global block index, short final block kept at true length,
one RDD per file folded with union (an O(files) anti-pattern,
dirhash.py:399-406).

Here the *plan* is a DataFrame: one metadata row per chunk
``(path, block_num, full_path, offset, length)`` (no file bytes
touched), then a single ``mapInPandas`` stage performs positioned range
reads.  Properties:

- split alignment is by construction (offsets are block_num·blocksize,
  the reader never straddles a boundary — same invariant the Scala
  ``computeSplitSize`` enforces);
- parallelism comes from a RUN SPLIT planned on the driver
  (:func:`chunk_runs`): the chunk rows, in the fold's own
  ``(path, block_num)`` order, are cut into at most
  ``defaultParallelism`` contiguous runs of roughly equal bytes, one
  run per partition.  It is independent of file count or file size
  skew — a single 1 TB file spreads over every core, many small files
  batch into few tasks — and each task reads one contiguous range of
  files in offset order.  The listing is already driver-resident, so
  the range split needs no sampling job and no shuffle;
- empty files contribute zero chunk rows (dirhash_test.py:205-208).

:func:`chunk_plan_df` derives the same rows cluster-side from a listing
DataFrame, for folds whose file list never reaches the driver.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .listing import Entry

PLAN_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("block_num", LongType(), False),
        StructField("full_path", StringType(), False),
        StructField("offset", LongType(), False),
        StructField("length", LongType(), False),
    ]
)

CHUNK_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("block_num", LongType(), False),
        StructField("content", BinaryType(), False),
    ]
)


def chunk_runs(entries: list[Entry], blocksize: int, n: int) -> list[list[tuple]]:
    """The chunk rows (:data:`PLAN_SCHEMA` tuples) of ``entries`` in
    Python ``(path, block_num)`` order, cut into at most ``n``
    contiguous, non-empty runs of roughly equal bytes.

    Run ``k`` closes at the first row whose cumulative bytes reach
    ``(k + 1) · total / n``, so no run holds more than
    ``total / n + blocksize`` bytes.  Directories and empty files yield
    no rows; a tree with no bytes yields no runs."""
    files = sorted(
        (e for e in entries if not e.is_dir and e.size > 0), key=lambda e: e.relative_path
    )
    total = sum(int(e.size) for e in files)
    runs: list[list[tuple]] = []
    run: list[tuple] = []
    done = 0
    for e in files:
        size = int(e.size)
        for num, offset in enumerate(range(0, size, blocksize)):
            length = min(blocksize, size - offset)
            run.append((e.relative_path, num, e.full_path, offset, length))
            done += length
            # the last row always closes the last run (done == total)
            if done * n >= total * (len(runs) + 1):
                runs.append(run)
                run = []
    return runs


def chunk_plan(spark: SparkSession, entries: list[Entry], blocksize: int) -> DataFrame:
    """Metadata-only chunk plan: one row per fixed-size block, one
    partition per run of :func:`chunk_runs`."""
    sc = spark.sparkContext
    runs = chunk_runs(entries, blocksize, max(sc.defaultParallelism, 1))
    # one run per slice: parallelize puts exactly one element in each
    # when the element and slice counts are equal
    rdd = sc.parallelize(runs, max(len(runs), 1)).flatMap(lambda run: run)
    return spark.createDataFrame(rdd, PLAN_SCHEMA)


def chunk_plan_df(entries_df: DataFrame, blocksize: int) -> DataFrame:
    """:func:`chunk_plan`'s rows from a listing DATAFRAME
    (``listing.ENTRY_DF_SCHEMA``), derived cluster-side with
    ``sequence``+``explode`` — the file list never passes through the
    driver, for folds that stream the listing.  Its partitioning is
    whatever the listing's is; callers spread it themselves."""
    size = F.col("size").cast("long")
    n_blocks = F.floor((size + blocksize - 1) / blocksize).cast("long")
    return (
        entries_df.where(~F.col("is_dir") & (size > 0))
        .select(
            F.col("relative_path").alias("path"),
            "full_path",
            size.alias("size"),
            F.explode(F.sequence(F.lit(0).cast("long"), n_blocks - 1)).alias("block_num"),
        )
        .select(
            "path",
            "block_num",
            "full_path",
            (F.col("block_num") * blocksize).alias("offset"),
            F.least(F.lit(blocksize).cast("long"), F.col("size") - F.col("block_num") * blocksize).alias(
                "length"
            ),
        )
    )


def open_for_range_read(full_path: str):
    """Open a file for positioned reads.  Local paths use ``open``;
    scheme paths (hdfs://, s3a://, ...) go through pyarrow's FileSystem
    so the same pipeline runs on a cluster."""
    if "://" in full_path:
        import pyarrow.fs as pafs

        fs, inner = pafs.FileSystem.from_uri(full_path)
        return fs.open_input_file(inner)
    return open(full_path, "rb")


def read_plan_ranges(pdf: pd.DataFrame) -> Iterator[bytes]:
    """The bytes of each chunk-plan row of ``pdf``, in row order, by
    positioned range reads; file handles are cached across the rows of
    the batch (opened once per file per batch, never per row)."""
    handles: dict[str, object] = {}
    try:
        for full_path, offset, length in zip(pdf["full_path"], pdf["offset"], pdf["length"]):
            fh = handles.get(full_path)
            if fh is None:
                fh = handles[full_path] = open_for_range_read(full_path)
            fh.seek(int(offset))
            yield fh.read(int(length))
    finally:
        for fh in handles.values():
            try:
                fh.close()
            except Exception:
                pass


def _read_ranges(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "path": pdf["path"],
                "block_num": pdf["block_num"],
                "content": list(read_plan_ranges(pdf)),
            }
        )


def read_chunks(spark: SparkSession, entries: list[Entry], blocksize: int) -> DataFrame:
    """(path, block_num, content) for every fixed-size block of every file."""
    return chunk_plan(spark, entries, blocksize).mapInPandas(_read_ranges, CHUNK_SCHEMA)
