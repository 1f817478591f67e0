"""Directory hashing pipeline (REF A5-A7; lifecycle SURVEY §3.1).

Stages (mirroring dirhash.py:307-444, re-expressed Spark-first):
  1. LIST   driver-side recursive listing (metadata only)
  2. PLAN   chunk metadata rows (no bytes touched), built on the
            driver from the listing in the fold's (path, block_num)
            order and cut into at most defaultParallelism contiguous
            runs of roughly equal bytes, one run per partition
            (chunks.chunk_runs).  The listing is already on the driver,
            so this range split needs no sampling job and no shuffle.
  3. READ+HASH   ONE fused mapInPandas stage straight over the plan's
            partitions: positioned range read, digest the v1 preimage
            immediately, emit only (path, block_num, digest) — chunk
            bytes never leave the Python worker that read them.  Each
            task reads one contiguous range of files in offset order.
            The earlier two-stage form
            (read in pandas, ship content to the JVM, F.sha2 there)
            measured 0.04 GB/s at 1 GB: Arrow-serializing every content
            byte Python→JVM cost more than the hashing itself.  Fusing
            made it ~20x faster.  This keeps the reference's one good
            physical choice — hash before any shuffle (dirhash.py:412-
            413) — and strengthens it: nothing but 32-byte digests ever
            crosses a process boundary, and the whole of stages 2-4 is
            one Spark job of one stage.
  4. COLLECT   unsorted collect of digest rows (tiny).  No cluster sort:
            DataFrame orderBy = range exchange whose boundary sampling
            re-executes the whole read+hash child a second time.  The
            driver sorts the collected tuples with Python tuple order —
            bit-identical to the reference's sortBy (dirhash.py:413),
            including non-ASCII path code-point order.
  5. FOLD   driver-side sequential Merkle chain (inherently ordered)

``chunk_digests`` (content → digest as a DataFrame op, F.sha2 JVM-side
for SHA-2) remains for columnar pipelines whose bytes already live
JVM-side (parquet-sourced columns, SURVEY B39-B41); the directory
pipeline deliberately does not use it.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StringType, StructField, StructType

from ..session import configure
from .chunks import chunk_plan, chunk_plan_df, read_plan_ranges
from .codec import (
    DEFAULT_BLOCK_SIZE,
    build_hash_string,
    chunk_preimage,
    fold_digest,
    fold_header,
    get_hash_func,
    parse_blocksize,
)
from .listing import (
    Entry,
    list_entries,
    listing_for_fold,
    reject_undecodable_paths,
    strip_trailing_slash,
)

_SHA2_BITS = {"sha224": 224, "sha256": 256, "sha384": 384, "sha512": 512}

DIGEST_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("block_num", LongType(), False),
        StructField("digest", BinaryType(), False),
    ]
)


def chunk_digests(chunks: DataFrame, algo: str) -> DataFrame:
    """(path, block_num, content) → (path, block_num, digest)."""
    canonical = algo.lower() if algo.lower().startswith("sha") else algo
    if canonical in _SHA2_BITS:
        bits = _SHA2_BITS[canonical]
        preimage = F.concat(
            F.encode(F.col("path"), "UTF-8"),
            F.lit(b"\x00"),
            F.encode(F.col("block_num").cast("string"), "UTF-8"),
            F.lit(b"\x00"),
            F.col("content"),
        )
        return chunks.select(
            "path", "block_num", F.unhex(F.sha2(preimage, bits)).alias("digest")
        )

    get_hash_func(canonical)  # validate against the whitelist up front

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        func = get_hash_func(canonical)
        for pdf in batches:
            digests = [
                func(chunk_preimage(p, int(n), c)).digest()
                for p, n, c in zip(pdf["path"], pdf["block_num"], pdf["content"])
            ]
            yield pd.DataFrame(
                {"path": pdf["path"], "block_num": pdf["block_num"], "digest": digests}
            )

    return chunks.mapInPandas(hash_batches, DIGEST_SCHEMA)


def _read_hash_ranges(algo: str):
    """Fused range-read + v1-preimage digest over chunk-plan rows.

    Incremental ``update`` calls avoid materializing the concatenated
    preimage (a full extra copy of every chunk).  On the driver-planned
    route (:func:`digest_directory`) a partition is one contiguous run
    of the (path, block_num)-ordered plan, so its reads advance file-
    and offset-ORDERED instead of seeking randomly (sequential range
    reads are the fast path on s3a/hdfs, the case
    ``chunks.open_for_range_read`` exists for), and each file is opened
    at most once per batch; on the cluster-listing route
    (:func:`digest_directory_df`) ``sortWithinPartitions`` after the
    hash exchange gives each partition the same order.  The run split
    supersedes the earlier
    ``repartition(...).sortWithinPartitions(...)`` form and its
    rejected ``repartitionByRange`` alternative: a range split planned
    on the driver, where the listing already is, needs neither a
    shuffle nor a boundary-sampling job.
    """

    def inner(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        func = get_hash_func(algo)
        for pdf in batches:
            digests = []
            # the reader first, so zip exhausts it and its handles close
            for content, path, num in zip(read_plan_ranges(pdf), pdf["path"], pdf["block_num"]):
                h = func()
                h.update(path.encode("utf-8"))
                h.update(b"\x00")
                h.update(str(int(num)).encode("ascii"))
                h.update(b"\x00")
                h.update(content)
                digests.append(h.digest())
            yield pd.DataFrame(
                {"path": pdf["path"], "block_num": pdf["block_num"], "digest": digests}
            )

    return inner


def digest_directory(
    spark: SparkSession, entries, blocksize: int, algo: str
) -> DataFrame:
    """(path, block_num, digest) for every chunk — one job of one stage:
    the fused read+hash runs directly over the driver-planned runs of
    :func:`chunks.chunk_plan`, with no exchange and no sort."""
    get_hash_func(algo)  # whitelist check before any cluster work
    return chunk_plan(spark, entries, blocksize).mapInPandas(
        _read_hash_ranges(algo), DIGEST_SCHEMA
    )


def digest_directory_df(
    spark: SparkSession, entries_df: DataFrame, blocksize: int, algo: str
) -> DataFrame:
    """:func:`digest_directory` from a listing DATAFRAME
    (``listing.ENTRY_DF_SCHEMA``): the chunk plan derives cluster-side,
    so the file list never passes through the driver."""
    get_hash_func(algo)  # whitelist check before any cluster work
    plan = chunk_plan_df(entries_df, blocksize)
    n_parts = max(spark.sparkContext.defaultParallelism, 1)
    return plan.repartition(n_parts, "path", "block_num").sortWithinPartitions(
        "path", "block_num"
    ).mapInPandas(
        _read_hash_ranges(algo), DIGEST_SCHEMA
    )


def fold_header_streamed(h, entries_df: DataFrame) -> None:
    """Stream the v1 fold HEADER from a cluster-side listing into
    hasher ``h``: entry count, NUL, the NUL-separated relative paths in
    cluster sort order (Spark's UTF8String binary order == code-point
    order, matching Python's str sort — parity pinned in
    tests/test_properties.py), trailing NUL — byte-identical to the
    driver-side header :func:`..codec.fold_digest` builds.  One sorted
    partition of path strings is driver-resident at a time, never the
    listing.  THE single definition of the streamed header framing:
    the full-hash fold and the incremental splice both call it, so the
    framing cannot drift between them."""
    h.update(str(entries_df.count()).encode("ascii"))
    h.update(b"\x00")
    paths = (
        entries_df.orderBy("relative_path")
        .select("relative_path")
        # bounded: at most TWO sorted partitions of path strings
        # resident at a time — never the full listing.  Prefetching
        # overlaps the next partition's job with the driver's hash
        # drain (without it the executors sit idle between the
        # per-partition jobs toLocalIterator schedules); measured
        # +30% streamed-fold throughput, r14 BASELINE.md.
        .toLocalIterator(prefetchPartitions=True)
    )
    for i, row in enumerate(paths):
        if i:
            h.update(b"\x00")
        h.update(row["relative_path"].encode("utf-8"))
    h.update(b"\x00")


def fold_digests_streamed(h, digests: DataFrame) -> None:
    """Drain (path, block_num)-sorted chunk digests into hasher ``h``
    — the v1 fold's payload section, cluster-sorted; one sorted
    partition of 32-byte digests driver-resident at a time.  Shared by
    the full-hash streamed fold and the incremental splice (callers
    localCheckpoint ``digests`` first so the orderBy's range-exchange
    sampling never re-runs the read+hash stage)."""
    it = (
        digests.orderBy("path", "block_num")
        .select("digest")
        # bounded: at most TWO sorted partitions of 32-byte digests
        # resident at a time — never the full set (prefetch rationale
        # in fold_header_streamed above)
        .toLocalIterator(prefetchPartitions=True)
    )
    for row in it:
        h.update(bytes(row["digest"]))


def hash_directory_raw(
    spark: SparkSession,
    directory: str,
    hash_algorithm: str = "sha256",
    blocksize: int | None = None,
) -> str:
    """Compute the v1 hex digest of a directory tree (dirhash.py:307-444)."""
    configure(spark)
    blocksize = blocksize or parse_blocksize(DEFAULT_BLOCK_SIZE)
    directory = strip_trailing_slash(directory)

    entries = list_entries(directory, spark)
    reject_undecodable_paths(entries)
    listing = [e.relative_path for e in entries]

    has_bytes = any((not e.is_dir) and e.size > 0 for e in entries)
    if has_bytes:
        rows = digest_directory(spark, entries, blocksize, hash_algorithm).collect()
        # bounded: digests only — 32 bytes + path per CHUNK (see scale
        # note below), never content bytes.
        # Driver-side tuple sort == reference sortBy((path, num)),
        # dirhash.py:413 — and avoids the range-exchange sampling pass
        # that would re-execute the read+hash stage.  Scale bound on this
        # collect(): what moves is digests, never data — 32 bytes + path
        # per CHUNK, so 100 TB at the 128 MiB default blocksize is ~800k
        # rows ≈ tens of MB on the driver; the fold itself is inherently
        # sequential (each step hashes the previous digest,
        # dirhash.py:413-441), so no cluster topology helps it.
        rows.sort(key=lambda r: (r["path"], r["block_num"]))
        digest_list = [bytes(r["digest"]) for r in rows]
    else:
        digest_list = []

    return fold_digest(hash_algorithm, listing, digest_list)


def hash_directory_raw_streamed(
    spark: SparkSession,
    directory: str,
    hash_algorithm: str = "sha256",
    blocksize: int | None = None,
) -> str:
    """:func:`hash_directory_raw` with a constant-memory driver fold —
    the scale variant for listings whose digest set outgrows a
    driver-side ``collect()`` + sort (the one remaining driver-side
    assumption flagged in listing.py).

    A literal tree-reduce cannot exist for the v1 digest: the fold is a
    single hash chain over an ORDERED byte stream (header then chunk
    digests in (path, block_num) order, dirhash.py:422-441), and the
    chain's state at byte k depends on every byte before it.  What CAN
    move off the driver is everything except the O(1) hash state:

    - the LISTING is routed by the serial-walk budget
      (:func:`listing_for_fold`): a tree that lists inside the budget
      keeps the driver-side header fold — by that measurement its
      metadata fits the driver, and the profiled alternative (three
      extra Spark jobs to count/sort/probe a driver-local relation)
      halves small-tree throughput for nothing — while a budget trip
      switches to the cluster-side walk, where per-level rows are
      checkpointed on executors, the header's path sort is a cluster
      ``orderBy``, and the chunk plan derives from the same DataFrame:
      the driver never holds the entry list on the route where it
      could not;
    - sorts run on the cluster (``orderBy`` = range exchange; Spark's
      UTF8String binary comparison equals Python's code-point string
      sort because UTF-8 byte order preserves code-point order, so both
      streams arrive in exactly the order the reference's driver sort
      produced);
    - sorted inputs are ``localCheckpoint``-ed FIRST, so the range
      exchange's boundary-sampling pass re-reads materialized rows,
      not the walk or the fused read+hash stage (the re-execution trap
      that made the collect form avoid ``orderBy``).  Trade-off: a
      local checkpoint pins those rows in executor block-manager
      storage with lineage truncated, so losing an executor mid-drain
      fails the job unrecoverably — acceptable for digest/metadata-
      sized state; a cluster deployment that cannot tolerate the
      restart should use reliable ``checkpoint()`` (or persist with
      replication) at the cost of a distributed-FS write;
    - the driver consumes ``toLocalIterator(prefetchPartitions=True)``
      — at most two sorted partitions resident at a time (the one
      being drained plus the one the executors compute concurrently;
      prefetch overlaps the per-partition jobs with the hash drain,
      +30% measured, r14), each ``update()`` feeding the chain — and
      never materializes the NUL-joined listing copy that
      ``fold_digest`` builds.

    Peak driver memory: TWO partitions of path strings or digests (plus
    one level's directory frontier during the walk), versus the collect
    form's full listing + joined-listing copy + every digest row +
    Python sort overhead.  Output is bit-identical to
    :func:`hash_directory_raw` (pinned against the golden digests and
    on randomized trees in tests/test_dirhash_e2e.py).
    """
    configure(spark)
    blocksize = blocksize or parse_blocksize(DEFAULT_BLOCK_SIZE)
    directory = strip_trailing_slash(directory)

    entries, entries_df = listing_for_fold(spark, directory)
    h = get_hash_func(hash_algorithm)()
    if entries is not None:
        # serial route: header folds driver-side over the (budget-
        # bounded) listing via codec.fold_header — the SAME definition
        # the collect form uses, never an inline copy
        reject_undecodable_paths(entries)
        fold_header(h, [e.relative_path for e in entries])
        has_bytes = any((not e.is_dir) and e.size > 0 for e in entries)
        digests = (
            digest_directory(spark, entries, blocksize, hash_algorithm)
            if has_bytes
            else None
        )
    else:
        fold_header_streamed(h, entries_df)
        has_bytes = (
            entries_df.where((~F.col("is_dir")) & (F.col("size") > 0)).limit(1).count()
            > 0
        )
        digests = (
            digest_directory_df(spark, entries_df, blocksize, hash_algorithm)
            if has_bytes
            else None
        )

    if digests is not None:
        fold_digests_streamed(h, digests.localCheckpoint())
    return h.hexdigest()


def hash_directory(
    spark: SparkSession,
    directory: str,
    hash_algorithm: str = "sha256",
    blocksize: str = DEFAULT_BLOCK_SIZE,
    streamed: bool = False,
) -> str:
    """Full lifecycle → versioned hash string ``v1-<algo>-<bs>-<hex>``.

    ``streamed=True`` selects the constant-memory driver fold
    (:func:`hash_directory_raw_streamed`) — same digest, cluster-side
    sort, one partition on the driver at a time.
    """
    raw = hash_directory_raw_streamed if streamed else hash_directory_raw
    hex_digest = raw(spark, directory, hash_algorithm, parse_blocksize(blocksize))
    return build_hash_string(hash_algorithm, blocksize, hex_digest)
