"""Global docID assignment: dense int64 ids in url order, cluster-scalable
and re-execution-safe.

Reference parity: PageIndex's positional docID is the page's 1-based
``physical_index`` (``/root/reference/pageindex/utils.py:417-440`` list
position; tag parse ``utils.py:520-540``). Here the docID must be global,
dense, and ordered the same way the tie-break orders urls (score desc, url
asc), so that docID order == url order and WAND's docID tie-break equals the
oracle's url tie-break.

Determinism hazard this design dodges: ``repartitionByRange`` SAMPLES its
range boundaries per job execution (the sample seed derives from the
physical RDD, which Catalyst re-creates per action). Running one job to
count partition sizes and a second to write data can therefore see
DIFFERENT boundaries — silently corrupting offset-based docIDs (observed in
this repo as compaction's "runs overlap" assertion at local[8]). The fix:

1. ONE job performs the range shuffle and writes ``(part_id, local_pos,
   url, text, doc_len)`` partitioned by part_id — boundaries are sampled
   exactly once and frozen in the committed files;
2. offsets are then derived from the committed files (metadata-only read);
3. ``doc_id = offsets[part_id] + local_pos`` is a cheap projection attached
   at read time via a broadcast join with the tiny offsets table.

Every downstream consumer sees the same committed bytes, so docIDs are
reproducible across jobs, retries and resumes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ..session import local_df


def add_partition_pos(docs: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Range-shuffle by url and add ``part_id`` (int32) + ``local_pos``
    (int64, 0-based within partition). Single-job; each output partition
    owns a contiguous url range sorted ascending."""
    spark = docs.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = docs.repartitionByRange(num_partitions, "url").sortWithinPartitions("url")

    out_type = StructType(
        [
            StructField("part_id", IntegerType(), False),
            StructField("local_pos", LongType(), False),
        ]
        + list(ranged.schema.fields)
    )

    def add_pos(iterator: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        pos = 0
        for batch in iterator:
            n = batch.num_rows
            pids = pa.array([pid] * n, pa.int32())
            poss = pa.array(range(pos, pos + n), pa.int64())
            pos += n
            yield pa.RecordBatch.from_arrays(
                [pids, poss] + batch.columns,
                names=["part_id", "local_pos"] + batch.schema.names,
            )

    return ranged.mapInArrow(add_pos, schema=out_type)


def offsets_from_counts(counts: dict[int, int], num_partitions: int) -> list[int]:
    """Partition sizes -> starting docID per partition (the docID grid)."""
    offsets: list[int] = []
    acc = 0
    for pid in range(num_partitions):
        offsets.append(acc)
        acc += counts.get(pid, 0)
    return offsets


def partition_counts(ext: DataFrame) -> dict[int, int]:
    """Rows per part_id from a COMMITTED extract table (metadata-cheap)."""
    rows = ext.groupBy("part_id").count().collect()
    return {int(r["part_id"]): int(r["count"]) for r in rows}


def attach_doc_ids(ext: DataFrame, offsets: list[int]) -> DataFrame:
    """+ ``doc_id`` = offsets[part_id] + local_pos via a broadcast join with
    the P-row offsets table (exact, no sampling, re-execution-safe)."""
    spark = ext.sparkSession
    off_df = local_df(
        spark,
        [(int(pid), int(off)) for pid, off in enumerate(offsets)],
        "part_id int, _offset long",
    )
    return (
        ext.join(F.broadcast(off_df), "part_id")
        .withColumn("doc_id", (F.col("_offset") + F.col("local_pos")).cast("long"))
        .drop("_offset")
    )


def assign_doc_ids(
    docs: DataFrame, num_partitions: int | None = None
) -> tuple[DataFrame, list[int]]:
    """In-memory convenience (tests / small corpora): cache the single
    range-shuffled result, then attach ids. The build pipeline instead goes
    through its committed extract table — see plans/build_index.py."""
    spark = docs.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    pos = add_partition_pos(docs, num_partitions)
    pos.cache()  # freeze the sampled boundaries for both jobs below
    offsets = offsets_from_counts(partition_counts(pos), num_partitions)
    return attach_doc_ids(pos, offsets), offsets
