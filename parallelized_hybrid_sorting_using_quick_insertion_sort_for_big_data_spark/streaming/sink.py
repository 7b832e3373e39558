"""The one runner behind every streaming query in the package.

:func:`run_stream` owns the whole lifecycle of a replay stream over the
events file: stage the file into a scratch source dir, read it back as a
file stream, let the caller's ``build`` turn it into the query, drain that
query synchronously through ``foreachBatch`` → parquet, and remove the
staged source and checkpoint once the stream stops. Callers keep only
their transformation.

A ``memory`` sink materializes every micro-batch's output in DRIVER memory;
fine for a notebook, a bottleneck the moment update history exceeds the
driver heap. ``foreachBatch`` writes each micro-batch distributed,
executor-side, straight to parquet: the driver only coordinates, and any
post-hoc reduction (e.g. last-update-per-key) runs as a distributed read of
the sink directory. This is also the production topology — the same
callback targets object storage / a warehouse table unchanged.

Sink directories live under the session temp dir and are removed at
process exit (the returned DataFrame stays readable for the session's
lifetime).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import normalize_event_ts

#: Shuffle-partition count a stream runs with while it is live. Each
#: stateful exchange materializes ONE state-store instance and one sink file
#: per shuffle partition per trigger — at 32 partitions a 3-trigger demo
#: pays 96 store commits + 96 parquet footers of pure overhead. 8 keeps the
#: demos honest locally; a production job sizes this to its key
#: cardinality/throughput, not to the core count.
STREAM_SHUFFLE_PARTITIONS = 8

#: A staging form: ``stage(src, events_file, src_dir)`` fills the empty
#: ``src_dir`` with the parquet files the stream reads, one per trigger, in
#: modification-time order; ``src`` is the batch read of ``events_file``.
Stage = Callable[[DataFrame, str, str], None]


def stage_copies(k: int = 1) -> Stage:
    """Stage the events file ``k`` times: copy ``i`` arrives in trigger
    ``i``, so ``k > 1`` replays the same rows in later micro-batches."""

    def stage(_src: DataFrame, events_file: str, src_dir: str) -> None:
        for i in range(k):
            shutil.copy(events_file, os.path.join(src_dir, f"copy{i}.parquet"))

    return stage


def stage_chunks(n: int, key: Column | None = None) -> Stage:
    """Split the events file into ``n`` chunks by ``key`` (values
    ``0..n-1``; default ``event_id % n``, which spreads every time range
    over all chunks), ONE parquet file per chunk — so each trigger reads its
    chunk as one partition — with ascending mtimes, so chunk ``i`` arrives
    in trigger ``i``."""
    if key is None:
        key = F.pmod(F.col("event_id"), F.lit(n))

    def stage(src: DataFrame, _events_file: str, src_dir: str) -> None:
        split_dir = src_dir + "_split"
        try:
            # hash-repartitioning on the chunk key puts each chunk in one
            # task, so partitionBy writes exactly one file per chunk
            src.withColumn("__c", key).repartition(n, "__c").write.partitionBy(
                "__c"
            ).parquet(split_dir)
            for i in range(n):
                part_dir = os.path.join(split_dir, f"__c={i}")
                if not os.path.isdir(part_dir):
                    continue  # empty chunk
                (part,) = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
                dst = os.path.join(src_dir, f"chunk_{i}.parquet")
                shutil.move(os.path.join(part_dir, part), dst)
                os.utime(dst, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
        finally:
            shutil.rmtree(split_dir, ignore_errors=True)

    return stage


def run_stream(
    spark: SparkSession,
    events_file: str,
    build: Callable[[DataFrame], DataFrame],
    stage: Stage | None = None,
    output_mode: str = "update",
    shuffle_partitions: int = STREAM_SHUFFLE_PARTITIONS,
) -> tuple[DataFrame, list]:
    """Run ``build(events)`` as a Structured Streaming job over a replay of
    ``events_file`` and drain it. Returns the sink frame and the query's
    ``recentProgress``.

    ``stage`` picks how the file is replayed (default: one copy, see
    :func:`stage_copies`); the stream reads one staged file per trigger
    with the file's own schema, ``ts`` normalized by ``normalize_event_ts``.
    ``spark.sql.shuffle.partitions`` is set to ``shuffle_partitions`` while
    the query runs (the value is latched into the query's state layout) and
    restored after. Each
    micro-batch is written executor-side: appended for update/append-mode
    deltas, overwriting in complete mode, where each batch carries the full
    result. The staged source and the checkpoint are removed once the
    stream stops, whether or not it succeeded."""
    name = f"phsqis_stream_{uuid.uuid4().hex[:8]}"
    tmp = tempfile.gettempdir()
    src_dir = os.path.join(tmp, name + "_src")
    checkpoint = os.path.join(tmp, name + "_ckpt")
    out_dir = os.path.join(tmp, name + "_out")
    os.makedirs(out_dir)
    atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
    write_mode = "overwrite" if output_mode == "complete" else "append"

    def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode(write_mode).parquet(out_dir)

    prev_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        src = spark.read.parquet(events_file)
        os.makedirs(src_dir)
        (stage or stage_copies(1))(src, events_file, src_dir)
        events = normalize_event_ts(
            spark.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        stream_df = build(events)
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint)
            .start()
        )
        try:
            q.processAllAvailable()
            progress = q.recentProgress
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_partitions)
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(checkpoint, ignore_errors=True)

    if any(f.endswith(".parquet") for f in os.listdir(out_dir)):
        return spark.read.parquet(out_dir), progress
    # the stream emitted nothing: an empty frame with the query's schema
    return spark.createDataFrame([], stream_df.schema), progress
