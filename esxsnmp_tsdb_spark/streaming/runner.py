"""Structured Streaming harness: fixture parquet replayed through the file
source, results landed in a memory sink synchronously (SURVEY.md §2.6 —
the reference's 'streaming' is the poller ingest loop †; here it is a real
``readStream`` micro-batch pipeline).

``run_to_memory`` (memory sink) and ``drive`` (``foreachBatch`` sink)
are the only ways a query is run: started, driven to completion with
``processAllAvailable`` and stopped — the file source delivers the
fixture as micro-batches, the final no-data batch advances the watermark
so append-mode windows can close deterministically.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esxsnmp_tsdb_spark.operators._workdirs import scratch_dir, session_root
from esxsnmp_tsdb_spark.sources.catalog import (
    fixture_schema,
    tune_on_first_use,
    with_timestamps,
)

_SINK_IDS = itertools.count()


def _stream_dir(sf_dir: str, table: str) -> str:
    """The streaming file source requires a *directory*; stage one under
    the session root holding a symlink to the (read-only) fixture file."""
    tag = hashlib.md5(f"{sf_dir}/{table}".encode()).hexdigest()[:12]
    d = os.path.join(session_root(), f"stream_src_{tag}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{table}.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/{table}.parquet", link)
    return d


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`events` as a micro-batched stream with a proper timestamp column —
    the streaming twin of ``sources.catalog.load_table('events')``.  The
    file source needs an explicit schema; the footer's is read at every
    call, so a fixture rewritten in place is streamed as it now is.
    Event-time ops need TimestampType, so ``ts`` is cast to it whatever
    its stored encoding."""
    tune_on_first_use(spark)
    schema, nanos = fixture_schema(sf_dir, "events")
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_stream_dir(sf_dir, "events"))
    )
    return with_timestamps(raw, nanos).withColumn("ts", F.col("ts").cast("timestamp"))


def stage_ordered_slices(slices, src: str) -> None:
    """Stage each slice DataFrame as ``src/part=<i>`` with STRICTLY
    INCREASING mtimes.  FileStreamSource delivers files in mod-time
    order; sequential writes make that non-decreasing, but a coarse-
    timestamp filesystem could tie two slices and flip them — fatal
    whenever later micro-batches depend on earlier ones' outputs (carry
    state in the RRD pipeline twin, appended index epochs in
    stream_dedup_indexed).  Pinning the mtimes makes epoch i ≡ slice i
    deterministic.

    ``repartition(1)``, NOT ``coalesce(1)``: coalesce folds the whole
    upstream scan+filter into the single writer task, so staging a
    slice runs one-threaded end-to-end — at the scaling probe's 100x
    point that one-task read was 48% of the measured pipeline growth
    (docs/SCALING_r12.json).  repartition keeps the scan parallel and
    shuffles into the single writer; the consumers re-sort within the
    batch (windows over (tse, event_id), set-joins), so in-file row
    order is semantically free.  Only CROSS-slice order is
    load-bearing, and that stays pinned by the mtimes.

    ``sortWithinPartitions(*columns)`` after the repartition:
    round-robin repartition makes the single file's ROW ORDER
    depend on reducer fetch order — run-to-run nondeterministic.  A
    full-row sort of one already-shuffled partition pins the staged
    bytes for free, so no order-sensitive reader inherits a flake."""
    for i, df in enumerate(slices):
        df.repartition(1).sortWithinPartitions(*df.columns).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, f"part={i}"))
    base_t = int(time.time())
    for i in range(len(slices)):
        pdir = os.path.join(src, f"part={i}")
        for name in os.listdir(pdir):
            os.utime(os.path.join(pdir, name), (base_t + 60 * i,) * 2)


def _run(writer) -> None:
    """Start a stream writer's query, drive it to completion, stop it."""
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def drive(stream: DataFrame, fn, ckpt: str) -> None:
    """Run a ``foreachBatch(fn)`` query over ``stream`` to completion,
    checkpointing at ``ckpt`` (which must start empty unless the query
    is meant to resume, as a replay is)."""
    _run(stream.writeStream.foreachBatch(fn).option("checkpointLocation", ckpt))


def run_to_memory(
    result: DataFrame, output_mode: str, spark: SparkSession
) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink; return
    the sink table as a batch DataFrame."""
    name = f"stream_sink_{next(_SINK_IDS)}"
    ckpt = scratch_dir("ckpt_")
    _run(
        result.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
    )
    return spark.table(name)
