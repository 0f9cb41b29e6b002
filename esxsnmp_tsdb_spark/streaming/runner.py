"""Structured Streaming harness: fixture parquet replayed through the file
source, results landed in a memory sink synchronously (SURVEY.md §2.6 —
the reference's 'streaming' is the poller ingest loop †; here it is a real
``readStream`` micro-batch pipeline).

``run_to_memory`` drives the query to completion with
``processAllAvailable`` — the file source delivers the fixture as
micro-batches, the final no-data batch advances the watermark so
append-mode windows can close deterministically.
"""

from __future__ import annotations

import hashlib
import itertools
import os

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


def run_to_memory(
    result: DataFrame, output_mode: str, spark: SparkSession
) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink; return
    the sink table as a batch DataFrame."""
    name = f"stream_sink_{next(_SINK_IDS)}"
    ckpt = scratch_dir("ckpt_")
    q = (
        result.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)
