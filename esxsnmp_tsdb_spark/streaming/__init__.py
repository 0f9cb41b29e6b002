from esxsnmp_tsdb_spark.streaming.runner import (
    drive,
    events_stream,
    run_to_memory,
    stage_ordered_slices,
)

__all__ = ["drive", "events_stream", "run_to_memory", "stage_ordered_slices"]
