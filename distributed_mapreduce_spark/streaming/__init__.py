from distributed_mapreduce_spark.streaming.replay import (  # noqa: F401
    event_stream,
    run_available_now,
    stage_chunks,
)
