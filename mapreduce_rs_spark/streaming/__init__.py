from mapreduce_rs_spark.streaming.pipeline import (  # noqa: F401
    ingest_epoch,
    run_ingest_loop,
    run_stream,
    run_streaming_neardup_ingest,
    streaming_tumbling_counts,
)
