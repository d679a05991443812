from binancedatapipeline_spark.streaming.jobs import (
    resample_klines,
    stream_premium,
    stream_upsert,
)

__all__ = [
    "resample_klines",
    "stream_premium",
    "stream_upsert",
]
