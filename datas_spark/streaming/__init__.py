from datas_spark.streaming.scoring import (  # noqa: F401
    enrich_stream,
    join_streams,
    sessionize,
)
