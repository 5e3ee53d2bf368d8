from datas_spark.io.sources import (  # noqa: F401
    read_json_auto,
    read_table,
    row_range,
    with_row_id,
)
from datas_spark.io.sinks import write_json, write_parquet  # noqa: F401
