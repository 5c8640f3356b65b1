from go_web_mapreduce_spark.sources.tables import (  # noqa: F401
    TABLES,
    kv_from_rows,
    load_table,
)
