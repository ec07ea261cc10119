from distributed_mapreduce_spark.sources.catalog import (  # noqa: F401
    TABLES,
    load,
    table,
    whole_documents,
    widen,
)
