from lagom_kinesis_spark.sources.kinesis_sim import (  # noqa: F401
    KinesisSimDataSource,
    put_records,
)
