from raqc_spark.functions.hashing import (
    content_sha_col,
    partition_id_col,
    with_derived,
    with_partition_id,
)

__all__ = [
    "content_sha_col",
    "partition_id_col",
    "with_derived",
    "with_partition_id",
]
