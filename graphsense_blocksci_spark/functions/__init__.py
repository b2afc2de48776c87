from graphsense_blocksci_spark.functions.layout import (
    bucket_group,
    tx_hash_prefix,
)
from graphsense_blocksci_spark.functions.addresses import (
    address_type_code,
    render_address,
    build_io_struct,
)
from graphsense_blocksci_spark.functions.coinjoin import is_coinjoin
from graphsense_blocksci_spark.functions.io_aggs import io_total_value

__all__ = [
    "bucket_group",
    "tx_hash_prefix",
    "address_type_code",
    "render_address",
    "build_io_struct",
    "is_coinjoin",
    "io_total_value",
]
