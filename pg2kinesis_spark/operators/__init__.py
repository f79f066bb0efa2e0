from pg2kinesis_spark.operators.test_decoding import parse_test_decoding  # noqa: F401
from pg2kinesis_spark.operators.wal2json import parse_wal2json  # noqa: F401
from pg2kinesis_spark.operators.formatters import (  # noqa: F401
    format_csv,
    format_csvpayload,
    filter_operations,
)
