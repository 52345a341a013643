from opensearch_spark.analysis.analyzer import (  # noqa: F401
    MAX_TOKEN_LENGTH,
    TOKEN_PATTERN,
    duckdb_token_regex,
    tokenize,
    tokenize_pandas,
)
from opensearch_spark.analysis.smallfloat import (  # noqa: F401
    byte4_to_int,
    int_to_byte4,
    length_table,
    quantize_length,
)
