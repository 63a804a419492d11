from liresolr_spark.functions.tokenizer import (  # noqa: F401
    hash_tokens_expr,
    java_hex32,
    murmur_hash_tokens_expr,
    py_hash_token,
    py_tokenize,
    tokenize_expr,
    tokenize_sql_duckdb,
)
from liresolr_spark.functions.codec import (  # noqa: F401
    decode_block,
    decode_blocks,
    delta_decode,
    delta_encode,
    encode_block,
    varint_decode,
    varint_encode,
)
