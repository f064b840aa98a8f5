from nginx_log_spark.parse.arrow_parser import (  # noqa: F401
    STRICT_PATTERN,
    parse_lines_arrow,
    parse_sequences_arrow,
    parse_tier_stats,
    token_histogram,
)
from nginx_log_spark.parse.parser import (  # noqa: F401
    CORE_PATTERN,
    PARSED_FIELDS,
    decode_tokens,
)
from nginx_log_spark.parse.text_source import (  # noqa: F401
    codec_splittable,
    read_log_lines,
    widen_lines,
)

# the engine parser: the Arrow-native two-tier parser (RE2 strict path +
# exact-atomic-regex fallback; tests/test_arrow_parser.py fuzzes it against
# oracle.py)
parse_sequences = parse_sequences_arrow
parse_lines = parse_lines_arrow
