from .decode_detect import TABLES_SCHEMA
from .assemble import assemble_spans_sql, SPANS_SCHEMA
from .resume import filter_unprocessed

__all__ = [
    "TABLES_SCHEMA",
    "assemble_spans_sql",
    "SPANS_SCHEMA",
    "filter_unprocessed",
]
