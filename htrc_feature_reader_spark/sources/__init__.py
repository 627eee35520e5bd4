from .ef_json import (  # noqa: F401
    check_schema_versions,
    read_ef_json,
    tokenlist_from_ef,
    section_features_from_ef,
    page_features_from_ef,
    line_chars_from_ef,
    volumes_from_ef,
)
from .parquet_quad import read_quad, write_quad  # noqa: F401
from .jsonl_raw import read_jsonl, write_jsonl  # noqa: F401
from . import ids  # noqa: F401
