from .parquet_source import TABLES, load_table, register_views  # noqa: F401
from .csv_source import (  # noqa: F401
    file_lines,
    read_csv_dir,
    read_csv_file_metadata,
)
from .jsonl_source import (  # noqa: F401
    read_jsonl_dir,
    split_quarantine,
)
