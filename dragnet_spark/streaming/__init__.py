from .extract_stream import run_file_stream  # noqa: F401
from .dedup_stream import dedup_stream, run_dedup_stream  # noqa: F401
