"""Sources & sinks: scans in, writers out.

The reference's only source was a hardcoded local directory of raw text
files (``map_reduce.cpp:477-495``: ``opendir``/``readdir`` on
``./RawText/``) and its only sink a sorted ``<word, count>`` text file
per process (``map_reduce.cpp:440-450``).  Both are generalized here.
"""

from .tables import TABLES, load_table, register_temp_views
from .text import read_text_dir, tokens_from_text
from .sinks import write_reference_format, write_table

__all__ = [
    "TABLES",
    "load_table",
    "register_temp_views",
    "read_text_dir",
    "tokens_from_text",
    "write_reference_format",
    "write_table",
]
