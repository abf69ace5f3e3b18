"""Output check of the ``mr_compat`` program: its text output, read back
as bytes for comparison with what plain Python computed.  Catalog
queries are checked with the repo's own oracle gate,
``tests.oracle_utils.compare_query``."""

from __future__ import annotations

import glob
import os


def text_output_bytes(out_dir: str) -> bytes:
    """Concatenated part files of a Spark text output directory."""
    data = b""
    for part in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(part, "rb") as f:
            data += f.read()
    return data
