"""S6: dataset checksum for memoization, over one driver-side file listing.

The reference md5-hashes every ``*.gz`` file (``dataset/utils.py:64-67``);
here the md5 is over the (path, length, mtime) listing from ``os.scandir``
(py4j ``globStatus`` costs a round trip per file attribute). It is Spark's
file set and path strings: ``*`` matches ``_x``/``.x`` directories, ``_``/``.``
file names are left out, a matched directory stands for its visible files.
Callers scan exactly the listed paths: the checksum describes what was read.
"""

from __future__ import annotations

import fnmatch
import hashlib
import os
from collections.abc import Iterator

#: one listed file: (``file:/abs/path``, length in bytes, mtime in ms)
File = tuple[str, int, int]


def list_files(root: str, pattern: str) -> list[File]:
    """The files Spark would read for ``root/pattern``, sorted by path."""
    return sorted(_scan(os.path.abspath(root), pattern.split("/")))


def _scan(path: str, parts: list[str]) -> Iterator[File]:
    """Match ``parts`` one level each; then every visible file below counts."""
    with os.scandir(path) as entries:
        for e in entries:
            hidden = e.name.startswith(("_", "."))
            if parts and not fnmatch.fnmatchcase(e.name, parts[0]) or not parts and hidden:
                continue
            if e.is_dir():
                yield from _scan(e.path, parts[1:])
            elif len(parts) <= 1 and not hidden:
                st = e.stat()
                yield f"file:{e.path}", st.st_size, st.st_mtime_ns // 1_000_000


def dataset_checksum(files: list[File]) -> str:
    """md5 over the per-file md5s of ``path|length|mtime_micros``, in path
    order: byte for byte the md5 over Spark's ``binaryFile`` metadata
    columns (pinned in ``tests/test_sources.py``)."""
    per_file = (
        hashlib.md5(f"{path}|{length}|{mtime_ms * 1000}".encode()).hexdigest()
        for path, length, mtime_ms in sorted(files)
    )
    return hashlib.md5("".join(per_file).encode()).hexdigest()
