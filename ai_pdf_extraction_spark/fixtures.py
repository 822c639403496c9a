"""Content-keyed, atomic fixture cache under ``/tmp``.

The contract's goldens, fixture corpora and trained codes are built
once and read back by path (DuckDB ``read_parquet`` literals, Spark
scans). Each one is one ``cached(name, key, build)`` call: the path is
``/tmp/spark_graft_<name>_<12 hex of key>``, so a fixture is found again
exactly when everything it was built from is unchanged. The key holds
every version constant the fixture depends on, the ``parquet_digest``
of each input table and the build parameters — never a path or an
mtime, which name a table but not its content.

``build(tmp)`` writes a file or a directory at a unique sibling path,
which is published with one rename: a reader never sees a half-written
fixture, and concurrent builds of the same key publish identical
content. Like ``persist``, this module imports nothing from the package.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid
from collections.abc import Callable


def parquet_digest(path: str) -> str:
    """md5 of a parquet file's footer bytes — schema, row count,
    per-chunk sizes and statistics. A rewritten table changes it; a
    byte copy at another path or with a fresh mtime does not."""
    with open(path, "rb") as fh:
        # file tail: <footer><4-byte little-endian footer length>PAR1
        fh.seek(-8, os.SEEK_END)
        footer_len = int.from_bytes(fh.read(4), "little")
        fh.seek(-8 - footer_len, os.SEEK_END)
        return hashlib.md5(fh.read(footer_len)).hexdigest()


def _remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    elif os.path.lexists(path):
        os.remove(path)


def cached(name: str, key: tuple, build: Callable[[str], object]) -> str:
    """Path of the fixture ``name`` for ``key``, calling ``build(tmp)``
    and publishing ``tmp`` first if it does not exist yet. A build that
    raises leaves neither the path nor its temporary behind."""
    path = f"/tmp/spark_graft_{name}_{hashlib.md5(repr(key).encode()).hexdigest()[:12]}"
    if os.path.exists(path):
        return path
    tmp = f"{path}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    try:
        build(tmp)
    except BaseException:
        _remove(tmp)
        raise
    try:
        os.rename(tmp, path)
    except OSError:
        # lost the race: a directory cannot replace the identical one
        # another process published first
        _remove(tmp)
        if not os.path.exists(path):
            raise
    return path
