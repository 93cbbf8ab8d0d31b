"""Named query registry.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame`` with an
equivalent DuckDB oracle SQL string (None for non-SQL-expressible ops, which
get a rows-only check). Names map to SURVEY.md §2 operator ids; the Spark
side and the SQL side alias every computed column identically.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile
import threading
from dataclasses import dataclass, field
from collections.abc import Callable

_scratch_root: str | None = None
_scratch_seq = itertools.count()
_scratch_lock = threading.Lock()


def scratch_dir(name: str) -> str:
    """A fresh, empty directory for one query's sources, sinks and
    checkpoints. All of them live under one per-process root (made on first
    use under ``TMPDIR``) that is removed at interpreter exit, not on
    return: queries hand back lazy ``spark.read.parquet`` frames over these
    directories, so the files must outlive the call."""
    global _scratch_root
    with _scratch_lock:
        if _scratch_root is None:
            _scratch_root = tempfile.mkdtemp(prefix="gmall_scratch_")
            atexit.register(shutil.rmtree, _scratch_root, ignore_errors=True)
        path = os.path.join(_scratch_root, f"{name}_{next(_scratch_seq)}")
    os.makedirs(path)
    return path


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable  # (spark, sf_dir) -> DataFrame
    oracle: str | None  # DuckDB SQL or None → rows-only check
    doc: str = ""
    tags: tuple[str, ...] = ()


def registry() -> dict[str, QuerySpec]:
    from . import analytics, dwd, gmall, graphq, llm, r8, r9, r10, r11, streamq, tpch, tpch_ext

    out: dict[str, QuerySpec] = {}
    for mod in (gmall, llm, tpch, tpch_ext, analytics, dwd, streamq, graphq, r8, r9, r10, r11):
        for spec in mod.SPECS:
            assert spec.name not in out, f"duplicate query name {spec.name}"
            out[spec.name] = spec
    return out
