"""Crash-safe publish of a small state directory on a local filesystem.

Every mergeable state here (the BM25 corpus/term stats, the streaming
sketch states, the compacted dense log) is replaced as a whole
directory:

  swap       ``write_fn(<dir>__tmp)`` writes the new state into a
             staging dir, then ``rename(dir, dir__old)`` +
             ``rename(dir__tmp, dir)`` publish it and ``dir__old`` is
             dropped. A reader therefore sees either the old state or
             the new one, never a mix.
  read       reads ``dir[/sub]``, falling back to ``dir__old[/sub]``:
             a crash between the two renames leaves the state only at
             ``__old``.
  last_batch the ``_last_batch`` replay marker. It rides inside the
             staging dir (the underscore keeps it invisible to parquet
             readers), so the publishing rename makes a state and its
             batch watermark visible together. Structured Streaming
             replays a crashed batch under the SAME batch_id, so
             ``batch_id <= last_batch(dir)`` means the state already
             holds the batch and an additive merge must be skipped.

On an object store the same shape is a new key prefix plus a manifest
pointer flip.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

_MARKER = "_last_batch"


def read(spark: SparkSession, path: str, sub: str | None = None) -> DataFrame | None:
    """Read the published state at ``path`` (or its ``sub`` table) with
    the ``__old`` crash-window fallback. Returns None ONLY when neither
    location exists (a genuinely first batch); a read failure on an
    EXISTING state propagates — treating any read error as first-batch
    would silently reset the state to the latest delta."""
    base = os.path.join(path, sub) if sub else path
    old = os.path.join(path + "__old", sub) if sub else path + "__old"
    if os.path.exists(base):
        try:
            return spark.read.parquet(base)
        except Exception:
            if os.path.exists(old):
                return spark.read.parquet(old)
            raise
    if os.path.exists(old):
        return spark.read.parquet(old)
    return None


def swap(path: str, write_fn: Callable[[str], None],
         batch_id: int | None = None) -> None:
    """Atomically replace the directory at ``path`` with what
    ``write_fn(staging_dir)`` writes. ``batch_id`` stamps the
    ``_last_batch`` marker into the new state; without it the existing
    marker is carried forward, so a non-streaming writer (exact rebuild,
    GDPR delete, compaction) keeps the stream's watermark."""
    tmp = path + "__tmp"
    old = path + "__old"
    shutil.rmtree(tmp, ignore_errors=True)
    write_fn(tmp)
    marker = os.path.join(path, _MARKER)
    if batch_id is not None:
        with open(os.path.join(tmp, _MARKER), "w") as fh:
            fh.write(str(int(batch_id)))
    elif os.path.exists(marker):
        shutil.copy(marker, os.path.join(tmp, _MARKER))
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def last_batch(path: str) -> int | None:
    """The state's ``_last_batch`` marker, with the same ``__old``
    fallback as read(); None when no batch was ever merged."""
    for p in (path, path + "__old"):
        f = os.path.join(p, _MARKER)
        if os.path.exists(f):
            with open(f) as fh:
                return int(fh.read().strip())
    return None
