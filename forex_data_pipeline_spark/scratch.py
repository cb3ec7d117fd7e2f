"""Per-process scratch directories, swept at interpreter exit.

Streaming/versioned-table queries stage source chunks, checkpoints,
and state ledgers on local disk. ``tempfile.mkdtemp`` alone leaks
those across repeated full-catalog sweeps (gigabytes at sf0.1).
``scratch_dir`` parents everything under one per-process root that an
``atexit`` hook removes, so a sweep leaves /tmp as it found it while
any DataFrame returned from a query can still lazily read its state
files for the remainder of the process.

Callers that finish with a directory mid-process (e.g. a stream
source after ``awaitTermination``) should additionally ``rmtree`` it
eagerly; the atexit sweep is the backstop, not the primary cleanup.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_ROOT: str | None = None


def scratch_root() -> str:
    """The per-process scratch root (created on first use)."""
    global _ROOT
    if _ROOT is None:
        _ROOT = tempfile.mkdtemp(prefix="fx_scratch_")
        atexit.register(shutil.rmtree, _ROOT, ignore_errors=True)
    return _ROOT


def scratch_dir(prefix: str = "") -> str:
    """A fresh directory under the swept scratch root."""
    return tempfile.mkdtemp(prefix=prefix, dir=scratch_root())


def stage_hash_chunks(df: DataFrame, id_col: str, n: int, src: str) -> None:
    """Stage ``df`` into the directory ``src`` as stream-source parquet
    files, one group per hash chunk ``(id_col * 2654435761) % n``, in
    ONE pass over ``df`` (``write.partitionBy`` on the chunk key, not n
    filtered scans). Every file the writer leaves under a chunk
    directory moves to ``src/chunk_<k>_<i>.parquet``; a chunk no row
    hashes to has no directory and stages nothing, so the stream runs
    one micro-batch fewer instead of failing or dropping rows."""
    stage = scratch_dir("fx_stage_")
    (
        df.withColumn("chunk", (F.col(id_col) * F.lit(2654435761)) % n)
        .repartition(n, "chunk")
        .write.mode("overwrite")
        .partitionBy("chunk")
        .parquet(stage)
    )
    for chunk_dir in sorted(os.listdir(stage)):
        if not chunk_dir.startswith("chunk="):
            continue
        k = chunk_dir.split("=", 1)[1]
        parts = sorted(
            f
            for f in os.listdir(os.path.join(stage, chunk_dir))
            if f.endswith(".parquet")
        )
        for i, part in enumerate(parts):
            os.rename(
                os.path.join(stage, chunk_dir, part),
                os.path.join(src, f"chunk_{k}_{i}.parquet"),
            )
    shutil.rmtree(stage, ignore_errors=True)
