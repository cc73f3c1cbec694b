"""Replay helpers for the streaming tests: split a table with a ``ts``
column into chronological parquet chunks, one file per micro-batch."""

from __future__ import annotations

import os
import shutil
import time


def _ts_chunk_edges(df, n: int) -> list[float]:
    """Quantile boundaries of ``ts`` (unix micros) splitting ``df`` into
    ``n`` chronological chunks."""
    bounds = df.selectExpr(
        f"percentile(unix_micros(ts), array({', '.join(str((i + 1) / n) for i in range(n - 1))})) AS b"
    ).collect()[0]["b"]
    return [float("-inf")] + list(bounds) + [float("inf")]


def _write_chunks(df, edges: list[float], dest: str) -> None:
    """Write one parquet FILE per chronological chunk with
    lexicographically-increasing names AND strictly-increasing mtimes.

    Spark's FileStreamSource orders pending files by (modification
    time, path); relying on write-order mtimes alone breaks on
    coarse-granularity filesystems (two chunks landing in the same
    mtime tick could replay out of order and perturb the peak-state
    metric). Deterministic names + explicit ``os.utime`` make the
    replay order a property of the data, not the filesystem.
    """
    from pyspark.sql import functions as F

    os.makedirs(dest, exist_ok=True)
    base = time.time() - 3600
    for i in range(len(edges) - 1):
        tmp = f"{dest}__tmp"
        df.filter(
            (F.unix_micros("ts") > edges[i]) & (F.unix_micros("ts") <= edges[i + 1])
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        final = f"{dest}/chunk_{i:03d}.parquet"
        os.replace(f"{tmp}/{part}", final)
        os.utime(final, (base + i, base + i))
        shutil.rmtree(tmp, ignore_errors=True)
