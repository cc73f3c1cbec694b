"""Materialized table sinks (SURVEY.md §2.2 K5/K6, §2.8 T6/T7).

The reference materializes continuously-updated tables two ways: the
Faust table's changelog topic (``consumers/faust_stream.py:38-46,71``,
compacted on ``station_id``) and the KSQL CTAS table
(``consumers/ksql.py:27-31``). Both are key→latest-value views of a
stream. The engine's equivalent is a foreachBatch upsert into a
parquet-backed table: per micro-batch, reduce the batch to its latest
row per key (evaluated once and cached, so an upstream stateful plan
runs once per epoch), merge with the stored table, keep the winner per
key, atomically replace.

The merge is idempotent (T7: at-least-once delivery composes with
last-write-wins by sequence into exactly-once table contents), which is
precisely why the reference keys its changelog by station_id. On a real
deployment this function is replaced by `MERGE INTO` on a lakehouse
table (Delta/Iceberg) — same logic, transactional commit. Plain
parquet has no transaction log, so the upsert stages the merged table
at a temp path and swaps it in with filesystem renames: the new table
is fully written before the live path is touched, and a crash at any
point leaves either the old table or the old table's `.bak` plus the
complete staged table — never a half-written live path. (The staging
write also means the merge reads the live files while writing
elsewhere, so the live table needs no materialization.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def latest_per_key(df: DataFrame, key_cols: list[str], seq_col: str) -> DataFrame:
    """Reduce to one row per key: the highest ``seq_col`` wins, and on
    equal ``seq_col`` the larger tuple of the other columns (in column
    order) wins. ``max(struct(seq, ...))`` makes that tie-break
    independent of arrival order and partitioning — the same order as
    the streaming table, :func:`.stateful.latest_per_key_stateful`.
    Columns keep their order."""
    others = [c for c in df.columns if c not in key_cols and c != seq_col]
    v = F.col("__v")
    return (
        df.groupBy(*key_cols)
        .agg(F.max(F.struct(seq_col, *others)).alias("__v"))
        .select(*[c if c in key_cols else v[c].alias(c) for c in df.columns])
    )


def compacted_table_upsert(table_path: str, key_cols: list[str], seq_col: str):
    """K5 — returns a foreachBatch function maintaining a compacted
    table at ``table_path``. Use:

        stream.writeStream.foreachBatch(
            compacted_table_upsert(path, ["station_id"], "stop_id")
        ).outputMode("update").start()

    The upstream plan must be cacheable: on Spark 4.1.2, caching the
    output of an ``applyInPandasWithState`` operator fails with a
    ``ClassCastException`` (``GenericInternalRow`` to ``UnsafeRow``).
    Built-in streaming aggregates and projections are fine.
    """

    def merge_and_swap(fresh: DataFrame, epoch_id: int) -> None:
        spark = fresh.sparkSession
        jvm = spark._jvm
        hadoop_path = jvm.org.apache.hadoop.fs.Path
        live = hadoop_path(table_path)
        backup = hadoop_path(f"{table_path}.bak")
        fs = live.getFileSystem(spark._jsc.hadoopConfiguration())

        # Crash recovery BEFORE reading: a prior epoch that died between
        # rename(live -> .bak) and rename(staged -> live) leaves the
        # backup as the ONLY copy of the compacted table. Treating that
        # as "first epoch" would rebuild from the current batch alone
        # and the later delete(backup) would destroy all prior state.
        if not fs.exists(live) and fs.exists(backup):
            if not fs.rename(backup, live):
                raise IOError(
                    f"upsert recovery: restore {table_path}.bak -> live failed"
                )

        if fs.exists(live):
            current = spark.read.parquet(table_path)
            merged = latest_per_key(
                current.unionByName(fresh.select(current.columns)), key_cols, seq_col
            )
        else:  # genuinely first epoch
            merged = fresh

        # Stage the complete new table, then swap: live -> .bak, staged
        # -> live, drop .bak. Renames are checked — a failed rename
        # aborts with the previous table (or its .bak) intact, and the
        # recovery block above heals the half-swapped state next epoch.
        staged_str = f"{table_path}.__staged-{epoch_id}"
        staged = hadoop_path(staged_str)
        fs.delete(staged, True)  # stale stage dir from a crashed attempt
        merged.write.mode("overwrite").parquet(staged_str)
        fs.delete(backup, True)
        if fs.exists(live):
            if not fs.rename(live, backup):
                fs.delete(staged, True)
                raise IOError(f"upsert swap: rename live -> {table_path}.bak failed")
        if not fs.rename(staged, live):
            if fs.exists(backup):  # put the old table back
                fs.rename(backup, live)
            raise IOError(f"upsert swap: rename staged -> {table_path} failed")
        fs.delete(backup, True)

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        # Cache the reduction, not ``batch_df``: caching the batch plan
        # of a streaming aggregate fails (NoSuchElementException), and
        # ``localCheckpoint`` leaks one persistent RDD per epoch. The
        # count doubles as the emptiness test.
        fresh = latest_per_key(batch_df, key_cols, seq_col).persist()
        try:
            if fresh.count():
                merge_and_swap(fresh, epoch_id)
        finally:
            fresh.unpersist()

    return upsert
