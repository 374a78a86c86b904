"""Streaming dimension maintenance: foreachBatch incremental SCD2.

The streaming complement of ``operators/scd2.py``: each micro-batch of
state observations is merged into a persisted SCD2 dimension with
``scd2_apply`` — the standard "CDC stream keeps a slowly-changing
dimension current" pipeline, without Delta/Hudi (plain parquet swap).

Why foreachBatch and not a stateful aggregation: the dimension is a
TABLE (many rows per key, queried independently of the stream), not
per-key running state; foreachBatch gives each micro-batch a normal
batch DataFrame so the exact batch operator — and its tests and oracle —
is what runs incrementally. Guarantees follow scd2_apply's contract:
batches must arrive in event-time order per key (true for in-order
sources; enforceable with strict=True which fails the query rather than
corrupt the dimension).

At scale, swap the read-modify-overwrite for a transactional table
format's MERGE; the scd2_apply plan (broadcast touched-key split +
rebuild sized by the batch) is unchanged — only the sink's atomicity
mechanism differs. The parquet swap here writes to a side directory and
renames, so a crash mid-write never leaves a half-dimension behind.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etlutil_spark.operators.store import Store
from etlutil_spark.operators.util import pin_eager

from etlutil_spark.operators.scd2 import scd2_apply, scd2_intervals


def read_dim(spark: SparkSession, dim_path: str) -> DataFrame | None:
    """Current dimension, or None before the first batch. Probed through
    the Hadoop FS API (any Spark-reachable store: s3a://, gs://, hdfs://,
    file:) — os.path answers only for the driver's local filesystem, and
    with it an object-store dimension silently reads as "absent" and
    every batch restarts the dimension from scratch (the dedup-screen bug
    class, r7 advice)."""
    if not Store(spark, dim_path).exists():
        return None
    return spark.read.parquet(dim_path)


# Batch-id sidecar INSIDE the dimension directory (underscore-prefixed,
# so parquet reads ignore it). Written into the tmp dir BEFORE the swap,
# it commits atomically with the data it describes; apply_batch
# short-circuits when it equals the incoming batch_id. Without it, a
# foreachBatch REPLAY of a batch whose swap already committed (crash in
# the window between the rename and Spark's checkpoint write) re-applies
# against the POST-batch dimension: with strict=False the run-collapse
# happens to make that idempotent, but with strict=True (this sink's
# default) any multi-row-per-key batch now has rows BEFORE the key's
# latest valid_from and the order guard raises — on every retry, wedging
# the stream permanently on its own replay.
_BATCH_MARKER = "_scd2_batch"


def _last_applied(spark: SparkSession, dim_path: str) -> int | None:
    # a damaged marker must not brick the sink: it reads as absent and the
    # normal apply path runs (worst case is the pre-marker behavior)
    txt = Store(spark, dim_path).try_read_text(_BATCH_MARKER)
    try:
        return int(txt.strip())
    except (AttributeError, ValueError):
        return None


def _recover_interrupted_swap(spark: SparkSession, dim_path: str) -> None:
    """Complete a swap that crashed between delete(dim) and rename(tmp).

    In that window the committed post-batch dimension lives ONLY at
    ``<dim>.tmp`` (data plus batch marker, both written before the swap
    began) and ``dim_path`` does not exist. Without this step the
    batch's replay reads an ABSENT dimension and silently restarts SCD2
    history from the replayed batch alone — every prior key's history
    lost with no error. Renaming the complete tmp into place restores
    the committed state; the marker then short-circuits the replay like
    any clean replay.

    The write order makes the recovery unambiguous: tmp data and marker
    are fully written BEFORE the live dir is deleted, so dim-missing ∧
    tmp-present implies tmp is the complete post-batch state. A tmp dir
    alongside a LIVE dimension is scratch from a run that died before
    its swap began — the live dim is authoritative and the next write's
    overwrite mode replaces the scratch, so it is left alone here."""
    st = Store(spark, dim_path)
    if not st.exists() and Store(spark, dim_path + ".tmp").exists():
        st.swap_in(dim_path + ".tmp")


def _commit_swap(
    spark: SparkSession, updated: DataFrame, dim_path: str, batch_id: int
) -> None:
    """Materialize ``updated`` and swap it in at ``dim_path``: checkpoint
    (severs the plan from the files about to be replaced) -> write to
    ``<path>.tmp`` -> marker -> delete live -> rename. Shared by the
    upsert and CDC sinks so the swap/recovery invariants cannot drift
    between them."""
    materialized = updated.transform(pin_eager)
    tmp = dim_path + ".tmp"
    materialized.write.mode("overwrite").parquet(tmp)
    Store(spark, tmp).write_text(_BATCH_MARKER, str(int(batch_id)))
    # swap through the Hadoop FS so the sink works on object stores
    # (rename is atomic on HDFS/local; on S3 it is copy+delete —
    # same "atomic-ish" caveat the module docstring already states:
    # real deployments swap this sink for a transactional format).
    # A crash between the delete and the rename is repaired by
    # _recover_interrupted_swap at the next batch's entry; a failed
    # rename raises, so the checkpoint replays the batch against the
    # pre-batch state instead of the next batch restarting history.
    Store(spark, dim_path).swap_in(tmp)


def scd2_upsert_batch(
    dim_path: str,
    key_cols: str | list[str],
    ts_col: str,
    state_cols: str | list[str],
    *,
    strict: bool = True,
):
    """Build the foreachBatch function maintaining the dimension at
    ``dim_path``.

    Each call: read current dim -> scd2_apply (or scd2_intervals on the
    first batch) -> materialize (localCheckpoint severs the plan from the
    files about to be replaced) -> write to ``<path>.tmp`` -> atomic-ish
    directory swap. Empty batches are a no-op.
    """

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        spark = batch.sparkSession
        _recover_interrupted_swap(spark, dim_path)
        if _last_applied(spark, dim_path) == batch_id:
            return  # clean replay of an already-committed batch
        dim = read_dim(spark, dim_path)
        if dim is None:
            updated = scd2_intervals(batch, key_cols, ts_col, state_cols)
        else:
            updated = scd2_apply(
                dim, batch, key_cols, ts_col, state_cols, strict=strict
            )
        _commit_swap(spark, updated, dim_path, batch_id)

    return apply_batch


def run_scd2_upsert_stream(
    changes: DataFrame,
    dim_path: str,
    key_cols: str | list[str],
    ts_col: str,
    state_cols: str | list[str],
    *,
    checkpoint_dir: str,
    strict: bool = True,
    timeout_s: int = 120,
) -> None:
    """Drive a (bounded) change stream through the SCD2 sink with
    availableNow; production callers drop the trigger and let it run.
    Raises if the backlog does not drain within ``timeout_s`` —
    returning silently would hand the caller a dimension still being
    mutated by in-flight micro-batches (the dedup-screen drain
    contract)."""
    q = (
        changes.writeStream.foreachBatch(
            scd2_upsert_batch(
                dim_path, key_cols, ts_col, state_cols, strict=strict
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"SCD2 upsert stream did not drain within {timeout_s}s; "
            "query stopped — dimension reflects only completed batches"
        )


def scd2_cdc_batch(
    dim_path: str,
    key_cols: str | list[str],
    ts_col: str,
    state_cols: str | list[str],
    *,
    op_col: str = "op",
    delete_op: str = "D",
    strict: bool = True,
):
    """CDC variant of :func:`scd2_upsert_batch` (r9): micro-batches
    carry an op column and DELETE tombstones close runs —
    operators/scd2.py:scd2_apply_cdc (scd2_cdc_intervals on the first
    batch) runs per batch, so the streamed dimension can represent
    "the key left" with every interval closed and no current row. Same
    sink mechanics (read -> merge -> checkpoint -> tmp write -> swap
    with a raising rename); same per-key event-time-order contract,
    which for deletes also means a tombstone arrives after the run it
    closes (strict=True enforces both)."""
    from etlutil_spark.operators.scd2 import scd2_apply_cdc, scd2_cdc_intervals

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        spark = batch.sparkSession
        _recover_interrupted_swap(spark, dim_path)
        if _last_applied(spark, dim_path) == batch_id:
            return  # clean replay of an already-committed batch
        dim = read_dim(spark, dim_path)
        if dim is None:
            updated = scd2_cdc_intervals(
                batch, key_cols, ts_col, state_cols,
                op_col=op_col, delete_op=delete_op,
            )
        else:
            updated = scd2_apply_cdc(
                dim, batch, key_cols, ts_col, state_cols,
                op_col=op_col, delete_op=delete_op, strict=strict,
            )
        _commit_swap(spark, updated, dim_path, batch_id)

    return apply_batch
