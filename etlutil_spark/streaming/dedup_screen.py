"""Streaming incremental near-dup screening: foreachBatch MinHash-LSH
dedup of a document stream against a PERSISTED band index.

The streaming complement of ``operators/dedup.py:screen_against_corpus``
— the production shape of continuous corpus curation: documents arrive
in micro-batches, each batch is (1) deduped within itself (keep-first by
id), (2) screened against everything accepted so far, and (3) the
survivors are appended to the corpus together with their band-index
rows, so the NEXT batch's screen pays O(batch x index-probe), never
O(corpus) re-sketching.

Why foreachBatch and not a stateful operator: the dedup state is the
band index — a TABLE keyed by (band_idx, band_hash) that must also
serve ad-hoc batch screens and compaction, not per-key running state
in a state store (and it is unbounded over an infinite stream, which
state stores must not be). foreachBatch hands each micro-batch to the
exact batch operators, so the stream inherits their tests, their
candidate-only verification discipline, and their 100 TB posture:
the batch's bands are broadcast against the index scan (map-side
probe), and only (batch x matched-corpus) docs are re-shingled for
Jaccard verification.

Semantics note (inherent to ANY incremental screen, not a defect):
greedy sequential keep-first can accept a doc whose nearest neighbor
was itself dropped in an earlier batch — global one-shot keep-first
over the union may drop it. The invariant that DOES hold, and that
``tests/test_streaming_dedup_screen.py`` pins: the accepted corpus
never contains a verified near-dup PAIR at the configured threshold.

Layout under ``corpus_path``: ``docs/batch=<id>/`` and
``index/batch=<id>/`` (band rows, partitioned by band_idx inside each
batch dir). Per-batch-id subdirectories written with overwrite make
foreachBatch retries idempotent — a replayed batch rewrites its own
directory instead of double-appending. Periodic small-file compaction
of both trees is ``sources/io.py:compaction_plan``'s job, exactly as
for any append-heavy table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etlutil_spark.operators.store import Store
from etlutil_spark.operators.util import pin_eager
from pyspark.sql import functions as F

from etlutil_spark.operators.dedup import (
    minhash_band_index,
    minhash_lsh_pairs,
    screen_against_corpus,
)

_DOC_SUBDIR = "docs"
_INDEX_SUBDIR = "index"


def _join(base: str, *parts: str) -> str:
    """URI-safe path join: plain "/" concatenation, never the host OS's
    path semantics (the corpus path may be s3a://... or hdfs://...)."""
    return "/".join([base.rstrip("/"), *parts])


def read_corpus(
    spark: SparkSession, corpus_path: str, *, exclude_batch: int | None = None
) -> tuple[DataFrame | None, DataFrame | None]:
    """(accepted docs, band index), or (None, None) before the first
    batch. Reads the batch=N partition trees; the synthetic ``batch``
    partition column is dropped so the frames match the batch schema.

    ``exclude_batch`` is the replay guard: when foreachBatch retries a
    batch id, the corpus already holds that batch's OWN previous output
    — screening against it would mark every doc a dup of itself and the
    idempotent overwrite would then erase the batch (found by
    test_batch_replay_is_idempotent). Excluding the batch's own
    partition (a partition-pruned filter, no data read) restores the
    exact pre-batch corpus state, so a replay reproduces the first run
    bit for bit."""
    docs_dir = _join(corpus_path, _DOC_SUBDIR)
    idx_dir = _join(corpus_path, _INDEX_SUBDIR)
    # probed through the Hadoop FS API, so the corpus can live on any
    # Spark-reachable store: os.path.exists answers for the DRIVER'S local
    # filesystem only, so on an object-store corpus it is always False and
    # the cross-batch screen would silently never run
    if not Store(spark, docs_dir).exists():
        return None, None
    docs = spark.read.parquet(docs_dir)
    index = spark.read.parquet(idx_dir)
    if exclude_batch is not None:
        docs = docs.where(F.col("batch") != exclude_batch)
        index = index.where(F.col("batch") != exclude_batch)
    return docs.drop("batch"), index.drop("batch")


def dedup_screen_batch(
    corpus_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    verify_threshold: float = 0.7,
):
    """Build the foreachBatch function maintaining the screened corpus
    at ``corpus_path``.

    Each call: drop exact-id repeats -> intra-batch LSH keep-first ->
    screen survivors against the stored index (candidate-only verify)
    -> append accepted docs + their band rows under this batch's id.
    Empty batches are a no-op."""

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if "batch" in batch.columns:
            raise ValueError(
                "'batch' is the reserved partition-discovery column of the "
                "corpus layout; rename the incoming column"
            )
        if not batch.head(1):
            return
        spark = batch.sparkSession
        # sever from the streaming source: every operator below is a
        # plain batch transform over a materialized micro-batch
        docs = batch.dropDuplicates([id_col]).transform(pin_eager)

        # (1) intra-batch near-dups: keep-first by id
        intra = minhash_lsh_pairs(
            docs, id_col, text_col,
            n=n, num_hashes=num_hashes, bands=bands,
            verify_threshold=verify_threshold,
        )
        drop_ids = intra.select(F.col("id_b").alias(id_col)).distinct()
        survivors = docs.join(F.broadcast(drop_ids), id_col, "left_anti")

        # (2) cross-corpus screen against the stored band index,
        # excluding this batch id's own partition (replay guard)
        corpus_docs, corpus_index = read_corpus(
            spark, corpus_path, exclude_batch=batch_id
        )
        if corpus_docs is not None:
            # exact-id screen FIRST: dropDuplicates above is intra-batch
            # only, so a doc_id accepted in a PRIOR batch must be
            # rejected here even when its text changed (near-dup screen
            # alone would re-accept it and corrupt id uniqueness)
            survivors = survivors.join(
                corpus_docs.select(id_col), id_col, "left_anti"
            )
            hits = screen_against_corpus(
                survivors, corpus_docs, id_col, text_col,
                n=n, num_hashes=num_hashes, bands=bands,
                verify_threshold=verify_threshold,
                corpus_index=corpus_index,
            )
            dup_ids = hits.select(F.col("new_id").alias(id_col)).distinct()
            accepted = survivors.join(F.broadcast(dup_ids), id_col, "left_anti")
        else:
            accepted = survivors
        accepted = accepted.transform(pin_eager)

        # (3) idempotent append: this batch owns its subdirectory, and a
        # replayed batch_id overwrites rather than double-appends.
        # ORDERING INVARIANT: index BEFORE docs. read_corpus keys corpus
        # existence on docs/; with index-first, a crash between the two
        # writes leaves index-only state that the batch's own replay
        # overwrites, whereas docs-first would leave a docs tree whose
        # index dir does not exist and every replay's corpus read would
        # fail on the missing path.
        minhash_band_index(
            accepted, id_col, text_col, n=n, num_hashes=num_hashes, bands=bands
        ).write.mode("overwrite").partitionBy("band_idx").parquet(
            _join(corpus_path, _INDEX_SUBDIR, f"batch={batch_id}")
        )
        accepted.write.mode("overwrite").parquet(
            _join(corpus_path, _DOC_SUBDIR, f"batch={batch_id}")
        )

    return apply_batch


def run_dedup_screen_stream(
    docs_stream: DataFrame,
    corpus_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    checkpoint_dir: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    verify_threshold: float = 0.7,
    timeout_s: int = 180,
) -> None:
    """Drive a (bounded) document stream through the dedup-screen sink
    with availableNow; production callers drop the trigger and let the
    micro-batch loop run continuously. Raises if the backlog does not
    drain within ``timeout_s`` — returning silently would hand the
    caller a partially-written corpus while micro-batches keep
    appending in the background."""
    q = (
        docs_stream.writeStream.foreachBatch(
            dedup_screen_batch(
                corpus_path, id_col, text_col,
                n=n, num_hashes=num_hashes, bands=bands,
                verify_threshold=verify_threshold,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"dedup screen stream did not drain within {timeout_s}s; "
            "query stopped — corpus state covers only completed batches"
        )
