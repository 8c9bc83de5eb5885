"""Streaming upkeep of the decontamination shingle ledger — the
at-ingest half of benchmark decontamination.

Extension beyond the reference (its ingest surface is batch Glue jobs;
flagged per SURVEY §7.2 step 7). :func:`shingle_ledger_ingest` drains
new document parquet files with ``Trigger.AvailableNow`` and appends
their fixed-width ``(doc_id, shingle_hash)`` rows
(``operators.decontam.shingle_ledger``) to the ledger that
``operators.decontam.ledger_decontaminate`` screens a benchmark
against, so a benchmark arriving later needs one ledger scan and no
corpus text re-read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.decontam import shingle_ledger


def _write_ledger_batch(
    batch: DataFrame,
    batch_id: int,
    ledger_path: str,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Idempotent per-micro-batch ledger write (r14 advice): each batch
    lands in its OWN ``__batch_id`` partition with dynamic partition
    overwrite, so a replayed batch (crash between the write and the
    checkpoint commit — foreachBatch is at-least-once) OVERWRITES its
    previous partial/complete output instead of appending a duplicate
    copy. Duplicate (doc_id, shingle_hash) rows would silently inflate
    n_shingles/n_overlap in ``ledger_decontaminate`` and break the
    ledger == batch-twin row-identity pin; with the partition-keyed
    overwrite, re-running any batch id is a no-op on the final rows
    (pinned in tests/test_decontam_ledger.py)."""
    (
        shingle_ledger(batch, n, id_col, text_col)
        .withColumn("__batch_id", F.lit(batch_id).cast("long"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch_id")
        .parquet(ledger_path)
    )


def shingle_ledger_ingest(
    spark,
    raw_path: str,
    ledger_path: str,
    checkpoint_path: str,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    await_termination: bool = True,
):
    """Bookmarked ledger maintenance — the at-ingest half of
    cross-snapshot decontamination (:func:`..operators.decontam.
    shingle_ledger` / ``ledger_decontaminate``): one ``availableNow``
    run drains document parquet files the checkpoint has not seen and
    writes their fixed-width (doc_id, shingle_hash) ledger rows to
    ``ledger_path``, one ``__batch_id`` partition per micro-batch (an
    idempotent sink — see :func:`_write_ledger_batch`; readers that
    ``select`` the two ledger columns never see the partition key).
    Because the ledger is appendable (union of per-snapshot ledgers ==
    ledger of the union, pinned in tests/test_decontam_ledger.py),
    every ingested snapshot's index accrues incrementally — a benchmark
    arriving months later is screened by ONE ledger scan with zero
    corpus text re-reads.

    ``ledger_path`` and ``checkpoint_path`` are a PAIRED artifact:
    batch ids are per-checkpoint, so pointing a fresh checkpoint at an
    existing ledger would overwrite its earliest partitions — version
    them together (the standard contract for any idempotent
    foreachBatch sink).

    Per micro-batch work is a pure projection + explode (no shuffle, no
    state): exactly the Glue-bookmark ingest discipline
    (:func:`.incremental.incremental_fhir_ingest`) applied to the
    decontamination index. Returns the (terminated, unless
    ``await_termination=False``) streaming query.
    """
    schema = spark.read.parquet(raw_path).schema
    stream = spark.readStream.schema(schema).option(
        "recursiveFileLookup", "true"
    ).parquet(raw_path)
    query = (
        stream.writeStream.foreachBatch(
            lambda batch, batch_id: _write_ledger_batch(
                batch, batch_id, ledger_path, n, id_col, text_col
            )
        )
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    return query
