"""Streaming corpus ingest with continuous dedup.

The streaming face of ``dataprep.dedup.incremental_minhash_dedup``: new
documents arrive on a stream; every micro-batch is (1) exact-deduped
within itself, (2) near-dup-checked against the standing corpus via the
banded minhash join, and (3) only novel documents are appended to the
corpus store. State between micro-batches IS the corpus store — no
executor-memory state, so the stream can restart anywhere and a 100 TB
corpus works exactly like a 100 MB one.

``foreachBatch`` is the right primitive here (not a stateful operator):
the dedup check needs a join against an arbitrarily large, persistently
stored table, which mapGroupsWithState-style per-key state cannot hold.
At scale the store is a Delta/Iceberg table partitioned by signature band
(the transactional append also makes the batch idempotent under retries);
on plain parquet the append is best-effort — the test environment's
single-writer streams are safe.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from raise_featurestore_spark.dataprep.dedup import _norm_text, incremental_minhash_dedup


def _corpus_nonempty(path: str) -> bool:
    if not os.path.isdir(path):
        return False
    return any(n.endswith(".parquet") for n in os.listdir(path))


def make_curation_batch_fn(
    spark: SparkSession,
    corpus_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_est: float = 0.5,
    **dedup_kw,
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` function: batch → within-batch exact
    dedup → cross-corpus near-dup filter → append novel rows."""

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # within-batch exact dedup: one row per distinct normalized text
        # (min id wins, deterministically) — same lower(trim(...)) key as
        # dataprep.dedup.exact_duplicates, so a whitespace/case-variant
        # re-fetch inside one micro-batch collapses here, not downstream
        w_id = F.min(id_col).alias(id_col)
        keep_ids = (
            batch_df.groupBy(F.md5(_norm_text(F.col(text_col)).cast("binary")).alias("__h"))
            .agg(w_id)
            .select(id_col)
        )
        batch = batch_df.join(keep_ids, id_col, "left_semi")

        if _corpus_nonempty(corpus_path):
            corpus = spark.read.parquet(corpus_path)
            verdicts = incremental_minhash_dedup(
                batch, corpus, id_col=id_col, text_col=text_col, min_est=min_est, **dedup_kw
            )
            novel_ids = verdicts.where(~F.col("is_dup")).select(
                F.col("new_id").alias(id_col)
            )
            novel = batch.join(novel_ids, id_col, "left_semi")
        else:
            novel = batch
        novel.write.mode("append").parquet(corpus_path)

    return on_batch


def curation_ingest_stream(
    stream_df: DataFrame,
    spark: SparkSession,
    corpus_path: str,
    checkpoint_path: str,
    **kw,
):
    """Wire the batch function into a writeStream (caller starts it)."""
    return (
        stream_df.writeStream.foreachBatch(make_curation_batch_fn(spark, corpus_path, **kw))
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
