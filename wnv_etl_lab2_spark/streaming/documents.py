"""Structured Streaming over the documents corpus: incremental
curation.

The batch curation pipeline (`curation.py`: quality rules + dedup) is
re-expressed as a STREAM over arriving document files — the shape a
continuously-crawling corpus actually has. Exactly the same quality
predicate (`functions/quality.py`) and the same content-digest dedup
key as the batch path, so replaying the whole corpus through the
stream must reproduce the batch answer (asserted in
tests/test_streaming_documents.py).

At 100 TB the file source becomes Kafka/object-store notifications and
the memory sink a parquet/Delta append — the logical plan is
identical; only source/sink bindings change (same argument as
streaming/events.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def stage_documents_for_streaming(
    spark: SparkSession, sf_dir: str, out_path: str, n_files: int = 4
) -> str:
    """Re-stage the documents table as ``n_files`` parquet files so the
    file source replays them as distinct micro-batches (maxFilesPerTrigger
    below)."""
    from wnv_etl_lab2_spark.sources.catalog import load_table

    load_table(spark, "documents", sf_dir).repartition(n_files).write.mode(
        "overwrite"
    ).parquet(out_path)
    return out_path


def stage_documents_id_ranged(
    spark: SparkSession, sf_dir: str, out_path: str, n_files: int = 4
) -> str:
    """Re-stage documents as ``n_files`` parquet files of CONSECUTIVE
    doc_id ranges, written sequentially so modification times strictly
    increase — the file source (latestFirst=false, oldest first)
    replays them as id-ordered micro-batches. This is the arrival
    order of a corpus whose ids are assigned at ingest (monotonic ids
    are exactly what `stable_doc_ids` produces), and the order under
    which greedy streaming near-dup equals the batch
    `minhash_band_survivors` rule.

    TEST-STAGING ONLY — not a pipeline operator: it collects every
    doc_id to the driver to compute exact range bounds, which is fine
    for the local replay corpora it stages but would not survive a
    production corpus (there, derive bounds with ``approxQuantile``
    and let the writer partition by range)."""
    import os
    import time

    from wnv_etl_lab2_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", sf_dir)
    ids = [r[0] for r in docs.selectExpr("doc_id").orderBy("doc_id").collect()]
    step = max(1, (len(ids) + n_files - 1) // n_files)
    bounds = [ids[i] for i in range(0, len(ids), step)] + [ids[-1] + 1]
    now = time.time()
    for k in range(len(bounds) - 1):
        lo, hi = bounds[k], bounds[k + 1]
        before = set(os.listdir(out_path)) if os.path.isdir(out_path) else set()
        (
            docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            .coalesce(1)
            .write.mode("append")
            .parquet(out_path)
        )
        # FileStreamSource orders by mtime (latestFirst=false -> oldest
        # first); force a strict, range-ordered increase even on
        # coarse-granularity filesystems
        for f in set(os.listdir(out_path)) - before:
            if f.endswith(".parquet"):
                os.utime(os.path.join(out_path, f), (now + k, now + k))
    return out_path


def read_documents_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over staged documents parquet, one file per
    micro-batch (declared schema — streaming sources never infer)."""
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def streaming_curation(docs: DataFrame) -> DataFrame:
    """Incremental curation: quality-rule filter, then exact dedup on
    the content digest via ``dropDuplicates`` keyed state — the first
    arrival of each content survives, later copies (same or later
    micro-batch) are dropped. State grows with DISTINCT content, the
    same asymptotic cost as the batch dedup index; a production stream
    bounds it with ``dropDuplicatesWithinWatermark`` over an ingest
    timestamp once re-crawl horizons apply."""
    from wnv_etl_lab2_spark.functions import quality as Q

    kept = docs.where(Q.quality_keep())
    return kept.withColumn("digest", F.md5("text")).dropDuplicates(["digest"])


def streaming_neardup_curation(
    docs_stream: DataFrame,
    index_dir: str,
    out_dir: str,
    num_hashes: int = 32,
    bands: int = 16,
):
    """Incremental NEAR-dup curation: quality-rule filter, then greedy
    MinHash-band suppression across micro-batches — the streaming twin
    of `operators/dedup.minhash_band_survivors` (exact digest dedup is
    `streaming_curation`; this closes the near-dup family).

    Per micro-batch (foreachBatch — the Structured Streaming surface
    for stateful logic that needs a JOIN against accumulated state,
    which no single-keyed stateful operator can express: a doc's
    verdict spans its 16 band keys):

      1. band-signature the quality-passing docs
         (`minhash_band_signatures`),
      2. drop docs sharing ANY band with the persisted index
         (left-semi join — earlier-batch similarity) or with a
         smaller-id doc in the same batch (min-id per bucket),
      3. write ALL new band rows to the index (dropped docs' bands
         included — anything similar to a dropped doc is also
         similar-transitively to the corpus seen so far, matching the
         batch rule's "any smaller id" semantics),
      4. write the survivors to the output.

    Both writes are idempotent per micro-batch (overwrite of a
    batch_id=N subdirectory — see `neardup_batch_processor`), so a
    retried batch replaces its partial output instead of
    double-appending.

    With id-ordered arrival (`stage_documents_id_ranged`), "earlier
    batch" == "smaller id", so replaying the corpus reproduces the
    batch `minhash_band_survivors` answer bit-for-bit
    (tests/test_streaming_documents.py). At 100 TB the parquet
    index/output become Delta/Iceberg appends and the per-batch
    semi-join prunes on band_sig bucketing; the logical plan is
    identical. The index grows one row per (quality-passing doc,
    band) — the same asymptotic state as the digest index, times
    ``bands``.

    Returns a DataStreamWriter ready to ``.start()`` (caller adds
    trigger/checkpoint options).
    """
    return docs_stream.writeStream.foreachBatch(
        neardup_batch_processor(index_dir, out_dir, num_hashes, bands)
    ).outputMode("append")


def band_index_table_name(index_dir: str) -> str:
    """Catalog name for the bucketed band-index table at
    ``index_dir`` — one entry per index location, so concurrent
    streams (tests included) never collide."""
    import hashlib
    import os

    return (
        "band_index_"
        + hashlib.md5(os.path.abspath(index_dir).encode()).hexdigest()[:12]
    )


def neardup_batch_processor(
    index_dir: str, out_dir: str, num_hashes: int = 32, bands: int = 16
):
    """The foreachBatch body of `streaming_neardup_curation`, exposed
    so retry semantics are testable directly.

    The band index is a partitioned + BUCKETED external table at
    ``index_dir``: partitioned by ``batch_id`` (idempotent retry —
    a static-partition overwrite replaces exactly the retried batch's
    partition, and ``batch_id < N`` state reads prune to earlier
    partitions), bucketed + bucket-sorted on the state-join keys
    ``(band_id, band_sig)``, so the per-batch semi-join reads the
    accumulated index WITHOUT an Exchange: only the new micro-batch
    (bounded by the trigger) shuffles, never the index — the property
    that keeps per-batch cost O(batch), not O(corpus), at 100 TB
    (pinned by tests/test_streaming_documents.py's plan assertion).
    The files stay plain parquet at ``index_dir`` (the ``batch_id=N``
    fragments surface as a partition column for path readers, and
    give compaction its natural boundaries); the bucket spec lives in
    the session catalog — a production deployment records it in a
    shared metastore the same way.

    The survivor output keeps the epoch-deterministic-path pattern
    (overwrite of ``out_dir/batch_id=N``), so with the source's
    deterministic offsets both writes are the standard foreachBatch
    exactly-once recipe.
    """
    import os

    from wnv_etl_lab2_spark.functions import quality as Q
    from wnv_etl_lab2_spark.operators.dedup import minhash_band_signatures
    from wnv_etl_lab2_spark.sources.bucketing import upsert_bucketed_partition

    index_table = band_index_table_name(index_dir)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        survivors = text_batch_survivors(
            batch_df, batch_id, index_dir, num_hashes=num_hashes, bands=bands
        )
        survivors.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    return _process


def text_batch_survivors(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    num_hashes: int = 32,
    bands: int = 16,
) -> DataFrame:
    """One micro-batch's TEXT curation against the persisted band
    index (extracted from `neardup_batch_processor` so transactional
    sinks can compose it — round 12): quality filter, greedy band
    suppression vs earlier batches AND smaller same-batch ids, then
    upsert this batch's bands into the index (dropped included — "any
    smaller id" semantics). Returns the surviving rows; the CALLER
    owns the sink. Index upsert is batch_id-idempotent, so a replayed
    batch (aborted transaction, retried epoch) recomputes the same
    survivor set."""
    from wnv_etl_lab2_spark.functions import quality as Q
    from wnv_etl_lab2_spark.operators.dedup import minhash_band_signatures
    from wnv_etl_lab2_spark.sources.bucketing import upsert_bucketed_partition

    index_table = band_index_table_name(index_dir)
    spark = batch_df.sparkSession
    kept_q = batch_df.where(Q.quality_keep())
    bands_new = minhash_band_signatures(
        kept_q, num_hashes=num_hashes, bands=bands
    ).localCheckpoint()  # 3 consumers below; batch-sized, bounded
    dropped = None
    if spark.catalog.tableExists(index_table):
        index = spark.table(index_table).where(F.col("batch_id") < batch_id)
        dropped = (
            bands_new.join(index, ["band_id", "band_sig"], "left_semi")
            .select("doc_id")
        )
    mnb = bands_new.groupBy("band_id", "band_sig").agg(
        F.min("doc_id").alias("_bmn")
    )
    intra = (
        bands_new.join(mnb, ["band_id", "band_sig"])
        .where(F.col("_bmn") < F.col("doc_id"))
        .select("doc_id")
    )
    dropped_ids = intra if dropped is None else intra.union(dropped)
    survivors = kept_q.join(dropped_ids.distinct(), "doc_id", "left_anti")
    upsert_bucketed_partition(
        bands_new,
        table=index_table,
        path=index_dir,
        partition_col="batch_id",
        partition_value=batch_id,
        bucket_keys=["band_id", "band_sig"],
    )
    return survivors


# --- streaming IMAGE near-dup (dHash band index across micro-batches) ---
# Round 11 (r10 verdict #7): the multimodal twin of the MinHash band
# path above — same index architecture (batch_id-partitioned,
# bucketed on the band join keys, idempotent per-batch overwrite),
# but candidates must pass an EXACT hamming check against the matched
# earlier hash (dHash bands are pigeonhole candidates, not verdicts).


def image_index_table_name(index_dir: str) -> str:
    """Catalog name for the bucketed image-band-index table at
    ``index_dir``."""
    import hashlib
    import os

    return (
        "image_index_"
        + hashlib.md5(os.path.abspath(index_dir).encode()).hexdigest()[:12]
    )


def image_neardup_batch_processor(index_dir: str, out_dir: str, max_hamming: int = 3):
    """foreachBatch body for streaming image near-dup curation: per
    micro-batch of (doc_id, payload, ...) rows,

      1. dHash the payloads (one Arrow crossing; undecodable media
         hashes null and always survives),
      2. drop images within ``max_hamming`` bits of ANY earlier-batch
         image — band-equality join against the persisted index
         (pigeonhole: a qualifying pair agrees on a whole band) then
         the exact ``bit_count(xor)`` check — or of a smaller-id image
         in the same batch (`image_neardup_pairs`, already exact),
      3. index ALL new images' bands (dropped included — "any smaller
         id" semantics, same as the text band index),
      4. write survivors to ``out_dir/batch_id=N`` (idempotent
         overwrite; retried batches replace their own output).

    With id-ordered arrival, replaying the corpus reproduces
    `curation.image_neardup_survivors` exactly
    (tests/test_streaming_documents.py). The index side of the state
    join is bucketed on (band_id, band_val), so only the new
    micro-batch shuffles — per-batch cost O(batch), not O(corpus)."""
    import os

    from wnv_etl_lab2_spark.operators.multimodal import (
        image_dhash,
        image_neardup_pairs,
    )
    from wnv_etl_lab2_spark.sources.bucketing import upsert_bucketed_partition

    index_table = image_index_table_name(index_dir)
    n_bands = max_hamming + 1
    width = 64 // n_bands
    mask = (1 << width) - 1

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        survivors = image_batch_survivors(
            batch_df, batch_id, index_dir, max_hamming=max_hamming
        )
        survivors.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    return _process


def image_batch_survivors(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    max_hamming: int = 3,
) -> DataFrame:
    """One micro-batch's IMAGE curation against the persisted dHash
    band index (extracted from `image_neardup_batch_processor` so
    transactional sinks can compose it — round 12): greedy suppression
    vs earlier batches and smaller same-batch ids, index upsert
    included (batch_id-idempotent). Returns the surviving rows; the
    CALLER owns the sink. Undecodable payloads never hash and always
    survive."""
    from wnv_etl_lab2_spark.operators.multimodal import (
        image_dhash,
        image_neardup_pairs,
    )
    from wnv_etl_lab2_spark.sources.bucketing import upsert_bucketed_partition

    index_table = image_index_table_name(index_dir)
    n_bands = max_hamming + 1
    width = 64 // n_bands
    mask = (1 << width) - 1
    spark = batch_df.sparkSession
    hashes = (
        image_dhash(batch_df)
        .where(F.col("dhash").isNotNull())
        .localCheckpoint()  # 3 consumers; batch-sized, bounded
    )
    bands_new = hashes.select(
        "doc_id",
        F.col("dhash").alias("h"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright("dhash", b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "h", "band.band_id", "band.band_val")
    dropped = None
    if spark.catalog.tableExists(index_table):
        index = spark.table(index_table).where(F.col("batch_id") < batch_id)
        dropped = (
            bands_new.alias("n")
            .join(
                index.alias("i"),
                (F.col("n.band_id") == F.col("i.band_id"))
                & (F.col("n.band_val") == F.col("i.band_val")),
            )
            .where(
                F.bit_count(F.col("n.h").bitwiseXOR(F.col("i.h")))
                <= max_hamming
            )
            .select(F.col("n.doc_id").alias("doc_id"))
        )
    intra = image_neardup_pairs(hashes, max_hamming=max_hamming).select(
        F.col("id_b").alias("doc_id")
    )
    dropped_ids = intra if dropped is None else intra.union(dropped)
    survivors = batch_df.join(dropped_ids.distinct(), "doc_id", "left_anti")
    upsert_bucketed_partition(
        bands_new,
        table=index_table,
        path=index_dir,
        partition_col="batch_id",
        partition_value=batch_id,
        bucket_keys=["band_id", "band_val"],
    )
    return survivors


def streaming_image_neardup_curation(
    media_stream: DataFrame, index_dir: str, out_dir: str, max_hamming: int = 3
):
    """Incremental image near-dup curation as a writeStream (see
    `image_neardup_batch_processor`). Returns a DataStreamWriter
    ready to ``.start()``."""
    return media_stream.writeStream.foreachBatch(
        image_neardup_batch_processor(index_dir, out_dir, max_hamming)
    ).outputMode("append")


# --- multimodal curation inside the TRANSACTIONAL lifecycle (round 12,
# r11 verdict #7): one stream of multimodal rows feeds BOTH curated
# tables, and each micro-batch's text survivors + image survivors
# commit as ONE cross-table transaction — a consumer reading the two
# tables never observes a batch's documents without its media or vice
# versa, across crashes included.


def multimodal_txn_batch_processor(
    docs_index_dir: str,
    media_index_dir: str,
    docs_table: str,
    media_table: str,
    txn_log: str,
    num_hashes: int = 32,
    bands: int = 16,
    max_hamming: int = 3,
    writer_id: str = "multimodal-curation",
):
    """foreachBatch body committing each micro-batch's TEXT survivors
    (quality + greedy band suppression, `text_batch_survivors`) and
    IMAGE survivors (`image_batch_survivors`) to two versioned tables
    in ONE `commit_transaction` — all-or-nothing per batch.

    Exactly-once across restarts composes from three pieces:
    (1) `recover_pending` at batch start aborts a prior crashed
    attempt of THIS writer that died between slot publish and the
    final marker, so the slots can never stay wedged; (2) the
    transaction stamps both manifests with (batch_id, writer_id), and
    a replayed batch whose id already committed is skipped — the
    transaction is atomic, so "docs committed but media not" cannot
    exist and ONE table's ledger answers for both; (3) the band-index
    upserts are batch_id-idempotent (static-partition overwrite), so
    a replay recomputes the identical survivor set. Input rows carry
    the documents schema plus a binary ``payload`` column; media-side
    columns are (doc_id, payload)."""
    from wnv_etl_lab2_spark.sources.transactions import (
        TxnWrite,
        commit_transaction,
        recover_pending,
    )
    from wnv_etl_lab2_spark.sources.versioned import (
        last_committed_batch_id,
        with_retries,
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        recover_pending(spark, [docs_table, media_table])
        last = last_committed_batch_id(spark, docs_table, writer_id)
        if last is not None and batch_id <= last:
            return  # replayed epoch: the transaction already committed
        docs_part = batch_df.drop("payload")
        media_part = batch_df.select("doc_id", "payload")
        doc_survivors = text_batch_survivors(
            docs_part, batch_id, docs_index_dir,
            num_hashes=num_hashes, bands=bands,
        ).localCheckpoint()  # decided BEFORE the commit: both writes
        media_survivors = image_batch_survivors(
            media_part, batch_id, media_index_dir, max_hamming=max_hamming
        ).localCheckpoint()  # stage the same rows a retry would
        with_retries(
            lambda: commit_transaction(
                spark,
                txn_log,
                [
                    TxnWrite(
                        doc_survivors, docs_table, "append",
                        batch_id=batch_id, writer_id=writer_id,
                    ),
                    TxnWrite(
                        media_survivors, media_table, "append",
                        batch_id=batch_id, writer_id=writer_id,
                    ),
                ],
            )
        )

    return _process

