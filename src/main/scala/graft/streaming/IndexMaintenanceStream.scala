package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of the batch index-arrival contract: rows arrive on a
  * stream and each micro-batch pays its family's ONE arrival scan —
  * the same one-scan landing the batch arrival pays: a tokenize
  * (`Extensions.postingsOf`), a gram pass
  * (`Extensions.substringGramIndex`), an encode+assign against FROZEN
  * models (`Extensions.ivfpqEncodeAssign` and its imipq/ivfpqr twins),
  * an UNCAPPED sign-hash (`Extensions.lshBucketRows(_, None)` — the
  * hot-bucket cap is the search-side skew guard, re-resolved over the
  * merged table per search), or a per-shard delta write
  * (`Extensions.writeShards` — content-hash assignment is stateless,
  * so the shard stream needs no standing-corpus read at all).
  *
  * Progress is checkpoint-owned — exactly-once offsets per micro-batch
  * — and the append itself is IDEMPOTENT against foreachBatch's
  * at-least-once replay: each batch lands in a deterministic
  * `batch=<id>` directory with overwrite semantics, so a crash-replayed
  * batch rewrites its own partition byte-identically instead of
  * double-appending (the same discipline StreamingSync delegates to the
  * id map). Frozen models are the contract's premise: a retrain is a
  * batch-side event that restarts the stream against the new model
  * fixtures and a fresh index dir. At 100 TB the partitioned layout
  * doubles as the compaction unit; `Extensions.compactShards` folds
  * streamed shard deltas exactly like batch-landed ones.
  */
object IndexMaintenanceStream {

  /** A family's landing: writes one batch's index rows under a dir. */
  type Landing = (DataFrame, String) => Unit

  /** The landing of a row-producing arrival (postingsOf, an
    * *EncodeAssign with its frozen models, lshBucketRows,
    * substringGramIndex): its rows, written with overwrite. */
  def rowsOf(arrive: DataFrame => DataFrame): Landing =
    (batch, dir) => arrive(batch).write.mode("overwrite").parquet(dir)

  /** One micro-batch's append into the batch-keyed partition. Exposed
    * for the idempotence tests — calling it twice with the same batchId
    * must leave the index unchanged. */
  def appendBatch(batch: DataFrame, indexDir: String, batchId: Long,
                  land: Landing): Unit =
    land(batch, s"$indexDir/batch=$batchId")

  /** Start the maintenance stream `graft-<name>-append` over `rows`
    * ((doc_id, text) documents or (vec_id, v) embeddings, whatever the
    * landing reads). */
  def start(name: String, rows: DataFrame, indexDir: String,
            checkpointDir: String, land: Landing): StreamingQuery =
    rows.writeStream
      .queryName(s"graft-$name-append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) appendBatch(batch.toDF(), indexDir, batchId, land)
        ()
      }
      .start()

  /** The merged table of a per-row family — every appended batch
    * partition with the batch column dropped: the postings bm25From
    * reads, the combined index the code searches read (`codes0`), or
    * the UNCAPPED bucket table annTopK re-caps per search. */
  def mergedRows(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(indexDir).drop("batch")

  /** The merged (g, cnt, cdoc, cpos) index arrivals probe (the `stored`
    * input of substrStatsAgainst AND substrRewriteAgainst). Partials are
    * aggregates, not per-row facts, so the merged read folds them with
    * the gram index's own compaction fold (`Extensions.foldGrams`):
    * counts sum, canonicals min-fold — the one-shot index over every
    * streamed doc.
    *
    * SCHEMA MIGRATION: partitions appended before the canon columns
    * existed carry (g, cnt) only. The fold reads with mergeSchema, and a
    * legacy partition's null canonical never wins the min. Counts stay
    * exact on any mix; canonicals are exact once every partial carries
    * them. A dir with legacy partials therefore serves STATS exactly but
    * cannot drive the rewrite's keep-one policy (its canonical facts
    * were never recorded) — re-append or rebuild those batches before
    * serving E60 from it; a null `cdoc` makes the rewrite treat the
    * batch occurrence as canonical, which KEEPS spans it should remove. */
  def mergedSubstrGrams(spark: SparkSession, indexDir: String): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val raw = spark.read.option("mergeSchema", "true").parquet(indexDir)
    graft.ext.Extensions.foldGrams(
      if (raw.columns.contains("cdoc")) raw
      else raw.withColumn("cdoc", lit(null).cast("long"))
        .withColumn("cpos", lit(null).cast("long")))
  }
}
