package graft.streaming

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.artifact.TagModel
import graft.lake.LakeTable
import graft.model.Doc
import graft.tag.Tagger

/**
 * Streaming mention ingest: a document stream is auto-labeled with the
 * broadcast Aho-Corasick model (the tag stage is shuffle-free and therefore
 * stream-native — pinned by the stream↔batch parity test) and every
 * micro-batch's mentions are COMMITTED to a LakeTable stage via foreachBatch.
 *
 * Exactly-once into the lake without any sink transaction support: the
 * partition value is keyed by (batchId, url-hash bucket), and
 * `LakeTable.resumableWrite` skips partition values already in the snapshot
 * log — so a batch replayed after a failure (or an entire re-run of the same
 * bounded input with a fresh checkpoint) is a lake no-op, not a duplicate.
 * This is the standard Spark idempotent-foreachBatch pattern with the
 * snapshot log as the committed-batch ledger, and it composes with
 * `LakeTable.read(stage, asOfVersion)` for time-travel over the ingest
 * history.
 *
 * CONTRACT — batchId keys assume stable batch composition: wipe the
 * checkpoint ONLY to replay the identical input set. To ingest NEW files
 * into a growing directory, KEEP the checkpoint (the normal production
 * mode): Structured Streaming then assigns the new files fresh batch ids,
 * which commit as fresh lake partitions. The contract is ENFORCED, not just
 * documented: each commit also records the batch's content fingerprint in a
 * `<stage>__batches` ledger stage, and a batch id arriving with a DIFFERENT
 * fingerprint (the wiped-checkpoint-after-growth hazard, which would
 * otherwise silently skip the new data as "already committed") fails the
 * query loudly instead of losing data.
 */
object MentionStream {

  /**
   * @param docs streaming Dataset of (docId, tokens)
   * @param bc   broadcast tag model (built batch-side)
   * @return the started query (AvailableNow trigger: drains the bounded
   *         input then stops — callers use processAllAvailable/awaitTermination)
   */
  /** @param compactMetadataEvery fold the lake's snapshot log into one
   *        checkpoint file every N micro-batches (0 = never). A stream
   *        publishes 2 snapshots per batch, so an unbounded run otherwise
   *        accumulates an unbounded metadata file count; compaction keeps
   *        the log O(1) files while committed state (ledger included) is
   *        preserved exactly — the replay/no-op and grown-input guarantees
   *        hold across compactions (MentionStreamSpec). */
  def toLake(spark: SparkSession, docs: Dataset[Doc], bc: Broadcast[TagModel],
      lakeRoot: String, buckets: Int = 4, stage: String = "mentions_stream",
      cfg: Tagger.TagConfig = Tagger.TagConfig(),
      table: Option[LakeTable] = None,
      compactMetadataEvery: Int = 0): StreamingQuery = {
    // ONE LakeTable for the whole stream: its parsed-snapshot cache makes the
    // per-batch committedPartitions/ledger lookups O(1) driver work — the
    // round-3 rescan-per-call was O(batches²) JSON parsing over a long ingest
    // (parse-count pinned in MentionStreamSpec). Callers may inject their own
    // instance to share the cache (single writer per root — LakeTable's OCC
    // publish turns a violation into a loud error, not silent loss).
    // compare normalized paths, not raw strings — "/lake" vs "/lake/" vs a
    // relative spelling of the same directory are the SAME co-located root
    def norm(p: String) =
      java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString
    require(table.forall(t => norm(t.root) == norm(lakeRoot)),
      s"injected LakeTable root '${table.map(_.root).getOrElse("")}' != lakeRoot " +
        s"'$lakeRoot' — the stream checkpoint lives under lakeRoot while data + " +
        "the replay ledger live under the table's root; splitting them defeats " +
        "the wiped-checkpoint/grown-input guard (wipe one, not the other, and " +
        "the ledger protects a checkpoint that no longer exists)")
    val lake = table.getOrElse(new LakeTable(spark, lakeRoot))
    // a stream carries no crawl time: tag with a null warc_ts, commit without it
    val mentions = Tagger.mentions(Tagger.tagSpansTs(spark, Tagger.docsTs(docs.toDF()), bc, cfg))
      .drop("warc_ts")
    val batchStage = s"${stage}__batches"
    val commit: (DataFrame, Long) => Unit = { (batch0, batchId) =>
      // persist: foreachBatch's DataFrame re-executes the batch transform per
      // action, and we run two (fingerprint + write)
      val batch = batch0.persist()
      try {
        // order-independent content fingerprint of the batch's FULL mention
        // rows (label included — a rebuilt model changing only labels is
        // changed content too): xor-fold of row hashes + row count (xor alone
        // would cancel duplicate rows pairwise; ANSI sum() would overflow)
        val r = batch
          .agg(coalesce(bit_xor(xxhash64(col("url"), col("start"), col("end"),
              col("phrase_id"), col("label"))), lit(0L)).as("x"),
            count(lit(1)).as("n"))
          .head()
        val fp = r.getLong(0) ^ (r.getLong(1) * 0x9E3779B97F4A7C15L)
        val key = s"$batchId:$fp"
        val prior = lake.committedPartitions(batchStage).keySet
          .filter(_.startsWith(s"$batchId:"))
        if (prior.nonEmpty && !prior.contains(key))
          throw new IllegalStateException(
            s"mention-stream batch $batchId arrived with content fingerprint $key but the " +
              s"ledger recorded ${prior.head}: the stream checkpoint was wiped while the " +
              "input changed/grew — a bare replay would silently skip the new data. " +
              "Restore the checkpoint, or ingest into a fresh stage.")
        // INTENT-FIRST ordering: the ledger entry lands BEFORE the data
        // commit. A crash after the intent replays the batch (same
        // fingerprint → proceeds; resumableWrite is idempotent per
        // partition). Data-before-ledger would open a crash window where a
        // committed batch has no ledger entry, and a later wiped-checkpoint
        // replay of GROWN input would pass the check and silently skip the
        // new rows — the exact loss mode this ledger exists to prevent.
        if (!prior.contains(key)) {
          val session = batch.sparkSession
          import session.implicits._
          lake.resumableWrite(Seq(key).toDF("batch_key")
            .withColumn("part", lit(key)), "part", batchStage)
        }
        val keyed = batch.withColumn("part",
          concat_ws("-", lit(batchId), LakeTable.bucket("url", buckets)))
        lake.resumableWrite(keyed, "part", stage)
        if (compactMetadataEvery > 0 && (batchId + 1) % compactMetadataEvery == 0)
          lake.compactMetadata()
        ()
      } finally { batch.unpersist(); () }
    }
    mentions.writeStream
      .foreachBatch(commit)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$lakeRoot/_stream_checkpoint_$stage")
      .start()
  }

  /** Convenience for tests/tools: cast a raw (doc_id, tokens) frame. */
  def asDocs(spark: SparkSession, df: DataFrame): Dataset[Doc] = {
    import spark.implicits._
    df.select(col("doc_id").cast("string").as("docId"), col("tokens")).as[Doc]
  }
}
