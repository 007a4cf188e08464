package graft.streaming

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.corpus.Extract
import graft.lake.LakeTable
import graft.tag.Tagger

/** Streaming mention ingest → lake: stream == batch content, and replays
 * (checkpoint wiped, same input) are lake no-ops via the snapshot ledger. */
class MentionStreamSpec extends SparkSuite {
  import spark.implicits._

  test("stream→lake mentions == batch mentions; fresh-checkpoint replay adds nothing") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("lang") === "en")
    val docsDir = Files.createTempDirectory("graft-mstream-docs").toString
    docs.repartition(3).write.mode("overwrite").parquet(docsDir)

    // batch-built model (same recipe as the parity test)
    val toks = docs.select(col("doc_id"), Extract.tokenize(col("text")).as("t"))
    val mined = graft.mine.Miner.mine(toks, "t",
      graft.mine.Miner.MineConfig(2, 3, 5, ordered = false))
    val scored = graft.score.Scorer.score(mined.select("ngram", "count"),
      mined.select("ngram", "count").limit(0),
      graft.score.Scorer.ScoreConfig("ratio", 1.0f, 5, assignPhraseIds = true, 1000))
    val model = graft.artifact.Builder.build(
      scored.withColumnRenamed("domain_count", "count"))._1
    val bc = spark.sparkContext.broadcast(model)

    val lakeRoot = Files.createTempDirectory("graft-mstream-lake").toString
    val streamLake = new LakeTable(spark, lakeRoot)
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(docs.schema).parquet(docsDir)
        .select(col("doc_id").cast("string").as("docId"),
          Extract.tokenize(col("text")).as("tokens")).as[graft.model.Doc]
      // compactMetadataEvery=1: every batch folds the snapshot log — the
      // replay-no-op and grown-input guarantees below must hold ACROSS
      // metadata compactions (the ledger lives in the folded checkpoint)
      val q = MentionStream.toLake(spark, stream, bc, lakeRoot,
        table = Some(streamLake), compactMetadataEvery = 1)
      assert(q.awaitTermination(120000), "streaming drain timed out")
    }
    runOnce()
    // bounded metadata: the per-commit files folded into one checkpoint
    val logFiles = Files.list(java.nio.file.Paths.get(lakeRoot, "snapshots"))
      .iterator().asScala.map(_.getFileName.toString).toList
    val ckptFiles = Files.list(java.nio.file.Paths.get(lakeRoot, "snapshots", "_checkpoints"))
      .iterator().asScala.map(_.getFileName.toString).toList
    assert(ckptFiles.count(_.startsWith("checkpoint-")) == 1 &&
      !logFiles.exists(_.startsWith("snapshot-")), (logFiles, ckptFiles).toString)
    // metadata-cost pin (round-3 verdict #3): the stream's per-batch ledger
    // lookups and commits ride the instance cache — ZERO snapshot-JSON parses
    // over the whole ingest (the log was empty at open; publishes append to
    // the cache). The round-3 rescan-per-call implementation parsed the full
    // log on every lookup — O(batches²) driver work.
    assert(streamLake.parseCount == 0L,
      s"stream ingest re-parsed the snapshot log ${streamLake.parseCount} times")
    val lake = new LakeTable(spark, lakeRoot)
    val streamed = lake.read("mentions_stream")
      .select("url", "start", "end", "phrase_id")
      .as[(String, Int, Int, Int)].collect().toSet

    val batch = Tagger.mentions(Tagger.tagSpansTs(spark,
        Tagger.docsTs(docs.select(col("doc_id").cast("string").as("docId"),
          Extract.tokenize(col("text")).as("tokens"))), bc))
      .select("url", "start", "end", "phrase_id")
      .as[(String, Int, Int, Int)].collect().toSet
    assert(streamed == batch && batch.nonEmpty)

    // replay with a WIPED checkpoint: batch ids restart at 0, fingerprints
    // match the ledger, every commit is skipped → snapshot log unchanged
    val versionsBefore = lake.snapshots.map(_.version).max
    graft.util.Fs.rmrf(new java.io.File(s"$lakeRoot/_stream_checkpoint_mentions_stream"))
    runOnce()
    lake.refresh() // the stream wrote through its own instance — rescan the log
    assert(lake.snapshots.map(_.version).max == versionsBefore,
      "replay must be a lake no-op")
    assert(lake.read("mentions_stream").count() == streamed.size.toLong)

    // wiped checkpoint + GROWN input: batch 0 now has a different content
    // fingerprint than the ledger recorded — must fail LOUDLY (silent skip of
    // the new files is the data-loss mode the ledger exists to prevent)
    graft.util.Fs.rmrf(new java.io.File(s"$lakeRoot/_stream_checkpoint_mentions_stream"))
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("lang") =!= "en").limit(20)
      .repartition(1).write.mode("append").parquet(docsDir)
    val e = intercept[Exception] { runOnce() }
    def chain(t: Throwable): List[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) :: chain(t.getCause)
    assert(chain(e).exists(_.contains("checkpoint was wiped while the input")),
      chain(e).toString)
    // and the lake is untouched — no partial double-ingest
    lake.refresh()
    assert(lake.read("mentions_stream").count() == streamed.size.toLong)
  }
}
