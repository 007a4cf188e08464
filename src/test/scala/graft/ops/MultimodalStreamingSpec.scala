package graft.ops

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSuite
import graft.streaming.EventStream

class MultimodalSpec extends SparkSuite {
  import spark.implicits._

  test("magic-byte sniffing recovers the declared kind for every row") {
    val media = Multimodal.synthesizeMedia(spark, 300)
    val mismatches = media.toDF()
      .withColumn("sniffed", Multimodal.sniffKind(col("bytes")))
      .filter(col("sniffed") =!= col("kind"))
      .count()
    assert(mismatches == 0)
  }

  test("partition-batched decode yields one typed row per media, deterministic") {
    val media = Multimodal.synthesizeMedia(spark, 200)
    val a = Multimodal.decodeMeta(spark, media).collect().sortBy(_.mediaId)
    val b = Multimodal.decodeMeta(spark, media.repartition(7)).collect().sortBy(_.mediaId)
    assert(a.length == 200 && a.toSeq == b.toSeq)
    assert(a.forall(m => m.width >= 16 && m.nBytes >= 64 && m.meanLuma >= 0 && m.meanLuma <= 1))
    assert(a.filter(_.kind.startsWith("image")).forall(_.channels == 3))
  }

  test("frame sampling explodes deterministic frame rows with sliced bytes") {
    val media = Multimodal.synthesizeMedia(spark, 30).toDF()
    val frames = Multimodal.sampleFrames(media, everyNth = 2)
    val n = frames.count()
    assert(n > 30) // at least one frame per media, most have several
    val bad = frames.filter(length(col("frame_bytes")) > 32 || col("frame_idx") % 2 =!= 0).count()
    assert(bad == 0)
  }
}

class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private lazy val eventsDir = {
    // stream source must be a directory of parquet files
    val dir = Files.createTempDirectory("graft-events").toString
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .repartition(4).write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming hourly agg == batch hourly agg on the same bounded input") {
    val streamed = EventStream.runBounded(spark, eventsDir,
        EventStream.hourlyAgg, "hourly_out", OutputMode.Complete())
      .select("hour", "event_type", "n", "sum_value")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    val batch = EventStream.hourlyAgg(spark.read.parquet(eventsDir))
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming tag == batch tag: the zero-shuffle broadcast stage is stream-native") {
    import graft.corpus.Extract
    import graft.tag.Tagger
    // bounded corpus dir (en docs only, as the tag stage consumes)
    val docsDir = Files.createTempDirectory("graft-docs-stream").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("lang") === "en")
    docs.repartition(4).write.mode("overwrite").parquet(docsDir)
    // model built batch-side (mine → score → build), broadcast once
    val toks = docs.select(col("doc_id"), Extract.tokenize(col("text")).as("t"))
    val mined = graft.mine.Miner.mine(toks, "t",
      graft.mine.Miner.MineConfig(2, 3, 5, ordered = false))
    val scored = graft.score.Scorer.score(mined.select("ngram", "count"),
      mined.select("ngram", "count").limit(0), // empty background
      graft.score.Scorer.ScoreConfig("ratio", 1.0f, 5, assignPhraseIds = true, 1000))
    val model = graft.artifact.Builder.build(
      scored.withColumnRenamed("domain_count", "count"))._1
    val bc = spark.sparkContext.broadcast(model)

    def mentions(df: org.apache.spark.sql.DataFrame) = Tagger.mentions(
      Tagger.tagSpansTs(spark, Tagger.docsTs(df.select(col("doc_id").cast("string").as("docId"),
        Extract.tokenize(col("text")).as("tokens"))), bc))
      .select("url", "start", "end", "phrase_id")
    // streaming side: readStream → tag (mapPartitions) → memory sink
    val stream = spark.readStream.schema(docs.schema).parquet(docsDir)
    val q = mentions(stream)
      .writeStream.format("memory").queryName("tag_stream_out")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "streaming drain timed out")
    val streamed = spark.table("tag_stream_out")
      .as[(String, Int, Int, Int)].collect().toSet
    // batch side: identical code path on the same files
    val batch = mentions(spark.read.parquet(docsDir))
      .as[(String, Int, Int, Int)].collect().toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming session windows == q9_sessionize batch sessions (event-time timeout)") {
    // sessionWindows (flatMapGroupsWithState + EventTimeTimeout) must produce
    // exactly the sessions the oracle-green q9_sessionize batch query counts.
    // A sentinel far-future event advances the global watermark so every real
    // user's tail session times out and emits before the bounded stream ends.
    val dir = Files.createTempDirectory("graft-sess-stream").toString
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val sentinel = ev.limit(1)
      .withColumn("user_id", lit(-1L))
      .withColumn("ts", col("ts") + expr("INTERVAL 400 DAYS"))
    ev.unionByName(sentinel).repartition(3).write.mode("overwrite").parquet(dir)

    val q = EventStream.sessionWindows(spark, spark.readStream
        .schema(spark.read.parquet(dir).schema).parquet(dir))
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "streaming drain timed out")
    val streamed = spark.table("sess_out")
      .filter(col("user_id") >= 0) // drop the watermark sentinel
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        max(col("n_events")).as("max_session_events"),
        sum(col("n_events")).as("total_events"),
        max(col("dur_us")).as("max_session_us"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet

    val batch = graft.queries.Queries.queries("q9_sessionize")(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("session windows: cross-batch disorder bridges sessions like batch (no eager emit)") {
    // events 0s → batch 1, 3000s → batch 2, then 1500s → batch 3 (above the
    // watermark 3000−1800 = 1200s, so NOT late): with gap 1800s all three are
    // ONE session in batch-q9 semantics. An eager formulation would emit
    // [0,0] on seeing 3000s and could never retract it — the watermark-only
    // emission must yield exactly one session of 3 events.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // base offset keeps event times off epoch 0 — Spark's initial watermark
    // IS 0, and a row at exactly the watermark is late-filtered before the
    // state function (a degenerate-timestamp artifact, not session logic)
    val base = 100000L
    val ms = MemoryStream[(Long, java.sql.Timestamp)]
    def ts(sec: Long) = new java.sql.Timestamp((base + sec) * 1000L)
    val q = EventStream.sessionWindows(spark,
        ms.toDF().toDF("user_id", "ts"), gapUs = 1800000000L)
      .writeStream.format("memory").queryName("sess_disorder")
      .outputMode(OutputMode.Append()).start()
    try {
      ms.addData((7L, ts(0))); q.processAllAvailable()
      ms.addData((7L, ts(3000))); q.processAllAvailable()
      ms.addData((7L, ts(1500))); q.processAllAvailable()
      // TWO sentinels: the first advances the watermark past user 7's
      // envelope; the second's DATA batch then processes the fired timeout —
      // processAllAvailable awaits data batches but not the asynchronous
      // no-data timeout batch, so relying on the latter would be racy
      ms.addData((-1L, ts(100000000))); q.processAllAvailable()
      ms.addData((-1L, ts(100010000))); q.processAllAvailable()
      q.processAllAvailable() // belt-and-braces drain
      val got = spark.table("sess_disorder").filter(col("user_id") === 7L)
        .select("start_us", "n_events", "dur_us")
        .as[(Long, Long, Long)].collect().toSeq
      assert(got == Seq((base * 1000000L, 3L, 3000000000L)),
        s"expected one bridged session of 3 events, got $got")
    } finally q.stop()
  }

  test("mapGroupsWithState accumulates per-user totals") {
    val ev = spark.read.parquet(eventsDir)
      .select(col("user_id"), col("event_type"), col("value"))
      .as[EventStream.UserEvent]
    val stats = EventStream.userTotals(spark, ev).collect()
    val expect = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("value").as("v"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(stats.length == expect.size)
    stats.foreach { s =>
      val (n, v) = expect(s.userId)
      assert(s.events == n && math.abs(s.totalValue - v) < 1e-6)
    }
  }
}
