package perfbench

import java.nio.file.{Files, Path}
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel
import graft.KgApp
import graft.artifact.Builder
import graft.corpus.Synth
import graft.kg.{ConnectedComponents, KgPipeline, Linker, Triples}
import graft.lake.LakeTable
import graft.mine.Miner
import graft.model.{DocTs, WebPage}
import graft.score.Scorer
import graft.tag.Tagger

/**
 * The `kg_build` workload: `KgPipeline.build` over a Synth corpus written to
 * parquet during set-up, timed through one action that reads every triple
 * column. Its traced run also replays the pipeline into a `LakeTable`, the way
 * `KgApp.run` commits it, and times `KgApp.run` resuming on that lake.
 */
object Kg {

  /** Corpus size. On 4 cores the pipeline's cost is mostly fixed per-stage
   * latency up to here, so a larger corpus adds time without adding layers. */
  val Docs = 10000L

  /** KgApp's defaults: n in [2,5], minCount 10, ratio >= 2.0, leftmost_longest. */
  val Config: KgPipeline.KgConfig = KgApp.AppArgs().toConfig
  val Buckets: Int = KgApp.AppArgs().buckets

  /** The triple columns, in a fixed order, for the digest. */
  val TripleCols = Seq("subj", "pred", "obj", "url", "warc_ts")

  /** (rows, order-independent xxhash64 sum) over every triple column, in one action. */
  def digest(triples: DataFrame): (Long, BigDecimal) = {
    val r = triples.agg(count(lit(1)),
      coalesce(sum(xxhash64(TripleCols.map(col): _*).cast(DecimalType(38, 0))), lit(0)))
      .head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  def corpusPath(a: Args): String = a.work.resolve("corpus").toString

  def pages(spark: SparkSession, a: Args) = {
    import spark.implicits._
    spark.read.parquet(corpusPath(a)).as[WebPage]
  }

  def freshDir(p: Path): String = {
    graft.util.Fs.rmrf(p.toFile)
    p.toString
  }

  /** (bytes, parquet files) under a lake root. */
  def lakeBytes(root: String): (Long, Long) = {
    val files = Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
      .filter(p => Files.isRegularFile(p)).toList
    (files.map(Files.size).sum, files.count(_.toString.endsWith(".parquet")).toLong)
  }

  /** Per corpus and seed, the first digest this checkout saw; every later
   * build must match it. */
  def checkReference(a: Args, r: Report, what: String, d: (Long, BigDecimal)): Unit = {
    val f = a.work.resolve(s"reference-digest-$Docs-${a.seed}.txt")
    val s = s"${d._1} ${d._2}"
    if (!Files.exists(f)) Files.writeString(f, s)
    val ref = Files.readString(f).trim
    r.check(d._1 > 0 && ref == s, s"$what triple digest $s differs from the seed's reference $ref")
  }

  def run(a: Args, r: Report): SparkSession = {
    val (spark, _) = Main.setUp(a, r) { s =>
      Synth.corpus(s, Docs, a.seed).write.mode("overwrite").parquet(corpusPath(a))
    }
    Main.weather(spark, r) { if (a.trace) traced(spark, a, r) else timed(spark, a, r) }
    spark
  }

  /** Size of the corpus of the JVM's first build, which pays class loading,
   * JIT compilation and code generation. */
  val ColdDocs = 1000L

  /** One `KgPipeline.build` to its triple digest; returns (digest, wall, process CPU). */
  def build(spark: SparkSession, pages: Dataset[WebPage]): ((Long, BigDecimal), Double, Double) = {
    val cpu0 = Host.processCpuSeconds
    val (d, wall) = Stats.timed {
      val plan = KgPipeline.build(spark, pages, None, Config)
      try digest(plan.triples)
      finally Seq(plan.docs, plan.phrases, plan.mentions, plan.entities).foreach(_.unpersist())
    }
    (d, wall, Host.processCpuSeconds - cpu0)
  }

  /** The JVM's first build, over a small corpus made in memory. */
  def coldBuild(spark: SparkSession, a: Args, r: Report): Double = {
    val (d, wall, _) = build(spark, Synth.corpus(spark, ColdDocs, a.seed))
    r.check(d._1 > 0, "the first build made no triples")
    wall
  }

  /** A build of the set-up corpus, checked against the seed's reference digest. */
  def corpusBuild(spark: SparkSession, a: Args, r: Report): ((Long, BigDecimal), Double, Double) = {
    val out = build(spark, pages(spark, a))
    checkReference(a, r, "kg_build", out._1)
    out
  }

  /** The untraced run: the JVM's first build, then builds of the set-up
   * corpus until `seconds` have passed since the first began (at least one). */
  private def timed(spark: SparkSession, a: Args, r: Report): Unit = {
    val peak = new Host.StoragePeak(spark.sparkContext)
    val start = System.nanoTime()
    val cold = coldBuild(spark, a, r)
    val warm = Stats.repeat(1, a.seconds, start)(corpusBuild(spark, a, r))
    peak.close()
    val warmS = Stats.median(warm.map(_._2))
    r.put("cold_s", cold, "s")
    r.put("warm_s", warmS, "s")
    r.put("docs_per_s", Docs / warmS, "1/s")
    r.put("cpu_s", Stats.median(warm.map(_._3)), "s")
    r.put("storage_peak_mb", peak.peak / 1e6, "MB")
    r.put("triples", warm.head._1._1.toDouble, "count")
    r.put("warm_builds", warm.size.toDouble, "count")
  }

  /** The traced run: the JVM's first build; the layer-by-layer replay
   * committed to a lake, then `KgApp.run` resuming on that lake; then, with
   * the JVM warm at full size, one untraced build and its traced replay. */
  private def traced(spark: SparkSession, a: Args, r: Report): Unit = {
    coldBuild(spark, a, r)

    val lakeRoot = freshDir(a.work.resolve("lake"))
    val lakeLedger = new Ledger(spark, new Tracer(s"kg_build-lake-${a.seed}"))
    val lakeOut = replay(spark, a, lakeLedger, Some(new LakeTable(spark, lakeRoot)))
    lakeLedger.close()
    checkReference(a, r, "lake replay", lakeOut.digest)
    val resumes = (1 to 3).map { _ =>
      val ((triples, _), s) = Stats.timed(
        KgApp.run(spark, KgApp.AppArgs(input = Some(corpusPath(a)), lake = lakeRoot)))
      checkReference(a, r, "KgApp.run resume", digest(triples))
      s
    }
    val tr = lakeLedger.tracer
    val (bytes, files) = lakeBytes(lakeRoot)
    r.put("lake.write_s", tr.named("lake.write").map(_.seconds).sum, "s")
    r.put("lake.read_s", tr.named("lake.read").map(_.seconds).sum, "s")
    r.put("lake.cpu_s", lakeLedger.metrics("lake")._2, "s")
    r.put("lake.files", files.toDouble, "count")
    r.put("lake.bytes_per_row", bytes.toDouble / lakeOut.lakeRows, "B")
    r.put("lake.resume_s", Stats.median(resumes), "s")
    r.put("lake_mb", bytes / 1e6, "MB")
    tr.writeJsonl(a.work.resolve(s"spans-kg_build-lake-${a.seed}.jsonl"))

    val (d, untraced, _) = corpusBuild(spark, a, r)
    val ledger = new Ledger(spark, new Tracer(s"kg_build-${a.seed}"))
    val (out, tracedWall) = Stats.timed(replay(spark, a, ledger, None))
    ledger.close()
    r.check(out.digest == d, s"traced triple digest ${out.digest} differs from the build's $d")
    ledger.report(r, Ledger.PipelineLayers)
    out.ratios.foreach { case (k, (v, u)) => r.put(k, v, u) }
    r.put("trace.overhead_s", tracedWall - untraced, "s")
    ledger.tracer.writeJsonl(a.work.resolve(s"spans-kg_build-${a.seed}.jsonl"))
  }

  final case class Replay(digest: (Long, BigDecimal), lakeRows: Long,
      ratios: Seq[(String, (Double, String))])

  /**
   * The pipeline of `KgPipeline.build`, one layer call at a time, each under
   * its own span and job group, its output persisted and counted so that the
   * next layer starts from it. With a lake, as `KgPipeline.runCheckpointed`
   * does, every layer is committed through `LakeTable` with the bucket keys
   * `runCheckpointed` uses, and fed downstream from its read-back.
   */
  def replay(spark: SparkSession, a: Args, ledger: Ledger, lake: Option[LakeTable]): Replay = {
    import spark.implicits._
    import scala.concurrent.ExecutionContext.Implicits.global
    val cfg = Config
    val pg = pages(spark, a)
    ledger.root(if (lake.isEmpty) "kg_build" else "kg_build.lake") { root =>
      def commit(df: DataFrame, key: String, stage: String): DataFrame = lake match {
        case None => df
        case Some(l) =>
          ledger.layer("lake", "lake.write", root) {
            l.resumableWrite(df.withColumn("bucket", pmod(xxhash64(col(key)), lit(Buckets.toLong))),
              "bucket", stage)
            l.markComplete(stage)
            ((), 0L)
          }
          ledger.layer("lake", "lake.read", root) {
            (l.read(stage).write.format("noop").mode("overwrite").save(), 0L)
          }
          l.read(stage).drop("bucket")
      }

      val cleaned = KgPipeline.cleanedDocs(pg, cfg).persist(StorageLevel.MEMORY_AND_DISK)
      val tokens = ledger.layer("corpus", "corpus", root) {
        val row = cleaned.agg(count(lit(1)), coalesce(sum(size(col("tokens"))), lit(0L))).head()
        (row.getLong(1), row.getLong(0))
      }
      val docs = commit(cleaned, "docId", "cleaned").select("docId", "warc_ts", "tokens")

      val bgLayer = KgPipeline.backgroundFromPages(pg, cfg).persist()
      ledger.layer("mine_bg", "mine_bg", root)(((), bgLayer.count()))
      val bg = commit(bgLayer, "ngram", "background").select("ngram", "count")

      val counts = Miner.mine(docs, "tokens", cfg.mine.copy(ordered = false))
        .select("ngram", "count").persist()
      ledger.layer("mine", "mine", root)(((), counts.count()))

      val scored = Scorer.score(counts, bg, cfg.score).persist()
      ledger.layer("score", "score", root)(((), scored.count()))

      val bc = ledger.layer("artifact", "artifact", root) {
        val (model, _) = Builder.build(scored.withColumnRenamed("domain_count", "count"))
        (spark.sparkContext.broadcast(model), model.payloads.length.toLong)
      }

      // kg.link runs on its own thread, concurrently with tag, as
      // KgPipeline.buildFromCounts does; the ledger sets its job group there.
      val linkF = Future {
        ledger.layer("kg.link", "kg.link", root) {
          val e = Linker.candidateEdges(scored.select("phrase_id", "tokens"), cfg.link).persist()
          val nEdges = e.count()
          val ents = Triples.entities(scored, ConnectedComponents.run(e)).persist()
          val n = ents.count()
          ((ents, nEdges, ents.select("entity_id").distinct().count()), n)
        }
      }

      val mentions = Tagger.tagSpansTs(spark, docs.as[DocTs], bc, cfg.tag).toDF()
        .select(col("docId").as("url"), col("warc_ts"), explode(col("spans")).as("s"))
        .select(col("url"), col("warc_ts"), col("s.start").as("start"), col("s.end").as("end"),
          col("s.phraseId").as("phrase_id"), col("s.label").as("label"))
        .persist()
      val docsWithSpans = ledger.layer("tag", "tag", root) {
        val n = mentions.count()
        (mentions.select("url").distinct().count(), n)
      }
      val (ents, edges, entities) = Await.result(linkF, 1.hour)
      val mentionsIn = commit(mentions, "url", "mentions")
        .select("url", "warc_ts", "start", "end", "phrase_id", "label")
      val entsIn = commit(ents, "entity_id", "entities").select("phrase_id", "entity_id")

      val triples = Triples.materialize(mentionsIn, entsIn, cfg.triple)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val d = ledger.layer("kg.triples", "kg.triples", root) {
        val d = digest(triples)
        (d, d._1)
      }
      commit(triples, "subj", "triples")

      val nDocs = ledger.rows("corpus").toDouble
      val phrases = ledger.rows("score")
      val lakeRows = lake.map(l => Seq("cleaned", "background", "mentions", "entities", "triples")
        .map(st => l.committedPartitions(st).values.map(_.rows).sum).sum).getOrElse(0L)
      Seq(cleaned, bgLayer, counts, scored, mentions, ents, triples).foreach(_.unpersist())
      Replay(d, lakeRows, Seq(
        "mine.rows_in" -> (tokens.toDouble, "count"),
        "mine.survivors_per_1k_tokens" -> (1000.0 * ledger.rows("mine") / tokens, "count"),
        "tag.spans_per_doc" -> (ledger.rows("tag") / nDocs, "count"),
        "tag.docs_with_spans_share" -> (docsWithSpans / nDocs, "share"),
        "kg.link.edges" -> (edges.toDouble, "count"),
        "kg.link.merged_per_edge" -> ((phrases - entities).toDouble / edges, "count")))
    }
  }
}
