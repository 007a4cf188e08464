package graft.kg

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.corpus.Synth
import graft.model.WebPage

/**
 * Incremental KG maintenance vs the full rebuild — the exactness contract:
 * bootstrap(A) + addEpoch(B) must equal KgPipeline.build(A ∪ B) EXACTLY
 * (mentions, entities, triples — ids, salience and all) for the geometry
 * policies, while re-tagging only the affected subset of old docs. Also pins
 * idempotent re-apply, the re-crawl guard, multi-epoch chaining, and the
 * salience_max full-retag degradation.
 */
class IncrementalSpec extends SparkSuite {
  import spark.implicits._

  private def root(): String =
    Files.createTempDirectory("graft-inc").toString

  /** Split a deterministic corpus by page id so urls are disjoint and
   * A ∪ B == corpus(n) exactly. */
  private def split(n: Long, cut: Long): (Dataset[WebPage], Dataset[WebPage]) = {
    val all = Synth.corpus(spark, n, partitions = 4)
    val id = regexp_extract(col("url"), "/page/(\\d+)$", 1).cast("long")
    (all.filter(id < cut), all.filter(id >= cut))
  }

  private def sortedMentions(df: DataFrame): Array[Row] =
    df.select(col("url"), col("warc_ts").cast("long").as("ts"), col("start"),
        col("end"), col("phrase_id").cast("long").as("phrase_id"), col("label"))
      .orderBy("url", "start", "end", "phrase_id").collect()

  private def sortedTriples(df: DataFrame): Array[Row] =
    df.select(col("subj"), col("pred"), col("obj"), col("url"),
        col("warc_ts").cast("long").as("ts"))
      .orderBy("subj", "pred", "obj", "url", "ts").collect()

  private def sortedEntities(df: DataFrame): Array[Row] =
    df.select(col("phrase_id").cast("long").as("phrase_id"), col("ngram"),
        col("entity_id").cast("long").as("entity_id"), col("canonical"))
      .orderBy("phrase_id").collect()

  private type Row = org.apache.spark.sql.Row

  /** (rows, order-independent xxhash64 sum) over every triple column. */
  private def tripleDigest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)), coalesce(sum(
        xxhash64(col("subj"), col("pred"), col("obj"), col("url"), col("warc_ts"))
          .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  test("bootstrap + addEpoch == full rebuild on the union corpus, re-tagging " +
      "only affected docs (leftmost_longest)") {
    val lakeRoot = root()
    val (a, b) = split(1400, 1000)
    val cfg = KgPipeline.KgConfig()

    val boot = Incremental.bootstrap(spark, a, lakeRoot, buckets = 4, cfg = cfg)
    assert(boot.epoch == 0 && boot.triples > 0)
    val stats = Incremental.addEpoch(spark, b, lakeRoot, buckets = 4, cfg = cfg)
    assert(stats.epoch == 1)

    val full = KgPipeline.build(spark, Synth.corpus(spark, 1400, partitions = 4),
      None, cfg)
    val lake = new graft.lake.LakeTable(spark, lakeRoot)
    assert(sortedMentions(lake.read("mentions@e1")) sameElements
      sortedMentions(full.mentions))
    assert(sortedEntities(lake.read("entities@e1")) sameElements
      sortedEntities(full.entities))
    assert(sortedTriples(Incremental.triples(spark, lakeRoot)) sameElements
      sortedTriples(full.triples))

    // incrementality: the epoch re-tagged the delta plus ONLY the affected
    // old docs — strictly fewer docs than the union corpus build touches
    val oldDocs = boot.deltaDocs
    assert(stats.affectedOldDocs < oldDocs,
      s"affected=${stats.affectedOldDocs} should be < old corpus $oldDocs")
    assert(stats.retaggedDocs == stats.affectedOldDocs + stats.deltaDocs)
    assert(stats.carriedMentions > 0, "some old mentions must carry forward un-retagged")

    full.phrases.unpersist(); full.mentions.unpersist()
    full.entities.unpersist(); full.docs.unpersist()

    // idempotent re-apply of the same delta: no new epoch, same triple count
    val again = Incremental.addEpoch(spark, b, lakeRoot, buckets = 4, cfg = cfg)
    assert(again.epoch == 1 && again.triples == stats.triples)
    assert(again.retaggedDocs == 0, "re-apply must not recompute")

    // a further distinct delta chains to epoch 2 and matches ITS full rebuild
    val (_, c0) = split(1600, 1400)
    val st2 = Incremental.addEpoch(spark, c0, lakeRoot, buckets = 4, cfg = cfg)
    assert(st2.epoch == 2)
    val full2 = KgPipeline.build(spark, Synth.corpus(spark, 1600, partitions = 4),
      None, cfg)
    // fresh handle: LakeTable caches parsed snapshots per instance (documented
    // single-writer contract) — `lake` predates epoch 2's commits
    val lake2 = new graft.lake.LakeTable(spark, lakeRoot)
    assert(sortedTriples(lake2.read("triples@e2")) sameElements
      sortedTriples(full2.triples))
    assert(sortedMentions(lake2.read("mentions@e2")) sameElements
      sortedMentions(full2.mentions))
    full2.phrases.unpersist(); full2.mentions.unpersist()
    full2.entities.unpersist(); full2.docs.unpersist()
  }

  test("detection scan is index-pruned to the buckets covering an added phrase") {
    val lakeRoot = root()
    def page(i: Int, text: String) = WebPage(s"http://t/$i",
      java.sql.Timestamp.valueOf("2025-01-01 00:00:00"),
      s"<html><body><p>$text</p></body></html>".getBytes("UTF-8"), text, "en")
    val cfg = KgPipeline.KgConfig(
      mine = graft.mine.Miner.MineConfig(2, 3, minCount = 3),
      score = graft.score.Scorer.ScoreConfig("ratio", 1.0f, 3))
    // old corpus: 30 filler docs + ONE doc carrying the future phrase's tokens
    val filler = (0 until 30).map(i => page(i, "alpha beta gamma delta epsilon zeta"))
    val a = spark.createDataset(filler :+ page(99, "rare1 rare2 alpha beta"))
    // delta: five 2-token docs push "rare1 rare2" over minCount → newly scored
    val b = spark.createDataset((100 until 105).map(i => page(i, "rare1 rare2")))
    Incremental.bootstrap(spark, a, lakeRoot, buckets = 4, cfg = cfg)
    val stats = Incremental.addEpoch(spark, b, lakeRoot, buckets = 4, cfg = cfg)
    assert(stats.phrasesAdded > 0, "the delta must add at least one phrase")
    // the added phrase's tokens live in exactly one old doc → detection reads
    // a STRICT subset of the old cleaned partitions (round-4 verdict #5)
    assert(stats.detectionPartsTotal == 4, s"stats: $stats")
    assert(stats.detectionPartsScanned >= 0 &&
      stats.detectionPartsScanned < stats.detectionPartsTotal,
      s"pruned scan must read a strict subset: $stats")
    assert(stats.affectedOldDocs == 1, s"only the rare-token doc is affected: $stats")
    // exactness is preserved under pruning: delta epoch == full union rebuild
    val full = KgPipeline.build(spark, a.union(b), None, cfg)
    val lake = new graft.lake.LakeTable(spark, lakeRoot)
    assert(sortedMentions(lake.read("mentions@e1")) sameElements
      sortedMentions(full.mentions))
    assert(sortedTriples(lake.read("triples@e1")) sameElements
      sortedTriples(full.triples))
    full.phrases.unpersist(); full.mentions.unpersist()
    full.entities.unpersist(); full.docs.unpersist()
  }

  test("re-crawled url in a delta is rejected loudly") {
    val lakeRoot = root()
    val (a, b) = split(500, 400)
    Incremental.bootstrap(spark, a, lakeRoot, buckets = 4)
    val recrawl = b.union(a.limit(3)) // three urls already in the lake
    val e = intercept[IllegalArgumentException] {
      Incremental.addEpoch(spark, recrawl, lakeRoot, buckets = 4)
    }
    assert(e.getMessage.contains("re-crawl"), e.getMessage)
  }

  test("addEpoch without bootstrap fails; parity holds for leftmost_first too") {
    val lakeRoot = root()
    val (a, b) = split(600, 450)
    intercept[IllegalStateException] {
      Incremental.addEpoch(spark, b, lakeRoot, buckets = 4)
    }
    val cfg = KgPipeline.KgConfig(
      tag = graft.tag.Tagger.TagConfig(policy = "leftmost_first"))
    Incremental.bootstrap(spark, a, lakeRoot, buckets = 4, cfg = cfg)
    Incremental.addEpoch(spark, b, lakeRoot, buckets = 4, cfg = cfg)
    val full = KgPipeline.build(spark, Synth.corpus(spark, 600, partitions = 4),
      None, cfg)
    val lake = new graft.lake.LakeTable(spark, lakeRoot)
    assert(sortedMentions(lake.read("mentions@e1")) sameElements
      sortedMentions(full.mentions))
    assert(sortedTriples(lake.read("triples@e1")) sameElements
      sortedTriples(full.triples))
    full.phrases.unpersist(); full.mentions.unpersist()
    full.entities.unpersist(); full.docs.unpersist()
  }

  test("salience_max degrades to full re-tag (exact, not incremental) — and says so") {
    val lakeRoot = root()
    val (a, b) = split(600, 450)
    val cfg = KgPipeline.KgConfig(
      tag = graft.tag.Tagger.TagConfig(policy = "salience_max"))
    val boot = Incremental.bootstrap(spark, a, lakeRoot, buckets = 4, cfg = cfg)
    val stats = Incremental.addEpoch(spark, b, lakeRoot, buckets = 4, cfg = cfg)
    // every old doc re-tagged: salience values shift with every count change
    assert(stats.affectedOldDocs == boot.deltaDocs)
    val full = KgPipeline.build(spark, Synth.corpus(spark, 600, partitions = 4),
      None, cfg)
    val lake = new graft.lake.LakeTable(spark, lakeRoot)
    assert(sortedMentions(lake.read("mentions@e1")) sameElements
      sortedMentions(full.mentions))
    full.phrases.unpersist(); full.mentions.unpersist()
    full.entities.unpersist(); full.docs.unpersist()
  }

  test("empty background (all-`lang` corpus): markers land, triples equal the build, " +
      "a rerun publishes nothing") {
    // no non-`lang` page: the background layers of both checkpointed
    // orchestrators commit no partition, their markers still land (the empty
    // table is the result), and scoring runs against the empty count table
    val pages = Synth.corpus(spark, 300, partitions = 4).filter(col("lang") === "en")
    val cfg = KgPipeline.KgConfig()
    val full = KgPipeline.build(spark, pages, None, cfg)
    val want = tripleDigest(full.triples)
    assert(want._1 > 0, "the corpus must yield triples")
    full.phrases.unpersist(); full.mentions.unpersist()
    full.entities.unpersist(); full.docs.unpersist()

    val ckRoot = root()
    val incRoot = root()
    assert(tripleDigest(KgPipeline.runCheckpointed(spark, pages, ckRoot, buckets = 4,
      cfg = cfg)) == want)
    Incremental.bootstrap(spark, pages, incRoot, buckets = 4, cfg = cfg)
    assert(tripleDigest(Incremental.triples(spark, incRoot)) == want)
    for ((r, stage) <- Seq(ckRoot -> "background", incRoot -> "background_counts")) {
      val lake = new graft.lake.LakeTable(spark, r)
      assert(lake.isComplete(stage), s"$stage marker missing")
      assert(lake.committedPartitions(stage).isEmpty, s"$stage committed data")
    }

    def versions(r: String) = new graft.lake.LakeTable(spark, r).snapshots.map(_.version)
    val (ck1, inc1) = (versions(ckRoot), versions(incRoot))
    KgPipeline.runCheckpointed(spark, pages, ckRoot, buckets = 4, cfg = cfg)
    Incremental.bootstrap(spark, pages, incRoot, buckets = 4, cfg = cfg)
    assert(versions(ckRoot) == ck1, "checkpointed rerun published a snapshot")
    assert(versions(incRoot) == inc1, "bootstrap rerun published a snapshot")
  }
}
