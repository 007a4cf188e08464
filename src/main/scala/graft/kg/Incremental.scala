package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.artifact.Builder
import graft.lake.LakeTable
import graft.mine.Miner
import graft.model.WebPage
import graft.score.Scorer
import graft.tag.Tagger

/**
 * Incremental KG maintenance: apply a DELTA of newly-crawled pages to an
 * existing lake-backed KG without rebuilding from the full corpus — the
 * operation a production crawl pipeline runs daily at 10^12-document scale,
 * where "re-run the whole build" is not an option.
 *
 * == Exactness contract ==
 * For the geometry overlap policies (`leftmost_longest` — the default —
 * `leftmost_first`, `all`), `bootstrap(A)` followed by `addEpoch(B)` produces
 * mention / entity / triple layers IDENTICAL to `KgPipeline.build(A ∪ B)` —
 * including phrase ids, salience values and entity ids (pinned in
 * IncrementalSpec). This is possible because every phrase-level stage is a
 * deterministic function of the additive n-gram COUNT tables:
 *
 *  1. '''Counts are additive.''' The domain/background count layers are mined
 *     per epoch at `minCount = 1` (raw counts — thresholds lose tail mass and
 *     would break additivity) and merged by `groupBy(ngram).sum(count)`;
 *     the mine threshold is applied at read time. The count table is
 *     n-gram-vocabulary-scale, hash-bucketed — the standard incremental-mining
 *     layout (epoch partitions appended, periodically compacted).
 *  2. '''Scoring/ids/entities are count-determined.''' `Scorer.score` over the
 *     merged counts equals scoring the union corpus exactly; phrase ids are
 *     (salience desc, ngram) sequential over that table; LSH → connected
 *     components → entity ids are functions of the scored table alone. All are
 *     phrase-table-scale — recomputed per epoch, never corpus-scale.
 *  3. '''Tagging localizes.''' A doc whose text contains no ADDED phrase and
 *     none of whose RESOLVED mentions was REMOVED keeps its span geometry
 *     bit-identical under the new model: greedy leftmost resolution depends
 *     only on the candidate span set (adding a never-matching pattern or
 *     removing a never-accepted candidate cannot change the accepted
 *     sequence). Such docs are NOT re-tagged — their mention rows are carried
 *     forward with phrase ids re-mapped `old id → ngram → new id` through two
 *     broadcast joins. Affected docs are found by (a) one scan of the old
 *     corpus with a MINI trie of just the added phrases (tiny automaton,
 *     zero-shuffle, same kernel as the tag stage) and (b) a mention-layer
 *     lookup for removed phrase ids — no full-model re-tag of the old corpus.
 *     `salience_max` resolution depends on salience VALUES (which shift with
 *     every count), so that policy degrades to re-tagging all old docs —
 *     still exact, not incremental (documented, tested).
 *
 * == Lake layout ==
 * Append-only layers carry an epoch-prefixed partition value (`e{N}-{bucket}`)
 * in ONE stage — `cleaned`, `domain_counts`, `background_counts` — so epoch
 * commits never collide and `read(stage)` is the union of all epochs.
 * Rebuilt layers get a stage PER EPOCH (`mentions@e{N}`, `entities@e{N}`,
 * `triples@e{N}`, `scored@e{N}`): latest-wins partition values cannot express
 * "this bucket is now empty", so epoch-stamped stages supersede by NAME, and
 * every earlier epoch stays readable — table-level time travel for free.
 * The `__epochs__` ledger stage records `e{N}:{fingerprint}` intent-first:
 * re-running `addEpoch` with the SAME delta resumes/no-ops idempotently
 * (value-keyed skips + deterministic rewrites), a DIFFERENT delta for a
 * committed epoch fails loudly, and `currentEpoch` is derived from the ledger.
 *
 * Every layer commits through `LakeTable.commit`, the commit-and-mark rule
 * shared with `KgPipeline.runCheckpointed`, except an epoch's appends: their
 * marker names the epoch (`cleaned@e{N}`…) rather than the stage appended to,
 * and lands even when the epoch appended nothing. Tagging is
 * `Tagger.tagSpansTs`, the one tag function, projected by `Tagger.mentions`.
 *
 * == What stays corpus-scale ==
 * Per epoch: the carried-mention rewrite (mention-scale, ~100× smaller than
 * the corpus). The added-phrase DETECTION scan is pruned by an inverted
 * token→partition index (`token_index` layer, built per epoch alongside
 * `cleaned`): a doc can match an added phrase only if it contains EVERY
 * distinct token of that phrase, so only cleaned partitions whose token set
 * covers some added phrase are read — file-level pruning through the
 * partition log ([[graft.lake.LakeTable.readPartitions]]), the miss case
 * (no partition covers any added phrase) skipping the scan entirely. Index
 * size is vocabulary × partitions (distinct pairs), mined with one
 * explode+distinct pass per epoch's delta. Lakes bootstrapped before the
 * index existed fall back to the full scan — correctness never depends on
 * the index, only the read volume does (pinned in IncrementalSpec).
 * Everything else is delta- or phrase-scale.
 */
object Incremental {

  final case class EpochStats(
      epoch: Int,
      deltaDocs: Long,
      affectedOldDocs: Long,
      retaggedDocs: Long,
      carriedMentions: Long,
      retaggedMentions: Long,
      phrasesAdded: Long,
      phrasesRemoved: Long,
      triples: Long,
      /** cleaned partitions the detection scan actually read (-1: no scan —
       * nothing added, or no partition covers any added phrase). */
      detectionPartsScanned: Long = -1,
      /** old cleaned partitions the UNPRUNED scan would have read. */
      detectionPartsTotal: Long = -1)

  private val ledgerStage = "__epochs__"
  private val tokenIndexStage = "token_index"

  /** Inverted token→cleaned-partition index rows for one epoch: DISTINCT
   * (tok, part) over the epoch's cleaned docs. One explode + partial-agg
   * distinct, delta-scale. */
  private def tokenIndexRows(cleanedEpoch: DataFrame): DataFrame =
    cleanedEpoch.select(col("bucket").as("part"), explode(col("tokens")).as("tok"))
      .distinct()

  private def writeTokenIndex(lake: LakeTable, epoch: Int, buckets: Int): Unit =
    if (!lake.isComplete(s"$tokenIndexStage@e$epoch")) {
      // index only this epoch's cleaned partitions (value-prefix pruned read)
      val vals = lake.committedPartitions("cleaned").keySet
        .filter(_.startsWith(s"e$epoch-"))
      lake.readPartitions("cleaned", vals).foreach { df =>
        val ix = tokenIndexRows(df.select("bucket", "tokens"))
        lake.resumableWrite(epochBucketed(ix, "tok", epoch, buckets)
          .select("part", "tok", "epoch", "bucket"), "bucket", tokenIndexStage)
      }
      lake.markComplete(s"$tokenIndexStage@e$epoch")
    }

  /** Cleaned-partition values (epochs < `epoch`) that can possibly hold a doc
   * matching some ADDED phrase: a match requires the doc to contain EVERY
   * distinct token of the phrase, so a partition qualifies iff its token set
   * covers at least one added phrase. Returns None when the index does not
   * cover every old epoch (pre-index lake → caller falls back to the full
   * scan); Some(set) otherwise — possibly empty, meaning NO old doc can
   * match and the scan is skipped outright. The collect is bounded by the
   * partition-log cardinality (epochs × buckets), the same driver-side scale
   * as the log itself. */
  private def detectionCandidateParts(spark: SparkSession, lake: LakeTable,
      added: DataFrame, epoch: Int): Option[Set[String]] = {
    val indexed = (0 until epoch).forall(e => lake.isComplete(s"$tokenIndexStage@e$e"))
    if (!indexed) return None
    // complete-but-empty index (all-empty old epochs): no old doc exists
    if (lake.committedPartitions(tokenIndexStage).isEmpty) return Some(Set.empty)
    val ix = lake.read(tokenIndexStage).filter(col("epoch") < epoch)
      .select("tok", "part")
    val ptoks = added.select(col("phrase_id"),
        explode(array_distinct(col("tokens"))).as("tok"))
    val need = added.select(col("phrase_id"),
      size(array_distinct(col("tokens"))).as("need"))
    val parts = ptoks.join(ix, "tok")
      .groupBy("phrase_id", "part").agg(countDistinct(col("tok")).as("hit"))
      .join(broadcast(need), "phrase_id")
      .filter(col("hit") === col("need"))
      .select("part").distinct()
      .collect().map(_.getString(0)).toSet
    Some(parts)
  }
  private def scoredStage(e: Int) = s"scored@e$e"
  private def mentionsStage(e: Int) = s"mentions@e$e"
  private def entitiesStage(e: Int) = s"entities@e$e"
  private def triplesStage(e: Int) = s"triples@e$e"

  /** Max committed epoch, from the intent-first ledger. */
  def currentEpoch(lake: LakeTable): Option[Int] = {
    val es = lake.committedPartitions(ledgerStage).keySet
      .flatMap(v => v.split(":", 2).headOption.filter(_.startsWith("e"))
        .flatMap(s => scala.util.Try(s.drop(1).toInt).toOption))
    if (es.isEmpty) None else Some(es.max)
  }

  /** The current triple table of an incremental lake. */
  def triples(spark: SparkSession, lakeRoot: String): DataFrame = {
    val lake = new LakeTable(spark, lakeRoot)
    val e = currentEpoch(lake).getOrElse(
      throw new IllegalStateException(s"no bootstrapped epochs under $lakeRoot"))
    lake.read(triplesStage(e))
  }

  /** Epoch-prefixed bucket value: appends from different epochs never collide,
   * and the epoch number rides along for cheap `epoch < E` pruning. */
  private def epochBucketed(df: DataFrame, key: String, epoch: Int, buckets: Int) =
    df.withColumn("epoch", lit(epoch))
      .withColumn("bucket", concat(lit(s"e$epoch-"), LakeTable.bucket(key, buckets)))

  /** Raw (minCount = 1) per-epoch count layers — exact additivity under merge. */
  private def rawMine(docs: DataFrame, tokensCol: String, cfg: KgPipeline.KgConfig) =
    Miner.mine(docs, tokensCol, cfg.mine.copy(minCount = 1, ordered = false))
      .select("ngram", "count")

  /** Merge epoch count partitions and apply the read-time threshold. */
  private def mergedCounts(lake: LakeTable, stage: String, floor: Long): DataFrame =
    lake.read(stage).groupBy("ngram")
      .agg(sum("count").as("count"))
      .filter(col("count") >= floor)

  /** The merged background counts at the background threshold, or the empty
   * table when no epoch committed a background partition. */
  private def mergedBackground(spark: SparkSession, lake: LakeTable,
      cfg: KgPipeline.KgConfig): DataFrame =
    if (lake.committedPartitions("background_counts").isEmpty) KgPipeline.emptyCounts(spark)
    else mergedCounts(lake, "background_counts", math.max(1, cfg.mine.minCount / 2))

  /** Epoch-0 full build, committed with the count layers future epochs merge
   * into. Idempotent: a rerun over the same corpus resumes/no-ops. */
  def bootstrap(spark: SparkSession, pages: Dataset[WebPage], lakeRoot: String,
      buckets: Int = 16, cfg: KgPipeline.KgConfig = KgPipeline.KgConfig()): EpochStats = {
    import spark.implicits._
    val lake = new LakeTable(spark, lakeRoot)
    val fp = KgPipeline.corpusFingerprint(pages)
    currentEpoch(lake).foreach { e =>
      val entries = lake.committedPartitions(ledgerStage).keySet
      require(e == 0 && entries.contains(s"e0:$fp"),
        s"lake at $lakeRoot already bootstrapped (epoch $e, ledger $entries) — " +
          s"bootstrap is epoch 0 only; this corpus fingerprints $fp. " +
          "Use addEpoch for deltas or a fresh lake root.")
    }
    lake.resumableWrite(Seq(s"e0:$fp").toDF("fp").withColumn("part", col("fp")),
      "part", ledgerStage)

    lake.commit(epochBucketed(KgPipeline.cleanedDocs(pages, cfg), "docId", 0, buckets),
      "bucket", "cleaned")
    writeTokenIndex(lake, 0, buckets)
    val cleaned = lake.read("cleaned").select("docId", "warc_ts", "tokens")
    lake.commit(epochBucketed(rawMine(cleaned, "tokens", cfg), "ngram", 0, buckets),
      "bucket", "domain_counts")
    // background: non-lang pages' raw counts (KgPipeline.backgroundFromPages
    // thresholds at max(1, minCount/2); here the threshold moves to read
    // time); an all-`lang` corpus commits nothing, and that is its result
    lake.commit(epochBucketed(rawMine(KgPipeline.backgroundDocs(pages, cfg), "tokens", cfg),
      "ngram", 0, buckets), "bucket", "background_counts", emptyIsValid = true)

    val plan = KgPipeline.buildFromCounts(spark, cleaned,
      mergedCounts(lake, "domain_counts", cfg.mine.minCount),
      mergedBackground(spark, lake, cfg), cfg)
    lake.commit(plan.phrases.withColumn("part", lit("all")), "part", scoredStage(0),
      rewrite = true)
    lake.commit(plan.mentions.withColumn("bucket", LakeTable.bucket("url", buckets)),
      "bucket", mentionsStage(0), rewrite = true)
    lake.commit(plan.entities.withColumn("bucket", LakeTable.bucket("entity_id", buckets)),
      "bucket", entitiesStage(0), rewrite = true)
    lake.commit(plan.triples.withColumn("bucket", LakeTable.bucket("subj", buckets)),
      "bucket", triplesStage(0), rewrite = true)
    val nTriples = lake.read(triplesStage(0)).count()
    val nMentions = plan.mentions.count()
    val nPhrases = plan.phrases.count()
    val nDocs = cleaned.count()
    plan.phrases.unpersist(); plan.mentions.unpersist(); plan.entities.unpersist()
    EpochStats(0, nDocs, 0, nDocs, 0, nMentions, nPhrases, 0, nTriples)
  }

  /**
   * Apply one delta epoch. Exactly-once per distinct delta: the same delta
   * resumes idempotently; a different delta after a committed epoch starts
   * the next epoch; re-crawled urls (delta ∩ existing) are rejected loudly —
   * upsert-by-url is a partition REWRITE of the cleaned layer, a different
   * verb (the count layers could not subtract the stale occurrences).
   */
  def addEpoch(spark: SparkSession, delta: Dataset[WebPage], lakeRoot: String,
      buckets: Int = 16, cfg: KgPipeline.KgConfig = KgPipeline.KgConfig()): EpochStats = {
    import spark.implicits._
    val lake = new LakeTable(spark, lakeRoot)
    val prev = currentEpoch(lake).getOrElse(throw new IllegalStateException(
      s"no bootstrapped lake under $lakeRoot — call bootstrap(pages, ...) first"))
    val fp = KgPipeline.corpusFingerprint(delta)
    val ledger = lake.committedPartitions(ledgerStage).keySet
    // same fingerprint as the head epoch → this is a retry/no-op of that
    // epoch; anything else starts the next epoch, which requires the head to
    // have finished (an interrupted epoch is finished by re-running addEpoch
    // with ITS delta — every write below is value-keyed or marker-guarded)
    val isRetry = ledger.contains(s"e$prev:$fp")
    val epoch = if (isRetry) prev else prev + 1
    if (isRetry && lake.isComplete(triplesStage(epoch)))
      return statsFromLake(lake, epoch) // identical delta already applied
    if (!isRetry) require(lake.isComplete(triplesStage(prev)),
      s"epoch $prev is incomplete — re-run addEpoch/bootstrap with epoch $prev's " +
        "input to finish it before adding a new delta (its writes are idempotent)")
    val from = epoch - 1

    // re-crawl guard BEFORE the ledger write: one url-pruned join against the
    // committed cleaned layer
    val oldCleaned = lake.read("cleaned").filter(col("epoch") < epoch)
    val deltaCleanedDf = KgPipeline.cleanedDocs(delta, cfg)
    val dup = oldCleaned.select("docId")
      .join(deltaCleanedDf.select("docId"), "docId").limit(1).collect()
    require(dup.isEmpty,
      s"delta re-crawls url '${dup.headOption.map(_.getString(0)).getOrElse("")}' " +
        "already in the lake — incremental epochs are append-only by url; " +
        "re-crawl upsert needs a cleaned-layer partition rewrite, not addEpoch")
    // BEFORE the intent ledger lands: an empty delta would otherwise commit a
    // ledger entry for an epoch that can never complete, wedging the lake
    require(deltaCleanedDf.limit(1).collect().nonEmpty,
      s"delta contributes no '${cfg.lang}' docs — an empty epoch would commit " +
        "layers indistinguishable from a failed write; filter upstream instead")

    lake.resumableWrite(Seq(s"e$epoch:$fp").toDF("fp").withColumn("part", col("fp")),
      "part", ledgerStage)

    // append layers share one stage (epoch-prefixed partition values); the
    // per-epoch completion MARKER rides a virtual stage name, distinguishing
    // "this epoch's append finished" from "some buckets landed" (an empty
    // bucket is indistinguishable from a missing one in a value-keyed log)
    def append(stage: String, df: => DataFrame, key: String): Unit =
      if (!lake.isComplete(s"$stage@e$epoch")) {
        lake.resumableWrite(epochBucketed(df, key, epoch, buckets), "bucket", stage)
        lake.markComplete(s"$stage@e$epoch")
      }
    append("cleaned", deltaCleanedDf, "docId")
    writeTokenIndex(lake, epoch, buckets)
    val deltaCleaned = lake.read("cleaned").filter(col("epoch") === epoch)
      .select("docId", "warc_ts", "tokens")
    append("domain_counts", rawMine(deltaCleaned, "tokens", cfg), "ngram")
    append("background_counts", rawMine(KgPipeline.backgroundDocs(delta, cfg), "tokens", cfg),
      "ngram")

    // phrase-scale: merged counts → scored (== scoring the union corpus)
    val newScored = Scorer.score(mergedCounts(lake, "domain_counts", cfg.mine.minCount),
      mergedBackground(spark, lake, cfg), cfg.score).persist()
    lake.commit(newScored.withColumn("part", lit("all")), "part", scoredStage(epoch),
      rewrite = true)

    val prevScored = lake.read(scoredStage(from))
    val added = newScored.join(prevScored.select("ngram"), Seq("ngram"), "left_anti")
      .persist()
    val removed = prevScored.join(newScored.select("ngram"), Seq("ngram"), "left_anti")
      .select(col("phrase_id").cast("int").as("phrase_id"), col("ngram")).persist()
    val nAdded = added.count()
    val nRemoved = removed.count()

    val oldMentions = lake.read(mentionsStage(from))
      .select("url", "warc_ts", "start", "end", "phrase_id", "label")

    // affected old docs: (a) docs where a REMOVED phrase had a resolved
    // mention (a candidate that never won cannot change the greedy outcome);
    // (b) docs matching an ADDED phrase — one mini-trie scan, policy `all`
    // (any hit marks the doc); (c) salience_max: every old doc (see scaladoc)
    val removedUrls = oldMentions
      .join(broadcast(removed.select("phrase_id")), Seq("phrase_id"))
      .select("url")
    val totalOldParts = lake.committedPartitions("cleaned").keySet
      .count(v => v.split("-", 2).headOption.exists(e =>
        scala.util.Try(e.drop(1).toInt).toOption.exists(_ < epoch)))
    var scannedParts = -1L
    val emptyUrls = spark.emptyDataFrame.select(lit("").as("url")).limit(0)
    val addedUrls =
      if (nAdded == 0) emptyUrls
      else {
        // index-pruned detection: only cleaned partitions whose token set
        // covers some added phrase can hold a match (None = pre-index lake
        // → full scan; empty = provably no old doc matches → no scan)
        val scanDocs = detectionCandidateParts(spark, lake, added, epoch) match {
          case None =>
            scannedParts = totalOldParts
            Some(oldCleaned)
          case Some(parts) =>
            scannedParts = parts.size.toLong
            lake.readPartitions("cleaned", parts)
              .map(_.filter(col("epoch") < epoch))
        }
        scanDocs match {
          case None => emptyUrls
          case Some(docs) =>
            val (miniModel, _) =
              Builder.build(added.withColumnRenamed("domain_count", "count"))
            val miniTag = cfg.tag.copy(policy = "all", strictPolicy = false)
            Tagger.mentions(Tagger.tagSpansTs(spark, Tagger.docsTs(docs),
              spark.sparkContext.broadcast(miniModel), miniTag)).select("url")
        }
      }
    val affectedUrls =
      (if (cfg.tag.policy == "salience_max")
        oldCleaned.select(col("docId").as("url"))
      else removedUrls.unionByName(addedUrls)).distinct().persist()
    val nAffected = affectedUrls.count()

    // carried mentions: unaffected docs keep their span geometry; payloads
    // re-mapped old id → ngram → new id through two broadcast phrase tables
    // (phrase-scale by the same contract that broadcasts the tag model)
    val carried = oldMentions
      .join(affectedUrls, Seq("url"), "left_anti")
      .join(broadcast(prevScored.select(col("phrase_id").cast("int").as("phrase_id"),
        col("ngram"))), Seq("phrase_id"))
      .drop("phrase_id")
      .join(broadcast(newScored.select(col("phrase_id").cast("int").as("new_pid"),
        col("ngram"))), Seq("ngram"))
      .select(col("url"), col("warc_ts"), col("start"), col("end"),
        col("new_pid").as("phrase_id"), col("label"))

    // re-tag: affected old docs + the whole delta, with the full new model
    val (model, _) = Builder.build(newScored.withColumnRenamed("domain_count", "count"))
    val retagDocs = oldCleaned.select("docId", "warc_ts", "tokens")
      .join(affectedUrls.withColumnRenamed("url", "docId"), Seq("docId"), "left_semi")
      .unionByName(deltaCleaned)
      .persist()
    val retagged = Tagger.mentions(Tagger.tagSpansTs(spark, Tagger.docsTs(retagDocs),
      spark.sparkContext.broadcast(model), cfg.tag))

    val mentions = carried.unionByName(retagged).persist()
    lake.commit(mentions.withColumn("bucket", LakeTable.bucket("url", buckets)),
      "bucket", mentionsStage(epoch), rewrite = true)

    // entities: function of the scored table alone (LSH → CC → canonical)
    val edges = Linker.candidateEdges(newScored.select("phrase_id", "tokens"), cfg.link)
    val comps = ConnectedComponents.run(edges)
    val ents = Triples.entities(newScored, comps).persist()
    lake.commit(ents.withColumn("bucket", LakeTable.bucket("entity_id", buckets)),
      "bucket", entitiesStage(epoch), rewrite = true)

    val triplesDf = Triples.materialize(
      lake.read(mentionsStage(epoch))
        .select("url", "warc_ts", "start", "end", "phrase_id", "label"),
      ents.select("phrase_id", "entity_id"), cfg.triple)
    lake.commit(triplesDf.withColumn("bucket", LakeTable.bucket("subj", buckets)),
      "bucket", triplesStage(epoch), rewrite = true)

    val stats = EpochStats(
      epoch = epoch,
      deltaDocs = deltaCleaned.count(),
      affectedOldDocs = nAffected,
      retaggedDocs = retagDocs.count(),
      carriedMentions = carried.count(),
      retaggedMentions = mentions.count() - carried.count(),
      phrasesAdded = nAdded,
      phrasesRemoved = nRemoved,
      triples = lake.read(triplesStage(epoch)).count(),
      detectionPartsScanned = scannedParts,
      detectionPartsTotal = totalOldParts.toLong)
    Seq(newScored, added, removed, affectedUrls, retagDocs, mentions, ents)
      .foreach(_.unpersist())
    stats
  }

  /** Stats surrogate for an idempotent re-apply: layer row counts from the
   * snapshot log (no recompute); the scan-dependent fields are 0 by
   * definition — nothing was re-tagged. */
  private def statsFromLake(lake: LakeTable, epoch: Int): EpochStats = {
    def rows(stage: String): Long =
      lake.committedPartitions(stage).values.map(_.rows).sum
    EpochStats(epoch, 0, 0, 0, rows(mentionsStage(epoch)), 0, 0, 0,
      rows(triplesStage(epoch)))
  }
}
