package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.artifact.Builder
import graft.corpus.Extract
import graft.lake.LakeTable
import graft.mine.Miner
import graft.model.WebPage
import graft.score.Scorer
import graft.tag.Tagger

/**
 * The end-to-end KG construction pipeline (SURVEY.md §0, north rule): web pages
 * → extract+tokenize → mine candidate phrases → score salience vs background →
 * build broadcast matcher → auto-label mentions → MinHash-LSH blocking +
 * connected components canonicalization → (subj, pred, obj) triples.
 *
 * One Catalyst-planned dataflow per stage; the tag stage (the per-doc hot path)
 * is shuffle-free, so end-to-end cost at scale is dominated by the mine
 * aggregation and the triple materialization shuffles — both keyed on
 * high-cardinality values with map-side partial aggregation.
 *
 * The tag stage is `Tagger.tagSpansTs`, the one Dataset-level tag function,
 * projected to mention rows by `Tagger.mentions`. The checkpointed run
 * commits every layer through `LakeTable.commit` — the one commit-and-mark
 * rule, shared with [[Incremental]] — bucketed by `LakeTable.bucket`.
 */
object KgPipeline {

  final case class KgConfig(
      lang: String = "en",
      mine: Miner.MineConfig = Miner.MineConfig(2, 4, minCount = 5),
      score: Scorer.ScoreConfig = Scorer.ScoreConfig("ratio", 2.0f, 5),
      link: Linker.LinkConfig = Linker.LinkConfig(),
      triple: Triples.TripleConfig = Triples.TripleConfig(),
      tag: Tagger.TagConfig = Tagger.TagConfig())

  final case class KgResult(
      docs: Long,
      phrases: DataFrame,
      mentions: DataFrame,
      entities: DataFrame,
      triples: DataFrame,
      numPhrases: Long,
      numMentions: Long,
      numEntities: Long,
      numTriples: Long)

  /** Lazy variant: the triple/mention/entity DataFrames without any counting
   * actions — the bench path times ONE action over `triples`. `mentions` and
   * the (small) phrase table are persisted so the mention+co-occurrence union
   * doesn't re-run the tag scan, mirroring what a production pipeline does by
   * writing the mention layer once. */
  final case class KgPlan(docs: DataFrame, phrases: DataFrame, mentions: DataFrame,
      entities: DataFrame, triples: DataFrame)

  /**
   * @param pages      the input corpus (url, warc_ts, html, text, lang)
   * @param background optional background n-gram table (ngram, count); when
   *                   absent, derived from the corpus' non-`lang` pages —
   *                   deterministic and self-contained.
   */
  /** The cleaned/tokenized layer: extract from html (per-row byte-identity
   * invariant vs `text` is asserted in tests over the full synthetic corpus),
   * tokenize, filter language. */
  def cleanedDocs(pages: Dataset[WebPage], cfg: KgConfig = KgConfig()): DataFrame =
    pages.toDF().filter(col("lang") === cfg.lang).select(
      col("url").as("docId"),
      col("warc_ts"),
      Extract.tokenize(Extract.extractText(col("html"))).as("tokens"))

  /** The background documents: the corpus' non-`lang` pages, tokenized from
   * `text` — the input of every background count table (here and in
   * [[Incremental]]). */
  private[kg] def backgroundDocs(pages: Dataset[WebPage], cfg: KgConfig): DataFrame =
    pages.toDF().filter(col("lang") =!= cfg.lang)
      .select(Extract.tokenize(col("text")).as("tokens"))

  /** An empty (ngram, count) table: the background of an all-`lang` corpus,
   * whose background layer commits no partition. */
  private[kg] def emptyCounts(spark: SparkSession): DataFrame =
    spark.emptyDataFrame.select(lit("").as("ngram"), lit(0L).as("count")).limit(0)

  /** Background n-gram table derived from the corpus' non-`lang` pages —
   * deterministic and self-contained. */
  def backgroundFromPages(pages: Dataset[WebPage], cfg: KgConfig): DataFrame =
    Miner.mine(backgroundDocs(pages, cfg), "tokens",
      cfg.mine.copy(minCount = math.max(1, cfg.mine.minCount / 2), ordered = false))
      .select("ngram", "count")

  def build(spark: SparkSession, pages: Dataset[WebPage],
      background: Option[DataFrame] = None,
      cfg: KgConfig = KgConfig()): KgPlan = {
    // the cleaned/tokenized layer feeds four consumers (two mine passes, the
    // tag scan, the warc_ts join) — materialize it once, spilling to disk;
    // the checkpointed path instead WRITES it as a lake layer and feeds
    // downstream from the parquet read-back (buildFromCleaned)
    val docs = cleanedDocs(pages, cfg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    buildFromCleaned(spark, docs,
      background.getOrElse(backgroundFromPages(pages, cfg)), cfg)
  }

  /**
   * Build from an already-materialized cleaned layer (docId, warc_ts,
   * tokens) — typically a LakeTable read-back, which is exactly what a
   * production pipeline does instead of holding a 100 TB persist in
   * executor memory+disk cache.
   */
  def buildFromCleaned(spark: SparkSession, docs: DataFrame,
      background: DataFrame, cfg: KgConfig = KgConfig()): KgPlan =
    buildFromCounts(spark, docs,
      Miner.mine(docs, "tokens", cfg.mine.copy(ordered = false)).select("ngram", "count"),
      background, cfg)

  /** As [[buildFromCleaned]], but from an externally-supplied domain n-gram
   * count table — the entry point for [[Incremental]] epochs, whose merged
   * per-epoch count layers replace the direct mine (`Miner.mine` over the
   * union corpus ≡ a sum-merge of per-epoch `minCount = 1` mines, so the two
   * paths are interchangeable; IncrementalSpec pins the equality end-to-end). */
  def buildFromCounts(spark: SparkSession, docs: DataFrame,
      domainCounts: DataFrame, background: DataFrame,
      cfg: KgConfig = KgConfig()): KgPlan = {
    // scored is consumed by Builder.collect, the linker and the entity table —
    // persist the (small, thresholded) phrase set; Builder's stats aggregate
    // is the action that materializes it
    val scored = Scorer.score(domainCounts, background, cfg.score).persist()

    val (model, _) = Builder.build(scored.withColumnRenamed("domain_count", "count"))
    val bc = spark.sparkContext.broadcast(model)

    // The DAG forks after `scored`: (a) tag scan → mentions (corpus-bound) and
    // (b) LSH → connected components → entities (phrase-table-bound, many
    // small latency-dominated stages). Running (b) concurrently with (a)
    // overlaps (b)'s stage latency with (a)'s scan — Spark schedules jobs from
    // both threads onto the same executors, exactly what a production
    // orchestrator does with independent pipeline branches.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val entsF = Future {
      val edges = Linker.candidateEdges(scored.select("phrase_id", "tokens"), cfg.link)
      val comps = ConnectedComponents.run(edges)
      val e = Triples.entities(scored, comps).persist()
      e.count() // materialize within the overlap window
      e
    }

    // warc_ts rides THROUGH the tag closure: no join-back of provenance
    // after the scan. Persisted: the mention+co-occurrence union downstream
    // would otherwise re-run the whole tag scan per branch (production would
    // write this layer)
    val mentions = Tagger.mentions(Tagger.tagSpansTs(spark, Tagger.docsTs(docs), bc, cfg.tag))
      .persist()
    mentions.count() // tag scan runs while the entity branch is in flight

    val ents = Await.result(entsF, 2.hours)
    val entityMap = ents.select("phrase_id", "entity_id")
    val triples = Triples.materialize(mentions, entityMap, cfg.triple)

    KgPlan(docs, scored, mentions, ents, triples)
  }

  def run(spark: SparkSession, pages: Dataset[WebPage],
      background: Option[DataFrame] = None,
      cfg: KgConfig = KgConfig()): KgResult = {
    val p = build(spark, pages, background, cfg)
    KgResult(
      docs = p.docs.count(),
      phrases = p.phrases, mentions = p.mentions, entities = p.entities, triples = p.triples,
      numPhrases = p.phrases.count(), numMentions = p.mentions.count(),
      numEntities = p.entities.select("entity_id").distinct().count(),
      numTriples = p.triples.count())
  }

  /** Ledger stage name for the checkpointed run's input fingerprint. */
  private[graft] val inputFpStage = "__input__"

  /** Order-independent corpus fingerprint: xor-fold of url hashes + row
   * count (xor alone cancels duplicate urls pairwise). One column-pruned
   * scan — the proportionate identity check for a resume gate; it detects
   * added/removed/renamed pages, not in-place text edits (which the lake's
   * value-keyed resume could not repair either way). */
  def corpusFingerprint(pages: Dataset[WebPage]): String = {
    val r = pages.toDF().agg(
      coalesce(bit_xor(xxhash64(col("url"))), lit(0L)).as("x"),
      count(lit(1)).as("n")).head()
    s"${r.getLong(0)}:${r.getLong(1)}"
  }

  /** The analytic graph layer of a built plan: weighted undirected entity
   * co-occurrence edges (src, dst, w) — the input [[Graph]] expects for
   * degrees / pageRank / triangles / linkPredict. */
  def cooccurEdges(plan: KgPlan,
      cfg: Triples.TripleConfig = Triples.TripleConfig()): DataFrame =
    Triples.cooccurEdges(plan.mentions, plan.entities.select("phrase_id", "entity_id"), cfg)

  /**
   * Checkpointed execution into a LakeTable (north rule: "resumable from
   * checkpoint with per-partition lineage + metrics"). The CLEANED layer is
   * committed first (url-hash-bucketed) and all downstream stages consume its
   * parquet READ-BACK — the production layout, where the tokenized corpus is
   * a table, not an executor cache pinning 100 TB of memory+disk. Mention,
   * entity and triple layers are then committed the same way; a killed run
   * resumes by computing ONLY the buckets missing from the snapshot log, and
   * stage-completion markers let it skip FINISHED layers without even
   * recomputing their input lineage (a rerun that finds the triple marker
   * returns the committed table with zero compute — LakeSpec). Returns the
   * snapshot-backed triple table.
   */
  def runCheckpointed(spark: SparkSession, pages: Dataset[WebPage],
      lakeRoot: String, buckets: Int = 16,
      background: Option[DataFrame] = None,
      cfg: KgConfig = KgConfig()): DataFrame = {
    val lake = new LakeTable(spark, lakeRoot)
    // Stage-skipping resume via completion markers (LakeTable.commit): a
    // committed stage's WRITE is a no-op anyway, but discovering that means
    // computing the stage's input lineage (the full tag scan, the LSH chain)
    // just to list its partition values. The markers let a rerun skip whole
    // layers:
    //  - triples complete → return the committed table, zero compute;
    //  - mentions+entities complete → materialize triples from their lake
    //    read-backs (no mine, no tag, no LSH);
    //  - otherwise full build, with the cleaned layer itself marker-guarded.
    if (!lake.isComplete("triples")) {
      if (lake.isComplete("mentions") && lake.isComplete("entities")) {
        val mentions = lake.read("mentions")
          .select("url", "warc_ts", "start", "end", "phrase_id", "label")
        val ents = lake.read("entities").select("phrase_id", "entity_id")
        lake.commit(Triples.materialize(mentions, ents, cfg.triple)
          .withColumn("bucket", LakeTable.bucket("subj", buckets)), "bucket", "triples")
      } else {
        // CORPUS-CONSISTENCY GATE. Value-keyed resume assumes a STABLE input
        // snapshot: with any input layer (cleaned/background) incomplete, a
        // resume whose `pages` argument changed would compute the MISSING
        // buckets from the new corpus while committed buckets hold the old
        // one — mixing corpora inside the cleaned layer itself, or scoring
        // old cleaned docs against a new-corpus background (round-3 ADVICE;
        // commit-ordering alone cannot close this, because resumableWrite
        // rightly skips committed buckets). The gate is an intent-first
        // input fingerprint (url-hash xor + count, one pruned-column scan)
        // committed BEFORE any input-layer data: a changed-input resume
        // fails LOUDLY instead of silently shifting the phrase set. Once
        // BOTH input layers are complete the pages argument is ignored
        // entirely (the lake defines the corpus — pinned in LakeSpec), so
        // the scan is skipped on the fast path.
        if (!(lake.isComplete("cleaned") && lake.isComplete("background"))) {
          val fp = corpusFingerprint(pages)
          val prior = lake.committedPartitions(inputFpStage).keySet
          if (prior.isEmpty) {
            import spark.implicits._
            lake.resumableWrite(Seq(fp).toDF("fp").withColumn("part", lit(fp)),
              "part", inputFpStage)
          } else if (!prior.contains(fp)) throw new IllegalStateException(
            s"resume corpus mismatch: this lake's input layers were computed from a " +
              s"corpus with fingerprint ${prior.head} but the pages argument " +
              s"fingerprints $fp — resuming would mix corpora across buckets/layers. " +
              "Resume with the SAME input snapshot, or start a fresh lake root.")
        }
        // The background n-gram table derives from the same pages snapshot
        // as the cleaned layer — committed alongside it (fingerprint-gated
        // above), scoring feeds from its read-back. An all-`lang` corpus has
        // an EMPTY background: the marker still lands (the empty state is
        // itself the committed decision) and resume feeds an empty frame.
        lake.commit(cleanedDocs(pages, cfg)
          .withColumn("bucket", LakeTable.bucket("docId", buckets)), "bucket", "cleaned")
        lake.commit(background.getOrElse(backgroundFromPages(pages, cfg))
          .withColumn("bucket", LakeTable.bucket("ngram", buckets)), "bucket", "background",
          emptyIsValid = true)
        val docs = lake.read("cleaned").select("docId", "warc_ts", "tokens")
        val bg =
          if (lake.committedPartitions("background").nonEmpty)
            lake.read("background").select("ngram", "count")
          else emptyCounts(spark)
        val p = buildFromCleaned(spark, docs, bg, cfg)
        lake.commit(p.mentions.withColumn("bucket", LakeTable.bucket("url", buckets)),
          "bucket", "mentions")
        lake.commit(p.entities.withColumn("bucket", LakeTable.bucket("entity_id", buckets)),
          "bucket", "entities")
        lake.commit(p.triples.withColumn("bucket", LakeTable.bucket("subj", buckets)),
          "bucket", "triples")
        // every layer is on disk now — release the build's persisted
        // intermediates (scored/mentions/entities); without this, repeated
        // checkpointed runs in one session pin dead caches in the
        // CacheManager until the session stops
        p.phrases.unpersist(); p.mentions.unpersist()
        p.entities.unpersist(); p.docs.unpersist()
      }
    }
    lake.read("triples")
  }
}
