package graft.tag

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.artifact.TagModel
import graft.matching.{Policies, Policy}
import graft.model.{DocTs, RawMatch, Span, TaggedSpansTs}

/**
 * Corpus auto-labeling (SURVEY.md §3.3, the flagship) — Spark re-expression of
 * ext/phrasekit/src/bin/phrasekit_tag.rs:86-271.
 *
 * Shape (north-rule mandated): the driver-built TagModel (vocab + trie + payloads)
 * is broadcast once; documents flow through a typed `mapPartitions` that encodes
 * tokens (broadcast vocab lookup — the reference's J2 "join" collapsed into the
 * same closure, exactly like its artifact bundle), scans with Aho-Corasick (J3),
 * resolves overlaps per policy (W1-W4), truncates to max_spans (W5), and emits
 * the doc's spans. ZERO shuffles: the only cross-node movement is the broadcast
 * itself, so the stage scales linearly with executors — the property the
 * scaling-efficiency criterion measures.
 *
 * [[tagSpansTs]] is the one Dataset-level tag function; [[mentions]] is the one
 * projection of its output to mention rows. Every caller — KgPipeline,
 * Incremental, MentionStream, the oracle-checked queries — goes through both; callers
 * with no crawl time tag with a null `warc_ts` ([[docsTs]]).
 */
object Tagger {

  final case class TagConfig(
      policy: String = "leftmost_longest", // tag-CLI default (phrasekit_tag.rs:27-29)
      maxSpans: Int = 100,
      label: String = "PHRASE",
      // true = runtime-matcher parse (policy.rs:10-19: salience_max valid, unknown
      // fatal); false = tag-CLI parse (unknown falls through to "all")
      strictPolicy: Boolean = false)

  /** Pure per-doc tagging: the reference's per-line body (phrasekit_tag.rs:146-211). */
  def tagDoc(model: TagModel, policy: Policy, maxSpans: Int, label: String)(
      tokens: Seq[String]): Seq[Span] = {
    val ids = model.vocab.encodeAll(tokens)
    val raw = model.trie.findOverlapping(ids)
    val resolved = Policies.truncate(
      Policies.resolve(raw.toIndexedSeq, policy, model.payloads), maxSpans)
    resolved.map(m => Span(m.start, m.end, model.payloads(m.patternId).phraseId, label))
  }

  /** Tag a corpus. Strict schema (doc_id required), matching the tag CLI's
   * fail-fast parse (phrasekit_tag.rs:146). The output carries the doc's
   * crawl timestamp THROUGH the closure — no corpus-scale join-back of
   * provenance after the scan (guide §2.4) — and no token echo: an opaque
   * mapPartitions defeats column pruning (guide §2.3), so echoing the tokens
   * would re-serialize the corpus' token bytes into rows the next Project
   * discards. */
  def tagSpansTs(spark: SparkSession, docs: Dataset[DocTs], model: Broadcast[TagModel],
      cfg: TagConfig = TagConfig()): Dataset[TaggedSpansTs] = {
    import spark.implicits._
    val policy =
      if (cfg.strictPolicy) Policy.fromString(cfg.policy) else Policy.fromStringTag(cfg.policy)
    val maxSpans = cfg.maxSpans
    val label = cfg.label
    docs.mapPartitions { it =>
      val m = model.value
      it.map(d => TaggedSpansTs(d.docId, d.warc_ts, tagDoc(m, policy, maxSpans, label)(d.tokens)))
    }
  }

  /** The tag input of a (docId, tokens[, warc_ts]) frame: a frame without a
   * crawl time tags with a null `warc_ts`. */
  def docsTs(docs: DataFrame): Dataset[DocTs] = {
    val ts = if (docs.columns.contains("warc_ts")) col("warc_ts") else lit(null).cast("timestamp")
    docs.select(col("docId"), ts.as("warc_ts"), col("tokens")).as(Encoders.product[DocTs])
  }

  /** The mention projection of a tag pass: one (url, warc_ts, start, end,
   * phrase_id, label) row per span, the doc id as url. */
  def mentions(tagged: Dataset[TaggedSpansTs]): DataFrame =
    tagged.toDF()
      .select(col("docId").as("url"), col("warc_ts"), explode(col("spans")).as("s"))
      .select(col("url"), col("warc_ts"),
        col("s.start").as("start"), col("s.end").as("end"),
        col("s.phraseId").as("phrase_id"), col("s.label").as("label"))

  /** Tagging stats (SURVEY.md A5) over a tagged corpus, one aggregate pass. */
  def stats(tagged: DataFrame): TaggingStats = {
    val r = tagged.agg(
      count(lit(1)),
      coalesce(sum(size(col("spans"))), lit(0L)),
      coalesce(sum(when(size(col("spans")) > 0, 1L).otherwise(0L)), lit(0L))).head()
    TaggingStats(r.getLong(0), r.getLong(1), r.getLong(2))
  }
  final case class TaggingStats(documents: Long, totalSpans: Long, docsWithSpans: Long) {
    def avgSpansPerDoc: Double = if (documents > 0) totalSpans.toDouble / documents else 0.0
  }
}

/**
 * The online matcher path (SURVEY.md §3.4) — plain Scala API mirroring
 * `PhraseKit.match_tokens` (lib/phrasekit.rb:38-41, matcher.rs:67-105) so tests
 * and services can call it without a cluster. Immutability replaces the
 * reference's RwLock; hot reload = swapping the TagModel reference (or
 * re-broadcasting between jobs).
 */
object Matcher {

  final case class MatchResult(start: Int, end: Int, phraseId: Int,
      salience: Float, count: Int, n: Byte)

  /** Strict policy parse (unknown → error, like policy.rs:10-19). Default max=32
   * mirrors lib/phrasekit.rb:38. */
  def matchTokens(model: TagModel, tokenIds: Array[Int],
      policy: String = "leftmost_longest", max: Int = 32): IndexedSeq[MatchResult] = {
    if (tokenIds.isEmpty) return Vector.empty
    val p = Policy.fromString(policy)
    val raw = model.trie.findOverlapping(tokenIds)
    Policies.truncate(Policies.resolve(raw.toIndexedSeq, p, model.payloads), max)
      .map { m: RawMatch =>
        val pl = model.payloads(m.patternId)
        MatchResult(m.start, m.end, pl.phraseId, pl.salience, pl.count, pl.n)
      }
  }

  /** Surface-token convenience (PhraseKit.match_text_tokens). */
  def matchTextTokens(model: TagModel, tokens: Seq[String],
      policy: String = "leftmost_longest", max: Int = 32): IndexedSeq[MatchResult] =
    matchTokens(model, model.vocab.encodeAll(tokens), policy, max)
}

/**
 * Stateful matcher service — the operational surface of the reference's
 * `PhraseKit::NativeMatcher` (ext/phrasekit/src/lib.rs:26-104): load/hot-reload
 * an artifact bundle, match, `stats`, `healthcheck`. The reference guards the
 * slot with a RwLock; an AtomicReference gives the same swap-under-readers
 * hot-reload semantics (lib.rs:26-34) without blocking matchers.
 */
final class MatcherService {
  import Matcher.MatchResult

  private val slot =
    new java.util.concurrent.atomic.AtomicReference[Option[(graft.artifact.TagModel, Long)]](None)
  private val hits = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Load a bundle from disk (lib.rs:26-34 / matcher.rs:35-65). */
  def load(dir: String): Unit = reload(graft.artifact.TagModel.load(dir))

  /** Hot reload: swap the model; in-flight matches finish on the old one. */
  def reload(model: graft.artifact.TagModel): Unit =
    slot.set(Some((model, System.currentTimeMillis())))

  private def current: (graft.artifact.TagModel, Long) =
    slot.get.getOrElse(throw new IllegalStateException("Matcher not loaded"))

  def matchTokens(tokenIds: Array[Int], policy: String = "leftmost_longest",
      max: Int = 32): IndexedSeq[MatchResult] = {
    val r = Matcher.matchTokens(current._1, tokenIds, policy, max)
    hits.addAndGet(r.length.toLong)
    r
  }

  def matchTextTokens(tokens: Seq[String], policy: String = "leftmost_longest",
      max: Int = 32): IndexedSeq[MatchResult] = {
    val r = Matcher.matchTextTokens(current._1, tokens, policy, max)
    hits.addAndGet(r.length.toLong)
    r
  }

  /** Stats fields per lib.rs:61-88 / matcher.rs:128-151. The reference stubs
   * hits_total and the latency percentiles to zero (matcher.rs:144-150); we
   * report REAL hits_total (documented improvement) and keep the percentile
   * fields stubbed at 0 like the reference. */
  final case class Stats(version: String, loadedAtMs: Long, numPatterns: Int,
      heapMb: Double, hitsTotal: Long, p50Us: Long, p95Us: Long, p99Us: Long)

  def stats: Stats = {
    val (m, loadedAt) = current
    Stats(m.manifest.version, loadedAt, m.payloads.length, heapMb(m),
      hits.get(), 0L, 0L, 0L)
  }

  /** Trie + payload heap estimate, the analogue of matcher.rs:121-126. */
  private def heapMb(m: graft.artifact.TagModel): Double = {
    val trieBytes = m.trie.patterns.iterator.map(p => 4L * p.length + 16L).sum +
      12L * m.trie.numStates
    val payloadBytes = 16L * m.payloads.length
    val vocabBytes = m.vocab.tokens.iterator.map { case (t, _) => 2L * t.length + 40L }.sum
    (trieBytes + payloadBytes + vocabBytes).toDouble / 1048576.0
  }

  /** Throws "Matcher not loaded" when empty, true otherwise (lib.rs:90-96). */
  def healthcheck(): Boolean = { current; true }
}
