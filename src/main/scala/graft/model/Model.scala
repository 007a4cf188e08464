package graft.model

/**
 * Core data model of the engine — Spark-first re-expression of the
 * reference's per-stage serde structs (see SURVEY.md §1).
 *
 * Reference citations (all into /root/reference/):
 *  - Doc:          ext/phrasekit/src/bin/phrasekit_mine.rs:6-11, phrasekit_tag.rs:40-44
 *  - Ngram:        ext/phrasekit/src/bin/phrasekit_mine.rs:35-39
 *  - ScoredPhrase: ext/phrasekit/src/bin/phrasekit_score.rs:46-54
 *  - Payload:      ext/phrasekit/src/payload.rs:4-10 (17-byte LE record)
 *  - Span:         ext/phrasekit/src/bin/phrasekit_tag.rs:53-59 (half-open [start,end))
 *  - TaggedSpansTs: ext/phrasekit/src/bin/phrasekit_tag.rs:46-51, without the token echo
 *  - WebPage:      BASELINE.json input_hint (url, warc_ts, html, text, lang)
 */

/** A tokenized document. `docId` optional at mine time, required at tag time. */
final case class Doc(docId: String, tokens: Seq[String])

/** A candidate n-gram with its global occurrence count. */
final case class Ngram(tokens: Seq[String], count: Long)

/** A scored phrase (score-stage output / build-stage input). */
final case class ScoredPhrase(
    tokens: Seq[String],
    salience: Float,
    phraseId: Int,
    domainCount: Long,
    backgroundCount: Long)

/**
 * Per-phrase runtime record carried by the matcher.
 * salienceScore mirrors ext/phrasekit/src/payload.rs:23-25:
 * `salience * ((count + 1) as f32).ln()` — (count+1) is rounded to f32 FIRST
 * (lossy above 2^24), ln evaluates on that f32 value, and the final multiply is
 * a single f32 rounding (exact: JVM f32*f32 == Rust f32*f32). The only residual
 * divergence is ≤1 ulp of ln itself (JVM fdlibm log(double)→f32 vs Rust logf),
 * which survives f32 rounding only at ~2^-29-probability boundaries.
 */
final case class Payload(phraseId: Int, salience: Float, count: Int, n: Byte) {
  def salienceScore: Float =
    salience * math.log(((count.toLong & 0xffffffffL) + 1L).toFloat.toDouble).toFloat
}

/** A resolved phrase span over a token sequence; half-open token interval [start, end). */
final case class Span(start: Int, end: Int, phraseId: Int, label: String)

/** A raw (pre-policy) match: half-open token interval + dense pattern index. */
final case class RawMatch(start: Int, end: Int, patternId: Int)

/** A tokenized doc with its crawl timestamp (null when the caller has none),
 * the input of the one tag function, `Tagger.tagSpansTs`: provenance rides
 * THROUGH the tag closure instead of being re-joined afterwards. */
final case class DocTs(docId: String, warc_ts: java.sql.Timestamp, tokens: Seq[String])

/** Tag-stage output: the doc's resolved spans and its carried crawl timestamp,
 * WITHOUT the token echo — for an opaque mapPartitions Catalyst cannot prune
 * an unused field out of the closure's output, so echoing the tokens would
 * re-serialize every token string into rows the next Project discards. */
final case class TaggedSpansTs(docId: String, warc_ts: java.sql.Timestamp, spans: Seq[Span])

/** Common-Crawl-style web page row (BASELINE.json input_hint). */
final case class WebPage(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** A mention: one resolved span attributed to a source url. */
final case class Mention(url: String, start: Int, end: Int, phraseId: Int, label: String)

/** A canonicalized entity (connected component of near-duplicate phrases). */
final case class Entity(entityId: Int, canonicalTokens: Seq[String], memberPhraseIds: Seq[Int])

/** A knowledge-graph triple materialized from mentions. */
final case class Triple(subj: String, pred: String, obj: String,
    url: String, warc_ts: java.sql.Timestamp)
