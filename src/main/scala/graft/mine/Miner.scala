package graft.mine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * N-gram mining (SURVEY.md G1 + A1 + P1 + P3 + O1) — the Spark re-expression of
 * the reference's mine stage (ext/phrasekit/src/bin/phrasekit_mine.rs:109-199):
 * for each doc, every contiguous window of length n in [minN, maxN] (overlapping;
 * one count per OCCURRENCE, not per doc), lowercased, counted globally, filtered
 * by min_count, sorted by count desc.
 *
 * The generator is a pure higher-order-function column expression (sequence +
 * transform + slice + flatten + explode) — fully inside whole-stage codegen, no
 * UDF and no typed flatMap. The global count is `groupBy(ngram).count()`: Spark's
 * partial (map-side) + final hash aggregation is the distributed version of the
 * reference's single HashMap, and partial aggregation already defuses hot-key
 * skew for counting ("for the"-class grams combine within every map task before
 * the shuffle).
 *
 * The n-gram shuffle key is the space-joined STRING (tokens never contain
 * whitespace after whitespace tokenization) — cheaper to hash/compare at the
 * exchange than ARRAY<STRING>; the array form is re-derived by `split` on output.
 *
 * Output ordering adds an `ngram` ascending tie-break to the reference's
 * count-desc sort, turning its HashMap-iteration tie nondeterminism
 * (phrasekit_mine.rs:181-187) into a total order (SURVEY.md §7.6 item 1).
 */
object Miner {

  final case class MineConfig(minN: Int = 2, maxN: Int = 5, minCount: Long = 10,
      ordered: Boolean = true,
      // survivor-table size above which pass 2 shuffle-joins instead of
      // broadcasting a driver-collected sorted array
      broadcastSurvivorLimit: Long = 5000000L) {
    // config sanity mirrors phrasekit_mine.rs:78-80
    require(minN >= 1 && minN <= maxN && maxN <= 10,
      s"invalid n-gram bounds: min_n=$minN max_n=$maxN (need 1 <= min_n <= max_n <= 10)")
  }

  /** Column expression: ARRAY<STRING> tokens → ARRAY<STRING> of space-joined
   * n-grams for all n in [minN, maxN], lowercased. Not on the mine path
   * (`mine` hashes grams natively). It stays for two users: NGramsGeneratorSpec
   * uses it as the reference twin of the native `ngrams` generator, and
   * Entropy's extension fallback (`boundedExtensions`) walks grams with it.
   *
   * Wrapped in one outer lambda binding the lowercased array ONCE: naive nesting
   * re-evaluates `transform(tokens, lower)` inside every per-gram lambda
   * (Catalyst does not CSE across lambda scopes), which turns generation
   * quadratic in tokens-per-doc — measured 4× slower on the mine stage. */
  def ngramsCol(tokens: Column, minN: Int, maxN: Int): Column = {
    def grams(lowered: Column): Column =
      flatten(
        transform(sequence(lit(minN), lit(maxN)), n =>
          when(size(lowered) >= n,
            transform(sequence(lit(0), size(lowered) - n),
              i => array_join(slice(lowered, i + 1, n), " ")))
            .otherwise(array())))
    // element_at(transform(array(x), f), 1) = let-binding for column exprs
    element_at(transform(array(transform(tokens, t => lower(t))), l => grams(l)), 1)
  }

  /**
   * 64-bit string/window hashing for the hot mine loop (splitmix64 finalizer —
   * standard public-domain mixing constants). Plain JIT-compiled Scala: this
   * runs inside typed mapPartitions because Catalyst higher-order-function
   * lambdas are INTERPRETED per element — measured 3-5× slower than even naive
   * string aggregation when a fold runs per gram. mapPartitions is exactly the
   * "genuine per-partition imperative logic" escape hatch.
   */
  object Hash64 {
    @inline def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d493fddb7955bdL
      z ^ (z >>> 31)
    }
    def str(s: String): Long = {
      var h = 0x2545f4914f6cdd1dL
      var i = 0
      while (i < s.length) { h = mix(h ^ s.charAt(i).toLong); i += 1 }
      mix(h ^ s.length.toLong)
    }
    @inline def combine(acc: Long, x: Long): Long = mix(acc ^ (x * 0xff51afd7ed558ccdL))
    /** Window hash of the length-`n` prefix chain `p` (see gram loops below):
     * the chain is shared across all n at one start, so each window costs one
     * extra mix instead of re-combining its tokens from scratch — for
     * n∈[2,5] that is ~maxN combines + (maxN-minN+1) mixes per start vs
     * Σn combines (≈1.7× less hot-loop arithmetic; measured on the mine
     * stage, the pipeline's dominant cost at every parallelism level). */
    @inline def window(p: Long, n: Int): Long = mix(p ^ (n.toLong * 0x9e3779b97f4a7c15L))
  }

  /** Unboxed open-addressing long→count map — the per-partition combiner for
   * pass 1. Emitting one boxed Long per gram instance (160M+ at 2M docs)
   * drowned the 32-thread run in GC; combining in primitive arrays first emits
   * only the distinct grams of each partition.
   *
   * Layout: ONE interleaved array of [key, count] pairs, so a probe touches a
   * single cache line instead of one in a key array plus one in a count array
   * — at ~780M random-access adds per 2M-doc mine pass the probe's DRAM
   * traffic IS the cost, and halving lines-per-add is the difference that
   * shows up hardest at high thread counts where the pipeline is
   * memory-system-bound (the scaling bench's thr8 side). Slot i lives at
   * arr(2i)=key, arr(2i+1)=count; count == 0 ⇔ empty.
   *
   * Capacity limit (round-5 advice): the interleaved layout caps one
   * partition's combiner at 2²⁹ slots ≈ 375M distinct keys at the 0.7 load
   * factor (the backing array is `cap << 1` longs, and a further doubling
   * would overflow Int array sizing). Growth past the cap fails LOUDLY with
   * a repartition hint instead of a negative-size allocation; the load-check
   * arithmetic is done in Long so the threshold itself cannot overflow. */
  private final class LongCountMap(initialCapacity: Int) {
    private var cap = Integer.highestOneBit(math.max(initialCapacity, 16) * 2 - 1)
    private var mask = cap - 1
    private var arr = new Array[Long](cap << 1)
    private var n = 0
    def add(k: Long): Unit = {
      var i = (Hash64.mix(k) & mask).toInt
      var o = i << 1
      while (arr(o + 1) != 0 && arr(o) != k) { i = (i + 1) & mask; o = i << 1 }
      if (arr(o + 1) == 0) {
        arr(o) = k; n += 1
        if (n.toLong * 10 > cap.toLong * 7) { arr(o + 1) = 1; grow(); return }
      }
      arr(o + 1) += 1
    }
    private def grow(): Unit = {
      if (cap >= (1 << 29)) throw new IllegalStateException(
        s"LongCountMap: one partition holds > $n distinct gram hashes (combiner " +
          "capacity 2^29 slots) — repartition the corpus into more/smaller partitions")
      val old = arr
      cap <<= 1; mask = cap - 1; n = 0
      arr = new Array[Long](cap << 1)
      var o = 0
      while (o < old.length) {
        if (old(o + 1) != 0) {
          var j = (Hash64.mix(old(o)) & mask).toInt
          var p = j << 1
          while (arr(p + 1) != 0) { j = (j + 1) & mask; p = j << 1 }
          arr(p) = old(o); arr(p + 1) = old(o + 1); n += 1
        }
        o += 2
      }
    }
    def iterator: Iterator[(Long, Long)] = (0 until cap).iterator
      .filter(i => arr((i << 1) + 1) != 0)
      .map(i => (arr(i << 1), arr((i << 1) + 1)))
  }

  /** Per-doc gram-window hashes into the combiner: lowercase + hash each token
   * once, then pure long arithmetic per window. Zero allocation per gram. */
  private def gramHashesInto(toks: Seq[String], minN: Int, maxN: Int,
      map: LongCountMap, th0: Array[Long]): Unit = {
    val L = toks.length
    val th = if (th0.length >= L) th0 else new Array[Long](L)
    var i = 0
    toks.foreach { t => th(i) = Hash64.str(t.toLowerCase(java.util.Locale.ROOT)); i += 1 }
    // per start: ONE prefix combine chain shared by every window length
    // (Hash64.window seals each length) — same windows, ~1.7× less arithmetic
    // than re-combining each (s, n) from scratch
    var s = 0
    while (s + minN <= L) {
      var p = 0x5851f42d4c957f2dL
      val jEnd = math.min(s + maxN, L)
      var j = s
      while (j < jEnd) {
        p = Hash64.combine(p, th(j))
        j += 1
        if (j - s >= minN) map.add(Hash64.window(p, j - s))
      }
      s += 1
    }
  }


  /**
   * Mine n-grams from a corpus.
   *
   * Two-pass hash-first aggregation: (1) count 64-bit gram hashes — the
   * partial-agg hashmaps hold longs, not strings, which at web scale is the
   * difference between ~30 MB and hundreds of MB per concurrent task (string
   * maps made local[32] SLOWER than local[8]: memory-bandwidth/GC bound);
   * (2) re-materialize the ngram string only for grams that survived
   * min_count, via a join on the (small by construction) survivor table +
   * per-partition dedup. The count itself keys on xxhash64 of the token
   * slice; a 64-bit collision would merge two gram counts — probability
   * ~(distinct²)/2⁶⁵, negligible even at 10⁹ distinct grams.
   *
   * @param docs any DataFrame with an ARRAY<STRING> column `tokensCol`
   * @return DataFrame(ngram STRING, tokens ARRAY<STRING>, count BIGINT)
   */
  def mine(docs: DataFrame, tokensCol: String, cfg: MineConfig = MineConfig()): DataFrame =
    mineWithStats(docs, tokensCol, cfg)._1

  /**
   * As `mine`, plus an A3 stats handle whose doc/token/extraction counters
   * ride pass 1 via observe() — zero additional jobs (the reference emits
   * them in the same pass, phrasekit_mine.rs:117-123). The extracted-gram
   * count is pure per-doc arithmetic (Σ_n max(L-n+1, 0)), not a generator.
   * `ngramsAfterFilter` is free on the broadcast path (survivor array length);
   * on the rare shuffle-join fallback the handle counts the output lazily.
   */
  def mineWithStats(docs: DataFrame, tokensCol: String,
      cfg: MineConfig = MineConfig()): (DataFrame, () => MiningStats) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (minN, maxN) = (cfg.minN, cfg.maxN)
    val obs = org.apache.spark.sql.Observation()
    val t = col(tokensCol)
    // Σ_{n=minN..min(maxN,L)} (L-n+1), closed form — plain codegen arithmetic,
    // no per-row higher-order function in the mine hot path
    val kTop = least(lit(maxN), size(t))
    // Column `/` is double division; the numerator is always even and far
    // below 2^52 per doc, so divide-then-cast is exact
    val extractedPerDoc = when(kTop >= minN,
      (((kTop - minN + 1).cast("long") * (size(t) + 1).cast("long") * 2L -
        (lit(minN) + kTop).cast("long") * (kTop - minN + 1).cast("long")) / 2L)
        .cast("long"))
      .otherwise(lit(0L))
    val toksDs = docs.select(t)
      .observe(obs,
        count(lit(1)).as("docs"),
        coalesce(sum(size(t)), lit(0L)).as("toks"),
        coalesce(sum(extractedPerDoc), lit(0L)).as("extracted"))
      .as[Seq[String]]

    // pass 1: count gram hashes — per-partition unboxed combiner, then a
    // global sum over the (distinct-per-partition) combined pairs. Longs
    // end-to-end; memory per task is the combiner's two primitive arrays.
    val survivors = toksDs
      .mapPartitions { it =>
        val map = new LongCountMap(1 << 16)
        val th = new Array[Long](256)
        it.foreach(toks => gramHashesInto(toks, minN, maxN, map, th))
        map.iterator
      }
      .toDF("h", "partial")
      .groupBy(col("h"))
      .agg(sum(col("partial")).as("count"))
      .filter(col("count") >= cfg.minCount)

    // pass 2: re-materialize ngram strings for survivors only. Broadcast path:
    // ONE action total — (h, count) rows are collected with a limit guard,
    // sorted, and shipped as two parallel primitive arrays; the binary-search
    // index doubles as an unboxed dedup slot AND the count lookup, so no final
    // join and no persist are needed. Each partition builds each survivor's
    // string exactly once; every other instance costs long arithmetic + one
    // search.
    val guard = math.min(cfg.broadcastSurvivorLimit, Int.MaxValue - 2L).toInt
    val collected = survivors.limit(guard + 1).collect()
    val counted: DataFrame =
      if (collected.length <= guard) {
        val sortedHs = new Array[Long](collected.length)
        val counts = new Array[Long](collected.length)
        val byH = collected.sortBy(_.getLong(0))
        var i = 0
        while (i < byH.length) {
          sortedHs(i) = byH(i).getLong(0); counts(i) = byH(i).getLong(1); i += 1
        }
        val bc = spark.sparkContext.broadcast((sortedHs, counts))
        toksDs.mapPartitions { it =>
          val (set, cnts) = bc.value
          val done = new Array[Boolean](set.length)
          it.flatMap { toks =>
            val out = List.newBuilder[(Long, String, Long)]
            val L = toks.length
            val lower = new Array[String](L)
            val th = new Array[Long](L)
            var i = 0
            toks.foreach { t =>
              lower(i) = t.toLowerCase(java.util.Locale.ROOT)
              th(i) = Hash64.str(lower(i))
              i += 1
            }
            var s = 0
            while (s + minN <= L) {
              var p = 0x5851f42d4c957f2dL
              val jEnd = math.min(s + maxN, L)
              var j = s
              while (j < jEnd) {
                p = Hash64.combine(p, th(j))
                j += 1
                if (j - s >= minN) {
                  val h = Hash64.window(p, j - s)
                  val idx = java.util.Arrays.binarySearch(set, h)
                  if (idx >= 0 && !done(idx)) {
                    done(idx) = true
                    out += ((h, lower.slice(s, j).mkString(" "), cnts(idx)))
                  }
                }
              }
              s += 1
            }
            out.result()
          }
        }.toDF("h", "ngram", "count")
          .dropDuplicates("h")
          .withColumn("tokens", split(col("ngram"), " "))
          .select("ngram", "tokens", "count")
      } else {
        // survivor table too big to collect: emit every distinct gram once per
        // partition (set dedup), shuffle join against the survivor table
        val pairs = toksDs.mapPartitions { it =>
          val seen = new scala.collection.mutable.HashSet[Long]
          it.flatMap { toks =>
            val out = List.newBuilder[(Long, String)]
            val L = toks.length
            val lower = new Array[String](L)
            val th = new Array[Long](L)
            var i = 0
            toks.foreach { t =>
              lower(i) = t.toLowerCase(java.util.Locale.ROOT)
              th(i) = Hash64.str(lower(i))
              i += 1
            }
            var s = 0
            while (s + minN <= L) {
              var p = 0x5851f42d4c957f2dL
              val jEnd = math.min(s + maxN, L)
              var j = s
              while (j < jEnd) {
                p = Hash64.combine(p, th(j))
                j += 1
                if (j - s >= minN) {
                  val h = Hash64.window(p, j - s)
                  if (seen.add(h)) out += ((h, lower.slice(s, j).mkString(" ")))
                }
              }
              s += 1
            }
            out.result()
          }
        }.toDF("h", "ngram").dropDuplicates("h")
        pairs.join(survivors, Seq("h"))
          .withColumn("tokens", split(col("ngram"), " "))
          .select("ngram", "tokens", "count")
      }
    val afterFilter: () => Long =
      if (collected.length <= guard) { val n = collected.length.toLong; () => n }
      else () => survivors.count() // rare fallback: survivor table exceeded guard
    val result =
      if (cfg.ordered) counted.orderBy(col("count").desc, col("ngram").asc) else counted
    val statsFn = () => MiningStats(
      obs.get("docs").asInstanceOf[Long],
      obs.get("toks").asInstanceOf[Long],
      obs.get("extracted").asInstanceOf[Long],
      afterFilter())
    (result, statsFn)
  }

  final case class MiningStats(totalDocs: Long, totalTokens: Long,
      totalNgramsExtracted: Long, ngramsAfterFilter: Long)
}
