package graft.lake

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import java.util.ConcurrentModificationException
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Iceberg-table-format stand-in (no Iceberg jar is available offline — SURVEY.md
 * §4.3): partitioned parquet data files + an ordered JSON snapshot log giving
 *
 *  - atomic commits: data is written to an immutable per-commit directory first,
 *    then the snapshot JSON is linked into the log with create-if-absent
 *    semantics — readers resolve the table through the snapshot log only, so a
 *    crash mid-write leaves the previous snapshot intact (write-audit-publish);
 *  - optimistic concurrency (Iceberg-style commit protocol): the snapshot file
 *    for version N can only be created, never replaced; a second writer racing
 *    to the same version loses the link, re-reads the log, re-validates its
 *    commit against the merged state and retries at the new head — two writers
 *    on one lake root can no longer silently erase each other's snapshots;
 *  - per-partition lineage + metrics: every snapshot records, per partition
 *    value, the data path, row count and stage name that produced it;
 *  - exact resume: `resumableWrite` consults the completed-partition set of the
 *    stage and computes ONLY missing partitions (kill/rerun tested in LakeSpec);
 *  - bounded metadata: the parsed log is cached per instance (a long-running
 *    MentionStream ingest calls `committedPartitions` every micro-batch — the
 *    round-3 O(batches²) re-parse is gone) and `compactMetadata()` folds the
 *    accumulated per-commit files into one checkpoint (Iceberg
 *    expire_snapshots / manifest-list rollup analog).
 *
 * The snapshot schema mirrors the reference's manifest style
 * (ext/phrasekit/src/manifest.rs:7-16: version/counts/invariants as a JSON
 * sidecar), extended with partition entries.
 *
 * @param maxPartitionsPerWrite loud-failure bound on the distinct partition
 *   values a single write may commit: the snapshot log keys lineage per VALUE,
 *   so a caller partitioning by a raw high-cardinality key (url…) would
 *   collect the corpus' distinct values onto the driver and flood the log —
 *   bucket the key ([[LakeTable.bucket]]) instead, as every shipped caller
 *   does. Mirrors Miner.broadcastSurvivorLimit's guard style.
 */
final class LakeTable(spark: SparkSession, val root: String,
    val maxPartitionsPerWrite: Int = 10000) {

  private val snapDir = Paths.get(root, "snapshots")
  // checkpoints live in their own tiny subdirectory so the per-commit
  // concurrent-compaction check (publishAt) lists O(1) entries instead of
  // the whole snapshot log — a non-compacting stream ingest publishes 2
  // snapshots per micro-batch, and a full listing per publish would be
  // O(batches²) directory work over a long run
  private val ckptDir = snapDir.resolve("_checkpoints")
  private val dataDir = Paths.get(root, "data")
  Files.createDirectories(snapDir)
  Files.createDirectories(ckptDir)
  Files.createDirectories(dataDir)

  final case class PartitionEntry(value: String, path: String, rows: Long)
  final case class Snapshot(version: Int, stage: String, partitionCol: String,
      partitions: Seq[PartitionEntry]) {
    def totalRows: Long = partitions.map(_.rows).sum
  }

  // ---- snapshot log (cached per instance; version-ordered NUMERICALLY —
  // a lexicographic sort of the %05d-padded names would order 100000 before
  // 99999, regress `latest`, and clobber an existing version) ----

  private val SnapRe = "snapshot-(\\d+)\\.json".r
  private val CkptRe = "checkpoint-(\\d+)\\.json".r

  private var loaded = false
  private var logCache: Vector[Snapshot] = Vector.empty
  private var ckptVersion: Int = 0
  /** Snapshot-JSON parse counter (test hook: MentionStreamSpec pins that a
   * long ingest does O(1) parses per batch, not O(log size)). */
  private[graft] var parseCount = 0L

  private def snapName(v: Int): String = f"snapshot-$v%05d.json"
  private def ckptName(v: Int): String = f"checkpoint-$v%05d.json"

  /** Closed directory listing (Files.list holds a directory fd until closed). */
  private def listNames(dir: Path): Vector[(String, Path)] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(p => p.getFileName.toString -> p).toVector
    finally s.close()
  }

  private def listLog(): Vector[(String, Path)] = listNames(snapDir)
  private def listCkpts(): Vector[(String, Path)] = listNames(ckptDir)

  private def ensureLoaded(): Unit = synchronized {
    if (loaded) return
    // the list→read window races a concurrent compactMetadata on another
    // instance (it deletes exactly the sub-horizon files): a vanished file
    // means the log advanced mid-scan — re-list and read the merged state
    // instead of surfacing a raw NoSuchFileException to the caller
    var attempts = 0
    while (!loaded) {
      attempts += 1
      try {
        val names = listLog()
        val ckpt = listCkpts().collect { case (CkptRe(v), p) => (v.toLong, p) }
          .sortBy(_._1).lastOption
        ckptVersion = ckpt.map(_._1.toInt).getOrElse(0)
        val fromCkpt = ckpt.toVector.flatMap { case (_, p) =>
          Files.readString(p).linesIterator.drop(1) // line 0: checkpoint header
            .filter(_.nonEmpty).map(parseSnapshot).toVector
        }
        val loose = names
          .collect { case (SnapRe(v), p) if v.toLong > ckptVersion => (v.toLong, p) }
          .sortBy(_._1)
          .map { case (_, p) => parseSnapshot(Files.readString(p)) }
        logCache = (fromCkpt ++ loose).sortBy(_.version)
        loaded = true
      } catch {
        case _: java.nio.file.NoSuchFileException if attempts < 5 =>
          () // concurrent compaction folded the log mid-scan; rescan
      }
    }
  }

  def snapshots: Seq[Snapshot] = synchronized { ensureLoaded(); logCache }

  /** Drop the in-process log cache; the next read re-scans the directory
   * (reopen semantics — needed after ANOTHER writer committed to this root). */
  def refresh(): Unit = synchronized { loaded = false }

  def latest: Option[Snapshot] = snapshots.lastOption

  private def nextVersion: Int = synchronized {
    ensureLoaded()
    math.max(ckptVersion, logCache.lastOption.map(_.version).getOrElse(0)) + 1
  }

  /** All partitions ever committed for a stage (across snapshots), latest wins. */
  def committedPartitions(stage: String): Map[String, PartitionEntry] =
    committedPartitionsAsOf(stage, Int.MaxValue)

  /** Partition state as of snapshot `asOfVersion` (inclusive): among snapshots
   * with version ≤ asOfVersion, latest entry per partition value wins.
   * Versions below the metadata-checkpoint horizon are EXPIRED (their
   * per-commit files were folded by compactMetadata) and fail loudly. */
  def committedPartitionsAsOf(stage: String, asOfVersion: Int): Map[String, PartitionEntry] = {
    val snaps = snapshots
    synchronized {
      require(asOfVersion == Int.MaxValue || asOfVersion >= ckptVersion,
        s"time travel to v$asOfVersion is expired: the metadata log of $root was " +
          s"compacted at v$ckptVersion (compactMetadata folds history below its horizon)")
    }
    snaps.filter(s => s.stage == stage && s.version <= asOfVersion)
      .flatMap(_.partitions.map(e => e.value -> e)).toMap
  }

  // ---- reads ----

  /** Read the current state of a stage: union of the latest entry per partition. */
  def read(stage: String): DataFrame = read(stage, Int.MaxValue)

  /** Time travel (Iceberg read-at-snapshot): the stage as it stood after
   * snapshot `asOfVersion` committed. Entries superseded by later rewrites
   * resolve back to their old data paths — commit directories are immutable
   * and never garbage-collected by this class, so every published snapshot
   * stays readable until compactMetadata expires the history below its
   * horizon. */
  def read(stage: String, asOfVersion: Int): DataFrame = {
    val parts = committedPartitionsAsOf(stage, asOfVersion).values.toSeq
    require(parts.nonEmpty,
      s"no committed partitions for stage '$stage' as of v$asOfVersion in $root")
    spark.read.parquet(parts.map(_.path): _*)
  }

  /** Read only the named partition VALUES of a stage — FILE-level pruning
   * (the partition log maps value → data path, so non-candidate partitions
   * are never opened, the same metadata-pruned scan an Iceberg predicate on
   * a partition column gets). Values absent from the log are ignored: a
   * candidate set computed from a secondary index may name partitions that
   * happen to hold no rows. Returns None when NO candidate is committed —
   * the caller decides whether empty means "nothing to scan" (it does for
   * index-pruned detection) or an error. */
  def readPartitions(stage: String, values: Set[String]): Option[DataFrame] = {
    val parts = committedPartitions(stage).view.filterKeys(values).values.toSeq
    if (parts.isEmpty) None else Some(spark.read.parquet(parts.map(_.path): _*))
  }

  // ---- writes ----

  /** Atomically commit `df` split by `partitionCol`, skipping partitions already
   * committed for `stage`. Returns the new snapshot (or None if nothing to do).
   * The `compute` work for skipped partitions is never executed: the partition
   * pruning happens in the plan (filter pushdown on partitionCol).
   *
   * Null partition values are REJECTED up front (they would land in
   * __HIVE_DEFAULT_PARTITION__ and break value-keyed resume); partition
   * entries are derived from the directories Spark ACTUALLY wrote — their
   * names are Hive-escaped (space/':'/'/' → %xx), so reconstructing them as
   * raw `__part=$v` would silently drop those partitions from the snapshot.
   * A missing expected directory fails the commit loudly instead. Per-
   * partition row counts come from ONE read-back aggregation job, not one
   * count() job per partition. */
  def resumableWrite(df: DataFrame, partitionCol: String, stage: String): Option[Snapshot] =
    write(df, partitionCol, stage, force = false)

  /** Rewrite ALL of df's partitions regardless of prior commits (backfill /
   * compaction verb): the new snapshot's entries supersede earlier ones for
   * the same partition values under latest-wins resolution, while
   * `read(stage, olderVersion)` still resolves the superseded data — the
   * write path of time travel. */
  def rewritePartitions(df: DataFrame, partitionCol: String, stage: String): Option[Snapshot] =
    write(df, partitionCol, stage, force = true)

  private def write(df: DataFrame, partitionCol: String, stage: String,
      force: Boolean): Option[Snapshot] = {
    val done = if (force) Set.empty[String] else committedPartitions(stage).keySet
    // bounded collect: limit(max+1) caps the driver transfer, the length check
    // turns an over-wide partition column into a diagnostic instead of an OOM
    val allValRows = df.select(col(partitionCol).cast("string")).distinct()
      .limit(maxPartitionsPerWrite + 1).collect()
    require(allValRows.length <= maxPartitionsPerWrite,
      s"partition column '$partitionCol' has more than $maxPartitionsPerWrite " +
        s"distinct values — the snapshot log records lineage per VALUE, so a " +
        s"raw high-cardinality key floods the driver and the log. Bucket it " +
        s"(LakeTable.bucket) or raise maxPartitionsPerWrite.")
    require(!allValRows.exists(_.isNullAt(0)),
      s"null value in partition column '$partitionCol' — the snapshot log keys " +
        "resume on partition VALUES; filter nulls out or fill them before writing")
    val allVals = allValRows.map(_.getString(0)).sorted
    val todo = allVals.filterNot(done)
    if (todo.isEmpty) return None

    // unique per-commit directory: two racing writers must never share a data
    // dir even when they race to the same snapshot version (the loser's
    // snapshot retries at a new version but its files are already on disk)
    val commitDir = Files.createTempDirectory(dataDir, f"v$nextVersion%05d-$stage-")
    val pending = df
      .filter(col(partitionCol).cast("string").isin(todo.toIndexedSeq: _*))
      .withColumn("__part", col(partitionCol).cast("string"))
    pending.write.mode("overwrite").partitionBy("__part").parquet(commitDir.toString)

    // one job: per-partition row counts from the files just written (Spark
    // unescapes __part on read, so counts are keyed by the original value)
    val counts = spark.read.parquet(commitDir.toString)
      .groupBy(col("__part").cast("string").as("p")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val writtenDirs = Files.list(commitDir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("__part="))
      .map(p => unescapePathName(p.getFileName.toString.stripPrefix("__part=")) -> p)
      .toMap
    val entries = todo.map { v =>
      val dir = writtenDirs.getOrElse(v, throw new IllegalStateException(
        s"partition dir for value '$v' missing under $commitDir — refusing to " +
          "publish a snapshot that would silently drop it"))
      val rows = counts.getOrElse(v, throw new IllegalStateException(
        s"no rows read back for partition '$v' under $commitDir"))
      PartitionEntry(v, dir.toString, rows)
    }.toIndexedSeq

    // OCC publish: on a version collision with a concurrent writer, re-read
    // the log and re-validate — if the other writer committed any of OUR
    // partition values for this stage, resuming would double-commit them;
    // fail loudly and let the caller rerun against the merged state. An
    // aborted publish deletes its unpublished data directory (WAP: the audit
    // dir was never referenced by a snapshot) — without this, every failed
    // attempt of a flaky ingest would leak a full stage copy on disk. A hard
    // JVM crash can still orphan one dir; orphans are invisible to readers
    // (LakeSpec pins that) and bounded at one per crash, not one per retry.
    val snap =
      try publishOcc(v => Snapshot(v, stage, partitionCol, entries), () =>
        if (!force) {
          val clash = todo.filter(committedPartitions(stage).keySet)
          if (clash.nonEmpty) throw new ConcurrentModificationException(
            s"concurrent writer committed partition(s) ${clash.take(5).mkString(", ")} " +
              s"of stage '$stage' during this write — rerun resumableWrite to " +
              "resume from the merged snapshot state")
        })
      catch {
        case e: Throwable =>
          // Delete the audit dir ONLY if no published snapshot references it.
          // A concurrent compactMetadata can fold our just-linked snapshot
          // into its checkpoint before our post-link check runs — the commit
          // then FAILED from this writer's view but the data is durably
          // committed; deleting it would leave the checkpoint pointing at
          // missing parquet (permanent loss, since a rerun sees the
          // partitions committed and skips them). Same protection covers a
          // publishAt failure after a successful link.
          refresh()
          val published = committedPartitions(stage).values
            .exists(_.path.startsWith(commitDir.toString))
          if (!published) graft.util.Fs.rmrf(commitDir.toFile)
          throw e
      }
    Some(snap)
  }

  /** The pipeline commit rule, shared by every checkpointed layer of
   * KgPipeline.runCheckpointed and Incremental: unless `stage` is already
   * complete, commit `df` — resumably, or as a partition rewrite for layers
   * rebuilt whole — and mark the stage complete once it holds a committed
   * partition. Marking an empty stage complete would poison every rerun (the
   * marker skips the recompute, the read of the empty stage then throws
   * forever, and a corrected input never gets to rewrite the layer); only a
   * layer whose empty state is itself a valid result — a background of an
   * all-`lang` corpus — sets `emptyIsValid`. A crash between the write and
   * the marker is safe: the rerun recomputes the stage's input once, the
   * resumable write skips the committed partitions, and the marker lands.
   * `df` is by-name, so a complete stage costs no lineage at all. */
  def commit(df: => DataFrame, partitionCol: String, stage: String,
      rewrite: Boolean = false, emptyIsValid: Boolean = false): Unit =
    if (!isComplete(stage)) {
      write(df, partitionCol, stage, force = rewrite)
      if (emptyIsValid || committedPartitions(stage).nonEmpty) markComplete(stage)
    }

  /** Inverse of Hive's path-name escaping (%xx for reserved chars). */
  private def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val hex = s.substring(i + 1, i + 3)
        try { sb.append(Integer.parseInt(hex, 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** DATA compaction: rewrite the CURRENT state of a stage as one fresh
   * commit — one contiguous file set per partition — superseding the
   * accumulated incremental commits under latest-wins resolution. Earlier
   * snapshots stay time-travelable (`read(stage, v)`); commit directories are
   * never deleted here. The small-files answer for long-running resumable/
   * streaming stages (MentionStream's per-batch commits in particular);
   * pair with compactMetadata() to also bound the snapshot log itself. */
  def compact(stage: String): Option[Snapshot] = {
    val pc = snapshots.filter(_.stage == stage).lastOption
      .map(_.partitionCol)
      .getOrElse(throw new IllegalArgumentException(s"no snapshots for stage '$stage'"))
    rewritePartitions(read(stage), pc, stage)
  }

  /** METADATA compaction + snapshot expiry (Iceberg expire_snapshots /
   * manifest-list rollup analog): fold the whole snapshot log into ONE
   * checkpoint file — latest-wins partition state per stage, completion
   * markers preserved — and delete the per-commit snapshot files it covers.
   * Bounds the driver-side list+parse work of a long-running ingest
   * (MentionStream publishes 2 snapshots per micro-batch; 10k batches would
   * otherwise mean a 20k-file log scan on every reopen). Data directories
   * are untouched; reads at or after the horizon resolve identically; time
   * travel BELOW the horizon is expired and fails loudly. */
  def compactMetadata(): Unit = synchronized {
    ensureLoaded()
    if (logCache.isEmpty) return
    val horizon = math.max(ckptVersion, logCache.last.version)
    if (horizon == ckptVersion) {
      // idempotent no-op: nothing committed since the last compaction (also
      // reached after a crash between the checkpoint link and the expiry
      // loop) — just finish/repeat the expiry sweep instead of colliding
      // with our own checkpoint file
      expireBelow(horizon)
      return
    }
    val folded = logCache.groupBy(_.stage).toVector.map { case (stage, snapsUnsorted) =>
      val snaps = snapsUnsorted.sortBy(_.version)
      val latestWins = snaps.flatMap(_.partitions.map(e => e.value -> e)).toMap
      Snapshot(snaps.last.version, stage, snaps.last.partitionCol,
        latestWins.values.toVector.sortBy(_.value))
    }.sortBy(_.version)
    val body = (s"""{"checkpoint_version": $horizon}""" +: folded.map(renderSnapshot))
      .mkString("", "\n", "\n")
    val tmp = Files.createTempFile(ckptDir, ".tmp-checkpoint", ".json")
    Files.writeString(tmp, body)
    try Files.createLink(ckptDir.resolve(ckptName(horizon)), tmp)
    catch {
      case _: FileAlreadyExistsException =>
        throw new ConcurrentModificationException(
          s"checkpoint at v$horizon already exists under $root — concurrent compactMetadata")
    } finally { Files.deleteIfExists(tmp); () }
    expireBelow(horizon)
    // the folded state IS the post-compaction log — keep the cache warm so a
    // streaming ingest that compacts periodically still does zero re-parses
    ckptVersion = horizon
    logCache = folded
  }

  private def expireBelow(horizon: Int): Unit = {
    // deleteIfExists: two instances running the (idempotent) expiry sweep at
    // the same horizon race each other's deletes — a vanished file is the
    // sweep's goal state, not an error
    listLog().foreach {
      case (SnapRe(v), p) if v.toLong <= horizon => Files.deleteIfExists(p); ()
      case _ => ()
    }
    listCkpts().foreach {
      case (CkptRe(v), p) if v.toLong < horizon => Files.deleteIfExists(p); ()
      case _ => ()
    }
  }

  /** Stage-completion marker: a zero-partition snapshot recording that
   * `stage` finished committing ALL of its partitions. resumableWrite alone
   * makes a finished stage's rerun a write no-op, but discovering that
   * requires COMPUTING the input's distinct partition values — i.e. running
   * the stage's full upstream lineage. The marker lets resume logic skip the
   * recomputation entirely (KgPipeline.runCheckpointed consults it before
   * building each layer). */
  def markComplete(stage: String): Unit = {
    publishOcc(v => Snapshot(v, s"__done__$stage", "", Nil), () => ())
    ()
  }

  def isComplete(stage: String): Boolean =
    snapshots.exists(_.stage == s"__done__$stage")

  /** Optimistic-concurrency publish: build the snapshot at the current head
   * version and link it create-if-absent; on a collision with a concurrent
   * writer, re-scan the log, let `recheck` veto the retry (same-stage overlap
   * → ConcurrentModificationException) and retry at the new head. */
  private def publishOcc(mk: Int => Snapshot, recheck: () => Unit): Snapshot = {
    var attempts = 0
    while (attempts < 50) {
      val s = mk(nextVersion)
      try { publishAt(s); return s }
      catch {
        case _: FileAlreadyExistsException =>
          attempts += 1
          refresh()
          recheck()
        case _: LakeTable.HorizonRetracted => // compaction raced us: publishAt
          attempts += 1 // already retracted the link + refreshed the cache
          recheck()
      }
    }
    throw new IllegalStateException(
      s"could not publish a snapshot after $attempts attempts under $root — " +
        "livelocked against concurrent writers")
  }

  /** Atomic create-if-absent publish: write to tmp, hard-link into the log.
   * createLink fails with FileAlreadyExistsException if snapshot-N exists —
   * unlike ATOMIC_MOVE, which on Linux silently REPLACES the target and
   * would let two writers erase each other's committed snapshots.
   *
   * The create-if-absent argument assumes snapshot files below the head are
   * never MISSING — compactMetadata deletes exactly those, so a writer whose
   * stale view predates a concurrent compaction could otherwise link a
   * sub-horizon version that every future log scan ignores (silent loss).
   * Hence the post-link horizon check: if a checkpoint at or above our
   * version exists, the link is retracted and the commit fails LOUDLY. All
   * interleavings are covered — a compaction that lists our file folds it
   * into the checkpoint (committed); one that doesn't leaves a checkpoint
   * the post-link check sees (loud retry/abort). */
  private def publishAt(s: Snapshot): Unit = synchronized {
    val tmp = Files.createTempFile(snapDir, ".tmp-snapshot", ".json")
    Files.writeString(tmp, renderSnapshot(s))
    val target = snapDir.resolve(snapName(s.version))
    try Files.createLink(target, tmp)
    finally { Files.deleteIfExists(tmp); () }
    val ckptNow = listCkpts().collect { case (CkptRe(v), _) => v.toLong }
      .maxOption.getOrElse(0L)
    if (ckptNow >= s.version) {
      Files.deleteIfExists(target)
      refresh()
      throw new LakeTable.HorizonRetracted(
        s"a concurrent compactMetadata advanced the checkpoint horizon to v$ckptNow " +
          s"while this commit targeted v${s.version} under $root — the snapshot was " +
          "retracted; retrying at the new head")
    }
    if (loaded) logCache = logCache :+ s
  }

  // ---- canonical JSON (stable field order — determinism contract §7.7) ----

  private def jstr(v: String): String =
    "\"" + v.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def renderSnapshot(s: Snapshot): String = {
    val parts = s.partitions.map(e =>
      s"""{"value": ${jstr(e.value)}, "path": ${jstr(e.path)}, "rows": ${e.rows}}""")
      .mkString("[", ", ", "]")
    s"""{"version": ${s.version}, "stage": ${jstr(s.stage)}, "partition_col": ${jstr(s.partitionCol)}, "partitions": $parts}"""
  }

  // minimal parser for our own canonical output (no JSON lib offline)
  private def parseSnapshot(json: String): Snapshot = {
    parseCount += 1
    def str(k: String, src: String): String = {
      val m = ("\"" + k + "\": \"((?:[^\"\\\\]|\\\\.)*)\"").r.findFirstMatchIn(src)
      m.map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\")).getOrElse(
        throw new IllegalArgumentException(s"missing $k in snapshot"))
    }
    def num(k: String, src: String): Long =
      ("\"" + k + "\": (-?\\d+)").r.findFirstMatchIn(src).map(_.group(1).toLong)
        .getOrElse(throw new IllegalArgumentException(s"missing $k"))
    val partsBlock = "\"partitions\": \\[(.*)\\]".r
      .findFirstMatchIn(json).map(_.group(1)).getOrElse("")
    val entryRe = "\\{[^{}]*\\}".r
    val entries = entryRe.findAllIn(partsBlock).map { e =>
      PartitionEntry(str("value", e), str("path", e), num("rows", e))
    }.toIndexedSeq
    Snapshot(num("version", json).toInt, str("stage", json),
      str("partition_col", json), entries)
  }
}

object LakeTable {
  /** The bucket of a row: the key's xxhash64, non-negative modulo
   * `buckets` — a BIGINT in [0, buckets). Every pipeline layer partitions by
   * it, so a raw high-cardinality key never reaches the snapshot log. */
  def bucket(key: String, buckets: Int): Column =
    pmod(xxhash64(col(key)), lit(buckets.toLong))

  /** Internal OCC signal: publishAt retracted a link that landed below a
   * concurrently-advanced checkpoint horizon; publishOcc retries at the new
   * head (the cache was already refreshed). */
  private[lake] final class HorizonRetracted(msg: String)
    extends ConcurrentModificationException(msg)
}
