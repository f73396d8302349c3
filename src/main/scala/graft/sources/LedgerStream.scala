package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType

/** A committed ledger VERSION number as a streaming offset. Restart
  * safety is the whole design: the offset serializes as the plain
  * number, archived manifests are immutable, so re-planning any
  * (start, end] after a crash yields byte-identical batches — the
  * replayability half of end-to-end exactly-once (the other half is
  * the sink's epoch commit, [[LedgerStreamingWrite]]). */
private[sources] case class LedgerVersionOffset(v: Int) extends Offset {
  override def json(): String = v.toString
}

/** Streaming READ of the ledger: the table's commit log served as a
  * micro-batch source (the Delta/Iceberg "table as a stream" shape).
  *
  *   - OFFSETS are version numbers; batch (s, e] is the union of the
  *     per-version append deltas s+1..e, each resolved through
  *     [[LedgerSink.readChanges]] against immutable archived
  *     manifests — a replayed batch is identical by construction.
  *   - ADMISSION CONTROL: `maxFilesPerTrigger` bounds how many ADDED
  *     FILES one trigger swallows (versions are indivisible, so a
  *     trigger always advances at least one version) — the backlog
  *     drain stays incremental instead of one giant first batch.
  *   - NON-APPEND commits (overwrite, row-level ops, OPTIMIZE) are
  *     not expressible as an insert stream. `skipChangeCommits=true`
  *     skips them (Delta's option of the same name — correct for
  *     rewrite-only commits like OPTIMIZE, lossy-by-contract for
  *     updates); without it the stream fails fast rather than
  *     misreport.
  *   - `startingVersion` picks the initial offset: `0` (default)
  *     replays the full history, `latest` tails only post-start
  *     commits.
  *
  * Column binding is by FIELD ID, resolved ONCE against the
  * query-start manifest (the stream's schema is the query-start
  * schema; per-batch resolution would null a column renamed
  * mid-stream): files written before an ADD COLUMN read null there
  * and renames never re-bind old bytes — the same evolution contract
  * as the batch scan. The scan's pushed partition/stats predicates
  * apply per file via `admits`, so a partition-filtered stream plans
  * only matching files. */
private[sources] class LedgerMicroBatchStream(
    dir: Path, required: StructType,
    idOf: Map[String, Int],
    admits: (LedgerSink.Manifest, LedgerSink.FileEntry) => Boolean,
    maxFilesPerTrigger: Int, skipChangeCommits: Boolean,
    startingVersion: String,
    onPlanned: Seq[String] => Unit,
    maxBytesPerTrigger: Long = 0L)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  @volatile private var availableNowCap: Option[Int] = None

  private def current: Int = LedgerSink.currentVersion(dir)

  /** Trigger.AvailableNow drains to the version frozen HERE through
    * the admission-controlled loop — commits that land mid-drain
    * belong to the next run. */
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(current)

  override def initialOffset(): Offset = LedgerVersionOffset(
    startingVersion match {
      case "latest" => current
      case s =>
        // fail fast on a bad offset: a startingVersion beyond the
        // table's current version (typo, stale script) would make every
        // latestOffset sit below the initial offset and the stream
        // silently produce empty batches forever
        val v = try s.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"startingVersion must be an integer or 'latest', got '$s'")
        }
        val cur = current
        if (v < 0 || v > cur) throw new IllegalArgumentException(
          s"startingVersion=$v out of range: table $dir is at version $cur")
        v
    })

  /** `maxFilesPerTrigger` and `maxBytesPerTrigger` compose (the
    * file-source/Delta admission knobs): whichever budget fills first
    * stops the trigger. Bytes come from the staged files' on-disk
    * sizes — a driver-side metadata read, same as file-source
    * admission. */
  override def getDefaultReadLimit: ReadLimit = {
    val limits = Seq(
      Option.when(maxFilesPerTrigger > 0)(
        ReadLimit.maxFiles(maxFilesPerTrigger)),
      Option.when(maxBytesPerTrigger > 0L)(
        ReadLimit.maxBytes(maxBytesPerTrigger))).flatten
    limits match {
      case Nil => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** Version v's appended (manifest, files) delta; None for a
    * non-append commit under skipChangeCommits (it advances the
    * offset but plans nothing). */
  private def versionAppends(v: Int)
      : Option[(LedgerSink.Manifest, Seq[LedgerSink.FileEntry])] =
    try {
      val m = LedgerSink.readChanges(dir, v - 1, v)
      Some((m, m.files))
    } catch {
      case _: UnsupportedOperationException if skipChangeCommits => None
    }

  override def latestOffset(): Offset =
    LedgerVersionOffset(availableNowCap.getOrElse(current))

  override def reportLatestOffset(): Offset = latestOffset()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[LedgerVersionOffset].v
    val hi = availableNowCap.getOrElse(current)
    def flatten(l: ReadLimit): Seq[ReadLimit] = l match {
      case c: CompositeReadLimit => c.getReadLimits.toSeq
      case x => Seq(x)
    }
    val pieces = flatten(limit)
    val fileBudget = pieces.collectFirst { case f: ReadMaxFiles =>
      f.maxFiles() }.getOrElse(Int.MaxValue)
    val byteBudget = pieces.collectFirst { case b: ReadMaxBytes =>
      b.maxBytes() }.getOrElse(Long.MaxValue)
    var v = s
    var usedFiles = 0
    var usedBytes = 0L
    var done = false
    // versions are indivisible: a trigger always advances at least one
    // data-bearing version, then stops before the version that would
    // overflow EITHER budget
    while (!done && v < hi) {
      val entries = versionAppends(v + 1).map(_._2).getOrElse(Seq.empty)
      // stat files only when a byte budget is actually configured —
      // file-count admission must not pay per-file metadata I/O
      val bytes =
        if (byteBudget == Long.MaxValue) 0L
        else entries.map(e =>
          try Files.size(dir.resolve(e.file))
          catch { case _: java.io.IOException => 0L }).sum
      if ((usedFiles > 0 || usedBytes > 0L) &&
          (usedFiles + entries.size > fileBudget ||
            usedBytes + bytes > byteBudget)) done = true
      else { v += 1; usedFiles += entries.size; usedBytes += bytes }
    }
    LedgerVersionOffset(v)
  }

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LedgerVersionOffset].v
    val e = end.asInstanceOf[LedgerVersionOffset].v
    if (e <= s) { onPlanned(Seq.empty); return Array.empty }
    val parts = (s + 1 to e).flatMap { v =>
      versionAppends(v).toSeq.flatMap { case (vM, entries) =>
        // readChanges serves only steps that left the equality-delete
        // set unchanged, and their appended files outsequence every
        // delete in it, so the bindings carry no equality deletes
        entries.filter(admits(vM, _))
          .map(LedgerSink.bindFile(dir, vM, _, required, idOf))
      }
    }
    onPlanned(parts.map(_.file))
    parts.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    LedgerSink.lineReaderFactory(LedgerSink.cleanDdl(required))

  override def deserializeOffset(json: String): Offset =
    LedgerVersionOffset(json.trim.toInt)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** STREAMING CHANGE FEED scan holder: `readChangeFeed=true` with NO
  * version range streams the table's row-level diffs — versions are
  * the offsets and each micro-batch is its version steps' multiset
  * diffs with `_change_type`/`_commit_version` attached (Delta's CDF
  * streaming contract; unlike the plain data stream, every commit
  * kind is expressible, so there is no skipChangeCommits/fail-fast
  * split — an OPTIMIZE step simply diffs to nothing). */
private[sources] class LedgerChangeFeedStreamScan(dir: Path,
    fullSchema: StructType,
    opts: org.apache.spark.sql.util.CaseInsensitiveStringMap)
    extends org.apache.spark.sql.connector.read.ScanBuilder
    with org.apache.spark.sql.connector.read.Scan {

  private val cdfNames = LedgerSink.cdfColumns.map(_.name).toSeq
  if (fullSchema.length < 3 ||
      fullSchema.fields.takeRight(2).map(_.name).toSeq != cdfNames)
    throw new IllegalArgumentException(
      s"change-feed schema must end with ${cdfNames.mkString(", ")} " +
        s"(got ${fullSchema.fieldNames.mkString(", ")})")

  override def build(): org.apache.spark.sql.connector.read.Scan = this
  override def readSchema(): StructType = fullSchema
  override def description(): String = s"graft-ledger-cdf-stream $dir"
  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    throw new UnsupportedOperationException(
      "batch change-feed reads need changesFromVersion/changesToVersion")

  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream = {
    val dataSchema = StructType(fullSchema.fields.dropRight(2))
    // name→id binding frozen at query start, like the data stream
    val idOf: Map[String, Int] =
      LedgerSink.readManifest(dir).map(_.idMap).getOrElse(Map.empty)
    new LedgerChangeFeedStream(dir, dataSchema, idOf,
      Option(opts.get("startingVersion")).getOrElse("0"))
  }
}

/** The CDF micro-batch stream: committed versions as offsets, each
  * batch one [[LedgerChangeStepPartition]] per data-bearing version
  * step, read by the same multiset-diff reader as the batch change
  * feed — a checkpoint-resumed drain consumes exactly the unseen
  * commits' diffs (archived manifests are immutable, so replayed
  * batches are byte-identical). */
private[sources] class LedgerChangeFeedStream(dir: Path,
    dataSchema: StructType, idOf: Map[String, Int],
    startingVersion: String)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  @volatile private var availableNowCap: Option[Int] = None
  private def current: Int = LedgerSink.currentVersion(dir)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(current)

  override def initialOffset(): Offset = LedgerVersionOffset(
    startingVersion match {
      case "latest" => current
      case s =>
        val v = try s.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"startingVersion must be an integer or 'latest', got '$s'")
        }
        val cur = current
        if (v < 0 || v > cur) throw new IllegalArgumentException(
          s"startingVersion=$v out of range: table $dir is at version $cur")
        v
    })

  override def latestOffset(): Offset =
    LedgerVersionOffset(availableNowCap.getOrElse(current))

  // no admission budget (a CDF batch is bounded by its commits' sizes);
  // SupportsTriggerAvailableNow pulls in SupportsAdmissionControl
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    latestOffset()

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  // each side reads through ITS OWN merge-on-read state — see the
  // batch change feed
  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] =
    LedgerChangeFeedScan.stepPartitions(dir,
      start.asInstanceOf[LedgerVersionOffset].v,
      end.asInstanceOf[LedgerVersionOffset].v,
      LedgerSink.bindFile(dir, _, _, dataSchema, idOf))

  override def createReaderFactory(): PartitionReaderFactory =
    LedgerChangeFeedScan.readerFactory(dataSchema)

  override def deserializeOffset(json: String): Offset =
    LedgerVersionOffset(json.trim.toInt)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
