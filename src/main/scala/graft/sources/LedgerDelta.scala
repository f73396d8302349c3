package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expression => ConnectorExpression, Expressions, NamedReference, SortOrder => ConnectorSortOrder}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DELTA-BASED row-level operations (the Iceberg v2 position-delta /
  * Delta deletion-vector design, expressed through Spark's
  * [[SupportsDelta]] protocol): SQL DELETE/UPDATE/MERGE plan a
  * `WriteDelta` instead of a group-based `ReplaceData` — Spark hands
  * the connector each row's OPERATION (delete/update/insert) plus its
  * rowId `(_file, _pos)`, and the commit installs per-file deletion
  * vectors and appended files in ONE manifest swap. No touched file
  * is rewritten: a MERGE that updates 100 rows across 100 large files
  * costs O(rows changed) write work, not O(files touched) — at 100 TB
  * the difference between a metadata-sized commit and rewriting
  * terabytes (the reason Iceberg v2 and Delta both grew this path).
  *
  * The rowId works because physical line ordinals are STABLE under
  * deletion-vector changes — only a file rewrite invalidates them,
  * and every rewrite mints fresh file names — so the commit checks
  * each target's (file, dv-at-planning) pair. The procedural
  * [[LedgerMaintenance.deleteMoR]] / `updateMoR` drive this same
  * writer and commit.
  *
  * Selected per table via the `graft.ledger.rowLevelMode=mor` table
  * property (the session conf of the same name covers tables that
  * declare none); the group-based copy-on-write path stays the
  * default (partition-tuple clustering on large rewrites keeps file
  * sizes uniform there).
  */
private[sources] class LedgerDeltaOperation(
    dir: Path, schema: StructType,
    cmd: RowLevelOperation.Command) extends RowLevelOperation
    with SupportsDelta {

  override def command: RowLevelOperation.Command = cmd

  /** Row identity = (data file, physical line ordinal) — the two
    * metadata columns [[LedgerTable.metadataColumns]] serves. */
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(LedgerSink.MetaFileCol),
      Expressions.column(LedgerSink.MetaPosCol))

  /** UPDATE rows arrive whole (operation, row, rowId) — the writer
    * splits them into a DV mark plus an appended row itself; letting
    * Spark pre-split would force rowId preservation through the plan
    * for no gain here. */
  override def representUpdateAsDeleteAndInsert(): Boolean = false

  /** The operation's scan is the ordinary batch scan — stats and
    * partition pruning narrow the candidate files like any read, and
    * the reader serves `_file`/`_pos` through the sentinel binding. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LedgerScanBuilder(dir, schema)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new LedgerDeltaWrite(dir, info.schema(), cmd)
    }
}

/** The delta write: clusters rows so each target file's deletes land
  * in exactly one task (one final sidecar per file, no driver-side
  * ordinal merging), then commits DV swaps + appended files together.
  */
private[sources] class LedgerDeltaWrite(
    dir: Path, dataSchema: StructType,
    cmd: RowLevelOperation.Command)
    extends DeltaWrite with RequiresDistributionAndOrdering {

  /** Cluster by `_file` so one task owns each target file's deletion
    * vector. UPDATE/MERGE plans carry the full data row, so they
    * additionally cluster by the table's partition source columns —
    * inserted rows (rowId null) then spread across tasks by partition
    * instead of funneling through the null-`_file` task (the Iceberg
    * position-delta distribution, `SparkPositionDeltaWrite`'s shape).
    * A DELETE plan carries only (operation, rowId, metadata), so it
    * clusters by `_file` alone. Unpartitioned MERGE inserts do
    * funnel — same trade Iceberg makes; OPTIMIZE re-spreads. */
  override def requiredDistribution(): Distribution = {
    val partCols =
      if (cmd == RowLevelOperation.Command.DELETE) Seq.empty
      else LedgerSink.readManifest(dir)
        .map(_.namedPartitionSpec.map(_.name)
          .filter(dataSchema.fieldNames.contains))
        .getOrElse(Seq.empty)
    Distributions.clustered(
      (LedgerSink.MetaFileCol +: partCols)
        .map(c => Expressions.column(c): ConnectorExpression).toArray)
  }

  /** No ordering: deletion vectors accumulate in per-file bitsets, so
    * ordinal order is irrelevant and a sort would be pure cost. */
  override def requiredOrdering(): Array[ConnectorSortOrder] = Array.empty

  override def toBatch: DeltaBatchWrite =
    new LedgerDeltaBatchWrite(dir, dataSchema)

  override def description(): String = s"graft-ledger-delta $cmd $dir"
}

private[sources] case class LedgerDeltaCommitMessage(
    dvs: Seq[(String, String)], // target file -> staged sidecar
    entries: Seq[LedgerSink.FileEntry]) extends WriterCommitMessage

private[sources] class LedgerDeltaBatchWrite(dir: Path,
    dataSchema: StructType,
    pinned: Option[LedgerSink.Manifest] = None) extends DeltaBatchWrite {

  /** Planning snapshot: captured once at job start (driver), or the
    * state the caller `pinned` its scan to. The writer unions new
    * ordinals into each file's DV AS OF this snapshot, and commit
    * verifies each touched (file, dv) pair is still current — a racing
    * deleteMoR/OPTIMIZE/COW against a target file aborts cleanly
    * instead of dropping its ordinals. */
  @volatile private var snapshot: Option[LedgerSink.Manifest] = None

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DeltaWriterFactory = {
    val m = pinned.orElse(LedgerSink.readManifest(dir)).getOrElse(
      throw new IllegalStateException(
        s"delta row-level write on a dropped ledger table: $dir"))
    snapshot = Some(m)
    Files.createDirectories(dir.resolve("_staging"))
    val base = dir.toString
    val ddl = LedgerSink.cleanDdl(dataSchema)
    val tag = java.util.UUID.randomUUID().toString.take(8)
    // a pure DELETE's write schema carries no data columns — no
    // inserts can arrive, so the insert writer's bindings stay empty
    val canInsert = dataSchema.fields.nonEmpty
    val ids: Seq[Int] =
      if (canInsert) LedgerWriteSupport.writeIds(Some(m), dataSchema,
        truncate = false)
      else Seq.empty
    val partWrites: Seq[(Int, String, Int)] =
      if (canInsert) m.namedPartitionSpec.map(p =>
        (dataSchema.fieldIndex(p.name), p.kind, p.param))
      else Seq.empty
    val dvByFile: Map[String, String] =
      m.files.flatMap(e => e.dv.map(e.file -> _)).toMap
    // inserted/updated rows must satisfy the table's CHECK/NOT NULL
    // constraints like any other ingest route
    val checks =
      if (canInsert) LedgerConstraints.writeChecks(Some(m), dataSchema,
        truncate = false)
      else LedgerConstraints.WriteChecks.empty
    new DeltaWriterFactory {
      override def createWriter(partitionId: Int,
          taskId: Long): DeltaWriter[InternalRow] =
        new LedgerDeltaWriter(base, ddl, ids, partWrites, dvByFile, tag,
          partitionId, taskId, checks)
    }
  }

  /** ONE commit: every touched file's entry gains its new deletion
    * vector, appended files union in. Conflict discipline matches the
    * other rewriting commits — each target (file, dv-at-planning)
    * pair must be unchanged (ordinals were computed against that
    * vector), and the snapshot's binding must still be current
    * (appended files encoded under its ids and spec, and passed its
    * constraints). */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.toSeq.collect {
      case m: LedgerDeltaCommitMessage => m
    }
    val dvPairs = msgs.flatMap(_.dvs)
    require(dvPairs.map(_._1).distinct.length == dvPairs.length,
      "delta write produced two deletion vectors for one file — the " +
        "clustered-by-_file distribution was not honored")
    val newDvs: Map[String, String] = dvPairs.toMap
    val fresh = msgs.flatMap(_.entries)
    if (newDvs.isEmpty && fresh.isEmpty) return // nothing changed:
    // no version bump (a MERGE whose arms all matched nothing)
    val snap = snapshot.getOrElse(LedgerSink.readManifest(dir).getOrElse(
      throw new IllegalStateException(s"no ledger table at $dir")))
    val snapDv: Map[String, Option[String]] =
      snap.files.map(e => e.file -> e.dv).toMap
    try LedgerSink.commitRebase(dir, {
      case Some(cur)
          if cur.binding == snap.binding &&
            // update images / inserts commit with a fresh data
            // sequence: an equality delete installed after planning
            // would be escaped by them — conflict instead
            cur.eqDeletes == snap.eqDeletes &&
            newDvs.keySet.forall(f => cur.files.exists(e =>
              e.file == f && e.dv == snapDv.getOrElse(f, None))) =>
        Some(cur.copy(files = cur.files.map(e =>
          newDvs.get(e.file).fold(e)(d => e.copy(dv = Some(d)))) ++ fresh))
      case _ => None
    }, s"delta row-level write on $dir raced a commit that rewrote a " +
      "target file or redefined the table; re-run the operation")
    catch {
      case ex: java.util.ConcurrentModificationException =>
        abort(messages); throw ex
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    LedgerWriteSupport.dropStaged(dir, messages)
}

/** Executor side: deletes/updates mark ordinals in per-file bitsets
  * (seeded from the file's snapshot DV, so repeated row-level ops
  * compose); inserts and update-images flow through the ordinary
  * partition-aware [[LedgerDataWriter]]. Task commit stages one final
  * sidecar per touched file — names carry (tag, partition, task), so
  * speculative attempts never collide. */
private[sources] class LedgerDeltaWriter(
    base: String, ddl: String, ids: Seq[Int],
    partWrites: Seq[(Int, String, Int)],
    dvByFile: Map[String, String], tag: String,
    partitionId: Int, taskId: Long,
    checks: LedgerConstraints.WriteChecks =
      LedgerConstraints.WriteChecks.empty)
    extends DeltaWriter[InternalRow] {

  private lazy val inserts = new LedgerDataWriter(base,
    StructType.fromDDL(ddl), ids, partWrites, partitionId, taskId,
    filePrefix = s"d$tag-", checks)
  private var insertsUsed = false
  private val dvs =
    scala.collection.mutable.LinkedHashMap.empty[String, java.util.BitSet]

  private def bits(file: String): java.util.BitSet =
    dvs.getOrElseUpdate(file, dvByFile.get(file)
      .map(d => LedgerSink.readDvOrdinals(Paths.get(base, d)))
      .getOrElse(new java.util.BitSet()))

  override def delete(meta: InternalRow, id: InternalRow): Unit =
    bits(id.getUTF8String(0).toString).set(id.getLong(1).toInt)

  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    delete(meta, id)
    insert(row)
  }

  override def insert(row: InternalRow): Unit = {
    insertsUsed = true
    inserts.write(row)
  }

  override def commit(): WriterCommitMessage = {
    val staged = dvs.toSeq.zipWithIndex.map { case ((file, bs), n) =>
      val rel = s"_staging/dv-$tag-$partitionId-$taskId-$n.dv"
      val sb = new StringBuilder
      var b = bs.nextSetBit(0)
      while (b >= 0) { sb.append(b).append('\n'); b = bs.nextSetBit(b + 1) }
      Files.write(Paths.get(base, rel), sb.toString.getBytes(UTF_8))
      file -> rel
    }
    val entries =
      if (insertsUsed)
        inserts.commit().asInstanceOf[LedgerCommitMessage].entries
      else Seq.empty
    LedgerDeltaCommitMessage(staged, entries)
  }

  override def abort(): Unit = if (insertsUsed) inserts.abort()
  override def close(): Unit = if (insertsUsed) inserts.close()
}
