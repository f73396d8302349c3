package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.reflect.ClassTag

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._

/** OPTIMIZE as a commit kind: bin-pack the table's small files into
  * target-sized ones and commit the swap as a new version — the
  * answer to epoch-grain streaming appends accumulating one file per
  * (epoch × partition). Because the row codec is line-oriented and a
  * bin only ever groups files with the SAME column-id list, stat
  * column and partition tuple, each bin's rewrite is a straight byte
  * concatenation — no decode, no shuffle — so the job is one Spark
  * task per bin (embarrassingly parallel on a cluster; the format's
  * single-filesystem assumption is the same one every path here
  * makes). Time travel sees OPTIMIZE like any commit: the
  * pre-OPTIMIZE manifest is archived, its files stay referenced, and
  * [[LedgerSink.vacuum]] reclaims them only when no version does. */
object LedgerMaintenance {
  import org.apache.spark.sql.SparkSession

  /** MERGE-ON-READ DELETE (deletion vectors — the Iceberg v2
    * position-delete / Delta DV design): instead of rewriting every
    * file a predicate touches (copy-on-write's O(files touched)), each
    * matching file gains a position-delete SIDECAR listing its deleted
    * row ordinals; scans merge the DV at read time, so the delete
    * costs O(rows deleted) and commits in one manifest swap. A second
    * delete on the same file writes a new sidecar holding the UNION of
    * ordinals (sidecars are immutable; the old one stays referenced by
    * the archived version for time travel until vacuum). [[optimize]]
    * compacts DVs away — the rewrite drops deleted lines and clears
    * the dv reference.
    *
    * `filters` is a CONJUNCTION over the Spark source-filter ADT
    * (equality/range/null/IN on the table's columns). The delete runs
    * on the same delta writer as SQL `DELETE` under
    * `graft.ledger.rowLevelMode=mor` (see [[runDelta]]). Returns the
    * number of deleted rows. */
  def deleteMoR(spark: SparkSession, dirStr: String,
      filters: Array[Filter]): Long =
    runDelta(spark, dirStr, filters, None)

  /** MERGE-ON-READ UPDATE — the Delta DV-update design: ONE commit
    * carries (a) fresh deletion vectors marking the matched rows dead
    * in their files and (b) appended files holding the updated
    * versions, so readers see the update atomically and no touched
    * file is rewritten. `set` maps column → SQL expression over the
    * row (e.g. "price_c" → "price_c + 111"). The images go through the
    * SQL delta writer, so they carry the target's field ids, partition
    * tuples and bloom sidecars, and must pass its CHECK/NOT NULL
    * constraints. Returns the number of updated rows. */
  def updateMoR(spark: SparkSession, dirStr: String,
      filters: Array[Filter], set: Map[String, String]): Long =
    runDelta(spark, dirStr, filters, Some(set))

  /** The procedural face of the SQL delta path ([[LedgerDeltaBatchWrite]]):
    * the filter conjunction selects the matched rows' `(_file, _pos)`
    * rowIds (and, for an update, their SET images in table-schema
    * order) through the ordinary batch scan — which already applies
    * defaults, equality deletes and DVs, so only LIVE rows match —
    * then one task per target file drives a [[LedgerDeltaWriter]] and
    * the batch write commits DV swaps and update images in one
    * manifest swap. Scan and writer share one PINNED planning version:
    * rows a concurrent append lands after planning are neither marked
    * dead nor re-emitted, and a racing rewrite of a target file (or a
    * schema, spec, constraint or equality-delete change) aborts the
    * commit with a ConcurrentModificationException. */
  private def runDelta(spark: SparkSession, dirStr: String,
      filters: Array[Filter], set: Option[Map[String, String]]): Long = {
    import org.apache.spark.sql.functions.{col, expr, lit, struct}
    val dir = Paths.get(dirStr)
    // currentVersion-then-readManifestAt is a consistent pair: a commit
    // landing in between archives v, and the archive read is identical
    val planVersion = LedgerSink.currentVersion(dir)
    val m = LedgerSink.readManifestAt(dir, Some(planVersion)).getOrElse(
      throw new IllegalArgumentException(s"no ledger table at $dirStr"))
    val schema = m.schema
    val update = set.isDefined
    filters.foreach(checkShape(schema, _))
    set.foreach(_.keys.foreach(k => schema.fieldIndex(k): Unit))
    // each SET image takes its column's type, as SQL UPDATE's
    // assignment does: the writer reads the row by the table schema
    val images = set.map(s => struct(schema.fields.toSeq.map(f =>
      s.get(f.name).fold(col(f.name))(e =>
        expr(e).cast(f.dataType).as(f.name))): _*))
    val rows = spark.read.format(classOf[LedgerSink].getName)
      .option("path", dirStr)
      .option("versionAsOf", planVersion.toString).load()
      .filter(filters.map(toColumn).foldLeft(lit(true))(_ && _))
      .select(Seq(col(LedgerSink.MetaFileCol), col(LedgerSink.MetaPosCol)) ++
        images: _*)
      // one task owns each target file's deletion vector — the
      // clustering LedgerDeltaWrite.requiredDistribution asks of SQL
      .repartition(col(LedgerSink.MetaFileCol))
      .queryExecution.toRdd
    val write = new LedgerDeltaBatchWrite(dir,
      if (update) schema else new StructType(), Some(m))
    val factory = write.createBatchWriterFactory(
      new PhysicalWriteInfo { def numPartitions(): Int = rows.getNumPartitions })
    val width = schema.length
    // the row is (_file, _pos, [image]): its leading pair IS the rowId
    val done = runWriters(spark, rows,
        (ms: Seq[(WriterCommitMessage, Long)]) =>
          write.abort(ms.map(_._1).toArray)) { (ctx, it) =>
      val w = factory.createWriter(ctx.partitionId(), ctx.taskAttemptId())
      try {
        var n = 0L
        it.foreach { r =>
          if (update) w.update(InternalRow.empty, r, r.getStruct(2, width))
          else w.delete(InternalRow.empty, r)
          n += 1
        }
        (w.commit(), n)
      } catch {
        case t: Throwable => w.abort(); throw t
      } finally w.close()
    }
    write.commit(done.map(_._1).toArray)
    done.map(_._2).sum
  }

  /** Drive ledger writers from a procedural API: run `task` once per
    * partition of `rows`, one result per task. Results arrive per
    * task, so when the job fails `abort` gets exactly the results of
    * the tasks that finished (and staged files); the failure then
    * rethrows. */
  private def runWriters[R: ClassTag](spark: SparkSession,
      rows: RDD[InternalRow], abort: Seq[R] => Unit)(
      task: (TaskContext, Iterator[InternalRow]) => R): Seq[R] = {
    val done = Array.fill[Option[R]](rows.getNumPartitions)(None)
    try spark.sparkContext.runJob(rows, task,
      (i: Int, res: R) => done(i) = Some(res))
    catch {
      case t: Throwable => abort(done.toSeq.flatten); throw t
    }
    done.toSeq.flatten
  }

  // validate filter shapes AND literal types up front (fail before any
  // work): a literal that cannot compare would otherwise make every row
  // non-matching and the call return 0 as if the rows were deleted.
  // RANGE comparisons on strings are refused: Spark orders strings by
  // UTF-8 bytes, Java's String by UTF-16 units, and the two diverge
  // beyond the BMP — a range built on the JVM side would match rows
  // its caller does not expect.
  private def checkShape(schema: StructType, f: Filter): Unit = {
    def checkLit(c: String, v: Any, range: Boolean): Unit = {
      val dt = schema.fields(schema.fieldIndex(c)).dataType
      val ok = (dt, v) match {
        case (LongType | IntegerType | DoubleType, _: Number) => true
        case (StringType, _: String) => !range
        case _ => false
      }
      if (!ok) throw new IllegalArgumentException(
        s"MoR predicate: cannot ${if (range) "range-" else ""}compare " +
          s"column $c ($dt) with literal " +
          s"$v (${if (v == null) "null" else v.getClass.getSimpleName})")
    }
    f match {
      case EqualTo(c, v) => checkLit(c, v, range = false)
      case GreaterThan(c, v) => checkLit(c, v, range = true)
      case GreaterThanOrEqual(c, v) => checkLit(c, v, range = true)
      case LessThan(c, v) => checkLit(c, v, range = true)
      case LessThanOrEqual(c, v) => checkLit(c, v, range = true)
      case In(c, vs) => vs.foreach(checkLit(c, _, range = false))
      case IsNull(c) => schema.fieldIndex(c): Unit
      case IsNotNull(c) => schema.fieldIndex(c): Unit
      case other => throw new UnsupportedOperationException(
        s"MoR predicates support equality/range/null/IN conjunctions, got $other")
    }
  }

  private def toColumn(f: Filter): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    f match {
      case EqualTo(c, v) => col(c) === lit(v)
      case GreaterThan(c, v) => col(c) > lit(v)
      case GreaterThanOrEqual(c, v) => col(c) >= lit(v)
      case LessThan(c, v) => col(c) < lit(v)
      case LessThanOrEqual(c, v) => col(c) <= lit(v)
      case In(c, vs) => col(c).isin(vs.toSeq: _*)
      case IsNull(c) => col(c).isNull
      case IsNotNull(c) => col(c).isNotNull
      case other => throw new UnsupportedOperationException(other.toString)
    }
  }

  /** Key columns resolved to field ids, with every live data file
    * checked to CARRY them (a file written before an ADD COLUMN has no
    * key bytes — its rows' keys would read as null, which is not what
    * a delete-by-key means). Shared by install and rebase so a racing
    * schema change re-validates. */
  private def eqKeyIds(m: LedgerSink.Manifest,
      keyCols: Seq[String]): Seq[Int] = {
    require(keyCols.nonEmpty, "equality delete needs at least one key column")
    val ids = keyCols.map(m.idOf)
    // a legacy (id-less) entry's column layout is unknowable from the
    // manifest — a key column added after the file was written would
    // read as null and the delete would silently match nothing, so
    // refuse outright (the current manifest's ids would always
    // "contain" the freshly resolved key id — no test against them
    // can catch this)
    val legacy = m.files.filter(_.ids.isEmpty)
    if (legacy.nonEmpty) throw new IllegalArgumentException(
      s"equality delete on ${keyCols.mkString(",")}: ${legacy.length} " +
        s"legacy (id-less) data file(s) (e.g. ${legacy.head.file}) have " +
        "no recorded column layout; rewrite them (optimizeSorted or " +
        "re-append) first")
    val missing = m.files.filter(e =>
      ids.exists(id => !e.ids.exists(_.contains(id))))
    if (missing.nonEmpty) throw new IllegalArgumentException(
      s"equality delete on ${keyCols.mkString(",")}: ${missing.length} " +
        s"data file(s) predate the column(s) (e.g. ${missing.head.file}); " +
        "OPTIMIZE first")
    ids
  }

  /** Key matching happens in ENCODED space, so the key relation's
    * column types must equal the table's exactly — a double key
    * against a long column would encode differently and silently
    * match nothing. */
  private def checkKeyTypes(m: LedgerSink.Manifest, keyCols: Seq[String],
      provided: StructType): Unit =
    keyCols.foreach { c =>
      val want = m.schema.fields(m.schema.fieldIndex(c)).dataType
      val got = provided.find(_.name == c).map(_.dataType)
      require(got.contains(want),
        s"equality-delete key $c: provided relation has " +
          s"${got.map(_.simpleString).getOrElse("no such column")}, the " +
          s"table column is ${want.simpleString} — encoded-tuple " +
          "matching needs identical types (CAST the keys first)")
    }

  /** Stage an upsert's or a kill list's key tuples as equality-delete
    * sidecars — the ledger row codec IS the sidecar codec, one encoded
    * tuple per line — and, when `append`, `input`'s rows as data files
    * bound to `m`'s ids and checked against its CHECK/NOT NULL
    * constraints. `input` is projected to the table's columns
    * (`append`) or to `keyCols`. Clustering and sorting by key puts
    * every copy of a key in one task, next to each other, so each task
    * writes its DISTINCT tuples by skipping adjacent repeats (the sort
    * spills; no per-task key set); a task writes each row and that
    * row's key tuple from the same iterator, so the input plan is
    * evaluated once and a non-deterministic input (rand(), a view over
    * a changing source) can never append one evaluation's rows under
    * another's keys. Returns (data entries, sidecar entries, distinct
    * key count). */
  private def stageByKeys(spark: SparkSession, dir: Path,
      m: LedgerSink.Manifest, keyCols: Seq[String],
      input: org.apache.spark.sql.DataFrame, append: Boolean)
      : (Seq[LedgerSink.FileEntry], Seq[LedgerSink.FileEntry], Long) = {
    import org.apache.spark.sql.functions.col
    val base = dir.toString
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val schema = m.schema
    val ids = m.ids
    val keySchema = StructType(keyCols.map(schema(_)))
    val keyIds = keyCols.map(m.idOf)
    val keyRefs = keyCols.map(c => BoundReference(input.schema.fieldIndex(c),
      schema(c).dataType, nullable = true))
    val checks =
      if (append) LedgerConstraints.writeChecks(Some(m), schema, truncate = false)
      else LedgerConstraints.WriteChecks.empty
    Files.createDirectories(dir.resolve("_staging"))
    val rows = input.repartition(keyCols.map(col): _*)
      .sortWithinPartitions(keyCols.map(col): _*).queryExecution.toRdd
    type Staged = (Seq[LedgerSink.FileEntry], Seq[LedgerSink.FileEntry], Long)
    val done = runWriters(spark, rows, (rs: Seq[Staged]) =>
        rs.foreach(r => (r._1 ++ r._2).foreach(
          LedgerSink.deleteStagedEntry(dir, _)))) { (ctx, it) =>
      val (p, t) = (ctx.partitionId(), ctx.taskAttemptId())
      val data = Option.when(append)(new LedgerDataWriter(base, schema, ids,
        Seq.empty, p, t, s"equ-$tag-", checks))
      val keys = new LedgerDataWriter(base, keySchema, keyIds, Seq.empty,
        p, t, s"eqd-$tag-", bloom = false)
      try {
        val keyOf = UnsafeProjection.create(keyRefs)
        var prev: UnsafeRow = null
        var n = 0L
        it.foreach { r =>
          data.foreach(_.write(r))
          val k = keyOf(r)
          if (k != prev) { keys.write(k); prev = k.copy(); n += 1 }
        }
        (data.toSeq.flatMap(_.commit().asInstanceOf[LedgerCommitMessage].entries),
          keys.commit().asInstanceOf[LedgerCommitMessage].entries, n): Staged
      } catch {
        case x: Throwable => data.foreach(_.abort()); keys.abort(); throw x
      } finally { data.foreach(_.close()); keys.close() }
    }
    (done.flatMap(_._1), done.flatMap(_._2), done.map(_._3).sum)
  }

  /** EQUALITY DELETE (the Iceberg v2 equality-delete design): kill
    * every row whose key tuple appears in `keys`, WITHOUT reading a
    * single data file — the keys are staged as sidecars and one
    * manifest commit installs them; scans anti-join at read time and
    * OPTIMIZE materializes (then drops) them. This is the shape a
    * 100 TB kill-list or GDPR erasure wants: O(keys) written,
    * O(metadata) committed, cost deferred to reads the same way DVs
    * defer it — but with no per-file planning scan at all.
    *
    * The delete applies to data files whose data sequence is strictly
    * below the installing commit — concurrent appends landing BEFORE
    * the install are covered (the delete serializes after them),
    * appends landing after are not. Key comparison happens in the
    * codec's encoded space; a null key field matches null (the
    * kill-list contract, not SQL ternary equality). Duplicate key
    * tuples collapse. Returns the distinct key-tuple count. */
  def deleteByKeys(spark: SparkSession, dirStr: String,
      keyCols: Seq[String],
      keys: org.apache.spark.sql.DataFrame): Long = {
    val dir = Paths.get(dirStr)
    val m = LedgerSink.readManifest(dir).getOrElse(
      throw new IllegalArgumentException(s"no ledger table at $dirStr"))
    val fieldIds = eqKeyIds(m, keyCols)
    checkKeyTypes(m, keyCols, keys.schema)
    val (_, staged, nKeys) = stageByKeys(spark, dir, m, keyCols,
      keys.selectExpr(keyCols: _*), append = false)
    if (nKeys == 0L) return 0L // empty tasks stage nothing
    try LedgerSink.commitRebase(dir, cur =>
      cur.filter(c =>
          // re-validate against the commit-time state: a racing schema
          // change could have dropped a key column or added files
          // without it
          scala.util.Try(eqKeyIds(c, keyCols) == fieldIds)
            .getOrElse(false))
        .map(c => c.copy(eqDeletes = c.eqDeletes ++
          staged.map(e => LedgerSink.EqDelete(e.file, 0, fieldIds)))),
      s"equality delete on $dirStr raced a schema change affecting its " +
        "key columns; re-run against the new schema")
    catch {
      case ex: java.util.ConcurrentModificationException =>
        staged.foreach(LedgerSink.deleteStagedEntry(dir, _))
        throw ex
    }
    nKeys
  }

  /** EQUALITY-DELETE UPSERT: ONE commit that installs an equality
    * delete on `rows`' key tuples AND appends `rows` — last-writer-
    * wins replacement that reads NO data files (the delete applies
    * only to files with a strictly smaller data sequence, so the
    * rows appended by this very commit survive it). This is the
    * streaming-CDC apply shape at 100 TB: per batch, cost is
    * O(batch), not O(files touched) (MoR MERGE) or O(files rewritten)
    * (COW). `rows` must be key-unique (dedupe a CDC batch to its last
    * image first). Unpartitioned tables only: the appends are clustered
    * by key, not by partition tuple. The rows go through the ledger
    * writer bound to the table's ids and CHECK/NOT NULL constraints,
    * and the commit conflicts when that binding changed since. Returns
    * (distinct keys, rows). */
  def upsertByKeys(spark: SparkSession, dirStr: String,
      keyCols: Seq[String],
      rows: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val dir = Paths.get(dirStr)
    val m = LedgerSink.readManifest(dir).getOrElse(
      throw new IllegalArgumentException(s"no ledger table at $dirStr"))
    require(m.partitionSpec.isEmpty,
      "upsertByKeys stages unpartitioned appends only; partitioned " +
        "tables take the MoR MERGE path")
    val fieldIds = eqKeyIds(m, keyCols)
    // the whole row schema must match by type, not just the keys: the
    // writer encodes every value under its table column's type
    m.schema.fields.foreach(f =>
      checkKeyTypes(m, Seq(f.name), rows.schema))
    val (fresh, staged, nKeys) = stageByKeys(spark, dir, m, keyCols,
      rows.selectExpr(m.schema.fieldNames.toSeq: _*), append = true)
    val nRows = fresh.map(_.rows).sum
    if (nRows == 0L) return (0L, 0L) // empty tasks stage nothing
    try LedgerSink.commitRebase(dir, cur =>
      cur.filter(c => c.binding == m.binding &&
          // an append since planning may have added a file without the
          // key columns
          scala.util.Try(eqKeyIds(c, keyCols)).isSuccess)
        .map(c => c.copy(
          files = c.files ++ fresh,
          eqDeletes = c.eqDeletes ++
            staged.map(e => LedgerSink.EqDelete(e.file, 0, fieldIds)))),
      s"upsertByKeys on $dirStr raced a schema-, spec- or constraint-" +
        "changing commit; re-run against the new table state")
    catch {
      case ex: java.util.ConcurrentModificationException =>
        (fresh ++ staged).foreach(LedgerSink.deleteStagedEntry(dir, _))
        throw ex
    }
    (nKeys, nRows)
  }

  /** Returns (files before, files after). Bins never mix column-id
    * lists, stat columns or partition tuples, so every rewritten file
    * is indistinguishable from one a single large write produced. */
  /** PARTITION-SPEC EVOLUTION (the Iceberg multi-spec design at this
    * format's scale): change how FUTURE files are partitioned without
    * rewriting a single existing file. The commit (one manifest swap
    * under the table lock):
    *
    *   1. STAMPS every entry that carried no explicit spec id with the
    *      outgoing spec's id — "unstamped" always means "current", so
    *      the meaning of existing tuples is frozen before the current
    *      pointer moves;
    *   2. archives the outgoing spec under its id (ids are never
    *      reused — the id space is append-only like field ids);
    *   3. installs the new spec as current.
    *
    * Readers resolve each file's tuple against the spec it was written
    * under: pruning applies per-file (same-transform fields keep
    * pruning, changed ones conservatively keep the file), metadata
    * DELETE only proves against identity fields of the FILE's spec,
    * SPJ and partition-grouped aggregate pushdown require a
    * spec-homogeneous file set, and OPTIMIZE never bins across specs.
    * Writers always write the current spec; every concurrent commit
    * kind treats a mid-flight spec change as a conflict. Old files
    * migrate only through explicit rewrites — exactly Iceberg's
    * contract, and the only one that works at 100 TB (the alternative
    * is rewriting the table to change its layout).
    *
    * `spec` is (column, transform, param) triples — e.g.
    * `("okey","bucket",8)`, `("day_ms","days",0)`, `("nk","identity",0)`;
    * empty = unpartitioned. Returns the new spec id. Re-declaring the
    * current spec is a no-op (no version bump). */
  def alterPartitionSpec(dirStr: String,
      spec: Seq[(String, String, Int)]): Int = {
    val dir = Paths.get(dirStr)
    var newId = -1
    LedgerSink.commitRebase(dir, {
      case None => throw new IllegalArgumentException(
        s"no ledger table at $dirStr")
      case Some(m) =>
        val named = spec.map(p => LedgerSink.NamedPartField(p._1, p._2, p._3))
        LedgerSink.checkPartitionSpec(m.schema, named)
        val fields = named.map(p =>
          LedgerSink.PartField(m.idOf(p.name), p.kind, p.param))
        if (fields == m.partitionSpec) { newId = m.specId; Some(m) }
        else {
          val stamped = m.files.map(e =>
            if (e.spec.isEmpty) e.copy(spec = Some(m.specId)) else e)
          newId = (m.oldSpecs.keySet + m.specId).max + 1
          Some(m.copy(partitionSpec = fields, files = stamped,
            specId = newId,
            oldSpecs = m.oldSpecs + (m.specId -> m.partitionSpec)))
        }
    }, "unreachable: spec changes always rebase"): Unit
    newId
  }

  def optimize(spark: SparkSession, dirStr: String,
      targetBytes: Long = 8L << 20): (Int, Int) = {
    val dir = Paths.get(dirStr)
    val m = LedgerSink.readManifest(dir).getOrElse(
      throw new IllegalArgumentException(s"no ledger table at $dirStr"))
    val sizeOf = m.files.map(e =>
      e.file -> (try Files.size(dir.resolve(e.file))
      catch { case _: java.io.IOException => 0L })).toMap
    val bins = Seq.newBuilder[Seq[LedgerSink.FileEntry]]
    // spec evolution: a bin never mixes files of different partition
    // specs — equal tuples under different specs mean different things
    m.files.groupBy(e => (e.ids, e.statId, e.partVals, m.specOf(e)))
      .toSeq.sortBy(_._2.head.file).foreach { case (_, es) =>
        var bin = Vector.empty[LedgerSink.FileEntry]
        var sz = 0L
        // a bin qualifies when it actually compacts (≥2 files) OR when
        // any member carries a deletion vector or an applicable
        // equality delete — OPTIMIZE is also the operation that
        // rewrites merge-on-read state away (the deferred cost, paid
        // here once)
        def accept(b: Vector[LedgerSink.FileEntry]): Unit =
          if (b.length >= 2 || b.exists(_.dv.nonEmpty) ||
            b.exists(e => m.eqDeletesFor(e).nonEmpty)) bins += b
        es.sortBy(e => (sizeOf(e.file), e.file)).foreach { e =>
          val s = sizeOf(e.file)
          if (bin.nonEmpty && sz + s > targetBytes) {
            accept(bin)
            bin = Vector.empty; sz = 0L
          }
          bin = bin :+ e; sz += s
        }
        accept(bin)
      }
    val packed = bins.result()
    if (packed.isEmpty) return (m.files.length, m.files.length)
    val base = dir.toString
    val runTag = java.util.UUID.randomUUID().toString.take(8)
    // the rewritten entry carries its bin's spec EXPLICITLY once the
    // table has evolution state (an unstamped entry means "current
    // spec", which may have moved on by commit time); never-evolved
    // tables stay stamp-free and byte-identical
    val specStamps: Seq[Option[Int]] = packed.map(b =>
      if (m.specId == 0 && m.oldSpecs.isEmpty) None
      else Some(m.specOf(b.head)))
    // equality-delete bindings resolve on the driver (they need the
    // manifest); the rewrite tasks get plain (path, ordinals) pairs
    val binEqds: Seq[Seq[Array[EqdFileBinding]]] =
      packed.map(_.map(e => LedgerSink.eqdBindings(dir, m, e)))
    val entries = spark.sparkContext
      .parallelize(packed.zip(binEqds).zip(specStamps).zipWithIndex,
        packed.length)
      .map { case (((bin, eqds), specStamp), i) =>
        val rel = s"_staging/opt-$runTag-$i.ledger"
        val out = Files.newOutputStream(Paths.get(base, rel))
        var liveRows = 0L
        try bin.zip(eqds).foreach { case (e, eqd) =>
          val eqKilled = LedgerSink.eqdKillPredicate(eqd)
          (e.dv, eqKilled) match {
            case (None, null) => // clean file: straight byte concatenation
              Files.copy(Paths.get(base, e.file), out): Unit
              liveRows += e.rows
            case (d, kill) => // merge-on-read state: drop DV-marked
              // LINES and equality-deleted rows (line-delimited, so the
              // DV half stays a byte-level filter; the equality half
              // splits fields but never type-decodes) — the rewrite
              // MATERIALIZES the deletes, which is exactly why the new
              // entry may take a fresh data sequence
              val dv = d.map(x => LedgerSink.readDvOrdinals(Paths.get(base, x)))
                .getOrElse(new java.util.BitSet())
              val lines = Files.readAllLines(Paths.get(base, e.file), UTF_8)
              var ord = 0
              lines.forEach { l =>
                if (!dv.get(ord) && (kill == null || !kill(l))) {
                  out.write(l.getBytes(UTF_8)); out.write('\n')
                  liveRows += 1
                }
                ord += 1
              }
          }
        } finally out.close()
        val mins = bin.flatMap(_.min)
        val maxs = bin.flatMap(_.max)
        LedgerSink.FileEntry(rel, liveRows,
          if (mins.isEmpty) None else Some(mins.min),
          if (maxs.isEmpty) None else Some(maxs.max),
          bin.head.ids, bin.head.statId, bin.head.partVals,
          spec = specStamp)
      }.collect().toSeq
    // CONCURRENCY: rebase onto the commit-time manifest — files
    // appended since planning survive untouched; if a racing commit
    // rewrote/removed one of this OPTIMIZE's input files, abort
    // cleanly (delete the staged bins) rather than resurrect it.
    // Input identity is the (file, dv) PAIR, not the name: a
    // concurrent deleteMoR changes only the entry's deletion vector,
    // and a name-only check would install bins built from the
    // planning-time (pre-delete) bytes — resurrecting the deleted
    // rows and dropping the new DV.
    val rewritten: Set[(String, Option[String])] =
      packed.flatten.map(e => (e.file, e.dv)).toSet
    val rewrittenNames = rewritten.map(_._1)
    val next =
      try LedgerSink.commitRebase(dir, cur =>
        cur.filter(c =>
            // a spec change since planning is a conflict too: the
            // rewritten entries' spec stamps were computed against the
            // planning manifest's id space — and so is an
            // equality-delete change: the rewrite applied the deletes
            // KNOWN AT PLANNING, and its output takes a fresh data
            // sequence that would wrongly escape a racing install
            c.specId == m.specId && c.oldSpecs == m.oldSpecs &&
              c.eqDeletes == m.eqDeletes &&
              rewritten.subsetOf(c.files.map(e => (e.file, e.dv)).toSet))
          .map { c =>
            val survivors = c.files.filterNot(e => rewrittenNames(e.file))
            // GC: a delete no remaining OLD file is subject to has been
            // fully materialized (the rewritten entries commit with a
            // sequence ABOVE every known delete)
            val kept = c.eqDeletes.filter(d =>
              survivors.exists(e => e.seq.getOrElse(0) < d.version))
            c.copy(files = survivors ++ entries, eqDeletes = kept)
          },
        s"OPTIMIZE on $dirStr raced a commit that rewrote one of its " +
          "input files, changed the partition spec, or installed " +
          "equality deletes; re-run OPTIMIZE against the new layout")
      catch {
        case e: java.util.ConcurrentModificationException =>
          entries.foreach(en => Files.deleteIfExists(dir.resolve(en.file)): Unit)
          throw e
      }
    (m.files.length, next.files.length)
  }

  /** OPTIMIZE … SORT BY the stats column — compaction in service of
    * PRUNING (the Delta/Iceberg "cluster by" story at this format's
    * scale). Epoch appends interleave key ranges, so every file's
    * [min, max] spans the whole key space and [[LedgerScan]]'s stats
    * pruning admits everything; this rewrite RANGE-CLUSTERS the rows
    * so file intervals become disjoint and a point/range predicate
    * plans O(1) files. Unlike [[optimize]] (byte-concat bins, no
    * decode) it is a real Spark job: scan → bucket → sort-within →
    * one transactional overwrite commit (time travel keeps the
    * unsorted history readable; vacuum reclaims it when expired).
    *
    * Bucket boundaries come from the MANIFEST's global stat range —
    * value-space quantiles, zero extra scan — rather than
    * `repartitionByRange`'s sampling pass: at 100 TB the boundaries
    * are metadata, and (equally load-bearing for the correctness
    * gates) the layout is DETERMINISTIC across runs, which sampling
    * is not. Skewed value distributions get uneven buckets; a
    * production variant would blend in sampled quantiles — the
    * commit/pruning mechanics are identical.
    *
    * `files` is a TARGET, not a guarantee — the range split may
    * merge adjacent buckets on quantile ties; disjointness of the
    * rewritten files' stat ranges is the invariant.
    *
    * Unpartitioned tables only: a partitioned write's clustered
    * distribution requirement would re-shuffle rows by the partition
    * tuple and destroy the range layout. Returns (files before,
    * files after). */
  def optimizeSorted(spark: SparkSession, dirStr: String,
      files: Int): (Int, Int) = {
    import org.apache.spark.sql.functions.col
    val dir = Paths.get(dirStr)
    val m = LedgerSink.readManifest(dir).getOrElse(
      throw new IllegalArgumentException(s"no ledger table at $dirStr"))
    require(m.partitionIds.isEmpty,
      "optimizeSorted rewrites unpartitioned tables only")
    val statName = LedgerSink.statColIndex(m.schema)
      .map(m.schema.fields(_).name).getOrElse(throw
        new IllegalArgumentException("no integer stats column to sort by"))
    val lo = m.files.flatMap(_.min) match {
      case Nil => 0L case ms => ms.min
    }
    val hi = m.files.flatMap(_.max) match {
      case Nil => 0L case ms => ms.max
    }
    val span = math.max(1L, hi - lo + 1L)
    val ledger = classOf[LedgerSink].getName
    // repartitionByRange on the BUCKET (not the raw stat): the range
    // partitioner's sample then sees `files` dense distinct values and
    // splits exactly one bucket per partition — hash repartitioning
    // would collide bucket values into shared partitions and merge
    // their ranges
    spark.read.format(ledger).option("path", dirStr).load()
      .selectExpr("*",
        s"CAST(least($files - 1, greatest(0, " +
          s"(($statName - ${lo}L) * $files) DIV ${span}L)) AS INT) AS __bkt")
      .repartitionByRange(files, col("__bkt"))
      .sortWithinPartitions(statName)
      .drop("__bkt")
      .write.format(ledger).option("path", dirStr)
      .mode("overwrite").save()
    (m.files.length,
      LedgerSink.readManifest(dir).map(_.files.length).getOrElse(0))
  }
}
