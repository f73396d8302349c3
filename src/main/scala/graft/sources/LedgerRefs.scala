package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** Named version references, rollback and retention for ledger tables —
  * the metadata lifecycle a production table format carries around its
  * commit log (the Iceberg refs/expire-snapshots and Delta
  * RESTORE/retention surface, at this format's scale):
  *
  *   - TAGS are immutable named pointers to committed versions
  *     (`createTag`/`dropTag`, read via the `tagAsOf` option — resolved
  *     to a `versionAsOf` read at table construction, so a tag read is
  *     byte-identical to reading its target version). A tag PROTECTS
  *     its target from [[expireVersions]] — the audit/reproducibility
  *     contract ("the training run read `tag=corpus-v3`") that pure
  *     version numbers can't give, because retention eventually
  *     renumbers nothing but deletes much.
  *   - RESTORE commits the table BACK to an earlier version's exact
  *     state (schema, partition spec, properties, file list) as a NEW
  *     version — history is never rewritten, the bad commits stay
  *     readable, and the restore itself is one manifest swap (no data
  *     is copied; the old files are still on disk because commits never
  *     delete data and vacuum only reclaims unreferenced files — which
  *     restore re-checks, failing loud if retention already took one).
  *   - EXPIRATION deletes old archived manifests so vacuum can reclaim
  *     the data files only they reference — the knob that stops a 100
  *     TB table's history from growing without bound. The newest
  *     archive is always retained (the version counter derives from the
  *     archive chain; expiring everything would reset it and corrupt
  *     CDC/time-travel identity), as is every tagged version.
  *   - WRITE-AUDIT-PUBLISH: `df.write.option("wapId", id)` stages a
  *     commit into `_MANIFEST.wap.<id>` without touching the live
  *     table; `option("wapId", id)` on read audits it (full planning —
  *     stats/partition/column pruning — over base ∪ staged);
  *     [[publishWap]] folds exactly the staged files into the
  *     then-current table under the optimistic-commit protocol;
  *     [[abortWap]] deletes them. Vacuum protects staged files
  *     throughout ([[LedgerSink.referencedFiles]] walks staged
  *     manifests too).
  *
  * Everything commits under the table's commit lock
  * ([[LedgerSink.withCommitLock]]); refs live in a `_REFS` file
  * replaced atomically, so a reader never sees a torn ref set.
  *
  * Reference trace: the reference pipeline keeps no history at all —
  * each Glue run overwrites its S3 prefix (01_sales_revenue_etl.py:
  * 96-101) — so reproducing "what did the dashboard read last Tuesday"
  * is impossible there; this module is that answer expressed at the
  * connector layer. */
object LedgerRefs {

  private val RefsName = "_REFS"

  private def checkRefName(name: String): Unit =
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit ||
      c == '-' || c == '_' || c == '.'),
      s"ref name must be [A-Za-z0-9._-]+, got '$name'")

  /** All refs, name → (kind, version): tags target a version, branches
    * record their FORK point (head is derived from the branch's log).
    * Two-column lines are legacy tags — byte-compatible. */
  def refs(dir: Path): Map[String, (String, Int)] = {
    val p = dir.resolve(RefsName)
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p, UTF_8).asScala.filter(_.nonEmpty).map { l =>
      l.split("\t") match {
        case Array(n, v) => n -> (("tag", v.toInt))
        case Array(n, k, v) => n -> ((k, v.toInt))
        case other => throw new IllegalStateException(
          s"unparseable ref line '${other.mkString("\\t")}' in $p")
      }
    }.toMap
  }

  /** Tags only, name → target version. */
  def tags(dir: Path): Map[String, Int] =
    refs(dir).collect { case (n, ("tag", v)) => n -> v }

  /** Branches only, name → fork point. */
  def branches(dir: Path): Map[String, Int] =
    refs(dir).collect { case (n, ("branch", v)) => n -> v }

  private def writeRefs(dir: Path, rs: Map[String, (String, Int)]): Unit = {
    val tmp = dir.resolve(s"$RefsName.tmp")
    Files.write(tmp, rs.toSeq.sortBy(_._1)
      .map {
        case (n, ("tag", v)) => s"$n\t$v" // legacy-compatible tag line
        case (n, (k, v)) => s"$n\t$k\t$v"
      }.mkString("\n").getBytes(UTF_8))
    Files.move(tmp, dir.resolve(RefsName), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** Tag `version` (default: the current version) as `name`. The
    * target must be a live version — archived or current — and the
    * name must be free: tags are immutable (drop + re-create to
    * move one; accidental retargeting is how reproducibility dies). */
  def createTag(dir: Path, name: String, version: Option[Int] = None): Int = {
    checkRefName(name)
    LedgerSink.withCommitLock(dir) {
      require(LedgerSink.readManifest(dir).isDefined,
        s"no committed ledger table at $dir to tag")
      val cur = LedgerSink.currentVersion(dir)
      val target = version.getOrElse(cur)
      val known = LedgerSink.archivedVersions(dir).toSet + cur
      require(known.contains(target),
        s"cannot tag version $target of $dir (versions: " +
          s"${known.toSeq.sorted.mkString(",")})")
      val rs = refs(dir)
      if (rs.contains(name)) throw new IllegalStateException(
        s"ref '$name' already exists on $dir (${rs(name)._1} → " +
          s"v${rs(name)._2}); drop it first — refs share one namespace " +
          "and tags are immutable")
      writeRefs(dir, rs + (name -> (("tag", target))))
      target
    }
  }

  def dropTag(dir: Path, name: String): Unit =
    LedgerSink.withCommitLock(dir) {
      val rs = refs(dir)
      require(rs.get(name).exists(_._1 == "tag"), s"no tag '$name' on $dir")
      writeRefs(dir, rs - name)
    }

  // ---- branches (multi-commit staging; Iceberg refs) ----

  /** Fork branch `name` at `from` (default: the current version).
    * Branch reads resolve via the `branch` option; branch WRITES are
    * `df.write.option("branch", name).mode("append")` — each lands as
    * one commit on the branch's own log chain, invisible to main.
    * Publish via [[fastForward]]. */
  def createBranch(dir: Path, name: String, from: Option[Int] = None): Int = {
    checkRefName(name)
    LedgerSink.withCommitLock(dir) {
      require(LedgerSink.readManifest(dir).isDefined,
        s"no committed ledger table at $dir to branch")
      val cur = LedgerSink.currentVersion(dir)
      val fork = from.getOrElse(cur)
      val known = LedgerSink.archivedVersions(dir).toSet + cur
      require(known.contains(fork),
        s"cannot branch from version $fork of $dir (versions: " +
          s"${known.toSeq.sorted.mkString(",")})")
      val rs = refs(dir)
      if (rs.contains(name)) throw new IllegalStateException(
        s"ref '$name' already exists on $dir (${rs(name)._1})")
      writeRefs(dir, rs + (name -> (("branch", fork))))
      fork
    }
  }

  def branchFork(dir: Path, name: String): Int =
    branches(dir).getOrElse(name, throw new IllegalArgumentException(
      s"no branch '$name' on $dir (branches: " +
        s"${branches(dir).keys.toSeq.sorted.mkString(",")})"))

  /** The branch's head version (fork + its committed log suffix). */
  def branchHead(dir: Path, name: String): Int =
    LedgerSink.branchHead(dir, name, branchFork(dir, name))

  /** FAST-FORWARD publish: if main is still AT the branch's fork
    * point, the branch's logs become main's (a rename — they are
    * deltas against exactly the states main now replays), the ref is
    * dropped, and main's head IS the branch head. If main moved past
    * the fork, refuse with ConcurrentModificationException — the
    * branch stays intact; re-branch from the new head or drop it
    * (non-fast-forward merges would need per-commit-kind conflict
    * semantics and are honestly unsupported, the Iceberg contract). */
  def fastForward(dir: Path, name: String): Int =
    LedgerSink.withCommitLock(dir) {
      val fork = branchFork(dir, name)
      val cur = LedgerSink.currentVersion(dir)
      // CRASH RESUME: a previous fast-forward may have died mid-way —
      // moved logs fork+1..cur sit on main (their branch counterparts
      // gone) with the branch's remainder starting exactly at cur+1.
      // Main moving for any OTHER reason leaves a branch log at some
      // k <= cur, which this detects and refuses. (The lock rules out
      // live concurrency; this is crash recovery only.)
      val resumable = cur > fork &&
        (fork + 1 to cur).forall(k => !Files.exists(
          dir.resolve(LedgerSink.branchLogName(name, k)))) &&
        Files.exists(dir.resolve(LedgerSink.branchLogName(name, cur + 1)))
      if (cur != fork && !resumable)
        throw new java.util.ConcurrentModificationException(
          s"cannot fast-forward branch '$name' (fork v$fork): main moved " +
            s"to v$cur; re-branch from the new head or drop the branch " +
            "(a crash after the final log move is recovered by dropBranch" +
            " — the ref is then the only remnant)")
      LedgerSink.ensureLogLayout(dir)
      var k = cur + 1
      while (Files.exists(dir.resolve(LedgerSink.branchLogName(name, k)))) {
        Files.move(dir.resolve(LedgerSink.branchLogName(name, k)),
          dir.resolve(LedgerSink.logName(k)),
          StandardCopyOption.ATOMIC_MOVE): Unit
        k += 1
      }
      writeRefs(dir, refs(dir) - name)
      LedgerSink.currentVersion(dir)
    }

  /** Every log version this branch has on disk, contiguous or not —
    * drop/cleanup must see crash leftovers, not just the walkable
    * chain. */
  private def allBranchLogs(dir: Path, name: String): Seq[Int] =
    LedgerSink.branchLogVersions(dir, name)

  /** Discard a branch: its ref and its logs; the staged files its
    * logs referenced become unreferenced — vacuum reclaims them. */
  def dropBranch(dir: Path, name: String): Unit =
    LedgerSink.withCommitLock(dir) {
      branchFork(dir, name): Unit // fail loud on an unknown name
      writeRefs(dir, refs(dir) - name)
      // delete by LISTING, not by walking the contiguous chain — a
      // crash-interrupted fast-forward can leave a gap, and the
      // stranded logs past it must not pin their staged files forever
      allBranchLogs(dir, name).foreach(k =>
        Files.deleteIfExists(
          dir.resolve(LedgerSink.branchLogName(name, k))): Unit)
    }

  /** Tag → version, failing loud on an unknown name (a silent
    * empty read from a typo'd tag is the failure mode). */
  def resolveTag(dir: Path, name: String): Int =
    tags(dir).getOrElse(name, throw new IllegalArgumentException(
      s"no tag '$name' on $dir (tags: ${tags(dir).keys.toSeq.sorted
        .mkString(",")})"))

  /** Roll the table back to `version`'s exact committed state as a NEW
    * version (the Delta RESTORE contract): schema, ids, partition
    * spec, properties and file list all come from the target version's
    * self-contained manifest. Fails loud when retention already
    * reclaimed one of the target's data files — a restore that
    * resurrects a manifest naming ghost files would fail at first
    * read, which is later and worse. Restoring to the current state is
    * a no-op (no version bump). Returns the version the restore
    * committed as (the new current version). */
  def restore(dir: Path, version: Int): Int = {
    LedgerSink.commitRebase(dir, { _ =>
      val target = LedgerSink.readManifestAt(dir, Some(version)).getOrElse(
        throw new IllegalArgumentException(
          s"no committed ledger manifest under $dir"))
      val missing = target.files
        .flatMap(e => (e.file +: e.dv.toSeq) ++ e.bloom.toSeq)
        .filterNot(f => Files.exists(dir.resolve(f)))
      if (missing.nonEmpty) throw new IllegalStateException(
        s"cannot restore $dir to version $version: ${missing.size} " +
          s"referenced file(s) were vacuumed (first: ${missing.head})")
      Some(target)
    }, "unreachable: restore always rebases")
    LedgerSink.currentVersion(dir)
  }

  /** Delete archived manifests beyond the newest `keepLast`, keeping
    * every tagged version — then [[LedgerSink.vacuum]] can reclaim the
    * data files only those archives referenced. `keepLast >= 1`: the
    * version counter is derived from the archive chain, so the newest
    * archive must survive or versioning would silently restart at 1.
    * Reads of an expired version fail fast with the retained-version
    * list ([[LedgerSink.readManifestAt]]). Returns the expired
    * version numbers. */
  def expireVersions(dir: Path, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1,
      s"keepLast must be >= 1 (always retain the newest historical " +
        s"version), got $keepLast")
    LedgerSink.withCommitLock(dir) {
      val vs = LedgerSink.archivedVersions(dir)
      // live branches pin their FORK points: branch state = fork state
      // + branch log, so the fork must stay reconstructable
      LedgerSink.dropHistory(dir,
        vs.takeRight(keepLast).toSet ++ tags(dir).values ++
          branches(dir).values)
    }
  }

  /** Retention by CLOCK (the Delta `vacuum`-retention / Iceberg
    * `expire_snapshots(older_than)` shape, enabled by the per-commit
    * timestamps): expire every historical version whose commit time
    * is strictly before `olderThanMillis`, protecting tags, live
    * branches' fork points, and the newest historical version (the
    * rollback target) exactly like [[expireVersions]]. Versions
    * without a recorded clock (legacy history) are treated as older
    * than any cutoff — they predate the timestamp feature. Returns
    * the expired versions, ascending. */
  def expireOlderThan(dir: Path, olderThanMillis: Long): Seq[Int] =
    LedgerSink.withCommitLock(dir) {
      val vs = LedgerSink.archivedVersions(dir)
      val keep = vs.filter(v =>
        LedgerSink.commitTs(dir, v).exists(_ >= olderThanMillis)).toSet
      LedgerSink.dropHistory(dir,
        keep ++ vs.lastOption.toSet ++ tags(dir).values ++
          branches(dir).values)
    }

  /** Publish a staged (write-audit-publish) commit: fold exactly its
    * `graft.wap.newfiles` into the table current AT PUBLISH TIME under
    * the optimistic-commit protocol — commits that landed between
    * stage and publish are composed with, not clobbered (the staged
    * files are an append; disjoint file sets commute). The one
    * conflict is a definition change since the stage: the staged files
    * encode under the stage's ids and spec and passed its constraints
    * (the staged manifest carries the binding they were written
    * under), so when the current binding differs the publish aborts
    * (staged data intact — re-stage against the new definition).
    * Deletes the staged manifest on success. Returns the published
    * version. */
  def publishWap(dir: Path, id: String): Int =
    // the whole publish — read stage, fold, delete stage — runs under
    // ONE hold of the table lock: a concurrent publish/abort of the
    // same id serializes instead of double-folding or folding ghost
    // files, and the fold itself skips entries already present so a
    // crash-retry (commit landed, stage file survived) is idempotent
    LedgerSink.withCommitLock(dir) {
      val w = LedgerSink.readWap(dir, id)
      val newNames = w.props.get(LedgerSink.WapNewFilesProp)
        .map(_.split(",", -1).toSet.filter(_.nonEmpty)).getOrElse(Set.empty)
      val next = LedgerSink.readManifest(dir) match {
        case Some(cur) =>
          if (cur.binding == w.binding) {
            val present = cur.files.map(_.file).toSet
            // folded entries take the PUBLISH commit's data sequence
            // (seq cleared → stamped at commit): the staged rows were
            // published now, so equality deletes installed between
            // stage and publish must not apply to them
            val adds = w.files.filter(e => newNames(e.file) && !present(e.file))
              .map(_.copy(seq = None))
            if (adds.isEmpty) None else Some(cur.copy(files = cur.files ++ adds))
          } else throw new java.util.ConcurrentModificationException(
            s"publish of wapId=$id on $dir raced a schema-, spec- or " +
              "constraint-changing commit; re-stage against the table's " +
              "new definition")
        case None =>
          // stage against an empty table, still empty: the staged
          // state minus the wap bookkeeping props IS the table
          Some(w.copy(props =
            w.props - LedgerSink.WapBaseProp - LedgerSink.WapNewFilesProp))
      }
      next.foreach(LedgerSink.writeManifestAtomic(dir, _))
      Files.deleteIfExists(dir.resolve(LedgerSink.wapName(id))): Unit
      LedgerSink.currentVersion(dir)
    }

  /** Discard a staged commit: its staged files (with sidecars) and its
    * staged manifest. The live table was never touched. */
  def abortWap(dir: Path, id: String): Unit =
    LedgerSink.withCommitLock(dir) { // serializes against publishWap
      val w = LedgerSink.readWap(dir, id)
      val newNames = w.props.get(LedgerSink.WapNewFilesProp)
        .map(_.split(",", -1).toSet.filter(_.nonEmpty)).getOrElse(Set.empty)
      // delete the staged manifest FIRST: a crash mid-abort then
      // leaves unreferenced files for vacuum, never a staged manifest
      // naming deleted ones
      Files.deleteIfExists(dir.resolve(LedgerSink.wapName(id))): Unit
      w.files.filter(e => newNames(e.file))
        .foreach(e => LedgerSink.deleteStagedEntry(dir, e))
    }
}
