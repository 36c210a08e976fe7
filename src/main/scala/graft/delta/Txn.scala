package graft.delta

import java.util.ConcurrentModificationException

import org.apache.hadoop.fs.Path

/** One optimistic transaction — the single path every engine commit
  * takes (writes, DML, MERGE, OPTIMIZE/REORG, the metadata and
  * maintenance operations).
  *
  * A Txn holds what the commit read: the snapshot it planned against
  * (`read`, None for a table create) and a [[Txn.ReadSet]]; its actions
  * as a function of the read version an attempt is made against (row-id
  * allocation and in-commit provenance are version-dependent); and the
  * data, deletion-vector and change-data files it `staged`, as table-
  * relative or absolute `add.path`-style paths.
  *
  * [[commit]] tries version `readVersion + 1`. When another writer won
  * that version, every interleaved winner is checked against the
  * conflict matrix; a clean check re-commits the same actions at the new
  * head, at most [[Txn.MaxAttempts]] times. A winner's action conflicts
  * when it is:
  *
  *   - a metadata or protocol change — always (the plan is stale);
  *   - a domainMetadata change — when this commit writes the same
  *     domain (a row-id watermark, a clustering spec) or declares a read
  *     set other than `Empty` (its pre-computed domain state is stale);
  *   - a setTransaction for an appId this commit also records — always
  *     (an idempotent sink's duplicate batch);
  *   - a remove of a file this commit removes — always (write-write);
  *   - under `ReadSet.All`, any add or remove (the commit validated or
  *     re-listed the whole file set);
  *   - a dataChange add that the read set may match (phantom: a serial
  *     run would have read those rows). dataChange=false adds
  *     (compactions) carry no new rows and never conflict by themselves
  *     — their paired removes are caught by the write-write rule.
  *
  * Any abort deletes the staged files. After a successful commit one
  * step decides the checkpoint: the interval comes from the commit's own
  * metadata first, then the table's (`delta.checkpointInterval`), else
  * the caller's default; 0 disables it. A create at version 0 can never
  * rebase: every winner there carries metadata and a protocol. */
final case class Txn(
    log: DeltaLog,
    read: Option[Snapshot],
    readSet: Txn.ReadSet,
    actions: Long => Seq[Action],
    staged: Seq[String] = Nil) {
  import Txn._

  /** Commit, rebasing past non-conflicting winners; returns the version
    * that landed. */
  def commit(checkpointInterval: Int = DefaultCheckpointInterval): Long = {
    val (version, committed) =
      try attempt()
      catch {
        case e: Throwable =>
          deleteStaged()
          throw e
      }
    val interval = committed.collectFirst { case m: MetadataAction => m }
      .orElse(read.map(_.metadata))
      .fold(checkpointInterval)(DeltaLog.checkpointIntervalOf(_, checkpointInterval))
    if (checkpointInterval > 0 && version > 0 && version % interval == 0)
      log.writeCheckpoint(version)
    version
  }

  private def attempt(): (Long, Seq[Action]) = {
    var readVersion = read.fold(-1L)(_.version)
    var attempts = 1
    while (true) {
      val ours = actions(readVersion).map {
        case ci: CommitInfo if read.isDefined => ci.copy(readVersion = Some(readVersion))
        case a => a
      }
      try {
        log.writeCommit(readVersion + 1, ours)
        return (readVersion + 1, ours)
      } catch {
        case e: ConcurrentModificationException =>
          if (attempts >= MaxAttempts) throw e
          val head = log.latestVersion
          val check = checkWinner(ours, e)
          (readVersion + 1 to head).foreach(w => log.readCommitActions(w).foreach(check(w, _)))
          readVersion = head
          attempts += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def checkWinner(ours: Seq[Action], cause: Throwable): (Long, Action) => Unit = {
    val domains = ours.collect { case d: DomainMetadata => d.domain }.toSet
    val appIds = ours.collect { case t: SetTransaction => t.appId }.toSet
    val removed = ours.collect { case r: RemoveFile => r.path }.toSet
    (w, a) => {
      def abort(why: String): Nothing = throw new ConcurrentModificationException(
        s"$why at version $w in ${log.tablePath}", cause)
      a match {
        case _: MetadataAction | _: Protocol =>
          abort("Conflict with a concurrent metadata/protocol change")
        case d: DomainMetadata if readSet != ReadSet.Empty || domains(d.domain) =>
          abort(s"Conflict with a concurrent domain-metadata change (${d.domain})")
        case t: SetTransaction if appIds(t.appId) =>
          abort(s"Concurrent transaction for appId ${t.appId}")
        case r: RemoveFile if removed(r.path) =>
          abort(s"Write-write conflict: ${r.path} was concurrently removed")
        case _: AddFile | _: RemoveFile if readSet == ReadSet.All =>
          abort("Conflict with a concurrent file change to a table this commit read in full")
        case f: AddFile if f.dataChange && readSet.mayHold(f) =>
          abort("Phantom conflict: a concurrent commit added rows this commit's read set may match")
        case _ => ()
      }
    }
  }

  private def deleteStaged(): Unit = {
    val fs = log.fs
    staged.foreach(p =>
      try fs.delete(new Path(DeltaRead.resolvePath(log.tablePath, p)), false)
      catch { case _: java.io.IOException => () })
  }
}

object Txn {
  /** Bound on commit attempts (the first try plus rebases). */
  val MaxAttempts = 20

  /** Checkpoint cadence when neither the commit nor the table sets
    * `delta.checkpointInterval`. */
  val DefaultCheckpointInterval = 10

  /** What a commit read, for the phantom rule. */
  sealed trait ReadSet {
    /** May `add` hold rows this commit read? */
    def mayHold(add: AddFile): Boolean
  }
  object ReadSet {
    /** No data files read: a blind append or a metadata-only change. */
    case object Empty extends ReadSet { def mayHold(add: AddFile) = false }
    /** The rows a predicate selects (a DML `addMatcher`, a MERGE key
      * span); `mayHold` is its file-level test. */
    final case class Matching(test: AddFile => Boolean) extends ReadSet {
      def mayHold(add: AddFile) = test(add)
    }
    /** The whole file set, validated or re-listed: any concurrent add or
      * remove conflicts. */
    case object All extends ReadSet { def mayHold(add: AddFile) = true }
  }
}
