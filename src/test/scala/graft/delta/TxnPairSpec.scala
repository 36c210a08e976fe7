package graft.delta

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.{FileSystem, Path}

/** Runs `hook` once, just before the next commit put it sees: a second
  * writer then commits inside the first writer's read-to-commit window,
  * deterministically. Every put is delegated to `inner`. */
private class InterleavingStore(inner: LogStore) extends LogStore {
  val hook = new AtomicReference[() => Unit]()
  override def atomicPutIfAbsent: Boolean = inner.atomicPutIfAbsent
  override def writePutIfAbsent(fs: FileSystem, target: Path, bytes: Array[Byte]): Unit = {
    Option(hook.getAndSet(null)).foreach(_())
    inner.writePutIfAbsent(fs, target, bytes)
  }
}

object TxnPairSpec {
  import TestBase.spark

  sealed trait Op { def run(path: String): Unit }
  final case class Append(lo: Long) extends Op {
    def run(path: String): Unit = {
      import spark.implicits._
      GraftDelta.toDelta((lo until lo + 5).map(k => (k, k)).toDF("k", "v"), path, mode = "append")
    }
  }
  final case class DvDelete(lo: Long) extends Op {
    def run(path: String): Unit = GraftDelta.deleteWhereWithDv(spark, path,
      Seq(Seq(Predicate("k", ">=", lo), Predicate("k", "<", lo + 8))))
  }
  final case class Merge(lo: Long) extends Op {
    def run(path: String): Unit = {
      import spark.implicits._
      val src = ((lo until lo + 3).map(k => (k, k + 1000)) ++
        (5000 + lo until 5000 + lo + 2).map(k => (k, k))).toDF("k", "v")
      GraftDelta.mergeInto(spark, path, src, Seq("k"))
    }
  }
  case object Optimize extends Op {
    def run(path: String): Unit = DeltaMaintenance.compact(spark, path)
  }
  final case class SetProps(value: String) extends Op {
    def run(path: String): Unit =
      DeltaTableOps.setTableProperties(spark, path, Map("graft.test.mark" -> value))
  }
  final case class AddConstraint(name: String) extends Op {
    def run(path: String): Unit = DeltaTableOps.addCheckConstraint(spark, path, name, "k >= 0")
  }
}

/** Two-writer property over [[Txn]]: writer A plans an operation, writer
  * B runs a whole operation and commits inside A's window, then A
  * commits. Whatever the pair, either the final table (rows and table
  * properties) equals some serial order of the two operations, or A
  * threw ConcurrentModificationException and left no staged file behind
  * (every file under the table root is named by the log). Pairs are
  * drawn with a fixed seed from: blind append, DV delete, MERGE,
  * OPTIMIZE, SET TBLPROPERTIES and ADD CONSTRAINT. */
class TxnPairSpec extends GraftSuite {
  import TxnPairSpec._

  /** One op of each kind; `w` keeps the two writers' parameters apart. */
  private def draw(rnd: scala.util.Random, kind: Int, w: String): Op = kind match {
    case 0 => Append(1000L + rnd.nextInt(50) * 5)
    case 1 => DvDelete(rnd.nextInt(90).toLong)
    case 2 => Merge(rnd.nextInt(90).toLong)
    case 3 => Optimize
    case 4 => SetProps(s"$w${rnd.nextInt(100)}")
    case _ => AddConstraint(s"c_$w")
  }

  private val fileStore = LogStore.forScheme("file")
  private lazy val store = {
    val s = new InterleavingStore(fileStore)
    LogStore.register("file", s)
    s
  }
  override protected def afterAll(): Unit = {
    LogStore.register("file", fileStore)
    super.afterAll()
  }

  /** keys 0..98 in four files, already upgraded for deletion vectors */
  private lazy val base: String = {
    import spark.implicits._
    val path = fresh()
    GraftDelta.toDelta((0L until 100L).map(k => (k, k)).toDF("k", "v")
      .repartitionByRange(4, $"k"), path)
    GraftDelta.deleteWhereWithDv(spark, path, Seq(Seq(Predicate("k", "==", 99L))))
    path
  }

  private def fresh(): String = {
    val d = Files.createTempDirectory("graft_txnpair")
    d.toFile.deleteOnExit()
    s"$d/tbl"
  }

  private def copyOfBase(): String = {
    val path = fresh()
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(base), new java.io.File(path))
    path
  }

  private def state(path: String): (Seq[(Long, Long)], Map[String, String]) = {
    import spark.implicits._
    DeltaLog.clearCache()
    (GraftDelta.readDelta(spark, path).as[(Long, Long)].collect().toSeq.sorted,
      DeltaLog.forTable(spark, path).snapshot(None).metadata.configuration)
  }

  private def serial(ops: Op*): (Seq[(Long, Long)], Map[String, String]) = {
    val path = copyOfBase()
    ops.foreach(_.run(path))
    state(path)
  }

  /** Every file under the table root is named by some commit. */
  private def orphans(path: String): Seq[String] = {
    val log = DeltaLog.forTable(spark, path)
    def abs(p: String) = new java.io.File(DeltaRead.resolvePath(path, p)).getAbsolutePath
    val named = (0L to log.latestVersion).flatMap(log.readCommitActions).flatMap {
      case a: AddFile => Seq(abs(a.path)) ++ a.deletionVector.filter(_.storageType == "u")
        .map(d => abs(DeletionVectors.relativeDvName(d.pathOrInlineDv)))
      case r: RemoveFile => Seq(abs(r.path))
      case c: AddCDCFile => Seq(abs(c.path))
      case _ => Nil
    }.toSet
    val root = new java.io.File(path)
    org.apache.commons.io.FileUtils.listFiles(root, null, true).toArray
      .map(_.asInstanceOf[java.io.File])
      .filterNot(f => f.getPath.contains("/_delta_log/") || f.getName.endsWith(".crc"))
      .map(_.getAbsolutePath).filterNot(named).toSeq
  }

  /** Run B inside A's window; returns whether A committed. */
  private def interleave(a: Op, b: Op): Boolean = {
    val path = copyOfBase()
    store.hook.set(() => b.run(path))
    val aCommitted =
      try { a.run(path); true }
      catch { case _: java.util.ConcurrentModificationException => false }
    // A committed nothing (e.g. OPTIMIZE found nothing to compact): B runs after it
    Option(store.hook.getAndSet(null)).foreach(_())
    val got = state(path)
    if (aCommitted)
      assert(got == serial(b, a) || got == serial(a, b),
        s"A=$a after B=$b matches no serial order")
    else assert(got == serial(b), s"aborted A=$a must leave exactly B=$b")
    val left = orphans(path)
    assert(left.isEmpty, s"A=$a, B=$b left unreferenced files: $left")
    aCommitted
  }

  test("random two-writer pairs commit serializably or abort cleanly") {
    val rnd = new scala.util.Random(20261018L)
    val pairs = rnd.shuffle((for (i <- 0 until 6; j <- 0 until 6) yield (i, j)).toList).take(8)
    pairs.foreach { case (i, j) => interleave(draw(rnd, i, "a"), draw(rnd, j, "b")) }
  }

  test("a metadata-only change rebases past a concurrent blind append") {
    assert(interleave(SetProps("a1"), Append(1000L)),
      "SET TBLPROPERTIES must survive a concurrent blind append")
  }

  test("ADD CONSTRAINT aborts on a concurrent blind append") {
    assert(!interleave(AddConstraint("c_a"), Append(1000L)),
      "ADD CONSTRAINT validated the old file set and must abort")
  }
}
