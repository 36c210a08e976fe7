package graft.delta

import java.nio.file.Files
import java.time.Instant

/** The post-commit step every [[Txn]] shares: a checkpoint lands at the
  * table's interval whatever the operation, and a commit that loses its
  * race deletes what it staged. */
class CommitCadenceSpec extends GraftSuite {

  private def tmp(): String = {
    val d = Files.createTempDirectory("graft_cadence")
    d.toFile.deleteOnExit()
    s"$d/tbl"
  }

  /** v0 create with `delta.checkpointInterval = 3`, v1 and v2 appends. */
  private def tableAtV2(extra: Map[String, String] = Map.empty): String = {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(Seq((1L, "a")).toDF("id", "v"), path,
      configuration = Map("delta.checkpointInterval" -> "3") ++ extra)
    GraftDelta.toDelta(Seq((2L, "b")).toDF("id", "v"), path, mode = "append")
    GraftDelta.toDelta(Seq((3L, "c")).toDF("id", "v"), path, mode = "append")
    path
  }

  test("a SET TBLPROPERTIES landing on the interval writes the checkpoint") {
    val path = tableAtV2()
    val log = DeltaLog.forTable(spark, path)
    assert(DeltaTableOps.setTableProperties(spark, path, Map("k" -> "v")) == 3L)
    assert(log.listCheckpointVersions.contains(3L), log.listCheckpointVersions.toString)
    // the commit's own metadata decides first: interval 4 at version 4
    assert(DeltaTableOps.setTableProperties(spark, path,
      Map("delta.checkpointInterval" -> "4")) == 4L)
    assert(log.listCheckpointVersions.contains(4L), log.listCheckpointVersions.toString)
  }

  test("an OPTIMIZE landing on the interval writes the checkpoint") {
    val path = tableAtV2()
    val log = DeltaLog.forTable(spark, path)
    DeltaMaintenance.compact(spark, path)
    assert(log.latestVersion == 3L)
    assert(log.listCheckpointVersions.contains(3L), log.listCheckpointVersions.toString)
    assert(GraftDelta.readDelta(spark, path).count() == 3)
  }

  test("a RESTORE that loses its race leaves no _change_data files") {
    val path = tableAtV2(Map("delta.enableChangeDataFeed" -> "true"))
    GraftDelta.deleteWhere(spark, path, Seq(Seq(Predicate("id", "==", 2L)))) // v3
    val changeDir = new java.io.File(path, "_change_data")
    def changeFiles(): Set[String] =
      Option(changeDir.listFiles()).toSeq.flatten.map(_.getName)
        .filterNot(_.endsWith(".crc")).toSet
    val before = changeFiles()
    val log = DeltaLog.forTable(spark, path)
    // a blind append wins version 4 the moment RESTORE starts staging
    // its change data, inside RESTORE's read-to-commit window
    val watcher = new Thread(() => {
      val root = new java.io.File(path)
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline &&
        !Option(root.listFiles()).exists(_.exists(_.getName.startsWith(".graft_cdc_"))))
        Thread.sleep(1)
      log.writeCommit(4L, Seq(
        CommitInfo(Instant.now().toEpochMilli, "WRITE",
          operationParameters = Map("mode" -> "Append"),
          readVersion = Some(3L), isBlindAppend = Some(true)),
        AddFile("winner.parquet", Map.empty, size = 1L, dataChange = true)))
    })
    watcher.start()
    intercept[java.util.ConcurrentModificationException](
      DeltaTableOps.restore(spark, path, toVersion = 1L))
    watcher.join()
    assert(log.latestVersion == 4L)
    assert(changeFiles() == before, s"leaked change data: ${changeFiles() -- before}")
  }
}
