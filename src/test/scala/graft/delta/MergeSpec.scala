package graft.delta

import graft.delta.DeltaDml.WhenMatched
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** MERGE INTO semantics and file-level behavior (DeltaDml.merge). */
class MergeSpec extends GraftSuite {

  private def tmp(): String = {
    val d = Files.createTempDirectory("graft_merge")
    d.toFile.deleteOnExit()
    s"$d/tbl"
  }

  private def activePaths(path: String): Set[String] =
    DeltaLog.forTable(spark, path).snapshot(None).activeFiles.map(_.path).toSet

  test("upsert: matched rows replaced, unmatched source rows appended") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(
      (1 to 100).map(i => (i.toLong, s"old$i")).toDF("k", "v").repartitionByRange(4, $"k"),
      path)
    val source = Seq((5L, "new5"), (50L, "new50"), (200L, "ins200")).toDF("k", "v")
    val res = GraftDelta.mergeInto(spark, path, source, on = Seq("k"))
    assert(res.matchedRows == 2 && res.insertedRows == 1)

    val out = GraftDelta.readDelta(spark, path)
    assert(out.count() == 101)
    val got = out.filter($"k".isin(5L, 50L, 200L)).orderBy($"k")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((5L, "new5"), (50L, "new50"), (200L, "ins200")), s"got $got")
    // time travel sees the pre-merge state
    assert(GraftDelta.readDelta(spark, path, version = Some(0L)).count() == 100)
    val h = GraftDelta.readDeltaHistory(spark, path).collect()
    assert(h.head.getString(1) == "MERGE")
  }

  test("inserted count is exact when the rewritten file carries a deletion vector") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(
      (1 to 100).map(i => (i.toLong, s"old$i")).toDF("k", "v").coalesce(1), path)
    GraftDelta.deleteWhereWithDv(spark, path, Seq(Seq(Predicate("k", "<=", 10L))))
    // one matched key in the DV-carrying file, five inserts: the rewrite
    // carries the file's 90 live rows, not its 100 physical ones
    val source = (Seq((50L, "new50")) ++ (200 to 204).map(i => (i.toLong, s"ins$i")))
      .toDF("k", "v")
    val res = GraftDelta.mergeInto(spark, path, source, on = Seq("k"))
    assert(res.matchedRows == 1 && res.insertedRows == 5, res.toString)
    val log = DeltaLog.forTable(spark, path)
    val metrics = log.commitInfoOf(log.latestVersion).get.operationMetrics
    assert(metrics("numTargetRowsInserted") == "5", metrics.toString)
    assert(GraftDelta.readDelta(spark, path).count() == 95)
  }

  test("key-range pruning: a narrow source leaves out-of-range files untouched") {
    import spark.implicits._
    val path = tmp()
    // range-clustered files → stats confine keys 10..15 to one file
    GraftDelta.toDelta(
      (0 until 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v").repartitionByRange(5, $"k"),
      path)
    val before = activePaths(path)
    val source = (10 to 15).map(i => (i.toLong, s"upd$i")).toDF("k", "v")
    val res = GraftDelta.mergeInto(spark, path, source, on = Seq("k"))
    assert(res.matchedRows == 6 && res.insertedRows == 0)
    assert(res.removedFiles == 1, "only the file overlapping the key span is rewritten")
    assert((before & activePaths(path)).size == 4)
    assert(GraftDelta.readDelta(spark, path).count() == 1000)
  }

  test("insert-only merge (WhenMatched.Ignore) never rewrites target files") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((1 to 50).map(i => (i.toLong, s"v$i")).toDF("k", "v"), path)
    val before = activePaths(path)
    val source = Seq((10L, "SHOULD_NOT_APPLY"), (99L, "ins")).toDF("k", "v")
    val res = GraftDelta.mergeInto(spark, path, source, on = Seq("k"),
      whenMatched = WhenMatched.Ignore)
    assert(res.matchedRows == 1 && res.insertedRows == 1 && res.removedFiles == 0)
    assert(before.subsetOf(activePaths(path)))
    val out = GraftDelta.readDelta(spark, path)
    assert(out.count() == 51)
    assert(out.filter($"k" === 10L).select($"v").as[String].head() == "v10")
  }

  test("matched-delete removes the matched rows and inserts the rest") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((1 to 20).map(i => (i.toLong, i * 2L)).toDF("k", "x"), path)
    val source = Seq((3L, 0L), (7L, 0L), (100L, 42L)).toDF("k", "x")
    val res = GraftDelta.mergeInto(spark, path, source, on = Seq("k"),
      whenMatched = WhenMatched.Delete)
    assert(res.matchedRows == 2 && res.insertedRows == 1)
    val out = GraftDelta.readDelta(spark, path)
    assert(out.count() == 19)
    assert(out.filter($"k".isin(3L, 7L)).count() == 0)
    assert(out.filter($"k" === 100L).select($"x").as[Long].head() == 42L)
  }

  test("WhenMatched.Update assignments see target cols and src() source cols") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((1 to 10).map(i => (i.toLong, i * 10L, "z")).toDF("k", "total", "tag"),
      path)
    val source = Seq((4L, 5L), (6L, 7L)).toDF("k", "delta")
    val res = GraftDelta.mergeInto(spark, path, source, on = Seq("k"),
      whenMatched = WhenMatched.Update(Map(
        "total" -> (col("total") + DeltaDml.src("delta")),
        "tag" -> lit("merged"))),
      insertNotMatched = false)
    assert(res.matchedRows == 2 && res.insertedRows == 0)
    val got = GraftDelta.readDelta(spark, path).filter($"tag" === "merged")
      .orderBy($"k").select($"k", $"total").as[(Long, Long)].collect().toSeq
    assert(got == Seq((4L, 45L), (6L, 67L)), s"got $got")
  }

  test("duplicate source keys are refused; null source keys insert") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((1 to 10).map(i => (i.toLong, s"v$i")).toDF("k", "v"), path)
    intercept[IllegalStateException] {
      GraftDelta.mergeInto(spark, path,
        Seq((1L, "a"), (1L, "b")).toDF("k", "v"), on = Seq("k"))
    }
    val res = GraftDelta.mergeInto(spark, path,
      Seq[(java.lang.Long, String)]((null, "nullkey"), (2L, "upd2")).toDF("k", "v"),
      on = Seq("k"))
    assert(res.matchedRows == 1 && res.insertedRows == 1,
      "NULL key must never match and therefore insert")
    assert(GraftDelta.readDelta(spark, path).count() == 11)
  }

  test("merge reports inserted rows on a stats-less (foreign-written) table") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta((1 to 10).map(i => (i.toLong, s"v$i")).toDF("k", "v"), path)
    val log = DeltaLog.forTable(spark, path)
    // simulate a foreign writer: re-add every active file WITHOUT stats
    // (later add for the same path wins in log replay)
    log.writeCommit(1L, Seq(CommitInfo(
      timestamp = java.time.Instant.now().toEpochMilli, operation = "WRITE",
      operationParameters = Map("mode" -> "Append"),
      operationMetrics = Map.empty, readVersion = Some(0L),
      isBlindAppend = Some(true))) ++
      log.snapshot(None).activeFiles.map(_.copy(stats = None)))
    assert(log.snapshot(None).activeFiles.forall(_.stats.isEmpty))

    val src = Seq((2L, "UP"), (100L, "INS1"), (101L, "INS2")).toDF("k", "v")
    val res = GraftDelta.mergeInto(spark, path, src, on = Seq("k"))
    assert(res.matchedRows == 1)
    assert(res.insertedRows == 2,
      s"stats-less removes must not zero the insert count, got ${res.insertedRows}")
    assert(GraftDelta.readDelta(spark, path).count() == 12)
  }

  test("phase-0 guard+span is ONE source pass (fused aggregation)") {
    import spark.implicits._
    val src = Seq((Some(1L), "a"), (Some(2L), "b"), (None, "n"))
      .toDF("k", "v")
    val frame = DeltaDml.mergeGuardFrame(src, Seq("k"))
    val row = frame.collect()(0)
    // counts include the null-key row; distinct counts the null TUPLE
    assert(row.getAs[Long]("__cnt") == 3L && row.getAs[Long]("__dk") == 3L, row)
    assert(row.getAs[Long]("mn_k") == 1L && row.getAs[Long]("mx_k") == 2L, row)
    // one scan of the source relation in the whole physical plan
    val whole = frame.queryExecution.executedPlan.toString
    val p = whole.split("== Initial Plan ==")(0) // AQE repeats the pre-AQE plan
    val scans = p.linesIterator.count(l =>
      l.contains("LocalTableScan") || l.contains("Scan ExistingRDD") ||
        l.contains("FileScan"))
    assert(scans == 1, s"fused guard must scan the source once:\n$p")
    // duplicate NULL tuples still refuse, like the old groupBy guard
    val dupNull = Seq((None: Option[Long], "x"), (None: Option[Long], "y")).toDF("k", "v")
    val r2 = DeltaDml.mergeGuardFrame(dupNull, Seq("k")).collect()(0)
    assert(r2.getAs[Long]("__cnt") > r2.getAs[Long]("__dk"), r2)
  }

  test("multi-clause: ordered conditioned WHEN MATCHED, first-match-wins") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(Seq(
      (1L, "keep", 10L), (2L, "del", 10L), (3L, "upd", 10L), (4L, "upd", 10L))
      .toDF("id", "tag", "v"), path)
    val src = Seq((2L, "x", 0L), (3L, "x", 0L), (4L, "x", 99L), (9L, "new", 1L))
      .toDF("id", "tag", "v")
    val r = DeltaDml.mergeClauses(spark, path, src, Seq("id"),
      matched = Seq(
        // clause 0: delete matched rows tagged 'del'
        DeltaDml.MatchedClause(DeltaDml.WhenMatched.Delete,
          Some(col("tag") === "del")),
        // clause 1: source v > 50 wins the value
        DeltaDml.MatchedClause(
          DeltaDml.WhenMatched.Update(Map("v" -> DeltaDml.src("v"))),
          Some(DeltaDml.src("v") > 50L)),
        // clause 2: unconditional fallback — bump by 1
        DeltaDml.MatchedClause(
          DeltaDml.WhenMatched.Update(Map("v" -> (col("v") + 1L))))),
      insertNotMatched = true)
    assert(r.matchedRows == 3L && r.insertedRows == 1L, s"$r")
    val out = GraftDelta.readDelta(spark, path)
      .select($"id", $"v").as[(Long, Long)].collect().toMap
    assert(!out.contains(2L), "clause 0 deleted id=2")
    assert(out(3L) == 11L, s"clause 2 (fallback) bumped id=3: ${out(3L)}")
    assert(out(4L) == 99L, s"clause 1 won for id=4 (first-match-wins): ${out(4L)}")
    assert(out(1L) == 10L, "unmatched target row untouched")
    assert(out(9L) == 1L, "unmatched source row inserted")
  }

  test("WHEN NOT MATCHED BY SOURCE: delete scoped by condition, update elsewhere") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(Seq(
      (1L, "live", 10L), (2L, "stale", 10L), (3L, "stale", 10L), (4L, "live", 10L))
      .toDF("id", "status", "v"), path)
    // source carries only id=1: rows 2,3,4 are not-matched-by-source
    val src = Seq((1L, "live", 20L)).toDF("id", "status", "v")
    val r = DeltaDml.mergeClauses(spark, path, src, Seq("id"),
      matched = Seq(DeltaDml.MatchedClause(DeltaDml.WhenMatched.UpdateAll)),
      insertNotMatched = false,
      bySource = Seq(
        DeltaDml.BySourceClause(DeltaDml.BySourceAction.Delete,
          Some(col("status") === "stale")),
        DeltaDml.BySourceClause(DeltaDml.BySourceAction.Update(
          Map("status" -> lit("aged"))))))
    assert(r.matchedRows == 1L && r.insertedRows == 0L, s"$r")
    val out = GraftDelta.readDelta(spark, path)
      .select($"id", $"status", $"v").as[(Long, String, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(out.keySet == Set(1L, 4L), s"stale rows deleted: ${out.keySet}")
    assert(out(1L) == (("live", 20L)), "matched row upserted, never by-source'd")
    assert(out(4L) == (("aged", 10L)), "surviving unmatched row aged by clause 1")
  }

  test("by-source narrowing: an out-of-span cold file survives by identity under " +
      "a bounded by-source delete (VERDICT r17 #6)") {
    import spark.implicits._
    val path = tmp()
    // range-clustered: 5 files of ~200 ids each, stats confine each span
    GraftDelta.toDelta(
      (0 until 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartitionByRange(5, $"id"),
      path)
    val before = activePaths(path)
    // source matches ids 0..49; the by-source delete is BOUNDED to
    // id < 100 — rows 100+ are by-source-unmatched but provably outside
    // the clause bound, so their files must survive by identity
    val src = (0 until 50).map(i => (i.toLong, s"s$i")).toDF("id", "v")
    val r = DeltaDml.mergeClauses(spark, path, src, Seq("id"),
      matched = Seq(DeltaDml.MatchedClause(DeltaDml.WhenMatched.UpdateAll)),
      insertNotMatched = false,
      bySource = Seq(DeltaDml.BySourceClause(DeltaDml.BySourceAction.Delete,
        Some(col("id") < 100L))))
    assert(r.matchedRows == 50, s"$r")
    assert(r.removedFiles == 1,
      s"only the file overlapping key span + clause bound rewrites: $r")
    assert((before & activePaths(path)).size == before.size - 1,
      "cold files must survive by identity")
    val out = GraftDelta.readDelta(spark, path)
    assert(out.count() == 950)
    assert(out.filter($"id" >= 50L && $"id" < 100L).count() == 0, "bounded deletes applied")
    assert(out.filter($"id" < 50L && !$"v".startsWith("s")).count() == 0, "matches upserted")
    // an INEXPRESSIBLE condition falls back soundly to the full rewrite
    // set (same final rows — the condition never holds here)
    val before2 = activePaths(path)
    val r2 = DeltaDml.mergeClauses(spark, path, src, Seq("id"),
      matched = Nil, insertNotMatched = false,
      bySource = Seq(DeltaDml.BySourceClause(
        DeltaDml.BySourceAction.Update(Map("v" -> lit("boiler"))),
        Some(length($"v") > lit(100)))))
    assert((before2 & activePaths(path)).isEmpty,
      "inexpressible bound must keep the conservative full-set rewrite")
    assert(GraftDelta.readDelta(spark, path).count() == 950)
    assert(GraftDelta.readDelta(spark, path).filter($"v" === "boiler").count() == 0)
  }

  test("conditionToDnf: attribute-vs-literal bounds convert (both orders, AND/OR, " +
      "IN); anything else refuses to None") {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("a", "int").add("b", "string").add("c", "long").add("v", "string")
    def dnf(cond: org.apache.spark.sql.Column) =
      DeltaDml.conditionToDnf(spark, schema, cond)
    assert(dnf(col("a") < 5 && col("b") === "x")
      .contains(Seq(Seq(Predicate("a", "<", 5), Predicate("b", "==", "x")))))
    assert(dnf(lit(5) > col("a"))
      .contains(Seq(Seq(Predicate("a", "<", 5)))))
    assert(dnf(col("a") < 5 || col("c") >= 7L)
      .contains(Seq(Seq(Predicate("a", "<", 5)), Seq(Predicate("c", ">=", 7L)))))
    assert(dnf(col("a").isin(1, 2, 3))
      .contains(Seq(Seq(Predicate("a", "in", Seq(1, 2, 3))))))
    // resolution coerces the literal to the COLUMN type, so the emitted
    // bound compares in the stats domain
    assert(dnf(col("c") < 5).contains(Seq(Seq(Predicate("c", "<", 5L)))))
    assert(dnf(length(col("v")) > 2).isEmpty,
      "computed left side is not stats-expressible")
    assert(dnf(col("a") === col("c")).isEmpty,
      "attribute-vs-attribute is not stats-expressible")
    assert(dnf(col("a") < 5 && length(col("v")) > 2).isEmpty,
      "one inexpressible conjunct poisons the conjunction")
    assert(dnf(col("nope") < 5).isEmpty, "an unresolvable column refuses to None")
  }

  test("multi-clause CDF records per-clause deletes and update images") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(Seq((1L, 10L), (2L, 10L), (3L, 10L)).toDF("id", "v"), path,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    val src = Seq((1L, 100L), (2L, 0L)).toDF("id", "v")
    DeltaDml.mergeClauses(spark, path, src, Seq("id"),
      matched = Seq(
        DeltaDml.MatchedClause(DeltaDml.WhenMatched.Delete,
          Some(DeltaDml.src("v") === 0L)),
        DeltaDml.MatchedClause(DeltaDml.WhenMatched.UpdateAll)),
      insertNotMatched = false,
      bySource = Seq(DeltaDml.BySourceClause(DeltaDml.BySourceAction.Delete)))
    val feed = GraftDelta.tableChanges(spark, path, fromVersion = 0L)
      .select($"id", $"v", $"_change_type").as[(Long, Long, String)]
      .collect().toSet
    assert(feed == Set(
      (1L, 10L, "update_preimage"), (1L, 100L, "update_postimage"),
      (2L, 10L, "delete"),  // matched clause 0
      (3L, 10L, "delete")), // by-source delete
      feed.toString)
    // the feed agrees with the table
    assert(GraftDelta.readDelta(spark, path).select($"id", $"v")
      .as[(Long, Long)].collect().toSeq == Seq((1L, 100L)))
  }

  test("merge into a hive-partitioned target keeps partition layout") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(
      (0 until 90).map(i => (i.toLong, (i % 3).toString, s"v$i")).toDF("k", "p", "v"),
      path, partitionBy = Seq("p"))
    val source = Seq((1L, "1", "UP"), (1000L, "2", "INS")).toDF("k", "p", "v")
    val res = GraftDelta.mergeInto(spark, path, source, on = Seq("k"))
    assert(res.matchedRows == 1 && res.insertedRows == 1)
    val out = GraftDelta.readDelta(spark, path)
    assert(out.count() == 91)
    assert(out.filter($"k" === 1L).select($"v").as[String].head() == "UP")
    // inserted row landed in its hive partition and reads back typed
    assert(out.filter($"p" === "2" && $"k" === 1000L).count() == 1)
  }

  test("schema evolution appends source-only columns; old rows read null") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(
      (1 to 20).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .repartitionByRange(2, $"k"), path)
    // source carries a NEW column `extra` and misses nothing
    val source = Seq((5L, "new5", 50L), (100L, "ins100", 999L))
      .toDF("k", "v", "extra")
    val r = DeltaDml.mergeClauses(spark, path, source, Seq("k"),
      matched = Seq(DeltaDml.MatchedClause(WhenMatched.UpdateAll)),
      schemaEvolution = true)
    assert(r.matchedRows == 1 && r.insertedRows == 1)
    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    assert(snap.schema.fieldNames.toSeq == Seq("k", "v", "extra"))
    assert(snap.schema("extra").nullable)
    val out = GraftDelta.readDelta(spark, path).orderBy($"k")
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(out.size == 21)
    assert(out.find(_._1 == 5L).get == ((5L, "new5", Some(50L))))
    assert(out.find(_._1 == 100L).get == ((100L, "ins100", Some(999L))))
    // untouched rows (other file) read null for the evolved column
    assert(out.filter(t => t._1 != 5L && t._1 != 100L).forall(_._3.isEmpty))
    // time travel BEFORE the merge sees the old 2-column schema
    assert(GraftDelta.readDelta(spark, path, version = Some(0L))
      .schema.fieldNames.toSeq == Seq("k", "v"))
  }

  test("schema evolution tolerates a partial source: update keeps, insert nulls") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(
      (1 to 10).map(i => (i.toLong, s"v$i", i * 10L)).toDF("k", "v", "w"), path)
    // source misses target column `w` and brings new column `n`
    val source = Seq((3L, "up3", "x3"), (50L, "ins50", "x50")).toDF("k", "v", "n")
    val r = DeltaDml.mergeClauses(spark, path, source, Seq("k"),
      matched = Seq(DeltaDml.MatchedClause(WhenMatched.UpdateAll)),
      schemaEvolution = true)
    assert(r.matchedRows == 1 && r.insertedRows == 1)
    val out = GraftDelta.readDelta(spark, path)
      .as[(Long, String, Option[Long], Option[String])].collect()
      .sortBy(_._1).toSeq
    // updated row: v from source, w KEPT from target, n from source
    assert(out.find(_._1 == 3L).get == ((3L, "up3", Some(30L), Some("x3"))))
    // inserted row: missing target column w fills null
    assert(out.find(_._1 == 50L).get == ((50L, "ins50", None, Some("x50"))))
    // without the flag the same partial source refuses loudly
    val e = intercept[IllegalArgumentException] {
      DeltaDml.mergeClauses(spark, path, Seq((1L, "z")).toDF("k", "v"), Seq("k"),
        matched = Seq(DeltaDml.MatchedClause(WhenMatched.UpdateAll)))
    }
    assert(e.getMessage.contains("every target column"))
  }

  test("schema evolution under column mapping stamps ids and advances maxColumnId") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(
      (1 to 10).map(i => (i.toLong, s"v$i")).toDF("k", "v"), path)       // v0
    GraftDelta.enableColumnMapping(spark, path)                          // v1
    GraftDelta.renameColumn(spark, path, "v", "val")                     // v2
    val pre = DeltaLog.forTable(spark, path).snapshot(None)
    val preMax = pre.metadata.configuration("delta.columnMapping.maxColumnId").toLong

    val src = tmp()
    Seq((2L, "up2", 7L), (99L, "ins99", 8L)).toDF("k", "val", "extra")
      .write.parquet(src)
    // SQL surface end to end: WITH SCHEMA EVOLUTION keyword
    val row = graft.sql.GraftSql.sql(spark,
      s"MERGE WITH SCHEMA EVOLUTION INTO delta.`$path` AS t " +
        s"USING `$src` AS s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      .collect().head
    assert(row.getAs[Long]("matchedRows") == 1 && row.getAs[Long]("insertedRows") == 1)

    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    val f = snap.schema("extra")
    assert(f.metadata.contains("delta.columnMapping.id") &&
      f.metadata.contains("delta.columnMapping.physicalName"),
      s"evolved field must be mapping-stamped: $f")
    assert(snap.metadata.configuration("delta.columnMapping.maxColumnId").toLong
      == preMax + 1)
    val out = GraftDelta.readDelta(spark, path)
      .as[(Long, String, Option[Long])].collect().sortBy(_._1).toSeq
    assert(out.find(_._1 == 2L).get == ((2L, "up2", Some(7L))))
    assert(out.find(_._1 == 99L).get == ((99L, "ins99", Some(8L))))
    assert(out.filter(t => t._1 != 2L && t._1 != 99L).forall(_._3.isEmpty))
  }

  test("schema evolution composes with the change feed: CDC rows carry the new column") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(
      (1 to 10).map(i => (i.toLong, s"v$i")).toDF("k", "v"), path)       // v0
    GraftDelta.enableChangeDataFeed(spark, path)                         // v1
    val source = Seq((3L, "up3", 33L), (50L, "ins50", 55L)).toDF("k", "v", "extra")
    DeltaDml.mergeClauses(spark, path, source, Seq("k"),
      matched = Seq(DeltaDml.MatchedClause(WhenMatched.UpdateAll)),
      schemaEvolution = true)                                            // v2
    // fromVersion is EXCLUSIVE: (1, head] covers the v2 merge
    val chg = GraftDelta.tableChanges(spark, path, 1L)
      .select($"k", $"extra", $"_change_type".as("ct"))
      .as[(Long, Option[Long], String)].collect().toSet
    assert(chg == Set(
      (3L, None, "update_preimage"),       // pre-image predates the column
      (3L, Some(33L), "update_postimage"),
      (50L, Some(55L), "insert")), chg.toString)
    // the feed's schema at this range end IS the evolved schema
    assert(GraftDelta.tableChanges(spark, path, 1L).columns.contains("extra"))
  }

  test("schema evolution with no new columns is a plain merge (no metaData action)") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)
    DeltaDml.mergeClauses(spark, path, Seq((1L, "a2")).toDF("k", "v"), Seq("k"),
      matched = Seq(DeltaDml.MatchedClause(WhenMatched.UpdateAll)),
      schemaEvolution = true)
    val log = DeltaLog.forTable(spark, path)
    assert(!log.readCommitActions(1L).exists(_.isInstanceOf[MetadataAction]),
      "no-op evolution must not re-emit metaData")
    assert(GraftDelta.readDelta(spark, path).filter($"k" === 1L)
      .select($"v").as[String].head() == "a2")
  }

  test("case-variant source columns resolve to existing target columns (r12 ADVICE)") {
    import spark.implicits._
    val path = tmp()
    GraftDelta.toDelta(
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "v", "bal"), path)
    // source carries V and BAL — same columns, different case. Spark's
    // default resolver is case-insensitive, so they must bind to the
    // existing target columns: update takes them, insert consumes them,
    // and schema evolution must NOT mint duplicate near-miss columns.
    val src = Seq((2L, "b2", 22L), (3L, "c", 30L)).toDF("k", "V", "BAL")
    val r = DeltaDml.mergeClauses(spark, path, src, Seq("k"),
      matched = Seq(DeltaDml.MatchedClause(WhenMatched.UpdateAll)),
      schemaEvolution = true)
    assert(r.matchedRows == 1 && r.insertedRows == 1)
    val snap = DeltaLog.forTable(spark, path).snapshot(None)
    assert(snap.schema.fieldNames.toSeq == Seq("k", "v", "bal"),
      s"case variants must not evolve new columns: ${snap.schema.fieldNames.mkString(",")}")
    val out = GraftDelta.readDelta(spark, path)
      .select($"k", $"v", $"bal").as[(Long, String, Long)].collect().toSet
    assert(out == Set((1L, "a", 10L), (2L, "b2", 22L), (3L, "c", 30L)), out.toString)
    // and without evolution: a case-variant full source is a legal
    // UpdateAll/insert source (the exact-case require used to reject it)
    val src2 = Seq((1L, "a9", 99L)).toDF("K", "V", "BAL")
    val r2 = DeltaDml.mergeClauses(spark, path, src2, Seq("k"),
      matched = Seq(DeltaDml.MatchedClause(WhenMatched.UpdateAll)))
    assert(r2.matchedRows == 1)
    assert(GraftDelta.readDelta(spark, path).filter($"k" === 1L)
      .select($"bal").as[Long].head() == 99L)
  }
}
