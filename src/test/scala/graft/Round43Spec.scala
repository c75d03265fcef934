package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotCatalog, SnapshotTable}

/** Round-43 wave: the DECLARATION-CARRY sweep — three metadata-only
  * paths (rollback, branch fork/publish, segment rewrite) silently
  * dropped the table's declarations (layout, statsColumns, morKey,
  * generation history) because their extras were hand-assembled before
  * the unified DeclKeys list existed. A rollback of a bucketed table
  * demoted it to unlaid-out; a WAP publish dropped main's layout; a
  * manifest maintenance pass dropped everything. All three now carry
  * every DeclKeys declaration and are pinned here.
  */
class Round43Spec extends AnyFunSuite {
  import TestSpark._

  private def freshCatalog(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_snap43").toString
    val cat = "g43" + wh.takeRight(8).replaceAll("[^0-9a-zA-Z]", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  test("rollback restores the TARGET's declarations — including across a " +
      "spec evolution, where it restores the OLD spec exactly") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (ts TIMESTAMP NOT NULL, v BIGINT) " +
      "PARTITIONED BY (days(ts)) TBLPROPERTIES('statsColumns'='v')")
    val table = s"$wh/t"
    spark.range(48).select(
        expr("timestamp_micros(CAST(1704067200000000 + id * 3600000000 AS BIGINT))")
          .as("ts"), col("id").as("v"))
      .createOrReplaceTempView("g43_src")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM g43_src")
    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('evolveLayout'='hours(ts)')")
    val v = SnapshotTable.rollback(table, 2L)
    val m = SnapshotTable.manifest(table, v)
    assert(SnapshotTable.temporalSpecOf(m) === Some(("ts", "days")),
      "rollback across the evolution must restore the DAYS spec")
    assert(SnapshotTable.layoutSinceOf(m) === 0L &&
      SnapshotTable.layoutHistOf(m).isEmpty,
      "the generation markers restore to the target's state")
    assert(SnapshotTable.statsColumnsOf(m) === Seq("v"),
      "statsColumns must survive the rollback")
    assert(spark.table(s"$cat.t").count() === 48)
    // the restored layout is LIVE: a one-day read prunes again
    val day0 = spark.table(s"$cat.t")
      .where(col("ts") < expr("timestamp'2024-01-02 00:00:00'"))
    assert(day0.count() === 24)
    val planned = graft.Stage.plannedFiles(day0.queryExecution.executedPlan)
    assert(planned === 1, s"the restored days layout must prune, got $planned")
  }

  test("a WAP branch inherits the table declarations at fork and returns " +
      "them at publish — a bucketed table stays bucketed through the gate") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES('statsColumns'='k')")
    val table = s"$wh/t"
    spark.range(100).select(col("id").as("k"), col("id").as("v"))
      .createOrReplaceTempView("g43_wap")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM g43_wap")
    SnapshotTable.createBranch(table, "audit")
    val bp = SnapshotTable.branchPath(table, "audit")
    val bm = SnapshotTable.manifest(bp, 1L)
    assert(SnapshotTable.bucketSpecOf(bm) === Some(("k", 4)),
      "the fork must inherit the bucket declaration")
    assert(SnapshotTable.statsColumnsOf(bm) === Seq("k"))
    import spark.implicits._
    SnapshotTable.commit(Seq((100L, 100L), (101L, 101L)).toDF("k", "v"),
      bp, append = true)
    SnapshotTable.publishBranch(table, "audit")
    val m = SnapshotTable.manifest(table, SnapshotTable.currentVersion(table))
    assert(SnapshotTable.bucketSpecOf(m) === Some(("k", 4)),
      "the publish must return the declarations to main")
    assert(spark.table(s"$cat.t").count() === 102)
  }

  test("rewriteSegments (manifest maintenance) carries the declarations") {
    val (_, wh) = freshCatalog()
    val table = s"$wh/t"
    import spark.implicits._
    // API-built table with decls via commit extras: use a catalog table
    // instead — three small appends fragment the manifest
    val cat2 = "g43b" + wh.takeRight(6).replaceAll("[^0-9a-zA-Z]", "")
    spark.conf.set(s"spark.sql.catalog.$cat2", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat2.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat2.s (k BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES('statsColumns'='k', 'morKey'='k', 'deleteMode'='positions')")
    (0 until 3).foreach { i =>
      Seq((i.toLong, i.toLong)).toDF("k", "v").createOrReplaceTempView(s"g43_rs_$i")
      spark.sql(s"INSERT INTO $cat2.s SELECT * FROM g43_rs_$i")
    }
    val ts = s"$wh/s"
    val (before, after, v) = SnapshotTable.rewriteSegments(ts, smallerThan = 100)
    assert(after < before)
    val m = SnapshotTable.manifest(ts, v)
    assert(SnapshotTable.statsColumnsOf(m) === Seq("k") &&
      SnapshotTable.morKeyOf(m) === Some("k") &&
      SnapshotTable.deleteModeOf(m) === Some("positions"),
      "manifest maintenance must carry every declaration")
    assert(spark.table(s"$cat2.s").count() === 3)
  }
}
