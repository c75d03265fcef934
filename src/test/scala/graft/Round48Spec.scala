package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotCatalog, SnapshotTable}

/** Round-48 wave: WRITE-TIME CHANGE CAPTURE for position-delta commits
  * — the pre-images a physical-ordinal delete can never recover after
  * the fact are persisted as a per-commit change sidecar while the
  * rows are still addressable, and `changeFeedIncremental` serves
  * delete pre-images from it at O(delta) across deletePositions / SQL
  * position-delta DML commits. Pins exact pre-images, the
  * non-resurrection rule under trickle sidecars, the state-feed
  * cross-check, the opt-in posture (no declaration, no capture, loud
  * refusal naming the cure; ALTER enables mid-life), and vacuum
  * pinning the capture sidecar of retained commits.
  */
class Round48Spec extends AnyFunSuite {
  import TestSpark._

  private def freshCatalog(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_snap48").toString
    val cat = "g48" + wh.takeRight(8).replaceAll("[^0-9a-zA-Z]", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  test("deletePositions captures exact pre-images; the incremental feed " +
      "crosses the commit, and a prior trickle sidecar's rows never " +
      "resurface as later pre-images") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v STRING) " +
      "TBLPROPERTIES('statsColumns'='k','deleteMode'='positions','changeCapture'='preimages')")
    val table = s"$wh/t"
    spark.range(10).select(col("id").as("k"), concat(lit("r"), col("id")).as("v"))
      .coalesce(1).createOrReplaceTempView("g48_a")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM g48_a")
    def posOf(keys: Long*) = spark.table(s"$cat.t")
      .where(col("k").isin(keys: _*)).select("_file", "_pos")
    SnapshotTable.deletePositions(posOf(1L, 3L), table) // v3
    SnapshotTable.deletePositions(posOf(5L), table)     // v4 — same file!
    assert(SnapshotTable.manifest(table, 3L).extra.contains("changepre") &&
      SnapshotTable.manifest(table, 4L).extra.contains("changepre"),
      "each position commit records its write-time capture")
    val feed = SnapshotTable.changeFeedIncremental(spark, table, 2L, 4L, "k")
      .select("_commit_version", "_change_type", "k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._1, t._3))
    assert(feed.toSeq === Seq(
      (3L, "delete", 1L, "r1"), (3L, "delete", 3L, "r3"),
      (4L, "delete", 5L, "r5")),
      "exact pre-images per commit; v4 must NOT resurface v3's rows")
    // state-based cross-check, commit by commit
    (3L to 4L).foreach { v =>
      val inc = SnapshotTable.changeFeedIncremental(spark, table, v - 1, v, "k")
        .drop("_commit_version")
      val st = SnapshotTable.changeFeed(spark, table, v - 1, v, "k")
      assert(inc.exceptAll(st).isEmpty && st.exceptAll(inc).isEmpty,
        s"state feed and incremental feed must agree at commit $v")
    }
  }

  test("SQL position-delta DML (UPDATE then row-level DELETE): the feed " +
      "serves update pre/post pairs and delete pre-images across the " +
      "chain, agreeing with the state diff") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, price DOUBLE) " +
      "TBLPROPERTIES('statsColumns'='k','deleteMode'='positions','changeCapture'='preimages')")
    val table = s"$wh/t"
    spark.range(20).select(col("id").as("k"), (col("id") * 1.0).as("price"))
      .createOrReplaceTempView("g48_b")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM g48_b")
    spark.sql(s"UPDATE $cat.t SET price = price + 100.0 WHERE k < 5")  // v3
    spark.sql(s"DELETE FROM $cat.t WHERE k % 13 = 7")                  // v4
    val m3 = SnapshotTable.manifest(table, 3L)
    assert(m3.extra.get("mode").contains("merge") && m3.extra.contains("changepre"))
    val feed = SnapshotTable.changeFeedIncremental(spark, table, 2L, 4L, "k")
    val byType = feed.groupBy("_commit_version", "_change_type").count()
      .collect().map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
    assert(byType === Map(
      ((3L, "update_preimage"), 5L), ((3L, "update_postimage"), 5L),
      ((4L, "delete"), 1L)))
    assert(feed.where(col("_change_type") === "update_postimage")
      .agg(sum("price")).collect()(0).getDouble(0) === (0 until 5).map(_ + 100.0).sum)
    assert(feed.where(col("_change_type") === "delete")
      .select("k").collect().map(_.getLong(0)).toSeq === Seq(7L))
    (3L to 4L).foreach { v =>
      val inc = SnapshotTable.changeFeedIncremental(spark, table, v - 1, v, "k")
        .drop("_commit_version")
      val st = SnapshotTable.changeFeed(spark, table, v - 1, v, "k")
      assert(inc.exceptAll(st).isEmpty && st.exceptAll(inc).isEmpty,
        s"state feed and incremental feed must agree at commit $v")
    }
  }

  test("the incremental feed crosses add-at-end schema commits: the " +
      "evolve commit feeds zero changes, parent-side pre-images " +
      "null-fill the added column, inserts carry it") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v STRING) " +
      "TBLPROPERTIES('statsColumns'='k','morKey'='k')")
    val table = s"$wh/t"
    spark.range(4).select(col("id").as("k"), concat(lit("a"), col("id")).as("v"))
      .createOrReplaceTempView("g48_e")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM g48_e")          // v2
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMNS (extra BIGINT)")   // v3
    spark.range(4, 6).select(col("id").as("k"),
        concat(lit("a"), col("id")).as("v"), (col("id") * 7).as("extra"))
      .createOrReplaceTempView("g48_e2")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM g48_e2")         // v4
    import spark.implicits._
    SnapshotTable.deleteKeys(Seq(2L).toDF("k"), table, "k")       // v5
    val feed = SnapshotTable.changeFeedIncremental(spark, table, 2L, 5L, "k")
      .select("_commit_version", "_change_type", "k", "v", "extra").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3),
        if (r.isNullAt(4)) -1L else r.getLong(4)))
      .sortBy(t => (t._1, t._3))
    assert(feed.toSeq === Seq(
      (4L, "insert", 4L, "a4", 28L), (4L, "insert", 5L, "a5", 35L),
      (5L, "delete", 2L, "a2", -1L)),
      "the evolve commit feeds nothing; the pre-evolution pre-image " +
        "null-fills the added column")
  }

  test("the catalog-addressed changes table serves a position-delta " +
      "commit from the write-time capture") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES('statsColumns'='k','deleteMode'='positions','changeCapture'='preimages')")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id * 10 FROM range(30)")
    spark.sql(s"DELETE FROM $cat.t WHERE k % 13 = 5") // v3: position delta
    val rows = spark.read
      .option("fromVersion", "2").option("toVersion", "3").option("key", "k")
      .table(s"$cat.t.changes")
      .select("_change_type", "k").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted
    assert(rows.toSeq === Seq(("delete", 5L), ("delete", 18L)),
      "the changes table rides the same capture — no refusal, exact pre-images")
  }

  test("provenance reads compose with an outstanding equality-DV chain " +
      "(broadcast AND scoped): raw ordinals survive, dead rows drop, " +
      "and a stacked position batch lands exactly") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES('statsColumns'='k','morKey'='k')")
    val table = s"$wh/t"
    spark.range(10).coalesce(1)
      .select(col("id").as("k"), (col("id") * 10).as("v"))
      .createOrReplaceTempView("g48_p")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM g48_p")
    import spark.implicits._
    SnapshotTable.deleteKeys(Seq(3L).toDF("k"), table, "k")
    // the refusal is gone: `_pos` serves RAW ordinals over the
    // unfiltered stream (the gap at the dead row proves it), the DV
    // filter drops dead rows OUTSIDE the append
    def prov() = spark.table(s"$cat.t").select("_file", "_pos", "k")
      .collect().map(r => (r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(prov() === (0L until 10L).filterNot(_ == 3L).map(k => (k, k)),
      "raw ordinals with a gap at the equality-deleted row")
    val provDf = spark.table(s"$cat.t").select("_file", "_pos", "k")
    provDf.collect()
    assert(graft.Stage.deleteAttachments(provDf) === 1L,
      "the provenance read applies the DV through the per-file reader")
    // the unlocked workflow: a position batch STACKED on the eq chain
    SnapshotTable.deletePositions(
      spark.table(s"$cat.t").where(col("k") === 7).select("_file", "_pos"), table)
    assert(spark.table(s"$cat.t").select("k").collect().map(_.getLong(0)).sorted
      .toSeq === (0L until 10L).filterNot(k => k == 3L || k == 7L),
      "equality and position deletes compose through the provenance scan")
  }

  test("capture is OPT-IN (the Delta-CDF posture): a table without the " +
      "declaration records nothing and the feed refuses naming the " +
      "cure; ALTER enables it mid-life; vacuum pins retained captures") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v STRING) " +
      "TBLPROPERTIES('deleteMode'='positions')")
    val table = s"$wh/t"
    spark.range(6).select(col("id").as("k"), concat(lit("x"), col("id")).as("v"))
      .coalesce(1).createOrReplaceTempView("g48_c")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM g48_c")
    SnapshotTable.deletePositions(
      spark.table(s"$cat.t").where(col("k") === 2).select("_file", "_pos"), table)
    assert(!SnapshotTable.manifest(table, 3L).extra.contains("changepre"),
      "no declaration, no capture pass — the cost is never silent")
    val e = intercept[Exception] {
      SnapshotTable.changeFeedIncremental(spark, table, 2L, 3L, "k").collect()
    }
    assert(e.getMessage.contains("changeCapture"))
    // enable mid-life: later commits capture, and the declaration
    // carries across data commits (DeclKeys)
    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('changeCapture'='preimages')")
    SnapshotTable.deletePositions(
      spark.table(s"$cat.t").where(col("k") === 4).select("_file", "_pos"), table)
    assert(SnapshotTable.manifest(table, 5L).extra.contains("changepre"))
    assert(SnapshotTable.changeFeedIncremental(spark, table, 4L, 5L, "k")
      .select("k").collect().map(_.getLong(0)).toSeq === Seq(4L))
    spark.sql(s"INSERT INTO $cat.t SELECT k + 100, v FROM g48_c")
    assert(SnapshotTable.manifest(table, 6L).extra.get("changecapture")
      .contains("preimages"))
    // vacuum: a capture-bearing table retains its sidecars for the
    // kept window and the feed still serves after reclamation
    val (cat2, wh2) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat2.t (k BIGINT NOT NULL, v STRING) " +
      "TBLPROPERTIES('deleteMode'='positions','changeCapture'='preimages')")
    val table2 = s"$wh2/t"
    spark.sql(s"INSERT INTO $cat2.t SELECT * FROM g48_c")
    SnapshotTable.deletePositions(
      spark.table(s"$cat2.t").where(col("k") === 1).select("_file", "_pos"), table2)
    SnapshotTable.vacuum(table2, retainLast = 2)
    val feed = SnapshotTable.changeFeedIncremental(spark, table2, 2L, 3L, "k")
      .select("_change_type", "k").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(feed.toSeq === Seq(("delete", 1L)),
      "vacuum must pin the retained commit's capture sidecar")
  }
}
