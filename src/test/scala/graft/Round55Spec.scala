package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotCatalog, SnapshotTable}

/** Round-55 wave: one commit tail for every snapshot commit. Each
  * commit names the parent manifest it was planned on and what it
  * changes; the table's declarations and delete state carry forward in
  * one place, so the API writers record the declared stats and honour
  * the declared row cap, and a copy-on-write merge keeps every
  * declaration — the rename log included — and the API merges publish
  * under the one extend-only schema rule.
  */
class Round55Spec extends AnyFunSuite {
  import TestSpark._

  private def freshCatalog(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_snap55").toString
    val cat = "g55" + wh.takeRight(8).replaceAll("[^0-9a-zA-Z]", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  private def head(table: String): SnapshotTable.Manifest =
    SnapshotTable.manifest(table, SnapshotTable.currentVersion(table))

  test("API writes honour the declared statsColumns and maxRowsPerFile: " +
      "append, copy-on-write merge and merge-on-read cut capped files with k stats") {
    val (cat, wh) = freshCatalog()
    val table = s"$wh/t"
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES('statsColumns'='k', 'maxRowsPerFile'='100')")
    def rows(from: Long, v: Long) =
      spark.range(from, from + 300).coalesce(1).select(col("id").as("k"), lit(v).as("v"))
    val arms: Seq[(String, () => Long)] = Seq(
      "append" -> (() => SnapshotTable.commit(rows(0, 1), table, append = true)),
      "merge" -> (() => SnapshotTable.merge(rows(0, 2), table, "k")._3),
      "mergeMoR" -> (() => SnapshotTable.mergeMoR(rows(100, 3), table, "k")._3))
    for ((arm, op) <- arms) {
      val before = head(table).files.map(_.path).toSet
      val v = op()
      val written = SnapshotTable.manifest(table, v).files.filterNot(f => before(f.path))
      assert(written.size >= 3, s"$arm: 300 rows under a 100-row cap, got ${written.size} file(s)")
      assert(written.forall(f => f.stats.contains("k") &&
        f.nstats.get("k").exists(_._2 <= 100L)),
        s"$arm: every written file carries k stats and at most 100 rows: " +
          written.map(_.line).mkString("; "))
    }
    val got = spark.table(s"$cat.t").select("k", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got === (0L until 400L).map(k => (k, if (k < 100L) 2L else 3L)))
  }

  test("a copy-on-write merge keeps the table's declarations: a following " +
      "UPDATE still plans merge-on-read") {
    val (cat, wh) = freshCatalog()
    val table = s"$wh/t"
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES('statsColumns'='k', 'morKey'='k', 'maxRowsPerFile'='1000')")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id * 10 FROM range(2000)")
    val declared = head(table).extra.view
      .filterKeys(Set("statscols", "morkey", "maxrowsperfile")).toMap
    assert(declared.size === 3, "set-up declares all three")
    SnapshotTable.merge(
      spark.range(5).select(col("id").as("k"), lit(-5L).as("v")), table, "k")
    val m = head(table)
    assert(m.extra.get("mode").contains("merge"))
    assert(m.extra.view.filterKeys(declared.keySet).toMap === declared,
      "every declaration must survive the merge")
    spark.sql(s"UPDATE $cat.t SET v = -1 WHERE k = 7")
    val u = head(table)
    assert(m.files.map(_.path).toSet.subsetOf(u.files.map(_.path).toSet),
      "a merge-on-read UPDATE rewrites no data file")
    assert(u.extra.contains("dvfiles"), "the UPDATE records a deletion vector")
    val rows = spark.table(s"$cat.t").select("k", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows === (0L until 2000L).map(k =>
      (k, if (k < 5L) -5L else if (k == 7L) -1L else k * 10)))
  }

  test("a copy-on-write merge after a rename keeps the rename log: files " +
      "it does not touch still read under their written names") {
    val (_, wh) = freshCatalog()
    val table = s"$wh/r"
    SnapshotTable.commit(
      spark.range(8).coalesce(1).select(col("id").as("k"), (col("id") * 10).as("v")),
      table, append = false, statsColumns = Seq("k"))
    SnapshotTable.renameColumn(table, "v", "w")
    // key 11 misses the base file's [0, 7] range: the file rides untouched
    val (rewritten, _, v) = SnapshotTable.merge(
      spark.range(11, 12).select(col("id").as("k"), lit(949L).as("w")), table, "k")
    assert(rewritten === 0)
    assert(SnapshotTable.renamesOf(SnapshotTable.manifest(table, v)).nonEmpty,
      "the merge commit must carry the rename log")
    val rows = SnapshotTable.read(spark, table).select("k", "w").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).sorted.toSeq
    assert(rows === (0L until 8L).map(k => (k, Some(k * 10))) :+ ((11L, Some(949L))))
  }

  test("a merge-on-read upsert of a non-null batch keeps a nullable column " +
      "nullable: the NULLs carried files hold still read as NULL") {
    val (cat, wh) = freshCatalog()
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, NULL), (2, 20)")
    SnapshotTable.mergeMoR(Seq((3L, 30L)).toDF("k", "v"), s"$wh/t", "k")
    assert(head(s"$wh/t").schema("v").nullable)
    val rows = spark.table(s"$cat.t").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).sorted.toSeq
    assert(rows === Seq((1L, None), (2L, Some(20L)), (3L, Some(30L))))
  }
}
