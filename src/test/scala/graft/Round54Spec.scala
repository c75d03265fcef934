package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotCatalog, SnapshotTable}

/** Round-54 wave: one write layout for every snapshot writer. Every
  * compaction entry point rewrites under the layout and declarations of
  * the manifest it compacts, so a maintenance pass can no longer erase
  * a table's declared stats, merge-on-read key, row cap or identity
  * cluster key.
  */
class Round54Spec extends AnyFunSuite {
  import TestSpark._

  private def freshCatalog(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_snap54").toString
    val cat = "g54" + wh.takeRight(8).replaceAll("[^0-9a-zA-Z]", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  private def head(table: String): SnapshotTable.Manifest =
    SnapshotTable.manifest(table, SnapshotTable.currentVersion(table))

  test("compaction keeps the table's declarations: a following UPDATE " +
      "still plans merge-on-read") {
    val arms: Seq[(String, (String, String) => Unit)] = Seq(
      "CALL compact" -> ((cat, _) => spark.sql(s"CALL $cat.system.compact('t')").collect()),
      "compactSnapshot" -> ((_, table) => SnapshotTable.compactSnapshot(spark, table)),
      "compactZOrder(k, v)" -> ((_, table) =>
        SnapshotTable.compactZOrder(spark, table, Seq("k", "v"))))
    for ((arm, compact) <- arms) {
      val (cat, wh) = freshCatalog()
      val table = s"$wh/t"
      spark.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v BIGINT) " +
        "TBLPROPERTIES('statsColumns'='k', 'morKey'='k', 'maxRowsPerFile'='1000')")
      for (i <- 0 until 3)
        spark.sql(s"INSERT INTO $cat.t SELECT id, id * 10 FROM range(${i * 1000}, ${i * 1000 + 1000})")
      val declared = head(table).extra.view
        .filterKeys(Set("statscols", "morkey", "maxrowsperfile")).toMap
      assert(declared.size === 3, s"$arm: set-up declares all three")
      compact(cat, table)
      val m = head(table)
      assert(m.extra.get("mode").contains("overwrite"), s"$arm: one full rewrite")
      assert(m.extra.view.filterKeys(declared.keySet).toMap === declared,
        s"$arm: every declaration must survive compaction")
      assert(m.files.forall(_.stats.contains("k")), s"$arm: declared stats recorded")
      assert(m.files.forall(_.nstats.get("k").exists(_._2 <= 1000L)),
        s"$arm: maxRowsPerFile caps every rewritten file")
      spark.sql(s"UPDATE $cat.t SET v = -1 WHERE k = 3")
      val u = head(table)
      assert(m.files.map(_.path).toSet.subsetOf(u.files.map(_.path).toSet),
        s"$arm: a merge-on-read UPDATE rewrites no data file")
      assert(u.extra.contains("dvfiles"), s"$arm: the UPDATE records a deletion vector")
      val rows = spark.table(s"$cat.t").select("k", "v").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(rows === (0L until 3000L).map(k => (k, if (k == 3L) -1L else k * 10)), arm)
    }
  }

  test("compactSnapshot keeps an identity cluster key: one key per file") {
    val table = java.nio.file.Files.createTempDirectory("graft54_c").toString + "/t"
    for (i <- 0 until 3)
      SnapshotTable.commit(
        spark.range(i * 40, i * 40 + 40).select(col("id").as("k"), (col("id") % 4).as("c")),
        table, append = i > 0, clusterBy = Some("c"))
    val before = head(table)
    assert(SnapshotTable.clusterKeyOf(before) === Some("c"))
    val (nBefore, v) = SnapshotTable.compactSnapshot(spark, table)
    val m = SnapshotTable.manifest(table, v)
    assert(nBefore === before.files.size && m.files.size === 4)
    assert(SnapshotTable.clusterKeyOf(m) === Some("c"))
    assert(m.files.forall(_.stats.get("c").exists { case (lo, hi) => lo == hi }),
      "every compacted file must hold exactly one cluster key")
    assert(SnapshotTable.read(spark, table).select("k").collect().map(_.getLong(0))
      .sorted.toSeq === (0L until 120L))
  }
}
