package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SnapshotTable

/** Round-51 wave, now on the one batch read path: a DV read over files
  * of many commit seqs plans ONE graft-snapshot V2 scan — no per-seq
  * union, no seq-attach join — and the reader scopes each deletion
  * vector by the file's commit seq (a post-image survives its own
  * deletion vector; a re-append after a deletion vector survives).
  */
class Round51Spec extends AnyFunSuite {
  import TestSpark._

  private def assertOneScan(df: org.apache.spark.sql.DataFrame): Unit =
    PlanCheck.snapshotScanShape(df).foreach(fail(_))

  test("multi-seq DV read: ONE data scan regardless of commit count, " +
      "rows identical to the per-seq semantics") {
    val root = java.nio.file.Files.createTempDirectory("graft51_a").toString
    val table = s"$root/t"
    import spark.implicits._
    SnapshotTable.commit(
      spark.range(8).coalesce(1).select(col("id").as("k"), (col("id") * 10).as("v")),
      table, append = false, statsColumns = Seq("k"))                    // seq 0
    SnapshotTable.commit(
      Seq((100L, 1000L), (101L, 1010L)).toDF("k", "v").coalesce(1),
      table, append = true)                                              // seq ~2
    SnapshotTable.mergeMoR(Seq((3L, 999L), (100L, 888L)).toDF("k", "v"),
      table, "k")                                                        // DV + post-images
    SnapshotTable.commit(
      Seq((3L, 777L)).toDF("k", "v").coalesce(1), table, append = true)  // re-append AFTER DV
    val df = SnapshotTable.read(spark, table)
    // seq-scoped semantics: the DV (stamped between) kills the ORIGINAL
    // k=3 and k=100 rows; the mergeMoR post-images survive their own
    // DV; the later re-appended k=3 row survives too.
    val got = df.select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    val want = ((0L until 8L).filterNot(_ == 3L).map(k => (k, k * 10)) ++
      Seq((3L, 999L), (3L, 777L), (100L, 888L), (101L, 1010L))).sorted
    assert(got === want)
    // the structural pin: >= 3 distinct live seqs, still exactly ONE
    // data scan and no join
    val m = SnapshotTable.manifest(table, SnapshotTable.currentVersion(table))
    assert(m.files.map(f => math.max(f.seq, 0L)).distinct.size >= 3,
      "fixture must span several commit seqs or the pin is vacuous")
    assertOneScan(df)
  }

  test("single-seq DV table keeps the constant-tag path: one scan, " +
      "no broadcast seq attach") {
    val root = java.nio.file.Files.createTempDirectory("graft51_b").toString
    val table = s"$root/t"
    import spark.implicits._
    SnapshotTable.commit(
      spark.range(6).coalesce(1).select(col("id").as("k"), (col("id") * 10).as("v")),
      table, append = false, statsColumns = Seq("k"))
    SnapshotTable.deleteKeys(Seq(2L).toDF("k"), table, "k")
    val df = SnapshotTable.read(spark, table)
    assert(df.select("k").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(0L, 1L, 3L, 4L, 5L))
    assertOneScan(df)
  }

  test("rename epoch x multi-seq: one scan reads each epoch under its " +
      "names and the DV still scopes by seq") {
    val root = java.nio.file.Files.createTempDirectory("graft51_c").toString
    val table = s"$root/t"
    import spark.implicits._
    SnapshotTable.commit(
      spark.range(5).coalesce(1).select(col("id").as("k"), (col("id") * 10).as("w")),
      table, append = false, statsColumns = Seq("k"))           // epoch 0, seq 0
    SnapshotTable.renameColumn(table, "w", "v")                 // metadata-only
    SnapshotTable.commit(
      Seq((50L, 500L)).toDF("k", "v").coalesce(1), table, append = true) // epoch 1
    SnapshotTable.mergeMoR(Seq((1L, 111L)).toDF("k", "v"), table, "k")
    val df = SnapshotTable.read(spark, table)
    val got = df.select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    val want = (Seq(0L, 2L, 3L, 4L).map(k => (k, k * 10)) ++
      Seq((1L, 111L), (50L, 500L))).sorted
    assert(got === want)
    assertOneScan(df)
  }
}
