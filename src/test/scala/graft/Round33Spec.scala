package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotCatalog, SnapshotTable}

/** Round-33 wave: per-file deletion-vector application — the scan
  * loads nothing driver-side: each file attaches, from manifest seq +
  * key ranges alone, only the sidecars that can hit it, and its task
  * applies them as a sorted array / hash set. This spec pins the answer
  * against rows computed from the source, sequence scoping (MoR
  * post-images survive their own DV), string keys, and range-bounded
  * attachment.
  */
class Round33Spec extends AnyFunSuite {
  import TestSpark._

  private def freshCatalog(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_snap33").toString
    val cat = "g33" + wh.takeRight(8).replaceAll("[^0-9a-zA-Z]", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  /** Runs `df` and returns its scan's delete attachments. */
  private def attached(df: DataFrame): Long = {
    df.collect()
    Stage.deleteAttachments(df)
  }

  test("the per-file path answers exactly the source minus the deleted " +
      "keys, and every file that lost keys attaches") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES('morKey'='k', 'statsColumns'='k')")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id * 10 FROM range(200)")
    spark.sql(s"DELETE FROM $cat.t WHERE k % 4 = 1") // 50 DV keys
    val m = SnapshotTable.manifest(s"$wh/t", SnapshotTable.currentVersion(s"$wh/t"))
    val df = spark.table(s"$cat.t")
    // every file lost keys, so each attaches at least one sidecar
    assert(attached(df) >= m.files.size.toLong)
    val want = (0L until 200L).filterNot(_ % 4 == 1).map(k => (k, k * 10))
    assert(df.orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === want)
  }

  test("sequence scoping under the scoped path: MoR post-images survive " +
      "the DV that kills their pre-images") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES('morKey'='k', 'statsColumns'='k')")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id FROM range(100)")
    spark.sql(s"UPDATE $cat.t SET v = v + 1000 WHERE k % 10 = 3") // 10 keys
    spark.sql(s"DELETE FROM $cat.t WHERE k % 10 = 7")             // 10 more
    val df = spark.table(s"$cat.t")
    assert(attached(df) > 0)
    assert(df.count() === 90)
    val updated = df.filter(col("k") % 10 === 3).orderBy("k")
      .select("v").collect().map(_.getLong(0)).toSeq
    assert(updated === (3L until 100L by 10L).map(_ + 1000L),
      "post-images must serve exactly once under the per-file filter")
    assert(df.filter(col("k") % 10 === 7).count() === 0)
  }

  test("string delete keys ride the scoped path's hash set") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (name STRING NOT NULL, v BIGINT) " +
      "TBLPROPERTIES('statsColumns'='name')")
    spark.sql(s"INSERT INTO $cat.t SELECT concat('key-', id), id FROM range(100)")
    SnapshotTable.deleteKeys(
      spark.range(20).select(concat(lit("key-"), col("id")).as("name")),
      s"$wh/t", "name")
    val df = spark.table(s"$cat.t")
    assert(attached(df) > 0)
    assert(df.count() === 80)
    assert(df.filter(col("name") === "key-5").count() === 0)
    assert(df.filter(col("name") === "key-50").count() === 1)
  }

  test("manifest-range pruning bounds the per-file sidecar loads: a file " +
      "outside every DV range attaches zero sidecars") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES('morKey'='k', 'statsColumns'='k')")
    // two disjoint key regions land in separate files (range-clustered)
    SnapshotTable.commit(
      spark.range(200).select(col("id").as("k"), (col("id") * 10).as("v"))
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      s"$wh/t", append = false, statsColumns = Seq("k"),
      extra = Map("morkey" -> "k"))
    spark.sql(s"DELETE FROM $cat.t WHERE k < 20") // DV range [0, 19]
    // only the first file's key range meets the sidecar's
    assert(attached(spark.table(s"$cat.t")) === 1L)
    // compaction still materializes through the same read
    assert(spark.table(s"$cat.t").count() === 180)
    val (_, v) = SnapshotTable.compactSnapshot(spark, s"$wh/t")
    val m = SnapshotTable.manifest(s"$wh/t", v)
    assert(m.extra.get("dvfiles").forall(_.isEmpty))
    assert(spark.table(s"$cat.t").count() === 180)
  }
}
