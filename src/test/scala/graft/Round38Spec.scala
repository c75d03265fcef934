package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotCatalog, SnapshotTable}

/** Round-38 wave: DELETION-VECTOR CONSOLIDATION
  * (src_snapshot_dv_consolidate carries the oracled flow). The
  * maintenance mid-point between trickle-CDC reads and full
  * compaction: the outstanding sidecar chain rewrites into one
  * deduped, range-tagged sidecar per EFFECTIVE sequence (key → max
  * seq), zero data files touched. This spec pins the effective-seq
  * semantics (a twice-updated key's LATEST post-image survives, every
  * earlier image dies), result identity before/after, the change feed
  * emitting zero rows for the dvrewrite commit, and the scoped reader
  * riding the consolidated ranges.
  */
class Round38Spec extends AnyFunSuite {
  import TestSpark._

  private def freshCatalog(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_snap38").toString
    val cat = "g38" + wh.takeRight(8).replaceAll("[^0-9a-zA-Z]", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  test("consolidation dedupes the chain and preserves results exactly; " +
      "every new ref carries count + range") {
    val (cat, wh) = freshCatalog()
    val table = s"$wh/t"
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES('morKey'='k', 'statsColumns'='k')")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id FROM range(200)")
    spark.sql(s"UPDATE $cat.t SET v = v + 1000 WHERE k % 10 = 3")
    spark.sql(s"UPDATE $cat.t SET v = v + 1000 WHERE k % 10 = 4")
    spark.sql(s"DELETE FROM $cat.t WHERE k % 10 = 7")
    val want = spark.table(s"$cat.t").orderBy("k").collect().toSeq
    val mBefore = SnapshotTable.manifest(table, SnapshotTable.currentVersion(table))
    val (before, after, keys) = SnapshotTable.consolidateDeleteVectors(spark, table)
    assert(after < before, s"chain must shrink ($before -> $after)")
    assert(keys === 60L, "20 + 20 update pre-images + 20 deletes, all distinct")
    val mAfter = SnapshotTable.manifest(table, SnapshotTable.currentVersion(table))
    assert(mAfter.extra.get("mode").contains("dvrewrite"))
    assert(mAfter.files.map(_.path) === mBefore.files.map(_.path),
      "consolidation must touch ZERO data files")
    val refs = SnapshotTable.dvRefs(mAfter)
    assert(refs.size === after)
    assert(refs.forall(r => r.count > 0 && (r.rangeL.isDefined || r.rangeS.isDefined)),
      "every consolidated ref records its count and key range")
    assert(spark.table(s"$cat.t").orderBy("k").collect().toSeq === want,
      "the effective delete state must be identical")
  }

  test("effective-seq semantics: a twice-updated key serves its LATEST " +
      "post-image once, all earlier images dead") {
    val (cat, wh) = freshCatalog()
    val table = s"$wh/t"
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES('morKey'='k', 'statsColumns'='k')")
    spark.sql(s"INSERT INTO $cat.t SELECT id, 0 FROM range(10)")
    spark.sql(s"UPDATE $cat.t SET v = 1 WHERE k = 5") // DV seq 3 + post-image
    spark.sql(s"UPDATE $cat.t SET v = 2 WHERE k = 5") // DV seq 4 + post-image
    SnapshotTable.consolidateDeleteVectors(spark, table)
    val got = spark.table(s"$cat.t").filter(col("k") === 5)
      .select("v").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(2L),
      "only the seq-4 post-image may survive the consolidated max-seq rule")
    assert(spark.table(s"$cat.t").count() === 10)
  }

  test("the change feed emits ZERO rows for the dvrewrite commit; commits " +
      "around it feed unchanged") {
    val (cat, wh) = freshCatalog()
    val table = s"$wh/t"
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES('morKey'='k', 'statsColumns'='k')")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id FROM range(50)")   // v2
    spark.sql(s"DELETE FROM $cat.t WHERE k < 5")                     // v3
    SnapshotTable.consolidateDeleteVectors(spark, table)             // v4
    spark.sql(s"UPDATE $cat.t SET v = v + 1 WHERE k = 9")            // v5
    val feed = SnapshotTable.changeFeedIncremental(spark, table, 2L, 5L, "k")
    val byVersion = feed.groupBy("_commit_version")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byVersion.get(3L).contains(5L), "the DELETE feeds 5 delete rows")
    assert(!byVersion.contains(4L), "the dvrewrite commit feeds ZERO rows")
    assert(byVersion.get(5L).contains(2L), "the UPDATE feeds pre+post images")
  }

  test("position-delete sidecars consolidate too: stacked batches dedupe " +
      "into ONE sidecar, results identical, eq-DV state rides verbatim") {
    val (cat, wh) = freshCatalog()
    val table = s"$wh/t"
    SnapshotTable.commit(
      spark.range(30).orderBy("id").coalesce(1).select(col("id").as("k")),
      table, append = false, statsColumns = Seq("k"))
    val file = SnapshotTable.manifest(table, 1L).files.head.path
    import spark.implicits._
    SnapshotTable.deletePositions(
      Seq(0L, 1L).toDF("_pos").withColumn("_file", lit(file)), table)
    SnapshotTable.deletePositions(
      Seq(1L, 2L, 3L).toDF("_pos").withColumn("_file", lit(file)), table)
    SnapshotTable.deleteKeys(Seq(29L).toDF("k"), table, "k")
    val want = spark.table(s"$cat.t").orderBy("k").collect().toSeq
    assert(want.size === 25)
    val (before, after, _) = SnapshotTable.consolidateDeleteVectors(spark, table)
    assert(before === 3 && after === 2,
      "two pos sidecars + one eq sidecar -> one of each")
    val m = SnapshotTable.manifest(table, SnapshotTable.currentVersion(table))
    assert(SnapshotTable.posDvRefs(m).size === 1)
    assert(SnapshotTable.posDvRefs(m).head.count === 4L,
      "the consolidated sidecar holds the DEDUPED positions (0,1,2,3)")
    assert(spark.table(s"$cat.t").orderBy("k").collect().toSeq === want)
  }

  test("CALL consolidate_dvs reports the rewrite; the scoped reader rides " +
      "the consolidated ranges") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES('morKey'='k', 'statsColumns'='k')")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id FROM range(100)")
    spark.sql(s"DELETE FROM $cat.t WHERE k % 5 = 0")
    spark.sql(s"DELETE FROM $cat.t WHERE k % 7 = 1")
    val row = spark.sql(s"CALL $cat.system.consolidate_dvs('t')").collect()(0)
    assert(row.getInt(0) > row.getInt(1), "sidecars must shrink")
    assert(row.getLong(2) > 0)
    val df = spark.table(s"$cat.t")
    assert(df.count() === (0L until 100L).count(k => k % 5 != 0 && k % 7 != 1))
    assert(graft.Stage.deleteAttachments(df) > 0)
    // consolidating an already-clean table refuses
    spark.sql(s"CREATE TABLE $cat.clean (k BIGINT)")
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.system.consolidate_dvs('clean')")
    }
    assert(e.getMessage.contains("nothing to consolidate"))
  }
}
