package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotCatalog, SnapshotTable}

/** Round-44 wave: POSITION-DELTA SQL DML — SupportsDelta with the
  * (_file, _pos) metadata row identity (Iceberg's position-delta
  * plans), the morKey-LESS merge-on-read. Pins the per-commit anatomy,
  * the precedence rules against equality deltas and CoW, API/SQL
  * sidecar interop, and the scoped read path over delta-written
  * sidecars.
  */
class Round44Spec extends AnyFunSuite {
  import TestSpark._

  private def freshCatalog(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_snap44").toString
    val cat = "g44" + wh.takeRight(8).replaceAll("[^0-9a-zA-Z]", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  private def posTable(cat: String): Unit = {
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES('statsColumns'='k', 'deleteMode'='positions', " +
      "'changeCapture'='preimages')")
    spark.range(40).coalesce(2).select(col("id").as("k"), (col("id") * 10).as("v"))
      .createOrReplaceTempView("g44_src")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM g44_src")
  }

  test("UPDATE on a morKey-less positions table commits a position delta: " +
      "mode=merge, one sidecar, zero rewrites, post-images survive their " +
      "own commit's sidecar") {
    val (cat, wh) = freshCatalog()
    posTable(cat)
    val table = s"$wh/t"
    val before = SnapshotTable.manifest(table, 2L).files.map(_.path).toSet
    spark.sql(s"UPDATE $cat.t SET v = v + 1 WHERE k % 4 = 1")
    val m = SnapshotTable.manifest(table, 3L)
    assert(m.extra.get("mode").contains("merge"))
    val refs = SnapshotTable.posDvRefs(m)
    assert(refs.nonEmpty && refs.forall(_.range.isDefined),
      "delta sidecars carry the named-file range for the scoped reader")
    assert(before.subsetOf(m.files.map(_.path).toSet),
      "an UPDATE must rewrite ZERO existing data files")
    assert(m.files.map(_.path).toSet.size > before.size,
      "the post-images append as new files")
    // pre-images dead, post-images alive — and the sidecar cannot name
    // the post-image files (new paths by construction)
    val got = spark.table(s"$cat.t").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === (0L until 40L).map(k => (k, k * 10 + (if (k % 4 == 1) 1 else 0))))
    // time travel below the delta is intact
    assert(spark.sql(s"SELECT SUM(v) FROM $cat.t VERSION AS OF 2")
      .collect()(0).getLong(0) === (0L until 40L).map(_ * 10).sum)
  }

  test("a non-pushable DELETE (k % 13 = 5) routes through the position " +
      "delta — O(batch), no post-images, no CoW rewrite") {
    val (cat, wh) = freshCatalog()
    posTable(cat)
    val table = s"$wh/t"
    val before = SnapshotTable.manifest(table, 2L).files.map(_.path).toSet
    spark.sql(s"DELETE FROM $cat.t WHERE k % 13 = 5")
    val m = SnapshotTable.manifest(table, 3L)
    assert(m.files.map(_.path).toSet === before,
      "a pure position-delta DELETE adds no files and rewrites none")
    assert(SnapshotTable.posDvRefs(m).nonEmpty)
    assert(spark.table(s"$cat.t").count() === 40L - 3L) // k = 5, 18, 31
  }

  test("precedence: a declared morKey keeps the EQUALITY delta even when " +
      "deleteMode=positions is also set; layouts fall back to CoW") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.m (k BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES('statsColumns'='k', 'morKey'='k', 'deleteMode'='positions')")
    spark.range(20).select(col("id").as("k"), col("id").as("v"))
      .createOrReplaceTempView("g44_m")
    spark.sql(s"INSERT INTO $cat.m SELECT * FROM g44_m")
    spark.sql(s"UPDATE $cat.m SET v = v + 1 WHERE k % 7 = 2")
    val mm = SnapshotTable.manifest(s"$wh/m", 3L)
    assert(mm.extra.get("dvfiles").exists(_.nonEmpty) &&
      SnapshotTable.posDvRefs(mm).isEmpty,
      "one MoR format per declaration: morKey wins")
    // a bucketed positions table: row-level DML keeps CoW (stamped
    // rewrite), never unstamped delta post-images
    spark.sql(s"CREATE TABLE $cat.b (k BIGINT NOT NULL, v BIGINT) " +
      "PARTITIONED BY (bucket(2, k)) TBLPROPERTIES('deleteMode'='positions')")
    spark.sql(s"INSERT INTO $cat.b SELECT * FROM g44_m")
    spark.sql(s"UPDATE $cat.b SET v = v + 1 WHERE k % 7 = 2")
    val mb = SnapshotTable.manifest(s"$wh/b",
      SnapshotTable.currentVersion(s"$wh/b"))
    assert(SnapshotTable.posDvRefs(mb).isEmpty,
      "layout tables keep the stamping CoW rewrite")
    assert(mb.files.forall(
      _.stats.get(SnapshotTable.BucketStat).exists(s => s._1 == s._2)))
    assert(spark.table(s"$cat.b").where(col("k") === 2).collect()(0).getLong(1) === 3L)
  }

  test("API deletePositions and SQL position deltas STACK on one chain; " +
      "the scoped reader serves the mix past the budget") {
    val (cat, wh) = freshCatalog()
    posTable(cat)
    val table = s"$wh/t"
    import spark.implicits._
    // API batch first (raw ordinals via provenance scan)
    SnapshotTable.deletePositions(
      spark.table(s"$cat.t").where(col("k") < 3).select("_file", "_pos"), table)
    // SQL delta on top — must address RAW ordinals of the same files
    spark.sql(s"UPDATE $cat.t SET v = -1 WHERE k >= 38")
    val expect = (3L until 40L).map(k => (k, if (k >= 38) -1L else k * 10))
    def got() = spark.table(s"$cat.t").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got() === expect, "mixed API/SQL position chains compose exactly")
    val df = spark.table(s"$cat.t")
    assert(df.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq === expect,
      "the per-file reader serves the mixed chain")
    assert(graft.Stage.deleteAttachments(df) > 0)
    // compaction materializes everything and re-zeros the state
    SnapshotTable.compactSnapshot(spark, table)
    assert(SnapshotTable.posDvRefs(SnapshotTable.manifest(table,
      SnapshotTable.currentVersion(table))).isEmpty)
    assert(got() === expect)
  }

  test("subset readers under trickle positions: append epochs keep " +
      "flowing, reads over named files apply the positions, and the " +
      "incremental change feed serves the pos commit from its write-time " +
      "capture") {
    val (cat, wh) = freshCatalog()
    posTable(cat)
    val table = s"$wh/t"
    spark.sql(s"DELETE FROM $cat.t WHERE k % 13 = 5") // v3: position delta
    // append AFTER the sidecar — its files can never be named by it
    spark.range(100, 110).coalesce(1)
      .select(col("id").as("k"), (col("id") * 10).as("v"))
      .createOrReplaceTempView("g44_app")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM g44_app") // v4: append
    // the append epoch serves through the range proof — this is the
    // trickle-positions table KEEPING its incremental consumers
    assert(SnapshotTable.readIncremental(spark, table, 3L, 4L).count() === 10)
    // a pruned read that only touches the new file serves too
    val m4 = SnapshotTable.manifest(table, 4L)
    def planned(df: org.apache.spark.sql.DataFrame): Int =
      graft.Stage.plannedFiles(df.queryExecution.sparkPlan)
    val fresh = SnapshotTable.read(spark, table).where(col("k").between(100L, 200L))
    assert(planned(fresh) === 1 && m4.filesFor("k", 100L, 200L).size === 1)
    assert(fresh.count() === 10)
    // one over a named file applies the positions: it answers the
    // source range minus the deleted key 5
    val near = SnapshotTable.read(spark, table).where(col("k").between(0L, 5L))
    assert(planned(near) === m4.filesFor("k", 0L, 5L).size)
    assert(near.select("k").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(0L, 1L, 2L, 3L, 4L))
    // the incremental change feed SERVES the pos commit now — the
    // commit captured its delete pre-images at write time (Round48Spec
    // owns the capture anatomy; the refusal survives only for
    // changeCapture='none' / legacy commits)
    val feed = SnapshotTable.changeFeedIncremental(spark, table, 2L, 3L, "k")
    assert(feed.where(col("_change_type") === "delete")
      .select("k").collect().map(_.getLong(0)).toSeq.sorted ===
      (0L until 40L).filter(_ % 13 == 5))
    // ... and the append epoch's feed flows
    assert(SnapshotTable.changeFeedIncremental(spark, table, 3L, 4L, "k")
      .where(col("_change_type") === "insert").count() === 10)
  }
}
