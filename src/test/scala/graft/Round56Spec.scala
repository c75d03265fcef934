package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotCatalog, SnapshotTable, SnapshotV2Provider, SnapshotV2Scan}

/** Round-56 wave: one partition planner for the snapshot V2 scan. A
  * clean read packs its files into splits the way Spark's own file
  * scan does; every reader that needs single-file partitions (deletes
  * outstanding, `_file`/`_pos`, mixed rename epochs) still gets them;
  * the declared layout's arms keep their precedence and their
  * one-unstamped-file rule.
  */
class Round56Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def freshCatalog(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_snap56").toString
    val cat = "g56" + wh.takeRight(8).replaceAll("[^0-9a-zA-Z]", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  private def head(table: String): SnapshotTable.Manifest =
    SnapshotTable.manifest(table, SnapshotTable.currentVersion(table))

  private def v2(table: String): DataFrame =
    spark.read.format(SnapshotV2Provider.format).option("path", table).load()

  /** The one graft-snapshot scan node of `df`'s static plan. */
  private def scanOf(df: DataFrame): BatchScanExec = {
    val scans = df.queryExecution.sparkPlan.collect {
      case b: BatchScanExec if b.scan.isInstanceOf[SnapshotV2Scan] => b
    }
    assert(scans.size === 1, s"want one snapshot scan:\n${df.queryExecution.sparkPlan}")
    scans.head
  }

  private def filesPerPartition(df: DataFrame): Seq[Int] =
    scanOf(df).inputPartitions.map { case fp: FilePartition => fp.files.length }

  /** A clean table of 1200 (k, v = k * 10) rows in 12 files. */
  private def twelveFiles(): String = {
    val table = java.nio.file.Files.createTempDirectory("graft_snap56t").toString + "/t"
    SnapshotTable.commit(
      spark.range(1200).repartition(12).select(col("id").as("k"), (col("id") * 10).as("v")),
      table, append = false, statsColumns = Seq("k"))
    assert(head(table).fileCount === 12)
    table
  }

  private def kv(df: DataFrame): Seq[(Long, Long)] =
    df.select(df.columns.take(2).map(col).toSeq: _*).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private val all: Seq[(Long, Long)] = (0L until 1200L).map(k => (k, k * 10))

  test("a clean 12-file read packs: fewer partitions than files, each file " +
      "read once and whole, rows equal read") {
    val table = twelveFiles()
    val m = head(table)
    val df = v2(table)
    val parts = scanOf(df).inputPartitions.map(_.asInstanceOf[FilePartition])
    assert(parts.size < m.fileCount,
      s"a clean read must pack ${m.fileCount} files into fewer partitions, got ${parts.size}")
    val files = parts.flatMap(_.files)
    assert(files.map(_.filePath.toPath.toUri.getPath).sorted === m.files.map(_.path).sorted,
      "every manifest file is planned exactly once")
    val size = m.files.map(f => f.path -> f.size).toMap
    assert(files.forall(pf =>
      pf.start == 0L && pf.length == size(pf.filePath.toPath.toUri.getPath)),
      "a file is never split: each split holds whole files at their manifest size")
    assert(Stage.plannedFiles(df.queryExecution.sparkPlan) === 12)
    assert(kv(df) === all)
    assert(kv(SnapshotTable.read(spark, table)) === all)
  }

  test("each single-file opt-out plans one file per partition with the same rows: " +
      "equality DV, position sidecar, _file/_pos, mixed rename epochs") {
    def singleFiles(arm: String, df: DataFrame, want: Seq[(Long, Long)]): Unit = {
      val per = filesPerPartition(df)
      assert(per.nonEmpty && per.forall(_ == 1), s"$arm: one file per partition, got $per")
      assert(kv(df) === want, s"$arm: rows")
    }
    val eq = twelveFiles()
    SnapshotTable.deleteKeys(Seq(3L, 4L).toDF("k"), eq, "k")
    val noEq = all.filterNot(r => r._1 == 3L || r._1 == 4L)
    singleFiles("equality DV", v2(eq), noEq)
    assert(kv(SnapshotTable.read(spark, eq)) === noEq)

    val pos = twelveFiles()
    SnapshotTable.deletePositions(v2(pos).where(col("k") === 5L).select("_file", "_pos"), pos)
    assert(SnapshotTable.posDvRefs(head(pos)).nonEmpty)
    singleFiles("position sidecar", v2(pos), all.filterNot(_._1 == 5L))

    val meta = twelveFiles()
    val withMeta = v2(meta).select("k", "v", "_file", "_pos")
    singleFiles("_file/_pos", withMeta, all)
    val files = head(meta).files.map(_.path).toSet
    assert(withMeta.select("_file").distinct().collect()
      .map(r => new java.net.URI(r.getString(0)).getPath).toSet === files)

    val renamed = twelveFiles()
    SnapshotTable.renameColumn(renamed, "v", "w")
    SnapshotTable.commit(Seq((2000L, 20000L)).toDF("k", "w"), renamed, append = true)
    singleFiles("mixed rename epochs", v2(renamed), all :+ ((2000L, 20000L)))
  }

  test("a compound months x bucket table reports bucket(n, c)") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.e (ts TIMESTAMP NOT NULL, uid BIGINT NOT NULL, " +
      "v BIGINT) PARTITIONED BY (months(ts), bucket(4, uid))")
    spark.sql(s"INSERT INTO $cat.e SELECT timestamp_micros(CAST(1704067200000000 + " +
      "id * 86400000000 * 7 AS BIGINT)), id % 16, id FROM range(40)")
    assert(SnapshotTable.temporalSpecOf(head(s"$wh/e")).nonEmpty)
    scanOf(spark.table(s"$cat.e")).scan.asInstanceOf[SnapshotV2Scan]
      .outputPartitioning() match {
      case k: KeyGroupedPartitioning =>
        assert(k.keys().map(_.describe()).toSeq === Seq("bucket(4, uid)"))
      case other => fail(s"want bucket(4, uid) grouping, got $other")
    }
  }

  test("for each layout, one unstamped file gives UnknownPartitioning") {
    def partitioning(df: DataFrame) =
      scanOf(df).scan.asInstanceOf[SnapshotV2Scan].outputPartitioning()
    val (cat, wh) = freshCatalog()
    val layouts = Seq(
      "bucket" -> "(k BIGINT NOT NULL, v BIGINT) PARTITIONED BY (bucket(4, k))",
      "trunc" -> "(k BIGINT NOT NULL, v BIGINT) PARTITIONED BY (truncate(50, k))",
      "days" -> "(k BIGINT NOT NULL, v BIGINT, ts TIMESTAMP NOT NULL) PARTITIONED BY (days(ts))",
      "ident" -> "(k BIGINT NOT NULL, v BIGINT) PARTITIONED BY (k)")
    for ((t, ddl) <- layouts) {
      spark.sql(s"CREATE TABLE $cat.$t $ddl")
      val ts = if (t == "days") ", timestamp_micros(1704067200000000 + id * 3600000000)" else ""
      spark.sql(s"INSERT INTO $cat.$t SELECT id % 8, id$ts FROM range(96)")
      assert(partitioning(spark.table(s"$cat.$t")).isInstanceOf[KeyGroupedPartitioning],
        s"$t: the stamped table reports its layout")
    }
    assert(SnapshotTable.clusterKeyOf(head(s"$wh/ident")).contains("k"))
    // an API append routes a clustered table's rows (one key per file)
    // but stamps no transform: the cluster arm's unstamped file is a
    // pre-clustering one, so that table is built in the other order
    val ident = s"$wh/ident0"
    SnapshotTable.commit(spark.range(8).coalesce(1).select(col("id").as("k"),
      col("id").as("v")), ident, append = false)
    SnapshotTable.commit(spark.range(8).select(col("id").as("k"), col("id").as("v")),
      ident, append = true, clusterBy = Some("k"))
    assert(SnapshotTable.clusterKeyOf(head(ident)).contains("k"))
    assert(partitioning(v2(ident)).isInstanceOf[UnknownPartitioning],
      "ident: one multi-key file must demote the cluster arm")
    for (t <- Seq("bucket", "trunc", "days")) {
      val row = if (t == "days")
        spark.sql("SELECT CAST(1000 AS BIGINT) AS k, CAST(-1 AS BIGINT) AS v, " +
          "timestamp'2030-01-01 00:00:00' AS ts")
      else spark.sql("SELECT CAST(1000 AS BIGINT) AS k, CAST(-1 AS BIGINT) AS v")
      SnapshotTable.commit(row, s"$wh/$t", append = true)
      assert(partitioning(spark.table(s"$cat.$t")).isInstanceOf[UnknownPartitioning],
        s"$t: one unstamped file must demote the layout")
      assert(spark.table(s"$cat.$t").count() === 97L)
    }
  }
}
