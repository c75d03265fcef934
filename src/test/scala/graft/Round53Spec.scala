package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotCatalog, SnapshotRelationProvider, SnapshotTable, SnapshotV2Provider}

/** Round-53 wave: one batch read path for the snapshot table. Every
  * `SnapshotTable` read plans one graft-snapshot V2 scan of the
  * manifest it reads (limited to a file selection where the read
  * prunes), so deletion vectors, position deletes and rename epochs
  * apply the same way everywhere — including the copy-on-write merge's
  * read of the files it rewrites. Timestamp time travel resolves
  * through one helper that skips vacuumed versions.
  */
class Round53Spec extends AnyFunSuite {
  import TestSpark._

  private def freshCatalog(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_snap53").toString
    val cat = "g53" + wh.takeRight(8).replaceAll("[^0-9a-zA-Z]", "")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  private def keys(df: DataFrame): Seq[Long] =
    df.select("k").collect().map(_.getLong(0)).sorted.toSeq

  test("merge after a column rename keeps every untouched row's value") {
    val root = java.nio.file.Files.createTempDirectory("graft53_a").toString
    val table = s"$root/t"
    import spark.implicits._
    // one file: the merge of one key rewrites it whole
    SnapshotTable.commit(
      spark.range(20).coalesce(1).select(col("id").as("k"), (col("id") * 10).as("v")),
      table, append = false, statsColumns = Seq("k"))
    SnapshotTable.renameColumn(table, "v", "w") // the file keeps the old name
    SnapshotTable.merge(Seq((5L, 555L)).toDF("k", "w"), table, "k")
    val got = SnapshotTable.read(spark, table).select("k", "w").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .sorted.toSeq
    val want = (0L until 20L).map(k => (k, Some(if (k == 5L) 555L else k * 10)))
    assert(got === want)
  }

  test("timestampAsOf after vacuum: every front end resolves among the " +
      "retained versions") {
    val (cat, wh) = freshCatalog()
    val table = s"$wh/t"
    import spark.implicits._
    for ((k, ts) <- Seq((1L, 100L), (2L, 200L), (3L, 300L)))
      SnapshotTable.commit(Seq(k).toDF("k").coalesce(1), table, append = k > 1L,
        extra = Map("ts" -> ts.toString))
    SnapshotTable.createTag(table, "first", Some(1L))
    SnapshotTable.vacuum(table, retainLast = 1) // v2 goes; the tag pins v1
    assert(!SnapshotTable.listTags(table).isEmpty)
    def byFormat(format: String)(ts: Long): DataFrame =
      spark.read.format(format).option("path", table)
        .option("timestampAsOf", ts.toString).load()
    val fronts: Seq[(String, Long => DataFrame)] = Seq(
      "readAsOf" -> (ts => SnapshotTable.readAsOf(spark, table, ts)),
      "v1 format" -> byFormat(SnapshotRelationProvider.format),
      "v2 format" -> byFormat(SnapshotV2Provider.format),
      "sql" -> (ts => spark.sql(s"SELECT * FROM $cat.t TIMESTAMP AS OF timestamp_micros($ts)")))
    fronts.foreach { case (name, at) =>
      // ts=250: newest retained stamp at or before it is v1's (v2 is gone)
      assert(keys(at(250L)) === Seq(1L), name)
      assert(keys(at(350L)) === Seq(1L, 2L, 3L), name)
    }
    SnapshotTable.dropTag(table, "first")
    SnapshotTable.vacuum(table, retainLast = 1) // now only v3 (ts=300) is left
    fronts.foreach { case (name, at) =>
      if (name == "sql") intercept[AnalysisException](at(150L))
      else {
        val e = intercept[IllegalArgumentException](at(150L))
        assert(e.getMessage.contains("at or before ts=150") &&
          e.getMessage.contains("earliest retained is 300"), s"$name: ${e.getMessage}")
      }
    }
  }

  test("a format load resolves once: a commit between inferSchema and " +
      "getTable leaves the table at the version inferSchema resolved") {
    import org.apache.spark.sql.connector.catalog.SupportsRead
    import org.apache.spark.sql.connector.catalog.TableProvider
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory("graft53_r").toString
    val table = s"$root/t"
    import spark.implicits._
    SnapshotTable.commit(Seq(1L, 2L).toDF("k").coalesce(1), table, append = false)
    val providers: Seq[(String, () => TableProvider)] = Seq(
      "v2 format" -> (() => new SnapshotV2Provider()),
      "v1 format" -> (() => new SnapshotRelationProvider()),
      "stream format" -> (() => new graft.sources.SnapshotSourceProvider()))
    providers.foreach { case (name, make) =>
      val v = SnapshotTable.currentVersion(table)
      val pinnedFiles = SnapshotTable.manifest(table, v).files.map(_.path).toSet
      val opts = Map("path" -> table)
      val o = new CaseInsensitiveStringMap(opts.asJava)
      val p = make()
      val schema = p.inferSchema(o)
      // a writer commits between the two calls of one load
      SnapshotTable.commit(Seq(v + 10L).toDF("k").coalesce(1), table, append = true)
      val t = p.getTable(schema, Array.empty, opts.asJava)
      val served = SnapshotStreams.files(t.asInstanceOf[SupportsRead].newScanBuilder(o)
        .build().toBatch.planInputPartitions())
      assert(served === pinnedFiles, s"$name must serve v$v")
    }
  }

  test("every SnapshotTable batch read plans one graft-snapshot V2 scan " +
      "per manifest it reads, with deletes and renames outstanding") {
    val (cat, wh) = freshCatalog()
    val table = s"$wh/t"
    import spark.implicits._
    def rows(lo: Long, hi: Long): DataFrame = spark.range(lo, hi).coalesce(2).select(
      col("id").as("k"), col("id").cast("string").as("s"),
      when(col("id") % 2 === 0, col("id")).as("n"))
    SnapshotTable.commit(rows(0, 40), table, append = false,
      statsColumns = Seq("k", "s", "n"), extra = Map("ts" -> "100"))         // v1
    SnapshotTable.renameColumn(table, "n", "m")                              // v2
    SnapshotTable.deleteKeys(Seq(3L).toDF("k"), table, "k")                  // v3
    SnapshotTable.deletePositions(
      spark.table(s"$cat.t").where(col("k") === 7L).select("_file", "_pos"), table) // v4
    SnapshotTable.commit(rows(40, 50).toDF("k", "s", "m"), table, append = true) // v5
    val live = (0L until 50L).filterNot(Set(3L, 7L))
    val reads: Seq[(String, DataFrame, Seq[Long])] = Seq(
      ("read", SnapshotTable.read(spark, table), live),
      ("read k <= 9", SnapshotTable.read(spark, table).where(col("k") <= 9L),
        live.filter(_ <= 9L)),
      ("read s = '1'", SnapshotTable.read(spark, table).where(col("s") === "1"), Seq(1L)),
      ("read m IS NULL", SnapshotTable.read(spark, table).where(col("m").isNull),
        live.filter(_ % 2 == 1)),
      ("v1 format", spark.read.format(SnapshotRelationProvider.format)
        .option("path", table).load(), live),
      ("readAsOf", SnapshotTable.readAsOf(spark, table, 100L), 0L until 40L),
      ("readIncremental", SnapshotTable.readIncremental(spark, table, 4L, 5L), 40L until 50L))
    reads.foreach { case (name, df, want) =>
      PlanCheck.snapshotScanShape(df).foreach(why => fail(s"$name: $why"))
      assert(keys(df) === want, name)
    }
    // an append commit's feed is its added files: one scan of its manifest
    val feed = SnapshotTable.changeFeedIncremental(spark, table, 4L, 5L, "k")
    PlanCheck.snapshotScanShape(feed).foreach(why => fail(s"changeFeedIncremental: $why"))
    assert(keys(feed) === (40L until 50L))
  }

  test("a file-selected read answers counts, limits and extrema over its " +
      "selection, not the whole manifest") {
    val root = java.nio.file.Files.createTempDirectory("graft53_d").toString
    val table = s"$root/t"
    SnapshotTable.commit(spark.range(0, 30).select(col("id").as("k")), table,
      append = false, statsColumns = Seq("k"))
    SnapshotTable.commit(spark.range(100, 105).coalesce(1).select(col("id").as("k")),
      table, append = true)
    val inc = SnapshotTable.readIncremental(spark, table, 1L, 2L)
    assert(inc.count() === 5L)
    assert(inc.agg(min("k"), max("k")).collect()(0).toSeq === Seq(100L, 104L))
    assert(inc.limit(3).collect().length === 3)
    assert(inc.orderBy(col("k").desc).limit(2).collect().map(_.getLong(0)).toSeq ===
      Seq(104L, 103L))
  }
}
