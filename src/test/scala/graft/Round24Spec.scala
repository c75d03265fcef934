package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotCatalog, SnapshotTable}

/** Round-24 wave: age-based snapshot expiry (Iceberg's
  * expire_snapshots) and the SQL reach for multi-dimensional layout
  * (CALL compact(zorder_by => ...)).
  */
class Round24Spec extends AnyFunSuite {
  import TestSpark._

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft_snap24").toString + "/t"

  private def ordersNarrow = Tables(spark, sf).orders
    .select("o_orderkey", "o_orderpriority", "o_totalprice")

  private def keys(df: DataFrame): Set[Long] =
    df.select("o_orderkey").collect().map(_.getLong(0)).toSet

  private def rootMessages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(
      t => Option(t.getMessage).getOrElse("")).toSeq

  /** v1 overwrite (%3==0, ts=100), v2 append (%3==1, ts=200),
    * v3 append (%3==2, ts=300). */
  private def stampedChain(table: String): Unit =
    for ((m, ts) <- Seq((0, 100L), (1, 200L), (2, 300L)))
      SnapshotTable.commit(
        ordersNarrow.filter(col("o_orderkey") % 3 === m), table, append = m > 0,
        extra = Map("ts" -> ts.toString))

  test("expireSnapshots: expired refuses, retained serves, shared files survive") {
    val table = tmpTable()
    stampedChain(table)
    val v1Files = SnapshotTable.manifest(table, 1L).files.map(_.path)
    val (mDel, _) = SnapshotTable.expireSnapshots(table, olderThan = 150L)
    assert(mDel === 1, "exactly v1 (ts=100) is below the horizon")
    // v1's files are REFERENCED by the surviving append chain — alive
    v1Files.foreach(p => assert(new java.io.File(p).exists(), s"$p must survive"))
    val e = intercept[Throwable] {
      SnapshotTable.read(spark, table, Some(1L)).collect()
    }
    assert(rootMessages(e).exists(_.contains("not published")))
    // retained versions serve unchanged
    assert(keys(SnapshotTable.read(spark, table, Some(2L))) ===
      keys(ordersNarrow.filter(col("o_orderkey") % 3 <= 1)))
    assert(keys(SnapshotTable.read(spark, table)) === keys(ordersNarrow))
  }

  test("expireSnapshots: an overwritten-away version's files ARE reclaimed") {
    val table = tmpTable()
    SnapshotTable.commit(ordersNarrow.filter(col("o_orderkey") % 3 === 0),
      table, append = false, extra = Map("ts" -> "100"))
    val v1Files = SnapshotTable.manifest(table, 1L).files.map(_.path)
    SnapshotTable.commit(ordersNarrow.filter(col("o_orderkey") % 3 === 1),
      table, append = false, extra = Map("ts" -> "200")) // overwrite
    val (mDel, _) = SnapshotTable.expireSnapshots(table, olderThan = 150L)
    assert(mDel === 1)
    v1Files.foreach(p =>
      assert(!new java.io.File(p).exists(), s"unreferenced $p must be reclaimed"))
    assert(keys(SnapshotTable.read(spark, table)) ===
      keys(ordersNarrow.filter(col("o_orderkey") % 3 === 1)))
  }

  test("expireSnapshots: head always kept; stampless commits kept (age unprovable)") {
    val table = tmpTable()
    stampedChain(table)
    // horizon beyond every stamp: head survives by rule
    val (mDel, _) = SnapshotTable.expireSnapshots(table, olderThan = Long.MaxValue)
    assert(mDel === 2, "v1+v2 expired, head kept despite its age")
    assert(keys(SnapshotTable.read(spark, table)) === keys(ordersNarrow))
    val t2 = tmpTable()
    SnapshotTable.commit(ordersNarrow.limit(10), t2, append = false) // no ts
    SnapshotTable.commit(ordersNarrow.limit(20), t2, append = false)
    assert(SnapshotTable.expireSnapshots(t2, Long.MaxValue)._1 === 0,
      "stampless commits have unprovable age and must be kept")
  }

  test("expireSnapshots: in-flight writer's staged files survive the sweep") {
    val table = tmpTable()
    stampedChain(table)
    val staged = new java.io.File(s"$table/data/v4_winflight")
    staged.mkdirs()
    val f = new java.io.File(staged, "part-0.parquet")
    java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
    SnapshotTable.expireSnapshots(table, olderThan = 250L)
    assert(f.exists(), "a v>current attempt dir is an in-flight writer's — untouched")
    assert(keys(SnapshotTable.read(spark, table)) === keys(ordersNarrow))
  }

  test("expireSnapshots refuses branch paths") {
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.expireSnapshots("/x/branches/b", 1L)
    }
    assert(e.getMessage.contains("branch"))
  }

  // ---- SQL surface -------------------------------------------------------

  private def newCat(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_r24cat").toString
    val cat = "gz" + System.nanoTime().toString.takeRight(9)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  test("CALL expire_snapshots: result row, expired refuses through SQL") {
    val (cat, wh) = newCat()
    stampedChain(s"$wh/t")
    val r = spark.sql(
      s"CALL $cat.system.expire_snapshots('t', older_than => 250)").collect()(0)
    assert(r.getInt(0) === 2, "v1+v2 below the horizon")
    val e = intercept[Throwable] {
      spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 2").collect()
    }
    assert(rootMessages(e).exists(_.contains("not published")))
    assert(spark.table(s"$cat.t").count() === ordersNarrow.count())
  }

  private def plannedOf(df: DataFrame): Int =
    graft.Stage.plannedFiles(df.queryExecution.sparkPlan)

  test("CALL compact(zorder_by): selective reads on BOTH dims plan strict subsets") {
    val (cat, wh) = newCat()
    spark.sql(s"CREATE TABLE $cat.z (k BIGINT, ck BIGINT, yr BIGINT, price DOUBLE) " +
      "TBLPROPERTIES('statsColumns'='ck,yr')")
    Tables(spark, sf).orders.select(
      col("o_orderkey").as("k"), col("o_custkey").as("ck"),
      year(col("o_orderdate")).cast("long").as("yr"), col("o_totalprice").as("price"))
      .createOrReplaceTempView(s"graft_r24_src_$cat")
    spark.sql(s"INSERT INTO $cat.z SELECT * FROM graft_r24_src_$cat")
    val r = spark.sql(
      s"CALL $cat.system.compact('z', ${4L << 10}, 'ck,yr')").collect()(0)
    assert(r.getLong(1) === 3L)
    val nFiles = SnapshotTable.manifest(s"$wh/z", 3L).fileCount
    assert(nFiles >= 4, s"need a multi-file layout to prove pruning, got $nFiles")
    val byCk = spark.sql(s"SELECT * FROM $cat.z WHERE ck BETWEEN 100 AND 199")
    val byYr = spark.sql(s"SELECT * FROM $cat.z WHERE yr = 1995")
    assert(plannedOf(byCk) < nFiles, "z-order must prune on the FIRST dimension")
    assert(plannedOf(byYr) < nFiles, "z-order must prune on the SECOND dimension")
    // and the rows are exact
    assert(byCk.count() ===
      spark.sql(s"SELECT * FROM graft_r24_src_$cat WHERE ck BETWEEN 100 AND 199").count())
    assert(byYr.count() ===
      spark.sql(s"SELECT * FROM graft_r24_src_$cat WHERE yr = 1995").count())
  }

  test("dedup_suffix_exact: recount — exact spans, 10-gram blind spot found") {
    val out = SparkEntry.queries("dedup_suffix_exact")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(4))).toMap
    // doc 700000 embeds a 9-TOKEN run of doc 7: ZERO 10-grams fire
    // (dedup_span is structurally blind to it), the exact chain finds
    // span 9 — and correctly does NOT drop at the >=10 threshold
    assert(out(700000L)._1 === 9L && out(700000L)._2 === 0L)
    // doc 700001: offset-shifted 15-token run from the middle of doc 9
    assert(out(700001L)._1 === 15L && out(700001L)._2 === 1L)
    // doc 700002 is a verbatim copy of doc 8: the maximal span is the
    // whole document — recount the token length independently
    val len8 = Tables(spark, sf).documents.filter(col("doc_id") === 8)
      .select(size(split(col("text"), " "))).collect()(0).getInt(0)
    assert(out(700002L)._1 === len8.toLong && out(700002L)._2 === 1L)
  }

  test("compactZOrder refusals: too many dims, non-integral column") {
    val table = tmpTable()
    SnapshotTable.commit(ordersNarrow, table, append = false)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.compactZOrder(spark, table, (1 to 8).map(i => s"c$i"))
    }
    assert(e.getMessage.contains("1..7"))
    val e2 = intercept[IllegalArgumentException] {
      SnapshotTable.compactZOrder(spark, table,
        Seq("o_orderkey", "o_orderpriority"))
    }
    assert(e2.getMessage.contains("not integral"))
  }
}
