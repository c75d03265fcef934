package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotTable, SnapshotV2, SnapshotV2Provider}

/** Round-21 wave: manifest-bounded LIMIT / TopN pushdown and the
  * reported scan ordering.
  *
  * Pins (a) the subset algebra itself on hand-built manifests
  * (prefix-for-limit; θ-bounded file sets for TopN in both directions,
  * null-bearing and all-NULL files kept, the no-proof fallbacks),
  * (b) the planned-file contracts end to end (a LIMIT plans the
  * minimal proven prefix; a filtered or stats-less scan never
  * truncates), (c) result identity through truncation against the
  * full-scan answer, and (d) SupportsReportOrdering: present when the
  * cluster key survives pruning, withheld when pruned or truncated —
  * and the zero-sort SMJ it buys.
  */
class Round21Spec extends AnyFunSuite {
  import TestSpark._

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft_snap21").toString + "/t"

  private def v2(path: String): DataFrame =
    spark.read.format(SnapshotV2Provider.format).option("path", path).load()

  private def plannedOf(df: DataFrame): Int =
    graft.Stage.plannedFiles(df.queryExecution.sparkPlan)

  private def fe(
      path: String,
      lo: Long, hi: Long,
      nulls: Long, rows: Long): SnapshotTable.FileEntry =
    SnapshotTable.FileEntry(path,
      stats = if (rows > nulls) Map("k" -> (lo, hi)) else Map.empty,
      nstats = Map("k" -> (nulls, rows)))

  private val kLong = StructType(Seq(StructField("k", LongType)))
  private val kStr = StructType(Seq(StructField("k", StringType)))

  // ---- the subset algebra on hand-built manifests ----------------------

  test("limitSubset: minimal proven prefix, whole set when rows can't cover") {
    val es = Seq(fe("a", 0, 9, 0, 100), fe("b", 10, 19, 0, 100), fe("c", 20, 29, 0, 100))
    assert(SnapshotV2.limitSubset(es, 1).map(_.path) === Seq("a"))
    assert(SnapshotV2.limitSubset(es, 100).map(_.path) === Seq("a"))
    assert(SnapshotV2.limitSubset(es, 101).map(_.path) === Seq("a", "b"))
    assert(SnapshotV2.limitSubset(es, 300).map(_.path) === Seq("a", "b", "c"))
    assert(SnapshotV2.limitSubset(es, 301).map(_.path) === Seq("a", "b", "c"))
    assert(SnapshotV2.limitSubset(es, 0).map(_.path) === Seq("a"))
  }

  test("topNSubset asc/desc: θ-bounded subset over overlapping ranges") {
    // ranges deliberately overlap: b's min undercuts a's max
    val es = Seq(
      fe("a", 0, 50, 0, 60), fe("b", 40, 100, 0, 60), fe("c", 90, 200, 0, 60))
    // asc n=50: files by max → a(60 rows ≥ 50) → θ=50; keep min ≤ 50: a, b
    assert(SnapshotV2.topNSubset(es, kLong, SnapshotV2.TopN("k", true, 50))
      .map(_.path) === Seq("a", "b"))
    // desc n=50: files by min desc → c(60 ≥ 50) → θ=90; keep max ≥ 90: b, c
    assert(SnapshotV2.topNSubset(es, kLong, SnapshotV2.TopN("k", false, 50))
      .map(_.path) === Seq("b", "c"))
    // n spanning two files widens θ to the second file's weak bound
    assert(SnapshotV2.topNSubset(es, kLong, SnapshotV2.TopN("k", true, 100))
      .map(_.path) === Seq("a", "b", "c")) // θ=100 ≥ c's min 90
  }

  test("topNSubset: null-bearing and all-NULL files always kept; no-cover fallback") {
    val es = Seq(
      fe("lo", 0, 10, 0, 50),
      fe("hinull", 500, 600, 5, 50), // far from the top but holds NULLs
      fe("allnull", 0, 0, 50, 50))   // no value bounds at all
    val kept = SnapshotV2.topNSubset(es, kLong, SnapshotV2.TopN("k", true, 40))
    assert(kept.map(_.path) === Seq("lo", "hinull", "allnull"))
    // non-null rows (50+45) can't cover 96 → no truncation
    assert(SnapshotV2.topNSubset(es, kLong, SnapshotV2.TopN("k", true, 96)) === es)
  }

  test("topNSubset: a range-but-no-nullCount entry proves nothing and is kept") {
    // adversarial hand-built manifest (legacy / external writer): file
    // "b" carries a value range but NO `n:` tag for the sort column —
    // it must contribute ZERO rows toward covering n (its rows are
    // unproven) and must survive the θ filter (null presence unknown)
    val noTag = SnapshotTable.FileEntry("b",
      stats = Map("k" -> (0L, 5L)), nstats = Map.empty)
    val es = Seq(noTag, fe("a", 0, 10, 0, 50), fe("far", 500, 600, 0, 50))
    // asc n=40: only a's 50 proven rows count (b's 0); θ = a.max = 10;
    // "far" prunes, b is KEPT despite its strong bound beating θ — its
    // nulls are unknown, so dropping it could lose NULLS FIRST rows
    assert(SnapshotV2.topNSubset(es, kLong, SnapshotV2.TopN("k", true, 40))
      .map(_.path) === Seq("b", "a"))
    // n=60 exceeds the proven 100? no: 50+50=100 covers, but the cut
    // must skip b's unproven rows — θ widens to far's max, keeping all
    assert(SnapshotV2.topNSubset(es, kLong, SnapshotV2.TopN("k", true, 60))
      .map(_.path).toSet === Set("a", "b", "far"))
  }

  test("hand-migrated manifest (range, no nullCount) declines the TopN push") {
    val table = ordersTable()
    // simulate an external/legacy writer: strip every `o_orderkey:n:…`
    // tag from the segment files while keeping the value ranges
    val segDir = new java.io.File(s"$table/manifests/segments")
    for (f <- segDir.listFiles() if f.getName.endsWith(".seg")) {
      val src = scala.io.Source.fromFile(f)
      val txt = try src.mkString finally src.close()
      val stripped = txt.linesIterator.map(
        _.split('|').filterNot(_.startsWith("o_orderkey:n:")).mkString("|"))
        .mkString("", "\n", "\n")
      java.nio.file.Files.write(f.toPath, stripped.getBytes("UTF-8"))
    }
    assert(SnapshotTable.manifest(table, 1L).files
      .forall(f => f.stats.contains("o_orderkey") && !f.nstats.contains("o_orderkey")),
      "fixture must present ranges without per-column nullCounts")
    val asc = v2(table).orderBy(col("o_orderkey")).limit(25)
    assert(plannedOf(asc) === 8,
      "unproven per-column nullCounts must decline the push — full plan")
    assert(asc.collect().map(_.getLong(0)).toSeq ===
      v2(table).collect().map(_.getLong(0)).sorted.take(25).toSeq)
  }

  test("topNSubset: string bounds compare bytewise") {
    def sfe(path: String, lo: String, hi: String): SnapshotTable.FileEntry =
      SnapshotTable.FileEntry(path,
        stats = Map.empty, sstats = Map("k" -> (lo, hi)),
        nstats = Map("k" -> (0L, 10L)))
    val es = Seq(sfe("a", "apple", "cherry"), sfe("b", "mango", "peach"),
      sfe("c", "plum", "zucchini"))
    assert(SnapshotV2.topNSubset(es, kStr, SnapshotV2.TopN("k", true, 5))
      .map(_.path) === Seq("a"))
    assert(SnapshotV2.topNSubset(es, kStr, SnapshotV2.TopN("k", false, 5))
      .map(_.path) === Seq("c"))
    assert(SnapshotV2.topNSubset(es, kStr, SnapshotV2.TopN("k", true, 15))
      .map(_.path) === Seq("a", "b"))
  }

  // ---- planned-file contracts end to end -------------------------------

  private def ordersTable(statsCols: Seq[String] = Seq("o_orderkey")): String = {
    val table = tmpTable()
    SnapshotTable.commit(
      Tables(spark, sf).orders.select("o_orderkey", "o_totalprice")
        .repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"),
      table, append = false, statsColumns = statsCols)
    table
  }

  test("LIMIT plans the minimal proven prefix; result identical to the full scan") {
    val table = ordersTable()
    val lim = v2(table).limit(40)
    assert(plannedOf(lim) === 1,
      "40 rows against ~sf*15000/8-row files must plan one file")
    assert(lim.count() === 40L)
    // truncation never changes results: the limited scan's rows are a
    // subset of the table (join back on the unique key)
    val full = v2(table)
    assert(lim.join(full, Seq("o_orderkey", "o_totalprice"), "left_anti").count() === 0L)
  }

  test("TopN truncation returns exactly the full-scan top-n, both directions") {
    val table = ordersTable()
    val full = v2(table).collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    val asc = v2(table).orderBy(col("o_orderkey")).limit(25)
    val desc = v2(table).orderBy(col("o_orderkey").desc).limit(25)
    assert(plannedOf(asc) < 8 && plannedOf(desc) < 8,
      "range-clustered TopN must plan a strict file subset")
    assert(asc.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      === full.take(25).toSeq)
    assert(desc.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      === full.takeRight(25).toSeq)
  }

  test("a pushed filter disables LIMIT truncation (residual rows can't be counted)") {
    val table = ordersTable()
    // the filter itself prunes nothing (all files hold even keys), and
    // the limit must NOT shrink the plan below the filter's survivors —
    // a prefix of proven rowCounts says nothing about post-filter rows
    val df = v2(table).filter(col("o_orderkey") % 2 === 0).limit(40)
    assert(plannedOf(df) === 8, "filtered LIMIT must plan every surviving file")
    assert(df.count() === 40L)
  }

  test("a stats-less table never truncates under LIMIT or TopN") {
    val table = tmpTable()
    SnapshotTable.commit(
      Tables(spark, sf).orders.select("o_orderkey", "o_totalprice").repartition(6),
      table, append = false) // no statsColumns: no rowCount proof
    assert(plannedOf(v2(table).limit(10)) === 6)
    assert(plannedOf(v2(table).orderBy("o_orderkey").limit(10)) === 6)
    assert(v2(table).limit(10).count() === 10L)
  }

  // ---- reported ordering ------------------------------------------------

  private def orderingOf(df: DataFrame): Option[Seq[Any]] =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.ordering.map(_.toSeq)
    }.flatten

  test("ordering reported iff the cluster key survives pruning") {
    val table = tmpTable()
    SnapshotTable.commit(
      Tables(spark, sf).customer.select("c_custkey", "c_nationkey", "c_acctbal"),
      table, append = false, clusterBy = Some("c_nationkey"))
    val withKey = v2(table).select("c_nationkey", "c_acctbal")
      .groupBy("c_nationkey").agg(sum("c_acctbal"))
    assert(orderingOf(withKey).exists(_.nonEmpty),
      "key in output → the scan must report its ordering")
    val keyPruned = v2(table).select("c_acctbal").agg(sum("c_acctbal"))
    assert(orderingOf(keyPruned).forall(_.isEmpty),
      "key pruned → ordering can't resolve and must be withheld")
    // a truncated scan reports neither clustering nor ordering
    val limited = v2(table).limit(5)
    assert(orderingOf(limited).forall(_.isEmpty))
    assert(limited.count() === 5L)
  }

  // ---- metadata columns (_file / _pos) ---------------------------------

  test("_file/_pos: dense per-file addressing, true ordinals under a pushed filter") {
    val table = ordersTable()
    val df = v2(table).select(col("o_orderkey"), col("_file"), col("_pos"))
    val rows = df.collect()
    val byFile = rows.groupBy(_.getString(1))
    assert(byFile.size === 8)
    byFile.foreach { case (_, rs) =>
      val ps = rs.map(_.getLong(2)).sorted.toSeq
      assert(ps === (0L until ps.length).toSeq, "positions must be dense 0..n-1 per file")
    }
    // a pushed range filter row-group-prunes a plain scan — under _pos
    // the file reads unfiltered and every surviving row keeps the SAME
    // address the full scan assigned
    val addr = rows.map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val cut = rows.map(_.getLong(0)).sorted.apply(rows.length / 5)
    val filtered = v2(table).filter(col("o_orderkey") <= cut)
      .select(col("o_orderkey"), col("_file"), col("_pos")).collect()
    assert(filtered.nonEmpty && filtered.length < rows.length)
    filtered.foreach { r =>
      assert(addr(r.getLong(0)) === ((r.getString(1), r.getLong(2))))
    }
  }

  test("metadata scan on a clustered table plans single-file partitions") {
    val table = tmpTable()
    SnapshotTable.commit(
      Tables(spark, sf).customer.select("c_custkey", "c_nationkey"),
      table, append = false, clusterBy = Some("c_nationkey"))
    val df = v2(table).select(col("c_nationkey"), col("_file"))
    val parts = df.queryExecution.sparkPlan.collect {
      case b: BatchScanExec => b.inputPartitions.map {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition => fp.files.length
        case _ => -1
      }
    }.flatten
    val m = SnapshotTable.manifest(table, 1L)
    assert(parts.size === m.fileCount && parts.forall(_ == 1),
      "clustering must opt out: _file/_pos are per-file notions")
    // one key value per file ⇒ files and keys biject
    assert(df.select("_file").distinct().count() === m.fileCount)
    assert(df.distinct().count() === m.fileCount)
  }

  test("a DATA column named _file wins the name: never hijacked, metadata not advertised") {
    val table = tmpTable()
    SnapshotTable.commit(
      Tables(spark, sf).orders.select(col("o_orderkey"),
        concat(lit("src-"), col("o_orderkey") % 3).as("_file")),
      table, append = false, statsColumns = Seq("o_orderkey"))
    // the data column reads as DATA — its values, not file paths
    val vals = v2(table).select("_file").distinct().collect().map(_.getString(0)).sorted
    assert(vals.toSeq === Seq("src-0", "src-1", "src-2"))
    // and _pos (no conflict) still works alongside the data _file
    val both = v2(table).select(col("o_orderkey"), col("_file"), col("_pos"))
    assert(both.filter(col("_file").startsWith("src-")).count() === both.count())
    assert(both.select("_pos").filter(col("_pos") >= 0).count() === both.count())
  }

  // ---- column statistics to the CBO ------------------------------------

  test("columnStats: exact nullCount and min/max, NDV within HLL error, absent without stats") {
    val table = tmpTable()
    val src = Tables(spark, sf).orders
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 10 === 0, lit(null)).otherwise(col("o_custkey"))
          .as("o_custkey"))
    SnapshotTable.commit(src.repartition(4), table, append = false,
      statsColumns = Seq("o_orderkey", "o_custkey"))
    val prior = spark.conf.get("spark.sql.cbo.enabled", "false")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val stats = v2(table).queryExecution.optimizedPlan.collectFirst {
        case r: DataSourceV2ScanRelation => r.stats.attributeStats
      }.get
      val key = stats.find(_._1.name == "o_orderkey").map(_._2).get
      val fk = stats.find(_._1.name == "o_custkey").map(_._2).get
      // exact facts: zero nulls on the key, exactly the masked tenth on the FK
      assert(key.nullCount === Some(BigInt(0)))
      val expectNulls = src.filter(col("o_custkey").isNull).count()
      assert(fk.nullCount === Some(BigInt(expectNulls)))
      // exact integral extrema
      val (lo, hi) = (src.agg(min("o_orderkey")).collect()(0).getLong(0),
        src.agg(max("o_orderkey")).collect()(0).getLong(0))
      assert(key.min === Some(lo) && key.max === Some(hi))
      // NDV: per-file HLL sums are an upper bound, capped at rowCount;
      // on a unique key the bound must stay within HLL error of n
      val n = src.count()
      val ndv = key.distinctCount.get.toLong
      assert(ndv <= n && ndv >= (n * 0.8).toLong, s"ndv=$ndv n=$n")
      // a stats-less table hands the CBO nothing
      val bare = tmpTable()
      SnapshotTable.commit(src.repartition(2), bare, append = false)
      val none = v2(bare).queryExecution.optimizedPlan.collectFirst {
        case r: DataSourceV2ScanRelation => r.stats.attributeStats
      }.get
      assert(none.isEmpty)
    } finally spark.conf.set("spark.sql.cbo.enabled", prior)
  }

  test("zero-sort SMJ: co-clustered tables join with no exchange and no sort") {
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    val ct = tmpTable()
    val st = tmpTable()
    SnapshotTable.commit(
      Tables(spark, sf).customer.select("c_custkey", "c_nationkey"),
      ct, append = false, clusterBy = Some("c_nationkey"))
    SnapshotTable.commit(
      Tables(spark, sf).supplier.select("s_suppkey", "s_nationkey"),
      st, append = false, clusterBy = Some("s_nationkey"))
    val j = v2(ct).join(v2(st).hint("merge"), col("c_nationkey") === col("s_nationkey"))
    // the result is still the join (sanity: row count matches a hash join)
    assert(j.count() ===
      Tables(spark, sf).customer.join(Tables(spark, sf).supplier,
        col("c_nationkey") === col("s_nationkey")).count())
    // assert on the EXECUTED (post-AQE) plan: sparkPlan predates
    // EnsureRequirements, so sorts/exchanges never appear there and a
    // "no SortExec" check against it is vacuous (r14 fix)
    assert(PlanCheck.has[SortMergeJoinExec](j))
    assert(PlanCheck.collectNodes[SortExec](j).isEmpty,
      "reported per-partition ordering must satisfy the SMJ's required child ordering\n" +
        PlanCheck.render(j))
    assert(PlanCheck.collectNodes[
      org.apache.spark.sql.execution.exchange.ShuffleExchangeExec](j).isEmpty,
      "co-clustered SPJ must plan zero exchanges")
  }
}
