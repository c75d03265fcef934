package graft.tools

import graft.GraftSession
import graft.sources.SnapshotTable
import org.apache.spark.sql.functions._

/** SURVEY §5 snapshot-table scale-stress: does the manifest layer's
  * cost stay flat as the table accumulates history? A 100 TB
  * deployment commits a snapshot per micro-batch — hundreds per day —
  * so the day-2 hazards are (a) commit latency growing with snapshot
  * COUNT (manifest rewrite cost ∝ files, not snapshots — but each
  * append copies the parent file list, so the list itself grows),
  * (b) read planning growing with history, (c) time travel to an old
  * snapshot costing more than reading the head.
  *
  *   sbt "runMain graft.tools.SnapshotStress"        # 100 commits
  *   sbt "runMain graft.tools.SnapshotStress 200"    # custom count
  *
  * Measures, at commit counts {1, 10, 50, N}: commit wall, head-read
  * wall, time-travel read (version 1) wall, pruned-read wall, and the
  * manifest byte size — the structural term that grows with files.
  */
object SnapshotStress {

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(100)
    val spark = GraftSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val table = java.nio.file.Files
      .createTempDirectory("graft_snapstress").toString + "/t"
    val orders = spark.read
      .parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val batch = orders.limit(1000).coalesce(1).cache()
    batch.count()

    val probes = Set(1, 10, 50, n)
    println("SNAP_STRESS commits | commit_s | head_read_s | tt_v1_s | pruned_s | manifest_kb | files")
    (1 to n).foreach { i =>
      val dt = time {
        SnapshotTable.commit(
          batch.withColumn("o_orderkey", col("o_orderkey") + lit(i * 10000000L)),
          table, append = true, statsColumns = Seq("o_orderkey"))
      }
      if (probes(i)) {
        val head = time { SnapshotTable.read(spark, table).count() }
        val tt = time { SnapshotTable.read(spark, table, Some(1L)).count() }
        val lo = 1L * 10000000L
        val pruned = time {
          SnapshotTable.read(spark, table)
            .filter(col("o_orderkey").between(lo, lo + 5000000L))
            .count()
        }
        val mkb = java.nio.file.Files
          .size(java.nio.file.Paths.get(table, "manifests", s"v$i.manifest")) / 1024
        println(f"SNAP_STRESS $i%7d | $dt%8.2f | $head%11.2f | $tt%7.2f | $pruned%8.2f | $mkb%11d | $i%5d")
      }
    }

    // MERGE scaling: after N key-disjoint commits (N files), a batch
    // touching k of them must cost ∝ k (touched files + batch), never
    // ∝ N — the copy-on-write selling point. Batches bump the price of
    // one key inside each of the first k commits' key ranges.
    println("SNAP_MERGE touched_target | files_rewritten | files_total | merge_s")
    Seq(1, math.max(1, n / 10), math.max(1, n / 2), n).distinct.foreach { k =>
      val keys = (1 to k).map(i => i * 10000000L + 500L)
      val batch = spark
        .createDataFrame(spark.sparkContext.parallelize(keys.map(Tuple1(_)), 4))
        .toDF("o_orderkey")
        .crossJoin(orders.limit(1).select("o_custkey", "o_totalprice"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .withColumn("_del", lit(false))
      val t0 = System.nanoTime()
      val (rw, tot, _) = SnapshotTable.merge(
        batch, table, "o_orderkey", deleteCol = Some("_del"))
      graft.GraftCache.clear()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"SNAP_MERGE $k%14d | $rw%15d | $tot%11d | $dt%7.2f")
    }

    // DV / rollback / branch arm: each op's wall must be METADATA-time
    // — flat in table size and history depth. deleteKeys touches zero
    // data files (asserted); rollback and branch fork/publish are one
    // manifest write each regardless of the N-commit history.
    println("SNAP_META op | wall_s | note")
    val cur0 = SnapshotTable.currentVersion(table)
    val f0 = SnapshotTable.manifest(table, cur0).files.size
    val delBatch = spark
      .createDataFrame(spark.sparkContext.parallelize(
        (1 to math.max(1, n / 2)).map(i => Tuple1(i * 10000000L + 700L)), 4))
      .toDF("o_orderkey")
    val tDel = time { SnapshotTable.deleteKeys(delBatch, table, "o_orderkey") }
    val f1 = SnapshotTable.manifest(table, cur0 + 1).files.size
    require(f1 == f0, s"deleteKeys rewrote data files ($f0 -> $f1)")
    println(f"SNAP_META delete_mor | $tDel%6.2f | ${n / 2} keys, $f0 files untouched")
    val tReadDv = time { SnapshotTable.read(spark, table).count() }
    println(f"SNAP_META read_with_dv | $tReadDv%6.2f | per-file DV application on head read")
    val tRb = time { SnapshotTable.rollback(table, toVersion = cur0) }
    println(f"SNAP_META rollback | $tRb%6.2f | to v$cur0 at history depth ${cur0 + 1}")
    val tFork = time { SnapshotTable.createBranch(table, "stress") }
    val bp = SnapshotTable.branchPath(table, "stress")
    SnapshotTable.commit(
      batch.withColumn("o_orderkey", col("o_orderkey") + lit((n + 1) * 10000000L)),
      bp, append = true, statsColumns = Seq("o_orderkey"))
    val tPub = time { SnapshotTable.publishBranch(table, "stress") }
    println(f"SNAP_META branch_fork | $tFork%6.2f | zero-copy fork of $f0-file table")
    println(f"SNAP_META branch_publish | $tPub%6.2f | fast-forward incl. 1 branch commit")
    spark.stop()
  }
}
