package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{HadoopSnapshotIO, SnapshotIO, SnapshotTable}

/** Round-15 wave: zero-copy rollback (Delta RESTORE shape) and the PNG
  * arm of the real-codec seam.
  */
class Round15Spec extends AnyFunSuite {
  import TestSpark._

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft_snap15").toString + "/t"

  private def keys(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("o_orderkey").collect().map(_.getLong(0)).toSet

  private def ordersNarrow = Tables(spark, sf).orders
    .select("o_orderkey", "o_orderpriority", "o_totalprice")

  test("rollback: head equals the restored snapshot, zero data bytes written") {
    val table = tmpTable()
    val o = ordersNarrow
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 0), table, append = false)
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 1), table, append = true)
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 2), table, append = true)
    val dataDirsBefore = new java.io.File(s"$table/data").list().toSet
    val v = SnapshotTable.rollback(table, toVersion = 2L)
    assert(v === 4L)
    // head state == v2 state, byte-for-byte the same files
    assert(keys(SnapshotTable.read(spark, table)) ===
      keys(SnapshotTable.read(spark, table, Some(2L))))
    assert(SnapshotTable.manifest(table, 4L).files === SnapshotTable.manifest(table, 2L).files)
    // ZERO-COPY: the rollback wrote no data directory at all
    assert(new java.io.File(s"$table/data").list().toSet === dataDirsBefore)
    // audit trail: the bad v3 stays reachable until vacuum
    assert(keys(SnapshotTable.read(spark, table, Some(3L))) === keys(o))
    // history records the restore
    val h = SnapshotTable.history(spark, table).collect()
      .map(r => (r.getLong(0), r.getString(2))).toMap
    assert(h(4L) === "rollback")
    assert(SnapshotTable.manifest(table, 4L).extra("restored-from") === "2")
  }

  test("rollback: incremental readers refuse to scan across it, loudly") {
    val table = tmpTable()
    val o = ordersNarrow
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 0), table, append = false)
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 1), table, append = true)
    SnapshotTable.rollback(table, toVersion = 1L)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.incrementalFiles(table, fromVersion = 2L, toVersion = 3L)
    }
    assert(e.getMessage.contains("rollback"))
  }

  test("rollback: vacuum keeps the restored files while the rollback head is retained") {
    val table = tmpTable()
    val o = ordersNarrow
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 0), table, append = false)
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 1), table, append = true)
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 2), table, append = true)
    SnapshotTable.rollback(table, toVersion = 2L) // v4 references v1+v2 files
    val expected = keys(SnapshotTable.read(spark, table))
    // retain v3+v4: v4's references protect the v1/v2-era data files
    // even though their own manifests age out
    SnapshotTable.vacuum(table, retainLast = 2)
    assert(keys(SnapshotTable.read(spark, table)) === expected,
      "vacuum reclaimed files still referenced by the rollback head")
  }

  test("wap: branch writes invisible on main; publish is a zero-copy fast-forward") {
    val table = tmpTable()
    val o = ordersNarrow
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 0), table, append = false)
    val mainKeys = keys(SnapshotTable.read(spark, table))
    SnapshotTable.createBranch(table, "wap")
    val bp = SnapshotTable.branchPath(table, "wap")
    // zero-copy fork: branch v1 IS main's file list
    assert(SnapshotTable.manifest(bp, 1L).files === SnapshotTable.manifest(table, 1L).files)
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 1), bp, append = true)
    // invisible on main until publish
    assert(keys(SnapshotTable.read(spark, table)) === mainKeys)
    val mainDataBefore = new java.io.File(s"$table/data").list().toSet
    val v = SnapshotTable.publishBranch(table, "wap")
    assert(v === 2L)
    // publish moved METADATA only: no new dir under main's data root
    assert(new java.io.File(s"$table/data").list().toSet === mainDataBefore)
    assert(keys(SnapshotTable.read(spark, table)) ===
      keys(o.filter(col("o_orderkey") % 3 =!= 2)))
    // pure-append branch -> published as append: incremental readers
    // keep working across the WAP boundary and see exactly the staged rows
    val delta = keys(SnapshotTable.readIncremental(spark, table, 1L, 2L))
    assert(delta === keys(o.filter(col("o_orderkey") % 3 === 1)))
  }

  test("wap: publish refuses fast-forward when main moved since the fork") {
    val table = tmpTable()
    val o = ordersNarrow
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 0), table, append = false)
    SnapshotTable.createBranch(table, "stale")
    SnapshotTable.commit(
      o.filter(col("o_orderkey") % 3 === 1),
      SnapshotTable.branchPath(table, "stale"), append = true)
    // main moves underneath the branch
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 2), table, append = true)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.publishBranch(table, "stale")
    }
    assert(e.getMessage.contains("re-fork"))
  }

  test("wap: dropBranch reclaims an audit-failed branch, keeps published files") {
    val table = tmpTable()
    val o = ordersNarrow
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 0), table, append = false)
    // unpublished branch: its writes are reclaimed wholesale
    SnapshotTable.createBranch(table, "bad")
    val bpBad = SnapshotTable.branchPath(table, "bad")
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 1), bpBad, append = true)
    val (mDel, fDel) = SnapshotTable.dropBranch(table, "bad")
    assert(mDel === 2 && fDel > 0)
    // published branch: its data files are now main's and must survive
    SnapshotTable.createBranch(table, "good")
    val bpGood = SnapshotTable.branchPath(table, "good")
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 2), bpGood, append = true)
    SnapshotTable.publishBranch(table, "good")
    val expected = keys(SnapshotTable.read(spark, table))
    SnapshotTable.dropBranch(table, "good") // reclaims only sidecars (_SUCCESS/.crc)
    val refs = SnapshotTable
      .manifest(table, SnapshotTable.currentVersion(table)).files.map(_.path)
    refs.foreach(p => assert(new java.io.File(p).exists, s"dropBranch deleted $p"))
    assert(keys(SnapshotTable.read(spark, table)) === expected)
  }

  test("deletion vectors: delete touches zero data files; appends carry DVs forward") {
    val table = tmpTable()
    val o = ordersNarrow
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 0), table, append = false)
    val filesBefore = SnapshotTable.manifest(table, 1L).files
    SnapshotTable.deleteKeys(
      o.filter(col("o_orderkey") % 30 === 0).select("o_orderkey"), table, "o_orderkey")
    // zero-rewrite: the data file list is IDENTICAL, only metadata moved
    assert(SnapshotTable.manifest(table, 2L).files === filesBefore)
    val expect2 = keys(o.filter(col("o_orderkey") % 3 === 0 && col("o_orderkey") % 30 =!= 0))
    assert(keys(SnapshotTable.read(spark, table)) === expect2)
    // an append AFTER the delete must not resurrect the deleted keys
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 1), table, append = true)
    assert(keys(SnapshotTable.read(spark, table)) ===
      expect2 ++ keys(o.filter(col("o_orderkey") % 3 === 1)))
    // time travel: v1 still shows the pre-delete state
    assert(keys(SnapshotTable.read(spark, table, Some(1L))) ===
      keys(o.filter(col("o_orderkey") % 3 === 0)))
    // filtered reads flow through the same DV-applied path
    val pruned = SnapshotTable.read(spark, table)
      .filter(col("o_orderkey").between(0L, 1000000L))
    assert(graft.Stage.plannedFiles(pruned.queryExecution.sparkPlan) ===
      SnapshotTable.manifest(table, 3L).filesFor("o_orderkey", 0L, 1000000L).size)
    assert(keys(pruned) ===
      (expect2 ++ keys(o.filter(col("o_orderkey") % 3 === 1))).filter(_ <= 1000000L))
  }

  test("deletion vectors: merge refuses while outstanding; compaction materializes") {
    val table = tmpTable()
    val o = ordersNarrow
    SnapshotTable.commit(
      o.repartitionByRange(4, col("o_orderkey")).sortWithinPartitions("o_orderkey"),
      table, append = false, statsColumns = Seq("o_orderkey"))
    SnapshotTable.deleteKeys(
      o.filter(col("o_orderkey") % 10 === 7).select("o_orderkey"), table, "o_orderkey")
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.merge(
        o.limit(5).withColumn("_del", lit(false)), table, "o_orderkey",
        deleteCol = Some("_del"))
    }
    assert(e.getMessage.contains("resurrect"))
    val expected = keys(SnapshotTable.read(spark, table))
    SnapshotTable.compactSnapshot(spark, table, targetBytes = 64L << 10,
      clusterBy = Seq("o_orderkey"))
    val head = SnapshotTable.manifest(table, SnapshotTable.currentVersion(table))
    assert(head.extra.get("dvfiles").forall(_.isEmpty), "compaction must clear DV state")
    assert(keys(SnapshotTable.read(spark, table)) === expected,
      "materialization changed the visible rows")
    // merge works again once the deletes are materialized
    SnapshotTable.merge(
      o.limit(5).withColumn("_del", lit(false)), table, "o_orderkey",
      deleteCol = Some("_del"))
  }

  test("deletion vectors: vacuum protects DV sidecars; rollback restores pre-delete rows") {
    val table = tmpTable()
    val o = ordersNarrow
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 0), table, append = false)
    SnapshotTable.deleteKeys(
      o.filter(col("o_orderkey") % 30 === 0).select("o_orderkey"), table, "o_orderkey")
    val afterDelete = keys(SnapshotTable.read(spark, table))
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 1), table, append = true)
    SnapshotTable.vacuum(table, retainLast = 2) // v1's manifest ages out; v2's DV must survive
    assert(keys(SnapshotTable.read(spark, table, Some(2L))) === afterDelete,
      "vacuum reclaimed a referenced deletion vector")
    // rollback to the post-delete v2 carries its DV state verbatim
    SnapshotTable.rollback(table, toVersion = 2L)
    assert(keys(SnapshotTable.read(spark, table)) === afterDelete)
  }

  test("deletion vectors: rollback to a pre-delete snapshot restores the rows") {
    val table = tmpTable()
    val o = ordersNarrow
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 0), table, append = false)
    val preDelete = keys(SnapshotTable.read(spark, table))
    SnapshotTable.deleteKeys(
      o.filter(col("o_orderkey") % 30 === 0).select("o_orderkey"), table, "o_orderkey")
    assert(keys(SnapshotTable.read(spark, table)) !== preDelete)
    SnapshotTable.rollback(table, toVersion = 1L) // v1 carries no DV state
    assert(keys(SnapshotTable.read(spark, table)) === preDelete)
  }

  test("pcm16: negative samples sign-extend — an unsigned read would shift by 65536") {
    import graft.multimodal.RealCodecs
    import graft.multimodal.StubDecoder.Blob
    // '!' (33) -> (33-64)*257 = -7967: genuinely negative samples
    val text = "!Az"
    val p = RealCodecs.pcm16Stats(Blob(6, RealCodecs.wav16Bytes(6, text)))
    val ss = text.map(c => (c - 64) * 257)
    assert(p.sample_rate === 16000 + (6 % 4) * 8000)
    assert(p.n_samples === 3L)
    assert(p.sum_s === ss.map(_.toLong).sum) // negative-dominated: -5911
    assert(p.energy === ss.map(s => s.toLong * s).sum)
    assert(p.peak === ss.map(math.abs).max)
    // 8-bit consumers refuse the 16-bit file loudly instead of misreading
    intercept[IllegalArgumentException] {
      RealCodecs.parseOne(Blob(6, RealCodecs.wav16Bytes(6, text)))
    }
  }

  test("wd_resource_alloc: top candidate's score recounts by brute force") {
    val df = SparkEntry.queries("wd_resource_alloc")(spark, sf)
    val top = df.collect()
    assert(top.length === 20)
    // rebuild the symmetric neighbor sets from the same query the
    // catalog's oracle uses and recount the RA score of row 1 by hand
    val cn = SparkEntry.queries("wd_link_predict")(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    top.foreach { r =>
      val (x, y, n, score) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      // every shared neighbor has degree >= 2 (it touches both x and y),
      // so score <= n * 500000; and degree >= 1 gives score <= n * 1e6
      assert(score <= n * 500000L, s"($x,$y): score $score exceeds degree-2 bound")
      assert(score > 0L)
      // pairs in BOTH rankings must agree on the common-neighbor count
      cn.get((x, y)).foreach(nc => assert(nc === n, s"($x,$y) n_common mismatch"))
    }
  }

  test("cdc source: change classes per transition; sound where the append source refuses") {
    import graft.sources.{SnapshotCdcSourceProvider, SnapshotTable}
    import org.apache.spark.sql.streaming.Trigger
    val table = tmpTable()
    val o = ordersNarrow.filter(col("o_orderkey") < 3000)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdcck15").toString
    val batches = scala.collection.mutable.Map[Long, Array[org.apache.spark.sql.Row]]()
    def drain(): Unit = {
      val q = spark.readStream
        .format(SnapshotCdcSourceProvider.format)
        .option("path", table)
        .option("key", "o_orderkey")
        .load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          batches(id) = b.collect(); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    SnapshotTable.commit(
      o.repartitionByRange(2, col("o_orderkey")).sortWithinPartitions("o_orderkey"),
      table, append = false, statsColumns = Seq("o_orderkey"))
    drain() // batch 0: initial head-state load
    // a merge (updates) and a DV delete: both refuse the append-only
    // incremental scan, both must flow through CDC
    SnapshotTable.merge(
      o.filter(col("o_orderkey") % 10 === 3)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0)
        .withColumn("_del", lit(false)),
      table, "o_orderkey", deleteCol = Some("_del"))
    drain() // batch 1: the merge transition
    SnapshotTable.deleteKeys(
      o.filter(col("o_orderkey") % 10 === 7).select("o_orderkey"), table, "o_orderkey")
    drain() // batch 2: the DV-delete transition
    intercept[IllegalArgumentException] {
      SnapshotTable.incrementalFiles(table, 1L, 3L)
    }
    assert(batches.keySet === Set(0L, 1L, 2L))
    def classes(id: Long) =
      batches(id).groupBy(_.getString(0)).view.mapValues(_.length).toMap
    // batch 0 = initial head-state load: v1 rows as inserts, nothing else
    assert(classes(0L).keySet === Set("insert"))
    assert(classes(0L)("insert") === o.count().toInt)
    // batch 1 = the merge: update pre+postimages, equal counts, no inserts
    val c1 = classes(1L)
    assert(c1.keySet === Set("update_preimage", "update_postimage"))
    assert(c1("update_preimage") === c1("update_postimage"))
    // batch 2 = the DV delete: delete rows only
    assert(classes(2L).keySet === Set("delete"))
    assert(classes(2L)("delete") ===
      o.filter(col("o_orderkey") % 10 === 7).count().toInt)
  }

  test("text_hapax: one stratum recounts by hand; identities hold everywhere") {
    val rows = SparkEntry.queries("text_hapax")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nTok, nTyp, nHap, nDis) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(nHap + nDis <= nTyp && nTyp <= nTok)
      assert(r.getLong(6) === nHap * 1000000L / nTyp) // hapax_ppm
      assert(r.getLong(7) === nTyp * 1000000L / nTok) // ttr_ppm
    }
    // brute-force recount of the first stratum from the raw corpus
    val (lang, source) = (rows.head.getString(0), rows.head.getString(1))
    val toks = Tables(spark, sf).documents
      .filter(col("lang") === lang && col("source") === source)
      .select("text").collect().flatMap(_.getString(0).split(" ", -1))
    val freq = toks.groupBy(identity).view.mapValues(_.length).toMap
    assert(rows.head.getLong(2) === toks.length.toLong)
    assert(rows.head.getLong(3) === freq.size.toLong)
    assert(rows.head.getLong(4) === freq.count(_._2 == 1).toLong)
    assert(rows.head.getLong(5) === freq.count(_._2 == 2).toLong)
  }

  test("ann_ivf_snapshot: equals the direct index; cell stats prune across the append") {
    import graft.sources.SnapshotTable
    // the transactional detour must be lossless
    val snap = SparkEntry.queries("ann_ivf_snapshot")(spark, sf).collect().map(_.toString)
    val direct = SparkEntry.queries("ann_index_append")(spark, sf).collect().map(_.toString)
    assert(snap.toSeq === direct.toSeq)
    // the query staged its table at the deterministic Stage path:
    // per-cell reads must prune to strict file subsets even though the
    // day-2 append fragmented the clustering (each commit's files
    // carry their own cell ranges)
    val table = graft.Stage.dir("graft_ivfsnap_", sf).getPath
    val m = SnapshotTable.manifest(table, 2L)
    assert(m.extra.getOrElse("mode", "?") === "append")
    val cells = SnapshotTable.read(spark, table)
      .select("cell").distinct().collect().map(_.getLong(0))
    assert(cells.length > 1)
    // the source rows: every committed data file, read raw (no deletes)
    val source = spark.read.parquet(m.files.map(_.path): _*)
    cells.foreach { c =>
      val hit = m.filesFor("cell", c, c)
      assert(hit.size < m.files.size, s"cell $c read does not prune at the manifest")
      val pruned = SnapshotTable.read(spark, table).filter(col("cell") === c)
      assert(graft.Stage.plannedFiles(pruned.queryExecution.sparkPlan) === hit.size,
        s"cell $c read plans other files than the manifest's hit")
      // soundness: the pruned subset still holds every row of the cell
      assert(pruned.count() === source.filter(col("cell") === c).count(),
        s"cell $c pruned read lost rows")
    }
  }

  test("readAsOf: version order beats a disagreeing timestamp; pre-history is loud") {
    import graft.sources.SnapshotTable
    val table = tmpTable()
    val o = ordersNarrow
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 0), table, append = false,
      extra = Map("ts" -> "100"))
    // a backfill stamped EARLIER than its predecessor (clock skew /
    // late replay): version order is authoritative (the Delta rule) —
    // reading at ts=100 must resolve to the NEWEST version ≤ 100,
    // which by version order is v2
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 1), table, append = true,
      extra = Map("ts" -> "50"))
    assert(keys(SnapshotTable.readAsOf(spark, table, 100L)) ===
      keys(o.filter(col("o_orderkey") % 3 =!= 2)))
    assert(keys(SnapshotTable.readAsOf(spark, table, 50L)) ===
      keys(o.filter(col("o_orderkey") % 3 =!= 2))) // v2's own stamp
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.readAsOf(spark, table, 10L)
    }
    assert(e.getMessage.contains("at or before"))
  }

  test("rel_clustering_coeff: brute-force recount on the co-purchase graph") {
    val rows = SparkEntry.queries("rel_clustering_coeff")(spark, sf).collect()
    assert(rows.nonEmpty)
    // rebuild the thresholded co-purchase graph and recount by hand
    val li = Tables(spark, sf).lineitem
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // mirror the query's row-level pair semantics (no per-order part
    // dedup — duplicate lines of a part contribute multiplicity, as
    // the SQL self-join does)
    val edges = li.groupBy(_._1).values.flatMap { grp =>
      val ps = grp.map(_._2).sorted
      for {
        i <- ps.indices; j <- i + 1 until ps.length
        if ps(i) < ps(j)
      } yield (ps(i), ps(j))
    }.groupBy(identity).filter(_._2.size >= 2).keySet
    // (NOT Map.collect returning pairs — that would rebuild a Map
    // keyed by u and silently collapse the edge set)
    val adj = edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    rows.foreach { r =>
      val (p, d, t, cc) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val ns = adj(p)
      assert(d === ns.size.toLong, s"part $p degree")
      val triBrute = ns.toSeq.combinations(2).count {
        case Seq(a, b) => adj(a).contains(b)
        case _ => false
      }
      assert(t === triBrute.toLong, s"part $p triangle incidence")
      assert(cc === 2000000L * t / (d * (d - 1)))
      assert(cc >= 0 && cc <= 1000000L)
    }
  }

  test("wd_hits: round-1 identities — auth seeds are indegrees, hubs sum them") {
    val rows = SparkEntry.queries("wd_hits")(spark, sf).collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      assert(r.getLong(1) >= 0 && r.getLong(2) >= 0)
      assert(r.getLong(1) > 0 || r.getLong(2) > 0, "all-zero vertex ranked")
    }
    // monotone: ordered by (auth desc, hub desc, id)
    val key = rows.map(r => (-r.getLong(1), -r.getLong(2), r.getLong(0))).toSeq
    assert(key === key.sorted)
  }

  test("rel_mode_group: modal value recounts by brute force, tie-break deterministic") {
    val rows = SparkEntry.queries("rel_mode_group")(spark, sf).collect()
    val li = Tables(spark, sf).lineitem
      .select(col("l_returnflag"), col("l_quantity").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    rows.foreach { r =>
      val flag = r.getString(0)
      val freq = li.filter(_._1 == flag).groupBy(_._2).view.mapValues(_.length.toLong).toMap
      val best = freq.toSeq.minBy { case (q, c) => (-c, q) } // max count, min value
      assert((r.getLong(1), r.getLong(2)) === best, s"flag $flag")
      assert(r.getLong(3) === freq.values.sum)
      assert(r.getLong(4) === best._2 * 1000000L / freq.values.sum)
    }
  }

  test("format relation: pushed filters prune at the manifest, per filter shape") {
    import graft.sources.{ManifestPruning, SnapshotTable}
    import org.apache.spark.sql.sources._
    val table = tmpTable()
    // o_skey: the key as a zero-padded string, clustered like the key
    val o = ordersNarrow.withColumn("o_skey", format_string("%08d", col("o_orderkey")))
    SnapshotTable.commit(
      o.repartitionByRange(8, col("o_orderkey")).sortWithinPartitions("o_orderkey"),
      table, append = false, statsColumns = Seq("o_orderkey", "o_skey"))
    val m = SnapshotTable.manifest(table, 1L)
    val total = m.files.size
    def n(fs: Filter*): Int = ManifestPruning.prunedEntries(m, m.schema, fs.toArray).size
    // every supported shape prunes strictly on the clustered key
    assert(n(EqualTo("o_orderkey", 5L)) < total)
    assert(n(LessThanOrEqual("o_orderkey", 100L)) < total)
    assert(n(GreaterThan("o_orderkey", 14000L)) < total)
    assert(n(In("o_orderkey", Array(1L, 2L, 3L))) < total)
    assert(n(And(GreaterThanOrEqual("o_orderkey", 0L), LessThan("o_orderkey", 50L))) < total)
    assert(n(LessThan("o_skey", "00000100")) < total)
    assert(n(LessThanOrEqual("o_skey", "00000100")) < total)
    assert(n(GreaterThan("o_skey", "00005000")) < total)
    assert(n(GreaterThanOrEqual("o_skey", "00005000")) < total)
    // string bounds: a strict shape drops the file holding the bound,
    // an inclusive one keeps it
    val lo = m.files.map(_.sstats("o_skey")._1).min
    val hi = m.files.map(_.sstats("o_skey")._2).max
    assert(n(LessThan("o_skey", lo)) === 0 && n(LessThanOrEqual("o_skey", lo)) === 1)
    assert(n(GreaterThan("o_skey", hi)) === 0 && n(GreaterThanOrEqual("o_skey", hi)) === 1)
    // unsupported shapes and stat-less columns never prune (soundness)
    assert(n(EqualTo("o_orderpriority", "1-URGENT")) === total)
    assert(n(StringContains("o_orderpriority", "URGENT")) === total)
    // a format read prunes through the same pushdown and keeps every row
    val fmt = spark.read.format(graft.sources.SnapshotRelationProvider.format)
      .option("path", table).load().filter(col("o_orderkey") <= 100)
    assert(graft.Stage.plannedFiles(fmt.queryExecution.sparkPlan) ===
      m.filesFor("o_orderkey", Long.MinValue, 100L).size)
    assert(keys(fmt) === keys(o.filter(col("o_orderkey") <= 100)))
  }

  test("format relation: the write path maps SaveModes onto the commit protocol") {
    import graft.sources.{SnapshotRelationProvider, SnapshotTable}
    import org.apache.spark.sql.SaveMode
    val table = tmpTable()
    val o = ordersNarrow
    def write(df: org.apache.spark.sql.DataFrame, mode: SaveMode): Unit =
      df.write.format(SnapshotRelationProvider.format)
        .option("path", table).option("statsColumns", "o_orderkey").mode(mode).save()
    write(o.filter(col("o_orderkey") % 3 === 0), SaveMode.Overwrite)
    write(o.filter(col("o_orderkey") % 3 === 1), SaveMode.Append)
    assert(SnapshotTable.currentVersion(table) === 2L)
    assert(SnapshotTable.manifest(table, 2L).files.forall(_.stats.contains("o_orderkey")))
    assert(keys(SnapshotTable.read(spark, table)) ===
      keys(o.filter(col("o_orderkey") % 3 =!= 2)))
    // Ignore keeps the table; ErrorIfExists refuses; Overwrite restarts
    write(o.limit(1), SaveMode.Ignore)
    assert(SnapshotTable.currentVersion(table) === 2L)
    intercept[IllegalStateException] { write(o.limit(1), SaveMode.ErrorIfExists) }
    write(o.filter(col("o_orderkey") % 3 === 2), SaveMode.Overwrite)
    assert(keys(SnapshotTable.read(spark, table)) ===
      keys(o.filter(col("o_orderkey") % 3 === 2)))
    // history intact: v2 still time-travels
    assert(keys(SnapshotTable.read(spark, table, Some(2L))) ===
      keys(o.filter(col("o_orderkey") % 3 =!= 2)))
  }

  test("hadoop IO: rollback, branches and deletion vectors run the same protocol") {
    // the continuation ops are pure metadata + the shared read path, so
    // they must be provider-independent by construction — pinned here
    // by running the full lifecycle through the Hadoop FileContext arm
    val io: SnapshotIO = new HadoopSnapshotIO(new org.apache.hadoop.conf.Configuration())
    val table = tmpTable()
    val o = ordersNarrow
    SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 0), table, append = false, io = io)
    // deletion vectors: sidecar + pointer through hadoop primitives
    SnapshotTable.deleteKeys(
      o.filter(col("o_orderkey") % 30 === 0).select("o_orderkey"), table, "o_orderkey", io = io)
    val afterDelete = keys(SnapshotTable.read(spark, table, io = io))
    assert(afterDelete ===
      keys(o.filter(col("o_orderkey") % 3 === 0 && col("o_orderkey") % 30 =!= 0)))
    // branch fork + commit + fast-forward publish
    SnapshotTable.createBranch(table, "h", io = io)
    SnapshotTable.commit(
      o.filter(col("o_orderkey") % 3 === 1),
      SnapshotTable.branchPath(table, "h"), append = true, io = io)
    SnapshotTable.publishBranch(table, "h", io = io)
    // DV state rode the fork and the publish: old deletes still apply
    assert(keys(SnapshotTable.read(spark, table, io = io)) ===
      afterDelete ++ keys(o.filter(col("o_orderkey") % 3 === 1)))
    // zero-copy rollback to the pre-branch version
    SnapshotTable.rollback(table, toVersion = 2L, io = io)
    assert(keys(SnapshotTable.read(spark, table, io = io)) === afterDelete)
    // position deletes: the sidecar write and the read that applies it
    // both run through the Hadoop arm
    SnapshotTable.deletePositions(
      SnapshotTable.read(spark, table, io = io)
        .where(col("o_orderkey") % 7 === 0).select("_file", "_pos"),
      table, io = io)
    assert(keys(SnapshotTable.read(spark, table, io = io)) ===
      afterDelete -- keys(o.filter(col("o_orderkey") % 7 === 0)))
  }

  test("rollback: out-of-range targets and empty tables are refused") {
    val table = tmpTable()
    intercept[IllegalArgumentException] { SnapshotTable.rollback(table, 1L) }
    SnapshotTable.commit(ordersNarrow.limit(5), table, append = false)
    intercept[IllegalArgumentException] { SnapshotTable.rollback(table, 2L) }
    intercept[IllegalArgumentException] { SnapshotTable.rollback(table, 0L) }
  }
}
