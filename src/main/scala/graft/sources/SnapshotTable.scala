package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType, LongType, ShortType, StringType, StructType, TimestampType}

/** Storage primitives the snapshot protocol needs — everything else in
  * [[SnapshotTable]] is storage-agnostic. The one load-bearing method
  * is [[publishExclusive]]: an atomic create-if-absent of the manifest
  * file, which is what makes a commit a commit.
  */
trait SnapshotIO {
  def exists(path: String): Boolean
  def isDir(path: String): Boolean
  /** Child NAMES (not paths) of a directory; empty if absent. */
  def list(dir: String): Seq[String]
  def readString(path: String): String
  /** Write (overwriting) a small metadata file, creating parents. */
  def writeString(path: String, s: String): Unit
  /** Write (overwriting) a small metadata file ATOMICALLY — full content
    * under a hidden temp name, then rename-with-overwrite into place. A
    * crash mid-write can never leave a truncated file at `path`; readers
    * observe either the previous content or the new one. For files that
    * are REWRITTEN in place (e.g. the streaming high-water mark), where
    * [[publishExclusive]]'s create-if-absent contract doesn't fit. */
  def writeStringAtomic(path: String, s: String): Unit
  /** Atomically make `tmp`'s content visible at `target`, FAILING (false)
    * if `target` already exists — of two racing writers exactly one may
    * win. `tmp` may or may not survive; callers delete it afterwards. */
  def publishExclusive(tmp: String, target: String): Boolean
  /** Delete a file or EMPTY directory; false if absent. */
  def delete(path: String): Boolean
  def size(path: String): Long
}

/** Local-filesystem arm: publication is `Files.createLink` — hard-link
  * creation is atomic and fails if the target exists. The fast path for
  * single-box deployments and the unit-test default. */
object LocalSnapshotIO extends SnapshotIO {
  def exists(path: String): Boolean = Files.exists(Paths.get(path))
  def isDir(path: String): Boolean = Files.isDirectory(Paths.get(path))
  def list(dir: String): Seq[String] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) return Nil
    val s = Files.list(p)
    try s.iterator().asScala.map(_.getFileName.toString).toVector
    finally s.close()
  }
  def readString(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
  def writeString(path: String, s: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }
  def writeStringAtomic(path: String, s: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(s".${p.getFileName}.tmp")
    Files.write(tmp, s.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
  def publishExclusive(tmp: String, target: String): Boolean =
    try { Files.createLink(Paths.get(target), Paths.get(tmp)); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
  def delete(path: String): Boolean = Files.deleteIfExists(Paths.get(path))
  def size(path: String): Long = Files.size(Paths.get(path))
}

/** Hadoop-FileSystem arm: the SAME protocol on HDFS / S3A / any Hadoop
  * path — publication is `FileContext.rename(src, dst, Rename.NONE)`,
  * the rename-without-overwrite primitive (atomic on HDFS; object
  * stores with conditional PUT expose it through their committers).
  * This is what lets the table format the 100 TB story leans on publish
  * off one box: everything except this class goes through Spark's own
  * Hadoop write paths already.
  */
final class HadoopSnapshotIO(conf: org.apache.hadoop.conf.Configuration) extends SnapshotIO {
  import org.apache.hadoop.fs.{FileContext, Options, Path => HPath}
  private def fs(p: String) = new HPath(p).getFileSystem(conf)
  def exists(path: String): Boolean = fs(path).exists(new HPath(path))
  def isDir(path: String): Boolean = {
    val f = fs(path); val p = new HPath(path)
    f.exists(p) && f.getFileStatus(p).isDirectory
  }
  def list(dir: String): Seq[String] = {
    val f = fs(dir); val p = new HPath(dir)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.map(_.getPath.getName)
  }
  def readString(path: String): String = {
    val in = fs(path).open(new HPath(path))
    val bos = new java.io.ByteArrayOutputStream()
    try org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 4096, false)
    finally in.close()
    new String(bos.toByteArray, StandardCharsets.UTF_8)
  }
  def writeString(path: String, s: String): Unit = {
    val out = fs(path).create(new HPath(path), true)
    try out.write(s.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }
  def writeStringAtomic(path: String, s: String): Unit = {
    val target = new HPath(path)
    val tmp = new HPath(target.getParent, s".${target.getName}.tmp")
    writeString(tmp.toString, s)
    // rename-with-overwrite: atomic on HDFS; the same FileContext
    // primitive publishExclusive rides, with Rename.OVERWRITE
    val fc = FileContext.getFileContext(target.toUri, conf)
    fc.rename(tmp, target, Options.Rename.OVERWRITE)
  }
  def publishExclusive(tmp: String, target: String): Boolean = {
    val fc = FileContext.getFileContext(new HPath(target).toUri, conf)
    try { fc.rename(new HPath(tmp), new HPath(target), Options.Rename.NONE); true }
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case e: java.io.IOException =>
        // a lost publish race iff the target actually exists now; any
        // other rename IOException (missing parent, transient storage
        // fault) must SURFACE — classifying it as a race would send
        // commitRetry into futile retries that mask the real cause
        if (exists(target)) false else throw e
    }
  }
  def delete(path: String): Boolean = fs(path).delete(new HPath(path), false)
  def size(path: String): Long = fs(path).getFileStatus(new HPath(path)).getLen
}

/** Minimal snapshot-manifest table format — the transactional layer the
  * plain directory layouts (src_partitioned, ann_index_persist,
  * dedup_lsh_incremental's index) lack, and the missing piece of the
  * day-2 story those incremental operators opened: atomic commits,
  * schema history + add-column evolution, time travel, manifest-level
  * file pruning (integer AND string keys), incremental change-scans,
  * copy-on-write row-level MERGE, and transactional maintenance
  * (compaction, vacuum) over immutable parquet data files.
  *
  * Layout under a table root:
  * {{{
  *   data/v<N>_<token>/part-*.parquet   immutable files of commit N
  *   manifests/v<N>.manifest            the commit record (text lines)
  * }}}
  *
  * The COMMIT is the atomic, exclusive creation of
  * `manifests/v<N>.manifest` — the Delta/Iceberg protocol shape:
  *
  *   1. data files are written first, under a per-attempt
  *      uniquely-tokened directory (two racing writers can never
  *      clobber each other's data; a crashed attempt leaves an orphan
  *      directory no manifest references — invisible to readers);
  *   2. the manifest content (schema JSON + file list, each file
  *      optionally carrying per-column min/max stats) is fully written
  *      to a hidden temp file;
  *   3. publication is [[SnapshotIO.publishExclusive]] — hard-link
  *      create on the local arm, FileContext rename-without-overwrite
  *      on the Hadoop arm — so of two writers racing on the same
  *      version exactly one wins and the loser gets a
  *      ConcurrentModificationException to retry at N+1.
  *
  * A reader resolves `currentVersion` = max published manifest and
  * loads EXACTLY the manifest's file list with the manifest's schema —
  * never a directory listing — so in-flight commits, orphaned data
  * dirs, and half-written temp manifests are all invisible, and any
  * prior version stays readable (time travel) until `vacuum` prunes it.
  * NOTE the standard retention hazard: a reader pinned to a snapshot
  * older than `retainLast` can fail mid-scan once vacuum reclaims its
  * files — size retention to the longest-running reader.
  *
  * Scale posture: the manifest holds one line per data file — metadata
  * proportional to the file count, exactly what a 100 TB table's
  * planning step reads instead of a million-object listing; per-file
  * min/max stats make selective scans prune AT THE MANIFEST (the
  * Iceberg headline move — zero data files opened for a miss); data
  * files are immutable so appends cost O(new data), and MERGE rewrites
  * only the files whose recorded key ranges the batch touches; the
  * commit point is one metadata operation regardless of table size.
  */
object SnapshotTable {

  /** The shared stat-range shape of a file entry AND a segment
    * reference: per-column integer / raw-string [min, max] bounds.
    * Pruning predicates written against this trait apply at BOTH
    * granularities — skip a whole segment without opening it, then
    * skip files inside the segments that survived. */
  sealed trait StatRanges {
    def stats: Map[String, (Long, Long)]
    def sstats: Map[String, (String, String)]
    /** Per-column (nullCount, rowCount) — what prunes IS [NOT] NULL:
      * nulls == 0 proves no NULL row, nulls == rows proves no non-NULL
      * row. Also the per-file row count a join sizer wants. */
    def nstats: Map[String, (Long, Long)]
    /** Per-column NDV estimate (HLL++ at commit — deterministic). At
      * file granularity it is the file's distinct count (±rsd); at
      * segment granularity the SUM of the contained files' estimates —
      * an UPPER bound on the segment's true NDV (values shared across
      * files double-count), which is the safe direction for the one
      * decision it feeds: "is this side provably small enough to
      * broadcast" (an upper bound can only under-broadcast, never
      * blow an executor). */
    def dstats: Map[String, Long]
  }

  /** One data file with optional per-column (min, max) stats — integer
    * ranges in `stats`, raw-string ranges in `sstats` (compared
    * byte-wise over UTF-8, matching Spark's binary string ordering, so
    * a bound recorded by Spark's min/max is sound at prune time) —
    * plus per-column (nullCount, rowCount) in `nstats`, and the file's
    * byte `size` (−1 on legacy entries written before sizes were
    * recorded): what V2 scan planning splits on and what the CBO's
    * size estimate sums — without one filesystem stat call per file. */
  final case class FileEntry(
      path: String,
      stats: Map[String, (Long, Long)],
      sstats: Map[String, (String, String)] = Map.empty,
      nstats: Map[String, (Long, Long)] = Map.empty,
      dstats: Map[String, Long] = Map.empty,
      size: Long = -1L,
      // COMMIT SEQUENCE (Iceberg's data-sequence-number): the version
      // that ADDED this file. A deletion vector stamped with sequence s
      // applies only to rows from files with seq < s — what lets a
      // merge-on-read commit delete pre-images AND append post-images
      // in one version without the DV swallowing its own post-images.
      // -1 = freshly built in memory, stamped at publish; parsed legacy
      // entries without a tag read as 0 (before every DV — old global
      // semantics preserved).
      seq: Long = -1L) extends StatRanges {
    def line: String = {
      val ist = stats.toSeq.sortBy(_._1).map { case (c, (lo, hi)) => s"$c:$lo:$hi" }
      val sst = sstats.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
        s"$c:s:${FileEntry.hex(lo)}:${FileEntry.hex(hi)}"
      }
      val nst = nstats.toSeq.sortBy(_._1).map { case (c, (n, r)) => s"$c:n:$n:$r" }
      val dst = dstats.toSeq.sortBy(_._1).map { case (c, d) => s"$c:d:$d" }
      val sz = if (size >= 0) Seq(s"sz:$size") else Nil
      val sq = if (seq > 0) Seq(s"seq:$seq") else Nil
      (path +: (sz ++ sq ++ ist ++ sst ++ nst ++ dst)).mkString("|")
    }
  }

  object FileEntry {
    // string bounds ride the line hex-encoded: a value containing the
    // '|' / ':' / newline delimiters must not corrupt the manifest
    private[sources] def hex(s: String): String =
      s.getBytes(StandardCharsets.UTF_8).map(b => f"${b & 0xff}%02x").mkString
    private[sources] def unhex(h: String): String =
      new String(h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray, StandardCharsets.UTF_8)

    def parse(s: String): FileEntry = {
      val parts = s.split('|')
      val ist = Map.newBuilder[String, (Long, Long)]
      val sst = Map.newBuilder[String, (String, String)]
      val nst = Map.newBuilder[String, (Long, Long)]
      val dst = Map.newBuilder[String, Long]
      var size = -1L
      var seq = 0L // legacy entries (no tag) predate every stamped DV
      parts.tail.foreach { st =>
        st.split(':') match {
          case Array("sz", b)        => size = b.toLong
          // 2-token tags are unambiguous: a column named "seq" emits
          // 3-token stat lines (`seq:lo:hi`, `seq:d:n`, ...)
          case Array("seq", v)       => seq = v.toLong
          case Array(c, "s", lo, hi) => sst += c -> (unhex(lo), unhex(hi))
          case Array(c, "s", _*)     => sst += c -> ("", "") // empty-string bounds
          case Array(c, "n", n, r)   => nst += c -> (n.toLong, r.toLong)
          case Array(c, "d", d)      => dst += c -> d.toLong
          case Array(c, lo, hi)      => ist += c -> (lo.toLong, hi.toLong)
          case other =>
            throw new IllegalArgumentException(s"bad stat '${other.mkString(":")}' in '$s'")
        }
      }
      FileEntry(parts.head, ist.result(), sst.result(), nst.result(), dst.result(), size, seq)
    }

    /** Byte-wise unsigned UTF-8 comparison — the ordering Spark's
      * min/max on StringType uses, so prune-time comparisons agree
      * with the recorded bounds for every string, not just ASCII. */
    def bytesLe(a: String, b: String): Boolean = {
      val x = a.getBytes(StandardCharsets.UTF_8)
      val y = b.getBytes(StandardCharsets.UTF_8)
      var i = 0
      while (i < x.length && i < y.length) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d < 0
        i += 1
      }
      x.length <= y.length
    }
  }

  /** A reference to an immutable MANIFEST SEGMENT — a batch of file
    * entries stored ONCE under manifests/segments/ and shared by every
    * later manifest that still carries those files (the Iceberg
    * manifest-list shape). The ref carries the segment's file count and
    * its AGGREGATED per-column bounds (recorded for a column only when
    * every contained file has bounds for it — absence means "must
    * open"), so planning prunes whole segments from the manifest alone:
    * a 1M-file table plans a selective read by reading the manifest
    * (O(segments) lines) plus only the range-hit segments, and an
    * append commit rewrites NO existing file list — it re-references
    * the parent's segments and writes one new segment for its own
    * files. */
  final case class SegmentRef(
      path: String,
      count: Int,
      stats: Map[String, (Long, Long)],
      sstats: Map[String, (String, String)] = Map.empty,
      nstats: Map[String, (Long, Long)] = Map.empty,
      dstats: Map[String, Long] = Map.empty,
      size: Long = -1L,
      units: Boolean = false) extends StatRanges {
    def line: String = {
      val ist = stats.toSeq.sortBy(_._1).map { case (c, (lo, hi)) => s"$c:$lo:$hi" }
      val sst = sstats.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
        s"$c:s:${FileEntry.hex(lo)}:${FileEntry.hex(hi)}"
      }
      val nst = nstats.toSeq.sortBy(_._1).map { case (c, (n, r)) => s"$c:n:$n:$r" }
      val dst = dstats.toSeq.sortBy(_._1).map { case (c, d) => s"$c:d:$d" }
      val sz = if (size >= 0) Seq(s"sz:$size") else Nil
      // the temporal-stats UNIT marker rides the REF (not the segment
      // file): carried-forward refs re-serialize from the parsed object,
      // so a legacy (unmarked) segment stays unmarked through any number
      // of carries into marked manifests — its entries keep scrubbing
      val un = if (units) Seq(s"u:$StatsUnitsV") else Nil
      (path +: count.toString +: (un ++ sz ++ ist ++ sst ++ nst ++ dst)).mkString("|")
    }
  }

  object SegmentRef {
    def parse(s: String): SegmentRef = {
      val parts = s.split('|')
      val ist = Map.newBuilder[String, (Long, Long)]
      val sst = Map.newBuilder[String, (String, String)]
      val nst = Map.newBuilder[String, (Long, Long)]
      val dst = Map.newBuilder[String, Long]
      var size = -1L
      var units = false
      parts.drop(2).foreach { st =>
        st.split(':') match {
          case Array("sz", b)        => size = b.toLong
          // 2-token tags stay unambiguous: a column named "u" emits
          // 3-token stat lines (`u:lo:hi`, `u:d:n`, ...)
          case Array("u", v)         => units = v == StatsUnitsV
          case Array(c, "s", lo, hi) => sst += c -> (FileEntry.unhex(lo), FileEntry.unhex(hi))
          case Array(c, "s", _*)     => sst += c -> ("", "")
          case Array(c, "n", n, r)   => nst += c -> (n.toLong, r.toLong)
          case Array(c, "d", d)      => dst += c -> d.toLong
          case Array(c, lo, hi)      => ist += c -> (lo.toLong, hi.toLong)
          case other =>
            throw new IllegalArgumentException(s"bad stat '${other.mkString(":")}' in '$s'")
        }
      }
      SegmentRef(parts.head, parts(1).toInt, ist.result(), sst.result(), nst.result(),
        dst.result(), size, units)
    }
  }

  final case class Manifest(
      version: Long,
      schema: StructType,
      segments: Seq[SegmentRef],
      inline: Seq[FileEntry],
      extra: Map[String, String],
      stripLong: Set[String] = Set.empty)(val io: SnapshotIO) {

    /** Drop unit-AMBIGUOUS long stats from an entry loaded out of an
      * UNMARKED segment: a segment ref without the `u:` unit token
      * predates the micros/days channel, so its timestamp/date min/max
      * could be in any unit a past writer used — interpreting them
      * would silently mis-prune (prove-absent files that hold matching
      * rows). Absent stats only ever mean "must read", so scrubbing is
      * the safe direction. Null/NDV stats stay — counts carry no unit. */
    private def scrubEntry(e: FileEntry): FileEntry =
      if (stripLong.isEmpty || !stripLong.exists(e.stats.contains)) e
      else e.copy(stats = e.stats -- stripLong)

    /** Load one segment's entries, unit-gated: entries from a segment
      * whose ref lacks the unit marker get their temporal long stats
      * scrubbed (see [[scrubEntry]]). EVERY segment load — lazy reads
      * here and the re-publication paths (mergeBatch, rewriteSegments)
      * — goes through this, so ambiguous stats can never flow into a
      * marked segment. */
    private[sources] def loadSegment(s: SegmentRef): Seq[FileEntry] = {
      val es = SnapshotTable.readSegment(s.path, io)
      if (s.units || stripLong.isEmpty) es else es.map(scrubEntry)
    }

    /** ALL file entries — inline (legacy flat manifests) plus every
      * segment's, loaded on demand. Head reads and maintenance need
      * this; pruned reads go through [[filesMatching]] instead and
      * never load missed segments. */
    lazy val files: Seq[FileEntry] = inline ++ segments.flatMap(loadSegment)

    /** Total file count from the refs alone — no segment is opened. */
    def fileCount: Long = inline.size.toLong + segments.map(_.count.toLong).sum

    /** Two-level pruning: the SAME predicate (written against
      * [[StatRanges]]) first skips whole segments via their aggregated
      * bounds, then skips files inside the segments that survived.
      * Soundness is inherited: a segment's recorded range covers every
      * file it holds, so a segment-miss proves every contained file
      * misses. */
    def filesMatching(pred: StatRanges => Boolean): Seq[FileEntry] =
      inline.filter(pred) ++ segments.filter(pred)
        .flatMap(s => loadSegment(s).filter(pred))

    /** Files that can contain rows with `col` in [lo, hi]: stats prove
      * absence; a file without stats for the column must be read. */
    def filesFor(col: String, lo: Long, hi: Long): Seq[FileEntry] =
      filesMatching(_.stats.get(col).forall { case (mn, mx) => mx >= lo && mn <= hi })

    /** String-key pruning (date strings, ID prefixes): byte-wise range
      * intersection against the recorded string bounds. */
    def filesForString(col: String, lo: String, hi: String): Seq[FileEntry] =
      filesMatching(_.sstats.get(col).forall { case (mn, mx) =>
        FileEntry.bytesLe(lo, mx) && FileEntry.bytesLe(mn, hi)
      })

    /** Files that can hold a row where `col` IS NOT NULL: nulls < rows
      * disproves; absence of nstats means "must read". An all-NULL file
      * (common after an add-column evolution — every pre-evolution file
      * is all-NULL in the added column) is skipped without opening. */
    def filesForNotNull(col: String): Seq[FileEntry] =
      filesMatching(_.nstats.get(col).forall { case (n, r) => n < r })

    /** Files that can hold a row where `col` IS NULL: nulls > 0. */
    def filesForNull(col: String): Seq[FileEntry] =
      filesMatching(_.nstats.get(col).forall { case (n, _) => n > 0 })
  }

  private def manifestDir(table: String): String = s"$table/manifests"

  private def segmentDir(table: String): String = s"$table/manifests/segments"

  /** Spec hook: segment files loaded since JVM start. The O(segments)
    * planning claims — and the join-sizing decision reading manifest
    * LINES alone — pin on this counter, never on wall-clock. */
  private[graft] val segmentLoads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Load one segment's file entries. Segment files are immutable —
    * written once at commit, shared by reference ever after. */
  private[sources] def readSegment(path: String, io: SnapshotIO): Seq[FileEntry] = {
    segmentLoads.incrementAndGet()
    io.readString(path).linesIterator.collect {
      case l if l.startsWith("file=") => FileEntry.parse(l.stripPrefix("file="))
    }.toVector
  }

  /** Files per segment: bounds the cost of loading one segment (and of
    * rewriting the touched ones under MERGE). 10k entries ≈ a few MB of
    * text — at 1M files a manifest lists ~100 segment lines. */
  private[sources] val SegmentMaxFiles = 10000

  /** Write `entries` as new immutable segment file(s) under the table's
    * segment directory and return their refs (count + aggregated
    * bounds). A column's segment bound is recorded only when EVERY
    * contained file carries bounds for it — otherwise the segment must
    * always be opened for that column (stats prove absence only). */
  private def writeSegments(
      table: String,
      version: Long,
      entries: Seq[FileEntry],
      io: SnapshotIO): Seq[SegmentRef] = {
    if (entries.isEmpty) return Nil
    val token = java.util.UUID.randomUUID().toString.take(8)
    entries.grouped(SegmentMaxFiles).zipWithIndex.map { case (chunk, i) =>
      val path = s"${segmentDir(table)}/seg_v${version}_${token}_$i.seg"
      val body = new StringBuilder()
      chunk.foreach(f => body.append(s"file=${f.line}\n"))
      io.writeString(path, body.toString)
      val intCols = chunk.map(_.stats.keySet).reduce(_ intersect _)
      val strCols = chunk.map(_.sstats.keySet).reduce(_ intersect _)
      val nulCols = chunk.map(_.nstats.keySet).reduce(_ intersect _)
      val ndvCols = chunk.map(_.dstats.keySet).reduce(_ intersect _)
      SegmentRef(
        path,
        chunk.size,
        intCols.map { c =>
          val bs = chunk.map(_.stats(c))
          c -> (bs.map(_._1).min, bs.map(_._2).max)
        }.toMap,
        strCols.map { c =>
          val bs = chunk.map(_.sstats(c))
          c -> (
            bs.map(_._1).reduce((a, b) => if (FileEntry.bytesLe(a, b)) a else b),
            bs.map(_._2).reduce((a, b) => if (FileEntry.bytesLe(a, b)) b else a))
        }.toMap,
        nulCols.map { c =>
          val bs = chunk.map(_.nstats(c))
          c -> (bs.map(_._1).sum, bs.map(_._2).sum)
        }.toMap,
        // sum = NDV upper bound (shared values double-count) — the safe
        // direction for broadcast sizing; see StatRanges.dstats
        ndvCols.map(c => c -> chunk.map(_.dstats(c)).sum).toMap,
        // segment byte size: recorded only when EVERY contained file's
        // size is known — an unknown must surface as unknown, never as
        // an undercount (the CBO would broadcast off it)
        if (chunk.forall(_.size >= 0)) chunk.map(_.size).sum else -1L,
        // freshly-written segments are unit-marked: their temporal
        // stats are micros/days by this binary's construction (entries
        // from legacy segments were scrubbed before reaching here)
        units = true)
    }.toVector
  }

  private def manifestPath(table: String, v: Long): String =
    s"${manifestDir(table)}/v$v.manifest"

  /** Highest published version, 0 if the table does not exist yet. */
  def currentVersion(table: String, io: SnapshotIO = LocalSnapshotIO): Long =
    io.list(manifestDir(table))
      .collect { case s if s.startsWith("v") && s.endsWith(".manifest") =>
        s.stripPrefix("v").stripSuffix(".manifest").toLong
      }
      .foldLeft(0L)(math.max)

  def manifest(table: String, version: Long, io: SnapshotIO = LocalSnapshotIO): Manifest = {
    val p = manifestPath(table, version)
    require(io.exists(p), s"snapshot $version of $table is not published")
    var schema: StructType = null
    val segs = Vector.newBuilder[SegmentRef]
    val files = Vector.newBuilder[FileEntry]
    val extra = Map.newBuilder[String, String]
    io.readString(p).linesIterator.foreach { l =>
      if (l.startsWith("schema=")) {
        schema = DataType.fromJson(l.stripPrefix("schema=")).asInstanceOf[StructType]
      } else if (l.startsWith("segment=")) segs += SegmentRef.parse(l.stripPrefix("segment="))
      else if (l.startsWith("file=")) files += FileEntry.parse(l.stripPrefix("file="))
      else l.split("=", 2) match {
        case Array(k, v) => extra += k -> v
        case _           =>
      }
    }
    require(schema != null, s"manifest v$version of $table carries no schema")
    val ex = extra.result()
    // stats-unit gate: temporal long stats are only trusted under a
    // micros/days unit marker — the manifest-level StatsUnitsK stamp
    // (every commit of this binary) gates INLINE entries, the
    // per-segment-ref `u:` token gates each segment (refs carry forward
    // verbatim, so a legacy segment stays unmarked through any number
    // of carries into marked manifests). Unmarked temporal stats were
    // written by a pre-marker binary whose unit is unknowable — served
    // as ABSENT (must-read), never reinterpreted. Segment-ref bounds
    // scrub eagerly here; per-file entries scrub as their segments load
    // (Manifest.loadSegment).
    val temporal: Set[String] = schema.fields.collect {
      case f if f.dataType == TimestampType || f.dataType == DateType => f.name
    }.toSet
    val segs0 = segs.result()
    val inline0 = files.result()
    val segs1 =
      if (temporal.isEmpty) segs0
      else segs0.map(s =>
        if (!s.units && temporal.exists(s.stats.contains))
          s.copy(stats = s.stats -- temporal)
        else s)
    val inline1 =
      if (temporal.isEmpty || ex.get(StatsUnitsK).contains(StatsUnitsV)) inline0
      else inline0.map(f =>
        if (temporal.exists(f.stats.contains)) f.copy(stats = f.stats -- temporal)
        else f)
    Manifest(version, schema, segs1, inline1, ex, temporal)(io)
  }

  /** Write `df` through `factory`'s task-side rolling writers, every
    * manifest stat folded over the same pass the bytes take (no
    * re-read), and return the path-sorted [[FileEntry]]s. Empty input
    * partitions leave no file (the lazy-open rule). */
  private def writeFiles(df: DataFrame, factory: SnapshotDataWriterFactory): Vector[FileEntry] =
    df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        val w = factory.createWriter(
          pid, org.apache.spark.TaskContext.get().taskAttemptId())
        try {
          while (it.hasNext) w.write(it.next())
          w.commit() match {
            case SnapshotWriteMessage(es) => Iterator.single(es)
            case other => throw new IllegalStateException(s"unexpected $other")
          }
        } catch { case t: Throwable => w.abort(); throw t }
      }
    }.collect().flatten.toVector.sortBy(_.path)

  /** What one commit changes relative to the parent manifest it was
    * planned on. Everything it does not name carries forward verbatim
    * through [[commitOn]]: the parent's files (segments by reference),
    * schema, table declarations ([[DeclKeys]]) and delete state. */
  private[graft] final case class Change(
      mode: String,
      // new file entries; built in memory (seq = -1), they are stamped
      // with the commit's sequence
      added: Seq[FileEntry] = Nil,
      // the parent files kept, when not all of them: the segments still
      // by reference, the entries re-bundled with `added` into fresh
      // segments. Some((Nil, Nil)) keeps none.
      kept: Option[(Seq[SegmentRef], Seq[FileEntry])] = None,
      // the schema written: an append's or a merge's must extend the
      // parent's ([[extendSchema]]); any other commit's (create,
      // overwrite, rename) publishes as given
      schema: Option[StructType] = None,
      // the delete state, per format: None carries the parent's; Some is
      // the whole new set — the parent's plus new refs (a ref built with
      // seq = -1 is stamped with the commit's sequence), a replacement,
      // or Nil to clear. New equality refs name their key.
      dvKey: Option[String] = None,
      eqDeletes: Option[Seq[DvRef]] = None,
      posDeletes: Option[Seq[PosDvRef]] = None,
      sets: Map[String, String] = Map.empty,
      unsets: Set[String] = Set.empty,
      // per-commit extras (batchid, restored-from, compacted-from, ...);
      // one never overrides a carried declaration
      extra: Map[String, String] = Map.empty,
      // a long-lived writer's planning manifest: the commit refuses when
      // the parent no longer declares the layout the writer routed and
      // stamped under ([[requireLayoutUnmoved]])
      plannedOn: Option[Manifest] = None,
      // publish on this version instead of the parent's: a rollback, fork
      // or branch publish republishes another manifest's state on top
      onto: Option[Long] = None)

  /** A stand-in for a parent the commit does not read: version
    * `version`, with no files, schema, declarations or delete state —
    * the parent of a table's first commit (version 0), and of an API
    * overwrite, which carries nothing forward. */
  private[graft] def versionOnly(version: Long, io: SnapshotIO = LocalSnapshotIO): Manifest =
    Manifest(version, new StructType(), Nil, Nil, Map.empty)(io)

  /** The head manifest, or [[versionOnly]](0) when the table does not
    * exist yet. */
  private[graft] def headOf(table: String, io: SnapshotIO = LocalSnapshotIO): Manifest = {
    val cur = currentVersion(table, io)
    if (cur == 0) versionOnly(0L, io) else manifest(table, cur, io)
  }

  /** The one replay rule of the exactly-once writers ([[appendBatch]],
    * [[mergeBatch]], the streaming sink): the last batch id `m`
    * recorded, -1 when none — a batch at or below it is a replay. */
  private[sources] def lastBatchId(m: Manifest): Long =
    m.extra.get("batchid").map(_.toLong).getOrElse(-1L)

  /** THE commit tail: every snapshot commit publishes through here, as
    * version `parent.version + 1` (or `onto + 1`). It applies the one
    * extend-only schema rule to appends and merges, carries the parent's files,
    * declarations and delete state unless `c` says otherwise, and
    * publishes exclusively — a racing writer that took the version
    * first turns this commit into a ConcurrentModificationException.
    * Reads no manifest and runs no Spark job. */
  private[graft] def commitOn(
      table: String,
      parent: Manifest,
      c: Change,
      io: SnapshotIO = LocalSnapshotIO): Long = {
    c.plannedOn.foreach(p => requireLayoutUnmoved(parent, table, p))
    val base = c.onto.getOrElse(parent.version)
    val next = base + 1
    val schema = c.schema match {
      case Some(s) if (c.mode == "append" || c.mode == "merge") && parent.version > 0 =>
        extendSchema(parent, s)
      case Some(s) => s
      case None    => parent.schema
    }
    val eq = c.eqDeletes.fold(parent.extra.view.filterKeys(Set(DvKeyK, DvFilesK)).toMap) {
      rs =>
        if (rs.isEmpty) Map.empty
        else Map(DvKeyK -> c.dvKey.orElse(dvKeyOf(parent)).get,
          DvFilesK -> dvEncode(rs.map(r => if (r.seq < 0) r.copy(seq = next) else r)))
    }
    val pos = c.posDeletes.fold(parent.extra.view.filterKeys(_ == PosDvFilesK).toMap)(rs =>
      if (rs.isEmpty) Map.empty else Map(PosDvFilesK -> posDvEncode(rs)))
    val (segments, entries) = c.kept.getOrElse((parent.segments, parent.inline))
    publishManifest(table, next, base, schema, segments, entries ++ c.added, c.mode,
      c.extra ++ declsOf(parent, c) ++ eq ++ pos, io)
  }

  /** The declarations commit `c` publishes on `parent`: the parent's,
    * less `unsets`, plus `sets`. A declaration key among the free
    * extras (`commit(extra = Map("morkey" -> k))`) lands only where the
    * parent does not declare it. */
  private def declsOf(parent: Manifest, c: Change): Map[String, String] =
    c.extra.view.filterKeys(DeclKeys).toMap ++
      (parent.extra.view.filterKeys(DeclKeys).toMap -- c.unsets) ++ c.sets

  /** The one extend-only schema rule of every commit that writes rows
    * beside the parent's files (API, SQL and streaming appends, ADD
    * COLUMN, the API merges): `written` keeps the parent's name and type
    * at every ordinal and may only ADD columns at the end, never under a
    * previous name of another column (a live file may still carry it
    * physically, and one physical column must never resolve under two
    * names). Nullability OR-merges across generations — a column any
    * carried file holds nulls in stays nullable, or the vectorized
    * reader silently serves zero for those nulls under the narrower
    * declaration (hit live: an all-NULL first commit followed by a
    * non-null append) — and added columns publish nullable: carried
    * files read NULL there. */
  private def extendSchema(parent: Manifest, written: StructType): StructType = {
    val pf = parent.schema.fields
    val nf = written.fields
    require(
      nf.length >= pf.length &&
        pf.indices.forall(i => nf(i).name == pf(i).name && nf(i).dataType == pf(i).dataType),
      s"written schema ${written.simpleString} does not extend " +
        s"snapshot ${parent.version}'s ${parent.schema.simpleString} — appends may only " +
        "ADD columns at the end (drop/reorder/retype refused; rename via " +
        "renameColumn)")
    nf.drop(pf.length).foreach(f =>
      require(!historicalNames(parent).contains(f.name),
        s"added column ${f.name} collides with a PREVIOUS name of another " +
          "column — a live file may still carry it physically, and one " +
          "physical column must never resolve under two names; pick a " +
          "fresh name"))
    StructType(pf.indices.map(i => pf(i).copy(nullable = pf(i).nullable || nf(i).nullable)) ++
      nf.drop(pf.length).map(_.copy(nullable = true)))
  }

  /** Write `df` as the data files of commit `c` on `parent`, under the
    * stats and row-cap declarations the commit publishes — not its
    * layout keys: the API writers do not route rows (an API append to a
    * bucketed table writes unstamped files and the scan degrades
    * soundly; Round25Spec pins it). */
  private def writeFor(
      df: DataFrame,
      table: String,
      parent: Manifest,
      c: Change,
      stats: Seq[String]): Vector[FileEntry] =
    writeFiles(df, SnapshotWrites.dataWriterFactory(
      SnapshotWrites.stageDir(table, parent.version + 1),
      declsOf(parent, c).view.filterKeys(Set(StatsColsK, MaxRowsK)).toMap,
      df.schema, stats, sketch = true))

  /** Assemble a manifest for `next` — carried segments referenced
    * VERBATIM (no rewrite: this is what keeps commit cost O(new files +
    * segments) instead of O(total files)), new entries bundled into
    * fresh immutable segment file(s) — and publish it atomically
    * (exactly one racing writer wins; a loser's freshly-written
    * segments orphan exactly like its data files and are reclaimed by
    * vacuum). Called by [[commitOn]] alone. */
  private def publishManifest(
      table: String,
      next: Long,
      current: Long,
      schema: StructType,
      carriedSegments: Seq[SegmentRef],
      newEntries: Seq[FileEntry],
      mode: String,
      extra: Map[String, String],
      io: SnapshotIO): Long = {
    // stamp the commit sequence on entries built in memory (seq = -1);
    // entries parsed from a parent manifest keep the version that
    // originally added them (carried-forward inline entries, replace/
    // drop survivors) — the DV scoping rule depends on it
    val stamped = newEntries.map(e => if (e.seq < 0) e.copy(seq = next) else e)
    val newSegs = writeSegments(table, next, stamped, io)
    val token = java.util.UUID.randomUUID().toString.take(8)
    val tmp = s"${manifestDir(table)}/.tmp_v${next}_$token"
    val body = new StringBuilder()
      .append(s"version=$next\n")
      .append(s"parent=$current\n")
      .append(s"mode=$mode\n")
    // every manifest this binary publishes declares its temporal stats
    // unit — readers treat UNMARKED manifests' timestamp/date stats as
    // absent (see manifest()'s strip), so a unit change can never be a
    // silent reinterpretation
    if (!extra.contains(StatsUnitsK)) body.append(s"$StatsUnitsK=$StatsUnitsV\n")
    extra.foreach { case (k, v) => body.append(s"$k=$v\n") }
    body.append(s"schema=${schema.json}\n")
    (carriedSegments ++ newSegs).foreach(s => body.append(s"segment=${s.line}\n"))
    io.writeString(tmp, body.toString)
    val won = io.publishExclusive(tmp, manifestPath(table, next))
    io.delete(tmp)
    if (!won)
      throw new java.util.ConcurrentModificationException(
        s"snapshot $next of $table was published by another writer; re-read and retry")
    next
  }

  /** Commit `df` as the next snapshot. `append=true` carries the parent
    * snapshot's files (with their stats) forward; `append=false` starts
    * the file list fresh (overwrite — old files stay on disk, still
    * referenced by the PARENT manifest, which is what keeps time travel
    * alive until vacuum).
    *
    * SCHEMA EVOLUTION: an append may ADD columns at the end (the new
    * manifest records the widened schema; older files read under it
    * with nulls in the added columns — the Iceberg-minimal add-column
    * move, done at the manifest instead of a mergeSchema file scan).
    * Renames, drops, reorders, and type changes are refused loudly.
    * Old snapshots keep reading under their own recorded schema.
    *
    * `statsColumns` names columns whose per-file min/max are recorded
    * in the manifest beside the table's declared stats columns —
    * integer-typed columns as Long ranges, string columns as raw-string
    * ranges — folded over the write pass itself, the price of
    * listing-free pruning forever after; a declared maxRowsPerFile caps
    * every file written.
    * Cluster the data on the column first (repartitionByRange + local
    * sort) and the ranges become disjoint — each selective read then
    * prunes to ~1 file at the manifest.
    *
    * `expectedCurrent` is the optimistic-concurrency handle: when set,
    * the commit targets exactly `expectedCurrent + 1` and a
    * ConcurrentModificationException means another writer published
    * first — re-read and retry. When unset, the current version is
    * resolved at call time (last-writer-wins race window, fine for a
    * single-writer pipeline).
    *
    * Returns the published version number.
    */
  def commit(
      df: DataFrame,
      table: String,
      append: Boolean,
      expectedCurrent: Option[Long] = None,
      statsColumns: Seq[String] = Nil,
      extra: Map[String, String] = Map.empty,
      clusterBy: Option[String] = None,
      io: SnapshotIO = LocalSnapshotIO): Long = {
    val current = expectedCurrent.getOrElse(currentVersion(table, io))
    commitFrame(df, table,
      if (append && current > 0) manifest(table, current, io) else versionOnly(current, io),
      append, statsColumns, extra, clusterBy, io)
  }

  /** [[commit]] on an already-resolved parent (an overwrite's carries
    * nothing, see [[versionOnly]]). Appends carry the parent's segments
    * by reference — a 1M-file table appends at O(new files + segment
    * count) — with its delete state (dropping it would resurrect the
    * deleted rows) and its declarations: table properties, not
    * per-commit choices. */
  private def commitFrame(
      df: DataFrame,
      table: String,
      parent: Manifest,
      append: Boolean,
      statsColumns: Seq[String],
      extra: Map[String, String],
      clusterBy: Option[String],
      io: SnapshotIO): Long = {
    require(!extra.contains(DvKeyK) && !extra.contains(DvFilesK) && !extra.contains(ClusterK),
      s"$DvKeyK/$DvFilesK/$ClusterK are reserved manifest keys")
    // an identity-clustered table STAYS clustered: appends inherit the
    // parent's cluster column (a writer may restate it, never change it
    // — the spec is table-level, like an Iceberg partition spec);
    // overwrite resets to whatever the new commit declares
    val parentCluster = clusterKeyOf(parent)
    require(clusterBy.isEmpty || parentCluster.isEmpty || clusterBy == parentCluster,
      s"append clusterBy=${clusterBy.get} conflicts with table cluster key " +
        s"${parentCluster.get} — an identity cluster spec is table-level (overwrite to change)")
    val cluster = clusterBy.orElse(parentCluster)
    val (data, stats) = cluster match {
      case Some(k) =>
        // cluster stats are mandatory: min==max per file is how the scan
        // recovers each file's partition value from the manifest alone
        (clusterExact(df, k), if (statsColumns.contains(k)) statsColumns else statsColumns :+ k)
      case None => (df, statsColumns)
    }
    val c = Change(if (append) "append" else "overwrite", schema = Some(df.schema),
      sets = cluster.map(ClusterK -> _).toMap, extra = extra)
    commitOn(table, parent, c.copy(added = writeFor(data, table, parent, c, stats)), io)
  }

  /** A write carries the layout of the manifest it was planned against
    * (its routing, cuts and stamps); the commit tail compares it with
    * the PARENT's: a long-lived writer (a streaming epoch, a planned
    * INSERT) built before an evolveLayout would otherwise publish files
    * stamped under the OLD transforms at a sequence the generation rule
    * reads as NEW-spec — silently poisoning SPJ grouping. Divergence
    * refuses loudly: restart the writer. */
  private def requireLayoutUnmoved(parent: Manifest, table: String, planned: Manifest): Unit = {
    val (cur, sl) = (declaredLayout(parent), declaredLayout(planned))
    require(cur == sl,
      s"$table's layout evolved mid-write (the writer routed/stamped under " +
        s"${if (sl.isEmpty) "no layout" else sl.mkString(", ")}, the table now " +
        s"declares ${if (cur.isEmpty) "no layout" else cur.mkString(", ")}) — " +
        "the commit would mis-stamp the new generation; restart the writer")
  }

  /** Reserved manifest key: the table's DECLARED stats columns (the
    * catalog's TBLPROPERTIES('statsColumns'=...)), so every writer —
    * API commit or DSv2 insert — records the same pruning stats. */
  private[sources] val StatsColsK = "statscols"

  /** Declared stats columns of a catalog-created table, if any. */
  def statsColumnsOf(m: Manifest): Seq[String] =
    m.extra.get(StatsColsK).map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)


  /** Copy-on-write row-level MERGE — the Delta/Iceberg upsert: apply a
    * CDC batch (inserts + updates, plus deletes flagged in `deleteCol`)
    * keyed on an integer OR string column `key`, rewriting ONLY the
    * data files whose recorded key range (stats / sstats respectively)
    * intersects the batch's keys. Survivor files are
    * carried into the new manifest untouched, so a selective batch
    * against a key-clustered table costs O(touched files + batch) — not
    * a table rewrite.
    *
    * Touched-file selection is stats-routed: the manifest's per-file
    * [min, max] ranges (file-count-sized metadata) broadcast against
    * the batch's distinct keys; a file with no recorded range for `key`
    * can never be proven untouched and is rewritten. Soundness: a
    * survivor's range excludes every batch key, so no row it holds can
    * share a key with the batch.
    *
    * The new snapshot has mode=merge: `readIncremental` refuses to scan
    * across it (new-files != new-rows under a rewrite), exactly as it
    * refuses overwrites.
    *
    * Returns (filesRewritten, filesTotalBefore, publishedVersion).
    */
  def merge(
      batch: DataFrame,
      table: String,
      key: String,
      deleteCol: Option[String] = None,
      statsColumns: Seq[String] = Nil,
      io: SnapshotIO = LocalSnapshotIO): (Int, Int, Long) =
    mergeOn(batch, table, headOf(table, io), key, deleteCol, statsColumns, Map.empty, io)

  /** [[merge]] on head manifest `m`. */
  private def mergeOn(
      batch: DataFrame,
      table: String,
      m: Manifest,
      key: String,
      deleteCol: Option[String],
      statsColumns: Seq[String],
      extra: Map[String, String],
      io: SnapshotIO): (Int, Int, Long) = {
    val spark = batch.sparkSession
    require(m.version > 0, s"cannot merge into non-existent table $table")
    requireNoDv(m, table, "merge")
    requireNotBucketed(m, table, "merge")
    val dataCols = batch.schema.fieldNames.filterNot(deleteCol.contains)
    require(
      dataCols.sameElements(m.schema.fieldNames),
      s"merge batch columns ${dataCols.mkString(",")} do not match table " +
        s"columns ${m.schema.fieldNames.mkString(",")}")
    val stringKey = m.schema(key).dataType == StringType
    // distinct batch keys, persisted: used for touched-file routing and
    // again for the anti-join — batch-sized, two consumers
    val keyExpr = if (stringKey) col(key) else col(key).cast("long")
    val keys = graft.GraftCache.register(
      batch.select(keyExpr.as("__k")).distinct().persist())
    // the unpersist must also run on the THROW path: a caller that
    // retries a lost publish race (a ConcurrentModificationException)
    // re-invokes merge, and each attempt persists a fresh keys frame —
    // success-path-only cleanup would leak one cached DataFrame per
    // retry, the exact class this cleanup exists to prevent
    try {
    // stats routing, TWO levels: ranges are manifest metadata —
    // broadcast them under the batch keys; collecting the touched
    // INDEX SET back is metadata-sized, not data-sized. String keys
    // compare through Spark's binary UTF8 ordering — the same ordering
    // the recorded sstats bounds were computed under.
    def rangesOf(xs: Seq[StatRanges]): (Seq[(Int, Any, Any)], Set[Int]) = {
      val ranged = xs.zipWithIndex.flatMap { case (f, i) =>
        if (stringKey) f.sstats.get(key).map { case (lo, hi) => (i, lo: Any, hi: Any) }
        else f.stats.get(key).map { case (lo, hi) => (i, lo: Any, hi: Any) }
      }
      val statless = xs.zipWithIndex.collect {
        case (f, i) if !(if (stringKey) f.sstats.contains(key) else f.stats.contains(key)) => i
      }.toSet
      (ranged, statless)
    }
    def hitOf(ranged: Seq[(Int, Any, Any)]): Set[Int] =
      if (ranged.isEmpty) Set.empty
      else {
        import spark.implicits._
        val rangesDf =
          if (stringKey)
            ranged.map { case (i, lo, hi) => (i, lo.asInstanceOf[String], hi.asInstanceOf[String]) }
              .toDF("__i", "__lo", "__hi")
          else
            ranged.map { case (i, lo, hi) => (i, lo.asInstanceOf[Long], hi.asInstanceOf[Long]) }
              .toDF("__i", "__lo", "__hi")
        keys
          .join(broadcast(rangesDf), col("__k") >= col("__lo") && col("__k") <= col("__hi"))
          .select("__i").distinct().collect().map(_.getInt(0)).toSet
      }
    // SEGMENT level first: a segment whose aggregated key range
    // excludes every batch key is carried by REFERENCE — its file
    // entries are never even loaded, so a selective merge against a
    // 1M-file table routes at O(segments + touched) manifest cost
    val (segRanged, segStatless) = rangesOf(m.segments)
    val touchedSegIdx = segStatless ++ hitOf(segRanged)
    val carriedSegs = m.segments.zipWithIndex.collect {
      case (s, i) if !touchedSegIdx(i) => s
    }
    val candidates: Seq[FileEntry] = m.inline ++
      m.segments.zipWithIndex.collect { case (s, i) if touchedSegIdx(i) => s }
        .flatMap(m.loadSegment)
    // FILE level inside the segments that survived segment routing
    val (ranged, statless) = rangesOf(candidates)
    val touchedIdx = statless ++ hitOf(ranged)
    val touched = candidates.zipWithIndex.collect { case (f, i) if touchedIdx(i) => f }
    val survivors = candidates.zipWithIndex.collect { case (f, i) if !touchedIdx(i) => f }
    // through the table's reader: files written before a column rename
    // read under their own names
    val touchedRows = readFiles(spark, table, m, Some(touched))
    // survivors of the touched files: rows whose key the batch does not
    // carry (updates and deletes both remove the old row here)
    // structural shuffle hint on the batch-derived side: a CDC batch
    // is data-sized, and letting the size estimator pick broadcast
    // here is the r8 OOM class (corpus-derived sides never broadcast
    // on an estimate) — at touched-file scale the shuffled-hash
    // anti-join is the right plan anyway
    val kept = touchedRows.join(
      keys.hint("shuffle_hash"), touchedRows(key) === col("__k"), "left_anti")
    val upserts = deleteCol match {
      case Some(d) => batch.filter(!coalesce(col(d), lit(false))).drop(d)
      case None    => batch
    }
    // re-cluster the rewrite on the key so its recorded ranges stay
    // tight (and the NEXT merge's routing stays selective)
    val nOut = math.max(1, touched.size)
    val newData = kept.unionByName(upserts)
      .repartitionByRange(nOut, col(key))
      .sortWithinPartitions(key)
    val c = Change("merge", kept = Some((carriedSegs, survivors)),
      schema = Some(newData.schema), extra = extra + ("merged-files" -> touched.size.toString))
    val v = commitOn(table, m, c.copy(added = writeFor(newData, table, m, c,
      if (statsColumns.isEmpty) Seq(key) else statsColumns)), io)
    (touched.size, m.fileCount.toInt, v)
    } finally {
      // the write materialized every consumer of the keys frame — a
      // long-running mergeBatch loop must not accumulate one cached
      // DataFrame per micro-batch until harness-level cleanup
      keys.unpersist(blocking = false)
    }
  }

  /** ZERO-COPY ROLLBACK — the Delta RESTORE / Iceberg rollback shape:
    * republish snapshot `toVersion`'s exact file list (with its stats)
    * and schema as the NEW head version, without touching a single data
    * byte. The bad commits stay in history — time travel still reaches
    * them, the audit trail is intact, vacuum reclaims their files once
    * they age out of retention — but every reader at head sees the
    * restored state immediately. Cost is one manifest write regardless
    * of table size: data files are immutable and shared across
    * manifests by design, so "restore 100 TB" is a metadata operation.
    *
    * mode=rollback breaks new-files == new-rows, so `readIncremental`
    * / the streaming source refuse to scan across it, exactly as they
    * refuse overwrite and merge — a rolled-back table needs its
    * incremental consumers re-seeded, and that decision must be loud.
    *
    * `expectedCurrent` is the same optimistic-concurrency handle as
    * [[commit]]. Returns the published version. */
  def rollback(
      table: String,
      toVersion: Long,
      expectedCurrent: Option[Long] = None,
      io: SnapshotIO = LocalSnapshotIO): Long = {
    val current = expectedCurrent.getOrElse(currentVersion(table, io))
    require(current > 0, s"cannot rollback non-existent table $table")
    require(
      toVersion >= 1 && toVersion <= current,
      s"rollback target $toVersion outside published range [1, $current] of $table")
    // the restored state is the TARGET's whole state, its table
    // declarations included — its layout (and generation history),
    // stats columns, morKey: a rollback across a spec evolution restores
    // the old spec exactly; dropping them would demote a bucketed table
    // to unlaid-out
    commitOn(table, manifest(table, toVersion, io),
      Change("rollback", extra = Map("restored-from" -> toVersion.toString),
        onto = Some(current)), io)
  }

  // ---- tags: named immutable snapshot references (Iceberg tags) ----

  private def tagDir(table: String): String = s"$table/manifests/tags"
  private def tagPath(table: String, name: String): String =
    s"${tagDir(table)}/$name.tag"

  /** TAG a published snapshot with an immutable name — Iceberg's tag
    * refs: `v1.0-release`, `audit-2024Q1`. A tag is one tiny file
    * holding the version number, created atomically (create-if-absent,
    * the manifest-publication primitive) so two racing taggers cannot
    * both win the name. Tags PIN retention: [[vacuum]] and
    * [[expireSnapshots]] keep tagged manifests (and, through the
    * reference walk, their files) regardless of age or keep-last-N —
    * the reproducibility contract a training run's data snapshot
    * needs. Resolution: SQL `VERSION AS OF 'name'` (non-numeric
    * version strings resolve as tags), `CALL create_tag/drop_tag`,
    * or the API pair here. Tags are immutable — re-pointing is
    * dropTag + createTag, deliberately two steps. */
  def createTag(
      table: String,
      name: String,
      version: Option[Long] = None,
      io: SnapshotIO = LocalSnapshotIO): Long = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_' ||
      c == '-' || c == '.'),
      s"tag name '$name' must be [A-Za-z0-9._-]+")
    require(name.exists(!_.isDigit),
      s"tag name '$name' must not be purely numeric — it would shadow " +
        "version-number time travel")
    val cur = currentVersion(table, io)
    require(cur > 0, s"cannot tag non-existent table $table")
    val v = version.getOrElse(cur)
    require(v >= 1 && v <= cur && io.exists(manifestPath(table, v)),
      s"cannot tag snapshot $v of $table — not published (or already expired)")
    val token = java.util.UUID.randomUUID().toString.take(8)
    val tmp = s"${tagDir(table)}/.tmp_${name}_$token"
    io.writeString(tmp, v.toString)
    val won = io.publishExclusive(tmp, tagPath(table, name))
    io.delete(tmp)
    require(won, s"tag $name of $table already exists — tags are immutable " +
      "(dropTag first to re-point)")
    v
  }

  /** Drop a tag: the name frees, the snapshot returns to ordinary
    * retention rules. Returns whether the tag existed. */
  def dropTag(table: String, name: String, io: SnapshotIO = LocalSnapshotIO): Boolean =
    io.delete(tagPath(table, name))

  /** All tags of a table: (name, version), name-sorted. */
  def listTags(table: String, io: SnapshotIO = LocalSnapshotIO): Seq[(String, Long)] =
    io.list(tagDir(table)).filter(_.endsWith(".tag")).sorted.map { f =>
      (f.stripSuffix(".tag"), io.readString(s"${tagDir(table)}/$f").trim.toLong)
    }

  /** Resolve a version REFERENCE: a numeric string is a version
    * number, anything else a tag name (loud when absent). */
  def resolveVersionRef(table: String, ref: String, io: SnapshotIO = LocalSnapshotIO): Long =
    if (ref.nonEmpty && ref.forall(_.isDigit)) ref.toLong
    else {
      require(io.exists(tagPath(table, ref)),
        s"no tag '$ref' on $table (tags: ${listTags(table, io).map(_._1).mkString(", ")})")
      io.readString(tagPath(table, ref)).trim.toLong
    }

  // ---- branches: write-audit-publish (Iceberg branch / WAP) ----

  /** A branch IS a snapshot table rooted under the parent — the same
    * commit protocol, its own manifest chain, its own data directory
    * for branch commits. File entries carry absolute paths, so the
    * fork shares main's immutable data files byte-for-byte (zero-copy)
    * and main's publish can reference branch-written files in place. */
  def branchPath(table: String, name: String): String = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_' || c == '-'),
      s"branch name '$name' must be [A-Za-z0-9_-]+")
    s"$table/branches/$name"
  }

  /** Fork the current snapshot into a new branch: its v1 manifest
    * carries main's exact file list and schema (one metadata write —
    * forking a 100 TB table costs nothing) plus `fork-of`, the main
    * version the fast-forward publish will later require. Commits to
    * the branch go through the ordinary [[commit]] / [[merge]] /
    * [[compactSnapshot]] APIs against [[branchPath]] — writers get the
    * full table format, main's readers see NOTHING until publish. */
  def createBranch(table: String, name: String, io: SnapshotIO = LocalSnapshotIO): Long = {
    val cur = currentVersion(table, io)
    require(cur > 0, s"cannot branch non-existent table $table")
    val bp = branchPath(table, name)
    require(currentVersion(bp, io) == 0, s"branch $name of $table already exists")
    // the branch inherits main's whole state, its table declarations
    // included — a fork of a bucketed table must keep writing STAMPED
    // files or the fast-forward publish would demote main's layout
    commitOn(bp, manifest(table, cur, io),
      Change("fork", extra = Map("fork-of" -> cur.toString), onto = Some(0L)), io)
  }

  /** PUBLISH the branch head back onto main — the write-audit-publish
    * gate: one fast-forward metadata commit making every audited
    * branch commit visible at once. Refused (loudly) if main moved
    * since the fork — a diverged branch must be re-forked and
    * replayed, never silently merged. When every branch commit after
    * the fork was an append, the published commit is mode=append —
    * new-files == new-rows still holds across the publish, so main's
    * incremental readers and the streaming source keep working;
    * anything else publishes as mode=publish, which incremental
    * readers refuse like overwrite/merge/rollback. */
  def publishBranch(
      table: String,
      name: String,
      io: SnapshotIO = LocalSnapshotIO): Long = {
    val bp = branchPath(table, name)
    val bcur = currentVersion(bp, io)
    require(bcur > 0, s"no branch $name of $table")
    val forkOf = manifest(bp, 1L, io).extra.getOrElse("fork-of",
      sys.error(s"branch $name of $table carries no fork-of")).toLong
    val cur = currentVersion(table, io)
    require(cur == forkOf,
      s"main moved since the fork (v$forkOf -> v$cur): fast-forward publish " +
        s"of branch $name refused — re-fork and replay the audited commits")
    val head = manifest(bp, bcur, io)
    val pureAppend = (2L to bcur).forall(v =>
      manifest(bp, v, io).extra.getOrElse("mode", "?") == "append")
    // the audited branch head's declarations come back with its data
    commitOn(table, head, Change(if (pureAppend) "append" else "publish",
      extra = Map("wap-branch" -> name, "wap-commits" -> (bcur - 1).toString),
      onto = Some(cur)), io)
  }

  /** Drop a branch: delete its manifest chain, then any data file under
    * the branch's own data directory that no MAIN manifest references —
    * so dropping an unpublished (audit-failed) branch reclaims its
    * writes, while a published branch's files, now referenced by main,
    * survive. Branch-local SEGMENT files follow the same rule: a
    * published branch's segments are carried by main's fast-forward
    * manifest (by reference) and survive; an audit-failed branch's
    * segments are reclaimed with its manifests — without this the
    * segment files would leak permanently, since main's vacuum never
    * walks a dropped branch's segment directory.
    * Returns (manifestsDeleted, dataFilesDeleted). */
  def dropBranch(table: String, name: String, io: SnapshotIO = LocalSnapshotIO): (Int, Int) = {
    val bp = branchPath(table, name)
    val bcur = currentVersion(bp, io)
    if (bcur == 0) return (0, 0)
    // main's referenced paths, loading each unique segment ONCE —
    // versions share segments by reference, so this is O(unique
    // segments + manifests), not O(versions × files)
    val mainManifests = (1L to currentVersion(table, io)).flatMap { v =>
      if (io.exists(manifestPath(table, v))) Some(manifest(table, v, io)) else None
    }
    val mainSegRefs: Set[String] = mainManifests.flatMap(_.segments.map(_.path)).toSet
    val mainRefs: Set[String] =
      mainManifests.flatMap(m => m.inline.map(_.path) ++
        m.extra.get(ChangePreK).map(FileEntry.unhex).toSeq
          .flatMap(d => io.list(d).map(f => s"$d/$f"))).toSet ++
        mainSegRefs.toSeq.flatMap(p => readSegment(p, io).map(_.path))
    var mDel = 0
    (1L to bcur).foreach { v => if (io.delete(manifestPath(bp, v))) mDel += 1 }
    var fDel = 0
    val dataRoot = s"$bp/data"
    io.list(dataRoot).foreach { dirName =>
      val d = s"$dataRoot/$dirName"
      if (io.isDir(d)) {
        io.list(d).foreach { f =>
          if (!mainRefs(s"$d/$f")) { if (io.delete(s"$d/$f")) fDel += 1 }
        }
        if (io.list(d).isEmpty) io.delete(d)
      }
    }
    // branch-local segments no main manifest references (mirror of the
    // data-file rule above)
    val segRoot = segmentDir(bp)
    io.list(segRoot).foreach { f =>
      val p = s"$segRoot/$f"
      if (!mainSegRefs(p)) io.delete(p)
    }
    if (io.list(segRoot).isEmpty) io.delete(segRoot)
    (mDel, fDel)
  }

  /** TIMESTAMP time travel — Delta's `timestampAsOf`: resolve the
    * newest snapshot whose commit timestamp is ≤ `ts` and read it.
    * Timestamps are CALLER-SUPPLIED logical times recorded at commit
    * via `extra("ts" -> ...)` — deliberately not wall clock, so
    * replayed/backfilled pipelines stay deterministic and the
    * resolution is testable; version order stays authoritative when
    * timestamps disagree (the Delta rule). Commits without a `ts` are
    * skipped; reading before the first stamped commit fails loudly. */
  def readAsOf(
      spark: SparkSession,
      table: String,
      ts: Long,
      io: SnapshotIO = LocalSnapshotIO): DataFrame = {
    require(currentVersion(table, io) > 0, s"cannot read non-existent table $table")
    val v = versionAsOf(table, ts, io).fold(
      why => throw new IllegalArgumentException(why), identity)
    read(spark, table, Some(v), io)
  }

  /** The version a timestamp reads: the newest RETAINED snapshot whose
    * commit stamp is ≤ `ts` (version order authoritative; vacuumed and
    * unstamped versions are skipped). Left(reason) when none
    * qualifies — each front end raises it as its own error type
    * ([[readAsOf]], the `timestampAsOf` read option, SQL
    * `TIMESTAMP AS OF`). */
  def versionAsOf(
      table: String,
      ts: Long,
      io: SnapshotIO = LocalSnapshotIO): Either[String, Long] = {
    // (version, stamp), newest first
    def stamped = (currentVersion(table, io) to 1L by -1).iterator
      .filter(v => io.exists(manifestPath(table, v)))
      .flatMap(v => manifest(table, v, io).extra.get("ts").map(t => (v, t.toLong)))
    stamped.find(_._2 <= ts).map(_._1).toRight(stamped.toSeq.lastOption match {
      case None => s"no retained commit of $table carries a ts stamp"
      case Some((_, earliest)) =>
        s"no snapshot of $table at or before ts=$ts (earliest retained is $earliest)"
    })
  }

  /** Read a snapshot: the latest by default, any published version for
    * time travel. Loads exactly the manifest's file list under the
    * manifest's schema — never a directory listing. Files committed
    * under an older (narrower) schema yield nulls in since-added
    * columns. A `filter` on the result prunes files at the manifest:
    * the scan's pushed filters skip every file whose stats prove it
    * holds no match ([[ManifestPruning]]). */
  def read(
      spark: SparkSession,
      table: String,
      version: Option[Long] = None,
      io: SnapshotIO = LocalSnapshotIO): DataFrame =
    readFiles(spark, table, manifest(table, version.getOrElse(currentVersion(table, io)), io))

  /** Every batch read of a snapshot: ONE V2 scan of manifest `m`
    * (all of its files, or the `files` subset), which applies the
    * outstanding deletion vectors (seq-scoped), position deletes and
    * rename epochs per file, reading through `m`'s own [[SnapshotIO]].
    * The `_file`/`_pos` metadata columns resolve on the result. */
  private[sources] def readFiles(
      spark: SparkSession,
      table: String,
      m: Manifest,
      files: Option[Seq[FileEntry]] = None): DataFrame =
    Bridge.ofRows(spark, DataSourceV2Relation.create(
      new SnapshotV2Table(table, m, files.map(_.map(_.path).toSet)), None, None))

  // ---- merge-on-read deletion vectors --------------------------------

  /** Reserved manifest keys for the DV state: the delete key column and
    * the hex-encoded ';'-joined list of delete-key parquet files. */
  private val DvKeyK = "dvkey"
  private val DvFilesK = "dvfiles"

  // ---- identity clustering (storage-partitioned-join layout) ---------

  /** Reserved manifest key naming the identity-cluster column: every
    * data file holds exactly ONE value of it (recorded as min == max in
    * the file's stats), which is what lets the DSv2 scan report
    * KeyGroupedPartitioning and a co-clustered join plan with ZERO
    * exchange (the Iceberg identity-partition + storage-partitioned-join
    * shape). Set via `commit(clusterBy = ...)`, carried forward on
    * appends and through compaction, cleared by an API overwrite. */
  private[sources] val ClusterK = "cluster"

  /** The identity-cluster column recorded at commit, if any. */
  def clusterKeyOf(m: Manifest): Option[String] = m.extra.get(ClusterK)

  /** Reserved manifest key: the table's DECLARED merge-on-read row-id
    * column. When present, SQL UPDATE / MERGE / row-level DELETE plan
    * DELTA-based (SupportsDelta — key-delete sidecars + appended
    * post-images, zero data files rewritten) instead of group
    * copy-on-write; the declared key is the DV chain's delete key.
    * Set via TBLPROPERTIES('morKey'='k') at CREATE TABLE or
    * `commit(extra = Map("morkey" -> k))`. */
  private[sources] val MorKeyK = "morkey"

  /** The declared merge-on-read row-id column, if any. */
  def morKeyOf(m: Manifest): Option[String] = m.extra.get(MorKeyK)

  /** Reserved manifest key: the table's HASH-BUCKET layout, recorded as
    * `<col>:<n>` at `CREATE TABLE ... PARTITIONED BY (bucket(n, col))`.
    * Every data file of a bucketed table holds exactly one bucket of
    * [[graft.sources.GraftBucket]]'s hash, recorded as a min==max
    * [[BucketStat]] manifest stat — what the scan groups into
    * `KeyGroupedPartitioning(bucket(n, col))` for storage-partitioned
    * joins and what equality filters prune files by. */
  private[sources] val BucketK = "bucket"

  /** The synthetic per-file stat column recording the file's bucket id
    * (min == max by the rolling writer's construction). Reserved: a
    * bucketed table's schema may not name a column this. */
  private[graft] val BucketStat = "__bucket"

  /** Reserved manifest key: the declared per-file ROW CAP
    * (TBLPROPERTIES('maxRowsPerFile'='N')). The rolling writers cut a
    * new file when the open one reaches it — what keeps a hot bucket
    * or a huge identity-cluster key from concentrating into one
    * unsplittable multi-GB file at scale (the scan never splits a file,
    * so the cap bounds one read task's file; bucket/cluster grouping is
    * unaffected — groups simply hold several files). */
  private[sources] val MaxRowsK = "maxrowsperfile"

  /** The declared per-file row cap, if any. */
  def maxRowsPerFileOf(m: Manifest): Option[Long] = m.extra.get(MaxRowsK).map(_.toLong)

  /** Reserved manifest key: the declared ADVISORY WRITE PARTITION SIZE
    * (TBLPROPERTIES('advisoryPartitionBytes'='N') — the exact knob
    * Iceberg exposes as `write.spark.advisory-partition-size-bytes`).
    * A layout-routed write (bucket/truncate/temporal/cluster) cuts one
    * FILE per group per task: AQE's byte-based coalescing cannot see
    * that per-file fixed cost, so a small-bytes write into a
    * many-group layout coalesces to one task that opens and closes
    * every group's file serially. The table declares the write
    * partition size its group geometry wants; unset = the session's
    * AQE advisory (behavior unchanged). */
  private[sources] val AdvisoryBytesK = "advisorypartitionbytes"

  /** The declared advisory write-partition size, if any. */
  def advisoryPartitionBytesOf(m: Manifest): Option[Long] =
    m.extra.get(AdvisoryBytesK).map(_.toLong)

  /** The declared bucket layout (column, bucket count), if any. */
  def bucketSpecOf(m: Manifest): Option[(String, Int)] = bucketSpecFromLayout(m.extra)

  /** A `<col>:<arg>` layout declaration under `key` of a declaration
    * map (a manifest's extras or one past generation's layout). */
  private def layoutArg(kv: Map[String, String], key: String): Option[(String, String)] =
    kv.get(key).map { s =>
      val i = s.lastIndexOf(':')
      (s.substring(0, i), s.substring(i + 1))
    }

  /** Reserved manifest key: the table's TRUNCATE layout (`<col>:<w>`
    * at `CREATE TABLE ... PARTITIONED BY (truncate(w, col))`) — the
    * order-preserving sibling of [[BucketK]]: one floored width-w group
    * per data file, stamped as a min==max [[TruncStat]]. */
  private[sources] val TruncK = "trunc"

  /** The synthetic per-file stat recording the file's truncate group. */
  private[graft] val TruncStat = "__trunc"

  /** The declared truncate layout (column, width), if any. */
  def truncSpecOf(m: Manifest): Option[(String, Int)] = truncSpecFromLayout(m.extra)

  private[sources] def truncSpecFromLayout(kv: Map[String, String]): Option[(String, Int)] =
    layoutArg(kv, TruncK).map { case (c, w) => (c, w.toInt) }

  /** Reserved manifest key: the table's TEMPORAL layout (`<col>:<unit>`
    * at `CREATE TABLE ... PARTITIONED BY (days(ts))` — also months/
    * hours/years): one period per data file, stamped as a min==max
    * [[TemporalStat]] ([[GraftTemporal]] owns the derivation, UTC
    * always). The raw timestamp column is always stats-tracked (epoch
    * micros), so date-range reads prune at the manifest with zero
    * transform awareness. */
  private[sources] val TemporalK = "temporal"

  /** The synthetic per-file stat recording the file's temporal period. */
  private[graft] val TemporalStat = "__tpart"

  /** The declared temporal layout (column, unit), if any. */
  def temporalSpecOf(m: Manifest): Option[(String, String)] = temporalSpecFromLayout(m.extra)

  private[sources] def temporalSpecFromLayout(kv: Map[String, String]): Option[(String, String)] =
    layoutArg(kv, TemporalK)

  /** The four layout-declaration keys — what PARTITION-SPEC EVOLUTION
    * swaps out as a unit. */
  private[graft] val LayoutKeys: Set[String] = Set(ClusterK, BucketK, TruncK, TemporalK)

  /** The layout `m` declares (its [[LayoutKeys]] entries): what a write
    * planned against `m` routes, cuts and stamps under. */
  private[graft] def declaredLayout(m: Manifest): Map[String, String] =
    m.extra.view.filterKeys(LayoutKeys).toMap

  /** Reserved manifest key: the version since which the CURRENT layout
    * keys apply — partition-spec evolution's generation boundary.
    * Absent = 0 (the layout has held since creation). A file's commit
    * sequence names its generation: files stamped at seq >= layoutsince
    * were routed under the current spec, older files under the
    * generation [[LayoutHistK]] records for their seq — the Iceberg-v2
    * new-spec-for-new-files model with the generation id derived from
    * the sequence the manifest already carries per file. */
  private[sources] val LayoutSinceK = "layoutsince"

  /** Reserved manifest key: the PAST layout generations, ascending —
    * `;`-joined `<sinceVersion>:<hex(& -joined key=value)>` entries
    * (empty hex = that generation was unpartitioned). Generation i
    * covers seq in [since_i, since_{i+1}); the current keys cover
    * [layoutsince, inf). */
  private[sources] val LayoutHistK = "layouthist"

  /** Reserved manifest key: DELETE routing for unprovable predicates on
    * morKey-less tables — `positions` routes the remainder through a
    * provenance scan + position sidecar (O(batch), zero rewrites)
    * instead of the copy-on-write group rewrite.
    * TBLPROPERTIES('deleteMode'='positions'). */
  private[sources] val DeleteModeK = "deletemode"

  /** The declared DELETE routing, if any. */
  def deleteModeOf(m: Manifest): Option[String] = m.extra.get(DeleteModeK)

  /** Reserved manifest key (PER-COMMIT — deliberately NOT carried): the
    * hex-encoded directory of this commit's write-time CHANGE-ROW
    * sidecar, holding the full pre-images of the rows the commit
    * deleted by physical ordinal. Position deletes are row-wise
    * unattributable after the fact (the ordinal says nothing about the
    * row once the batch is gone), so the commit captures them while the
    * rows are still addressable — one O(touched files) pass at write
    * time buys [[changeFeedIncremental]] an O(delta) read across every
    * position-delta commit forever after. */
  private[sources] val ChangePreK = "changepre"

  /** Reserved manifest key: declared change-capture routing —
    * TBLPROPERTIES('changeCapture'='preimages') OPTS IN to the
    * write-time pre-image sidecar (Delta's enableChangeDataFeed
    * posture: a retention-delete table that never reads a change feed
    * must not silently pay an extra O(touched files) pass per delete
    * commit); absent or 'none' = no capture, and the incremental feed
    * refuses position-delta commits naming this property as the cure.
    * A declaration, so it carries. */
  private[sources] val ChangeCaptureK = "changecapture"

  /** Reserved manifest key: the COLUMN-RENAME history — `;`-joined
    * `<sinceVer>:<ordinal>:<hex(oldName)>` entries, ascending by
    * version. Iceberg's field-ID indirection re-expressed through the
    * one stable identity this manifest already has: the ORDINAL
    * (schema evolution is add-at-end only, so field i in any data file
    * is field i of the table for i < the file's width). A rename is a
    * metadata-only commit: the manifest schema takes the new name, the
    * entry records (commitVersion, ordinal, nameBeforeTheRename), and
    * readers reconstruct each file's WRITTEN names from its commit seq
    * ([[namesAt]]) to read it positionally under the current names.
    * Old snapshots keep their own schema (their manifests predate the
    * entry). A declaration, so it carries. */
  private[sources] val RenamesK = "renames"

  /** The rename history, ascending: (sinceVersion, ordinal, oldName). */
  def renamesOf(m: Manifest): Seq[(Long, Int, String)] =
    m.extra.get(RenamesK).filter(_.nonEmpty).map(_.split(";").toSeq.map { e =>
      val p = e.split(":", 3)
      (p(0).toLong, p(1).toInt, FileEntry.unhex(p(2)))
    }).getOrElse(Nil)

  private[sources] def renamesEncode(rs: Seq[(Long, Int, String)]): String =
    rs.map { case (v, i, n) => s"$v:$i:${FileEntry.hex(n)}" }.mkString(";")

  /** The column names a file stamped at commit `seq` was WRITTEN under:
    * start from the current names and revert, newest first, every
    * rename the file predates. Ordinals are stable (add-at-end-only
    * evolution), so the mapping is positional. */
  def namesAt(m: Manifest, seq: Long): Seq[String] = {
    val names = m.schema.fieldNames.clone()
    renamesOf(m).sortBy(-_._1).foreach { case (ver, ord, old) =>
      if (seq < ver && ord < names.length) names(ord) = old
    }
    names.toSeq
  }

  /** Every name any live data file may carry for some column — what a
    * NEW name (rename target or added column) must never collide with,
    * or an old file's physical column would resolve under two names. */
  private[sources] def historicalNames(m: Manifest): Set[String] =
    renamesOf(m).map(_._3).toSet

  /** METADATA-ONLY COLUMN RENAME — the most common schema evolution
    * after add, refused until now: one props commit swaps the name in
    * the manifest schema and records the (version, ordinal, oldName)
    * entry; ZERO data files are touched, old files read under the
    * current names through the positional mapping, old snapshots keep
    * serving their own names (time travel reads their manifests).
    * Refusals keep the rest of the system honest: a column referenced
    * by any table declaration (cluster/bucket/truncate/temporal —
    * current or any PAST layout generation — statsColumns, morKey, the
    * outstanding DV key) refuses (evolve the declaration first), as
    * does a target name that exists, or that any live file still
    * carries for another ordinal (the historical-name collision that
    * would make one physical column resolve under two names). Drops,
    * reorders, and retypes stay refused at every entry point.
    * Returns the published version. */
  def renameColumn(
      table: String,
      oldName: String,
      newName: String,
      io: SnapshotIO = LocalSnapshotIO): Long = {
    val cur = currentVersion(table, io)
    require(cur > 0, s"cannot rename a column of non-existent table $table")
    val m = manifest(table, cur, io)
    val idx = m.schema.fieldNames.indexOf(oldName)
    require(idx >= 0, s"no column $oldName in $table")
    require(newName.nonEmpty && newName != oldName,
      s"rename target must be a new non-empty name, got '$newName'")
    require(!m.schema.fieldNames.contains(newName),
      s"column $newName already exists in $table")
    require(!historicalNames(m).contains(newName),
      s"$newName was a previous name of a column of $table — a live file may " +
        "still carry it physically, and one physical column must never " +
        "resolve under two names; pick a fresh name")
    val declRefs: Set[String] =
      (Seq(clusterKeyOf(m), bucketSpecOf(m).map(_._1), truncSpecOf(m).map(_._1),
        temporalSpecOf(m).map(_._1), morKeyOf(m), dvKeyOf(m)).flatten ++
        statsColumnsOf(m) ++
        layoutHistOf(m).flatMap(_._2.values.map { s =>
          val i = s.lastIndexOf(':')
          if (i < 0) s else s.substring(0, i)
        })).toSet
    require(!declRefs(oldName),
      s"column $oldName is referenced by a table declaration (layout spec — " +
        "current or a past generation — statsColumns, morKey or the DV key); " +
        "evolve the declaration first, then rename")
    val renamed = StructType(
      m.schema.fields.updated(idx, m.schema.fields(idx).copy(name = newName)))
    commitOn(table, m, Change("props", schema = Some(renamed),
      sets = Map(RenamesK -> renamesEncode(renamesOf(m) :+ ((cur + 1, idx, oldName))))), io)
  }

  /** The version since which the current layout keys apply. */
  def layoutSinceOf(m: Manifest): Long =
    m.extra.get(LayoutSinceK).map(_.toLong).getOrElse(0L)

  /** Past layout generations, ascending by start version. */
  def layoutHistOf(m: Manifest): Seq[(Long, Map[String, String])] =
    m.extra.get(LayoutHistK).filter(_.nonEmpty).map(_.split(";").toSeq.map { e =>
      val i = e.indexOf(':')
      val since = e.substring(0, i).toLong
      val enc = e.substring(i + 1)
      val kv =
        if (enc.isEmpty) Map.empty[String, String]
        else FileEntry.unhex(enc).split("&").map { p =>
          val j = p.indexOf('=')
          p.substring(0, j) -> p.substring(j + 1)
        }.toMap
      (since, kv)
    }).getOrElse(Nil)

  private[sources] def layoutHistEncode(hist: Seq[(Long, Map[String, String])]): String =
    hist.map { case (v, kv) =>
      s"$v:${FileEntry.hex(kv.toSeq.sortBy(_._1).map { case (k, x) => s"$k=$x" }
        .mkString("&"))}"
    }.mkString(";")

  /** The layout generation that governed a file stamped at commit
    * `seq`: the current keys when seq >= layoutsince, else the newest
    * past generation starting at or before seq. */
  def layoutForSeq(m: Manifest, seq: Long): Map[String, String] =
    if (seq >= layoutSinceOf(m)) declaredLayout(m)
    else layoutHistOf(m).filter(_._1 <= seq).lastOption.map(_._2)
      .getOrElse(Map.empty)

  /** Parse a bucket spec (`col:n`) out of a generation's layout map. */
  private[graft] def bucketSpecFromLayout(kv: Map[String, String]): Option[(String, Int)] =
    layoutArg(kv, BucketK).map { case (c, n) => (c, n.toInt) }

  /** Route every row of key `k` to the one partition owning that key —
    * an EXACT partitioner, not hash-modulo (two keys must never share a
    * file, or the file's min==max stat and the SPJ partition grouping
    * both break). The key dictionary is collected to the driver and
    * rides the task closure: identity clustering is for PARTITION-grade
    * cardinalities (the Iceberg identity-partition constraint — the
    * number of partitions is operational metadata, not data). */
  private final class ExactPartitioner(n: Int, index: Map[Any, Int])
      extends org.apache.spark.Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = index(key)
  }

  /** Ceiling on identity-cluster key cardinality — past it the layout
    * the user wants is `bucket(n, k)` (the guard's message says so). */
  private[graft] val MaxIdentityClusterKeys = 100000

  private def clusterExact(df: DataFrame, k: String): DataFrame = {
    val f = df.schema.fields.find(_.name == k).getOrElse(
      throw new IllegalArgumentException(s"no cluster column $k in ${df.schema.simpleString}"))
    require(
      Seq(ByteType, ShortType, IntegerType, LongType, StringType).contains(f.dataType),
      s"clusterBy=$k: ${f.dataType.simpleString} is not an identity-cluster type " +
        "(integral or string — the manifest must recover the exact key from file stats)")
    val idx = df.schema.fieldIndex(k)
    val keys = df.select(col(k)).distinct().collect().map(_.get(0))
    // identity clustering is for PARTITION-grade cardinalities: the key
    // dictionary rides the driver and every key becomes one write
    // partition + one file — a million-key "cluster" is a layout
    // mistake, not a scale problem to absorb silently
    require(keys.length <= MaxIdentityClusterKeys,
      s"clusterBy=$k has ${keys.length} distinct values — identity clustering " +
        s"caps at $MaxIdentityClusterKeys (one file and one driver map entry " +
        "per key); use PARTITIONED BY (bucket(n, " + k + ")) for " +
        "high-cardinality keys (fixed file budget, same zero-shuffle joins)")
    require(!keys.contains(null),
      s"cluster column $k holds NULLs — identity clustering needs a total key " +
        "(filter or coalesce them first)")
    // deterministic partition order so a re-run lays out identical files
    val pid = keys.sortBy(String.valueOf(_)).zipWithIndex.toMap
    val rdd = df.rdd
      .map(r => (r.get(idx), r))
      .partitionBy(new ExactPartitioner(math.max(pid.size, 1), pid))
      .map(_._2)
    df.sparkSession.createDataFrame(rdd, df.schema)
  }

  /** One deletion-vector sidecar: its parquet path, the COMMIT SEQUENCE
    * it was stamped at (applies only to rows from files with
    * `FileEntry.seq` < `seq` — Iceberg's equality-delete sequencing,
    * what keeps a merge-on-read commit from deleting its own
    * post-images), and its recorded key count (-1 = unrecorded legacy).
    * Legacy
    * entries (bare hex path) read as seq = MaxValue: they predate
    * sequencing and applied to every file — semantics preserved. A ref
    * built with seq = -1 (a task-written sidecar) is stamped with its
    * commit's sequence by the commit tail, like [[FileEntry.seq]].
    * `rangeL`/`rangeS` record the delete keys' observed [min, max] at
    * write time (same pass as the count — integral keys widened to
    * Long, string keys raw):
    * consumers that only need "which carried files CAN this DV hit"
    * (the V2 reader's per-file attachment, the incremental change
    * feed's pre-image prune) answer from the manifest line alone, zero
    * sidecar reads. Absent on legacy refs —
    * every consumer must fall back to reading the sidecar. */
  private[graft] final case class DvRef(
      path: String,
      seq: Long,
      count: Long,
      rangeL: Option[(Long, Long)] = None,
      rangeS: Option[(String, String)] = None)

  private[graft] def dvRefs(m: Manifest): Seq[DvRef] =
    m.extra.get(DvFilesK).filter(_.nonEmpty).map(_.split(";").toSeq.map { e =>
      e.split(':') match {
        case Array(p)       => DvRef(FileEntry.unhex(p), Long.MaxValue, -1L)
        case Array(p, s, c) => DvRef(FileEntry.unhex(p), s.toLong, c.toLong)
        case Array(p, s, c, "l", lo, hi) =>
          DvRef(FileEntry.unhex(p), s.toLong, c.toLong,
            rangeL = Some((lo.toLong, hi.toLong)))
        case Array(p, s, c, "s", lo, hi) =>
          DvRef(FileEntry.unhex(p), s.toLong, c.toLong,
            rangeS = Some((FileEntry.unhex(lo), FileEntry.unhex(hi))))
        case _ => throw new IllegalArgumentException(s"bad deletion-vector ref '$e'")
      }
    }).getOrElse(Nil)

  private def dvEncode(refs: Seq[DvRef]): String =
    refs.map { r =>
      if (r.seq == Long.MaxValue && r.count < 0) FileEntry.hex(r.path)
      else r.rangeL.map { case (lo, hi) =>
        s"${FileEntry.hex(r.path)}:${r.seq}:${r.count}:l:$lo:$hi"
      }.orElse(r.rangeS.map { case (lo, hi) =>
        s"${FileEntry.hex(r.path)}:${r.seq}:${r.count}:s:${FileEntry.hex(lo)}:${FileEntry.hex(hi)}"
      }).getOrElse(s"${FileEntry.hex(r.path)}:${r.seq}:${r.count}")
    }.mkString(";")

  private[sources] def dvPaths(m: Manifest): Seq[String] = dvRefs(m).map(_.path)

  private[sources] def dvKeyOf(m: Manifest): Option[String] = m.extra.get(DvKeyK)

  /** Reserved manifest key: the table's outstanding POSITION-delete
    * sidecars (Iceberg v2's second delete format) — `hex(path):count`
    * entries, ';'-joined. Each sidecar is a tiny parquet of
    * (_file STRING, _pos BIGINT) rows naming concrete data-file
    * ordinals to drop, written by [[deletePositions]]: the MoR DELETE
    * for tables with NO natural row key (no morKey declarable). No
    * sequence scoping is needed — a position delete names its file by
    * path, and files appended later have different paths by
    * construction. Carried on append/rollback/branch like equality
    * DVs; materialized and dropped by compaction. */
  private[sources] val PosDvFilesK = "posdvfiles"

  /** Reserved manifest key: the UNIT of temporal long stats in this
    * manifest's entries — `micros` means timestamps ride as epoch
    * MICROS and dates as epoch DAYS (the InternalRow physical values).
    * Stamped by every publishManifest; a manifest WITHOUT it predates
    * the marker and its temporal stats are unit-ambiguous — served as
    * absent, never reinterpreted (manifest()'s strip + Manifest.scrub). */
  private[sources] val StatsUnitsK = "statsunits"
  private[sources] val StatsUnitsV = "micros"

  /** An outstanding position-delete sidecar: path, recorded row count,
    * and the byte-wise [min, max] range of the DATA-FILE PATHS it names
    * — recorded at write time for free (the stale check already
    * collected the named files) and what lets the reader attach to
    * each data file only the sidecars that can hit it.
    * Legacy 2-token refs carry no range (= may hit any file). */
  final case class PosDvRef(
      path: String, count: Long, range: Option[(String, String)] = None)

  /** The outstanding position-delete sidecars. */
  private[graft] def posDvRefs(m: Manifest): Seq[PosDvRef] =
    m.extra.get(PosDvFilesK).filter(_.nonEmpty).map(_.split(";").toSeq.map { e =>
      e.split(':') match {
        case Array(p, c) => PosDvRef(FileEntry.unhex(p), c.toLong)
        case Array(p, c, lo, hi) =>
          PosDvRef(FileEntry.unhex(p), c.toLong,
            Some((FileEntry.unhex(lo), FileEntry.unhex(hi))))
        case _ => throw new IllegalArgumentException(s"bad position-delete ref '$e'")
      }
    }).getOrElse(Nil)

  private[sources] def posDvPaths(m: Manifest): Seq[String] = posDvRefs(m).map(_.path)

  private def posDvEncode(refs: Seq[PosDvRef]): String =
    refs.map { r =>
      val base = s"${FileEntry.hex(r.path)}:${r.count}"
      r.range.fold(base) { case (lo, hi) =>
        s"$base:${FileEntry.hex(lo)}:${FileEntry.hex(hi)}"
      }
    }.mkString(";")

  private[sources] def requireNoDv(m: Manifest, table: String, op: String): Unit = {
    require(dvPaths(m).isEmpty,
      s"$table carries ${dvPaths(m).size} outstanding deletion-vector file(s) — " +
        s"$op does not carry delete state into its commit and would resurrect " +
        "deleted rows; run compactSnapshot (which materializes the deletes) first")
    require(posDvPaths(m).isEmpty,
      s"$table carries ${posDvPaths(m).size} outstanding position-delete " +
        s"sidecar(s) — $op does not carry delete state into its commit and would " +
        "resurrect deleted rows; run compactSnapshot (which materializes the " +
        "deletes) first")
  }

  /** WRITE-TIME CHANGE CAPTURE for a position-delta commit: while the
    * deleted rows are still physically addressable (the batch was
    * scanned from the live view, so every named ordinal is a live row),
    * read the named files ONCE with their true per-file ordinals and
    * semi-join the batch — the match is exactly the deleted rows'
    * pre-images, which land as one small change sidecar next to the
    * position sidecar. O(touched files) at write time; it is what lets
    * [[changeFeedIncremental]] serve delete pre-images across
    * position-delta commits at O(delta) instead of falling back to the
    * O(table) state diff. Returns the per-commit [[ChangePreK]]
    * pointer; empty unless the table opted in with
    * TBLPROPERTIES('changeCapture'='preimages') (the Delta-CDF
    * posture — capture is a declared cost, never a silent one). */
  private def writeChangePre(
      spark: SparkSession,
      m: Manifest,
      batch: DataFrame,
      named: Seq[String],
      table: String,
      next: Long,
      io: SnapshotIO): Map[String, String] = {
    if (named.isEmpty || !m.extra.get(ChangeCaptureK).contains("preimages"))
      return Map.empty
    def freshName(stem: String): String = Iterator.from(0)
      .map(i => if (i == 0) stem else s"$stem$i")
      .find(n => !m.schema.fieldNames.contains(n)).get
    val cf = freshName("__graft_cf")
    val cp = freshName("__graft_cp")
    // the named files through the table's reader, with their `_file`/
    // `_pos` provenance — the raw ordinals the batch was scanned with;
    // files written before a column rename read under their own names
    val live = named.toSet
    val base = readFiles(spark, table, m, Some(m.files.filter(f => live(f.path))))
      .select(m.schema.fieldNames.map(col).toSeq ++
        Seq(col("_file").as(cf), col("_pos").as(cp)): _*)
    // batch-derived side: structural shuffle hint, never an estimate
    val pre = base.join(batch.hint("shuffle_hash"),
        base(cf) === batch("_file") && base(cp) === batch("_pos"), "left_semi")
      .drop(cf, cp)
    val token = java.util.UUID.randomUUID().toString.take(8)
    val dir = s"$table/data/v${next}_${token}_chpre"
    pre.coalesce(1).write.mode("errorifexists").parquet(dir)
    Map(ChangePreK -> FileEntry.hex(dir))
  }

  /** MERGE-ON-READ DELETE BY POSITION — the Iceberg-v2 position-delete
    * format, the row-level delete for tables with NO natural row key:
    * `pos` holds (_file, _pos) pairs (exactly what a provenance scan of
    * the V2 table's metadata columns yields — `SELECT _file, _pos FROM t
    * WHERE <pred>`), recorded as a tiny parquet sidecar + one manifest
    * pointer, touching ZERO data files. The V2 reader drops the listed
    * ordinals per file (raw physical positions — pos-bearing scans
    * disable parquet filter pushdown so ordinals never shift); batches
    * accumulate until [[compactSnapshot]] materializes them. Positions
    * must name files LIVE in the current manifest — positions taken
    * against a version whose files were since rewritten are UNSOUND by
    * construction and refuse loudly. mode=delete: incremental readers
    * refuse across it, like deleteKeys.
    *
    * `dropPaths` drops whole files in the same commit — the tail of a
    * SQL `DELETE FROM t WHERE pred` under deleteMode=positions: files
    * the manifest PROVED all-match drop whole (fresh segments: the
    * dropped entries lived inside the parent's), the unprovable
    * remainder's matching rows land as the sidecar. Returns the
    * published version (the current one when nothing matched). */
  def deletePositions(
      pos: DataFrame,
      table: String,
      io: SnapshotIO = LocalSnapshotIO,
      dropPaths: Set[String] = Set.empty): Long = {
    val m = headOf(table, io)
    require(m.version > 0, s"cannot delete from non-existent table $table")
    require(pos.schema.fieldNames.contains("_file") &&
      pos.schema.fieldNames.contains("_pos"),
      s"deletePositions takes (_file, _pos) columns — the V2 metadata-column " +
        s"provenance shape; got ${pos.schema.fieldNames.mkString(", ")}")
    val batch = pos.select(col("_file").cast("string"), col("_pos").cast("long"))
      .na.drop().distinct()
    val named = batch.select("_file").distinct().collect().map(_.getString(0)).toSeq
    // a predicate that matched nothing is a NO-OP, not a commit: an
    // empty sidecar would still flip posDvPaths non-empty — refusing
    // every subset reader, disabling SPJ/pushdowns, and breaking
    // incremental readers across a delete that deleted nothing
    if (named.isEmpty && dropPaths.isEmpty) return m.version
    val kept = if (dropPaths.isEmpty) None else Some(m.files.filterNot(f => dropPaths(f.path)))
    val live = kept.getOrElse(m.files).map(_.path).toSet
    val stale = named.filterNot(live)
    require(stale.isEmpty,
      s"position deletes name files not live in snapshot ${m.version} of $table " +
        s"(${stale.take(3).mkString(", ")}…) — positions are only sound against " +
        "the files they were scanned from (and a file the commit drops takes " +
        "no positions); re-scan at head")
    val next = m.version + 1
    val refs = if (named.isEmpty) Nil else writePosSidecar(batch, table, next, "posdv", io)
    // change capture covers only the FUZZY remainder: the whole-dropped
    // files' pre-images stay attributable from the parent manifest (the
    // feed's removed-files arm reads them position-applied)
    val chpre = writeChangePre(pos.sparkSession, m, batch, named, table, next, io)
    commitOn(table, m, Change("delete", kept = kept.map(ks => (Nil, ks)),
      posDeletes = if (refs.isEmpty) None else Some(posDvRefs(m) ++ refs), extra = chpre), io)
  }

  /** Write `rows` ((_file, _pos) pairs) as ONE position-delete sidecar
    * of commit `next` and return its refs, each with the exact row count
    * and the byte-wise range of the data-file paths it names — the
    * scoped reader's per-file attachment prunes on it. Counted in one
    * driver-thread pass over the tiny sidecar: zero Spark jobs (the old
    * read.parquet(dir).count() paid schema inference + a count job per
    * position commit, r18). Nil when it holds no row. */
  private def writePosSidecar(
      rows: DataFrame,
      table: String,
      next: Long,
      suffix: String,
      io: SnapshotIO): Seq[PosDvRef] = {
    val token = java.util.UUID.randomUUID().toString.take(8)
    val dir = s"$table/data/v${next}_${token}_$suffix"
    rows.coalesce(1).write.mode("errorifexists").parquet(dir)
    val parts = io.list(dir).filter(_.endsWith(".parquet")).sorted.map(n => s"$dir/$n")
    var cnt = 0L
    var lo: String = null; var hi: String = null
    SnapshotV2.foreachSidecarRow(
      rows.sparkSession, SnapshotV2.PosSidecarSchema, parts, io) { row =>
      cnt += 1
      if (!row.isNullAt(0)) {
        val f = row.getUTF8String(0).toString
        if (lo == null || FileEntry.bytesLe(f, lo)) lo = f
        if (hi == null || FileEntry.bytesLe(hi, f)) hi = f
      }
    }
    if (cnt == 0L) Nil else parts.map(PosDvRef(_, cnt, Some((lo, hi))))
  }

  /** Maintenance that rewrites data files OUTSIDE the bucketed write
    * path would drop the per-file [[BucketStat]] and silently demote
    * the whole table's SPJ/prune layout to unknown — refuse loudly;
    * `INSERT OVERWRITE` (whose V2 write re-routes and re-stamps every
    * bucket) is the layout-preserving rewrite. */
  private def requireNotBucketed(m: Manifest, table: String, op: String): Unit = {
    require(bucketSpecOf(m).isEmpty,
      s"$op refused on hash-bucketed $table (bucket=${m.extra(BucketK)}) — " +
        "it would rewrite files without their bucket stamp and demote the " +
        "layout; rewrite through INSERT OVERWRITE, which re-buckets")
    require(truncSpecOf(m).isEmpty,
      s"$op refused on truncate-grouped $table (trunc=${m.extra.getOrElse(TruncK, "")}) — " +
        "it would rewrite files without their truncate stamp and demote the " +
        "layout; rewrite through INSERT OVERWRITE, which re-groups")
    require(temporalSpecOf(m).isEmpty,
      s"$op refused on temporally-partitioned $table " +
        s"(temporal=${m.extra.getOrElse(TemporalK, "")}) — it would rewrite files " +
        "without their period stamp and demote the layout; rewrite through " +
        "INSERT OVERWRITE, which re-partitions")
  }

  /** Merge-on-read DELETE — the Delta deletion-vector shape: record the
    * keys to delete as a small parquet sidecar and a manifest pointer,
    * touching ZERO data files. Every read path drops the rows whose
    * key a later-sequenced delete names, so they vanish immediately at head
    * (and at every later snapshot) while the delete itself costs
    * O(batch) regardless of how many 100 TB files hold the rows — the
    * exact trade against [[merge]]'s copy-on-write (O(touched files)
    * per batch, but zero read-time overhead). Delete batches
    * accumulate; [[compactSnapshot]] materializes them (its rewrite
    * reads through the DV-applied path and the overwrite commit drops
    * the DV state), re-zeroing the read cost. [[merge]] refuses while
    * DVs are outstanding (its commit does not carry them). Appends/rollback/
    * branches carry the DV state forward verbatim; overwrite clears it.
    * mode=delete breaks new-files == new-rows, so incremental readers
    * refuse to scan across it, like overwrite/merge/rollback.
    * Returns the published version. */
  def deleteKeys(
      keys: DataFrame,
      table: String,
      key: String,
      io: SnapshotIO = LocalSnapshotIO): Long = {
    val m = headOf(table, io)
    require(m.version > 0, s"cannot delete from non-existent table $table")
    require(m.schema.fieldNames.contains(key), s"no column $key in $table")
    requireDvKey(m, table, key)
    val newDv = writeDvSidecar(keys.sparkSession, keys.select(col(key)),
      table, key, m.version + 1, io)
    commitOn(table, m, Change("delete", dvKey = Some(key),
      eqDeletes = Some(dvRefs(m) ++ newDv)), io)
  }

  /** One delete key per equality-DV chain: a chain keyed on another
    * column must be materialized (compacted) first. */
  private[sources] def requireDvKey(m: Manifest, table: String, key: String): Unit =
    require(dvKeyOf(m).forall(_ == key),
      s"table $table already carries deletion vectors keyed on " +
        s"${m.extra(DvKeyK)} — one delete key per DV chain (materialize first)")

  /** The commit tail of a SQL POSITION-delta write ([[SupportsDelta]]
    * with (_file,_pos) row identity — MoR UPDATE / MERGE / row-level
    * DELETE for morKey-less tables under deleteMode=positions): ONE
    * manifest carrying the parent's segments verbatim, the post-image
    * entries, and the task-written position sidecars appended to the
    * outstanding refs — zero existing data files touched. mode=merge,
    * like the equality-delta commit: incremental readers refuse across
    * it, the position format applies reader-side unchanged. */
  private[sources] def publishPosDeltaCommit(
      table: String,
      entries: Seq[FileEntry],
      sidecars: Seq[PosDvRef],
      io: SnapshotIO = LocalSnapshotIO): Long = {
    val m = headOf(table, io)
    require(m.version > 0, s"cannot delta-commit into non-existent table $table")
    // write-time change capture for the DML's position deletes: the
    // sidecars are already on disk (task-written), batch-sized; one
    // O(touched files) pass recovers the pre-images while the ordinals
    // still address them. The O(batch) distinct-file collect is the
    // documented stats-routing contract. Capture is OPT-IN
    // (changeCapture=preimages): the property gates BEFORE the
    // sidecar re-read and the distinct-file collect, so a capture-less
    // DML commit pays zero extra jobs here — previously the collect
    // ran unconditionally and writeChangePre then discarded it, one
    // wasted Spark job per position-delta DML commit (r18).
    val chpre =
      if (sidecars.isEmpty || !m.extra.get(ChangeCaptureK).contains("preimages"))
        Map.empty[String, String]
      else {
        val spark = SparkSession.active
        val batch = spark.read.schema(SnapshotV2.PosSidecarSchema)
          .parquet(sidecars.map(_.path): _*)
          .select(col("_file").cast("string"), col("_pos").cast("long"))
        val named = batch.select("_file").distinct().collect()
          .map(_.getString(0)).toSeq
        writeChangePre(spark, m, batch, named, table, m.version + 1, io)
      }
    commitOn(table, m, Change("merge", entries,
      posDeletes = Some(posDvRefs(m) ++ sidecars), extra = chpre), io)
  }

  /** Every table-level DECLARATION key a descendant commit must carry
    * forward verbatim: layout (cluster/bucket/trunc/temporal + the spec-
    * evolution generation markers), stats columns, MoR key, per-file row
    * cap, delete routing, rename log, advisory write size. One list, read
    * by one commit tail ([[commitOn]]) — the carry-drift class of bug (a
    * commit path silently stripping a declaration) can only recur by
    * forgetting a NEW key here. */
  private[graft] val DeclKeys: Set[String] = Set(
    ClusterK, BucketK, TruncK, TemporalK, LayoutSinceK, LayoutHistK,
    StatsColsK, MorKeyK, MaxRowsK, DeleteModeK, ChangeCaptureK, RenamesK,
    AdvisoryBytesK)

  /** Write one deletion-vector sidecar (the batch's DISTINCT keys,
    * one small parquet) stamped at commit sequence `seq`, and return
    * its refs with exact key counts and key ranges. */
  private def writeDvSidecar(
      spark: SparkSession,
      keyCol: DataFrame,
      table: String,
      key: String,
      seq: Long,
      io: SnapshotIO): Seq[DvRef] = {
    val token = java.util.UUID.randomUUID().toString.take(8)
    val dvDir = s"$table/data/v${seq}_${token}_dv"
    keyCol.distinct().coalesce(1).write.mode("errorifexists").parquet(dvDir)
    // count AND key range in one DRIVER-THREAD pass over the tiny
    // freshly-written sidecar (SnapshotV2.foreachSidecarRow — zero
    // Spark jobs; the old spark.read.agg(...).collect() paid a schema-
    // inference job + an aggregate job per DV commit, r18). The range
    // rides the ref so range-only consumers never open the sidecar.
    val keyField = keyCol.schema.fields(0)
    val keyType = keyField.dataType
    val files = io.list(dvDir).filter(_.endsWith(".parquet")).sorted
      .map(n => s"$dvDir/$n")
    var cnt = 0L
    var mnL = Long.MaxValue; var mxL = Long.MinValue
    var mnS: String = null; var mxS: String = null
    SnapshotV2.foreachSidecarRow(
      spark, StructType(Seq(keyField.copy(nullable = true))), files, io) { row =>
      cnt += 1
      if (!row.isNullAt(0)) keyType match {
        case StringType =>
          val v = row.getUTF8String(0).toString
          if (mnS == null || FileEntry.bytesLe(v, mnS)) mnS = v
          if (mxS == null || FileEntry.bytesLe(mxS, v)) mxS = v
        case ByteType | ShortType | IntegerType | LongType =>
          val v = keyType match {
            case ByteType    => row.getByte(0).toLong
            case ShortType   => row.getShort(0).toLong
            case IntegerType => row.getInt(0).toLong
            case _           => row.getLong(0)
          }
          if (v < mnL) mnL = v
          if (v > mxL) mxL = v
        case _ => ()
      }
    }
    val (rl, rs): (Option[(Long, Long)], Option[(String, String)]) =
      keyType match {
        case StringType if mnS != null => (None, Some((mnS, mxS)))
        case ByteType | ShortType | IntegerType | LongType if mnL <= mxL =>
          (Some((mnL, mxL)), None)
        case _ => (None, None)
      }
    files.map(p => DvRef(p, seq, cnt, rl, rs))
  }

  /** MERGE-ON-READ upsert — the Iceberg-v2 equality-delete shape for a
    * trickle-update CDC stream against a 100 TB table: ONE commit
    * writes (a) a deletion-vector sidecar holding every batch key
    * (update pre-images and deletes both vanish through the read-time
    * delete filter) and (b) the post-image rows as ordinary appended data
    * files, so the commit cost is O(batch) and ZERO existing data
    * files are opened or rewritten — the exact trade against
    * [[merge]]'s copy-on-write (O(touched files) per batch, zero
    * read-time overhead). Sequencing keeps it sound: the DV is stamped
    * with this commit's sequence and applies only to files added
    * BEFORE it, so the post-images it ships alongside are untouched;
    * DV batches accumulate read-time work until [[compactSnapshot]]
    * materializes them. mode=merge, so incremental readers refuse
    * across it (new files != new rows); [[changeFeed]] is state-based
    * and emits the update pre/post-images across the commit unchanged.
    * Refused on identity-clustered tables (post-image appends would
    * break the one-key-per-file invariant SPJ reads from the
    * manifest — CoW [[merge]] maintains clustering; use it there).
    * Returns (deleted keys, appended files, version). */
  def mergeMoR(
      batch: DataFrame,
      table: String,
      key: String,
      deleteCol: Option[String] = None,
      io: SnapshotIO = LocalSnapshotIO): (Long, Int, Long) = {
    val spark = batch.sparkSession
    val m = headOf(table, io)
    require(m.version > 0, s"cannot merge into non-existent table $table")
    val dataCols = batch.schema.fieldNames.filterNot(deleteCol.contains)
    require(
      dataCols.sameElements(m.schema.fieldNames),
      s"merge batch columns ${dataCols.mkString(",")} do not match table " +
        s"columns ${m.schema.fieldNames.mkString(",")}")
    require(m.schema.fieldNames.contains(key), s"no column $key in $table")
    requireDvKey(m, table, key)
    require(clusterKeyOf(m).isEmpty,
      s"mergeMoR refused on identity-clustered $table — post-image appends " +
        "break the one-key-per-file invariant; copy-on-write merge maintains it")
    requireNotBucketed(m, table, "mergeMoR")
    val newDv = writeDvSidecar(spark, batch.select(col(key)), table, key, m.version + 1, io)
    val upserts = deleteCol match {
      case Some(d) => batch.filter(!coalesce(col(d), lit(false))).drop(d)
      case None    => batch
    }
    val c = Change("merge", schema = Some(upserts.schema), dvKey = Some(key),
      eqDeletes = Some(dvRefs(m) ++ newDv))
    val added = writeFor(upserts, table, m, c, Seq(key))
    (newDv.map(_.count).sum, added.size, commitOn(table, m, c.copy(added = added), io))
  }

  /** DELETION-VECTOR CONSOLIDATION — the maintenance mid-point between
    * trickle-CDC reads and full compaction (Iceberg's
    * rewrite_position_delete_files analogue for the equality chain):
    * rewrite the outstanding DV sidecars into ONE deduped sidecar per
    * EFFECTIVE sequence, touching ZERO data files. The effective
    * delete state is key → max(seq) (a key deleted at seq 5 and again
    * at seq 9 only needs the 9 — re-grouping keys by that max
    * preserves the reader rule `kill iff maxseq(key) > fseq` exactly);
    * each task-grained sidecar a multi-task DELETE scattered (one per
    * writer task, all at one seq) folds into one file, ranges and
    * counts recorded on every new ref. One distributed job
    * (partitionBy over the effective seq), one mode=dvrewrite metadata
    * commit carrying the data file set VERBATIM; the change feed
    * recognizes the mode and emits zero rows; old sidecars stay
    * referenced by prior manifests until retention reclaims them.
    * Readers win twice: each file attaches fewer, range-tagged
    * sidecars, and each holds a deduped set.
    * Returns (sidecarsBefore, sidecarsAfter, distinctKeys). */
  def consolidateDeleteVectors(
      spark: SparkSession,
      table: String,
      io: SnapshotIO = LocalSnapshotIO): (Int, Int, Long) = {
    val m = headOf(table, io)
    require(m.version > 0, s"cannot consolidate non-existent table $table")
    val refs = dvRefs(m)
    val posRefs = posDvRefs(m)
    require(refs.nonEmpty || posRefs.nonEmpty,
      s"$table carries no outstanding deletion vectors — nothing to consolidate")
    val next = m.version + 1
    // POSITION sidecars consolidate trivially (no sequence semantics —
    // a position names its file by path): all batches dedupe into ONE
    // (_file, _pos) sidecar, whose ref scopes at least as tightly as
    // the originals
    val posNew: Option[Seq[PosDvRef]] =
      if (posRefs.size <= 1) None
      else Some(writePosSidecar(spark.read.schema(SnapshotV2.PosSidecarSchema)
        .parquet(posRefs.map(_.path): _*).distinct(), table, next, "posdvc", io))
    if (refs.isEmpty) {
      // positions only: one metadata commit, data files verbatim
      commitOn(table, m, Change("dvrewrite", posDeletes = posNew), io)
      return (posRefs.size, 1, posRefs.map(_.count).sum)
    }
    val key = m.extra(DvKeyK)
    val keyType = m.schema(m.schema.fieldIndex(key)).dataType
    val token = java.util.UUID.randomUUID().toString.take(8)
    val dir = s"$table/data/v${next}_${token}_dvc"
    // effective state in one job: key -> max seq, laid out one file per
    // seq (partitionBy splits per seq inside each task; repartition by
    // seq keeps each seq in one task → one file per effective seq)
    // NULL keys never match a row (readers skip them), so dropping them
    // here is lossless — and required: an all-NULL sidecar would yield
    // a null min/max for its consolidated seq and crash the range
    // extraction below
    val kf1 = m.schema(m.schema.fieldIndex(key)).copy(nullable = true)
    val all = refs.map(r =>
        spark.read.schema(StructType(Seq(kf1))).parquet(r.path)
          .select(col(key), lit(r.seq).as("__seq")))
      .reduce(_.unionByName(_)).where(col(key).isNotNull)
    if (all.isEmpty) {
      // the whole chain was NULL keys — no row can ever match, so the
      // consolidated state is NO state: clear the chain outright
      commitOn(table, m, Change("dvrewrite", eqDeletes = Some(Nil), posDeletes = posNew), io)
      return (refs.size + posRefs.size, math.min(posRefs.size, 1), 0L)
    }
    all.groupBy(col(key)).agg(max(col("__seq")).as("__seq"))
      .repartition(col("__seq"))
      .write.partitionBy("__seq").parquet(dir)
    // per-seq count + key range for the new refs (one small agg over
    // the consolidated output — delete-state-sized, not table-sized)
    val st = spark.read.parquet(dir)
      .groupBy(col("__seq"))
      .agg(count(lit(1)).as("__n"),
        min(col(key)).as("__mn"), max(col(key)).as("__mx"))
      .collect()
    val newRefs = st.toSeq.map { r =>
      val seq = r.getAs[Any]("__seq") match {
        case l: Long => l
        case i: Int  => i.toLong
        case s: String => s.toLong // partition column read back as string
      }
      val seqDir = s"$dir/__seq=$seq"
      val parts = io.list(seqDir).filter(_.endsWith(".parquet")).sorted
      require(parts.size == 1,
        s"consolidation expects one file per seq, got ${parts.size} in $seqDir")
      val (rl, rs): (Option[(Long, Long)], Option[(String, String)]) =
        keyType match {
          case StringType => (None, Some((r.getAs[String]("__mn"), r.getAs[String]("__mx"))))
          case _ =>
            def asL(v: Any): Long = v match {
              case b: Byte => b.toLong; case sh: Short => sh.toLong
              case i: Int => i.toLong; case l: Long => l
            }
            (Some((asL(r.getAs[Any]("__mn")), asL(r.getAs[Any]("__mx")))), None)
        }
      DvRef(s"$seqDir/${parts.head}", seq, r.getAs[Long]("__n"), rl, rs)
    }.sortBy(_.seq)
    commitOn(table, m, Change("dvrewrite", eqDeletes = Some(newRefs), posDeletes = posNew), io)
    (refs.size + posRefs.size, newRefs.size + math.min(posRefs.size, 1),
      newRefs.map(_.count).sum)
  }

  /** INCREMENTAL read — the change-scan between two snapshots (the
    * Iceberg incremental-read shape): data files are immutable and an
    * append commit only ADDS files, so the rows added in versions
    * (from, to] are exactly the files in `to`'s manifest that `from`'s
    * lacks. This is what makes day-2 pipelines (pipe_incremental_refresh,
    * dedup_lsh_incremental) cheap against a snapshot table: the delta
    * is resolved from two manifests — no diff scan of the table, no
    * modified-time heuristics. Every commit in (from, to] must be an
    * append; an overwrite OR merge breaks new-files == new-rows and
    * fails loudly here rather than returning a wrong delta. */
  def readIncremental(
      spark: SparkSession,
      table: String,
      fromVersion: Long,
      toVersion: Long,
      io: SnapshotIO = LocalSnapshotIO): DataFrame = {
    val m = manifest(table, toVersion, io)
    val paths = incrementalFiles(table, fromVersion, toVersion, io).toSet
    readFiles(spark, table, m, Some(m.files.filter(f => paths(f.path))))
  }

  /** The file paths added in versions (from, to] — the metadata half of
    * [[readIncremental]], also what the streaming source plans each
    * micro-batch from. Validates the pure-append precondition. */
  def incrementalFiles(
      table: String,
      fromVersion: Long,
      toVersion: Long,
      io: SnapshotIO = LocalSnapshotIO): Seq[String] = {
    require(fromVersion < toVersion, s"need fromVersion < toVersion, got $fromVersion >= $toVersion")
    val modes = ((fromVersion + 1) to toVersion).map { v =>
      val mode = manifest(table, v, io).extra.getOrElse("mode", "?")
      require(mode == "append" || mode == "rewrite" || mode == "props",
        s"snapshot $v of $table is mode=$mode — incremental read is only " +
          "sound across appends (and metadata-only segment rewrites / " +
          "property commits, whose file set is provably unchanged)")
      mode
    }
    val from = manifest(table, fromVersion, io)
    val to = manifest(table, toVersion, io)
    if (modes.forall(_ == "append") && from.inline.isEmpty && to.inline.isEmpty) {
      // SEGMENT-diff fast path: appends carry the parent's segments by
      // reference and add new ones, so the delta is exactly the
      // segments `to` carries that `from` doesn't — O(delta files)
      // loaded, never the full table's file list. (Inline entries mean
      // a legacy flat manifest is in the chain; a mode=rewrite commit
      // re-bundles carried files into NEW segment paths — both fall
      // through to the full path-set diff, which is always sound:
      // rewrites keep the file set identical, so the diff is still
      // exactly the appends' files.)
      val old = from.segments.map(_.path).toSet
      to.segments.filterNot(s => old(s.path))
        .flatMap(s => readSegment(s.path, io)).map(_.path)
    } else {
      val old = from.files.map(_.path).toSet
      to.files.map(_.path).filterNot(old)
    }
  }

  /** TRANSACTIONAL compaction — the maintenance pass incremental
    * writers need, done the snapshot way: rewrite the current
    * snapshot's many small files into ceil(bytes/targetBytes) files and
    * publish the result as a NEW snapshot (mode=overwrite, identical
    * rows, every table declaration kept). Readers in flight keep their
    * version; time travel still reaches the fragmented history; vacuum
    * reclaims it later. Unlike GraftSinks.compact's in-place directory
    * swap there is NO window where the table does not exist. The
    * rewrite keeps the table's own layout ([[rewrite]]); `clusterBy` is
    * Delta's OPTIMIZE cluster arm: the rewrite also range-clusters on
    * the given columns so their recorded stats become disjoint and
    * selective reads prune to ~1 file — appends fragment the clustering
    * over time, this one call restores it transactionally.
    * `statsColumns` adds recorded stats beside the declared ones.
    * Transform-laid-out tables (bucket/truncate/temporal) refuse both
    * overrides. Returns (filesBefore, version). */
  def compactSnapshot(
      spark: SparkSession,
      table: String,
      targetBytes: Long = 128L << 20,
      statsColumns: Seq[String] = Nil,
      clusterBy: Seq[String] = Nil,
      io: SnapshotIO = LocalSnapshotIO): (Int, Long) = {
    val m = manifest(table, currentVersion(table, io), io)
    require(!transformLaidOut(m) || (clusterBy.isEmpty && statsColumns.isEmpty),
      s"compactSnapshot on transform-laid-out $table rewrites under the " +
        "table's OWN declared layout — clusterBy/statsColumns overrides refuse")
    (m.files.size,
      rewrite(spark, table, m, targetBytes, io, statsColumns ++ clusterBy, rangeBy = clusterBy))
  }

  /** Does `m` declare a bucket, truncate or temporal transform? */
  private def transformLaidOut(m: Manifest): Boolean =
    bucketSpecOf(m).nonEmpty || truncSpecOf(m).nonEmpty || temporalSpecOf(m).nonEmpty

  /** SELECTIVE layout maintenance — Iceberg's filtered
    * rewrite_data_files: rewrite ONLY the fragmented groups (a layout
    * stamp tuple held by more than one file), carrying every
    * single-file group and every unstamped file VERBATIM. This is the
    * scheduled maintenance shape at 100 TB: a streaming-append day
    * fragments TODAY's period while a year of cold periods sits at one
    * file each — the full [[compactSnapshot]] rewrite pays the year,
    * this pays today. Outstanding equality DVs are handled exactly:
    * the subset reads DV-APPLIED (rewritten rows materialize their
    * deletes) and the chain rides forward for the untouched files —
    * rewritten files commit at a sequence past every outstanding DV,
    * so nothing double-applies. Outstanding POSITION sidecars split
    * around the rewrite: the subset reads with true per-file ordinals
    * and materializes the positions naming rewritten files, while the
    * kept-file remainder re-lands as one consolidated sidecar and
    * provably-disjoint sidecars carry verbatim ([[splitPosSidecars]]).
    * Mixed layout generations refuse (group stamps from two specs
    * share a channel; [[compactEvolved]] re-unifies first).
    * Returns (groupsRewritten, filesRewritten, publishedVersion);
    * (0, 0, current) when nothing is fragmented. */
  def compactFragmented(
      spark: SparkSession,
      table: String,
      targetBytes: Long = 128L << 20,
      io: SnapshotIO = LocalSnapshotIO): (Int, Int, Long) = {
    val cur = currentVersion(table, io)
    require(cur > 0, s"cannot compact non-existent table $table")
    val m = manifest(table, cur, io)
    require(transformLaidOut(m),
      s"compactFragmented needs a transform layout (bucket/truncate/temporal) " +
        s"on $table — group membership is the stamp; plain tables use " +
        "compactSnapshot")
    val since = layoutSinceOf(m)
    require(since == 0 || m.files.forall(_.seq >= since),
      s"$table holds mixed layout generations — group stamps from two specs " +
        "share a channel; run compactEvolved (rewrites only the old " +
        "generation under the current spec) first")
    val channels = Seq(
      bucketSpecOf(m).map(_ => BucketStat),
      truncSpecOf(m).map(_ => TruncStat),
      temporalSpecOf(m).map(_ => TemporalStat)).flatten
    def stampOf(f: FileEntry): Option[Seq[Long]] = {
      val ss = channels.map(c => f.stats.get(c).collect { case (lo, hi) if lo == hi => lo })
      if (ss.forall(_.isDefined)) Some(ss.flatten) else None
    }
    val frag: Seq[FileEntry] = m.files.flatMap(f => stampOf(f).map(_ -> f))
      .groupBy(_._1).valuesIterator.filter(_.size > 1).flatMap(_.map(_._2)).toSeq
    if (frag.isEmpty) return (0, 0, cur)
    val groups = frag.flatMap(stampOf).distinct.size
    (groups, frag.size, rewrite(spark, table, m, targetBytes, io, only = Some(frag)))
  }

  /** GENERATION-TARGETED compaction — partition-spec evolution's day-2
    * maintenance pass: rewrite ONLY the files stamped under PAST layout
    * generations (commit seq < the manifest's `layoutsince` boundary)
    * through the CURRENT spec's stamping writers, carrying every
    * current-generation file VERBATIM (same entries, same paths, same
    * seq — zero bytes moved). Evolution happens precisely when a table
    * has outgrown its layout, i.e. when it is LARGEST — the full
    * [[compactSnapshot]] re-unification pays O(table) right then; this
    * pays O(old generation) only, after which every live file carries a
    * current-spec stamp, [[compactFragmented]]'s mixed-generation
    * refusal clears, and the scan's key grouping (SPJ) returns without
    * ever rewriting the new generation. Outstanding equality DVs apply
    * to the rewritten subset during the read (their deletes
    * materialize) and ride forward for the untouched files — nothing
    * double-applies, because rewritten files commit at a sequence past
    * every outstanding DV; position-delete sidecars split around the
    * rewrite exactly as in [[compactFragmented]]. A layout evolved to
    * 'none' or to an identity cluster has no transform to restamp
    * under — those re-unify through [[compactSnapshot]], and the
    * refusal says so.
    * Returns (filesRewritten, publishedVersion); (0, current) when no
    * live file predates the current generation (nothing to do). */
  def compactEvolved(
      spark: SparkSession,
      table: String,
      targetBytes: Long = 128L << 20,
      io: SnapshotIO = LocalSnapshotIO): (Int, Long) = {
    val cur = currentVersion(table, io)
    require(cur > 0, s"cannot compact non-existent table $table")
    val m = manifest(table, cur, io)
    val since = layoutSinceOf(m)
    require(since > 0,
      s"$table records no partition-spec evolution (no generation boundary) — " +
        "compactSnapshot / compactFragmented are the maintenance passes here")
    require(transformLaidOut(m),
      s"$table's current layout declares no transform (bucket/truncate/" +
        "temporal) to restamp the old generation under — a layout evolved to " +
        "'none' or an identity cluster re-unifies through compactSnapshot")
    val old = m.files.filter(_.seq < since)
    if (old.isEmpty) return (0, cur)
    (old.size, rewrite(spark, table, m, targetBytes, io, only = Some(old)))
  }

  /** Split the outstanding position-delete sidecar set around a
    * selective rewrite of `rewritten` files: sidecars whose recorded
    * named-file byte range provably misses every rewritten path carry
    * VERBATIM (zero reads); the overlapping ones load (delete-batch-
    * sized), drop the rows naming rewritten files (those deletes
    * materialized in the rewrite's position-applied read), and their
    * kept-file remainder re-lands as ONE consolidated, range-tagged
    * sidecar. Returns the replacement refs — empty when nothing
    * survives (the whole chain was consumed by the rewrite). */
  private def splitPosSidecars(
      spark: SparkSession,
      m: Manifest,
      rewritten: Set[String],
      table: String,
      next: Long,
      io: SnapshotIO): Seq[PosDvRef] = {
    val refs = posDvRefs(m)
    val (overlap, disjoint) = refs.partition(r => r.range.forall {
      case (lo, hi) => rewritten.exists(p =>
        FileEntry.bytesLe(lo, p) && FileEntry.bytesLe(p, hi))
    })
    if (overlap.isEmpty) return refs
    import spark.implicits._
    // the rewritten-path side is manifest-subset-sized and driver-held
    // already — broadcast is structural here, not an estimate
    val rw = rewritten.toSeq.toDF("__graft_rwp")
    val remain = spark.read.schema(SnapshotV2.PosSidecarSchema)
      .parquet(overlap.map(_.path): _*)
      .join(broadcast(rw), col("_file") === col("__graft_rwp"), "left_anti")
      .select(col("_file").cast("string"), col("_pos").cast("long"))
    disjoint ++ writePosSidecar(remain, table, next, "posdv", io)
  }

  /** The one LAYOUT-PRESERVING rewrite behind every compaction entry
    * point — [[compactSnapshot]], [[compactZOrder]],
    * [[compactFragmented]] and [[compactEvolved]]:
    *
    *  - READ: delete-applied, of the full snapshot or of the `only`
    *    file selection (outstanding deletes materialize).
    *  - LAY OUT: rows re-group by the exact transform expressions the
    *    write path routes by (Catalyst-native — `hash()` IS the writer's
    *    Murmur3 seed-42 for widened-long/UTF-8 keys; truncate/temporal
    *    via pmod-floored arithmetic, months/years through timezone-free
    *    DATE calendar functions; an identity cluster groups on its own
    *    column), optionally range-clustered within groups on `rangeBy`
    *    or on the Morton key of `zorderBy`, and sort group-contiguous
    *    within tasks. A table with neither groups nor a key coalesces,
    *    with no shuffle.
    *  - WRITE: task-side through the table's write layout
    *    ([[SnapshotWrites.dataWriterFactory]]) — the rolling writer cuts
    *    one file per group and stamps it (`__bucket`/`__trunc`/`__tpart`
    *    min == max, one key per identity-cluster file), maxRowsPerFile
    *    splits hot groups, and the declared stats, layout columns and
    *    `extraStats` record with an NDV sketch.
    *  - PUBLISH: pinned at parent+1, so a racing writer turns into a
    *    loud CME, never silent row loss. A full rewrite is mode=overwrite
    *    carrying every table declaration and dropping the (now
    *    materialized) DV state; a selective one is mode=merge (below).
    *
    * Returns the published version. */
  private def rewrite(
      spark: SparkSession,
      table: String,
      m: Manifest,
      targetBytes: Long,
      io: SnapshotIO,
      extraStats: Seq[String] = Nil,
      rangeBy: Seq[String] = Nil,
      zorderBy: Seq[String] = Nil,
      only: Option[Seq[FileEntry]] = None): Long = {
    val cur = m.version
    require(m.files.nonEmpty, s"$table snapshot $cur has no files to compact")
    val schema = m.schema
    val DayM = 86400L * 1000000L
    val HourM = 3600L * 1000000L
    def bucketCol(c: String, n: Int): org.apache.spark.sql.Column = {
      // Spark's hash() is Murmur3 seed 42: hashLong over the widened
      // long / hashUnsafeBytes over raw UTF-8 — exactly GraftBucket.of
      val h = schema(c).dataType match {
        case StringType => hash(col(c))
        case _          => hash(col(c).cast("long"))
      }
      h.bitwiseAND(lit(Int.MaxValue)) % lit(n)
    }
    def truncCol(c: String, w: Int): org.apache.spark.sql.Column = {
      val v = col(c).cast("long")
      v - pmod(v, lit(w.toLong)) // floored grouping — negatives included
    }
    def temporalCol(c: String, u: String): org.apache.spark.sql.Column =
      if (schema(c).dataType == DateType) u match {
        // DATE keys: epoch-days arithmetic / tz-free calendar functions
        case "days" => expr(s"unix_date(`$c`)")
        case "months" => expr(s"(year(`$c`) - 1970) * 12 + month(`$c`) - 1")
        case "years" => expr(s"year(`$c`) - 1970")
        case other => throw new IllegalArgumentException(
          s"temporal unit $other does not apply to DATE keys")
      } else u match {
      // group REPRESENTATIVES, not ordinals: x - pmod(x, U) floors
      // correctly for pre-1970 stamps (SQL DIV truncates toward zero);
      // months/years go through tz-free DATE arithmetic on the exact
      // floored epoch day — bit-identical to GraftTemporal.of's
      // LocalDate.ofEpochDay calendar
      case "hours" => expr(s"unix_micros(`$c`) - pmod(unix_micros(`$c`), ${HourM}L)")
      case "days"  => expr(s"unix_micros(`$c`) - pmod(unix_micros(`$c`), ${DayM}L)")
      case "months" =>
        expr(s"(year(date_from_unix_date(CAST((unix_micros(`$c`) - " +
          s"pmod(unix_micros(`$c`), ${DayM}L)) DIV ${DayM}L AS INT))) - 1970) * 12 " +
          s"+ month(date_from_unix_date(CAST((unix_micros(`$c`) - " +
          s"pmod(unix_micros(`$c`), ${DayM}L)) DIV ${DayM}L AS INT))) - 1")
      case "years" =>
        expr(s"year(date_from_unix_date(CAST((unix_micros(`$c`) - " +
          s"pmod(unix_micros(`$c`), ${DayM}L)) DIV ${DayM}L AS INT))) - 1970")
      case other => throw new IllegalArgumentException(s"unknown temporal unit $other")
    }
    val groupCols: Seq[org.apache.spark.sql.Column] =
      clusterKeyOf(m).map(col).toSeq ++
        temporalSpecOf(m).map { case (c, u) => temporalCol(c, u) } ++
        bucketSpecOf(m).map { case (c, n) => bucketCol(c, n) } ++
        truncSpecOf(m).map { case (c, w) => truncCol(c, w) }
    val scope = only.getOrElse(m.files)
    val bytes = scope.map(f => if (f.size >= 0) f.size else io.size(f.path)).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val base = readFiles(spark, table, m, only)
    // a Morton key range-partitions like a column key: on (groups, __z)
    // a hot group splits across tasks at z boundaries, each task's files
    // keeping the group stamp plus NARROW z-column bounds
    val (keyed, rangeKey) =
      if (zorderBy.isEmpty) (base, rangeBy.map(col))
      else (withZKey(base, zorderBy), Seq(col("__z")))
    val key = groupCols ++ rangeKey
    val laid =
      if (key.isEmpty) base.coalesce(n)
      else if (rangeKey.isEmpty) base.repartition(n, key: _*).sortWithinPartitions(key: _*)
      else keyed.repartitionByRange(n, key: _*).sortWithinPartitions(key: _*)
        .select(schema.fieldNames.map(col).toSeq: _*)
    val entries = writeFiles(laid, SnapshotWrites.dataWriterFactory(
      SnapshotWrites.stageDir(table, cur + 1), m.extra, schema, extraStats, sketch = true))
    only match {
      case Some(sel) =>
        // selective: untouched files ride VERBATIM (original entries,
        // original seq — their generation and DV scoping unchanged);
        // mode=merge, like every partial rewrite. The position-delete
        // sidecar set SPLITS around the rewrite: rows naming rewritten
        // files were materialized by the DV-applied read above and must
        // not survive (their files leave the manifest), rows naming
        // kept files re-land as one consolidated sidecar, and sidecars
        // provably disjoint from the rewrite carry verbatim.
        val selPaths = sel.map(_.path).toSet
        commitOn(table, m, Change("merge", entries,
          kept = Some((Nil, m.files.filterNot(f => selPaths(f.path)))),
          posDeletes = Some(splitPosSidecars(spark, m, selPaths, table, cur + 1, io)),
          extra = Map("compacted-groups-from" -> cur.toString)), io)
      case None =>
        commitOn(table, m, Change("overwrite", entries, kept = Some((Nil, Nil)),
          eqDeletes = Some(Nil), posDeletes = Some(Nil),
          extra = Map("compacted-from" -> cur.toString)), io)
    }
  }

  /** Append an observed-bounds Morton key column `__z` over the given
    * integral columns: each value grids to 8 bits inside its column's
    * observed [min, max] (one tiny broadcast agg), bits interleave into
    * a 63-bit key — rows close in z are close in EVERY dimension, so a
    * range-partitioned rewrite on `__z` leaves per-file min/max narrow
    * on all the columns at once. [[rewrite]] range-partitions on
    * (layout groups, __z). */
  private def withZKey(cu: DataFrame, zorderBy: Seq[String]): DataFrame = {
    val nDims = zorderBy.size
    val bounds = cu.agg(
      min(col(zorderBy.head).cast("long")).as("__mn_0"),
      (zorderBy.tail.zipWithIndex.flatMap { case (c, i) =>
        Seq(min(col(c).cast("long")).as(s"__mn_${i + 1}"),
          max(col(c).cast("long")).as(s"__mx_${i + 1}"))
      } :+ max(col(zorderBy.head).cast("long")).as("__mx_0")): _*)
    var g = cu.crossJoin(broadcast(bounds))
    zorderBy.zipWithIndex.foreach { case (c, d) =>
      // observed-bounds 8-bit grid; a constant column grids to 0
      g = g.withColumn(s"__g_$d",
        expr(s"((cast(`$c` as bigint) - __mn_$d) * 256) div (__mx_$d - __mn_$d + 1)"))
    }
    val morton = (0 until 8).flatMap(b => (0 until nDims).map(d =>
      s"shiftleft(shiftright(__g_$d, $b) & 1, ${b * nDims + d})")).mkString(" | ")
    g.withColumn("__z", expr(morton))
  }

  private def requireZOrderable(m: Manifest, table: String, zorderBy: Seq[String]): Unit =
    zorderBy.foreach { c =>
      val f = m.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"no column $c in $table"))
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType),
        s"zorder_by column $c: ${f.dataType.simpleString} is not integral — " +
          "derive an integral key first (days(ts), hash bucket, grid cell)")
    }

  /** Z-ORDER compaction — the multi-dimensional arm of
    * [[compactSnapshot]] (Delta's `OPTIMIZE ... ZORDER BY`), also
    * reachable from SQL via `CALL <cat>.system.compact('t',
    * zorder_by => 'a,b')`: the rewrite clusters on the MORTON
    * INTERLEAVE of up to 7 integral dimensions, each scaled to an
    * 8-bit grid from its observed bounds (a 1-row broadcast), and
    * records per-file stats on every RAW column — the curve co-locates
    * all dimensions, so a selective read on ANY of them prunes at the
    * manifest, where a single-column sort prunes one and scans for the
    * rest (src_snapshot_zorder pins the subset property). Equal bit
    * budget per dimension is what balances the curve. On a table with
    * layout groups (identity cluster, bucket, truncate, temporal and
    * their compounds) the curve clusters WITHIN each group — Delta's
    * ZORDER scoped within partitions — and every stamp survives; a
    * bucket/truncate key's raw COLUMN may be z-ordered (within a hash
    * bucket the key still spans its whole domain), only the temporal
    * key itself is a no-op and refuses. One column on a table with no
    * transform layout degenerates to the plain range-cluster (no
    * interleave cost). Same transactional tail as compactSnapshot.
    * Returns (filesBefore, publishedVersion). */
  def compactZOrder(
      spark: SparkSession,
      table: String,
      zorderBy: Seq[String],
      targetBytes: Long = 128L << 20,
      io: SnapshotIO = LocalSnapshotIO): (Int, Long) = {
    require(zorderBy.nonEmpty && zorderBy.size <= 7,
      s"zorder takes 1..7 columns (8 grid bits each in a 63-bit key), got ${zorderBy.size}")
    val cur = currentVersion(table, io)
    require(cur > 0, s"cannot z-order non-existent table $table")
    val m = manifest(table, cur, io)
    val v =
      if (zorderBy.size == 1 && !transformLaidOut(m))
        rewrite(spark, table, m, targetBytes, io, zorderBy, rangeBy = zorderBy)
      else {
        requireZOrderable(m, table, zorderBy)
        temporalSpecOf(m).foreach(t => require(!zorderBy.contains(t._1),
          "z-ordering the temporal partition key itself is a no-op — files are " +
            "already period-disjoint; pick the columns queries filter WITHIN a period"))
        rewrite(spark, table, m, targetBytes, io, zorderBy, zorderBy = zorderBy)
      }
    (m.files.size, v)
  }

  /** Manifest-only ROW COUNT: Σ per-part (segment-ref / inline-file)
    * recorded rowCounts, read from the head manifest's lines alone — no
    * segment loaded, no file opened. None when any part lacks nstats
    * (a stats-less commit in the history): the count cannot be proven,
    * and the consumers below must NOT guess. */
  def rowCountOf(
      table: String,
      version: Option[Long] = None,
      io: SnapshotIO = LocalSnapshotIO): Option[Long] = {
    val m = manifest(table, version.getOrElse(currentVersion(table, io)), io)
    val parts: Seq[StatRanges] = m.segments ++ m.inline
    val counts = parts.map(_.nstats.values.map(_._2).maxOption)
    if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
  }

  /** Manifest-only NDV UPPER BOUND for `column`: Σ per-part distinct
    * estimates (values shared across files double-count — see
    * [[StatRanges.dstats]] for why the upper bound is the safe
    * direction). None when any part lacks the estimate. */
  def ndvOf(
      table: String,
      column: String,
      version: Option[Long] = None,
      io: SnapshotIO = LocalSnapshotIO): Option[Long] = {
    val m = manifest(table, version.getOrElse(currentVersion(table, io)), io)
    val parts: Seq[StatRanges] = m.segments ++ m.inline
    val ds = parts.map(_.dstats.get(column))
    if (parts.isEmpty) Some(0L)
    else if (ds.exists(_.isEmpty)) None
    else Some(ds.flatten.sum)
  }

  /** Equi-join with the build side sized FROM THE MANIFEST — the
    * decision Spark's own size estimator cannot make for an external
    * table format without a scan (and the r8 rule forbids making on an
    * estimate for corpus-derived frames): broadcast `rightTable` iff
    * its manifest PROVES both the shipped size (row count ≤
    * `maxBuildRows`) and the hash-table size (key NDV upper bound ≤
    * `maxBuildKeys`); anything unprovable — missing nstats/dstats —
    * falls to the shuffled-hash join, never a blind broadcast. The
    * decision reads manifest lines only: zero data files opened before
    * the join itself executes. Returns (joined, broadcasted). */
  def sizedJoin(
      left: DataFrame,
      leftKey: String,
      rightTable: String,
      rightKey: String,
      maxBuildRows: Long,
      maxBuildKeys: Long,
      io: SnapshotIO = LocalSnapshotIO): (DataFrame, Boolean) = {
    val spark = left.sparkSession
    val bc = rowCountOf(rightTable, None, io).exists(_ <= maxBuildRows) &&
      ndvOf(rightTable, rightKey, None, io).exists(_ <= maxBuildKeys)
    val right = read(spark, rightTable, None, io)
    val joined =
      if (bc) left.join(broadcast(right), left(leftKey) === right(rightKey))
      else left.join(right.hint("shuffle_hash"), left(leftKey) === right(rightKey))
    (joined, bc)
  }

  /** METADATA-ONLY segment compaction — Iceberg's rewrite_manifests:
    * re-bundle the head manifest's small segments (count < `smallerThan`)
    * into consolidated segment files of up to [[SegmentMaxFiles]]
    * entries, carrying every file entry VERBATIM (path + stats — no
    * data file is opened, moved, or rewritten) and publishing the
    * result as a zero-data-copy commit over the identical file set.
    *
    * Why it exists: appends carry parent segments by reference and add
    * one new segment each, so a streaming-append cadence grows the
    * manifest one `segment=` line per commit — after a month at a
    * 1-minute trigger the head manifest lists ~43k tiny segments and
    * planning degrades toward O(commits). This pass restores
    * O(files / SegmentMaxFiles) segment counts for the cost of
    * rewriting METADATA only — where [[compactSnapshot]] is the
    * O(table) DATA rewrite for the small-files problem, this is the
    * O(manifest) fix for the small-SEGMENTS problem; at 100 TB that
    * difference is a cluster-day.
    *
    * The commit is mode=rewrite: the file SET is provably unchanged, so
    * incremental readers and the streaming source scan ACROSS it
    * soundly (they fall back from the segment-diff fast path to the
    * path-set diff — see [[incrementalFiles]]) instead of refusing like
    * overwrite/merge. Inline entries from legacy flat manifests migrate
    * into segments here too. Deletion-vector state rides verbatim.
    * Aged-out small segments are reclaimed by vacuum once no retained
    * manifest references them.
    *
    * No-op (no new commit) when nothing would consolidate: returns the
    * current segment count twice. Returns
    * (segmentsBefore, segmentsAfter, publishedVersion). */
  def rewriteSegments(
      table: String,
      smallerThan: Int = SegmentMaxFiles,
      io: SnapshotIO = LocalSnapshotIO): (Int, Int, Long) = {
    val cur = currentVersion(table, io)
    require(cur > 0, s"cannot rewrite segments of non-existent table $table")
    val m = manifest(table, cur, io)
    val (small, big) = m.segments.partition(_.count < smallerThan)
    if (m.inline.isEmpty && small.size <= 1)
      return (m.segments.size, m.segments.size, cur)
    // entries carried verbatim — the consolidated segments' aggregated
    // bounds are recomputed by writeSegments from these exact stats
    val entries = m.inline ++ small.flatMap(m.loadSegment)
    val v = commitOn(table, m, Change("rewrite", kept = Some((big, entries)),
      extra = Map("rewritten-segments" -> small.size.toString)), io)
    (m.segments.size, manifest(table, v, io).segments.size, v)
  }

  /** Optimistic-concurrency retry loop around [[commit]]: re-reads the
    * current version and re-attempts on ConcurrentModificationException
    * up to `maxAttempts` times — the boilerplate every multi-writer
    * caller would otherwise write by hand. `df` must be deterministic
    * (it is re-written per attempt). Returns the published version. */
  def commitRetry(
      df: DataFrame,
      table: String,
      append: Boolean,
      statsColumns: Seq[String] = Nil,
      extra: Map[String, String] = Map.empty,
      maxAttempts: Int = 5,
      io: SnapshotIO = LocalSnapshotIO): Long = {
    var attempt = 0
    while (true) {
      attempt += 1
      try return commit(df, table, append,
        expectedCurrent = Some(currentVersion(table, io)),
        statsColumns = statsColumns, extra = extra, io = io)
      catch {
        case e: java.util.ConcurrentModificationException =>
          if (attempt >= maxAttempts) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Exactly-once streaming append — the foreachBatch body for a
    * Structured Streaming sink onto a snapshot table: each micro-batch
    * commits as an APPEND snapshot carrying its batch id in the
    * manifest, and a REPLAYED batch (restart after a crash between the
    * sink commit and the checkpoint advance — the classic
    * at-least-once window) is detected by `batchId <=` the last
    * committed id and skipped, so replay is idempotent. The
    * transactionless-store equivalent lives in
    * StreamingCatalog.foreachBatchDeltaUpsert (deterministic overwrite
    * paths); this is the same guarantee carried by the commit protocol
    * itself. Returns false when the batch was a skipped replay. */
  def appendBatch(
      df: DataFrame,
      table: String,
      batchId: Long,
      io: SnapshotIO = LocalSnapshotIO): Boolean = {
    // the batch commits on the head it checked for a replay
    val head = headOf(table, io)
    if (batchId <= lastBatchId(head)) false
    else {
      commitFrame(df, table, head, append = head.version > 0, Nil,
        Map("batchid" -> batchId.toString), None, io)
      true
    }
  }

  /** Row-level CHANGE FEED between two snapshots keyed on `key` —
    * Delta's table_changes: computed from the table STATES (two
    * manifest-resolved reads, one key-partitioned full-outer join), so
    * it is sound across ANY commit chain — append, overwrite, MERGE,
    * compaction — exactly where the file-diff [[readIncremental]] must
    * refuse. Emits the standard four change types: `insert` /
    * `update_postimage` carry the to-side row, `delete` /
    * `update_preimage` the from-side row; rows identical on both sides
    * (null-safe comparison, column by column) emit nothing. One pass:
    * the per-row change set is built as an array of typed structs and
    * exploded, never four scans of the join.
    *
    * Scale posture: the join shuffles both states on the key once
    * (co-partitioned at 100 TB when the table is key-clustered — which
    * merge maintains); output is change-sized. For pure-append chains
    * prefer [[readIncremental]] (metadata-only); this is the general
    * arm. */
  def changeFeed(
      spark: SparkSession,
      table: String,
      fromVersion: Long,
      toVersion: Long,
      key: String,
      io: SnapshotIO = LocalSnapshotIO): DataFrame = {
    require(fromVersion < toVersion, s"need fromVersion < toVersion, got $fromVersion >= $toVersion")
    val ma = manifest(table, fromVersion, io)
    val mb = manifest(table, toVersion, io)
    // the manifest supports exactly two schema moves — add-at-end and
    // metadata-only RENAME — and both are POSITIONAL (ordinals never
    // move): the state diff serves at the TO-side schema, mapping the
    // from-side columns by ordinal (a renamed column's pre-images
    // report under its current name) and NULL-filling the added tail
    // (the value every pre-evolution row holds there). Anything
    // non-positional (drop/reorder/retype never commit) still refuses.
    val fa = ma.schema.fields
    val fb = mb.schema.fields
    require(
      fb.length >= fa.length &&
        fa.indices.forall(i => fa(i).dataType == fb(i).dataType),
      s"change feed across a non-positional schema boundary " +
        s"(${ma.schema.simpleString} vs ${mb.schema.simpleString}) — " +
        "diff the common columns explicitly instead")
    val cols = mb.schema.fieldNames.toSeq
    val pre0 = read(spark, table, Some(fromVersion), io)
      .toDF(fa.indices.map(i => fb(i).name): _*)
    val pre = fb.drop(fa.length).foldLeft(pre0)((d, f) =>
      d.withColumn(f.name, lit(null).cast(f.dataType)))
    diffByKey(pre, read(spark, table, Some(toVersion), io), cols, key)
  }

  /** Classify a keyed PRE-side vs POST-side diff into change-feed rows:
    * pre-only → delete, post-only → insert, both with any column
    * differing → update pre/postimage, both identical → dropped (the
    * no-change rows a rewrite carries verbatim). Shared by the
    * state-based [[changeFeed]] (whole-version sides) and the
    * incremental [[changeFeedIncremental]] (touched-file sides). */
  private def diffByKey(
      preSide: DataFrame, postSide: DataFrame,
      cols: Seq[String], key: String): DataFrame = {
    val a = preSide.as("a")
    val b = postSide.as("b")
    val joined = a.join(b, col(s"a.$key") === col(s"b.$key"), "full_outer")
    val differs = cols.filterNot(_ == key)
      .map(c => !(col(s"a.$c") <=> col(s"b.$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    def side(tpe: String, s: String) =
      struct(lit(tpe).as("_change_type") +: cols.map(c => col(s"$s.$c").as(c)): _*)
    val changes = array(
      when(col(s"a.$key").isNull && col(s"b.$key").isNotNull, side("insert", "b")),
      when(col(s"a.$key").isNotNull && col(s"b.$key").isNull, side("delete", "a")),
      when(col(s"a.$key").isNotNull && col(s"b.$key").isNotNull && differs,
        side("update_preimage", "a")),
      when(col(s"a.$key").isNotNull && col(s"b.$key").isNotNull && differs,
        side("update_postimage", "b")))
    joined
      .select(explode(filter(changes, x => x.isNotNull)).as("c"))
      .select(col("c._change_type").as("_change_type") +: cols.map(c => col(s"c.$c").as(c)): _*)
  }

  /** INCREMENTAL CHANGE FEED — Delta's `table_changes` shape: the
    * row-level changes of each commit in (from, to], computed from the
    * commit's own FILE/DV DELTA at **O(touched files)** — never the
    * full-state diff [[changeFeed]] pays (which remains the arm for
    * arbitrary version pairs and vacuumed chains). Per commit v:
    *
    *   - pre-side  = rows VISIBLE AT THE PARENT that v removed:
    *     (a) rows of files the commit dropped (read under the parent's
    *         DV state — already-deleted rows are not pre-images), plus
    *     (b) rows of files CARRIED past the commit whose key lands in
    *         a deletion vector the commit stamped — the carried files
    *         are first pruned by the DV keys' observed [min,max]
    *         against their manifest stats (one small agg over the DV
    *         sidecars), then semi-joined on the actual keys;
    *   - post-side = rows of files the commit added (read under v's DV
    *     state — sequence scoping keeps a same-commit DV off them);
    *   - classification is [[diffByKey]]; rows a rewrite carried
    *     VERBATIM through removed→added files compare equal and drop,
    *     so a compaction commit feeds zero changes (at the cost of
    *     diffing the files it touched — which is what it touched).
    *
    * An append commit short-circuits: no pre-side, its added files ARE
    * the inserts, no join at all. `key` must be the row identity (the
    * table's morKey/DV key when DVs are in play — REQUIREd). Output =
    * `_change_type`, the data columns, `_commit_version`. Refuses
    * across schema evolution (diff the common columns explicitly) and
    * on expired/vacuumed versions (the manifest read fails loudly).
    *
    * Scale: a trickle of MoR upserts against a 100 TB table feeds each
    * commit from its DV sidecars + post-image files + the key-range-hit
    * slice of carried files — metadata-routed, like the commit itself.
    */
  def changeFeedIncremental(
      spark: SparkSession,
      table: String,
      fromVersion: Long,
      toVersion: Long,
      key: String,
      io: SnapshotIO = LocalSnapshotIO): DataFrame = {
    require(fromVersion < toVersion,
      s"need fromVersion < toVersion, got $fromVersion >= $toVersion")
    // a rename inside the range would mis-align the per-commit frames
    // (the same column unions under two names); each SIDE of a rename
    // serves cleanly under its own names — split the range there
    val crossed = renamesOf(manifest(table, toVersion, io))
      .filter(r => r._1 > fromVersion && r._1 <= toVersion)
    require(crossed.isEmpty,
      s"the feed range ($fromVersion, $toVersion] crosses a column rename at " +
        s"version ${crossed.headOption.map(_._1).getOrElse(0L)} — columns " +
        "would not align across commits; split the range at the rename")
    ((fromVersion + 1) to toVersion)
      .map(v => commitChanges(spark, table, v, key, io)
        .withColumn("_commit_version", lit(v)))
      // a feed spanning an add-at-end schema commit unions frames of
      // different widths: pre-evolution commits NULL-fill the added
      // tail — the value every pre-evolution row holds there
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** One commit's change rows (see [[changeFeedIncremental]]). */
  private def commitChanges(
      spark: SparkSession,
      table: String,
      v: Long,
      key: String,
      io: SnapshotIO): DataFrame = {
    val mv = manifest(table, v, io)
    val parent = mv.extra.get("parent").map(_.toLong).getOrElse(v - 1)
    require(parent > 0, s"snapshot $v of $table has no parent to diff against")
    val mp = manifest(table, parent, io)
    // a DV-consolidation commit rewrites the sidecar layout WITHOUT
    // changing the effective delete state — its "new" sidecars must
    // not read as new deletes (they are the old keys re-grouped); a
    // props commit (TBLPROPERTIES, spec evolution, column RENAME)
    // changes no rows either. Both return empty BEFORE any schema
    // comparison — a rename commit's schemas differ by name on
    // purpose.
    if (mv.extra.get("mode").contains("dvrewrite") ||
        mv.extra.get("mode").contains("props"))
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(org.apache.spark.sql.types.StructField(
          "_change_type", StringType, nullable = false) +: mv.schema.fields))
    // add-at-end evolution is the ONE schema boundary the manifest
    // itself supports (appends may only extend; old files read NULL in
    // the added columns) — the feed crosses it by serving at v's schema
    // and NULL-filling the added tail on parent-side frames, exactly
    // the value every pre-evolution row holds for those columns. Any
    // other shape (rename/drop/reorder/retype never commit via append)
    // still refuses.
    val addedTail: Seq[org.apache.spark.sql.types.StructField] =
      mv.schema.fields.drop(mp.schema.fields.length).toSeq
    require(
      mv.schema.fields.length >= mp.schema.fields.length &&
        mp.schema.fields.indices.forall(i =>
          mv.schema.fields(i).name == mp.schema.fields(i).name &&
            mv.schema.fields(i).dataType == mp.schema.fields(i).dataType),
      s"incremental change feed across a non-extending schema boundary at $v " +
        s"(${mp.schema.simpleString} vs ${mv.schema.simpleString}) — " +
        "diff the common columns explicitly instead")
    def padToV(df: DataFrame): DataFrame =
      addedTail.foldLeft(df)((d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType)))
    val cols = mv.schema.fieldNames.toSeq
    require(cols.contains(key), s"no column $key in $table")
    // a commit that RECORDS position sidecars (deletePositions / the
    // position-delta DML) removes rows by physical ordinal — row-wise
    // unattributable after the fact. The commit therefore captured the
    // pre-images at WRITE time ([[writeChangePre]]): serve the deletes
    // from that per-commit change sidecar, O(delta). A commit without
    // one (changeCapture='none', or legacy) still refuses loudly: it
    // adds and removes no file, so it would otherwise read as an empty
    // append and SILENTLY miss the deletes.
    val newPos = posDvRefs(mv).map(_.path).toSet -- posDvRefs(mp).map(_.path).toSet
    val chPre: Option[DataFrame] =
      if (newPos.isEmpty) None
      else {
        val dir = mv.extra.get(ChangePreK).map(FileEntry.unhex)
        require(dir.isDefined,
          s"commit $v of $table records ${newPos.size} position-delete " +
            "sidecar(s) with no write-time change capture — physical-ordinal " +
            "deletes are unattributable after the fact; enable " +
            "TBLPROPERTIES('changeCapture'='preimages') before the commit, " +
            "or use the state-based changeFeed for this range")
        Some(padToV(spark.read.schema(mp.schema).parquet(dir.get)))
      }
    val pPaths = mp.files.map(_.path).toSet
    val vPaths = mv.files.map(_.path).toSet
    val added = mv.files.filterNot(f => pPaths(f.path))
    val removed = mp.files.filterNot(f => vPaths(f.path))
    val oldDv = dvRefs(mp).map(_.path).toSet
    val dvNew = dvRefs(mv).filterNot(r => oldDv(r.path))
    // delete-applied subset reads throughout: rows a PRIOR trickle
    // sidecar already killed must not resurface as this commit's
    // pre-images (and added files can never be named by this commit's
    // own sidecar — deletes target rows that existed before it)
    val post = readFiles(spark, table, mv, Some(added))
    if (removed.isEmpty && dvNew.isEmpty && chPre.isEmpty)
      // pure append: the added files ARE the inserts — no diff join
      return post.select(lit("insert").as("_change_type") +: cols.map(col): _*)
    require(dvNew.isEmpty || dvKeyNameOf(mv) == key,
      s"commit $v stamps deletion vectors keyed on ${dvKeyNameOf(mv)} — the " +
        s"change feed must diff on that identity, got $key")
    val preRemoved =
      padToV(readFiles(spark, table, mp, Some(removed)))
    val preKept =
      if (dvNew.isEmpty) preRemoved.limit(0)
      else {
        val kept = mv.files.filter(f => pPaths(f.path))
        // lazy + explicit schema: the sidecar frame only exists for
        // legacy rangeless refs, and never pays footer inference
        lazy val dvk = spark.read
          .schema(StructType(Seq(mv.schema(key).copy(nullable = true))))
          .parquet(dvNew.map(_.path): _*)
        // prune the carried files by the DV keys' observed range —
        // served from the REFS' recorded ranges when every new sidecar
        // carries one (written by the commit, zero reads here), else
        // one small agg over delete-batch-sized sidecars (legacy
        // refs); a file without a recorded range can never be proven
        // unhit and is read
        val hit = mv.schema(key).dataType match {
          case ByteType | ShortType | IntegerType | LongType =>
            val recorded = dvNew.flatMap(_.rangeL)
            val bounds: Option[(Long, Long)] =
              if (recorded.size == dvNew.size)
                Some((recorded.map(_._1).min, recorded.map(_._2).max))
              else {
                val r = dvk.agg(
                  min(col(key)).cast("long"), max(col(key)).cast("long")).collect()(0)
                if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
              }
            bounds match {
              case None => Nil
              case Some((lo, hi)) => kept.filter(_.stats.get(key) match {
                case Some((mn, mx)) => mx >= lo && mn <= hi
                case None => true
              })
            }
          case StringType =>
            val recorded = dvNew.flatMap(_.rangeS)
            val bounds: Option[(String, String)] =
              if (recorded.size == dvNew.size)
                Some((
                  recorded.map(_._1).reduce((a, b) =>
                    if (FileEntry.bytesLe(a, b)) a else b),
                  recorded.map(_._2).reduce((a, b) =>
                    if (FileEntry.bytesLe(a, b)) b else a)))
              else {
                val r = dvk.agg(min(col(key)), max(col(key))).collect()(0)
                if (r.isNullAt(0)) None else Some((r.getString(0), r.getString(1)))
              }
            bounds match {
              case None => Nil
              case Some((lo, hi)) => kept.filter(_.sstats.get(key) match {
                case Some((mn, mx)) =>
                  FileEntry.bytesLe(mn, hi) && FileEntry.bytesLe(lo, mx)
                case None => true
              })
            }
          case _ => kept // unprunable key type: read carried files (sound)
        }
        padToV(readFiles(spark, table, mp, Some(hit)))
          .join(dvk.hint("shuffle_hash"), Seq(key), "left_semi")
      }
    val pre = chPre.foldLeft(preRemoved.unionByName(preKept))(_.unionByName(_))
    if (added.isEmpty)
      // nothing appended: every pre-image is a deletion (DV-only
      // deleteKeys commits, metadata file drops) — no diff join needed
      pre.select(lit("delete").as("_change_type") +: cols.map(col): _*)
    else diffByKey(pre, post, cols, key)
  }

  private def dvKeyNameOf(m: Manifest): String = m.extra.getOrElse(DvKeyK, "<none>")

  /** Exactly-once streaming MERGE — the foreachBatch body for a CDC
    * stream landing in a snapshot table: each micro-batch applies
    * through [[merge]] (copy-on-write, stats-routed) with its batch id
    * recorded in the manifest, and a replayed batch (the at-least-once
    * redelivery window) is detected by `batchId <=` the last committed
    * id and skipped — merge is NOT naturally idempotent (re-applying
    * an increment-style update would double it), so the batch-id guard
    * is what upgrades at-least-once delivery to exactly-once table
    * state. The sibling of [[appendBatch]] for upsert feeds. Returns
    * None for a skipped replay, Some((rewritten, total, version))
    * otherwise. */
  def mergeBatch(
      batch: DataFrame,
      table: String,
      key: String,
      batchId: Long,
      deleteCol: Option[String] = None,
      io: SnapshotIO = LocalSnapshotIO): Option[(Int, Int, Long)] = {
    val head = headOf(table, io)
    if (batchId <= lastBatchId(head)) None
    else Some(mergeOn(batch, table, head, key, deleteCol, Nil,
      Map("batchid" -> batchId.toString), io))
  }

  /** Table HISTORY as a DataFrame — Delta's DESCRIBE HISTORY: one row
    * per published snapshot with its commit mode, parentage, file
    * count and any recorded batch id. Reads only manifests
    * (file-count-sized metadata); the introspection surface operators
    * size retention and debug commit chains with. */
  def history(spark: SparkSession, table: String, io: SnapshotIO = LocalSnapshotIO): DataFrame = {
    import spark.implicits._
    val cur = currentVersion(table, io)
    (1L to cur).flatMap { v =>
      if (!io.exists(manifestPath(table, v))) None // vacuumed
      else {
        val m = manifest(table, v, io)
        Some((
          v,
          m.extra.get("parent").map(_.toLong).getOrElse(v - 1),
          m.extra.getOrElse("mode", "?"),
          m.fileCount,
          m.extra.get("batchid").map(_.toLong)))
      }
    }.toDF("version", "parent", "mode", "n_files", "batch_id")
  }

  /** Retention: keep the last `retainLast` snapshots, delete older
    * manifests, then delete every data file under data/ that (a) no
    * retained manifest references and (b) belongs to an attempt for a
    * version <= the newest retained one — rule (b) is what protects an
    * IN-FLIGHT writer's freshly-written v<current+1> directory, which
    * is unreferenced by construction until its manifest publishes.
    * CAUTION (the standard Iceberg hazard): a reader still scanning a
    * snapshot older than `retainLast` will fail once its files are
    * reclaimed — size retention to the longest-running reader.
    * Returns (manifestsDeleted, dataFilesDeleted). */
  def vacuum(table: String, retainLast: Int = 2, io: SnapshotIO = LocalSnapshotIO): (Int, Int) = {
    require(retainLast >= 1, "must retain at least the current snapshot")
    // a branch is not an independent retention domain: after a
    // fast-forward publish, MAIN's manifests reference files and
    // segments that live under the branch root — a branch-local vacuum
    // cannot see those references and would reclaim data main still
    // reads. Maintain branches through the PARENT table's vacuum
    // (which pins every live branch's references) and dropBranch.
    require(!table.replace('\\', '/').contains("/branches/"),
      s"vacuum refused on branch path $table — vacuum the parent table " +
        "(its walk pins branch references); use dropBranch to reclaim a branch")
    val cur = currentVersion(table, io)
    if (cur == 0) return (0, 0)
    val keep = ((cur - retainLast + 1) max 1) to cur
    // tagged snapshots PIN retention: their manifests survive any
    // keep-last-N, and the reference walk below then pins their files
    val tagged = listTags(table, io).map(_._2).toSet
    var mDel = 0
    (1L until keep.head).foreach { v =>
      if (!tagged(v) && io.delete(manifestPath(table, v))) mDel += 1
    }
    val fDel = reclaimUnreferenced(table, io)
    // CDC staging below the retention floor: a `<from>_<to>` slice is
    // only ever READ by the micro-batch that just wrote it (a WAL
    // replay re-materializes from manifests, never reads stale
    // staging), and once versions <= `to` age past retention the
    // manifests a replay would need are gone anyway — so reclaiming
    // these ranges cannot break anything retention hasn't already.
    // Live-stream steady-state reclamation is the STREAM's own
    // post-commit purge (SnapshotChangesMicroBatchStream.commit); this
    // arm is the offline sweep for streams that died without draining.
    purgeStaging(s"$table/_cdc_staging", keep.head - 1, io)
    (mDel, fDel)
  }

  /** AGE-BASED retention — Iceberg's
    * `expire_snapshots(older_than => ts)` beside [[vacuum]]'s
    * keep-last-N: delete the manifest of every snapshot whose recorded
    * commit stamp (`extra("ts")` — the same stamps [[readAsOf]] and SQL
    * `TIMESTAMP AS OF` resolve by) is strictly below `olderThan`, then
    * reclaim everything no surviving manifest references. Rules:
    * the HEAD always survives regardless of age; a commit WITHOUT a
    * stamp has unprovable age and is always kept (decline, don't
    * guess); files shared with a survivor survive by construction
    * (the reference walk pins them, branches included); the in-flight
    * writer rule is inherited from the walk (only `v<N>`-prefixed dirs
    * with N <= current are swept). Expired versions refuse time travel
    * ("not published"); retained ones serve unchanged.
    * Returns (manifestsExpired, dataFilesDeleted). */
  def expireSnapshots(
      table: String,
      olderThan: Long,
      io: SnapshotIO = LocalSnapshotIO): (Int, Int) = {
    require(!table.replace('\\', '/').contains("/branches/"),
      s"expireSnapshots refused on branch path $table — expire the parent table " +
        "(its walk pins branch references); use dropBranch to reclaim a branch")
    val cur = currentVersion(table, io)
    if (cur == 0) return (0, 0)
    // tagged snapshots never age out — the tag IS the retention pin
    val tagged = listTags(table, io).map(_._2).toSet
    var mDel = 0
    (1L until cur).foreach { v =>
      if (!tagged(v) && io.exists(manifestPath(table, v)) &&
        manifest(table, v, io).extra.get("ts").exists(_.toLong < olderThan) &&
        io.delete(manifestPath(table, v))) mDel += 1
    }
    (mDel, reclaimUnreferenced(table, io))
  }

  /** The shared reclamation walk of [[vacuum]] and [[expireSnapshots]]:
    * delete every data file and segment under the table root that NO
    * surviving manifest references. A surviving manifest references its
    * data files AND its deletion-vector sidecars — reclaiming a DV
    * would resurrect deleted rows. Zero-copy branches (createBranch)
    * share main's data files: every manifest of every live branch pins
    * its references too, or reclaiming main mid-audit would break the
    * WAP branch (ADVICE r10). Segment sharing makes the walk cheap:
    * manifests are read (small — O(segments) lines each), but each
    * unique SEGMENT is loaded exactly once, so the cost is
    * O(unique segments + manifests), not O(versions × files). The
    * version-prefix rule (`v<N>`/`seg_v<N>`, N <= current) protects an
    * IN-FLIGHT writer's freshly-written v<current+1> artifacts, which
    * are unreferenced by construction until their manifest publishes.
    * Returns data files deleted (segment reclamation is uncounted,
    * matching vacuum's historical contract). */
  private def reclaimUnreferenced(table: String, io: SnapshotIO): Int = {
    val cur = currentVersion(table, io)
    val liveManifests: Seq[Manifest] =
      (1L to cur).flatMap(v =>
        if (io.exists(manifestPath(table, v))) Some(manifest(table, v, io)) else None) ++
        io.list(s"$table/branches").flatMap { name =>
          val bp = s"$table/branches/$name"
          (1L to currentVersion(bp, io)).flatMap { v =>
            if (io.exists(manifestPath(bp, v))) Some(manifest(bp, v, io)) else None
          }
        }
    val liveSegments: Seq[String] = liveManifests.flatMap(_.segments.map(_.path)).distinct
    val referenced: Set[String] =
      liveManifests.flatMap(m =>
        m.inline.map(_.path) ++ dvPaths(m) ++ posDvPaths(m) ++
          // a retained commit's change-row sidecar stays readable: the
          // pointer names a directory, so pin its files
          m.extra.get(ChangePreK).map(FileEntry.unhex).toSeq
            .flatMap(d => io.list(d).map(f => s"$d/$f"))).toSet ++
        liveSegments.flatMap(p => readSegment(p, io).map(_.path))
    var fDel = 0
    val dataRoot = s"$table/data"
    io.list(dataRoot).foreach { name => // v<N>_<token>
      val d = s"$dataRoot/$name"
      if (io.isDir(d)) {
        val v = name.stripPrefix("v").takeWhile(_.isDigit)
        if (v.nonEmpty && v.toLong <= cur) {
          io.list(d).foreach { f =>
            if (!referenced(s"$d/$f")) {
              if (io.delete(s"$d/$f")) fDel += 1
            }
          }
          if (io.list(d).isEmpty) io.delete(d)
        }
      }
    }
    val liveSegSet = liveSegments.toSet
    io.list(segmentDir(table)).foreach { name =>
      val p = s"${segmentDir(table)}/$name"
      val v = name.stripPrefix("seg_v").takeWhile(_.isDigit)
      if (name.startsWith("seg_v") && v.nonEmpty && v.toLong <= cur && !liveSegSet(p))
        io.delete(p)
    }
    fDel
  }

  /** Reclaim DRAINED streaming-staging ranges: delete `<from>_<to>`
    * directories under `stagingRoot` whose `to` ≤ `upTo`. Sound
    * whenever `upTo` is a COMMITTED offset (Spark's commit log): the
    * engine never replays at or below it, and a replay ABOVE it
    * re-materializes its slice in getBatch before reading — staged
    * content is never read across batches. Ranges with `to` > `upTo`
    * (in-flight or replayable) survive untouched. Returns the number
    * of ranges reclaimed. */
  def purgeStaging(stagingRoot: String, upTo: Long, io: SnapshotIO = LocalSnapshotIO): Int = {
    var n = 0
    io.list(stagingRoot).foreach { name =>
      name.split('_') match {
        case Array(from, to) if from.forall(_.isDigit) && to.forall(_.isDigit)
            && to.toLong <= upTo =>
          deleteRecursive(s"$stagingRoot/$name", io)
          n += 1
        case _ => // not a range directory (or still live) — leave it
      }
    }
    if (n > 0 && io.list(stagingRoot).isEmpty) io.delete(stagingRoot)
    n
  }

  /** Depth-first recursive delete through the [[SnapshotIO]] seam (the
    * trait's delete handles files and EMPTY directories only). */
  private[sources] def deleteRecursive(path: String, io: SnapshotIO): Unit = {
    if (io.isDir(path)) io.list(path).foreach(n => deleteRecursive(s"$path/$n", io))
    io.delete(path)
  }
}
