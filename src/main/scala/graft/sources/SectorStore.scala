package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.FileChannel
import java.nio.file.{Files, StandardOpenOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.util.SerializableConfiguration

/** Page-addressed raw-vector store — the SSD layout of the reference's
  * paged tiers.
  *
  * The reference's DiskANN never scans its disk file: each raw-vector read
  * is one aligned `SECTOR_LEN` (4 KiB) read at a known offset
  * (`src/index/diskann/diskann.cc:560-660`), so per-query IO is
  * proportional to the FETCH COUNT, never to the corpus. [[save]] lays the
  * raw tier out the same way: globally range-partitioned and sorted by id,
  * one `_pages-NNNNN` file per partition (the `_` prefix keeps the files
  * invisible to `spark.read.parquet`, so a store can share a dir with the
  * batch side's parquet), each file
  *  - a run of fixed-stride 4 KiB-aligned pages, each holding up to
  *    `rowsPerPage` little-endian records `(id int64, dim × fp32 raw bits)`,
  *    zero-padded to the stride;
  *  - then the page fence table, `(first id, last id)` int64 pairs;
  *  - then a 32-byte trailer `(rows int64, dim int32, rowsPerPage int32,
  *    stride int32, pages int32, magic int64)`. The trailer sits at the end
  *    because each task streams its sorted partition and knows its row count
  *    only after the last row.
  *
  * [[Reader]] keeps only the fence table resident (O(pages)) and maps
  * each page file read-only (the reference's `enable_mmap`,
  * `feature.h:40-46`), so reading a hit page is memory loads, not a
  * syscall. Ids are unique and sorted, so every id maps to at most one
  * page and a fetch of `w` distinct ids reads at most `w` pages. The Reader verifies the ascending-disjoint fence
  * invariant at open, so a store can never silently degrade to a scan.
  */
object SectorStore extends Serializable { // the write task's closure refers to it

  /** The reference's disk unit (`SECTOR_LEN`): page strides are multiples. */
  private val PageBytes = 4096

  private val FilePrefix = "_pages-"
  private val Magic = 0x3147505446415247L // "GRAFTPG1", little-endian
  private val TrailerBytes = 32
  // rows per range partition (one file each): ~4 MiB files at dim 64
  private val RowsPerFile = 1L << 14

  /** For `file:` paths the raw local filesystem: Hadoop's checksum wrapper
    * rebuilds its checker (reopening the file) on every positioned read,
    * while the raw stream's positioned read is a lock-free
    * `FileChannel.read(buf, pos)`. No `.crc` side files are written. */
  private def rawFs(p: Path, conf: Configuration): FileSystem =
    p.getFileSystem(conf) match {
      case l: LocalFileSystem => l.getRawFileSystem
      case fs => fs
    }

  /** Per-file outcome of the write task. */
  private final case class Written(rows: Long, dim: Int, firstId: Long)

  /** Write `(id, vec)` rows in page layout. `rowsPerGroup > 0` overrides the
    * rows per page (tests pin exact granularity with it); by default a page
    * holds as many records as fit in 4 KiB (at least one). One shuffle, once,
    * at save time; every subsequent fetch is fence-guided random access.
    *
    * Rejects with `IllegalArgumentException` naming the id: a null id or
    * vector (or vector element), a duplicate id, and rows of mixed
    * dimension. Components are stored as raw float bits, so NaN payloads,
    * ±Inf and −0.0 round-trip exactly. */
  def save(
      df: DataFrame, // (idCol LONG-castable, vecCol ARRAY<FLOAT>)
      dir: String,
      idCol: String = "id",
      vecCol: String = "vec",
      rowsPerGroup: Int = 0): Unit = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val out = new Path(dir)
    val fs = rawFs(out, conf)
    def fileAt(i: Int): Path = new Path(dir, f"$FilePrefix$i%05d")
    fs.mkdirs(out)
    def clear(): Unit = fs.listStatus(out).foreach { s =>
      if (s.getPath.getName.startsWith(FilePrefix)) fs.delete(s.getPath, false)
    }
    clear()
    val projected = df.select(col(idCol).cast("long").as(idCol), col(vecCol))
    val rows = projected.count()
    if (rows == 0L) {
      writeFile(Iterator.empty, fileAt(0), conf, rowsPerGroup)
      return
    }
    val files = ((rows + RowsPerFile - 1L) / RowsPerFile).toInt
    val sconf = new SerializableConfiguration(conf)
    val written =
      try projected
        .repartitionByRange(files, col(idCol))
        .sortWithinPartitions(idCol)
        .rdd
        .mapPartitionsWithIndex { (pi, it) =>
          Iterator(writeFile(it, fileAt(pi), sconf.value, rowsPerGroup))
        }
        .collect()
      catch {
        case e: SparkException =>
          clear()
          // a task's rejection reaches the driver wrapped; surface it as is
          throw Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .collectFirst { case iae: IllegalArgumentException => iae }.getOrElse(e)
      }
    // each task checked its own rows; dimensions must also agree across files
    val nonEmpty = written.filter(_.rows > 0)
    nonEmpty.find(_.dim != nonEmpty.head.dim).foreach { w =>
      clear()
      throw new IllegalArgumentException(
        s"sector store: id ${w.firstId} has dimension ${w.dim}, expected ${nonEmpty.head.dim}")
    }
  }

  /** Write one id-sorted partition as a page file; validates each row. */
  private def writeFile(it: Iterator[Row], path: Path, conf: Configuration,
      rowsPerGroup: Int): Written = {
    val os = rawFs(path, conf).create(path, true)
    try {
      var dim = -1
      var rpp, rec, stride, inPage = 0
      var page: ByteBuffer = null
      val fences = Array.newBuilder[Long]
      var rows, prev, firstId = 0L
      def flushPage(): Unit = {
        java.util.Arrays.fill(page.array(), inPage * rec, stride, 0.toByte)
        os.write(page.array(), 0, stride)
        fences += prev
        inPage = 0
      }
      while (it.hasNext) {
        val r = it.next()
        require(!r.isNullAt(0), "sector store: null id — the raw tier requires non-null keys")
        val id = r.getLong(0)
        require(!r.isNullAt(1), s"sector store: null vector for id $id")
        val v = r.getSeq[Any](1)
        if (dim < 0) {
          dim = v.length
          rec = 8 + 4 * dim
          rpp = if (rowsPerGroup > 0) rowsPerGroup else math.max(1, PageBytes / rec)
          stride = ((rpp.toLong * rec + PageBytes - 1) / PageBytes * PageBytes).toInt
          page = ByteBuffer.allocate(stride).order(ByteOrder.LITTLE_ENDIAN)
          firstId = id
        } else {
          require(id != prev, s"sector store: duplicate id $id")
          require(v.length == dim, s"sector store: id $id has dimension ${v.length}, expected $dim")
        }
        if (inPage == 0) fences += id
        var off = inPage * rec
        page.putLong(off, id)
        off += 8
        v.foreach {
          case f: Float => page.putFloat(off, f); off += 4
          case _ => throw new IllegalArgumentException(s"sector store: null component in id $id")
        }
        prev = id
        rows += 1
        inPage += 1
        if (inPage == rpp) flushPage()
      }
      if (inPage > 0) flushPage()
      val fs = fences.result()
      val tail = ByteBuffer.allocate(fs.length * 8 + TrailerBytes).order(ByteOrder.LITTLE_ENDIAN)
      fs.foreach(tail.putLong)
      tail.putLong(rows).putInt(math.max(dim, 0)).putInt(rpp).putInt(stride)
        .putInt(fs.length / 2).putLong(Magic)
      os.write(tail.array())
      Written(rows, dim, firstId)
    } finally os.close()
  }

  /** Open a store directory; None when it holds no valid page layout (no
    * `_pages-*` files, a damaged trailer, or fences that are not
    * ascending-disjoint) — callers then re-materialize with [[save]]. A
    * store on a non-`file:` filesystem is copied once into a local temp
    * dir (deleted at JVM exit), so every store is read through the same
    * read-only mappings. */
  def openIfValid(spark: SparkSession, dir: String): Option[Reader] =
    try {
      val p = new Path(dir)
      val fs = rawFs(p, spark.sparkContext.hadoopConfiguration)
      val files = fs.listStatus(p).filter(_.getPath.getName.startsWith(FilePrefix))
        .sortBy(_.getPath.getName)
      require(files.nonEmpty, s"no page files under $dir")
      val local = fs match {
        case _: RawLocalFileSystem => files.map(st => java.nio.file.Paths.get(st.getPath.toUri))
        case _ =>
          val copy = graft.queries.StreamStage.dir("graft-rawstore-")
          files.map { st =>
            val to = copy.resolve(st.getPath.getName)
            val in = fs.open(st.getPath)
            try Files.copy(in, to) finally in.close()
            to
          }
      }
      val shapes = Array.newBuilder[(Int, Int)] // (dim, stride) of each non-empty file
      val first, last, pos = Array.newBuilder[Long]
      val fileOf, rowsOf = Array.newBuilder[Int]
      val maps = local.zipWithIndex.map { case (f, fi) =>
        val ch = FileChannel.open(f, StandardOpenOption.READ)
        val b = try {
          require(ch.size() <= Int.MaxValue, s"page file $f exceeds 2 GiB")
          ch.map(FileChannel.MapMode.READ_ONLY, 0L, ch.size()).order(ByteOrder.LITTLE_ENDIAN)
        } finally ch.close()
        val len = b.capacity()
        val t = len - TrailerBytes
        val rows = b.getLong(t)
        val (dim, rpp, stride, pages) = (b.getInt(t + 8), b.getInt(t + 12), b.getInt(t + 16), b.getInt(t + 20))
        require(b.getLong(t + 24) == Magic && len == pages.toLong * (stride + 16) + TrailerBytes &&
          (rows == 0L || pages == (rows + rpp - 1) / rpp && stride % PageBytes == 0 &&
            stride.toLong >= rpp.toLong * (8 + 4 * dim)))
        if (rows > 0) shapes += ((dim, stride))
        val fences = pages * stride
        (0 until pages).foreach { i =>
          first += b.getLong(fences + 16 * i)
          last += b.getLong(fences + 16 * i + 8)
          pos += i.toLong * stride
          fileOf += fi
          rowsOf += math.min(rpp.toLong, rows - i.toLong * rpp).toInt
        }
        b
      }
      val shape = shapes.result().distinct
      require(shape.length <= 1, s"mixed dimensions under $dir")
      val (dim, stride) = shape.headOption.getOrElse((0, 0))
      Some(new Reader(maps, first.result(), last.result(), pos.result(), fileOf.result(),
        rowsOf.result(), dim, stride))
    } catch {
      case scala.util.control.NonFatal(_) => None
    }

  /** One fetch's vectors and its IO. */
  final case class Fetched(
      vectors: java.util.HashMap[Long, Array[Float]],
      requested: Long,
      pagesRead: Long,
      bytesRead: Long,
      rowsScanned: Long)

  /** Fence-table reader over a [[save]]d store. Resident state is the page
    * fences and one read-only mapping per file; a fetch reads its pages
    * with absolute gets only, so concurrent fetches share the mappings
    * without a lock. */
  final class Reader private[sources] (
      maps: Array[ByteBuffer],
      first: Array[Long], // per page, ascending across files
      last: Array[Long],
      pos: Array[Long], // offset of the page in its file
      fileOf: Array[Int],
      rowsOf: Array[Int],
      dim: Int,
      stride: Int) extends AutoCloseable {
    require(first.indices.forall(i => first(i) <= last(i) && (i == 0 || last(i - 1) < first(i))),
      "page fences are not ascending-disjoint")

    private val rec = 8 + 4 * dim

    def totalSectors: Long = first.length.toLong
    def totalRows: Long = rowsOf.iterator.map(_.toLong).sum
    def totalBytes: Long = totalSectors * stride

    /** Index of the page whose fences contain `id`, or -1 (absent id). */
    private def pageOf(id: Long): Int = {
      var lo = 0
      var hi = first.length - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (id < first(mid)) hi = mid - 1
        else if (id > last(mid)) lo = mid + 1
        else return mid
      }
      -1
    }

    /** Raw vectors for `ids` (absent ids skipped): the distinct ids in
      * ascending order, each hit page's records walked once alongside the
      * wanted ids that fall in it. */
    def fetch(ids: Seq[Long]): Fetched = {
      val want = ids.toArray
      java.util.Arrays.sort(want)
      var n = 0
      var i = 0
      while (i < want.length) {
        if (i == 0 || want(i) != want(i - 1)) { want(n) = want(i); n += 1 }
        i += 1
      }
      val out = new java.util.HashMap[Long, Array[Float]]()
      var pages, scanned = 0L
      i = 0
      while (i < n) {
        val p = pageOf(want(i))
        if (p < 0) i += 1
        else {
          val b = maps(fileOf(p))
          val at = pos(p).toInt
          pages += 1
          scanned += rowsOf(p)
          var r = 0
          while (i < n && want(i) <= last(p)) {
            while (r < rowsOf(p) && b.getLong(at + r * rec) < want(i)) r += 1
            if (r < rowsOf(p) && b.getLong(at + r * rec) == want(i)) {
              val v = new Array[Float](dim)
              val off = at + r * rec + 8
              var j = 0
              while (j < dim) { v(j) = b.getFloat(off + 4 * j); j += 1 }
              out.put(want(i), v)
            }
            i += 1
          }
        }
      }
      Fetched(out, n.toLong, pages, pages * stride, scanned)
    }

    /** Nothing to release eagerly: a mapping is unmapped once the reader
      * is collected, so fetches racing a close stay safe. */
    override def close(): Unit = ()
  }
}
