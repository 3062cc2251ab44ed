package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileContext, Options, Path => HPath}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** Distributed HFile bulk write/read over the canonical cells layout —
  * the HBase bulk-load path (`BASELINE.json`: "Bulk read/write via HBase
  * connector") re-expressed Spark-first with our own v3 codec
  * ([[HFileCodec]]) since no connector jar resolves offline.
  *
  * Write path = exactly what HFileOutputFormat2 requires of its input
  * [public: o.a.h.hbase.mapreduce.HFileOutputFormat2]: cells globally
  * range-partitioned by rowkey (one partition per region) and sorted by
  * (rowkey, cf, qualifier, ts DESC) within each; each executor then streams
  * its partition into one region file. No driver-side collect anywhere.
  *
  * All I/O goes through the Hadoop FileSystem API resolved from the
  * session's hadoopConfiguration — `file://` in local mode, HDFS/S3A/any
  * shared filesystem on a cluster — so "N executors each writing its own
  * region file" holds on a real multi-node deployment, not just when
  * driver and executors share one local disk.
  */
object HFileOps {

  /** Canonical cells schema (FIXTURES.md §F3) — what [[read]] returns. */
  val cellsSchema: StructType = StructType(Seq(
    StructField("rowkey", StringType), StructField("cf", StringType),
    StructField("qualifier", StringType), StructField("ts", LongType),
    StructField("value", DoubleType), StructField("op", StringType)))

  /** Text-valued cells schema — what [[readText]] returns. The codec
    * stores value BYTES; the double spelling above is one value codec
    * (8-byte big-endian), this is the other (UTF-8), selected per
    * store by the writer. */
  val textCellsSchema: StructType = StructType(Seq(
    StructField("rowkey", StringType), StructField("cf", StringType),
    StructField("qualifier", StringType), StructField("ts", LongType),
    StructField("value", StringType), StructField("op", StringType)))

  /** op string ⟷ KeyValue type code. The historical op string `"delete"`
    * has always carried mask-at-or-before semantics here — that IS
    * HBase's `DeleteColumn`, so it maps to code 12 (every pre-r10 query
    * and oracle keeps its meaning and its bytes change only in the type
    * code, which no pre-r10 gate observed). The r10 additions complete
    * the real type lattice: `"delete_version"` = code 8 (masks the put at
    * EXACTLY its ts), `"delete_family"` = code 14 (empty qualifier; masks
    * every column of the (row, cf) at-or-before its ts).
    */
  private[graft] def typOf(op: String): Byte = op match {
    case "delete"         => HFileCodec.TypeDeleteColumn
    case "delete_version" => HFileCodec.TypeDelete
    case "delete_family"  => HFileCodec.TypeDeleteFamily
    case _                => HFileCodec.TypePut
  }

  private[graft] def opOf(typ: Byte): String = typ match {
    case HFileCodec.TypeDeleteColumn => "delete"
    case HFileCodec.TypeDelete       => "delete_version"
    case HFileCodec.TypeDeleteFamily => "delete_family"
    case _                           => "put"
  }

  /** HBase cell-tag wire format inside a cell's tag blob: repeated
    * `[2-byte BE tagLen][1-byte type][payload]`, tagLen = 1 + payload
    * length. The TTL tag (HBase `TagType.TTL_TAG_TYPE` = 8) carries one
    * 8-byte BE millisecond long — what
    * [public: o.a.h.hbase.client.Mutation#setTTL] attaches per mutation.
    */
  private[graft] val TtlTagType: Byte = 8

  private[graft] def ttlTag(ttlMs: Long): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(2 + 1 + 8)
    b.putShort(9.toShort); b.put(TtlTagType); b.putLong(ttlMs)
    b.array()
  }

  /** The visibility tag (HBase `TagType.VISIBILITY_TAG_TYPE` = 2)
    * carries the cell's label expression — what
    * [public: o.a.h.hbase.client.Mutation#setCellVisibility] attaches
    * (HBase serializes the parsed expression; we carry the expression
    * string itself — same read-path semantics, evaluated by
    * [[graft.ops.FilterOps.visibleUnder]]).
    */
  private[graft] val VisTagType: Byte = 2

  private[graft] def visTag(expr: String): Array[Byte] = {
    val b = expr.getBytes(UTF_8)
    require(b.length + 1 <= 0xffff, s"visibility expression too long (${b.length} B)")
    val out = java.nio.ByteBuffer.allocate(2 + 1 + b.length)
    out.putShort((b.length + 1).toShort); out.put(VisTagType); out.put(b)
    out.array()
  }

  /** First tag of `typ` in a cell's tag blob — other tag types are
    * skipped structurally (the length-prefixed walk), so multi-tag
    * blobs (e.g. TTL + visibility on one cell) resolve independently.
    */
  private[graft] def tagOfType(tags: Array[Byte], typ: Byte): Option[Array[Byte]] = {
    var p = 0
    while (p + 3 <= tags.length) {
      val len = ((tags(p) & 0xff) << 8) | (tags(p + 1) & 0xff)
      if (len >= 1 && p + 2 + len <= tags.length) {
        if (tags(p + 2) == typ)
          return Some(java.util.Arrays.copyOfRange(tags, p + 3, p + 2 + len))
        p += 2 + len
      } else return None // malformed tail: no claim
    }
    None
  }

  /** The TTL-tag payload of a cell's tag blob, if one is present. */
  private[graft] def ttlOfTags(tags: Array[Byte]): Option[Long] =
    tagOfType(tags, TtlTagType).collect {
      case b if b.length == 8 => java.nio.ByteBuffer.wrap(b).getLong
    }

  /** The visibility expression of a cell's tag blob, if one is present. */
  private[graft] def visOfTags(tags: Array[Byte]): Option[String] =
    tagOfType(tags, VisTagType).map(new String(_, UTF_8))

  /** Make `dir/name` visible only once it is whole — the store-file
    * commit rule of [public: o.a.h.hbase.regionserver.HRegionFileSystem
    * #commitStoreFile]. `write` streams into a dot-prefixed `.tmp` file
    * next to the destination, named from the task attempt id (a UUID on
    * the driver), so speculative or retried attempts never share one and
    * no reader glob (`*.hfile`, `*.gwal`, `flushed-*.seq`) sees it; the
    * temp file is then renamed into place. A write or rename that throws
    * removes the temp file and leaves any earlier `dir/name` as it was.
    *
    * Commit via FileContext.rename(OVERWRITE): Hadoop FileSystems report
    * most failures by RETURNING FALSE, and a delete-then-rename pair loses
    * that signal entirely. rename(OVERWRITE) raises on failure everywhere,
    * and is a single atomic operation on filesystems that provide one
    * (HDFS). On file:// the local AbstractFileSystem still implements
    * overwrite as delete+rename internally, so the kill window narrows but
    * does not vanish there — acceptable for the local smoke; the production
    * target is a shared FS with atomic rename.
    */
  private[graft] def commitFile(dir: HPath, name: String, conf: Configuration)(
      write: java.io.OutputStream => Unit): Unit = {
    val attempt = Option(TaskContext.get()).map(_.taskAttemptId().toString)
      .getOrElse(java.util.UUID.randomUUID().toString)
    val tmp = new HPath(dir, s".$name.$attempt.tmp")
    val dst = new HPath(dir, name)
    val fs = dir.getFileSystem(conf)
    try {
      val os = new java.io.BufferedOutputStream(fs.create(tmp, true), 1 << 16)
      try write(os) finally os.close()
      try FileContext.getFileContext(dst.toUri, conf)
        .rename(tmp, dst, Options.Rename.OVERWRITE)
      catch { case e: java.io.IOException =>
        throw new java.io.IOException(s"commitFile: failed to rename $tmp -> $dst", e)
      }
    } catch { case e: Throwable =>
      try fs.delete(tmp, false) catch { case NonFatal(d) => e.addSuppressed(d) }
      throw e
    }
  }

  /** Driver-side preamble of a write that replaces its OWN group of files:
    * create `dir`, then delete what matches `glob` under it (files outside
    * the group stay).
    */
  private[graft] def clearGroup(dir: HPath, glob: String, conf: Configuration): Unit = {
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    Option(fs.globStatus(new HPath(dir, glob))).getOrElse(Array.empty)
      .foreach(st => fs.delete(st.getPath, false))
  }

  /** Cut a key-sorted iterator into its runs of equal `key` and call
    * `f(key, run)` once per run, in order; `run` ends where the key
    * changes and `f` must consume all of it. Returns `f`'s results —
    * how one task writes one file per key run in O(1) files open.
    */
  private[graft] def mapRuns[A, K, B](it: Iterator[A])(key: A => K)(
      f: (K, Iterator[A]) => B): Seq[B] = {
    val in = it.buffered
    val out = Seq.newBuilder[B]
    while (in.hasNext) {
      val k = key(in.head)
      out += f(k, new Iterator[A] {
        def hasNext: Boolean = in.hasNext && key(in.head) == k
        def next(): A = in.next()
      })
    }
    out.result()
  }

  /** The KeyValue sort: the `leading` key columns (rowkey and cf, in the
    * caller's order) ascending, then qualifier, ts DESC, type-code DESC —
    * the type tiebreak is HBase's comparator rule that deletes sort before
    * puts at an equal timestamp (DeleteFamily's empty qualifier already
    * places it before all of the family's columns).
    */
  private def keyValueOrder(leading: String*): Seq[Column] =
    leading.map(col(_).asc) ++ Seq(col("qualifier").asc, col("ts").desc,
      expr("CASE op WHEN 'delete_family' THEN 14 WHEN 'delete' THEN 12 " +
        "WHEN 'delete_version' THEN 8 ELSE 4 END").desc)

  /** Bulk-write a cells DataFrame as `regions` HFile region files under
    * `dir`. Returns the file names written (small: one per region).
    *
    * Any `*.hfile` already under `dir` is deleted first: a prior run with
    * a different region count (or dataset) at the same path must never
    * leak stale region files into a later [[read]], which globs the whole
    * directory. Each region file is made visible by [[commitFile]].
    */
  def bulkWrite(cells: DataFrame, dir: String, regions: Int,
                blockSize: Int = 64 * 1024,
                compression: Int = HFileCodec.CompressionNone,
                encoding: Int = HFileCodec.EncodingNone,
                generation: Int = -1,
                textValue: Boolean = false,
                ttlMsCol: Option[String] = None,
                visCol: Option[String] = None): Seq[String] = {
    val hadoopConf = cells.sparkSession.sparkContext.hadoopConfiguration
    // generation >= 0 = LSM store-file mode: this write adds/replaces ONE
    // generation's files and leaves the others for [[mergedRead]]'s
    // merge-on-read (HBase accrues store files per flush/bulk-load the
    // same way); the default (-1) keeps whole-directory-replace semantics.
    clearGroup(new HPath(dir),
      if (generation >= 0) f"gen-$generation%03d-*.hfile" else "*.hfile", hadoopConf)
    val serConf = new SerializableConfiguration(hadoopConf)
    val outCols = Seq("rowkey", "cf", "qualifier", "ts", "value", "op") ++
      ttlMsCol ++ visCol
    val ttlIdx = ttlMsCol.map(_ => 6)
    // an empty/null expression is the UNLABELED cell — HBase writes no
    // visibility tag for it (world-readable by absence)
    val visIdx = visCol.map(_ => 6 + ttlMsCol.size)
    val withTags = ttlMsCol.isDefined || visCol.isDefined
    val sorted = cells
      .repartitionByRange(regions, col("rowkey"))
      .sortWithinPartitions(keyValueOrder("rowkey", "cf"): _*)
      .select(outCols.map(col): _*)
    sorted.rdd.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      if (it.isEmpty) Iterator.empty
      else {
        val cellsIt = it.map { r =>
          val op = r.getString(5)
          require(op != "delete_family" || r.getString(2).isEmpty,
            s"delete_family marker must carry an empty qualifier " +
              s"(got '${r.getString(2)}' at rowkey ${r.getString(0)}) — " +
              "HBase stores the family tombstone before all columns")
          HFileCodec.HCell(
            r.getString(0).getBytes(UTF_8), r.getString(1).getBytes(UTF_8),
            r.getString(2).getBytes(UTF_8), r.getLong(3),
            typOf(op),
            if (textValue) r.getString(4).getBytes(UTF_8)
            else java.nio.ByteBuffer.allocate(8).putDouble(r.getDouble(4)).array(),
            tags = {
              val t = ttlIdx.filterNot(r.isNullAt).map(i => ttlTag(r.getLong(i)))
              val v = visIdx.filterNot(r.isNullAt).map(r.getString)
                .filter(_.nonEmpty).map(visTag)
              (t.toSeq ++ v.toSeq) match {
                case Nil  => Array.emptyByteArray
                case tags => tags.reduce(_ ++ _)
              }
            })
        }
        val name =
          if (generation >= 0) f"gen-$generation%03d-region-$pid%05d.hfile"
          else f"region-$pid%05d.hfile"
        // stream the codec straight to the filesystem: a region file bigger
        // than the task heap writes fine (O(blockSize) memory — HFileCodec.writeTo)
        commitFile(new HPath(dir), name, serConf.value)(os =>
          HFileCodec.writeTo(cellsIt, os, blockSize, compression, encoding,
            includeTags = withTags))
        Iterator.single(name)
      }
    }.collect().toSeq.sorted
  }

  /** Pick a region count from the cell count, the way HBase sizes regions
    * by bytes: ~1M cells (≈90 MB serialized) per region file keeps both the
    * write task and the whole-file read task comfortably inside a normal
    * executor heap, at any input scale. Floor of 4 preserves multi-region
    * coverage on the small fixtures; cap of 4096 bounds tiny-file count.
    */
  def regionCountFor(cellCount: Long): Int =
    math.min(4096L, math.max(4L, (cellCount + (1L << 20) - 1) / (1L << 20))).toInt

  /** [[regionCountFor]] driven by the SOURCE table's on-disk parquet
    * footprint instead of a row count — pure filesystem metadata (one
    * listing via [[graft.Tables.bytesOnDisk]]), so bulk-write planning no
    * longer spends a whole corpus scan just to pick a file count
    * (VERDICT r11: every a9/a10/a12/a13/a14/b21 invocation ran
    * `events.count()` before the write). Calibration: the fixtures
    * measure 12–25 parquet bytes per cell across SFs, so 16 MiB of
    * source parquet ≈ 1 M cells ≈ 90 MB serialized HFile — the same
    * region target [[regionCountFor]] encodes. Same floor (4: multi-
    * region coverage on small fixtures) and cap (4096: bounds tiny-file
    * count).
    */
  def regionCountForBytes(sourceBytes: Long): Int =
    math.min(4096L, math.max(4L, (sourceBytes + (1L << 24) - 1) / (1L << 24))).toInt

  /** A Hadoop stream as the codec's positioned-read source. */
  private def readAtOf(in: FSDataInputStream): HFileCodec.ReadAt = (off, len) => {
    val b = new Array[Byte](len)
    in.readFully(off, b)
    b
  }

  /** [[HFileCodec.openStore]] over `p` for one eager reader: `f` gets the
    * opened store and the file closes on return, so `f` MUST evaluate
    * eagerly — nothing it returns may read the file lazily.
    */
  private[sources] def openRegion[A](p: String, conf: Configuration)(
      f: HFileCodec.Store => A): A = {
    val path = new HPath(p)
    val fs = path.getFileSystem(conf)
    val in = fs.open(path)
    try f(HFileCodec.openStore(readAtOf(in), fs.getFileStatus(path).getLen))
    finally in.close()
  }

  /** [[HFileCodec.openStore]] for a lazy stream: the file stays open until
    * the running task completes. */
  private def openForTask(p: String, conf: Configuration)
      : (FSDataInputStream, HFileCodec.Store) = {
    val path = new HPath(p)
    val fs = path.getFileSystem(conf)
    val in = fs.open(path)
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
    (in, HFileCodec.openStore(readAtOf(in), fs.getFileStatus(path).getLen))
  }

  /** The region files under `dir` — one name per region, bounded
    * metadata, shared by every reader. */
  private def regionFiles(spark: SparkSession, dir: String): Seq[String] = {
    val dirPath = new HPath(dir)
    val dfs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(dfs.globStatus(new HPath(dirPath, "*.hfile")))
      .getOrElse(Array.empty).map(_.getPath.toString).toSeq.sorted
  }

  private def rowBelow(row: Array[Byte], stop: Array[Byte]): Boolean =
    stop.isEmpty || java.util.Arrays.compareUnsigned(row, stop) < 0

  /** The cells of one data block whose row passes `keep`, as rows — the
    * shared tail of every positioned reader. */
  private def decodeBlockRows(blk: Array[Byte], keep: Array[Byte] => Boolean,
                              extras: HFileCodec.CellExtras,
                              seekRows: Seq[Array[Byte]] = Nil,
                              seekFrom: Option[Array[Byte]] = None): Seq[Row] =
    HFileCodec.blockCells(blk, extras, seekRows, seekFrom).filter(c => keep(c.row))
      .map(cellRow(_)).toSeq

  /** The one cell → row conversion: the cells-schema columns (the value
    * as UTF-8 under `textValue`, else an 8-byte double), then `extra`. */
  private def cellRow(c: HFileCodec.HCell, textValue: Boolean = false,
                      extra: Seq[Any] = Nil): Row =
    Row.fromSeq(Seq(new String(c.row, UTF_8), new String(c.family, UTF_8),
      new String(c.qualifier, UTF_8), c.ts,
      if (textValue) new String(c.value, UTF_8)
      else java.nio.ByteBuffer.wrap(c.value).getDouble,
      opOf(c.typ)) ++ extra)

  /** One task per region file under `dir` for the positioned-read paths:
    * [[openRegion]], run `f`, and add the store-file generation of every
    * produced cell (from the file name, [[genOf]]) — the seam that lets
    * the seek paths take part in merge-on-read version resolution.
    */
  private def seekScanWithGen(spark: SparkSession, dir: String)(
      f: HFileCodec.Store => Seq[Row]): DataFrame = {
    val paths = regionFiles(spark, dir)
    val serConf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val rows = spark.sparkContext
      .parallelize(paths, math.max(1, paths.size))
      .flatMap { p =>
        val gen = genOf(p)
        openRegion(p, serConf.value)(f(_).map(r => Row.fromSeq(r.toSeq :+ gen)))
      }
    spark.createDataFrame(rows, cellsWithGenSchema)
  }

  private def seekScan(spark: SparkSession, dir: String)(
      f: HFileCodec.Store => Seq[Row]): DataFrame =
    seekScanWithGen(spark, dir)(f).drop("gen")

  /** The HBase `Get` read shape against a bulk-written table: per region
    * file, a handful of positioned reads — trailer (1), the load-on-open
    * section (1: root index + bloom meta in one read), bloom chunk (1,
    * after which most regions are REJECTED without touching data),
    * intermediate index (0-1), then only the candidate data block(s).
    * Never a region scan: cost per region is O(blockSize), not
    * O(region). One Spark task per region file, so a get against a
    * 4096-region table is 4096 tiny tasks — or, with the usual rowkey →
    * region routing an online serving layer adds, exactly one.
    */
  def pointGet(spark: SparkSession, dir: String, rowkey: String): DataFrame =
    multiGet(spark, dir, Seq(rowkey))

  /** Batched form (the HBase client's `get(List[Get])`): one pass over the
    * region files serves every key — the per-region trailer/bloom-meta/
    * index reads are shared across keys, and only the union of candidate
    * data blocks is fetched (each block once, even when several keys land
    * in it). Keys are a client-supplied argument (bounded), never data.
    */
  def multiGet(spark: SparkSession, dir: String, rowkeys: Seq[String]): DataFrame =
    seekScan(spark, dir)(multiGetBody(rowkeys))

  /** Version-resolved point get over a generational store — the
    * client-visible HBase `Get` against an un-compacted region: every
    * store file's candidate blocks are consulted through the same
    * bloom/index seek path, then the coordinate's newest (ts, gen)
    * version wins and a winning tombstone hides it, exactly
    * [[mergedRead]]'s rule applied to one key's cells.
    */
  def mergedGet(spark: SparkSession, dir: String, rowkey: String,
                maxVersions: Int = 1,
                ttlFloor: Long = Long.MinValue): DataFrame =
    resolveVersions(seekScanWithGen(spark, dir)(multiGetBody(Seq(rowkey))),
      maxVersions, ttlFloor)

  private def multiGetBody(rowkeys: Seq[String]): HFileCodec.Store => Seq[Row] = {
    val keyBytes = rowkeys.distinct.map(_.getBytes(UTF_8))
    opened => {
      // raw blocks cached by offset: k keys sharing a bloom chunk,
      // intermediate index chunk, or data block cost ONE positioned
      // read of it (bounded: candidates per key are O(1))
      val blockCache = scala.collection.mutable.Map.empty[Long, Array[Byte]]
      val store = opened.copy(readAt = (off, len) =>
        blockCache.getOrElseUpdate(off, opened.readAt(off, len)))
      val surviving = keyBytes.filter(store.mayContain)
      if (surviving.isEmpty) Seq.empty[Row]
      else {
        val wanted = surviving
          .map(scala.collection.immutable.ArraySeq.unsafeWrapArray(_)).toSet
        val seekRows = surviving.sortWith(
          java.util.Arrays.compareUnsigned(_, _) < 0)
        // one walk per key, in row order, so the blocks arrive in file
        // order; the cache hands back one array per block, so `distinct`
        // decodes each block once however many keys land in it
        seekRows.iterator
          .flatMap(kb => store.dataBlocks(entries =>
            HFileCodec.candidateEntries(entries, HFileCodec.indexRows(entries), kb)))
          .distinct
          .flatMap(decodeBlockRows(_, row =>
            wanted.contains(scala.collection.immutable.ArraySeq.unsafeWrapArray(row)),
            store.extras, seekRows = seekRows))
          .toSeq
      }
    }
  }

  /** Index-directed range scan — HBase `Scan#withStartRow/withStopRow`
    * at the file level: per region, the block index selects only the data
    * blocks whose key range intersects `[startRow, stopRow)`; bytes read
    * scale with the RANGE, not the region. One task per region file (a
    * region whose index excludes the whole range reads index blocks
    * only). An empty `stopRow` is open-ended in either direction.
    *
    * `reversed` + `limit` are HBase `Scan#setReversed` + `Scan#setLimit`.
    * Reversed: the start row is the seek origin (HIGH end, inclusive),
    * the stop row the exclusive LOW end — keys in `(stopRow, startRow]`,
    * produced newest-key first, the "closest row at-or-before" /
    * last-N-rows idiom. `limit` bounds the CELLS RETURNED PER REGION in
    * scan direction, and the block walk stops as soon as it is satisfied:
    * a reversed limit-K scan against a large region reads O(K/cellsPerBlock)
    * data blocks off the back of the selected range, not the range — the
    * property that makes "last K" affordable on a 100 TB keyspace (plus
    * index-only rejection of every region whose range misses the bound
    * entirely). The global K across regions is the caller's
    * `orderBy(...).limit(k)` — TakeOrderedAndProject over ≤ limit rows per
    * region.
    */
  def rangeScan(spark: SparkSession, dir: String,
                startRow: String, stopRow: String,
                reversed: Boolean = false, limit: Int = Int.MaxValue): DataFrame = {
    val start = startRow.getBytes(UTF_8)
    val stop = stopRow.getBytes(UTF_8)
    seekScan(spark, dir)(rangeRowsInFile(_, start, stop, reversed, limit))
  }

  /** Reference-daughter scan — the read path of freshly-SPLIT regions:
    * each element of `refs` is a (parent file, startRow, stopRow)
    * REFERENCE (HBase's half-store-file Reference), and each gets ONE
    * task that walks only its parent's index-selected half. Unlike
    * running [[rangeScan]] once per daughter (which spawns refs×regions
    * tasks, almost all index-rejecting), this is exactly |refs| tasks —
    * the shape a post-split region server serves with, and what keeps a
    * split's read path at 2 tasks per region at any region count.
    */
  def referenceScan(spark: SparkSession,
                    refs: Seq[(String, String, String)]): DataFrame = {
    val serConf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val rows = spark.sparkContext
      .parallelize(refs, math.max(1, refs.size))
      .flatMap { case (p, startS, stopS) =>
        openRegion(p, serConf.value)(rangeRowsInFile(_,
          startS.getBytes(UTF_8), stopS.getBytes(UTF_8),
          reversed = false, limit = Int.MaxValue))
      }
    spark.createDataFrame(rows, cellsSchema)
  }

  /** One region file's index-directed range walk — the shared per-file
    * body of [[rangeScan]] (every file of a directory) and
    * [[referenceScan]] (an explicit half-file reference).
    */
  private def rangeRowsInFile(store: HFileCodec.Store,
                              start: Array[Byte], stop: Array[Byte],
                              reversed: Boolean, limit: Int): Seq[Row] = {
    val extras = store.extras
    if (!reversed) {
      val keep = (row: Array[Byte]) =>
        java.util.Arrays.compareUnsigned(row, start) >= 0 && rowBelow(row, stop)
      // stop pulling blocks once `limit` cells have matched — cells are
      // in file order, so the first `limit` of the concatenation is exact
      var n = 0
      val taken = store.dataBlocks(HFileCodec.entriesInRange(_, start, stop))
        .takeWhile(_ => n < limit).map { blk =>
          val rows = decodeBlockRows(blk, keep, extras, seekFrom = Some(start))
          n += rows.size
          rows
        }.toSeq
      val flat = taken.flatten
      if (limit < flat.size) flat.take(limit) else flat
    } else {
      val keep = (row: Array[Byte]) =>
        java.util.Arrays.compareUnsigned(row, start) <= 0 &&
          (stop.isEmpty || java.util.Arrays.compareUnsigned(row, stop) > 0)
      // walk the selected blocks BACK TO FRONT; each block still decodes
      // forward (the delta encodings are front-anchored — same constraint
      // HBase's reversed StoreFileScanner has: seek to the previous
      // block, decode it, serve its cells in reverse). Walking one block
      // past `limit` can only ADD earlier cells, never change the last K.
      var blocks = List.empty[Seq[Row]]
      var n = 0
      val it = store.dataBlocks(HFileCodec.entriesInRevRange(_, stop, start),
        backward = true)
      while (n < limit && it.hasNext) {
        val rows = decodeBlockRows(it.next(), keep, extras)
        blocks = rows :: blocks
        n += rows.size
      }
      val flat = blocks.flatten // ascending file order
      flat.takeRight(math.min(limit, flat.size)).reverse
    }
  }

  /** One region file's WhileMatch walk (HBase `WhileMatchFilter` wrapped
    * around an `InclusiveStopFilter`-bounded forward scan): decode cells
    * ascending from `start` through `stopInclusive`, emit them while
    * `matches` holds, and STOP THE WALK at the first non-matching cell —
    * no further data block is pulled, so bytes read stop with the match
    * run (HFileSpec pins the block-read count through a counting
    * positioned-read source). Returns the matched prefix plus the
    * terminating cell (None if the whole selected range matched) — the
    * terminator is what lets the multi-region caller resolve the GLOBAL
    * stop key.
    *
    * Pure over the opened store so the spec can count reads; the
    * distributed entry point is [[whileMatchScan]].
    */
  private[graft] def whileMatchWalk(
      store: HFileCodec.Store,
      start: Array[Byte], stopInclusive: Array[Byte],
      matches: Row => Boolean): (Seq[Row], Option[Row]) = {
    val stopExcl = stopInclusive :+ 0.toByte // inclusive stop as [start, stop+0x00)
    val extras = store.extras
    val keep = (row: Array[Byte]) =>
      java.util.Arrays.compareUnsigned(row, start) >= 0 &&
        java.util.Arrays.compareUnsigned(row, stopInclusive) <= 0
    val out = Seq.newBuilder[Row]
    var failed: Option[Row] = None
    val blocks = store.dataBlocks(HFileCodec.entriesInRange(_, start, stopExcl))
    while (failed.isEmpty && blocks.hasNext) {
      val rows = decodeBlockRows(blocks.next(), keep, extras, seekFrom = Some(start))
      val it = rows.iterator
      while (failed.isEmpty && it.hasNext) {
        val r = it.next()
        if (matches(r)) out += r else failed = Some(r)
      }
    }
    (out.result(), failed)
  }

  /** Distributed WhileMatch + InclusiveStop scan: per region file, the
    * cells in `[startRow, stopRowInclusive]` ascending UNTIL the first
    * cell failing `matches`, which terminates that region's block walk
    * ([[whileMatchWalk]]). Output carries a `matched` flag: true rows are
    * the region-local match run; the (≤1 per region) false row is the
    * region's terminating cell. Per-region runs are NOT the global
    * WhileMatch answer on their own — HBase stops the whole client scan
    * at the first failing row in KEY order, and regions are scanned in
    * parallel here — so the caller resolves the global stop key as
    * `min(rowkey) WHERE NOT matched` and keeps matched rows below it
    * (the b24 spelling). Work and bytes stay bounded by each region's
    * local match run: a region whose very first selected cell fails
    * reads exactly one data block.
    */
  def whileMatchScan(spark: SparkSession, dir: String,
                     startRow: String, stopRowInclusive: String)(
      matches: Row => Boolean): DataFrame = {
    val start = startRow.getBytes(UTF_8)
    val stopI = stopRowInclusive.getBytes(UTF_8)
    val paths = regionFiles(spark, dir)
    val serConf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val rows = spark.sparkContext
      .parallelize(paths, math.max(1, paths.size))
      .flatMap { p =>
        openRegion(p, serConf.value) { store =>
          val (matched, failedAt) = whileMatchWalk(store, start, stopI, matches)
          matched.map(r => Row.fromSeq(r.toSeq :+ true)) ++
            failedAt.map(r => Row.fromSeq(r.toSeq :+ false))
        }
      }
    spark.createDataFrame(rows, StructType(
      cellsSchema.fields :+ StructField("matched", BooleanType, nullable = false)))
  }

  /** Read every region file under `dir` back into the cells schema —
    * one task per region file, each STREAMING its file block-by-block
    * ([[streamScan]]): per-task heap is O(blockSize) regardless of region
    * size, the same bound a region server's block reader has. (A
    * whole-file `binaryFile` read held each region as one byte array — 32
    * concurrent multi-hundred-MB humongous allocations OOM'd an 8 GB heap
    * at the 100M-row smoke scale.) The driver-side listing is one name per
    * region — bounded, never data — and resolves through the same Hadoop
    * FileSystem as the write, so reads work against any shared filesystem.
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    streamScan(spark, regionFiles(spark, dir).map(Seq(_)))

  /** [[read]] over a store written with `textValue = true`: value bytes
    * decode as UTF-8 instead of an 8-byte double. */
  def readText(spark: SparkSession, dir: String): DataFrame =
    streamScan(spark, regionFiles(spark, dir).map(Seq(_)), textValue = true)

  /** [[read]] exposing each cell's TTL tag as a nullable `ttl_ms` LONG
    * column (null = no TTL tag) — the read half of the cell-TTL
    * lifecycle [public: o.a.h.hbase.client.Mutation#setTTL]: visibility
    * (`ts + ttl ≥ now`) is the QUERY's job with `now` a literal, the
    * b32 compaction-view composition.
    */
  def readWithTtl(spark: SparkSession, dir: String): DataFrame =
    streamScan(spark, regionFiles(spark, dir).map(Seq(_)),
      extraFields = Seq(StructField("ttl_ms", LongType, nullable = true)),
      extra = _ => c => Seq(ttlOfTags(c.tags).map(Long.box).orNull))

  /** [[read]] exposing BOTH cell-metadata tags: `ttl_ms` (nullable
    * LONG) and `vis` (nullable STRING, the visibility label
    * expression) — the multi-tag read path of the b33 lattice; each
    * tag resolves independently through the structural walk.
    */
  def readWithCellTags(spark: SparkSession, dir: String): DataFrame =
    streamScan(spark, regionFiles(spark, dir).map(Seq(_)),
      extraFields = Seq(StructField("ttl_ms", LongType, nullable = true),
        StructField("vis", StringType, nullable = true)),
      extra = _ => c => Seq(ttlOfTags(c.tags).map(Long.box).orNull, visOfTags(c.tags).orNull))

  /** The one streaming file scan behind [[read]] and its variants,
    * [[readFamilies]], [[readWithGen]] and [[mergedRegionScan]]: one
    * task per file group, streaming the group's files in order
    * ([[streamFileCells]]), each cell one cells-schema row (UTF-8 values
    * under `textValue`) followed by the `extraFields` columns that
    * `extra(file)(cell)` yields.
    */
  private def streamScan(spark: SparkSession, groups: Seq[Seq[String]],
                         textValue: Boolean = false,
                         extraFields: Seq[StructField] = Nil,
                         extra: String => HFileCodec.HCell => Seq[Any] = _ => _ => Nil)
      : DataFrame = {
    val serConf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val rows = spark.sparkContext
      .parallelize(groups, math.max(1, groups.size))
      .flatMap(_.iterator.flatMap { p =>
        val more = extra(p)
        streamFileCells(p, serConf.value).map(c => cellRow(c, textValue, more(c)))
      })
    spark.createDataFrame(rows, StructType(
      (if (textValue) textCellsSchema else cellsSchema).fields ++ extraFields))
  }

  /** One region file's full forward cell stream (O(blockSize) memory) —
    * the executor-side body of [[streamScan]] and the merge compaction.
    * [[openForTask]] resolves the per-file mvcc/tags postfix flags BEFORE
    * the forward stream (positioned reads don't move the stream's own
    * position); the stream closes on task completion.
    */
  private def streamFileCells(p: String, conf: Configuration): Iterator[HFileCodec.HCell] = {
    val (in, store) = openForTask(p, conf)
    HFileCodec.readStreaming(new java.io.BufferedInputStream(in, 1 << 16), store.extras)
  }

  /** Region MERGE read path — the inverse of [[referenceScan]]'s split
    * [public: o.a.h.hbase.client.Admin#mergeRegionsAsync]: merging does
    * NOT rewrite data — the merged region simply serves ALL of its
    * parents' store files under ONE region (HBase relocates the parent
    * files into the merged region's directory and serves them with one
    * store scanner) until its next major compaction. `groups` lists each
    * merged region's parent files in ascending rowkey-range order; the
    * scan is ONE task per merged region in ONE RDD — never a union of
    * per-parent DataFrame legs, which wave-serializes the heavy tasks in
    * the scheduler (a19 measured 14× slower that way, docs/SCALE.md).
    * Parents are internally KeyValue-sorted and mutually disjoint-
    * adjacent, so streaming them sequentially IS the merged region's
    * sort order — no heap, no buffering beyond a block.
    */
  def mergedRegionScan(spark: SparkSession,
                       groups: Seq[Seq[String]]): DataFrame =
    streamScan(spark, groups)

  /** The compaction that FOLLOWS a region merge: rewrite each merged
    * region's parent store files as ONE new store file under `outDir`
    * (`region-NNNNN.hfile` by group index). One task per merged region
    * streams its parents' cells in range order straight into
    * [[HFileCodec.writeTo]] — zero shuffle, O(blockSize) task memory, the
    * shape a region server's post-merge compaction has at any region
    * size. The rewrite is RAW (every version and tombstone kept — minor-
    * compaction semantics); version/tombstone resolution stays the read
    * lattice's job ([[mergedRead]]), exactly as before the merge.
    * Returns the file names written.
    */
  def compactRegions(spark: SparkSession, groups: Seq[Seq[String]],
                     outDir: String, blockSize: Int = 64 * 1024,
                     compression: Int = HFileCodec.CompressionNone,
                     encoding: Int = HFileCodec.EncodingNone): Seq[String] = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    clearGroup(new HPath(outDir), "*.hfile", hadoopConf)
    val serConf = new SerializableConfiguration(hadoopConf)
    spark.sparkContext
      .parallelize(groups.zipWithIndex, math.max(1, groups.size))
      .map { case (parents, i) =>
        val cellsIt = parents.iterator.flatMap(p =>
          streamFileCells(p, serConf.value))
        val name = f"region-$i%05d.hfile"
        commitFile(new HPath(outDir), name, serConf.value)(os =>
          HFileCodec.writeTo(cellsIt, os, blockSize, compression, encoding))
        name
      }.collect().toSeq.sorted
  }

  /** Bulk-write with the PER-COLUMN-FAMILY store layout a real HBase
    * region keeps (one store per family per region; HFileOutputFormat2
    * writes exactly this for bulk loads): region files land under
    * `dir/cf=<family>/region-NNNNN.hfile`. ONE pass over the input —
    * each range partition sorts (cf, rowkey, qualifier, ts DESC, type
    * DESC) and the task writes its cf-runs sequentially, closing one
    * store file as the next family begins (within a fixed cf the sort
    * is the standard KeyValue order, so every file keeps the HFile
    * invariant). O(blockSize) task memory, never a per-family buffer.
    *
    * The point of the layout is FAMILY-LEVEL I/O PRUNING: a read that
    * wants one family ([[readFamilies]]) selects whole store
    * directories and the other families' bytes are never opened — the
    * `Scan#addFamily` fast path, pinned structurally by MultiCfSpec.
    */
  def bulkWriteFamilies(cells: DataFrame, dir: String, regions: Int,
                        blockSize: Int = 64 * 1024,
                        compression: Int = HFileCodec.CompressionNone,
                        encoding: Int = HFileCodec.EncodingNone): Seq[String] = {
    val hadoopConf = cells.sparkSession.sparkContext.hadoopConfiguration
    clearGroup(new HPath(dir), "cf=*/*.hfile", hadoopConf)
    val serConf = new SerializableConfiguration(hadoopConf)
    val sorted = cells
      .repartitionByRange(regions, col("rowkey"))
      .sortWithinPartitions(keyValueOrder("cf", "rowkey"): _*)
      .select("rowkey", "cf", "qualifier", "ts", "value", "op")
    sorted.rdd.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      mapRuns(it)(_.getString(1)) { (cf, run) =>
        val name = f"region-$pid%05d.hfile"
        commitFile(new HPath(dir, s"cf=$cf"), name, serConf.value)(os =>
          HFileCodec.writeTo(run.map { r =>
            HFileCodec.HCell(
              r.getString(0).getBytes(UTF_8), r.getString(1).getBytes(UTF_8),
              r.getString(2).getBytes(UTF_8), r.getLong(3),
              typOf(r.getString(5)),
              java.nio.ByteBuffer.allocate(8).putDouble(r.getDouble(4)).array())
          }, os, blockSize, compression, encoding))
        s"cf=$cf/$name"
      }.iterator
    }.collect().toSeq.sorted
  }

  /** Read ONLY the requested families from a [[bulkWriteFamilies]]
    * layout: path selection picks the matching `cf=<family>` store
    * directories, so the other families' files are never opened — the
    * bytes read scale with the families asked for, not the table.
    */
  def readFamilies(spark: SparkSession, dir: String,
                   families: Seq[String]): DataFrame = {
    val dirPath = new HPath(dir)
    val dfs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val paths = families.sorted.flatMap { f =>
      Option(dfs.globStatus(new HPath(dirPath, s"cf=$f/*.hfile")))
        .getOrElse(Array.empty).map(_.getPath.toString).sorted
    }
    streamScan(spark, paths.map(Seq(_)))
  }

  /** Like [[read]], plus the store-file generation each cell came from
    * (parsed from the `gen-NNN-` file-name prefix [[bulkWrite]] writes in
    * generation mode; plain `region-*` files read as generation 0) — the
    * merge-on-read tiebreak, standing in for HBase's per-file max
    * sequence id.
    */
  def readWithGen(spark: SparkSession, dir: String): DataFrame =
    streamScan(spark, regionFiles(spark, dir).map(Seq(_)),
      extraFields = Seq(genField),
      extra = { p => val gen = genOf(p); _ => Seq(gen) })

  private val GenFilePattern = java.util.regex.Pattern.compile("gen-(\\d+)-.*\\.hfile")

  /** The store-file generation of file `p`: `gen-NNN-*.hfile` is NNN,
    * any other name generation 0. */
  private def genOf(p: String): Int = {
    val m = GenFilePattern.matcher(new HPath(p).getName)
    if (m.matches()) m.group(1).toInt else 0
  }

  private val genField = StructField("gen", IntegerType, nullable = false)

  private val cellsWithGenSchema = StructType(cellsSchema.fields :+ genField)

  /** Merge-on-read across store-file generations — the LSM read path an
    * HBase region server runs over its accumulated store files, with the
    * full Get/Scan read semantics:
    * cells older than `ttlFloor` expire; the three HBase tombstone
    * scopes mask — `delete_family` hides every column of its (row, cf)
    * at-or-before its ts, `delete` (= DeleteColumn, see [[typOf]]) hides
    * its coordinate at-or-before its ts, `delete_version` hides the put
    * at EXACTLY its ts (equal ts goes to the delete in every scope, as
    * HBase's KeyValue ordering does); of the surviving puts, the newest
    * `maxVersions` per cell coordinate are visible, ordered by
    * (ts, generation) — generation standing in for HBase's sequence id,
    * which breaks equal-timestamp ties in favor of the later file.
    *
    * Scale shape: NO exchange — the actual region-server shape.
    * Store files arrive range-partitioned and internally sorted by
    * (rowkey, cf, qualifier, ts desc), so the (row, cf, qualifier)
    * resolution window is computable with a per-range K-way heap merge
    * of the overlapping files' sorted streams, K = files covering the
    * range (≈ the generation count). The driver's only work is region
    * assignment — per file, the one open ([[HFileCodec.openStore]]:
    * trailer + load-on-open section, two positioned reads) for its
    * first/last row, never data — exactly the boundary bookkeeping an
    * HBase master keeps in META. Each Spark task owns one row range, walks
    * every overlapping file's index to the range start
    * ([[HFileCodec.Store.dataBlocks]]), and streams the merge:
    * O(blockSize · K) memory, zero shuffle, zero driver data, every data
    * block read once. PlanSpec pins the exchange-free plan; the
    * window-shuffle spelling is kept as [[mergedReadShuffled]] and
    * equivalence-pinned in HFileSpec.
    */
  def mergedRead(spark: SparkSession, dir: String,
                 maxVersions: Int = 1,
                 ttlFloor: Long = Long.MinValue): DataFrame =
    mergedReadFiles(spark, regionFiles(spark, dir), maxVersions, ttlFloor)

  /** Per-region key-range metadata for split decisions — (file, first
    * row, mid row, last row), each from [[keyRange]]'s load-on-open
    * reads only (never data blocks): exactly the bookkeeping an HBase
    * master consults to pick a region's split point. `mid` is the first
    * key of the middle root-index entry — a data-block boundary, so a
    * split there costs zero block straddling (HBase's `midkey()` is the
    * same block-granularity approximation). A single-block region
    * reports mid = first (unsplittable at block granularity — the
    * caller's signal to leave it alone).
    */
  def regionKeyRanges(spark: SparkSession, dir: String)
      : Seq[(String, String, String, String)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    regionFiles(spark, dir).map { p =>
      val (first, mid, last) = keyRange(p, conf)
      (p, new String(first, UTF_8), new String(mid, UTF_8), new String(last, UTF_8))
    }
  }

  /** First, middle and last row of store file `p`, from its load-on-open
    * blocks alone: the first keys of the first and the middle root-index
    * entries, and file-info `hfile.LASTKEY`.
    */
  private def keyRange(p: String, conf: Configuration)
      : (Array[Byte], Array[Byte], Array[Byte]) =
    openRegion(p, conf) { store =>
      val root = store.root
      val lastKey = store.fileInfo.getOrElse("hfile.LASTKEY",
        throw new IllegalStateException(s"$p missing hfile.LASTKEY"))
      (HFileCodec.rowOfKey(root.head._3), HFileCodec.rowOfKey(root(root.size / 2)._3),
        HFileCodec.rowOfKey(lastKey))
    }

  /** Write a snapshot MANIFEST: the HBase snapshot model [public:
    * o.a.h.hbase.snapshot.SnapshotManifest] — a snapshot is a reference
    * list of the immutable store files live at snapshot time, never a
    * byte copy (at 100 TB a snapshot must be O(files) metadata, not
    * O(data) I/O; store files are immutable once written, so references
    * stay valid until compaction archiving, which this model's callers
    * don't run in place). One text line per absolute store-file path.
    */
  def snapshot(spark: SparkSession, files: Seq[String],
               manifestPath: String): Unit = {
    val p = new HPath(manifestPath)
    commitFile(p.getParent, p.getName, spark.sparkContext.hadoopConfiguration)(
      _.write(files.sorted.mkString("", "\n", "\n").getBytes(UTF_8)))
  }

  /** Clone-read of a [[snapshot]]: resolve the manifest's pinned file
    * list through the same merge-on-read lattice as the live table —
    * the `cloneSnapshot` read path, seeing exactly the files referenced
    * at snapshot time.
    */
  def readSnapshot(spark: SparkSession, manifestPath: String,
                   maxVersions: Int = 1,
                   ttlFloor: Long = Long.MinValue): DataFrame =
    mergedReadFiles(spark, manifestFiles(spark, manifestPath),
      maxVersions, ttlFloor)

  /** The pinned file list of a [[snapshot]] manifest — O(files) metadata. */
  def manifestFiles(spark: SparkSession, manifestPath: String): Seq[String] = {
    val p = new HPath(manifestPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val bytes =
      try {
        val len = fs.getFileStatus(p).getLen.toInt
        val b = new Array[Byte](len)
        in.readFully(0, b)
        b
      } finally in.close()
    new String(bytes, UTF_8).split('\n').toSeq
      .map(_.trim).filter(_.nonEmpty)
  }

  /** Incremental backup plan between two snapshot manifests [public:
    * o.a.h.hbase.backup's incremental model / ExportSnapshot: store
    * files are IMMUTABLE once written, so backing up a later snapshot
    * against a site that already holds an earlier one only ships the
    * file-set difference — never re-copies data already there].
    * O(files) metadata on the driver (a manifest is the master's
    * bounded view — ~10⁴–10⁵ files at 100 TB), zero data I/O:
    *   - `ship` — referenced by `to` only (new flushes / compaction
    *     outputs since `from`): the incremental copy set
    *   - `have` — referenced by both: already at the backup site
    *   - `gone` — referenced by `from` only (archived since — e.g.
    *     compacted away): restore-chain GC accounting, nothing to copy
    * HFileSpec pins that `have` ∪ `ship` restores exactly the `to`
    * snapshot's merge-on-read view.
    */
  def incrementalBackupPlan(spark: SparkSession, fromManifest: String,
                            toManifest: String): DataFrame = {
    val from = manifestFiles(spark, fromManifest).toSet
    val to = manifestFiles(spark, toManifest).toSet
    import spark.implicits._
    (from ++ to).toSeq.sorted.map { f =>
      val action =
        if (from(f) && to(f)) "have" else if (to(f)) "ship" else "gone"
      (f, action)
    }.toDF("file", "action")
  }

  /** Restore/clone DIFF between a snapshot manifest and the live table
    * [public: o.a.h.hbase.snapshot.RestoreSnapshotHelper — restoring a
    * snapshot walks the live region/file layout against the manifest
    * and computes, per region, whether to keep it, rewrite its file
    * set, remove it, or re-create it from the archive]: per region
    * (parsed from the store-file name — one namespace for both sides),
    *   - `keep`    — live file set identical to the snapshot's
    *   - `replace` — region exists on both sides but the file sets
    *     differ (post-snapshot flushes/compactions): restore rewires
    *     the region to the snapshot's files
    *   - `delete`  — region exists live only (created after the
    *     snapshot): restore removes it
    *   - `add`     — region referenced by the snapshot only (its files
    *     archived/moved since): restore re-creates it from the archive
    * O(files) metadata on the driver — a manifest and a directory
    * listing are the master's bounded view (~10⁴–10⁵ entries at
    * 100 TB), zero data I/O; the DATA movement is [[restoreApply]]'s
    * job. Output: (region_id, n_snap, n_live, action).
    */
  def restoreDiff(spark: SparkSession, manifestPath: String,
                  dir: String): DataFrame = {
    val snapByRegion = filesByRegion(manifestFiles(spark, manifestPath))
    val liveByRegion = filesByRegion(regionFiles(spark, dir))
    import spark.implicits._
    (snapByRegion.keySet ++ liveByRegion.keySet).toSeq.sorted.map { r =>
      val snap = snapByRegion.getOrElse(r, Set.empty)
      val live = liveByRegion.getOrElse(r, Set.empty)
      val action =
        if (snap.nonEmpty && live.nonEmpty)
          if (snap == live) "keep" else "replace"
        else if (snap.nonEmpty) "add"
        else "delete"
      (r, snap.size, live.size, action)
    }.toDF("region_id", "n_snap", "n_live", "action")
  }

  /** Region id of a store file (`...region-NNNNN.hfile`) — the shared
    * region namespace [[restoreDiff]] compares across.
    */
  private def filesByRegion(paths: Seq[String]): Map[Int, Set[String]] = {
    val rid = raw"region-(\d+)\.hfile$$".r
    paths.groupBy { p =>
      rid.findFirstMatchIn(p).map(_.group(1).toInt).getOrElse(
        throw new IllegalArgumentException(s"not a region store file: $p"))
    }.view.mapValues(_.map(p => new HPath(p).getName).toSet).toMap
  }

  /** Apply a restore: read the snapshot's file set back as the table
    * view, resolving each manifest path through the ARCHIVE fallback —
    * a store file no longer at its primary path must have been moved
    * to `<dir>/archive/<name>` (HBase archives snapshot-referenced
    * files instead of deleting them; a restore resolves through links
    * into the archive the same way). The resolved set IS the restored
    * table: `keep` regions keep their (identical) live files, `replace`
    * and `add` regions read the snapshot's files, live-only regions
    * simply don't appear — so a [[restoreDiff]]-reported plan and this
    * read agree by construction, and HFileSpec pins that the view is
    * bit-for-bit the pre-drift snapshot read. Same K-way merge-on-read
    * lattice as [[readSnapshot]], zero shuffle.
    */
  def restoreApply(spark: SparkSession, manifestPath: String, dir: String,
                   maxVersions: Int = 1): DataFrame = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val dirPath = new HPath(dir)
    val fs = dirPath.getFileSystem(hadoopConf)
    val resolved = manifestFiles(spark, manifestPath).map { f =>
      val p = new HPath(f)
      if (fs.exists(p)) f
      else {
        val arch = new HPath(new HPath(dirPath, "archive"), p.getName)
        require(fs.exists(arch),
          s"restore: store file $f is neither live nor archived at $arch")
        arch.toString
      }
    }
    mergedReadFiles(spark, resolved, maxVersions)
  }

  /** Materialize a snapshot manifest at a backup/restore site: copy the
    * manifest's pinned store files into `dstDir` (resolving files archived
    * since snapshot time, like [[restoreApply]]) and delete any store file
    * at the site the manifest does not reference — after the call the site
    * holds EXACTLY the snapshot's file set. The decision side is O(files)
    * manifest metadata; the byte movement runs as ONE Spark job over the
    * file list, one task per store file [public: o.a.h.hbase.snapshot
    * .ExportSnapshot — snapshot export is a distributed copy job over the
    * manifest's files, so at 100 TB the copy fan-out is the cluster's,
    * never the master's]. Store files are immutable once written, so a
    * re-delivered restore re-copies byte-identical content — idempotent by
    * construction; `a38_incremental_backup` puts that property inside its
    * gate hash by applying the restore twice.
    */
  def restoreMaterialize(spark: SparkSession, manifestPath: String,
                         dstDir: String): Unit = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val srcBase = new HPath(manifestPath).getParent
    val dstPath = new HPath(dstDir)
    val fs = dstPath.getFileSystem(hadoopConf)
    fs.mkdirs(dstPath)
    val wanted: Seq[HPath] = manifestFiles(spark, manifestPath).map { f =>
      val p = new HPath(f)
      if (fs.exists(p)) p
      else {
        val arch = new HPath(new HPath(srcBase, "archive"), p.getName)
        require(fs.exists(arch),
          s"restore: store file $f is neither live nor archived at $arch")
        arch
      }
    }
    // site-side sweep: a file the manifest doesn't pin is not part of the
    // restored table (stale earlier restore, post-restore flush, ...)
    val keep = wanted.map(_.getName).toSet
    Option(fs.globStatus(new HPath(dstPath, "*.hfile"))).getOrElse(Array.empty)
      .filterNot(st => keep(st.getPath.getName))
      .foreach(st => fs.delete(st.getPath, false))
    val serConf = new SerializableConfiguration(hadoopConf)
    val dst = dstDir
    val srcs = wanted.map(_.toString)
    spark.sparkContext
      .parallelize(srcs, math.min(srcs.size,
        spark.sparkContext.defaultParallelism).max(1))
      .foreach { src =>
        val conf = serConf.value
        val sp = new HPath(src)
        val in = sp.getFileSystem(conf).open(sp)
        try commitFile(new HPath(dst), sp.getName, conf)(os =>
          org.apache.hadoop.io.IOUtils.copyBytes(in, os, 1 << 16, false))
        finally in.close()
      }
  }

  /** [[mergedRead]] over an EXPLICIT store-file list instead of a
    * directory glob — the read path a snapshot clone runs: the file set
    * is pinned by a manifest written at snapshot time, so store files
    * added to the live table afterwards are invisible regardless of what
    * else accumulates in the directory. Same per-range K-way heap merge,
    * same delete-scope lattice, zero shuffle.
    */
  def mergedReadFiles(spark: SparkSession, paths: Seq[String],
                      maxVersions: Int = 1,
                      ttlFloor: Long = Long.MinValue): DataFrame = {
    require(maxVersions >= 1, s"maxVersions must be >= 1, got $maxVersions")
    if (paths.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], cellsSchema)
    // ---- driver-side region assignment: (gen, firstRow, lastRow) per
    // file from its load-on-open blocks only ([[keyRange]])
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val metas: Seq[(String, Int, Array[Byte], Array[Byte])] = paths.map { p =>
      val (first, _, last) = keyRange(p, hadoopConf)
      (p, genOf(p), first, last)
    }
    // merge ranges: the distinct file first-rows partition the key space;
    // every cell's row is >= its file's first row, so [bounds(0), ∞)
    // covers everything and each cell belongs to exactly one range
    val bounds = metas.map(_._3)
      .sortWith(java.util.Arrays.compareUnsigned(_, _) < 0)
      .foldLeft(Vector.empty[Array[Byte]]) { (acc, r) =>
        if (acc.nonEmpty && java.util.Arrays.equals(acc.last, r)) acc
        else acc :+ r
      }
    // each range is [start, stop); the last one's empty stop is open-ended
    val ranges: Seq[(Array[Byte], Array[Byte], Seq[(String, Int)])] =
      bounds.indices.map { i =>
        val start = bounds(i)
        val stop = if (i + 1 < bounds.size) bounds(i + 1) else Array.emptyByteArray
        val files = metas.collect {
          case (p, gen, fr, lr)
            if java.util.Arrays.compareUnsigned(lr, start) >= 0 && rowBelow(fr, stop) =>
            (p, gen)
        }
        (start, stop, files)
      }.filter(_._3.nonEmpty)
    val serConf = new SerializableConfiguration(hadoopConf)
    val rows = spark.sparkContext
      .parallelize(ranges, math.max(1, ranges.size))
      .flatMap { case (start, stop, files) =>
        mergeRangeRows(serConf, start, stop, files, maxVersions, ttlFloor)
      }
    spark.createDataFrame(rows, cellsSchema)
  }

  /** One store file's cells in `[start, stop)` (an empty `stop` is
    * open-ended), ascending — a merge range's per-file stream. Lazy over
    * the one index walk ([[HFileCodec.Store.dataBlocks]]): each selected
    * block is read once, when the merge reaches it. Pure over the opened
    * store so the spec can count reads.
    */
  private[graft] def mergeFileCells(store: HFileCodec.Store,
                                    start: Array[Byte],
                                    stop: Array[Byte]): Iterator[HFileCodec.HCell] = {
    val extras = store.extras
    store.dataBlocks(HFileCodec.entriesInRange(_, start, stop))
      .flatMap(HFileCodec.blockCells(_, extras))
      // streams are row-ascending, so the range restriction is a
      // prefix drop + a truncation, never a full filter
      .dropWhile(c => java.util.Arrays.compareUnsigned(c.row, start) < 0)
      .takeWhile(c => rowBelow(c.row, stop))
  }

  /** One merge range: K-way heap merge of the overlapping files' sorted
    * cell streams restricted to `[start, stop)`, resolved per coordinate
    * group as it streams — the region-server scan. Memory is
    * O(blockSize · K + versions-per-coordinate), independent of range
    * size.
    */
  private def mergeRangeRows(serConf: SerializableConfiguration,
                             start: Array[Byte], stop: Array[Byte],
                             files: Seq[(String, Int)], maxVersions: Int,
                             ttlFloor: Long): Iterator[Row] = {
    val streams: Seq[(Iterator[HFileCodec.HCell], Int)] = files.map {
      case (p, gen) =>
        val (_, store) = openForTask(p, serConf.value)
        (mergeFileCells(store, start, stop), gen)
    }
    def coordCompare(a: HFileCodec.HCell, b: HFileCodec.HCell): Int = {
      var c = java.util.Arrays.compareUnsigned(a.row, b.row)
      if (c == 0) c = java.util.Arrays.compareUnsigned(a.family, b.family)
      if (c == 0) c = java.util.Arrays.compareUnsigned(a.qualifier, b.qualifier)
      c
    }
    val pq = new java.util.PriorityQueue[(HFileCodec.HCell, Int, Iterator[HFileCodec.HCell])](
      math.max(1, streams.size),
      (x: (HFileCodec.HCell, Int, Iterator[HFileCodec.HCell]),
       y: (HFileCodec.HCell, Int, Iterator[HFileCodec.HCell])) =>
        coordCompare(x._1, y._1))
    streams.foreach { case (it, gen) =>
      if (it.hasNext) pq.add((it.next(), gen, it))
    }
    new Iterator[Row] {
      private val out = scala.collection.mutable.Queue.empty[Row]
      // family-tombstone state across coordinate groups: groups stream in
      // (row, family, qualifier) order and a DeleteFamily marker's empty
      // qualifier sorts FIRST within its family, so the marker's max
      // surviving ts is known before any of the family's columns arrive —
      // O(1) state, the same trick a region-server scanner uses. Ranges
      // split at row boundaries, so a (row, family) never spans tasks.
      private var famRow: Array[Byte] = null
      private var famFam: Array[Byte] = null
      private var famDelTs = Long.MinValue
      private def refill(): Unit =
        while (out.isEmpty && !pq.isEmpty) {
          // drain one coordinate group across all streams (a stream's own
          // same-coordinate successors re-enter the heap and match too)
          val group = scala.collection.mutable.ArrayBuffer.empty[(HFileCodec.HCell, Int)]
          val first = pq.poll()
          group += ((first._1, first._2))
          if (first._3.hasNext) pq.add((first._3.next(), first._2, first._3))
          while (!pq.isEmpty && coordCompare(pq.peek()._1, first._1) == 0) {
            val e = pq.poll()
            group += ((e._1, e._2))
            if (e._3.hasNext) pq.add((e._3.next(), e._2, e._3))
          }
          // resolution identical to resolveVersions: TTL first, then the
          // three HBase delete scopes — DeleteFamily masks the whole
          // (row, cf) at-or-before its ts, DeleteColumn masks its
          // coordinate at-or-before, Delete masks the put at EXACTLY its
          // ts — then the newest maxVersions surviving puts by
          // (ts desc, gen desc, value asc) win
          val c0 = first._1
          if (famRow == null || !java.util.Arrays.equals(famRow, c0.row) ||
              !java.util.Arrays.equals(famFam, c0.family)) {
            famRow = c0.row; famFam = c0.family; famDelTs = Long.MinValue
          }
          val kept = group.filter(_._1.ts >= ttlFloor)
          var colDelTs = Long.MinValue
          var verDel: scala.collection.mutable.HashSet[Long] = null
          kept.foreach { case (c, _) =>
            c.typ match {
              case HFileCodec.TypeDeleteFamily =>
                if (c.ts > famDelTs) famDelTs = c.ts
              case HFileCodec.TypeDeleteColumn =>
                if (c.ts > colDelTs) colDelTs = c.ts
              case HFileCodec.TypeDelete =>
                if (verDel == null) verDel = scala.collection.mutable.HashSet.empty
                verDel += c.ts
              case _ => ()
            }
          }
          kept.filter { case (c, _) =>
            c.typ == HFileCodec.TypePut && c.ts > famDelTs && c.ts > colDelTs &&
              (verDel == null || !verDel.contains(c.ts))
          }
            .sortWith { (a, b) =>
              if (a._1.ts != b._1.ts) a._1.ts > b._1.ts
              else if (a._2 != b._2) a._2 > b._2
              else java.nio.ByteBuffer.wrap(a._1.value).getDouble <
                java.nio.ByteBuffer.wrap(b._1.value).getDouble
            }
            .take(maxVersions)
            .foreach { case (c, _) => out += cellRow(c) }
        }
      def hasNext: Boolean = { refill(); out.nonEmpty }
      def next(): Row = { refill(); out.dequeue() }
    }
  }

  /** The window-shuffle spelling of [[mergedRead]] — one
    * coordinate-keyed exchange over the union of generations. Kept as
    * the REFERENCE implementation the exchange-free merge is
    * equivalence-pinned against in HFileSpec.
    */
  private[graft] def mergedReadShuffled(spark: SparkSession, dir: String,
                                        maxVersions: Int = 1,
                                        ttlFloor: Long = Long.MinValue): DataFrame =
    resolveVersions(readWithGen(spark, dir), maxVersions, ttlFloor)

  /** The (ts, gen) version-resolution applied by [[mergedRead]] and
    * [[mergedGet]] — b17's compaction semantics over a with-gen cells
    * frame.
    */
  private def resolveVersions(cells: DataFrame, maxVersions: Int,
                              ttlFloor: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxVersions >= 1, s"maxVersions must be >= 1, got $maxVersions")
    val fam = Window.partitionBy("rowkey", "cf")
    val coord = Window.partitionBy("rowkey", "cf", "qualifier")
    val coordTs = Window.partitionBy("rowkey", "cf", "qualifier", "ts")
    val w = coord.orderBy(col("ts").desc, col("gen").desc, col("value").asc)
    cells.where(col("ts") >= ttlFloor)
      // the three HBase delete scopes (see typOf): family at-or-before,
      // column at-or-before, version at exactly its ts
      .withColumn("fam_del_ts",
        max(when(col("op") === "delete_family", col("ts"))).over(fam))
      .withColumn("del_ts", max(when(col("op") === "delete", col("ts"))).over(coord))
      .withColumn("ver_del_n",
        count(when(col("op") === "delete_version", lit(1))).over(coordTs))
      .where(col("op") === "put" &&
        (col("fam_del_ts").isNull || col("ts") > col("fam_del_ts")) &&
        (col("del_ts").isNull || col("ts") > col("del_ts")) &&
        col("ver_del_n") === 0)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= maxVersions)
      .select("rowkey", "cf", "qualifier", "ts", "value", "op")
  }

  /** Major compaction: persist [[mergedRead]] as generation
    * `maxGen + 1`, then delete every older generation's files — the
    * rewrite an HBase major compaction performs (tombstones and masked
    * versions drop out because the merged view already excludes them).
    * Write-then-delete ordering keeps a crash mid-compaction readable:
    * the new generation's cells are exactly the old generations' merged
    * view, so [[mergedRead]] over the union returns the same rows (every
    * surviving coordinate's newest version lives in the new generation,
    * by construction). Returns the new generation number.
    */
  def compact(spark: SparkSession, dir: String,
              blockSize: Int = 64 * 1024,
              compression: Int = HFileCodec.CompressionNone,
              encoding: Int = HFileCodec.EncodingNone): Int = {
    val paths = regionFiles(spark, dir)
    val gens = paths.map(genOf)
    val newGen = if (gens.isEmpty) 0 else gens.max + 1
    val merged = mergedRead(spark, dir)
    val regions = math.max(1, paths.size)
    bulkWrite(merged, dir, regions, blockSize, compression, encoding, newGen)
    val dirPath = new HPath(dir)
    val dfs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    paths.foreach(p => dfs.delete(new HPath(p), false))
    newGen
  }
}
