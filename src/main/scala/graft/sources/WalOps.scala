package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.CRC32C

import graft.Tables
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** Write-ahead-log analog of the HBase RegionServer WAL (the recovery
  * half the store-file generations of [[HFileOps]] were missing): every
  * mutation is appended to a crash-durable log BEFORE it is visible; a
  * memstore flush persists the cells at-or-below a sequence point as an
  * HFile generation and records that point in a flush marker; recovery
  * after a crash rebuilds the memstore by REPLAYING the log strictly
  * above the last flushed sequence point over the flushed generations —
  * so the recovered view equals the never-crashed view, which is
  * exactly what `a15_wal_replay`'s oracle (the WAL-free spelling)
  * gates.
  *
  * Log format (from scratch, the [[HFileCodec]] discipline): per
  * segment a 8-byte header `GWALv1\0\0`, then length-prefixed records
  * `[len:int][crc32c(payload):int][payload]` with payload =
  * `seq:long, ts:long, value:double|NaN-boxed-null, op:byte,
  * rowkey/cf/qualifier as len-prefixed UTF-8`. A torn tail (the crash
  * case: truncated or bit-flipped final record) is DETECTED by the
  * length/CRC check and replay STOPS at the last intact record — the
  * WAL contract (an edit is durable iff its record verifies); WalSpec
  * plants both failure modes.
  *
  * Scale shape: segments are range-partitioned by rowkey (one segment
  * per region, the HBase-after-log-split layout), appends stream
  * O(record) with no buffering of the log in memory, and recovery is
  * one narrow scan of each segment — replayed cells are only the
  * since-last-flush suffix, which bounded memstores keep small by
  * construction. Nothing collects to the driver.
  */
object WalOps {

  private val Magic: Array[Byte] = "GWALv1\u0000\u0000".getBytes(UTF_8)

  /** Open a segment through the RAW filesystem as a buffered stream. On
    * a ChecksumFileSystem (Hadoop's local default, which `writeWal`'s
    * `fs.create` gives a `.crc` sidecar) a torn tail fails the SIDECAR
    * check and the read throws ChecksumException before the record
    * framing — the layer that owns durability — can decide the durable
    * prefix. Durability is record-CRC semantics, not transport
    * semantics, so WAL reads bypass the transport checksum (VERDICT
    * r13 #1: replicate's torn-tail spec failed exactly here, and
    * readWal/recover shared the latent defect).
    */
  private def openRaw(path: HPath,
                      conf: org.apache.hadoop.conf.Configuration): java.io.InputStream = {
    val fs = path.getFileSystem(conf) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    new java.io.BufferedInputStream(fs.open(path), 1 << 16)
  }

  /** Read up to `buf.length` bytes, looping until the buffer is full or
    * EOF; returns the count actually read (an EOF mid-buffer is the torn
    * case the caller decides on, never an exception).
    */
  private def readAtMost(in: java.io.InputStream, buf: Array[Byte]): Int = {
    var off = 0
    var n = 0
    while (off < buf.length && n >= 0) {
      n = in.read(buf, off, buf.length - off)
      if (n > 0) off += n
    }
    off
  }

  /** No legitimate record approaches this (a record is one cell's
    * fixed fields + three short strings); a torn length field must
    * never turn into a giant allocation before the CRC can reject it.
    */
  private val MaxRecordBytes: Int = 1 << 24

  /** Append `cells` (+ a `seq` LONG column) as WAL segments under `dir`
    * — one segment per range partition of the rowkey space, records in
    * seq order within each segment. Returns segment count.
    *
    * `prefix` names this write's segment group (`<prefix>-NNNNN.gwal`)
    * and only its OWN group is replaced — a streaming ingest gives each
    * micro-batch its own prefix, so a replayed batch overwrites exactly
    * its segments (exactly-once, the I17 generation discipline) and a
    * later batch appends beside earlier ones.
    */
  def writeWal(cells: DataFrame, dir: String, segments: Int,
               prefix: String = "wal"): Int = {
    val hadoopConf = cells.sparkSession.sparkContext.hadoopConfiguration
    // Segment names are `<prefix>-NNNNN.gwal` (exactly five digits), so
    // the replace-own-group delete globs on that exact shape: a group
    // whose prefix extends this one (e.g. "wal-b0001" vs "wal") can
    // never be swept up by its shorter sibling's rewrite.
    HFileOps.clearGroup(new HPath(dir),
      s"$prefix-[0-9][0-9][0-9][0-9][0-9].gwal", hadoopConf)
    val serConf = new SerializableConfiguration(hadoopConf)
    val sorted = cells
      .repartitionByRange(segments, col("rowkey"))
      .sortWithinPartitions(col("seq").asc, col("rowkey").asc,
        col("qualifier").asc)
      .select("seq", "rowkey", "cf", "qualifier", "ts", "value", "op")
    sorted.rdd.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      if (it.isEmpty) Iterator.empty
      else {
        HFileOps.commitFile(new HPath(dir), f"$prefix%s-$pid%05d.gwal",
            serConf.value)(writeSegment(_, it, 0))
        Iterator.single(1)
      }
    }.sum().toInt
  }

  private def writeInt(os: java.io.OutputStream, v: Int): Unit = {
    os.write(v >>> 24); os.write(v >>> 16); os.write(v >>> 8); os.write(v)
  }

  /** One segment: the magic, then one record per row of `rows`, whose
    * (seq, rowkey, cf, qualifier, ts, value, op) columns start at `from`
    * — shared by [[writeWal]], [[replicate]]'s re-encode and
    * [[splitWal]].
    */
  private def writeSegment(os: java.io.OutputStream, rows: Iterator[Row],
                           from: Int): Unit = {
    os.write(Magic)
    rows.foreach { r =>
      writeRecord(os, encodeRecord(r.getLong(from), r.getString(from + 1),
        r.getString(from + 2), r.getString(from + 3), r.getLong(from + 4),
        if (r.isNullAt(from + 5)) None else Some(r.getDouble(from + 5)),
        r.getString(from + 6)))
    }
  }

  /** One length-prefixed, CRC-framed record — the segment wire unit. */
  private def writeRecord(os: java.io.OutputStream, rec: Array[Byte]): Unit = {
    val crc = new CRC32C
    crc.update(rec)
    writeInt(os, rec.length)
    writeInt(os, crc.getValue.toInt)
    os.write(rec)
  }

  private[graft] def encodeRecord(seq: Long, rowkey: String, cf: String,
                                  qualifier: String, ts: Long,
                                  value: Option[Double], op: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(64)
    val d = new java.io.DataOutputStream(bos)
    d.writeLong(seq); d.writeLong(ts)
    d.writeBoolean(value.isDefined)
    d.writeDouble(value.getOrElse(0.0))
    val opB = op.getBytes(UTF_8)
    d.writeByte(opB.length); d.write(opB)
    Seq(rowkey, cf, qualifier).foreach { s0 =>
      val b = s0.getBytes(UTF_8)
      d.writeInt(b.length); d.write(b)
    }
    bos.toByteArray
  }

  /** STREAMING record decode — O(record) memory at any segment size
    * (the whole-segment materialization OOM'd the 1000× smoke: 32
    * concurrent ship tasks × a multi-hundred-MB byte array + its decoded
    * row Seq), stopping CLEANLY at the first torn/corrupt record: a
    * short header, short frame, short payload, implausible length, or a
    * CRC mismatch all end the iterator at the last verified record.
    *
    * Magic discipline (ADVICE r13): a header SHORTER than the magic is
    * the torn-at-byte-0 crash case — nothing durable, replay the empty
    * prefix. A full-length header that ISN'T the magic is a different
    * file (or an incompatible on-disk format rev) — reading it as zero
    * rows would silently drop data, so fail loudly.
    */
  private[graft] def decodeStream(in: java.io.InputStream): Iterator[Row] = {
    val hdr = new Array[Byte](Magic.length)
    val got = readAtMost(in, hdr)
    if (got < Magic.length) {
      if (!java.util.Arrays.equals(java.util.Arrays.copyOf(hdr, got),
          java.util.Arrays.copyOfRange(Magic, 0, got)))
        throw new IllegalArgumentException(
          s"not a GWAL segment: $got-byte header is no prefix of the magic")
      return Iterator.empty
    }
    if (!java.util.Arrays.equals(hdr, Magic))
      throw new IllegalArgumentException(
        "unknown WAL magic: not a GWALv1 segment (incompatible format rev? " +
          "refusing to read it as zero rows)")
    new Iterator[Row] {
      private var nextRow: Row = _
      private var done = false
      private def be32(b: Array[Byte], p: Int): Int =
        ((b(p) & 0xff) << 24) | ((b(p + 1) & 0xff) << 16) |
          ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
      private def advance(): Unit = {
        nextRow = null
        val frame = new Array[Byte](8)
        if (readAtMost(in, frame) < 8) { done = true; return }
        val len = be32(frame, 0)
        val want = be32(frame, 4)
        if (len <= 0 || len > MaxRecordBytes) { done = true; return }
        val payload = new Array[Byte](len)
        if (readAtMost(in, payload) < len) { done = true; return }
        val crc = new CRC32C
        crc.update(payload)
        if (crc.getValue.toInt != want) { done = true; return }
        val d = new java.io.DataInputStream(new java.io.ByteArrayInputStream(payload))
        val seq = d.readLong(); val ts = d.readLong()
        val hasV = d.readBoolean(); val v = d.readDouble()
        val opB = new Array[Byte](d.readUnsignedByte()); d.readFully(opB)
        def str(): String = {
          val b = new Array[Byte](d.readInt()); d.readFully(b)
          new String(b, UTF_8)
        }
        val rk = str(); val cf = str(); val q = str()
        nextRow = Row(seq, rk, cf, q, ts,
          if (hasV) v else null, new String(opB, UTF_8))
      }
      override def hasNext: Boolean = {
        if (!done && nextRow == null) advance()
        !done && nextRow != null
      }
      override def next(): Row = {
        if (!hasNext) throw new NoSuchElementException("torn or exhausted segment")
        val r = nextRow; nextRow = null; r
      }
    }
  }

  /** Whole-array decode — [[decodeStream]] over the bytes; kept as the
    * planted-corruption test surface and for bounded in-memory callers.
    */
  private[graft] def decodeSegment(bytes: Array[Byte]): Seq[Row] =
    decodeStream(new java.io.ByteArrayInputStream(bytes)).toVector

  private val walSchema = org.apache.spark.sql.types.StructType(
    org.apache.spark.sql.types.StructField("seq",
      org.apache.spark.sql.types.LongType, nullable = false) +:
    HFileOps.cellsSchema.fields)

  /** Read every WAL segment under `dir` back as (seq, cells...) rows —
    * one task per segment, each STREAMING its file record by record
    * (O(record) task memory at any segment size) and stopping at its
    * first torn record. The stream closes on task completion.
    */
  def readWal(spark: SparkSession, dir: String): DataFrame = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val dirPath = new HPath(dir)
    val dfs = dirPath.getFileSystem(hadoopConf)
    val paths = Option(dfs.globStatus(new HPath(dirPath, "*.gwal")))
      .getOrElse(Array.empty).map(_.getPath.toString).sorted.toSeq
    val serConf = new SerializableConfiguration(hadoopConf)
    val rows = spark.sparkContext
      .parallelize(paths, math.max(1, paths.size))
      .flatMap { p =>
        val in = openRaw(new HPath(p), serConf.value)
        Option(TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
        decodeStream(in)
      }
    spark.createDataFrame(rows, walSchema)
  }

  /** WAL-SHIPPING REPLICATION — the second consumer of a RegionServer
    * WAL [public: o.a.h.hbase.replication.ReplicationEndpoint]: a
    * replication source tails the primary's log and ships its ENTRIES
    * to a replica cluster, which applies them idempotently keyed on
    * sequence identity; the replica converges to the primary wherever
    * shipping has reached a segment boundary. Batch twin: ONE task per
    * shipped segment — the task decodes the primary segment's VERIFIED
    * records (a torn tail ships nothing past the last intact record: an
    * edit replicates iff it is durable, the same contract replay has),
    * re-encodes them through the identical wire framing, and commits
    * the replica segment under the SAME NAME via tmp-write + atomic
    * rename. Apply is therefore keyed on (segment, seq) by
    * construction: re-shipping a segment rewrites byte-identical
    * content over itself — re-delivery is a no-op, never a duplicate
    * (WalSpec pins bytes-equal after a double ship).
    *
    * `glob` selects which segments ship (default: every segment) — a
    * partial ship stopped at a segment boundary leaves the replica
    * equal to exactly the shipped segments' rows. Returns the number
    * of segments shipped.
    *
    * Within the glob the replica MIRRORS the primary: replica segments
    * matching `glob` that no longer exist on the primary are deleted
    * after the ship. Without this, a replayed streaming batch whose
    * repartition yields fewer non-empty partitions (writeWal deletes
    * the batch's own group on the primary first) would leave orphan
    * segments on the replica and the replica would diverge (ADVICE
    * r13). Segments OUTSIDE the glob are never touched, so a partial
    * ship still composes.
    *
    * Scale shape: shipping is embarrassingly parallel over segments,
    * streams O(record) per task, and moves only verified bytes; the
    * driver sees names, never data.
    */
  def replicate(spark: SparkSession, primaryDir: String, replicaDir: String,
                glob: String = "*.gwal"): Int = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val priPath = new HPath(primaryDir)
    val pfs = priPath.getFileSystem(hadoopConf)
    val names = Option(pfs.globStatus(new HPath(priPath, glob)))
      .getOrElse(Array.empty).map(_.getPath.getName).sorted.toSeq
    val repPath = new HPath(replicaDir)
    val rfs0 = repPath.getFileSystem(hadoopConf)
    rfs0.mkdirs(repPath)
    // mirror within the glob: drop replica segments the primary no
    // longer has (names-only driver work, same class as the ship list)
    Option(rfs0.globStatus(new HPath(repPath, glob))).getOrElse(Array.empty)
      .filterNot(st => names.contains(st.getPath.getName))
      .foreach(st => rfs0.delete(st.getPath, false))
    if (names.isEmpty) return 0
    val serConf = new SerializableConfiguration(hadoopConf)
    spark.sparkContext
      .parallelize(names, names.size)
      .map { name =>
        // stream decode→re-encode: verified prefix only (a torn tail
        // stops the iterator), O(record) memory at any segment size
        val in = openRaw(new HPath(primaryDir, name), serConf.value)
        try HFileOps.commitFile(new HPath(replicaDir), name, serConf.value)(
          writeSegment(_, decodeStream(in), 0))
        finally in.close()
        1
      }.sum().toInt
  }

  /** WAL-SPLIT crash recovery — the split half of a region-server death
    * [public: o.a.h.hbase.master.SplitWALManager +
    * o.a.h.hbase.wal.WALSplitter: when a server dies, the master splits
    * the dead server's WAL into per-region recovered-edits and hands
    * each region's edits to the server that now hosts it, preserving
    * sequence order]: ONE distributed pass over the dead log — records
    * are tagged with their region (`regionIdOf`, an expression over the
    * WAL columns), routed to the region's new host through the
    * BROADCAST O(regions) `assign` table `(region_id, to_server)`,
    * range-partitioned by (host, rowkey) and sorted by (host, seq,
    * rowkey) within partitions, and each task streams its runs into
    * per-host recovered segments under `recoveredDir/<host>/` through
    * the same CRC-framed wire format. Order contract: a file is a
    * seq-ascending run, and any single row's edits live in exactly one
    * file (rowkey ranges never split a row) — so per-cell replay order
    * is preserved by construction, which is the invariant recovery
    * needs (edits to different rows commute; edits to the same cell
    * must not). A torn tail on the dead log ships only the durable
    * prefix (the [[decodeStream]] contract, same as [[replicate]]).
    *
    * Fail-fast (the a32 coverage discipline): a WAL record whose
    * region has no destination raises at execution — a silently
    * dropped edit is data loss, not a no-op — and the guard rides the
    * routing projection (a LEFT join, so AQE empty-relation propagation
    * can never cancel the raising branch). Re-running a failed split
    * replaces exactly its own `rec-*.gwal` group, the [[writeWal]]
    * idempotence discipline. Returns segments written; O(record) task
    * memory at any segment size.
    */
  def splitWal(spark: SparkSession, walDir: String,
               regionIdOf: org.apache.spark.sql.Column, assign: DataFrame,
               recoveredDir: String, segments: Int): Int = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    HFileOps.clearGroup(new HPath(recoveredDir),
      "*/rec-[0-9][0-9][0-9][0-9][0-9].gwal", hadoopConf)
    val routed = readWal(spark, walDir)
      .withColumn("region_id", regionIdOf)
      .join(broadcast(assign.select(col("region_id"), col("to_server"))),
        Seq("region_id"), "left")
      .withColumn("to_server",
        when(col("to_server").isNull, raise_error(concat(
          lit("splitWal: region "), col("region_id").cast("string"),
          lit(" has no recovery destination — its edits would be dropped"))))
          .otherwise(col("to_server")))
    val serConf = new SerializableConfiguration(hadoopConf)
    val sorted = routed
      .repartitionByRange(segments, col("to_server"), col("rowkey"))
      .sortWithinPartitions(col("to_server").asc, col("seq").asc,
        col("rowkey").asc, col("qualifier").asc)
      .select("to_server", "seq", "rowkey", "cf", "qualifier", "ts",
        "value", "op")
    sorted.rdd.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      // partitions are sorted by host first, so each host is ONE
      // contiguous run per partition: one recovered segment per run
      Iterator.single(HFileOps.mapRuns(it)(_.getString(0)) { (srv, run) =>
        HFileOps.commitFile(new HPath(recoveredDir, srv), f"rec-$pid%05d.gwal",
          serConf.value)(writeSegment(_, run, 1))
      }.size)
    }.sum().toInt
  }

  /** a35 — WAL-split crash recovery gated end to end: the a32 drain
    * machinery decides where the dead server's regions go (g1-1 of the
    * parity-grouped placement crashes; its regions re-deal serpentine
    * across g1-0/g1-2 least-loaded-first), the dead server's OWN log
    * (its regions' cells only — a region server logs what it hosts,
    * seq = cell ts, the a15 discipline) is written, split, and routed,
    * and the gate digests each SURVIVOR's recovered log — so the
    * assignment (every region at exactly its planned host), the
    * routing (no record lost, duplicated, or misrouted), and the wire
    * codec roundtrip (dead write → decode → re-encode → survivor read)
    * must all agree with the WAL-free relational spelling in one hash.
    * The survivor list is an O(servers) driver collect (bounded: the
    * drained group's fleet). Per-cell replay order and the flushed-
    * generation composition (recovered view ≡ pre-crash view through
    * a15's flush + replay path) are WalSpec's pins.
    */
  val a35_wal_split_recovery: graft.ops.Q = (s, d) => {
    import graft.ops.GraftCkpt
    val walDir = Tables.appTmpDir(s, "graft_wal_dead", d)
    val recDir = Tables.appTmpDir(s, "graft_wal_rec", d)
    val regionExpr = graft.ops.BalancerOps.regionOf(
      substring(col("rowkey"), 1, 12).cast("long"))
    val placement = graft.ops.BalancerOps.rsgroupPlacementPlan(
      graft.ops.BalancerOps.regionStats(s, d).drop("start_key"),
      groupOf = when(col("region_id") % 2 === 0, "g0").otherwise("g1"),
      serversPerGroup = Map("g0" -> 2, "g1" -> 3))
    // consumed twice (routing broadcast + survivor listing): ckpt so the
    // placement's one data reduction never re-runs
    val assign = graft.ops.BalancerOps.serverDrainPlan(placement, "g1-1")
      .select("region_id", "to_server").graftCkpt(eager = false)
    val dead = Tables.cells(s, d)
      .withColumn("region_id", regionExpr)
      .join(broadcast(assign.select("region_id")), Seq("region_id"))
      .drop("region_id")
    val segs = HFileOps.regionCountForBytes(
      Tables.bytesOnDisk(s, d, "events") / 2)
    writeWal(dead.withColumn("seq", col("ts")), walDir,
      segments = segs, prefix = "dead")
    splitWal(s, walDir, regionExpr, assign, recDir, segments = segs)
    val survivors = assign.select("to_server").distinct()
      .orderBy("to_server").collect().map(_.getString(0)).toSeq
    survivors.map(srv =>
        readWal(s, s"$recDir/$srv").withColumn("srv", lit(srv)))
      .reduce(_ unionByName _)
      .groupBy("srv", "qualifier")
      .agg(count(lit(1)).as("n"),
        graft.ops.dsum(col("value")).as("vsum"),
        sum((col("seq") % 999979L).cast(
          org.apache.spark.sql.types.DecimalType(18, 0))).cast("long").as("ssum"),
        count_if(col("op") === "delete").as("dels"))
      .orderBy(asc_nulls_last("srv"), asc_nulls_last("qualifier"))
  }

  /** Highest recorded flush point under `storeDir` (Long.MinValue when
    * nothing was ever flushed) — the replay lower bound.
    */
  private def maxFlushedSeq(spark: SparkSession, storeDir: String): Long = {
    val storePath = new HPath(storeDir)
    val fs = storePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(new HPath(storePath, "flushed-*.seq")))
      .getOrElse(Array.empty)
      .map { st =>
        val in = fs.open(st.getPath)
        try {
          val b = new Array[Byte](st.getLen.toInt)
          in.readFully(0, b)
          new String(b, UTF_8).trim.toLong
        } finally in.close()
      }
      .foldLeft(Long.MinValue)(math.max)
  }

  /** Memstore flush: persist the MEMSTORE DELTA — the WAL cells in
    * `(last flush point, upToSeq]` — as HFile generation `gen` under
    * `storeDir` and record the new flush point in a marker file;
    * afterwards those log entries are dead weight (HBase would archive
    * the rolled segments). Each flush writes only what arrived since
    * the previous one, so repeated flushes never double-persist
    * (WalSpec pins the two-flush case). The marker commits through
    * [[HFileOps.commitFile]]: a torn marker would make [[recover]] fail
    * to parse the store's flush point.
    */
  def flush(spark: SparkSession, walDir: String, storeDir: String,
            upToSeq: Long, gen: Int, regions: Int): Unit = {
    val prev = maxFlushedSeq(spark, storeDir)
    val cells = readWal(spark, walDir)
      .where(col("seq") > prev && col("seq") <= upToSeq)
      .select("rowkey", "cf", "qualifier", "ts", "value", "op")
    HFileOps.bulkWrite(cells, storeDir, regions,
      compression = HFileCodec.CompressionGz,
      encoding = HFileCodec.EncodingFastDiff, generation = gen)
    HFileOps.commitFile(new HPath(storeDir), f"flushed-$gen%03d.seq",
      spark.sparkContext.hadoopConfiguration)(
      _.write(upToSeq.toString.getBytes(UTF_8)))
  }

  /** The recovered region view: flushed HFile generations ∪ the WAL
    * replay strictly above the highest flush marker (the rebuilt
    * memstore). With an intact log this equals the never-crashed cells
    * view — `a15_wal_replay`'s gate; with a torn tail it equals the
    * durable prefix — WalSpec's pins.
    */
  def recover(spark: SparkSession, walDir: String, storeDir: String): DataFrame = {
    val flushedSeq = maxFlushedSeq(spark, storeDir)
    val flushed = HFileOps.read(spark, storeDir)
    val replayed = readWal(spark, walDir)
      .where(col("seq") > flushedSeq)
      .select("rowkey", "cf", "qualifier", "ts", "value", "op")
    flushed.unionByName(replayed)
  }

  /** a15 — WAL write → mid-stream flush → crash → recover, gated on the
    * a9 roundtrip aggregate: the cells view goes through the full
    * durability cycle (log append with per-record CRC, memstore flush
    * of the first half as a real HFile generation at the median ts
    * sequence point, recovery = flushed generation ∪ replayed log
    * suffix) and must come back byte-equivalent — the oracle is the
    * WAL-free spelling, so every layer (log codec, flush marker,
    * replay bound) is proven semantically transparent. seq = cell ts
    * (the version dimension is the natural edit order of the fixture);
    * the flush point is the exact ts median, computed once.
    */
  val a15_wal_replay: graft.ops.Q = (s, d) => {
    val walDir = Tables.appTmpDir(s, "graft_wal", d)
    val storeDir = Tables.appTmpDir(s, "graft_wal_store", d)
    // idempotence: a re-invocation in the same app must start a FRESH
    // durability cycle — a surviving flush marker would turn the second
    // flush into an empty delta (it reads as "already flushed") and
    // recovery would return only the replay half
    val storePath = new HPath(storeDir)
    val sfs = storePath.getFileSystem(s.sparkContext.hadoopConfiguration)
    Seq("flushed-*.seq", "*.hfile").foreach { g =>
      Option(sfs.globStatus(new HPath(storePath, g))).getOrElse(Array.empty)
        .foreach(st => sfs.delete(st.getPath, false))
    }
    val cells = Tables.cells(s, d)
    writeWal(cells.withColumn("seq", col("ts")), walDir,
      segments = HFileOps.regionCountForBytes(Tables.bytesOnDisk(s, d, "events")))
    val flushAt = cells.stat.approxQuantile("ts", Array(0.5), 0.0)(0).toLong
    flush(s, walDir, storeDir, flushAt, gen = 0,
      regions = HFileOps.regionCountForBytes(Tables.bytesOnDisk(s, d, "events") / 2))
    recover(s, walDir, storeDir)
      .groupBy("cf", "qualifier")
      .agg(count(lit(1)).as("n"),
        graft.ops.dsum(col("value")).as("vsum"),
        sum((col("ts") % 1000003).cast(
          org.apache.spark.sql.types.DecimalType(18, 0))).cast("long").as("tsum"),
        count_if(col("op") === "delete").as("dels"))
      .orderBy(asc_nulls_last("cf"), asc_nulls_last("qualifier"))
  }

  /** a21 — WAL-shipping replication gated end to end: the cells view is
    * logged on the primary (seq = cell ts, the a15 discipline), EVERY
    * segment ships to a replica, and the ship runs TWICE — so the gate
    * digest proves both the replication transport (decode → re-encode →
    * commit) and its idempotence (the second delivery must not change a
    * byte of the answer). The digest reads the REPLICA's log only and
    * must equal the WAL-free cells view, including a seq checksum — any
    * dropped, duplicated, or reordered entry anywhere in the shipping
    * cycle moves it. WalSpec pins the boundary cases the relational
    * oracle cannot see: partial ship (replica ≡ exactly the shipped
    * segments), byte-identical re-delivery, and a torn primary tail
    * shipping only the durable prefix.
    */
  val a21_wal_replicate: graft.ops.Q = (s, d) => {
    val primary = Tables.appTmpDir(s, "graft_wal_pri", d)
    val replica = Tables.appTmpDir(s, "graft_wal_rep", d)
    val cells = Tables.cells(s, d)
    writeWal(cells.withColumn("seq", col("ts")), primary,
      segments = HFileOps.regionCountForBytes(Tables.bytesOnDisk(s, d, "events")))
    replicate(s, primary, replica)
    replicate(s, primary, replica) // re-delivery: idempotent no-op
    readWal(s, replica)
      .groupBy("cf", "qualifier")
      .agg(count(lit(1)).as("n"),
        graft.ops.dsum(col("value")).as("vsum"),
        sum((col("seq") % 999953).cast(
          org.apache.spark.sql.types.DecimalType(18, 0))).cast("long").as("ssum"),
        count_if(col("op") === "delete").as("dels"))
      .orderBy(asc_nulls_last("cf"), asc_nulls_last("qualifier"))
  }

  /** a38 — WAL-delta incremental backup/restore, the cycle HBase's backup
    * tooling runs [public: o.a.h.hbase.backup.BackupAdmin — a FULL backup
    * is a snapshot export; an INCREMENTAL backup ships the WAL delta since
    * the previous backup point and restore replays it over the restored
    * snapshot]. Composes the a18/a33 snapshot machinery with the a15/a35
    * log discipline end to end:
    *
    *   1. full backup at T0 — the `ts <= T0` state bulk-written as gen-000
    *      store files and pinned by a snapshot manifest;
    *   2. incremental segment — the WAL delta `(T0, T1]` (seq = ts, the
    *      a15 discipline), range-partitioned into region segments;
    *   3. restore at the backup site — [[graft.sources.HFileOps
    *      .restoreMaterialize]] copies the manifest's file set
    *      (ExportSnapshot-style one-task-per-file job), applied TWICE so
    *      re-delivered-restore-is-a-byte-level-no-op sits inside the gate
    *      hash (the a37 idempotence discipline);
    *   4. replay — the incremental log read back over the restored files.
    *
    * The digest of restored ∪ replayed must equal the never-backed-up
    * `ts <= T1` view (the oracle is that WAL-free, snapshot-free
    * spelling), so the manifest pin, the copy job, the site sweep, the log
    * codec, and the (T0, T1] bounds are all semantically transparent or
    * the hash moves. T0 is a6's frozen mid-range constant and T1 the ~80th
    * percentile of the measured ts range — both non-vacuous at every SF
    * and on key-shifted fixtures (gen_sf1 leaves ts unshifted). Scale
    * shape: every data-sized leg (bulk write, copy, log write, replay,
    * digest) is a distributed job; the only driver-side state is the
    * manifest file list, the master's bounded O(files) view. WalSpec pins
    * the row-level equivalence and site-sweep semantics the relational
    * oracle can't see; PlanSpec pins the digest's one-reduction shape.
    */
  val a38_incremental_backup: graft.ops.Q = (s, d) => {
    val t0 = 1705362487499628L // full-backup point (a6's frozen constant)
    val t1 = 1706141821535472L // incremental backup point (~p80 of ts)
    val srcDir = Tables.appTmpDir(s, "graft_bk_src", d)
    val walDir = Tables.appTmpDir(s, "graft_bk_wal", d)
    val siteDir = Tables.appTmpDir(s, "graft_bk_site", d)
    val cells = Tables.cells(s, d)
    val regions = HFileOps.regionCountForBytes(
      Tables.bytesOnDisk(s, d, "events") / 2)
    val gen0 = HFileOps.bulkWrite(cells.where(col("ts") <= t0), srcDir,
      regions, compression = HFileCodec.CompressionGz,
      encoding = HFileCodec.EncodingFastDiff, generation = 0)
    HFileOps.snapshot(s, gen0.map(n => s"$srcDir/$n"),
      s"$srcDir/backup-t0.manifest")
    writeWal(cells.where(col("ts") > t0 && col("ts") <= t1)
        .withColumn("seq", col("ts")),
      walDir, segments = regions, prefix = "incr")
    HFileOps.restoreMaterialize(s, s"$srcDir/backup-t0.manifest", siteDir)
    HFileOps.restoreMaterialize(s, s"$srcDir/backup-t0.manifest", siteDir)
    val restored = HFileOps.read(s, siteDir)
    val replayed = readWal(s, walDir)
      .select("rowkey", "cf", "qualifier", "ts", "value", "op")
    restored.unionByName(replayed)
      .groupBy("cf", "qualifier")
      .agg(count(lit(1)).as("n"),
        graft.ops.dsum(col("value")).as("vsum"),
        sum((col("ts") % 999917L).cast(
          org.apache.spark.sql.types.DecimalType(18, 0))).cast("long").as("tsum"),
        count_if(col("op") === "delete").as("dels"))
      .orderBy(asc_nulls_last("cf"), asc_nulls_last("qualifier"))
  }

  val queries: Map[String, graft.ops.Q] = Map(
    "a15_wal_replay" -> a15_wal_replay,
    "a21_wal_replicate" -> a21_wal_replicate,
    "a35_wal_split_recovery" -> a35_wal_split_recovery,
    "a38_incremental_backup" -> a38_incremental_backup)
}
