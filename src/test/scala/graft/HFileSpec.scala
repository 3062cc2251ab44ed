package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import graft.sources.{HFileCodec, HFileOps}
import graft.sources.HFileCodec.HCell
import org.apache.spark.sql.functions._

class HFileSpec extends SparkSuite {

  private def cell(row: String, qual: String, ts: Long, v: Double,
                   typ: Byte = HFileCodec.TypePut): HCell =
    HCell(row.getBytes(UTF_8), "e".getBytes(UTF_8), qual.getBytes(UTF_8), ts,
      typ, java.nio.ByteBuffer.allocate(8).putDouble(v).array())

  private def tmpDir(tag: String): Path =
    SparkSuite.tempDir(s"graft-hfile-$tag")

  test("KeyValue encode/decode round-trips every field") {
    val c = cell("row-00042", "click", 1705362487499628968L, 3.25,
      HFileCodec.TypeDelete)
    val bytes = HFileCodec.encodeKeyValue(c)
    val (d, next) = HFileCodec.decodeKeyValue(bytes, 0)
    assert(next == bytes.length)
    assert(new String(d.row, UTF_8) == "row-00042")
    assert(new String(d.family, UTF_8) == "e")
    assert(new String(d.qualifier, UTF_8) == "click")
    assert(d.ts == c.ts && d.typ == HFileCodec.TypeDelete)
    assert(java.nio.ByteBuffer.wrap(d.value).getDouble == 3.25)
  }

  test("hadoop vint: single-byte and multi-byte lengths round-trip") {
    for (n <- Seq(0, 1, 42, 127, 128, 300, 65535, 1 << 20)) {
      val out = new java.io.ByteArrayOutputStream()
      HFileCodec.writeVInt(out, n)
      val (m, off) = HFileCodec.readVInt(out.toByteArray, 0)
      assert(m == n && off == out.size(), s"vint $n")
    }
  }

  test("file structure: magics, block index, trailer, version word") {
    val cells = (0 until 5000).map(i => cell(f"r$i%06d", "q", 1000L + i, i.toDouble))
    val bytes = HFileCodec.write(cells.iterator, blockSize = 8 * 1024)
    // data magic at offset 0
    assert(bytes.slice(0, 8).sameElements(HFileCodec.DataMagic))
    val tr = HFileCodec.readTrailer(bytes)
    assert(tr.majorVersion == 3)
    assert(tr.entryCount == 5000)
    assert(tr.dataIndexCount > 1, "multi-block file expected at 8KiB blocks")
    // the load-on-open section starts at the root index and is walkable
    // by magic in HBase's order: root index, meta index, file info, bloom
    assert(bytes.slice(tr.loadOnOpenOffset.toInt, tr.loadOnOpenOffset.toInt + 8)
      .sameElements(HFileCodec.RootIndexMagic))
    assert(bytes.slice(tr.fileInfoOffset.toInt, tr.fileInfoOffset.toInt + 8)
      .sameElements(HFileCodec.FileInfoMagic))
    val loo = HFileCodec.openStore(HFileCodec.bytesAt(bytes), bytes.length).loo
    assert(loo.rootIndexOffset == tr.loadOnOpenOffset)
    assert(loo.metaIndexOffset > loo.rootIndexOffset, "meta index root missing")
    assert(loo.fileInfoOffset == tr.fileInfoOffset,
      "walked file info disagrees with the trailer field")
    assert(loo.bloomMetaOffset > loo.fileInfoOffset, "bloom meta missing")
    assert(bytes.slice(loo.bloomMetaOffset.toInt, loo.bloomMetaOffset.toInt + 8)
      .sameElements(HFileCodec.BloomMetaMagic))
    // decode returns the exact sequence back, in key order
    val back = HFileCodec.read(bytes).toSeq
    assert(back.size == 5000)
    assert(back.map(c => new String(c.row, UTF_8)) == cells.map(c => new String(c.row, UTF_8)))
  }

  test("trailer is a fixed 212-byte protobuf envelope, decodable by wire rules alone") {
    // Independent golden decode: this parser shares NOTHING with
    // HFileCodec.readTrailer — it applies the published protobuf wire
    // format (delimiter varint; tag = fieldNum<<3 | wireType; varint
    // values; length-delimited strings) to the raw tail bytes, the way a
    // generated FileTrailerProto parser would.
    val cells = (0 until 5000).map(i => cell(f"r$i%06d", "q", 1000L + i, i.toDouble))
    val bytes = HFileCodec.write(cells.iterator, 8 * 1024, HFileCodec.CompressionGz)
    val tail = bytes.takeRight(212)
    assert(tail.slice(0, 8).sameElements(HFileCodec.TrailerMagic))
    def varint(b: Array[Byte], off: Int): (Long, Int) = {
      var v = 0L; var s = 0; var p = off
      while ({ v |= (b(p) & 0x7fL) << s; s += 7; p += 1; (b(p - 1) & 0x80) != 0 }) ()
      (v, p)
    }
    val (msgLen, msgStart) = varint(tail, 8)
    val end = msgStart + msgLen.toInt
    var p = msgStart
    val fields = scala.collection.mutable.Map.empty[Int, Any]
    while (p < end) {
      val (tag, p1) = varint(tail, p)
      (tag & 7) match {
        case 0 => val (v, p2) = varint(tail, p1); fields((tag >>> 3).toInt) = v; p = p2
        case 2 =>
          val (len, p2) = varint(tail, p1)
          fields((tag >>> 3).toInt) =
            new String(tail, p2, len.toInt, UTF_8)
          p = p2 + len.toInt
        case w => fail(s"unexpected wire type $w")
      }
    }
    val tr = HFileCodec.readTrailer(bytes)
    // FileTrailerProto field numbers [public: hbase-protocol HFile.proto]
    assert(fields(1) == tr.fileInfoOffset)        // file_info_offset
    assert(fields(2) == tr.loadOnOpenOffset)      // load_on_open_data_offset
    assert(fields(4) == tr.totalUncompressed)     // total_uncompressed_bytes
    assert(fields(5) == tr.dataIndexCount.toLong) // data_index_count
    assert(fields(6) == 0L)                       // meta_index_count
    assert(fields(7) == 5000L)                    // entry_count
    assert(fields(8) == 1L)                       // num_data_index_levels
    assert(fields(9) == 0L)                       // first_data_block_offset
    assert(fields(11) == HFileCodec.ComparatorClassName) // comparator
    assert(fields(12) == HFileCodec.CompressionGz.toLong) // compression_codec
    // no private fields: every field number is FileTrailerProto's own
    assert(fields.keys.forall(_ <= 12), s"unexpected trailer fields ${fields.keys}")
    // padding between the message and the version word is all zeros
    assert(tail.slice(end, 208).forall(_ == 0), "trailer padding not zeroed")
    // version word: major=3 in the low bytes, minor=0 in the high byte
    assert(java.nio.ByteBuffer.wrap(tail, 208, 4).getInt == 3)
  }

  test("two-level index: past the chunk cap the root points at IDXINTE2 blocks") {
    // tiny blocks (1 cell each) + a tiny chunk cap force the escalation a
    // 100 TB region file would hit at the real 16k default
    val cells = (0 until 5000).map(i => cell(f"r$i%06d", "q", 1000L + i, i.toDouble))
    val bytes = HFileCodec.write(cells.iterator, blockSize = 1, indexChunkEntries = 128)
    val tr = HFileCodec.readTrailer(bytes)
    // 5000 single-cell blocks / 128 per chunk = 40 root entries, not 5000
    assert(tr.dataIndexCount == math.ceil(5000.0 / 128).toInt,
      s"root should hold chunk entries, got ${tr.dataIndexCount}")
    // the root's first child really is an intermediate index block
    val rootOff = tr.loadOnOpenOffset.toInt
    val firstChildOff = java.nio.ByteBuffer.wrap(bytes, rootOff + HFileCodec.HeaderSize, 8).getLong.toInt
    assert(bytes.slice(firstChildOff, firstChildOff + 8)
      .sameElements(HFileCodec.IntermediateIndexMagic))
    // full round-trip through the two-level walk, and the streaming read
    // (which ignores the index entirely) agrees
    val back = HFileCodec.read(bytes).toSeq
    assert(back.size == 5000)
    assert(back.map(c => new String(c.row, UTF_8)) == cells.map(c => new String(c.row, UTF_8)))
    val streamed = HFileCodec.readStreaming(new java.io.ByteArrayInputStream(bytes)).toSeq
    assert(streamed.size == 5000)
  }

  test("index capacity overflow raises loudly instead of corrupting") {
    val cells = (0 until 20).map(i => cell(f"r$i%06d", "q", 1000L + i, i.toDouble))
    val ex = intercept[IllegalArgumentException] {
      // 20 single-cell blocks > 4² two-level capacity
      HFileCodec.write(cells.iterator, blockSize = 1, indexChunkEntries = 4)
    }
    assert(ex.getMessage.contains("two-level index capacity"))
  }

  test("row bloom: no false negatives, measured FPR near the 1% design point") {
    val cells = (0 until 20000).map(i => cell(f"r$i%06d", "q", 1000L + i, i.toDouble))
    val bytes = HFileCodec.write(cells.iterator, blockSize = 8 * 1024)
    // every written row answers true — bloom filters never false-negative
    (0 until 20000 by 97).foreach { i =>
      assert(HFileCodec.mayContainRow(bytes, f"r$i%06d".getBytes(UTF_8)),
        s"false negative for present row r$i%06d")
    }
    // absent rows: ~1% of probes may pass (10 bits/key, k=7); gate at 3%
    val falsePos = (0 until 10000).count { i =>
      HFileCodec.mayContainRow(bytes, f"absent-$i%06d".getBytes(UTF_8))
    }
    assert(falsePos < 300, s"bloom FPR too high: $falsePos/10000")
    // rows below the file's first row short-circuit to false
    assert(!HFileCodec.mayContainRow(bytes, "a".getBytes(UTF_8)))
  }

  test("row bloom: chunked filters honor chunk boundaries") {
    // tiny chunks force many bloom chunks; membership must still resolve
    // through the meta index (first-row ranges), not just chunk 0
    val cells = (0 until 3000).map(i => cell(f"r$i%06d", "q", 1000L + i, i.toDouble))
    val bytes = HFileCodec.write(cells.iterator, blockSize = 8 * 1024,
      bloomChunkKeys = 128) // 3000 rows / 128 → 24 chunks
    (0 until 3000 by 53).foreach { i =>
      assert(HFileCodec.mayContainRow(bytes, f"r$i%06d".getBytes(UTF_8)))
    }
    val falsePos = (0 until 3000).count { i =>
      HFileCodec.mayContainRow(bytes, f"x$i%06d".getBytes(UTF_8))
    }
    assert(falsePos < 150, s"chunked bloom FPR too high: $falsePos/3000")
  }

  test("GZ: compressed file round-trips via both read paths and shrinks on disk") {
    val cells = (0 until 5000).map(i => cell(f"r$i%06d", "q", 1000L + i, i.toDouble,
      if (i % 97 == 0) HFileCodec.TypeDelete else HFileCodec.TypePut))
    val plain = HFileCodec.write(cells.iterator, blockSize = 8 * 1024)
    val gz = HFileCodec.write(cells.iterator, 8 * 1024, HFileCodec.CompressionGz)
    // trailer records the codec; repetitive fixture data must compress
    assert(HFileCodec.readTrailer(gz).compression == HFileCodec.CompressionGz)
    assert(HFileCodec.readTrailer(plain).compression == HFileCodec.CompressionNone)
    assert(gz.length < plain.length / 2,
      s"GZ file ${gz.length} B not smaller than NONE ${plain.length} B")
    // first data block header: onDiskSize < uncompressedSize
    val onDisk = java.nio.ByteBuffer.wrap(gz, 8, 4).getInt
    val uncomp = java.nio.ByteBuffer.wrap(gz, 12, 4).getInt
    assert(onDisk < uncomp, s"expected compressed block, got $onDisk/$uncomp")
    // exact cell sequence back through the index walk AND the stream
    def canon(cs: Seq[HCell]) = cs.map(c =>
      (new String(c.row, UTF_8), new String(c.qualifier, UTF_8), c.ts, c.typ,
        java.nio.ByteBuffer.wrap(c.value).getDouble))
    assert(canon(HFileCodec.read(gz).toSeq) == canon(cells))
    assert(canon(HFileCodec.readStreaming(
      new java.io.ByteArrayInputStream(gz)).toSeq) == canon(cells))
    // uncompressed totals in the trailer are codec-independent
    assert(HFileCodec.readTrailer(gz).totalUncompressed ==
      HFileCodec.readTrailer(plain).totalUncompressed)
  }

  test("CRC32C: default write emits HBase-shaped checksum fields and sums") {
    val cells = (0 until 3000).map(i => cell(f"r$i%06d", "q", 1000L + i, i.toDouble))
    val bytes = HFileCodec.write(cells.iterator, blockSize = 8 * 1024)
    // first data block header: type=CRC32C, stock bytesPerChecksum, and
    // onDiskSizeWithoutHeader == data + 4·ceil((header+data)/bpc)
    assert(bytes(24) == HFileCodec.ChecksumCrc32c.toByte)
    val bpc = java.nio.ByteBuffer.wrap(bytes, 25, 4).getInt
    assert(bpc == HFileCodec.BytesPerChecksum)
    val onDisk = java.nio.ByteBuffer.wrap(bytes, 8, 4).getInt
    val dataWithHeader = java.nio.ByteBuffer.wrap(bytes, 29, 4).getInt
    val dataLen = dataWithHeader - HFileCodec.HeaderSize
    val nChunks = (dataWithHeader + bpc - 1) / bpc
    assert(nChunks >= 1 && onDisk == dataLen + 4 * nChunks,
      s"onDiskSizeWithoutHeader $onDisk != data $dataLen + sums ${4 * nChunks}")
    // every read path verifies the sums and still round-trips
    assert(HFileCodec.read(bytes).size == cells.size)
    assert(HFileCodec.readStreaming(
      new java.io.ByteArrayInputStream(bytes)).size == cells.size)
    assert(HFileCodec.mayContainRow(bytes, "r000042".getBytes(UTF_8)))
  }

  test("CRC32C: catches corruption that would otherwise read back silently wrong") {
    val cells = (0 until 2000).map(i => cell(f"r$i%06d", "q", 1000L + i, i.toDouble))
    // NONE/NONE so a flipped VALUE byte decodes structurally fine — the
    // exact corruption class only a checksum can catch. Target the first
    // cell's value region precisely: payload starts at HeaderSize with
    // `keyLen:4 | valLen:4 | key | value`, so the value's 3rd mantissa
    // byte sits at HeaderSize + 8 + keyLen + 3
    def flipValueByte(file: Array[Byte]): Array[Byte] = {
      val keyLen = java.nio.ByteBuffer.wrap(file, HFileCodec.HeaderSize, 4).getInt
      val off = HFileCodec.HeaderSize + 8 + keyLen + 3
      val b = file.clone()
      b(off) = (b(off) ^ 0x40).toByte
      b
    }
    val nul = HFileCodec.write(cells.iterator, 8 * 1024,
      HFileCodec.CompressionNone, HFileCodec.EncodingNone, HFileCodec.ChecksumNull)
    val crc = HFileCodec.write(cells.iterator, 8 * 1024,
      HFileCodec.CompressionNone, HFileCodec.EncodingNone, HFileCodec.ChecksumCrc32c)
    // without checksums the damage is SILENT (reads fine, wrong value)...
    val silent = HFileCodec.read(flipValueByte(nul)).toSeq
    assert(silent.size == cells.size)
    // ...with CRC32C every read path throws instead
    val bad = flipValueByte(crc)
    def msgOf(t: => Any): String =
      intercept[IllegalArgumentException](t).getMessage
    assert(msgOf(HFileCodec.read(bad).foreach(_ => ())).contains("CRC32C"))
    assert(msgOf(HFileCodec.readStreaming(
      new java.io.ByteArrayInputStream(bad)).foreach(_ => ())).contains("CRC32C"))
    // header corruption is caught too (prevBlockOffset: no other check
    // reads it, so only the header-covering checksum can notice)
    val badHdr = crc.clone(); badHdr(16) = (badHdr(16) ^ 0x01).toByte
    assert(msgOf(HFileCodec.read(badHdr).foreach(_ => ())).contains("CRC32C"))
  }

  test("CRC32C: composes with GZ + FAST_DIFF on all read paths") {
    val cells = (0 until 5000).map(i => cell(f"r$i%06d", "q", 1000L + i, i.toDouble))
    val bytes = HFileCodec.write(cells.iterator, 8 * 1024,
      HFileCodec.CompressionGz, HFileCodec.EncodingFastDiff,
      HFileCodec.ChecksumCrc32c)
    def canon(cs: Seq[HCell]) = cs.map(c =>
      (new String(c.row, UTF_8), c.ts, java.nio.ByteBuffer.wrap(c.value).getDouble))
    assert(canon(HFileCodec.read(bytes).toSeq) == canon(cells))
    assert(canon(HFileCodec.readStreaming(
      new java.io.ByteArrayInputStream(bytes)).toSeq) == canon(cells))
    // checksum damage in a compressed block throws the CRC error, not a
    // gunzip one — verification runs before inflate
    val bad = bytes.clone()
    val dwh = java.nio.ByteBuffer.wrap(bytes, 29, 4).getInt
    bad(dwh / 2) = (bad(dwh / 2) ^ 0x40).toByte
    val msg = intercept[IllegalArgumentException](
      HFileCodec.read(bad).foreach(_ => ())).getMessage
    assert(msg.contains("CRC32C"), s"expected CRC error, got: $msg")
  }

  test("ChecksumNull: legacy layout retained — no sum bytes, reads interchangeably") {
    val cells = (0 until 1000).map(i => cell(f"r$i%06d", "q", 1000L + i, i.toDouble))
    val nul = HFileCodec.write(cells.iterator, 8 * 1024,
      HFileCodec.CompressionNone, HFileCodec.EncodingNone, HFileCodec.ChecksumNull)
    assert(nul(24) == HFileCodec.ChecksumNull.toByte)
    val onDisk = java.nio.ByteBuffer.wrap(nul, 8, 4).getInt
    val dataWithHeader = java.nio.ByteBuffer.wrap(nul, 29, 4).getInt
    assert(onDisk == dataWithHeader - HFileCodec.HeaderSize) // no sum bytes
    assert(HFileCodec.read(nul).size == cells.size)
    assert(HFileCodec.readStreaming(
      new java.io.ByteArrayInputStream(nul)).size == cells.size)
  }

  test("GZ: bloom membership works against compressed bloom chunks") {
    val cells = (0 until 20000).map(i => cell(f"r$i%06d", "q", 1000L + i, i.toDouble))
    val gz = HFileCodec.write(cells.iterator, 8 * 1024, HFileCodec.CompressionGz)
    (0 until 20000 by 97).foreach { i =>
      assert(HFileCodec.mayContainRow(gz, f"r$i%06d".getBytes(UTF_8)),
        s"false negative for present row r$i%06d in GZ file")
    }
    val falsePos = (0 until 10000).count { i =>
      HFileCodec.mayContainRow(gz, f"absent-$i%06d".getBytes(UTF_8))
    }
    assert(falsePos < 300, s"GZ bloom FPR too high: $falsePos/10000")
  }

  test("GZ: spark bulk write + read + seek paths round-trip compressed regions") {
    val dir = tmpDir("gz").toString
    val src = Tables.cells(spark, sf)
    HFileOps.bulkWrite(src, dir, regions = 4,
      compression = HFileCodec.CompressionGz)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(canon(HFileOps.read(spark, dir)) == canon(src))
    // bloom-pruned point get and index-directed range scan inflate the
    // bloom chunk / index blocks / candidate data blocks transparently
    val keys = src.orderBy("rowkey").limit(100).collect().map(_.getString(0))
    val got = HFileOps.pointGet(spark, dir, keys(42)).collect()
    assert(got.length == 1 && got(0).getString(0) == keys(42))
    assert(HFileOps.pointGet(spark, dir, "999999999999:none").isEmpty)
    val scanned = HFileOps.rangeScan(spark, dir, keys(10), keys(90))
      .collect().map(_.toString).sorted
    val full = HFileOps.read(spark, dir)
      .where(col("rowkey") >= keys(10) && col("rowkey") < keys(90))
      .collect().map(_.toString).sorted
    assert(scanned.nonEmpty && scanned.sameElements(full))
  }

  test("FAST_DIFF: encoded file round-trips both read paths and shrinks vs NONE") {
    // qualifiers/types/values vary so every flag combination occurs:
    // repeated values (FLAG_SAME_VALUE), alternating types, ts=0 (1-byte
    // timestamp) through full 8-byte timestamps, shared row prefixes
    val cells = (0 until 5000).flatMap { i =>
      Seq(
        cell(f"r$i%06d", "q", 1000L + i, (i % 7).toDouble,
          if (i % 97 == 0) HFileCodec.TypeDelete else HFileCodec.TypePut),
        cell(f"r$i%06d", "qual-longer", if (i % 11 == 0) 0L else 1705362487499628968L,
          3.25))
    }
    val plain = HFileCodec.write(cells.iterator, blockSize = 8 * 1024)
    val fd = HFileCodec.write(cells.iterator, 8 * 1024,
      HFileCodec.CompressionNone, HFileCodec.EncodingFastDiff)
    // encoded data block: DATABLKE magic, then the 2-byte BE id after the header
    assert(fd.slice(0, 8).sameElements(HFileCodec.EncodedDataMagic))
    assert(((fd(HFileCodec.HeaderSize) & 0xff) << 8 |
      (fd(HFileCodec.HeaderSize + 1) & 0xff)) == HFileCodec.EncodingFastDiff)
    // delta encoding must beat raw KeyValues on shared-prefix rowkeys
    assert(fd.length < plain.length * 3 / 4,
      s"FAST_DIFF ${fd.length} B not smaller than NONE ${plain.length} B")
    def canon(cs: Seq[HCell]) = cs.map(c =>
      (new String(c.row, UTF_8), new String(c.qualifier, UTF_8), c.ts, c.typ,
        java.nio.ByteBuffer.wrap(c.value).getDouble))
    assert(canon(HFileCodec.read(fd).toSeq) == canon(cells))
    assert(canon(HFileCodec.readStreaming(
      new java.io.ByteArrayInputStream(fd)).toSeq) == canon(cells))
  }

  test("FAST_DIFF+GZ: encoding composes with block compression") {
    val cells = (0 until 5000).map(i => cell(f"r$i%06d", "q", 1000L + i, i.toDouble))
    val both = HFileCodec.write(cells.iterator, 8 * 1024,
      HFileCodec.CompressionGz, HFileCodec.EncodingFastDiff)
    val gzOnly = HFileCodec.write(cells.iterator, 8 * 1024,
      HFileCodec.CompressionGz)
    // first block: encoded magic AND compressed sizes (deflate over the
    // delta-encoded payload)
    assert(both.slice(0, 8).sameElements(HFileCodec.EncodedDataMagic))
    val onDisk = java.nio.ByteBuffer.wrap(both, 8, 4).getInt
    val uncomp = java.nio.ByteBuffer.wrap(both, 12, 4).getInt
    assert(onDisk < uncomp, s"expected compressed encoded block, got $onDisk/$uncomp")
    def canon(cs: Seq[HCell]) = cs.map(c =>
      (new String(c.row, UTF_8), c.ts, java.nio.ByteBuffer.wrap(c.value).getDouble))
    assert(canon(HFileCodec.read(both).toSeq) == canon(cells))
    assert(canon(HFileCodec.readStreaming(
      new java.io.ByteArrayInputStream(both)).toSeq) == canon(cells))
    assert(both.length <= gzOnly.length,
      s"FAST_DIFF+GZ ${both.length} B larger than GZ alone ${gzOnly.length} B")
  }

  test("PREFIX: encoded file round-trips both read paths and shrinks vs NONE") {
    // ts variety exercises the whole-flat-key common prefix (PREFIX, unlike
    // FAST_DIFF, diffs straight through the ts:8|type:1 tail)
    val cells = (0 until 5000).flatMap { i =>
      Seq(
        cell(f"r$i%06d", "q", 1000L + i, (i % 7).toDouble,
          if (i % 97 == 0) HFileCodec.TypeDelete else HFileCodec.TypePut),
        cell(f"r$i%06d", "qual-longer", if (i % 11 == 0) 0L else 1705362487499628968L,
          3.25))
    }
    val plain = HFileCodec.write(cells.iterator, blockSize = 8 * 1024)
    val px = HFileCodec.write(cells.iterator, 8 * 1024,
      HFileCodec.CompressionNone, HFileCodec.EncodingPrefix)
    assert(px.slice(0, 8).sameElements(HFileCodec.EncodedDataMagic))
    assert(((px(HFileCodec.HeaderSize) & 0xff) << 8 |
      (px(HFileCodec.HeaderSize + 1) & 0xff)) == HFileCodec.EncodingPrefix)
    assert(px.length < plain.length * 7 / 8,
      s"PREFIX ${px.length} B not smaller than NONE ${plain.length} B")
    def canon(cs: Seq[HCell]) = cs.map(c =>
      (new String(c.row, UTF_8), new String(c.qualifier, UTF_8), c.ts, c.typ,
        java.nio.ByteBuffer.wrap(c.value).getDouble))
    assert(canon(HFileCodec.read(px).toSeq) == canon(cells))
    assert(canon(HFileCodec.readStreaming(
      new java.io.ByteArrayInputStream(px)).toSeq) == canon(cells))
  }

  test("PREFIX+GZ: spark bulk write + read + seek paths round-trip regions") {
    val dir = tmpDir("pxgz").toString
    val src = Tables.cells(spark, sf)
    HFileOps.bulkWrite(src, dir, regions = 4,
      compression = HFileCodec.CompressionGz,
      encoding = HFileCodec.EncodingPrefix)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(canon(HFileOps.read(spark, dir)) == canon(src))
    val keys = src.orderBy("rowkey").limit(100).collect().map(_.getString(0))
    val got = HFileOps.pointGet(spark, dir, keys(42)).collect()
    assert(got.length == 1 && got(0).getString(0) == keys(42))
    val scanned = HFileOps.rangeScan(spark, dir, keys(10), keys(90))
      .collect().map(_.toString).sorted
    val full = HFileOps.read(spark, dir)
      .where(col("rowkey") >= keys(10) && col("rowkey") < keys(90))
      .collect().map(_.toString).sorted
    assert(scanned.nonEmpty && scanned.sameElements(full))
  }

  test("DIFF: encoded file round-trips both read paths, ts-diff branch exercised") {
    // near-monotone timestamps make prevTs - ts small → the
    // FLAG_TIMESTAMP_IS_DIFF short representation fires; the i%13 jitter
    // flips the diff's sign so FLAG_TIMESTAMP_SIGN is exercised too, and
    // ts=0 rows hit the 1-byte absolute branch
    val cells = (0 until 5000).flatMap { i =>
      Seq(
        cell(f"r$i%06d", "q", 1700000000000L + i * 7 - (i % 13) * 3, (i % 5).toDouble,
          if (i % 89 == 0) HFileCodec.TypeDelete else HFileCodec.TypePut),
        cell(f"r$i%06d", "qual-longer", if (i % 11 == 0) 0L else 1700000000000L + i,
          3.25))
    }
    val plain = HFileCodec.write(cells.iterator, blockSize = 8 * 1024)
    val df = HFileCodec.write(cells.iterator, 8 * 1024,
      HFileCodec.CompressionNone, HFileCodec.EncodingDiff)
    assert(df.slice(0, 8).sameElements(HFileCodec.EncodedDataMagic))
    assert(((df(HFileCodec.HeaderSize) & 0xff) << 8 |
      (df(HFileCodec.HeaderSize + 1) & 0xff)) == HFileCodec.EncodingDiff)
    // delta keys + short timestamps must beat raw KeyValues
    assert(df.length < plain.length * 3 / 4,
      s"DIFF ${df.length} B not smaller than NONE ${plain.length} B")
    def canon(cs: Seq[HCell]) = cs.map(c =>
      (new String(c.row, UTF_8), new String(c.qualifier, UTF_8), c.ts, c.typ,
        java.nio.ByteBuffer.wrap(c.value).getDouble))
    assert(canon(HFileCodec.read(df).toSeq) == canon(cells))
    assert(canon(HFileCodec.readStreaming(
      new java.io.ByteArrayInputStream(df)).toSeq) == canon(cells))
  }

  test("DIFF: negative timestamps and sign flags round-trip") {
    val cells = Seq(
      cell("r0", "q", -5L, 1.0), cell("r1", "q", 100L, 2.0),
      cell("r2", "q", -1000000L, 3.0), cell("r3", "q", Long.MaxValue, 4.0),
      cell("r4", "q", 0L, 5.0), cell("r5", "q", 7L, 6.0))
    val df = HFileCodec.write(cells.iterator, 8 * 1024,
      HFileCodec.CompressionNone, HFileCodec.EncodingDiff)
    val got = HFileCodec.read(df).toSeq
    assert(got.map(_.ts) == cells.map(_.ts))
    assert(got.map(c => new String(c.row, UTF_8)) ==
      cells.map(c => new String(c.row, UTF_8)))
  }

  test("DIFF+GZ: spark bulk write + read + seek paths round-trip regions") {
    val dir = tmpDir("dfgz").toString
    val src = Tables.cells(spark, sf)
    HFileOps.bulkWrite(src, dir, regions = 4,
      compression = HFileCodec.CompressionGz,
      encoding = HFileCodec.EncodingDiff)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(canon(HFileOps.read(spark, dir)) == canon(src))
    val keys = src.orderBy("rowkey").limit(100).collect().map(_.getString(0))
    val got = HFileOps.pointGet(spark, dir, keys(42)).collect()
    assert(got.length == 1 && got(0).getString(0) == keys(42))
    val scanned = HFileOps.rangeScan(spark, dir, keys(10), keys(90))
      .collect().map(_.toString).sorted
    val full = HFileOps.read(spark, dir)
      .where(col("rowkey") >= keys(10) && col("rowkey") < keys(90))
      .collect().map(_.toString).sorted
    assert(scanned.nonEmpty && scanned.sameElements(full))
  }

  test("ROW_INDEX_V1: encoded file round-trips both read paths, bounded overhead") {
    val cells = (0 until 5000).flatMap { i =>
      Seq(
        cell(f"r$i%06d", "q", 1000L + i, (i % 7).toDouble,
          if (i % 97 == 0) HFileCodec.TypeDelete else HFileCodec.TypePut),
        cell(f"r$i%06d", "qual-longer", if (i % 11 == 0) 0L else 1705362487499628968L,
          3.25))
    }
    val plain = HFileCodec.write(cells.iterator, blockSize = 8 * 1024)
    val ri = HFileCodec.write(cells.iterator, 8 * 1024,
      HFileCodec.CompressionNone, HFileCodec.EncodingRowIndexV1)
    assert(ri.slice(0, 8).sameElements(HFileCodec.EncodedDataMagic))
    assert(((ri(HFileCodec.HeaderSize) & 0xff) << 8 |
      (ri(HFileCodec.HeaderSize + 1) & 0xff)) == HFileCodec.EncodingRowIndexV1)
    // cells are stored verbatim: ~4 B per row + 10 B per block of index
    // tail, never the delta encodings' shrinkage — bound the overhead
    assert(ri.length >= plain.length && ri.length < plain.length * 9 / 8,
      s"ROW_INDEX_V1 ${ri.length} B vs NONE ${plain.length} B")
    def canon(cs: Seq[HCell]) = cs.map(c =>
      (new String(c.row, UTF_8), new String(c.qualifier, UTF_8), c.ts, c.typ,
        java.nio.ByteBuffer.wrap(c.value).getDouble))
    assert(canon(HFileCodec.read(ri).toSeq) == canon(cells))
    assert(canon(HFileCodec.readStreaming(
      new java.io.ByteArrayInputStream(ri)).toSeq) == canon(cells))
  }

  test("ROW_INDEX_V1: in-block seek equals full-decode suffix for every probe") {
    // multi-version rows (3 cells each) so a seek must land on the FIRST
    // cell of the row, and rows of varying key length stress the compare
    val cells = (0 until 500).flatMap { i =>
      val r = if (i % 3 == 0) f"row$i%05d" else f"r$i%07d-long"
      Seq(cell(r, "a", 300L, 1.0), cell(r, "b", 200L, 2.0),
        cell(r, "b", 100L, 3.0))
    }.sortBy(c => new String(c.row, UTF_8))
    // one data block: blockSize above the total serialized size
    val file = HFileCodec.write(cells.iterator, 512 * 1024,
      HFileCodec.CompressionNone, HFileCodec.EncodingRowIndexV1,
      HFileCodec.ChecksumNull)
    val payload = HFileCodec.blockPayload(file, 0)
    assert(HFileCodec.encodingIdOf(payload) == HFileCodec.EncodingRowIndexV1)
    def canon(cs: Seq[HCell]) = cs.map(c =>
      (new String(c.row, UTF_8), new String(c.qualifier, UTF_8), c.ts))
    val all = HFileCodec.rowIndexIterator(payload, 2).toSeq
    assert(canon(all) == canon(cells))
    // exact-row probes, plus misses BETWEEN rows ("q..." sorts between
    // the two row spellings), before the first and past the last row
    val probes = cells.map(_.row).distinct ++ Seq(
      "a".getBytes(UTF_8), "q".getBytes(UTF_8), "zzz".getBytes(UTF_8))
    probes.foreach { probe =>
      val want = all.dropWhile(c =>
        java.util.Arrays.compareUnsigned(c.row, probe) < 0)
      val got = HFileCodec.rowIndexSeek(payload, 2, probe).toSeq
      assert(canon(got) == canon(want),
        s"seek mismatch at probe ${new String(probe, UTF_8)}")
    }
  }

  test("ROW_INDEX_V1+GZ: spark bulk write + read + seek paths round-trip regions") {
    val dir = tmpDir("rigz").toString
    val src = Tables.cells(spark, sf)
    HFileOps.bulkWrite(src, dir, regions = 4,
      compression = HFileCodec.CompressionGz,
      encoding = HFileCodec.EncodingRowIndexV1)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(canon(HFileOps.read(spark, dir)) == canon(src))
    val keys = src.orderBy("rowkey").limit(100).collect().map(_.getString(0))
    val got = HFileOps.pointGet(spark, dir, keys(42)).collect()
    assert(got.length == 1 && got(0).getString(0) == keys(42))
    val multi = HFileOps.multiGet(spark, dir, Seq(keys(7), keys(42), keys(99)))
      .collect().map(_.getString(0)).sorted
    assert(multi.sameElements(Array(keys(7), keys(42), keys(99)).sorted))
    val scanned = HFileOps.rangeScan(spark, dir, keys(10), keys(90))
      .collect().map(_.toString).sorted
    val full = HFileOps.read(spark, dir)
      .where(col("rowkey") >= keys(10) && col("rowkey") < keys(90))
      .collect().map(_.toString).sorted
    assert(scanned.nonEmpty && scanned.sameElements(full))
  }

  test("file info block carries the FileInfoProto map, all combos") {
    val cells = (0 until 1000).map(i => cell(f"r$i%06d", "q", 1000L + i, i.toDouble))
    val wantAvgK = cells.map(_.keyBytes.length.toLong).sum / cells.size
    val wantAvgV = cells.map(_.value.length.toLong).sum / cells.size
    for (enc <- Seq(HFileCodec.EncodingNone, HFileCodec.EncodingPrefix,
           HFileCodec.EncodingDiff, HFileCodec.EncodingFastDiff,
           HFileCodec.EncodingRowIndexV1);
         codec <- Seq(HFileCodec.CompressionNone, HFileCodec.CompressionGz)) {
      val bytes = HFileCodec.write(cells.iterator, 8 * 1024, codec, enc)
      val info = HFileCodec.readFileInfo(bytes)
      assert(new String(info("DATA_BLOCK_ENCODING"), UTF_8) ==
        HFileCodec.encodingName(enc))
      assert(java.nio.ByteBuffer.wrap(info("hfile.AVG_KEY_LEN")).getInt == wantAvgK)
      assert(java.nio.ByteBuffer.wrap(info("hfile.AVG_VALUE_LEN")).getInt == wantAvgV)
      assert(info("hfile.LASTKEY").sameElements(cells.last.keyBytes))
      assert(java.nio.ByteBuffer.wrap(info("KEY_VALUE_VERSION")).getInt == 1)
    }
    // deterministic: same cells → byte-identical file (no wall clock in
    // the file info)
    val a = HFileCodec.write(cells.iterator, 8 * 1024)
    val b = HFileCodec.write(cells.iterator, 8 * 1024)
    assert(a.sameElements(b))
  }

  test("compressedInt varint round-trips and matches the LEB128 layout") {
    val out = new java.io.ByteArrayOutputStream()
    val vals = Seq(0, 1, 127, 128, 300, 16383, 16384, Int.MaxValue)
    vals.foreach(v => HFileCodec.putCompressedInt(out, v))
    val b = out.toByteArray
    // 0→1 byte, 127→1, 128→2, 300→2, 16383→2, 16384→3, MaxValue→5
    assert(b.length == 1 + 1 + 1 + 2 + 2 + 2 + 3 + 5)
    var p = 0
    vals.foreach { v =>
      val (got, np) = HFileCodec.readCompressedInt(b, p)
      assert(got == v, s"compressedInt $v round-tripped as $got")
      p = np
    }
    assert(p == b.length)
  }

  test("FAST_DIFF: each block decodes standalone (encoder state resets per block)") {
    // 1-cell blocks: every entry is a block-first entry (no predecessor),
    // and rows span blocks — the seek paths must never need block N-1
    import scala.jdk.CollectionConverters._
    val dir = tmpDir("fdspan")
    val rows = (0 until 40).flatMap { i =>
      (0 until 3).map { v =>
        org.apache.spark.sql.Row(f"r$i%04d", "e", s"q$v", 1000L + v, v.toDouble, "put")
      }
    }
    val df = spark.createDataFrame(rows.asJava, HFileOps.cellsSchema)
    HFileOps.bulkWrite(df, dir.toString, regions = 2, blockSize = 1,
      encoding = HFileCodec.EncodingFastDiff)
    val got = HFileOps.rangeScan(spark, dir.toString, "r0010", "r0020")
      .collect().map(_.toString).sorted
    val want = df.where(col("rowkey") >= "r0010" && col("rowkey") < "r0020")
      .collect().map(_.toString).sorted
    assert(got.length == 30 && got.sameElements(want))
    val g = HFileOps.pointGet(spark, dir.toString, "r0015").collect()
    assert(g.length == 3, s"point get on a spanning row returned ${g.length}/3 cells")
  }

  test("FAST_DIFF+GZ: spark bulk write + read + seek paths round-trip regions") {
    val dir = tmpDir("fdgz").toString
    val src = Tables.cells(spark, sf)
    HFileOps.bulkWrite(src, dir, regions = 4,
      compression = HFileCodec.CompressionGz,
      encoding = HFileCodec.EncodingFastDiff)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(canon(HFileOps.read(spark, dir)) == canon(src))
    val keys = src.orderBy("rowkey").limit(100).collect().map(_.getString(0))
    val got = HFileOps.pointGet(spark, dir, keys(42)).collect()
    assert(got.length == 1 && got(0).getString(0) == keys(42))
    assert(HFileOps.pointGet(spark, dir, "999999999999:none").isEmpty)
    val scanned = HFileOps.rangeScan(spark, dir, keys(10), keys(90))
      .collect().map(_.toString).sorted
    val full = HFileOps.read(spark, dir)
      .where(col("rowkey") >= keys(10) && col("rowkey") < keys(90))
      .collect().map(_.toString).sorted
    assert(scanned.nonEmpty && scanned.sameElements(full))
  }

  test("point get returns exactly one rowkey's cells via the seek path") {
    val dir = tmpDir("get")
    val cells = Tables.cells(spark, sf)
    HFileOps.bulkWrite(cells, dir.toString, regions = 4)
    // a rowkey with multiple cells would be ideal; every rowkey here has
    // exactly one cell (event_id is unique), so also check a miss
    val want = cells.orderBy("rowkey").limit(1).collect()(0)
    val got = HFileOps.pointGet(spark, dir.toString, want.getString(0)).collect()
    assert(got.length == 1 && got(0) == want, s"got ${got.toSeq} want $want")
    // absent key: bloom-pruned to zero rows, no error
    assert(HFileOps.pointGet(spark, dir.toString, "999999999999:none").isEmpty)
  }

  test("multi get: one region pass serves a key batch, equals per-key gets") {
    val dir = tmpDir("mget")
    val cells = Tables.cells(spark, sf)
    HFileOps.bulkWrite(cells, dir.toString, regions = 4)
    // 10 present keys spread across regions + 2 absent ones
    val present = cells.orderBy("rowkey").limit(500).collect()
      .map(_.getString(0)).grouped(50).map(_.head).toSeq
    val keys = present ++ Seq("999999999999:absent", "000000000000:absent")
    val batched = HFileOps.multiGet(spark, dir.toString, keys)
      .collect().map(_.toString).sorted
    val single = present.flatMap(k =>
      HFileOps.pointGet(spark, dir.toString, k).collect().map(_.toString)).sorted
    assert(batched.length == present.length, s"got ${batched.length} rows")
    assert(batched.sameElements(single), "batched get diverges from per-key gets")
  }

  test("range scan: index-directed block selection equals full-scan filter") {
    val dir = tmpDir("rscan")
    val cells = Tables.cells(spark, sf)
    HFileOps.bulkWrite(cells, dir.toString, regions = 4)
    val keys = cells.orderBy("rowkey").limit(400).collect().map(_.getString(0))
    val (start, stop) = (keys(37), keys(311))
    val scanned = HFileOps.rangeScan(spark, dir.toString, start, stop)
      .collect().map(_.toString).sorted
    val full = HFileOps.read(spark, dir.toString)
      .where(col("rowkey") >= start && col("rowkey") < stop)
      .collect().map(_.toString).sorted
    assert(scanned.nonEmpty && scanned.sameElements(full))
    // empty range and past-the-end range both come back empty, no error
    assert(HFileOps.rangeScan(spark, dir.toString, start, start).isEmpty)
    assert(HFileOps.rangeScan(spark, dir.toString, "zzzz", "zzzz~").isEmpty)
  }

  test("range scan and get keep a row's leading cells when the row spans blocks") {
    // 3 cells per rowkey, 1-cell blocks: every row spans 3 blocks and
    // block firstRows REPEAT. A naive last-entry-with-firstRow<=start pick
    // starts at the row's LAST block and silently drops its earlier cells
    // (code-review finding) — the walk-back over equal firstRows fixes it.
    import scala.jdk.CollectionConverters._
    val dir = tmpDir("rspan")
    val rows = (0 until 40).flatMap { i =>
      (0 until 3).map { v =>
        org.apache.spark.sql.Row(f"r$i%04d", "e", s"q$v", 1000L + v, v.toDouble, "put")
      }
    }
    val df = spark.createDataFrame(rows.asJava, HFileOps.cellsSchema)
    HFileOps.bulkWrite(df, dir.toString, regions = 2, blockSize = 1)
    val got = HFileOps.rangeScan(spark, dir.toString, "r0010", "r0020")
      .collect().map(_.toString).sorted
    val want = df.where(col("rowkey") >= "r0010" && col("rowkey") < "r0020")
      .collect().map(_.toString).sorted
    assert(got.length == 30 && got.sameElements(want),
      s"range scan over spanning rows lost cells: got ${got.length}/30")
    val g = HFileOps.pointGet(spark, dir.toString, "r0015").collect()
    assert(g.length == 3, s"point get on a spanning row returned ${g.length}/3 cells")
  }

  test("streaming read equals index-walk read on the same bytes") {
    val cells = (0 until 5000).map(i => cell(f"r$i%06d", "q", 1000L + i, i.toDouble,
      if (i % 97 == 0) HFileCodec.TypeDelete else HFileCodec.TypePut))
    val bytes = HFileCodec.write(cells.iterator, blockSize = 8 * 1024)
    val walked = HFileCodec.read(bytes).toSeq
    val streamed = HFileCodec.readStreaming(
      new java.io.ByteArrayInputStream(bytes)).toSeq
    assert(streamed.size == walked.size)
    streamed.zip(walked).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a.row, b.row)
        && java.util.Arrays.equals(a.qualifier, b.qualifier)
        && a.ts == b.ts && a.typ == b.typ
        && java.util.Arrays.equals(a.value, b.value))
    }
  }

  test("mvcc + tags: nonzero memstoreTS and tag bytes round-trip, gated by file-info") {
    val cells = (0 until 3000).map { i =>
      cell(f"r$i%06d", "q", 1000L + i, i.toDouble).copy(
        memstoreTS = 1000000L + i * 7L,
        tags = if (i % 3 == 0) Array[Byte](1, 0, 2, (i % 127).toByte) // type|len|payload
               else Array.emptyByteArray)
    }
    for (enc <- Seq(HFileCodec.EncodingNone, HFileCodec.EncodingPrefix,
        HFileCodec.EncodingDiff, HFileCodec.EncodingFastDiff,
        HFileCodec.EncodingRowIndexV1)) {
      val bytes = HFileCodec.write(cells.iterator, 4 * 1024,
        HFileCodec.CompressionGz, enc, includeMvcc = true, includeTags = true)
      val info = HFileCodec.readFileInfo(bytes)
      // the reader's open-time gate: key presence, value = the max
      assert(info.contains(HFileCodec.MaxMemstoreTsKey))
      assert(java.nio.ByteBuffer.wrap(info(HFileCodec.MaxMemstoreTsKey)).getLong
        == cells.map(_.memstoreTS).max)
      assert(java.nio.ByteBuffer.wrap(info(HFileCodec.MaxTagsLenKey)).getInt == 4)
      val back = HFileCodec.read(bytes).toSeq
      assert(back.size == cells.size, s"enc=$enc")
      back.zip(cells).foreach { case (b, c) =>
        assert(b.memstoreTS == c.memstoreTS, s"enc=$enc mvcc mismatch")
        assert(java.util.Arrays.equals(b.tags, c.tags), s"enc=$enc tags mismatch")
        assert(java.util.Arrays.equals(b.value, c.value) && b.ts == c.ts)
      }
      // streaming path with the flags passed in (forward stream meets
      // file-info only after the data blocks)
      val streamed = HFileCodec.readStreaming(
        new java.io.ByteArrayInputStream(bytes),
        HFileCodec.CellExtras(mvcc = true, tags = true)).toSeq
      assert(streamed.map(_.memstoreTS) == back.map(_.memstoreTS))
    }
    // a file written WITHOUT extras carries neither gate key — r9 files
    // and bulk-load output are byte-compatible
    val plain = HFileCodec.write(cells.iterator, blockSize = 4 * 1024)
    val plainInfo = HFileCodec.readFileInfo(plain)
    assert(!plainInfo.contains(HFileCodec.MaxMemstoreTsKey))
    assert(!plainInfo.contains(HFileCodec.MaxTagsLenKey))
  }

  test("mvcc region file: HFileOps streaming + get + range-scan paths parse it") {
    // a region-server-shaped file (mvcc vlongs present) dropped into a
    // table dir must read correctly through every HFileOps path — the
    // r10 read-compat deviation: flags resolve from file-info at open
    val dir = tmpDir("mvccread")
    val cells = (0 until 2000).map { i =>
      cell(f"r$i%06d", "q", 1000L + i, i.toDouble)
        .copy(memstoreTS = 500L + i)
    }
    val bytes = HFileCodec.write(cells.iterator, 4 * 1024,
      HFileCodec.CompressionNone, HFileCodec.EncodingRowIndexV1,
      includeMvcc = true, includeTags = true)
    Files.write(dir.resolve("region-00000.hfile"), bytes)
    val back = HFileOps.read(spark, dir.toString)
    assert(back.count() == 2000)
    assert(back.where(col("rowkey") === "r000042").collect()
      .map(_.getAs[Double]("value")).toSeq == Seq(42.0))
    val got = HFileOps.pointGet(spark, dir.toString, "r001234").collect()
    assert(got.length == 1 && got(0).getAs[Double]("value") == 1234.0)
    val ranged = HFileOps.rangeScan(spark, dir.toString, "r000100", "r000110")
    assert(ranged.count() == 10)
  }

  test("spark bulk write + read round-trips the sf0.001 cells multiset exactly") {
    val dir = tmpDir("roundtrip").toString
    val src = Tables.cells(spark, sf)
    val files = HFileOps.bulkWrite(src, dir, regions = 4)
    assert(files.nonEmpty && files.forall(_.endsWith(".hfile")))
    val back = HFileOps.read(spark, dir)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(canon(back) == canon(src))
  }

  test("region files are rowkey-range partitioned and internally sorted") {
    val dir = tmpDir("ranges")
    HFileOps.bulkWrite(Tables.cells(spark, sf), dir.toString, regions = 4)
    val perFile = Files.list(dir).filter(_.toString.endsWith(".hfile"))
      .sorted.toArray.map(_.asInstanceOf[Path]).toSeq.map { p =>
        val rows = HFileCodec.read(Files.readAllBytes(p))
          .map(c => new String(c.row, UTF_8)).toSeq
        assert(rows == rows.sorted, s"$p not sorted")
        (rows.head, rows.last)
      }
    // across files (sorted by name = partition id): disjoint ascending ranges
    perFile.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi <= lo, "region ranges overlap")
      case _ =>
    }
  }

  test("bulk write surfaces a failed region-file commit instead of dropping it") {
    // occupy the destination name with a NON-EMPTY DIRECTORY: rename
    // (even with OVERWRITE) cannot replace it, and before round 3 the
    // ignored boolean return silently produced a partial table
    val dir = tmpDir("commitfail")
    val dst = dir.resolve("region-00000.hfile")
    Files.createDirectories(dst)
    Files.write(dst.resolve("occupant"), Array[Byte](1, 2, 3))
    val ex = intercept[Exception] {
      HFileOps.bulkWrite(Tables.cells(spark, sf), dir.toString, regions = 1)
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.toString +: chain(e.getCause))
    assert(chain(ex).exists(m => m.contains("commit") || m.contains("rename")),
      s"expected a commit failure in the cause chain, got: ${chain(ex).mkString(" | ")}")
  }

  // --- SNAPPY / LZ4 / ZSTD block codecs (r9) — the jars are Spark's own
  // shuffle/parquet codecs (snappy-java, lz4-java, zstd-jni), present on
  // every cluster classpath, so these are dependency-free here too.

  private val newCodecs = Seq(
    "SNAPPY" -> HFileCodec.CompressionSnappy,
    "LZ4" -> HFileCodec.CompressionLz4,
    "ZSTD" -> HFileCodec.CompressionZstd)

  for ((name, codec) <- newCodecs)
    test(s"$name: compressed file round-trips via both read paths and shrinks on disk") {
      val cells = (0 until 5000).map(i => cell(f"r$i%06d", "q", 1000L + i, i.toDouble,
        if (i % 97 == 0) HFileCodec.TypeDelete else HFileCodec.TypePut))
      val plain = HFileCodec.write(cells.iterator, blockSize = 8 * 1024)
      val packed = HFileCodec.write(cells.iterator, 8 * 1024, codec)
      assert(HFileCodec.readTrailer(packed).compression == codec)
      assert(packed.length < plain.length,
        s"$name file ${packed.length} B not smaller than NONE ${plain.length} B")
      val onDisk = java.nio.ByteBuffer.wrap(packed, 8, 4).getInt
      val uncomp = java.nio.ByteBuffer.wrap(packed, 12, 4).getInt
      assert(onDisk < uncomp, s"expected compressed block, got $onDisk/$uncomp")
      def canon(cs: Seq[HCell]) = cs.map(c =>
        (new String(c.row, UTF_8), new String(c.qualifier, UTF_8), c.ts, c.typ,
          java.nio.ByteBuffer.wrap(c.value).getDouble))
      assert(canon(HFileCodec.read(packed).toSeq) == canon(cells))
      assert(canon(HFileCodec.readStreaming(
        new java.io.ByteArrayInputStream(packed)).toSeq) == canon(cells))
      assert(HFileCodec.readTrailer(packed).totalUncompressed ==
        HFileCodec.readTrailer(plain).totalUncompressed)
    }

  for ((name, codec) <- newCodecs)
    test(s"$name: composes with FAST_DIFF + CRC32C on all read paths") {
      val cells = (0 until 5000).map(i => cell(f"r$i%06d", "q", 1000L + i, i.toDouble))
      val bytes = HFileCodec.write(cells.iterator, 8 * 1024,
        codec, HFileCodec.EncodingFastDiff, HFileCodec.ChecksumCrc32c)
      def canon(cs: Seq[HCell]) = cs.map(c =>
        (new String(c.row, UTF_8), c.ts, java.nio.ByteBuffer.wrap(c.value).getDouble))
      assert(canon(HFileCodec.read(bytes).toSeq) == canon(cells))
      assert(canon(HFileCodec.readStreaming(
        new java.io.ByteArrayInputStream(bytes)).toSeq) == canon(cells))
      // corruption inside the compressed payload still dies in the CRC
      // verify (it runs before any decompression)
      val bad = bytes.clone()
      val dwh = java.nio.ByteBuffer.wrap(bytes, 29, 4).getInt
      bad(dwh / 2) = (bad(dwh / 2) ^ 0x40).toByte
      val msg = intercept[IllegalArgumentException](
        HFileCodec.read(bad).foreach(_ => ())).getMessage
      assert(msg.contains("CRC32C"), s"expected CRC error, got: $msg")
    }

  test("SNAPPY/LZ4: a block wider than the 256 KiB framing group splits into multiple groups") {
    // one jumbo cell forces a > 256 KiB block payload — the Hadoop framing
    // must emit several rawLen|compLen groups and the reader must walk all
    // of them (a single-group assumption would truncate silently)
    val big = Array.tabulate[Byte](700 * 1024)(i => (i % 251).toByte)
    val jumbo = HCell("r0".getBytes(UTF_8), "e".getBytes(UTF_8),
      "q".getBytes(UTF_8), 7L, HFileCodec.TypePut, big)
    for (codec <- Seq(HFileCodec.CompressionSnappy, HFileCodec.CompressionLz4)) {
      val bytes = HFileCodec.write(Iterator(jumbo), 64 * 1024, codec)
      val back = HFileCodec.read(bytes).toSeq
      assert(back.length == 1 && java.util.Arrays.equals(back.head.value, big))
      val streamed = HFileCodec.readStreaming(
        new java.io.ByteArrayInputStream(bytes)).toSeq
      assert(streamed.length == 1 && java.util.Arrays.equals(streamed.head.value, big))
    }
  }

  test("ZSTD+FAST_DIFF: spark bulk write + read + seek paths round-trip regions") {
    val dir = tmpDir("zstd").toString
    val src = Tables.cells(spark, sf)
    HFileOps.bulkWrite(src, dir, regions = 4,
      compression = HFileCodec.CompressionZstd,
      encoding = HFileCodec.EncodingFastDiff)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(canon(HFileOps.read(spark, dir)) == canon(src))
    val keys = src.orderBy("rowkey").limit(100).collect().map(_.getString(0))
    val got = HFileOps.pointGet(spark, dir, keys(42)).collect()
    assert(got.length == 1 && got(0).getString(0) == keys(42))
    val scanned = HFileOps.rangeScan(spark, dir, keys(10), keys(90))
      .collect().map(_.toString).sorted
    val full = HFileOps.read(spark, dir)
      .where(col("rowkey") >= keys(10) && col("rowkey") < keys(90))
      .collect().map(_.toString).sorted
    assert(scanned.nonEmpty && scanned.sameElements(full))
  }

  // --- LSM merge-on-read across store-file generations (r9) ---

  test("merge-on-read: newest (ts, gen) wins, tombstones mask, compaction is idempotent") {
    import spark.implicits._
    val dir = tmpDir("lsm").toString
    def df(rows: Seq[(String, String, Long, Double, String)]) =
      rows.toDF("rowkey", "qualifier", "ts", "value", "op")
        .select(col("rowkey"), org.apache.spark.sql.functions.lit("e").as("cf"),
          col("qualifier"), col("ts"), col("value"), col("op"))
    // gen 0: base. gen 1: r1 updated at a LATER ts, r2 updated at the SAME
    // ts (gen must break the tie), r3 tombstoned, r4 untouched.
    HFileOps.bulkWrite(df(Seq(
      ("r1", "q", 100L, 1.0, "put"), ("r2", "q", 100L, 2.0, "put"),
      ("r3", "q", 100L, 3.0, "put"), ("r4", "q", 100L, 4.0, "put"))),
      dir, regions = 2, generation = 0)
    HFileOps.bulkWrite(df(Seq(
      ("r1", "q", 200L, 10.0, "put"), ("r2", "q", 100L, 20.0, "put"),
      ("r3", "q", 300L, 0.0, "delete"))),
      dir, regions = 2, generation = 1,
      compression = HFileCodec.CompressionLz4)
    // readWithGen sees both generations with the right labels
    val gens = HFileOps.readWithGen(spark, dir)
      .groupBy("gen").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(gens == Map(0 -> 4, 1 -> 3))
    val merged = HFileOps.mergedRead(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(3), r.getDouble(4))).sorted
    assert(merged.toSeq == Seq(("r1", 200L, 10.0), ("r2", 100L, 20.0), ("r4", 100L, 4.0)),
      s"got ${merged.toSeq}")
    // compaction = persist mergedRead as a fresh directory's gen 0; the
    // merged view of the compacted store equals the pre-compaction view
    val dir2 = tmpDir("lsm2").toString
    HFileOps.bulkWrite(HFileOps.mergedRead(spark, dir), dir2, regions = 2,
      generation = 0)
    val recompacted = HFileOps.mergedRead(spark, dir2)
      .collect().map(r => (r.getString(0), r.getLong(3), r.getDouble(4))).sorted
    assert(recompacted.sameElements(merged))
    // generation-mode re-write replaces ONLY its own generation's files
    HFileOps.bulkWrite(df(Seq(("r9", "q", 1L, 9.0, "put"))), dir,
      regions = 1, generation = 1)
    val after = HFileOps.readWithGen(spark, dir)
      .groupBy("gen").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(after == Map(0 -> 4, 1 -> 1), s"got $after")
  }

  test("merge-on-read: maxVersions, TTL floor, and equal-ts delete-beats-put semantics") {
    import spark.implicits._
    val dir = tmpDir("lsmv").toString
    def df(rows: Seq[(String, String, Long, Double, String)]) =
      rows.toDF("rowkey", "qualifier", "ts", "value", "op")
        .select(col("rowkey"), org.apache.spark.sql.functions.lit("e").as("cf"),
          col("qualifier"), col("ts"), col("value"), col("op"))
    // r1: three versions across generations; r2: delete at the SAME ts as
    // a put (delete must win, as HBase's KeyValue ordering does); r3: a
    // put NEWER than the tombstone survives it; r4: old enough to expire
    HFileOps.bulkWrite(df(Seq(
      ("r1", "q", 100L, 1.0, "put"), ("r2", "q", 100L, 2.0, "put"),
      ("r3", "q", 100L, 3.0, "put"), ("r4", "q", 5L, 4.0, "put"))),
      dir, regions = 1, generation = 0)
    HFileOps.bulkWrite(df(Seq(
      ("r1", "q", 200L, 10.0, "put"), ("r1", "q", 300L, 11.0, "put"),
      ("r2", "q", 100L, 0.0, "delete"),
      ("r3", "q", 150L, 0.0, "delete"), ("r3", "q", 200L, 30.0, "put"))),
      dir, regions = 1, generation = 1)
    def view(maxV: Int, ttl: Long = Long.MinValue) =
      HFileOps.mergedRead(spark, dir, maxVersions = maxV, ttlFloor = ttl)
        .collect().map(r => (r.getString(0), r.getLong(3), r.getDouble(4))).sorted.toSeq
    // k=1: r1's newest, r2 hidden (equal-ts delete wins), r3's post-
    // tombstone put, r4 visible (no TTL)
    assert(view(1) == Seq(("r1", 300L, 11.0), ("r3", 200L, 30.0), ("r4", 5L, 4.0)))
    // k=2: r1 additionally exposes its second-newest version
    assert(view(2) == Seq(("r1", 200L, 10.0), ("r1", 300L, 11.0),
      ("r3", 200L, 30.0), ("r4", 5L, 4.0)))
    // k=3: the gen-0 base version of r1 appears too
    assert(view(3).count(_._1 == "r1") == 3)
    // TTL floor expires r4 (and nothing else at this floor)
    assert(view(1, ttl = 50L) == Seq(("r1", 300L, 11.0), ("r3", 200L, 30.0)))
    // mergedGet agrees with the scan view per key, including maxVersions
    val viaGet = HFileOps.mergedGet(spark, dir, "r1", maxVersions = 2)
      .collect().map(r => (r.getString(0), r.getLong(3), r.getDouble(4))).sorted.toSeq
    assert(viaGet == Seq(("r1", 200L, 10.0), ("r1", 300L, 11.0)))
  }

  test("delete scopes: version-exact, column at-or-before, family across qualifiers") {
    import spark.implicits._
    val dir = tmpDir("lsmdel").toString
    def df(rows: Seq[(String, String, Long, Double, String)]) =
      rows.toDF("rowkey", "qualifier", "ts", "value", "op")
        .select(col("rowkey"), org.apache.spark.sql.functions.lit("e").as("cf"),
          col("qualifier"), col("ts"), col("value"), col("op"))
    // r1: three versions; delete_version at ts=200 must hide ONLY that
    //     version (both neighbors survive under maxVersions=3)
    // r2: two qualifiers + older junk; delete_family at ts=150 hides
    //     everything at-or-before across BOTH qualifiers; the ts=200 put
    //     survives
    // r3: control — delete (column scope) still masks at-or-before
    HFileOps.bulkWrite(df(Seq(
      ("r1", "q", 100L, 1.0, "put"), ("r1", "q", 200L, 2.0, "put"),
      ("r1", "q", 300L, 3.0, "put"),
      ("r2", "qa", 100L, 4.0, "put"), ("r2", "qb", 150L, 5.0, "put"),
      ("r2", "qa", 200L, 6.0, "put"),
      ("r3", "q", 100L, 7.0, "put"), ("r3", "q", 200L, 8.0, "put"))),
      dir, regions = 1, generation = 0)
    HFileOps.bulkWrite(df(Seq(
      ("r1", "q", 200L, 0.0, "delete_version"),
      ("r2", "", 150L, 0.0, "delete_family"),
      ("r3", "q", 150L, 0.0, "delete"))),
      dir, regions = 1, generation = 1)
    val view = HFileOps.mergedRead(spark, dir, maxVersions = 3)
      .collect().map(r => (r.getString(0), r.getString(2), r.getLong(3))).sorted.toSeq
    assert(view == Seq(
      ("r1", "q", 100L), ("r1", "q", 300L), // ts=200 version-deleted, rest kept
      ("r2", "qa", 200L),                   // family delete ate qa@100 and qb@150
      ("r3", "q", 200L)),                   // column delete ate q@100 (and @150 if any)
      s"got $view")
    // the file actually carries the real KeyValue type codes
    val codes = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val f = fs.globStatus(new org.apache.hadoop.fs.Path(p, "gen-001-*.hfile")).head.getPath
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f.toUri))
      HFileCodec.read(bytes).map(_.typ).toSet
    }
    assert(codes == Set(HFileCodec.TypeDelete, HFileCodec.TypeDeleteColumn,
      HFileCodec.TypeDeleteFamily), s"got $codes")
    // mergedGet sees the family tombstone too (it rides the same rowkey)
    val got = HFileOps.mergedGet(spark, dir, "r2", maxVersions = 3)
      .collect().map(r => (r.getString(2), r.getLong(3))).sorted.toSeq
    assert(got == Seq(("qa", 200L)), s"got $got")
    // family markers must be written with an empty qualifier
    val bad = intercept[org.apache.spark.SparkException] {
      HFileOps.bulkWrite(df(Seq(("r9", "q", 1L, 0.0, "delete_family"))),
        tmpDir("lsmbad").toString, regions = 1)
    }
    assert(bad.getMessage.contains("delete_family") ||
      Option(bad.getCause).exists(_.getMessage.contains("delete_family")))
  }

  test("delete scopes: exchange-free merge equals the window reference; compaction idempotent") {
    import spark.implicits._
    val dir = tmpDir("lsmdeq").toString
    def df(rows: Seq[(String, String, Long, Double, String)]) =
      rows.toDF("rowkey", "qualifier", "ts", "value", "op")
        .select(col("rowkey"), org.apache.spark.sql.functions.lit("e").as("cf"),
          col("qualifier"), col("ts"), col("value"), col("op"))
    val base = (0 until 300).flatMap(i => Seq(
      (f"r$i%04d", "qa", 100L + (i % 3), i.toDouble, "put"),
      (f"r$i%04d", "qb", 100L, i + 0.25, "put")))
    val deltas =
      (0 until 300 by 5).map(i => (f"r$i%04d", "qa", 100L + (i % 3), 0.0, "delete_version")) ++
      (0 until 300 by 7).map(i => (f"r$i%04d", "", 150L, 0.0, "delete_family")) ++
      (0 until 300 by 11).map(i => (f"r$i%04d", "qb", 120L, 0.0, "delete")) ++
      (0 until 300 by 13).map(i => (f"r$i%04d", "qb", 200L, i + 0.5, "put"))
    HFileOps.bulkWrite(df(base), dir, regions = 4, generation = 0,
      compression = HFileCodec.CompressionGz, encoding = HFileCodec.EncodingFastDiff)
    HFileOps.bulkWrite(df(deltas), dir, regions = 3, generation = 1,
      compression = HFileCodec.CompressionSnappy, encoding = HFileCodec.EncodingPrefix)
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    for (maxV <- Seq(1, 2))
      assert(canon(HFileOps.mergedRead(spark, dir, maxV))
        == canon(HFileOps.mergedReadShuffled(spark, dir, maxV)),
        s"local merge diverges from the window reference at maxV=$maxV")
    // compaction drops every tombstone scope and is idempotent
    val before = canon(HFileOps.mergedRead(spark, dir))
    HFileOps.compact(spark, dir)
    assert(canon(HFileOps.mergedRead(spark, dir)) == before)
    assert(HFileOps.read(spark, dir).where(col("op") =!= "put").count() == 0)
  }

  test("merge-on-read: exchange-free merge equals the window-shuffle reference, misaligned boundaries included") {
    import spark.implicits._
    val dir = tmpDir("lsmeq").toString
    // generations bulk-written with DIFFERENT region counts, so their
    // range boundaries interleave — the hard case for range alignment:
    // a merge range can overlap one gen-0 file and a different gen-1 file
    val base = (0 until 500).map(i => (f"r$i%04d", "q", 100L + (i % 3), i.toDouble, "put"))
    val upd = (0 until 500 by 5).map(i => (f"r$i%04d", "q", 200L, i + 0.5, "put")) ++
      (0 until 500 by 7).map(i => (f"r$i%04d", "q", 300L, 0.0, "delete"))
    def df(rows: Seq[(String, String, Long, Double, String)]) =
      rows.toDF("rowkey", "qualifier", "ts", "value", "op")
        .select(col("rowkey"), org.apache.spark.sql.functions.lit("e").as("cf"),
          col("qualifier"), col("ts"), col("value"), col("op"))
    HFileOps.bulkWrite(df(base), dir, regions = 4, generation = 0,
      compression = HFileCodec.CompressionGz, encoding = HFileCodec.EncodingFastDiff)
    HFileOps.bulkWrite(df(upd), dir, regions = 3, generation = 1,
      compression = HFileCodec.CompressionSnappy, encoding = HFileCodec.EncodingPrefix)
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    for ((maxV, ttl) <- Seq((1, Long.MinValue), (2, Long.MinValue), (1, 101L)))
      assert(canon(HFileOps.mergedRead(spark, dir, maxV, ttl))
        == canon(HFileOps.mergedReadShuffled(spark, dir, maxV, ttl)),
        s"local merge diverges from the window reference at maxV=$maxV ttl=$ttl")
  }

  test("compact: rewrites the merged view as the next generation and drops the old files") {
    import spark.implicits._
    val dir = tmpDir("compact").toString
    def df(rows: Seq[(String, String, Long, Double, String)]) =
      rows.toDF("rowkey", "qualifier", "ts", "value", "op")
        .select(col("rowkey"), org.apache.spark.sql.functions.lit("e").as("cf"),
          col("qualifier"), col("ts"), col("value"), col("op"))
    HFileOps.bulkWrite(df(Seq(
      ("r1", "q", 100L, 1.0, "put"), ("r2", "q", 100L, 2.0, "put"))),
      dir, regions = 1, generation = 0)
    HFileOps.bulkWrite(df(Seq(
      ("r1", "q", 200L, 10.0, "put"), ("r2", "q", 300L, 0.0, "delete"))),
      dir, regions = 1, generation = 1,
      compression = HFileCodec.CompressionZstd)
    val before = HFileOps.mergedRead(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(3), r.getDouble(4))).sorted
    val newGen = HFileOps.compact(spark, dir,
      compression = HFileCodec.CompressionGz,
      encoding = HFileCodec.EncodingFastDiff)
    assert(newGen == 2)
    // only the new generation's files remain; the merged view is unchanged
    // and the tombstone (plus what it masked) is physically gone
    val gens = HFileOps.readWithGen(spark, dir)
      .select("gen").distinct().collect().map(_.getInt(0)).toSeq
    assert(gens == Seq(2), s"got $gens")
    val afterRows = HFileOps.mergedRead(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(3), r.getDouble(4))).sorted
    assert(afterRows.sameElements(before))
    assert(afterRows.toSeq == Seq(("r1", 200L, 10.0)))
    assert(HFileOps.read(spark, dir).where(col("op") === "delete").count() == 0)
    // compacting an already-compacted store is a no-op view-wise
    assert(HFileOps.compact(spark, dir) == 3)
    assert(HFileOps.mergedRead(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(3), r.getDouble(4)))
      .sorted.sameElements(before))
  }

  test("b24 WhileMatch walk: block reads STOP at the first failing cell") {
    // 2000 one-cell blocks; every value matches (>1) except row 120 —
    // the terminator sits 121 blocks into a 2000-block file
    val cells = (0 until 2000).map { i =>
      cell(f"row$i%05d", "q", 1L, if (i == 120) 0.5 else 100.0)
    }
    val file = HFileCodec.write(cells.iterator, blockSize = 1)
    var reads = 0
    val store = HFileCodec.openStore(
      { (off, len) => reads += 1; HFileCodec.bytesAt(file)(off, len) }, file.length)
    val matches = (r: org.apache.spark.sql.Row) =>
      !r.isNullAt(4) && r.getDouble(4) > 1.0
    val (matched, failedAt) = HFileOps.whileMatchWalk(store,
      "row00000".getBytes(UTF_8), "row01999".getBytes(UTF_8), matches)
    assert(matched.size == 120 &&
      matched.last.getString(0) == "row00119", "match run wrong")
    assert(failedAt.exists(_.getString(0) == "row00120"), "terminator wrong")
    // reads = trailer + load-on-open section + expanded intermediate
    // chunks + the 121 data blocks the run actually touched — NOT the
    // 2000-block range. 121 data + 2 open + <=2 intermediate chunks (128
    // entries each) = 125; allow slack but pin the order of magnitude
    assert(reads <= 130, s"walk read $reads blocks for a 121-cell match run")
    // no-terminator case: the whole selected range matches -> all cells,
    // no failing row (the global-stop caller then keeps everything)
    reads = 0
    val (all, none) = HFileOps.whileMatchWalk(store,
      "row00000".getBytes(UTF_8), "row00099".getBytes(UTF_8),
      r => r.getDouble(4) > 0.0)
    assert(all.size == 100 && none.isEmpty)
    assert(reads <= 110, s"bounded range read $reads blocks")
  }

  test("merge-on-read file stream: every selected data block is read once, lazily") {
    // 100 one-cell blocks: a single-level index (root -> data blocks) and
    // a two-level one (root -> 16-entry IDXINTE2 chunks -> data blocks)
    val cells = (0 until 100).map(i => cell(f"row$i%05d", "q", 1L, i.toDouble))
    def rows(from: Int, until: Int) = (from until until).map(i => f"row$i%05d")
    for ((chunkEntries, chunksOf) <- Seq(
           HFileCodec.DefaultIndexChunkEntries -> ((_: Range) => 0),
           16 -> ((r: Range) => r.map(_ / 16).distinct.size))) {
      val file = HFileCodec.write(cells.iterator, blockSize = 1,
        indexChunkEntries = chunkEntries)
      var reads = 0
      def stream(start: String, stop: String) = HFileOps.mergeFileCells(
        HFileCodec.openStore(
          { (off, len) => reads += 1; HFileCodec.bytesAt(file)(off, len) }, file.length),
        start.getBytes(UTF_8), stop.getBytes(UTF_8))
        .map(c => new String(c.row, UTF_8))
      // trailer + load-on-open section (root index, file info), then
      // each chunk and data block of the selection
      // once: blocks 19-59 for [row20, row60) — a start row that begins a
      // block also selects the block before it, where the row may begin
      val bounded = stream("row00020", "row00060").toList
      assert(bounded == rows(20, 60), s"chunk $chunkEntries: bounded range")
      assert(reads == 2 + chunksOf(19 until 60) + 41,
        s"chunk $chunkEntries: $reads reads for 41 data blocks")
      // an empty stop is open-ended: [row20, end), blocks 19-99
      reads = 0
      assert(stream("row00020", "").toList == rows(20, 100))
      assert(reads == 2 + chunksOf(19 until 100) + 81,
        s"chunk $chunkEntries: $reads reads for 81 data blocks")
      // lazy: the first cell costs blocks 19 and 20 (and their chunk) only
      reads = 0
      assert(stream("row00020", "row00060").next() == "row00020")
      assert(reads == 2 + chunksOf(19 until 21) + 2,
        s"chunk $chunkEntries: $reads reads for the first cell")
    }
  }

  test("seek paths check each index entry's size against the block it reaches") {
    val cells = (0 until 2000).map(i => cell(f"r$i%06d", "q", 1000L + i, i.toDouble))
    // NONE + NULL checksums: no CRC over the root index block can catch
    // the edited entry before the walk reaches the block it points at
    val bytes = HFileCodec.write(cells.iterator, 8 * 1024, HFileCodec.CompressionNone,
      HFileCodec.EncodingNone, HFileCodec.ChecksumNull)
    val dir = tmpDir("sizecheck")
    val file = dir.resolve("region-00000.hfile")
    Files.write(file, bytes)
    assert(HFileOps.rangeScan(spark, dir.toString, "", "").count() == cells.size)
    // the first root entry is `offset:8 | onDiskSize:4 | …` right after
    // the root block's header; claim one byte more than the block holds
    val sizeAt = HFileCodec.readTrailer(bytes).loadOnOpenOffset.toInt +
      HFileCodec.HeaderSize + 8
    val bumped = bytes.clone()
    java.nio.ByteBuffer.wrap(bumped, sizeAt, 4)
      .putInt(java.nio.ByteBuffer.wrap(bytes, sizeAt, 4).getInt + 1)
    Files.write(file, bumped)
    val ex = intercept[Exception](
      HFileOps.rangeScan(spark, dir.toString, "", "").collect())
    val messages = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).flatMap(t => Option(t.getMessage)).toList
    assert(messages.exists(_.contains("block size mismatch")),
      s"expected a block size mismatch, got: ${messages.mkString(" / ")}")
  }

  test("in-memory read, bloom check and stream agree with the seek paths on one file") {
    // several blocks per row range, a two-level index (32-entry chunks)
    // and several bloom chunks, so every level of the shared walk runs
    val cells = (0 until 1500).flatMap { i =>
      Seq(cell(f"r$i%05d", "a", 2000L + i, i.toDouble),
        cell(f"r$i%05d", "b", 1000L + i, -i.toDouble,
          if (i % 41 == 0) HFileCodec.TypeDelete else HFileCodec.TypePut))
    }
    def canon(cs: Iterator[HCell]) = cs.map(c =>
      (new String(c.row, UTF_8), new String(c.family, UTF_8),
        new String(c.qualifier, UTF_8), c.ts,
        java.nio.ByteBuffer.wrap(c.value).getDouble, HFileOps.opOf(c.typ))).toList
    def canonRows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getDouble(4), r.getString(5))).toList
    val present = (0 until 1500 by 37).map(i => f"r$i%05d")
    val absent = (0 until 300).map(i => f"r$i%05dx")
    for (enc <- Seq(HFileCodec.EncodingNone, HFileCodec.EncodingPrefix,
                    HFileCodec.EncodingDiff, HFileCodec.EncodingFastDiff,
                    HFileCodec.EncodingRowIndexV1);
         codec <- Seq(HFileCodec.CompressionNone, HFileCodec.CompressionGz)) {
      val tag = s"${HFileCodec.encodingName(enc)}/$codec"
      val bytes = HFileCodec.write(cells.iterator, 512, codec, enc,
        indexChunkEntries = 32, bloomChunkKeys = 256)
      val dir = tmpDir("cross")
      Files.write(dir.resolve("region-00000.hfile"), bytes)
      val inMemory = canon(HFileCodec.read(bytes))
      assert(inMemory == canon(cells.iterator), s"$tag: in-memory read")
      assert(canonRows(HFileOps.read(spark, dir.toString)).sorted == inMemory.sorted,
        s"$tag: HFileOps.read")
      assert(canon(HFileCodec.readStreaming(
        new java.io.ByteArrayInputStream(bytes))) == inMemory, s"$tag: readStreaming")
      // multiGet answers exactly the probed rows; every probe the bloom
      // rejects is absent (the prune drops nothing real), and most absent
      // probes are rejected, so the prune is not vacuous
      val probes = present ++ absent
      val got = canonRows(HFileOps.multiGet(spark, dir.toString, probes))
      assert(got.sorted == inMemory.filter(c => probes.contains(c._1)).sorted,
        s"$tag: multiGet")
      val pruned = probes.filterNot(k => HFileCodec.mayContainRow(bytes, k.getBytes(UTF_8)))
      assert(pruned.forall(k => !got.exists(_._1 == k) && !inMemory.exists(_._1 == k)),
        s"$tag: the bloom pruned a present row")
      assert(pruned.size > absent.size / 2, s"$tag: only ${pruned.size} probes pruned")
    }
  }

  test("whileMatchScan: global stop-key composition equals the relational spelling") {
    val src = Tables.cells(spark, sf)
    val dir = tmpDir("wm").toString
    HFileOps.bulkWrite(src, dir, regions = 4,
      encoding = HFileCodec.EncodingFastDiff)
    val lo = "000000000002:000000000000"
    val hi = "000000000008:999999999999"
    val tagged = HFileOps.whileMatchScan(spark, dir, lo, hi)(
      r => !r.isNullAt(4) && r.getDouble(4) > 1.0).localCheckpoint()
    val stop = tagged.where(!col("matched")).agg(min(col("rowkey")).as("sk"))
    val got = tagged.where(col("matched")).crossJoin(broadcast(stop))
      .where(col("sk").isNull || col("rowkey") < col("sk"))
      .select("rowkey", "ts", "value").collect().map(_.toString).sorted
    // relational truth: rows of the range strictly below the first
    // failing rowkey (the b24 oracle's shape)
    val inRange = src.where(col("rowkey") >= lo && col("rowkey") <= hi)
    val firstFail = inRange
      .where(col("value").isNull || col("value") <= 1.0)
      .agg(min(col("rowkey"))).head().getString(0)
    val want = (if (firstFail == null) inRange
                else inRange.where(col("rowkey") < firstFail))
      .select("rowkey", "ts", "value").collect().map(_.toString).sorted
    assert(got.nonEmpty && got.sameElements(want))
  }

  test("a19 region split: daughters are disjoint, cover the parent, split near-evenly") {
    val src = Tables.cells(spark, sf)
    val dir = tmpDir("split").toString
    // small blocks force block-rich regions, like production
    HFileOps.bulkWrite(src, dir, regions = 3, blockSize = 2048,
      encoding = HFileCodec.EncodingFastDiff)
    val ranges = HFileOps.regionKeyRanges(spark, dir).sortBy(_._2)
    assert(ranges.size == 3)
    ranges.zipWithIndex.foreach { case ((_, first, mid, last), i) =>
      assert(first <= mid && mid <= last, s"region $i keys out of order")
      assert(mid > first, s"region $i unsplittable (single block?) — " +
        "fixture must be block-rich for this test")
      val stop = if (i + 1 < ranges.size) ranges(i + 1)._2 else last + " "
      val top = HFileOps.rangeScan(spark, dir, first, mid)
        .select("rowkey", "cf", "qualifier", "ts").collect().map(_.toString)
      val bottom = HFileOps.rangeScan(spark, dir, mid, stop)
        .select("rowkey", "cf", "qualifier", "ts").collect().map(_.toString)
      // disjoint + both non-trivial
      assert(top.nonEmpty && bottom.nonEmpty, s"region $i: vacuous daughter")
      assert(top.toSet.intersect(bottom.toSet).isEmpty, s"region $i: overlap")
      // the block-boundary midkey splits near-evenly (block granularity:
      // allow a 25/75 skew, never 0/100)
      val frac = top.size.toDouble / (top.size + bottom.size)
      assert(frac > 0.25 && frac < 0.75,
        s"region $i split $frac is not a midkey split")
    }
    // union over all daughter REFERENCES (the query's one-task-per-
    // daughter read path) reconstructs the store exactly
    val refs = ranges.zipWithIndex.flatMap { case ((path, first, mid, last), i) =>
      val stop = if (i + 1 < ranges.size) ranges(i + 1)._2 else last + " "
      Seq((path, first, mid), (path, mid, stop))
    }
    val daughters = HFileOps.referenceScan(spark, refs)
    assert(daughters.count() == src.count())
    assert(daughters.exceptAll(HFileOps.read(spark, dir)).count() == 0)
  }

  test("a20 region merge: parents adjacent, one compacted file per group spanning exactly its parents, lossless") {
    val src = Tables.cells(spark, sf)
    val dir = tmpDir("merge").toString
    HFileOps.bulkWrite(src, dir, regions = 4, blockSize = 2048,
      encoding = HFileCodec.EncodingFastDiff)
    val ranges = HFileOps.regionKeyRanges(spark, dir).sortBy(_._2)
    assert(ranges.size == 4)
    // merge precondition: regions are range-disjoint and in order
    ranges.sliding(2).foreach { case Seq(a, b) =>
      assert(a._4 < b._2, s"regions not adjacent-disjoint: ${a._4} vs ${b._2}")
    }
    val groups = ranges.map(_._1).grouped(2).map(_.toSeq).toSeq
    // the merged-region scan (no rewrite) reconstructs the store exactly
    val mergedScan = HFileOps.mergedRegionScan(spark, groups).localCheckpoint()
    assert(mergedScan.count() == src.count())
    assert(mergedScan.exceptAll(HFileOps.read(spark, dir)).count() == 0)
    // post-merge compaction: ONE store file per merged region, each
    // spanning exactly its parents' united key range, cross-codec rewrite
    val cdir = tmpDir("mergec").toString
    val names = HFileOps.compactRegions(spark, groups, cdir,
      compression = HFileCodec.CompressionGz,
      encoding = HFileCodec.EncodingPrefix)
    assert(names.size == groups.size)
    val cranges = HFileOps.regionKeyRanges(spark, cdir).sortBy(_._2)
    assert(cranges.size == groups.size)
    cranges.zip(ranges.grouped(2).toSeq).foreach {
      case ((_, cFirst, _, cLast), grp) =>
        assert(cFirst == grp.head._2,
          s"compacted first $cFirst != parent first ${grp.head._2}")
        assert(cLast == grp.last._4,
          s"compacted last $cLast != parent last ${grp.last._4}")
    }
    val compacted = HFileOps.read(spark, cdir).localCheckpoint()
    assert(compacted.count() == src.count())
    assert(compacted.exceptAll(HFileOps.read(spark, dir)).count() == 0)
  }

  test("reversed scan: equals sorted-forward-scan reversed, every encoding") {
    val src = Tables.cells(spark, sf)
    val keys = src.select("rowkey").orderBy("rowkey").collect().map(_.getString(0))
    val from = keys(keys.length / 2) // mid-keyspace seek origin
    val lo = keys(keys.length / 2 - 60) // exclusive low bound for the bounded case
    for ((enc, tag) <- Seq(HFileCodec.EncodingNone -> "none",
                           HFileCodec.EncodingFastDiff -> "fd",
                           HFileCodec.EncodingRowIndexV1 -> "ri")) {
      val dir = tmpDir(s"rev$tag").toString
      HFileOps.bulkWrite(src, dir, regions = 4, encoding = enc)
      // last-K at-or-before: per-region limited backward walk + global top-K
      val rev = HFileOps.rangeScan(spark, dir, from, "", reversed = true, limit = 40)
        .orderBy(col("rowkey").desc).limit(40).collect().map(_.toString)
      val expect = HFileOps.read(spark, dir).where(col("rowkey") <= from)
        .orderBy(col("rowkey").desc).limit(40).collect().map(_.toString)
      assert(rev.nonEmpty && rev.sameElements(expect), s"limited reversed ($tag)")
      // bounded reversed range (stop exclusive, start inclusive) covers the
      // same multiset as the forward filter over (lo, from]
      val revRange = HFileOps.rangeScan(spark, dir, from, lo, reversed = true)
        .collect().map(_.toString).sorted
      val fwd = HFileOps.read(spark, dir)
        .where(col("rowkey") > lo && col("rowkey") <= from)
        .collect().map(_.toString).sorted
      assert(revRange.nonEmpty && revRange.sameElements(fwd), s"bounded reversed ($tag)")
      // a seek origin below every key selects nothing — index-only rejection
      assert(HFileOps.rangeScan(spark, dir, "!", "", reversed = true, limit = 5).isEmpty)
      // an empty stop row is open-ended forward too (HBase EMPTY_END_ROW)
      val openFwd = HFileOps.rangeScan(spark, dir, from, "")
        .collect().map(_.toString).sorted
      val atOrAfter = HFileOps.read(spark, dir).where(col("rowkey") >= from)
        .collect().map(_.toString).sorted
      assert(openFwd.nonEmpty && openFwd.sameElements(atOrAfter), s"open forward ($tag)")
    }
  }

  test("a9 oracle query: round-trip aggregate equals the same aggregate on the source") {
    val viaHfile = ops.ScanOps.a9_hfile_roundtrip(spark, sf)
    val direct = Tables.cells(spark, sf)
      .groupBy(col("cf"), col("qualifier"))
      .agg(
        count(lit(1)).as("n"),
        ops.dsum(col("value")).as("vsum"),
        sum((col("ts") % 1000003L).cast("decimal(18,0)")).cast("long").as("tsum"),
        count(when(col("op") === "delete", 1)).as("dels"))
      .orderBy(col("cf").asc_nulls_last, col("qualifier").asc_nulls_last)
    assert(viaHfile.collect().map(_.toSeq).toSeq ==
      direct.collect().map(_.toSeq).toSeq)
  }

  test("b34 raw scan carries the full lattice: relational mask over raw equals mergedRead") {
    // Scan.setRaw(true) algebra: the raw view (delete markers + masked
    // versions, no resolution) must contain EVERYTHING needed to
    // re-derive the cooked view — applying the three delete scopes and
    // the version cap relationally to the raw read reproduces
    // mergedRead's heap-merge resolution exactly.
    import org.apache.spark.sql.expressions.Window
    val dir = tmpDir("rawscan").toString
    ops.ScanOps.deleteLatticeWrite(spark, sf, dir)
    val raw = HFileOps.readWithGen(spark, dir).cache()
    val famdel = raw.where(col("op") === "delete_family")
      .groupBy("rowkey", "cf").agg(max("ts").as("fts"))
    val coldel = raw.where(col("op") === "delete")
      .groupBy("rowkey", "cf", "qualifier").agg(max("ts").as("cts"))
    val delv = raw.where(col("op") === "delete_version")
      .select("rowkey", "cf", "qualifier", "ts").distinct()
      .withColumn("dv", lit(1))
    val vis = raw.where(col("op") === "put")
      .join(famdel, Seq("rowkey", "cf"), "left")
      .join(coldel, Seq("rowkey", "cf", "qualifier"), "left")
      .join(delv, Seq("rowkey", "cf", "qualifier", "ts"), "left")
      .where((col("fts").isNull || col("ts") > col("fts"))
        && (col("cts").isNull || col("ts") > col("cts"))
        && col("dv").isNull)
    val w = Window.partitionBy("rowkey", "cf", "qualifier")
      .orderBy(col("ts").desc, col("gen").desc, col("value").asc)
    val outCols = Seq("rowkey", "cf", "qualifier", "ts", "value")
    val cookedFromRaw = vis
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 2)
      .select(outCols.map(col): _*).collect().map(_.toString).sorted
    val cooked = HFileOps.mergedRead(spark, dir, maxVersions = 2)
      .select(outCols.map(col): _*).collect().map(_.toString).sorted
    assert(cookedFromRaw.nonEmpty && cookedFromRaw.sameElements(cooked))
    // the raw view is strictly WIDER than the cooked one: markers of all
    // three scopes present, masked puts still visible
    assert(raw.select("op").distinct().count() == 4)
    assert(raw.where(col("op") === "put").count() > cooked.length)
    raw.unpersist()
  }

  test("a23 normalize plan from trailer metadata applies via a19/a20 machinery within tolerance") {
    // the production wiring of BalancerOps.normalizePlan: region stats
    // from TRAILER METADATA ONLY (one positioned read per file), the
    // plan's split applied through a19's reference daughters and its
    // merge through a20's merged-region serving — then the post-apply
    // region sizes must actually be normalized (≤ 2× target) and the
    // table conserved cell-for-cell.
    import graft.ops.BalancerOps
    import org.apache.hadoop.fs.{Path => HP}
    val conf = spark.sparkContext.hadoopConfiguration
    val cells = Tables.cells(spark, sf)
    val uid = substring(col("rowkey"), 1, 12).cast("long")
    // assemble a SKEWED table the way real tables get skewed: separate
    // bulk loads of very different sizes landing in one table dir
    // (bulkWrite itself range-balances, so skew must come from the files)
    val tableDir = tmpDir("normtable").toString
    val slices = Seq(
      ("r0", cells.where(uid < 2)),
      ("r1", cells.where(uid >= 2 && uid < 4)),
      ("r2", cells.where(uid >= 4)))
    slices.foreach { case (name, df) =>
      val sub = tmpDir(s"norm-$name").toString
      HFileOps.bulkWrite(df, sub, regions = 1, blockSize = 16384)
      val fs = new HP(sub).getFileSystem(conf)
      val written = fs.globStatus(new HP(sub, "*.hfile"))
      assert(written.length == 1, s"$name: expected one region file")
      fs.rename(written(0).getPath, new HP(tableDir, s"$name.hfile"))
    }
    // region stats: trailer entryCount + load-on-open first key — the
    // master's metadata view, never a data block
    val ranges = HFileOps.regionKeyRanges(spark, tableDir).sortBy(_._2)
    def entryCount(p: String): Long = {
      val path = new HP(p)
      val pfs = path.getFileSystem(conf)
      val in = pfs.open(path)
      try {
        val tail = new Array[Byte](HFileCodec.TrailerLen)
        in.readFully(pfs.getFileStatus(path).getLen - HFileCodec.TrailerLen, tail)
        HFileCodec.readTrailer(tail).entryCount
      } finally in.close()
    }
    val stats = ranges.zipWithIndex.map { case ((p, first, _, _), i) =>
      (i, first, entryCount(p), p)
    }
    import spark.implicits._
    val plan = BalancerOps.normalizePlan(
        stats.map { case (i, k, n, _) => (i, k, n) }
          .toDF("region_id", "start_key", "n_cells"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    val tgt = plan(0)._2
    assert(plan(0)._3 == "merge_right" && plan(1)._3 == "merge_left",
      s"small adjacent pair not planned for merge: $plan")
    assert(plan(2)._3 == "split", s"oversized region not planned for split: $plan")
    // APPLY the plan. merge: serve r0+r1 as one region over both parents
    val mergedN = HFileOps.mergedRegionScan(spark,
      Seq(Seq(stats(0)._4, stats(1)._4))).count()
    assert(mergedN == stats(0)._3 + stats(1)._3,
      "merged region does not conserve its parents' cells")
    // split: reference daughters of r2 at its root-index midpoint
    val (p2, first2, mid2, last2) = ranges(2)
    val daughters = Seq((p2, first2, mid2), (p2, mid2, last2 + " "))
    val halves = daughters.map(d =>
      HFileOps.referenceScan(spark, Seq(d)).count())
    assert(halves.sum == stats(2)._3,
      s"split daughters ${halves.mkString("+")} != parent ${stats(2)._3}")
    assert(halves.forall(_ > 0), "degenerate daughter half")
    // post-apply regions: merged + the two daughters — all within the
    // normalizer's tolerance (no region above 2× target)
    val post = mergedN +: halves
    assert(post.forall(_ <= 2 * tgt),
      s"post-apply regions ${post.mkString(",")} exceed 2×target $tgt")
    assert(post.sum == stats.map(_._3).sum, "table not conserved by the plan")
  }

  test("restore diff + apply: drifted live table restores bit-for-bit to the snapshot view") {
    val dir = tmpDir("restore").toString
    val gen0 = HFileOps.bulkWrite(Tables.cells(spark, sf), dir, 8,
      generation = 0)
    assert(gen0.size == 8, s"expected the full 8-region grid: $gen0")
    HFileOps.snapshot(spark, gen0.map(n => s"$dir/$n"),
      s"$dir/restore.manifest")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    // an undrifted layout diffs to all-keep — the a33 gate's verdicts
    // come from the planted drift, never from the derivation itself
    val clean = HFileOps.restoreDiff(spark, s"$dir/restore.manifest", dir)
      .collect().map(r => (r.getInt(0), r.getString(3)))
    assert(clean.length == 8 && clean.forall(_._2 == "keep"),
      clean.mkString(","))
    // pin the snapshot view BEFORE the drift, then damage the live table
    val baseline = canon(
      HFileOps.readSnapshot(spark, s"$dir/restore.manifest"))
    graft.ops.ScanOps.plantRestoreDrift(spark, dir)
    val diff = HFileOps.restoreDiff(spark, s"$dir/restore.manifest", dir)
      .collect().map(r => r.getInt(0) -> r.getString(3)).toMap
    assert(diff == Map(0 -> "keep", 1 -> "add", 2 -> "replace",
      3 -> "keep", 4 -> "keep", 5 -> "keep", 6 -> "add", 7 -> "replace",
      8 -> "delete"), diff.toString)
    // restore-apply (archive-fallback resolution) must reproduce the
    // pre-drift snapshot read bit-for-bit — flushes invisible, archived
    // regions recovered, the post-snapshot region gone
    assert(canon(HFileOps.restoreApply(spark, s"$dir/restore.manifest",
      dir)) == baseline, "restored view diverged from the snapshot read")
  }

  test("incremental backup plan: ships only new files; have+ship restores the to-snapshot exactly") {
    val dir = tmpDir("backup").toString
    val cells = Tables.cells(spark, sf)
    val eid = expr("cast(substring(rowkey, 14, 12) as bigint)")
    // gen0 + snapshot A, then a delta generation + snapshot B (A ∪ delta)
    val gen0 = HFileOps.bulkWrite(cells, dir, regions = 3, generation = 0)
      .map(n => s"$dir/$n")
    HFileOps.snapshot(spark, gen0, s"$dir/snapA.manifest")
    val delta = cells.where(eid % 5 === 0)
      .withColumn("ts", col("ts") + 1000000L)
      .withColumn("value", col("value") + 1.0)
    val gen1 = HFileOps.bulkWrite(delta, dir, regions = 3, generation = 1)
      .map(n => s"$dir/$n")
    HFileOps.snapshot(spark, gen0 ++ gen1, s"$dir/snapB.manifest")
    val plan = HFileOps.incrementalBackupPlan(spark,
        s"$dir/snapA.manifest", s"$dir/snapB.manifest")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(gen1.forall(plan(_) == "ship"), s"delta files not shipped: $plan")
    assert(gen0.forall(plan(_) == "have"), s"held files re-shipped: $plan")
    assert(!plan.valuesIterator.contains("gone"), s"phantom archived file: $plan")
    assert(plan.size == gen0.size + gen1.size)
    // restore: the backup site's held files + the shipped increment must
    // reproduce the to-snapshot's merge-on-read view exactly
    val restored = HFileOps.mergedReadFiles(spark,
      plan.collect { case (f, a) if a != "gone" => f }.toSeq)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(canon(restored) == canon(
      HFileOps.readSnapshot(spark, s"$dir/snapB.manifest")))
    // a major compaction archives gen0: the next increment marks it gone
    // and ships nothing that still lives at the site
    HFileOps.snapshot(spark, gen1, s"$dir/snapC.manifest")
    val plan2 = HFileOps.incrementalBackupPlan(spark,
        s"$dir/snapB.manifest", s"$dir/snapC.manifest")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(gen0.forall(plan2(_) == "gone") && gen1.forall(plan2(_) == "have"),
      s"post-compaction plan wrong: $plan2")
  }
}
