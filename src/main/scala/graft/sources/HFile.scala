package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

/** HFile v3 codec — the HBase bulk-load file format, from the public format
  * specification (Apache HBase book, "Appendix E: HFile format"; class layout
  * mirrors the public o.a.h.hbase.io.hfile.HFileBlock / KeyValue javadoc).
  * Closes SURVEY.md §7.4's deferred item: no HBase jars exist offline
  * (build.sbt is Spark + scalatest only), so the codec is implemented from
  * the spec rather than wrapped.
  *
  * Bit-compatible with real HFiles:
  *   - KeyValue cell serialization (`keyLen:4 | valLen:4 | key | value`,
  *     key = `rowLen:2 | row | famLen:1 | family | qualifier | ts:8 | type:1`),
  *     type codes Put=4 / Delete=8 / DeleteColumn=12 / DeleteFamily=14.
  *   - 33-byte block header (`magic:8 | onDiskSizeWithoutHeader:4 |
  *     uncompressedSizeWithoutHeader:4 | prevBlockOffset:8 | checksumType:1 |
  *     bytesPerChecksum:4 | onDiskDataSizeWithHeader:4`), block magics
  *     (`DATABLK*`, `IDXROOT2`, `FILEINF2`, `TRABLK"$`).
  *   - Per-block CRC32C checksum chunks (HBase's default checksumType,
  *     `java.util.zip.CRC32C`): a 4-byte sum per `bytesPerChecksum` bytes
  *     of header+payload, appended after the payload, verified on every
  *     read path; NULL also writable/readable (header self-describes).
  *   - Root index entries (`offset:8 | onDiskSize:4 | firstKey` with the
  *     Hadoop-vint length prefix), and the trailing 4-byte version word
  *     (major=3, minor=0, minor in the high byte).
  *
  * Block compression: NONE, GZ (`java.util.zip`), SNAPPY, LZ4 and ZSTD —
  * the latter three through the codec jars Spark ships on every cluster
  * classpath (snappy-java / lz4-java / zstd-jni, Spark's own shuffle and
  * parquet codecs). SNAPPY/LZ4 payloads use the Hadoop block-stream
  * framing both Hadoop's codecs and HBase's pure-Java compression
  * modules emit; ZSTD payloads are plain RFC 8878 frames — see
  * [[hadoopBlockCompress]]. Compressed blocks carry
  * `onDiskSizeWithoutHeader` = compressed length and
  * `uncompressedSizeWithoutHeader` = raw length in the 33-byte header,
  * exactly like HBase. The readers detect compression per block from
  * those two fields (writer invariant: a block whose compressed payload
  * happens to land on the raw length — possible in principle, never seen
  * in practice — is stored raw, so sizes-differ ⟺ decompress) and the
  * codec from the payload's own first bytes (exact, not heuristic — see
  * [[decompress]]), which keeps every read path codec-agnostic; the
  * trailer still records the codec for format fidelity.
  *
  * Trailer: the fixed 212-byte v3 envelope (`magic | FileTrailerProto |
  * zero padding | version word`) with the protobuf body hand-encoded per
  * the public wire format — no protobuf jar needed; see the trailer
  * section below. No private fields: everything beyond the trailer's two
  * offsets lives in the load-on-open section (root data index, meta
  * index root, file info, bloom metadata), discovered by walking blocks
  * by magic from `load_on_open_data_offset` up to the trailer — the same
  * open sequence as HFileReaderImpl.
  *
  * The data-block index is two-level: a root
  * `IDXROOT2` block whose entries point either directly at data blocks
  * (small files) or at `IDXINTE2` intermediate index blocks once the
  * block count passes `indexChunkEntries` — the same escalation real
  * HBase performs when the root chunk outgrows
  * `hfile.index.block.max.size`. Two levels cover 16k² ≈ 268M blocks
  * (≈ 17 TB of 64 KB blocks) per region file; the writer raises loudly
  * past that rather than silently corrupting the index.
  */
object HFileCodec {

  val DataMagic: Array[Byte] = "DATABLK*".getBytes(UTF_8)
  val EncodedDataMagic: Array[Byte] = "DATABLKE".getBytes(UTF_8)
  val RootIndexMagic: Array[Byte] = "IDXROOT2".getBytes(UTF_8)
  val IntermediateIndexMagic: Array[Byte] = "IDXINTE2".getBytes(UTF_8)
  val FileInfoMagic: Array[Byte] = "FILEINF2".getBytes(UTF_8)
  val BloomChunkMagic: Array[Byte] = "BLMFBLK2".getBytes(UTF_8)
  val BloomMetaMagic: Array[Byte] = "BLMFMET2".getBytes(UTF_8)
  val TrailerMagic: Array[Byte] = "TRABLK\"$".getBytes(UTF_8)

  // ------------------------------------------------------------- trailer
  // Fixed 212-byte v2/v3 trailer [public: o.a.h.hbase.io.hfile
  // .FixedFileTrailer — getTrailerSize()], laid out as
  // `magic:8 | FileTrailerProto (length-delimited protobuf) | zero padding
  //  | version:4` (NOT_PB_SIZE = 12 = magic + version). The protobuf WIRE
  // format (tag varint = fieldNum<<3 | wireType; varint values;
  // length-delimited strings) is a public spec and needs no protobuf jar —
  // the fields below mirror HFile.proto's FileTrailerProto field numbers.
  // Everything else a reader needs at open time — root data index, meta
  // index, file info, bloom metadata — lives in the LOAD-ON-OPEN section
  // starting at load_on_open_data_offset and is discovered by walking
  // blocks by magic up to the trailer ([[walkLoadOnOpen]]), exactly
  // HFileReaderImpl's open sequence; no private trailer fields exist.

  /** Total on-disk trailer size, every v2/v3 file (padding absorbs the
    * variable protobuf length).
    */
  val TrailerLen: Int = 212
  private val TrailerNotPbSize = 12 // magic:8 + version:4

  private val PbFileInfoOffset = 1
  private val PbLoadOnOpenOffset = 2
  private val PbUncompressedDataIndexSize = 3
  private val PbTotalUncompressedBytes = 4
  private val PbDataIndexCount = 5
  private val PbMetaIndexCount = 6
  private val PbEntryCount = 7
  private val PbNumDataIndexLevels = 8
  private val PbFirstDataBlockOffset = 9
  private val PbLastDataBlockOffset = 10
  private val PbComparatorClassName = 11
  private val PbCompressionCodec = 12

  /** The comparator every file declares [public: o.a.h.hbase
    * .CellComparatorImpl — the v3 default].
    */
  val ComparatorClassName = "org.apache.hadoop.hbase.CellComparatorImpl"

  private def pbWriteVarint(out: ByteArrayOutputStream, v: Long): Unit = {
    var x = v
    while ((x & ~0x7fL) != 0L) { out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
    out.write(x.toInt)
  }

  private def pbWriteField(out: ByteArrayOutputStream, field: Int, v: Long): Unit = {
    pbWriteVarint(out, (field << 3).toLong) // wire type 0: varint
    pbWriteVarint(out, v)
  }

  private def pbWriteBytes(out: ByteArrayOutputStream, field: Int,
                           b: Array[Byte]): Unit = {
    pbWriteVarint(out, ((field << 3) | 2).toLong) // wire type 2: len-delimited
    pbWriteVarint(out, b.length.toLong)
    out.write(b, 0, b.length)
  }

  private[sources] def pbReadVarint(b: Array[Byte], off: Int): (Long, Int) = {
    var v = 0L; var shift = 0; var p = off
    while ({
      require(p < b.length && shift < 64, s"bad protobuf varint at $off")
      val byte = b(p); p += 1
      v |= (byte & 0x7fL) << shift; shift += 7
      (byte & 0x80) != 0
    }) ()
    (v, p)
  }

  /** Row-bloom parameters, HBase's defaults: ~10 bits/key ≈ 1% FPR with
    * k = 7 ≈ ln2·10 probes [public: o.a.h.hbase.util.BloomFilterUtil].
    * Chunked like HBase's CompoundBloomFilter: one bloom per
    * `DefaultBloomChunkKeys` distinct rows, located by a first-row meta
    * index — so neither writer nor reader ever holds one giant filter.
    */
  val BloomBitsPerKey = 10
  val BloomHashCount = 7
  val DefaultBloomChunkKeys: Int = 16 * 1024

  /** Root/intermediate index entries per chunk before escalating to the
    * next index level (HBase's equivalent knob is size-based:
    * hfile.index.block.max.size, 128 KB ≈ this many short-key entries).
    */
  val DefaultIndexChunkEntries: Int = 16 * 1024

  val HeaderSize = 33

  /** Upper bound accepted for a block's declared on-disk payload length.
    * Far above anything the write path produces (blocks flush at
    * ~blockSize + one cell), but small enough that a damaged/hostile
    * length field costs at most one bounded allocation instead of a 2 GB
    * one before any magic/length check can reject the block.
    */
  val MaxBlockBytes: Int = 1 << 28
  val MajorVersion = 3

  /** Compression codec ordinals [public: o.a.h.hbase.io.compress
    * .Compression.Algorithm — LZO=0, GZ=1, NONE=2, SNAPPY=3, LZ4=4,
    * BZIP2=5, ZSTD=6]. GZ is JDK-native; SNAPPY, LZ4 and ZSTD ride the
    * codec jars Spark itself ships on every cluster classpath
    * (snappy-java, lz4-java, zstd-jni — Spark's own shuffle/parquet
    * codecs), so no extra dependency exists. LZO (GPL, licence-gated
    * even in real HBase) and BZIP2 (no HBase deployment uses it for
    * blocks) stay unsupported.
    */
  val CompressionGz = 1
  val CompressionNone = 2
  val CompressionSnappy = 3
  val CompressionLz4 = 4
  val CompressionZstd = 6

  /** Checksum type codes [public: o.a.h.hbase.util.ChecksumType —
    * NULL=0, CRC32=1, CRC32C=2]. CRC32C is HBase's default and the JDK
    * ships it (`java.util.zip.CRC32C`), so it is also OUR write default;
    * NULL remains writable (and readable — the header self-describes, so
    * files from either setting read interchangeably). Layout per block:
    * `header | payload | 4-byte BE sum per bytesPerChecksum chunk of
    * header+payload` — the header participates in the checksum, exactly
    * as HBase's ChecksumUtil computes it, so header corruption (not just
    * payload corruption) is caught. `onDiskSizeWithoutHeader` INCLUDES
    * the checksum bytes; `onDiskDataSizeWithHeader` excludes them — the
    * two fields that let every reader find both regions without a file
    * info lookup.
    */
  val ChecksumNull = 0
  val ChecksumCrc32c = 2
  val BytesPerChecksum = 16384

  /** Data-block-encoding ids [public: o.a.h.hbase.io.encoding
    * .DataBlockEncoding — NONE=0, PREFIX=2, DIFF=3, FAST_DIFF=4,
    * ROW_INDEX_V1=7]. An encoded data block carries the `DATABLKE` magic
    * and leads its (pre-compression) payload with the 2-byte big-endian
    * id, exactly as HBase serializes it — so every read path detects the
    * encoding per block from bytes it already has, composing freely with
    * the sizes-differ ⟺ GZ rule one layer down. The encoding is also
    * recorded under DATA_BLOCK_ENCODING in the FileInfoProto map, as
    * HBase's HFileDataBlockEncoderImpl.saveMetadata does (readers never
    * need it — the block self-describes — but the metadata matches).
    */
  val EncodingNone = 0
  val EncodingPrefix = 2
  val EncodingDiff = 3
  val EncodingFastDiff = 4
  val EncodingRowIndexV1 = 7

  /** Gzip-deflate `b` (java.util.zip, the same stream format HBase's
    * GzipCodec emits).
    */
  private[sources] def gzip(b: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(b.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(out, 1 << 13)
    gz.write(b); gz.close()
    out.toByteArray
  }

  /** Inflate a gzip payload whose uncompressed length is DECLARED by the
    * block header. The declared length both sizes the output exactly (no
    * unbounded zip-bomb allocation — callers bound it by MaxBlockBytes
    * first) and is verified against the actual stream end: short data,
    * trailing garbage, or a lying header all throw rather than return a
    * silently-truncated block.
    */
  private[sources] def gunzip(b: Array[Byte], off: Int, len: Int,
                              uncompressedLen: Int): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(b, off, len), 1 << 13)
    val out = new Array[Byte](uncompressedLen)
    var p = 0
    while (p < uncompressedLen) {
      val r = in.read(out, p, uncompressedLen - p)
      require(r >= 0, s"gzip stream ended at $p of declared $uncompressedLen")
      p += r
    }
    require(in.read() < 0,
      s"gzip stream continues past declared length $uncompressedLen")
    out
  }

  /** Group size for the Hadoop block-codec framing below — Hadoop's
    * `io.compression.codec.{snappy,lz4}.buffersize` default (256 KiB).
    * Only blocks larger than this split into multiple groups; with the
    * 64 KiB default block size every block is a single group, matching
    * what Hadoop's SnappyCodec/Lz4Codec emit for the same bytes.
    */
  private val HadoopCodecGroupSize = 256 * 1024

  /** SNAPPY/LZ4 block payloads use the Hadoop block-stream framing
    * [public: o.a.h.io.compress.BlockCompressorStream — the stream both
    * Hadoop's SnappyCodec/Lz4Codec and HBase's pure-Java
    * hbase-compression-snappy / -lz4 modules produce]: per group of up to
    * bufferSize raw bytes, `rawLen:4 BE | compLen:4 BE | codec chunk`.
    * One codec chunk per group (Hadoop emits exactly one whenever the
    * group fits its buffer, which our write side guarantees by chunking
    * at the same 256 KiB).
    */
  private def hadoopBlockCompress(payload: Array[Byte])
                                 (chunk: (Array[Byte], Int, Int) => Array[Byte]): Array[Byte] = {
    require(payload.length > 0, "empty block payload (writer never emits one)")
    val out = new ByteArrayOutputStream(payload.length / 2 + 64)
    var off = 0
    while (off < payload.length) {
      val rawLen = math.min(HadoopCodecGroupSize, payload.length - off)
      val c = chunk(payload, off, rawLen)
      val hdr = ByteBuffer.allocate(8).putInt(rawLen).putInt(c.length).array()
      out.write(hdr, 0, 8)
      out.write(c, 0, c.length)
      off += rawLen
    }
    out.toByteArray
  }

  private def snappyCompress(payload: Array[Byte]): Array[Byte] =
    hadoopBlockCompress(payload) { (b, off, len) =>
      val buf = new Array[Byte](org.xerial.snappy.Snappy.maxCompressedLength(len))
      val n = org.xerial.snappy.Snappy.compress(b, off, len, buf, 0)
      java.util.Arrays.copyOf(buf, n)
    }

  private lazy val lz4Factory = net.jpountz.lz4.LZ4Factory.fastestInstance()

  private def lz4Compress(payload: Array[Byte]): Array[Byte] =
    hadoopBlockCompress(payload) { (b, off, len) =>
      lz4Factory.fastCompressor().compress(b, off, len)
    }

  /** ZSTD payloads are a standard zstd frame [public: RFC 8878; Hadoop's
    * ZStandardCodec and HBase's hbase-compression-zstd both emit plain
    * frames, no extra framing]. Level 3 is zstd's own default and what
    * HBase's `hbase.io.compress.zstd.level` defaults to.
    */
  private def zstdCompress(payload: Array[Byte]): Array[Byte] =
    com.github.luben.zstd.Zstd.compress(payload, 3)

  /** Compress one block payload per the file codec; [[CompressionNone]]
    * and unknown ordinals pass through (the writer `require`s the codec
    * set up front, so unknown can't reach here from our write path).
    */
  private[sources] def compressBlock(payload: Array[Byte], codec: Int): Array[Byte] =
    codec match {
      case CompressionGz => gzip(payload)
      case CompressionSnappy => snappyCompress(payload)
      case CompressionLz4 => lz4Compress(payload)
      case CompressionZstd => zstdCompress(payload)
      case _ => payload
    }

  /** Decompress a block payload whose codec is identified from its own
    * first bytes — the property that keeps every read path (including the
    * forward-only [[readStreaming]], which sees data blocks BEFORE the
    * trailer that records the codec) free of a codec parameter, exactly
    * like the sizes-differ ⟺ compressed rule one layer up. The sniff is
    * exact, not heuristic, for every codec this writer can produce:
    *   - GZ streams open `1f 8b`; as a Hadoop-framing group length that
    *     would declare a 528 MB group, > [[MaxBlockBytes]] — impossible.
    *   - ZSTD frames open `28 b5 2f fd` (RFC 8878 magic); as a group
    *     length that is 683 MB — impossible.
    *   - The Hadoop SNAPPY/LZ4 framing opens with a 4-byte BE group
    *     length ≤ 256 KiB, so its first byte is 0x00 — which no gzip or
    *     zstd stream starts with.
    * SNAPPY vs LZ4 inside the framing: a snappy chunk leads with a varint
    * of its own raw length, which for one-chunk-per-group files equals
    * the group's rawLen — checked first; whichever codec is picked must
    * then reproduce rawLen bytes exactly or the read throws (so a
    * coincidental varint match on an LZ4 chunk falls through to the LZ4
    * attempt rather than returning garbage).
    */
  private def decompress(b: Array[Byte], off: Int, len: Int,
                         uncompressedLen: Int): Array[Byte] = {
    require(len >= 4, s"compressed payload of $len B cannot hold any codec stream")
    val b0 = b(off) & 0xff
    if (b0 == 0x1f && (b(off + 1) & 0xff) == 0x8b)
      gunzip(b, off, len, uncompressedLen)
    else if (b0 == 0x28 && (b(off + 1) & 0xff) == 0xb5 &&
             (b(off + 2) & 0xff) == 0x2f && (b(off + 3) & 0xff) == 0xfd) {
      val frame = java.util.Arrays.copyOfRange(b, off, off + len)
      val out = com.github.luben.zstd.Zstd.decompress(frame, uncompressedLen)
      require(out.length == uncompressedLen,
        s"zstd frame yielded ${out.length} B of declared $uncompressedLen")
      out
    } else hadoopBlockDecompress(b, off, len, uncompressedLen)
  }

  /** Walk the Hadoop framing groups, decompressing each chunk with
    * whichever of SNAPPY/LZ4 validates (see [[decompress]] for why the
    * sniff is reliable); total output must land exactly on the declared
    * uncompressed length.
    */
  private def hadoopBlockDecompress(b: Array[Byte], off: Int, len: Int,
                                    uncompressedLen: Int): Array[Byte] = {
    val out = new Array[Byte](uncompressedLen)
    var p = off
    val end = off + len
    var produced = 0
    while (produced < uncompressedLen) {
      require(p + 8 <= end, s"truncated Hadoop codec framing at $p")
      val rawLen = ByteBuffer.wrap(b, p, 4).getInt
      val compLen = ByteBuffer.wrap(b, p + 4, 4).getInt
      require(rawLen > 0 && produced + rawLen <= uncompressedLen &&
        compLen > 0 && p + 8 + compLen <= end,
        s"implausible codec group rawLen=$rawLen compLen=$compLen at $p")
      val cOff = p + 8
      // snappy first iff its length preamble matches the group; either
      // choice is then verified by the produced byte count
      val snappyFirst =
        try org.xerial.snappy.Snappy.uncompressedLength(b, cOff, compLen) == rawLen
        catch { case _: Exception => false }
      val n =
        try {
          if (snappyFirst)
            org.xerial.snappy.Snappy.uncompress(b, cOff, compLen, out, produced)
          else
            lz4Factory.safeDecompressor()
              .decompress(b, cOff, compLen, out, produced, rawLen)
        } catch { case first: Exception =>
          try { // the other codec (coincidental preamble match / foreign file)
            if (snappyFirst)
              lz4Factory.safeDecompressor()
                .decompress(b, cOff, compLen, out, produced, rawLen)
            else
              org.xerial.snappy.Snappy.uncompress(b, cOff, compLen, out, produced)
          } catch { case _: Exception => throw first }
        }
      require(n == rawLen, s"codec group yielded $n B of declared $rawLen")
      produced += rawLen
      p = cOff + compLen
    }
    require(p == end, s"codec framing continues past declared length ($p of $end)")
    out
  }

  /** KeyValue type codes [public: o.a.h.hbase.KeyValue.Type]. Real HBase
    * delete scopes: `Delete` (8) masks the put at EXACTLY its timestamp,
    * `DeleteColumn` (12) masks every version of its (row, family,
    * qualifier) at-or-before its timestamp, `DeleteFamily` (14) — written
    * with an EMPTY qualifier, so KeyValue ordering places it before all
    * of the family's columns — masks every column of its (row, family)
    * at-or-before its timestamp. At equal (row, family, qualifier, ts)
    * the comparator orders HIGHER type codes first (deletes before puts).
    */
  val TypePut: Byte = 4
  val TypeDelete: Byte = 8
  val TypeDeleteColumn: Byte = 12
  val TypeDeleteFamily: Byte = 14

  /** One KeyValue. `memstoreTS` is the per-cell MVCC sequence id real
    * region servers persist after each cell (an Hadoop vlong, gated by
    * the `MAX_MEMSTORE_TS` file-info key); `tags` are the v3 per-cell
    * tag bytes (gated by `hfile.MAX_TAGS_LEN`). Both default empty so
    * bulk-load writers that predate them are unchanged; both round-trip
    * when the writer is asked to include them (r10 read-compat: a file
    * taken from a live cluster with either flag set parses correctly).
    */
  final case class HCell(row: Array[Byte], family: Array[Byte],
                         qualifier: Array[Byte], ts: Long, typ: Byte,
                         value: Array[Byte], memstoreTS: Long = 0L,
                         tags: Array[Byte] = Array.emptyByteArray) {
    /** The serialized key part (what block-index firstKey entries hold). */
    def keyBytes: Array[Byte] = {
      val buf = ByteBuffer.allocate(2 + row.length + 1 + family.length +
        qualifier.length + 8 + 1)
      buf.putShort(row.length.toShort).put(row)
        .put(family.length.toByte).put(family).put(qualifier)
        .putLong(ts).put(typ)
      buf.array()
    }
  }

  def encodeKeyValue(c: HCell): Array[Byte] = {
    val key = c.keyBytes
    val buf = ByteBuffer.allocate(4 + 4 + key.length + c.value.length)
    buf.putInt(key.length).putInt(c.value.length).put(key).put(c.value)
    buf.array()
  }

  /** Decode one KeyValue at `off`; returns (cell, offsetAfter).
    *
    * Every length is validated against the remaining bytes BEFORE any
    * allocation: a damaged/hostile buffer may only ever throw, never
    * allocate beyond the buffer it came from (OOM) or return a
    * non-advancing offset (`keyLen >= 12` forces `offsetAfter > off`,
    * so the block-decode loops cannot spin forever on e.g. keyLen = -8).
    */
  def decodeKeyValue(b: Array[Byte], off: Int): (HCell, Int) = {
    val buf = ByteBuffer.wrap(b, off, b.length - off)
    val keyLen = buf.getInt; val valLen = buf.getInt
    // minimum key: rowLen:2 + famLen:1 + ts:8 + type:1 with empty row/fam/qual
    require(keyLen >= 12 && valLen >= 0 &&
      keyLen.toLong + valLen <= b.length - off - 8L,
      s"bad KeyValue lengths keyLen=$keyLen valLen=$valLen at $off")
    val rowLen = buf.getShort
    require(rowLen >= 0, s"negative rowLen $rowLen at $off")
    val row = new Array[Byte](rowLen); buf.get(row)
    val famLen = buf.get
    require(famLen >= 0, s"negative famLen $famLen at $off")
    val fam = new Array[Byte](famLen); buf.get(fam)
    val qualLen = keyLen - 2 - rowLen - 1 - famLen - 8 - 1
    require(qualLen >= 0, s"row/family lengths exceed keyLen at $off")
    val qual = new Array[Byte](qualLen); buf.get(qual)
    val ts = buf.getLong; val typ = buf.get
    val value = new Array[Byte](valLen); buf.get(value)
    (HCell(row, fam, qual, ts, typ, value), off + 4 + 4 + keyLen + valLen)
  }

  /** Hadoop WritableUtils vint (positive case — lengths are never negative). */
  def writeVInt(out: ByteArrayOutputStream, i: Int): Unit = {
    if (i <= 127) out.write(i)
    else {
      var len = -112
      var tmp = i.toLong
      while (tmp != 0) { tmp >>= 8; len -= 1 }
      out.write(len)
      val n = -(len + 112)
      var idx = n
      while (idx != 0) {
        val shift = (idx - 1) * 8
        out.write(((i.toLong & (0xffL << shift)) >> shift).toInt)
        idx -= 1
      }
    }
  }

  def readVInt(b: Array[Byte], off: Int): (Int, Int) = {
    val first = b(off)
    if (first >= -112) (first.toInt, off + 1)
    else {
      val n = -(first + 112)
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 8) | (b(off + 1 + i) & 0xff); i += 1 }
      (v.toInt, off + 1 + n)
    }
  }

  /** Hadoop WritableUtils vlong, full spec including negatives — the
    * per-cell memstoreTS encoding [public: o.a.h.io.WritableUtils
    * .writeVLong]: values in [-112, 127] are one byte; otherwise a
    * length byte (-113.. for positive, -121.. for negative/inverted)
    * then big-endian magnitude bytes.
    */
  def writeVLong(out: ByteArrayOutputStream, value: Long): Unit = {
    if (value >= -112 && value <= 127) { out.write(value.toInt & 0xff); return }
    var len = -112
    var i = value
    if (i < 0) { i = ~i; len = -120 }
    var tmp = i
    while (tmp != 0) { tmp >>>= 8; len -= 1 }
    out.write(len & 0xff)
    val n = if (len < -120) -(len + 120) else -(len + 112)
    var idx = n
    while (idx != 0) {
      val shift = (idx - 1) * 8
      out.write(((i >>> shift) & 0xff).toInt)
      idx -= 1
    }
  }

  def readVLong(b: Array[Byte], off: Int): (Long, Int) = {
    require(off < b.length, s"vlong starts past the buffer at $off")
    val first = b(off)
    if (first >= -112) (first.toLong, off + 1)
    else {
      val neg = first < -120
      val n = if (neg) -(first + 120) else -(first + 112)
      require(n >= 1 && n <= 8 && off + 1 + n <= b.length,
        s"bad vlong length byte $first at $off")
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 8) | (b(off + 1 + i) & 0xff); i += 1 }
      (if (neg) ~v else v, off + 1 + n)
    }
  }

  // ----------------------------------------------- per-cell mvcc + tags
  // HFile v3 cells may carry two optional postfixes after the value,
  // gated by FILE-level file-info keys (HFileReaderImpl's open rules):
  //   - tags (file-info `hfile.MAX_TAGS_LEN` present): `tagsLen | tags`,
  //     tagsLen as a 2-byte BE short in plain KeyValue blocks and as a
  //     putCompressedInt in delta-encoded blocks [public: o.a.h.hbase
  //     .io.encoding.BufferedDataBlockEncoder.afterEncodingKeyValue]
  //   - mvcc/memstoreTS (file-info `MAX_MEMSTORE_TS` present): one
  //     Hadoop vlong per cell, always last
  // The flags are per FILE, decided at open from file-info presence —
  // never sniffed per block.

  /** Which optional per-cell postfixes this file carries. */
  final case class CellExtras(mvcc: Boolean, tags: Boolean) {
    def any: Boolean = mvcc || tags
  }
  val NoExtras: CellExtras = CellExtras(mvcc = false, tags = false)

  /** File-info keys gating the postfixes [public: o.a.h.hbase.io.hfile
    * .HFileWriterImpl — MAX_MEMSTORE_TS_KEY, HFileInfo.MAX_TAGS_LEN].
    */
  val MaxMemstoreTsKey = "MAX_MEMSTORE_TS"
  val MaxTagsLenKey = "hfile.MAX_TAGS_LEN"

  /** Derive a file's postfix flags from its parsed file-info map —
    * presence of the key is the gate, exactly HFileReaderImpl's
    * `shouldIncludeMemStoreTS` / tag-inclusion rules.
    */
  def extrasOf(info: Map[String, Array[Byte]]): CellExtras =
    CellExtras(info.contains(MaxMemstoreTsKey), info.contains(MaxTagsLenKey))

  /** Append a cell's postfix bytes (tags then mvcc) per the block's
    * encoding family. Shared by the plain and encoded write paths.
    */
  private def writeCellPostfix(out: ByteArrayOutputStream, c: HCell,
                               extras: CellExtras, encoded: Boolean): Unit = {
    if (extras.tags) {
      require(c.tags.length <= 0xffff, s"tags ${c.tags.length} B exceed u16")
      if (encoded) putCompressedInt(out, c.tags.length)
      else { out.write((c.tags.length >>> 8) & 0xff); out.write(c.tags.length & 0xff) }
      out.write(c.tags, 0, c.tags.length)
    }
    if (extras.mvcc) writeVLong(out, c.memstoreTS)
  }

  /** Consume a cell's postfix at `off`; returns (tags, memstoreTS,
    * offsetAfter). Hostile-input regime as everywhere: declared lengths
    * are bounds-checked before any allocation, and the offset strictly
    * advances whenever a postfix is present.
    */
  private def readCellPostfix(b: Array[Byte], off: Int, extras: CellExtras,
                              encoded: Boolean): (Array[Byte], Long, Int) = {
    var p = off
    var tags = Array.emptyByteArray
    if (extras.tags) {
      val tagsLen =
        if (encoded) { val (v, np) = readCompressedInt(b, p); p = np; v }
        else {
          require(p + 2 <= b.length, s"truncated tags length at $p")
          val v = ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff); p += 2; v
        }
      require(tagsLen >= 0 && tagsLen <= b.length - p,
        s"bad tags length $tagsLen at $off")
      if (tagsLen > 0) {
        tags = java.util.Arrays.copyOfRange(b, p, p + tagsLen)
        p += tagsLen
      }
    }
    var mts = 0L
    if (extras.mvcc) { val (v, np) = readVLong(b, p); mts = v; p = np }
    (tags, mts, p)
  }

  /** Postfix-aware wrapper used by every block iterator: reads the
    * postfix after an entry and attaches it to the cell.
    */
  private def withPostfix(c: HCell, b: Array[Byte], off: Int,
                          extras: CellExtras, encoded: Boolean): (HCell, Int) =
    if (!extras.any) (c, off)
    else {
      val (tg, mts, np) = readCellPostfix(b, off, extras, encoded)
      (c.copy(memstoreTS = mts, tags = tg), np)
    }

  // ---------------------------------------------- FAST_DIFF encoding
  // Per-entry wire layout [public: o.a.h.hbase.io.encoding
  // .FastDiffDeltaEncoder]:
  //   flag:1 | keyLen varint (absent if FLAG_SAME_KEY_LENGTH)
  //          | valLen varint (absent if FLAG_SAME_VALUE_LENGTH)
  //          | commonPrefix varint | key suffix | ts (1-8 bytes, LE)
  // (varints are ByteBufferUtils.putCompressedInt's LEB128 — the same
  // flavor PREFIX/DIFF use — NOT the Hadoop vint of the block index)
  //          | type:1 (absent if FLAG_SAME_TYPE)
  //          | value (absent if FLAG_SAME_VALUE)
  // where commonPrefix is the byte-wise common prefix of the flat key
  // (`rowLen:2 | row | famLen:1 | family | qualifier`, EXCLUDING the
  // trailing ts:8|type:1) against the previous entry's, and the key
  // suffix is the remaining keyPartLen - commonPrefix bytes. Both of the
  // reference encoder's write branches (row-differs: rest-of-row + full
  // family + full qualifier; row-common: qualifier tail only, family
  // elided because a fully-common row pushes the common prefix through
  // the — per-file-constant — family) emit exactly those bytes, so
  // decode is uniformly prefix-copy + suffix-read. Flag bits 0-2 hold
  // longFitsIn(ts) - 1; the timestamp is written little-endian in that
  // many bytes (ByteBufferUtils.putLong's order). Deviation: our region
  // files can mix column families in one block (real HBase never does —
  // one file per family); the raw-common-prefix rule stays correct for
  // our reader there, but a stock FastDiffDeltaEncoder seeker would
  // assume the family common once the row is, so multi-family blocks are
  // ours-only. Encoder state resets at every block boundary — each block
  // decodes standalone, as the seek paths require.

  private val MaskTimestampLen = 0x07 // bits 0-2: longFitsIn(ts) - 1
  private val FlagSameKeyLen = 1 << 3
  private val FlagSameValueLen = 1 << 4
  private val FlagSameType = 1 << 5
  private val FlagSameValue = 1 << 6

  /** Minimal byte count representing a non-negative long (negative → 8)
    * [public: o.a.h.hbase.util.ByteBufferUtils.longFitsIn].
    */
  private[sources] def longFitsIn(v: Long): Int =
    if (v < 0) 8
    else {
      var n = 1
      var x = v >>> 8
      while (x != 0L) { n += 1; x >>>= 8 }
      n
    }

  private def putLongLE(out: ByteArrayOutputStream, v: Long, n: Int): Unit = {
    var x = v
    var i = 0
    while (i < n) { out.write((x & 0xff).toInt); x >>>= 8; i += 1 }
  }

  private def readLongLE(b: Array[Byte], off: Int, n: Int): Long = {
    var v = 0L
    var i = 0
    while (i < n) { v |= (b(off + i) & 0xffL) << (8 * i); i += 1 }
    v
  }

  // ------------------------------------------------------- PREFIX encoding
  // Per-entry wire layout [public: o.a.h.hbase.io.encoding
  // .PrefixKeyDeltaEncoder]:
  //   keyLenLeft varint | valLen varint | commonPrefix varint
  //     | key suffix (keyLenLeft bytes) | value
  // where the varints are ByteBufferUtils.putCompressedInt's LEB128
  // (7-bit groups, 0x80 continuation — NOT the Hadoop vint the block
  // index uses), commonPrefix is the byte-wise common prefix of the FULL
  // flat key (`rowLen:2 | row | famLen:1 | family | qualifier | ts:8 |
  // type:1` — unlike FAST_DIFF, the ts/type tail participates), and
  // keyLenLeft = keyLen - commonPrefix. First entry: commonPrefix 0,
  // full key. Values are always stored whole. Encoder state resets at
  // every block boundary — each block decodes standalone.

  /** LEB128 varint [public: o.a.h.hbase.util.ByteBufferUtils
    * .putCompressedInt] — 7-bit groups, low first, 0x80 continuation.
    */
  def putCompressedInt(out: ByteArrayOutputStream, value: Int): Unit = {
    var v = value
    while ({
      val b = v & 0x7f
      v >>>= 7
      out.write(if (v != 0) b | 0x80 else b)
      v != 0
    }) ()
  }

  def readCompressedInt(b: Array[Byte], off: Int): (Int, Int) = {
    var v = 0; var shift = 0; var p = off
    while ({
      require(p < b.length && shift < 32, s"bad compressed int at $off")
      val byte = b(p); p += 1
      v |= (byte & 0x7f) << shift; shift += 7
      (byte & 0x80) != 0
    }) ()
    (v, p)
  }

  /** Incremental PREFIX block encoder — one instance per data block,
    * same standalone-block contract as [[FastDiffEncoder]].
    */
  private final class PrefixEncoder(out: ByteArrayOutputStream) extends BlockEncoder {
    private var prevKey: Array[Byte] = _

    def append(c: HCell): Unit = {
      val key = c.keyBytes
      var common = 0
      if (prevKey != null) {
        val lim = math.min(key.length, prevKey.length)
        while (common < lim && key(common) == prevKey(common)) common += 1
      }
      putCompressedInt(out, key.length - common)
      putCompressedInt(out, c.value.length)
      putCompressedInt(out, common)
      out.write(key, common, key.length - common)
      out.write(c.value, 0, c.value.length)
      prevKey = key
    }
  }

  /** Decode one PREFIX block payload (entries start at `start`, after the
    * 2-byte encoding id) — same hostile-input regime as
    * [[fastDiffIterator]]: every declared length validated before any
    * allocation; each entry consumes ≥ 3 bytes, so the loop always
    * advances.
    */
  private[sources] def prefixIterator(payload: Array[Byte], start: Int,
                                      extras: CellExtras = NoExtras): Iterator[HCell] =
    new Iterator[HCell] {
      private var p = start
      private var key: Array[Byte] = _

      def hasNext: Boolean = p < payload.length

      def next(): HCell = {
        val (keyLenLeft, p1) = readCompressedInt(payload, p)
        val (valLen, p2) = readCompressedInt(payload, p1)
        val (common, p3) = readCompressedInt(payload, p2)
        p = p3
        val keyLen = common + keyLenLeft
        require(keyLenLeft >= 0 && valLen >= 0 && common >= 0 &&
          keyLen >= 12 &&
          (common == 0 || (key != null && common <= key.length)),
          s"bad PREFIX lengths keyLenLeft=$keyLenLeft valLen=$valLen " +
            s"common=$common at $p")
        require(keyLenLeft.toLong + valLen <= payload.length - p,
          s"PREFIX entry runs past the block at $p")
        val nk = new Array[Byte](keyLen)
        if (common > 0) System.arraycopy(key, 0, nk, 0, common)
        System.arraycopy(payload, p, nk, common, keyLenLeft)
        p += keyLenLeft
        val value = java.util.Arrays.copyOfRange(payload, p, p + valLen)
        p += valLen
        key = nk
        // flat key: rowLen:2 | row | famLen:1 | family | qualifier | ts:8 | type:1
        val rowLen = ((nk(0) & 0xff) << 8) | (nk(1) & 0xff)
        require(2 + rowLen + 1 <= keyLen - 9, s"row length $rowLen exceeds key")
        val famLen = nk(2 + rowLen) & 0xff
        require(2 + rowLen + 1 + famLen <= keyLen - 9,
          s"family length $famLen exceeds key")
        val ts = ByteBuffer.wrap(nk, keyLen - 9, 8).getLong
        val c0 = HCell(java.util.Arrays.copyOfRange(nk, 2, 2 + rowLen),
          java.util.Arrays.copyOfRange(nk, 2 + rowLen + 1, 2 + rowLen + 1 + famLen),
          java.util.Arrays.copyOfRange(nk, 2 + rowLen + 1 + famLen, keyLen - 9),
          ts, nk(keyLen - 1), value)
        val (c, np) = withPostfix(c0, payload, p, extras, encoded = true)
        p = np
        c
      }
    }

  /** The one interface all block encoders share — [[write]] holds a
    * `BlockEncoder` and never cares which encoding is active. `finish()`
    * runs once at block close, for encodings with a trailing section
    * (ROW_INDEX_V1's offset array); the delta encoders need nothing.
    */
  private sealed trait BlockEncoder {
    def append(c: HCell): Unit
    def finish(): Unit = ()
  }

  // --------------------------------------------------------- DIFF encoding
  // Per-entry wire layout [public: o.a.h.hbase.io.encoding
  // .DiffKeyDeltaEncoder]:
  //   flag:1 | keyLen varint (absent if FLAG_SAME_KEY_LENGTH)
  //          | valLen varint (absent if FLAG_SAME_VALUE_LENGTH)
  //          | commonPrefix varint | key suffix | ts (1-8 bytes, LE)
  //          | type:1 (absent if FLAG_SAME_TYPE) | value (always whole)
  // Like FAST_DIFF the common prefix excludes the ts:8|type:1 tail and
  // varints are LEB128 compressed ints; unlike FAST_DIFF there is no
  // FLAG_SAME_VALUE (values are always stored) and the timestamp may be
  // stored as a DIFF against the previous entry's: bits 4-6 hold the
  // stored byte count - 1, bit 3 (FLAG_TIMESTAMP_IS_DIFF) marks
  // `prevTs - ts` instead of the absolute value, and bit 7
  // (FLAG_TIMESTAMP_SIGN) marks a negated stored value — the encoder
  // picks whichever representation is shorter.

  private val DiffFlagSameKeyLen = 1
  private val DiffFlagSameValueLen = 1 << 1
  private val DiffFlagSameType = 1 << 2
  private val DiffFlagTsIsDiff = 1 << 3
  private val DiffMaskTsLen = 0x70 // bits 4-6: stored ts byte count - 1
  private val DiffShiftTsLen = 4
  private val DiffFlagTsSign = 1 << 7

  /** Incremental DIFF block encoder — one instance per data block, same
    * standalone-block contract as the other encoders.
    */
  private final class DiffEncoder(out: ByteArrayOutputStream) extends BlockEncoder {
    private var prevKeyPart: Array[Byte] = _ // flat key minus ts:8|type:1
    private var prevKeyLen = -1
    private var prevValLen = -1
    private var prevType: Byte = 0
    private var prevTs = 0L

    def append(c: HCell): Unit = {
      val key = c.keyBytes
      val keyLen = key.length
      val keyPart = java.util.Arrays.copyOfRange(key, 0, keyLen - 9)
      var flag = 0
      // timestamp representation: absolute, or diff vs prev when shorter
      var tsStore = c.ts
      var isDiff = false
      if (prevKeyPart != null) {
        val diff = prevTs - c.ts
        val absDiff = if (diff < 0) -diff else diff
        val absTs = if (c.ts < 0) -c.ts else c.ts
        if (longFitsIn(absDiff) < longFitsIn(absTs)) { tsStore = diff; isDiff = true }
      }
      if (isDiff) flag |= DiffFlagTsIsDiff
      if (tsStore < 0) { flag |= DiffFlagTsSign; tsStore = -tsStore }
      val tsBytes = longFitsIn(tsStore)
      flag |= (tsBytes - 1) << DiffShiftTsLen
      var commonPrefix = 0
      if (prevKeyPart == null) {
        out.write(flag)
        putCompressedInt(out, keyLen)
        putCompressedInt(out, c.value.length)
        putCompressedInt(out, 0)
      } else {
        if (keyLen == prevKeyLen) flag |= DiffFlagSameKeyLen
        if (c.value.length == prevValLen) flag |= DiffFlagSameValueLen
        if (c.typ == prevType) flag |= DiffFlagSameType
        val lim = math.min(keyPart.length, prevKeyPart.length)
        while (commonPrefix < lim && keyPart(commonPrefix) == prevKeyPart(commonPrefix))
          commonPrefix += 1
        out.write(flag)
        if ((flag & DiffFlagSameKeyLen) == 0) putCompressedInt(out, keyLen)
        if ((flag & DiffFlagSameValueLen) == 0) putCompressedInt(out, c.value.length)
        putCompressedInt(out, commonPrefix)
      }
      out.write(keyPart, commonPrefix, keyPart.length - commonPrefix)
      putLongLE(out, tsStore, tsBytes)
      if ((flag & DiffFlagSameType) == 0) out.write(c.typ.toInt)
      out.write(c.value, 0, c.value.length)
      prevKeyPart = keyPart; prevKeyLen = keyLen
      prevValLen = c.value.length; prevType = c.typ; prevTs = c.ts
    }
  }

  /** Decode one DIFF block payload — same hostile-input regime as
    * [[fastDiffIterator]]: every declared length validated before any
    * allocation, each entry consumes ≥ 3 bytes so the loop always
    * advances.
    */
  private[sources] def diffIterator(payload: Array[Byte], start: Int,
                                    extras: CellExtras = NoExtras): Iterator[HCell] =
    new Iterator[HCell] {
      private var p = start
      private var keyPart: Array[Byte] = _
      private var keyLen = 0
      private var valLen = 0
      private var typ: Byte = 0
      private var prevTs = 0L

      def hasNext: Boolean = p < payload.length

      def next(): HCell = {
        val flag = payload(p) & 0xff; p += 1
        if (keyPart == null)
          require((flag & (DiffFlagSameKeyLen | DiffFlagSameValueLen |
            DiffFlagSameType | DiffFlagTsIsDiff)) == 0,
            s"first DIFF entry references a predecessor (flag $flag)")
        if ((flag & DiffFlagSameKeyLen) == 0) {
          val (v, np) = readCompressedInt(payload, p); keyLen = v; p = np
        }
        if ((flag & DiffFlagSameValueLen) == 0) {
          val (v, np) = readCompressedInt(payload, p); valLen = v; p = np
        }
        val (commonPrefix, np2) = readCompressedInt(payload, p); p = np2
        val partLen = keyLen - 9
        require(keyLen >= 12 && valLen >= 0 && commonPrefix >= 0 &&
          commonPrefix <= partLen &&
          (commonPrefix == 0 || (keyPart != null && commonPrefix <= keyPart.length)),
          s"bad DIFF lengths keyLen=$keyLen valLen=$valLen " +
            s"commonPrefix=$commonPrefix at $p")
        require(partLen - commonPrefix <= payload.length - p,
          s"DIFF key suffix runs past the block at $p")
        val nk = new Array[Byte](partLen)
        if (commonPrefix > 0) System.arraycopy(keyPart, 0, nk, 0, commonPrefix)
        System.arraycopy(payload, p, nk, commonPrefix, partLen - commonPrefix)
        p += partLen - commonPrefix
        val tsLen = ((flag & DiffMaskTsLen) >> DiffShiftTsLen) + 1
        require(tsLen <= payload.length - p,
          s"DIFF timestamp runs past the block at $p")
        var tsStore = readLongLE(payload, p, tsLen); p += tsLen
        if ((flag & DiffFlagTsSign) != 0) tsStore = -tsStore
        val ts = if ((flag & DiffFlagTsIsDiff) != 0) prevTs - tsStore else tsStore
        if ((flag & DiffFlagSameType) == 0) {
          require(p < payload.length, s"DIFF type runs past the block")
          typ = payload(p); p += 1
        }
        require(valLen <= payload.length - p,
          s"DIFF value $valLen B runs past the block at $p")
        val value = java.util.Arrays.copyOfRange(payload, p, p + valLen)
        p += valLen
        keyPart = nk; prevTs = ts
        val rowLen = ((nk(0) & 0xff) << 8) | (nk(1) & 0xff)
        require(2 + rowLen + 1 <= partLen, s"row length $rowLen exceeds key")
        val famLen = nk(2 + rowLen) & 0xff
        require(2 + rowLen + 1 + famLen <= partLen,
          s"family length $famLen exceeds key")
        val c0 = HCell(java.util.Arrays.copyOfRange(nk, 2, 2 + rowLen),
          java.util.Arrays.copyOfRange(nk, 2 + rowLen + 1, 2 + rowLen + 1 + famLen),
          java.util.Arrays.copyOfRange(nk, 2 + rowLen + 1 + famLen, partLen),
          ts, typ, value)
        val (c, np) = withPostfix(c0, payload, p, extras, encoded = true)
        p = np
        c
      }
    }

  /** Incremental FAST_DIFF block encoder. One instance per data block —
    * the per-block reset is what lets the index-directed seek paths
    * decode any block without its predecessors.
    */
  private final class FastDiffEncoder(out: ByteArrayOutputStream) extends BlockEncoder {
    private var prevKeyPart: Array[Byte] = _ // flat key minus ts:8|type:1
    private var prevKeyLen = -1
    private var prevType: Byte = 0
    private var prevValue: Array[Byte] = _

    def append(c: HCell): Unit = {
      val key = c.keyBytes
      val keyLen = key.length
      val keyPart = java.util.Arrays.copyOfRange(key, 0, keyLen - 9)
      val tsBytes = longFitsIn(c.ts)
      var flag = tsBytes - 1
      var commonPrefix = 0
      var sameValue = false
      if (prevKeyPart == null) {
        // first entry of the block: full key/val lengths, no sharing
        out.write(flag)
        putCompressedInt(out, keyLen)
        putCompressedInt(out, c.value.length)
        putCompressedInt(out, 0)
      } else {
        if (keyLen == prevKeyLen) flag |= FlagSameKeyLen
        if (c.value.length == prevValue.length) flag |= FlagSameValueLen
        if (c.typ == prevType) flag |= FlagSameType
        sameValue = java.util.Arrays.equals(c.value, prevValue)
        if (sameValue) flag |= FlagSameValue
        val lim = math.min(keyPart.length, prevKeyPart.length)
        while (commonPrefix < lim && keyPart(commonPrefix) == prevKeyPart(commonPrefix))
          commonPrefix += 1
        out.write(flag)
        if ((flag & FlagSameKeyLen) == 0) putCompressedInt(out, keyLen)
        if ((flag & FlagSameValueLen) == 0) putCompressedInt(out, c.value.length)
        putCompressedInt(out, commonPrefix)
      }
      out.write(keyPart, commonPrefix, keyPart.length - commonPrefix)
      putLongLE(out, c.ts, tsBytes)
      if ((flag & FlagSameType) == 0) out.write(c.typ.toInt)
      if (!sameValue) out.write(c.value, 0, c.value.length)
      prevKeyPart = keyPart; prevKeyLen = keyLen
      prevType = c.typ; prevValue = c.value
    }
  }

  /** Decode one FAST_DIFF block payload (entries start at `start`, after
    * the 2-byte encoding id). Every declared length is validated against
    * the remaining bytes BEFORE any allocation or copy, the same hostile-
    * input regime as [[decodeKeyValue]]: damaged input may only throw,
    * never over-allocate or fail to advance (each entry consumes ≥ 3
    * bytes — flag, commonPrefix vint, ≥1 timestamp byte).
    */
  private[sources] def fastDiffIterator(payload: Array[Byte], start: Int,
                                        extras: CellExtras = NoExtras): Iterator[HCell] =
    new Iterator[HCell] {
      private var p = start
      private var keyPart: Array[Byte] = _
      private var keyLen = 0
      private var valLen = 0
      private var typ: Byte = 0
      private var value: Array[Byte] = _

      def hasNext: Boolean = p < payload.length

      def next(): HCell = {
        val flag = payload(p) & 0xff; p += 1
        if (keyPart == null)
          require((flag & (FlagSameKeyLen | FlagSameValueLen | FlagSameType |
            FlagSameValue)) == 0,
            s"first FAST_DIFF entry references a predecessor (flag $flag)")
        if ((flag & FlagSameKeyLen) == 0) {
          val (v, np) = readCompressedInt(payload, p); keyLen = v; p = np
        }
        if ((flag & FlagSameValueLen) == 0) {
          val (v, np) = readCompressedInt(payload, p); valLen = v; p = np
        }
        val (commonPrefix, np2) = readCompressedInt(payload, p); p = np2
        val partLen = keyLen - 9
        // same minimum as decodeKeyValue: rowLen:2 + famLen:1 + ts + type
        require(keyLen >= 12 && valLen >= 0 && commonPrefix >= 0 &&
          commonPrefix <= partLen &&
          (commonPrefix == 0 || (keyPart != null && commonPrefix <= keyPart.length)),
          s"bad FAST_DIFF lengths keyLen=$keyLen valLen=$valLen " +
            s"commonPrefix=$commonPrefix at $p")
        require(partLen - commonPrefix <= payload.length - p,
          s"FAST_DIFF key suffix runs past the block at $p")
        val nk = new Array[Byte](partLen)
        if (commonPrefix > 0) System.arraycopy(keyPart, 0, nk, 0, commonPrefix)
        System.arraycopy(payload, p, nk, commonPrefix, partLen - commonPrefix)
        p += partLen - commonPrefix
        val tsLen = (flag & MaskTimestampLen) + 1
        require(tsLen <= payload.length - p,
          s"FAST_DIFF timestamp runs past the block at $p")
        val ts = readLongLE(payload, p, tsLen); p += tsLen
        if ((flag & FlagSameType) == 0) {
          require(p < payload.length, s"FAST_DIFF type runs past the block")
          typ = payload(p); p += 1
        }
        if ((flag & FlagSameValue) == 0) {
          require(valLen <= payload.length - p,
            s"FAST_DIFF value $valLen B runs past the block at $p")
          value = java.util.Arrays.copyOfRange(payload, p, p + valLen)
          p += valLen
        } else require(value.length == valLen,
          s"FLAG_SAME_VALUE with mismatched length $valLen vs ${value.length}")
        keyPart = nk
        val rowLen = ((nk(0) & 0xff) << 8) | (nk(1) & 0xff)
        require(2 + rowLen + 1 <= partLen, s"row length $rowLen exceeds key")
        val famLen = nk(2 + rowLen) & 0xff
        require(2 + rowLen + 1 + famLen <= partLen,
          s"family length $famLen exceeds key")
        val c0 = HCell(java.util.Arrays.copyOfRange(nk, 2, 2 + rowLen),
          java.util.Arrays.copyOfRange(nk, 2 + rowLen + 1, 2 + rowLen + 1 + famLen),
          java.util.Arrays.copyOfRange(nk, 2 + rowLen + 1 + famLen, partLen),
          ts, typ, value)
        val (c, np) = withPostfix(c0, payload, p, extras, encoded = true)
        p = np
        c
      }
    }

  // ------------------------------------------------- ROW_INDEX_V1 encoding
  // Block payload layout [public: o.a.h.hbase.io.encoding.RowIndexCodecV1 /
  // RowIndexEncoderV1 / RowIndexSeekerV1], after the 2-byte encoding id:
  //   cells (unencoded KeyValues, NoneEncoder's keyLen:4|valLen:4|key|value)
  //   | rowNumber:4 | rowOffset:4 × rowNumber | dataLen:4
  // where rowOffset[i] is the offset (relative to the first cell byte) of
  // row i's FIRST cell and the trailing int is the byte length of the cell
  // section — the seeker finds the index by reading the block's last int.
  // Cells are stored verbatim, so the encoding trades ~4 B per row of extra
  // size for O(log rows) in-block seeks (the delta encodings can only scan
  // forward from the block start).

  private def putIntBE(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write((v >>> 24) & 0xff); out.write((v >>> 16) & 0xff)
    out.write((v >>> 8) & 0xff); out.write(v & 0xff)
  }

  /** ROW_INDEX_V1 block encoder — cells pass through unencoded; the
    * per-row offset array is buffered (4 B per distinct row, bounded by
    * blockSize/20 entries) and appended by [[finish]].
    */
  private final class RowIndexEncoder(out: ByteArrayOutputStream) extends BlockEncoder {
    private val base = out.size() // first cell byte, after the 2-byte id
    private val offsets = ArrayBuffer.empty[Int]
    private var prevRow: Array[Byte] = _

    def append(c: HCell): Unit = {
      if (prevRow == null || !java.util.Arrays.equals(prevRow, c.row))
        offsets += out.size() - base
      prevRow = c.row
      val kv = encodeKeyValue(c)
      out.write(kv, 0, kv.length)
    }

    override def finish(): Unit = {
      val dataLen = out.size() - base
      putIntBE(out, offsets.length)
      offsets.foreach(putIntBE(out, _))
      putIntBE(out, dataLen)
    }
  }

  /** Validate a ROW_INDEX_V1 block's trailing index section and return
    * (dataLen, rowCount, offset-array position). Same hostile-input
    * regime as the delta decoders: the three sections must tile the
    * payload exactly, so a damaged length can only throw, never send a
    * reader into the offset array or past the buffer.
    */
  private[sources] def rowIndexParts(payload: Array[Byte],
                                     start: Int): (Int, Int, Int) = {
    require(payload.length - start >= 8,
      s"ROW_INDEX_V1 block too short (${payload.length - start} B after the id)")
    val dataLen = ByteBuffer.wrap(payload, payload.length - 4, 4).getInt
    require(dataLen >= 0 && dataLen <= payload.length - start - 8,
      s"bad ROW_INDEX_V1 data length $dataLen")
    val rowCount = ByteBuffer.wrap(payload, start + dataLen, 4).getInt
    require(rowCount >= 0 &&
      start + dataLen + 4 + 4L * rowCount + 4 == payload.length,
      s"ROW_INDEX_V1 offset array (rows=$rowCount) doesn't tile the block")
    (dataLen, rowCount, start + dataLen + 4)
  }

  /** Decode a ROW_INDEX_V1 block's cell section in order (the full-scan
    * read paths; the seek paths use [[rowIndexSeek]]).
    */
  private[graft] def rowIndexIterator(payload: Array[Byte], start: Int,
                                      extras: CellExtras = NoExtras): Iterator[HCell] = {
    val (dataLen, _, _) = rowIndexParts(payload, start)
    val dataEnd = start + dataLen
    new Iterator[HCell] {
      private var q = start
      def hasNext: Boolean = q < dataEnd
      def next(): HCell = {
        // ROW_INDEX_V1 stores verbatim KeyValues, so the postfix uses the
        // plain KV layout (2-byte tags length), not the delta encoders'
        // compressed int
        val (c0, nq0) = decodeKeyValue(payload, q)
        val (c, nq) = withPostfix(c0, payload, nq0, extras, encoded = false)
        require(nq <= dataEnd,
          s"ROW_INDEX_V1 cell at $q runs into the offset array")
        q = nq; c
      }
    }
  }

  /** Binary-search the row offset array for the first row ≥ `fromRow`
    * and iterate cells from there (RowIndexSeekerV1's seekToKeyInBlock
    * shape): O(log rows) comparisons instead of decoding the block
    * prefix. Point gets take cells while the row matches; range scans
    * filter against the stop row.
    */
  private[graft] def rowIndexSeek(payload: Array[Byte], start: Int,
                                    fromRow: Array[Byte],
                                    extras: CellExtras = NoExtras): Iterator[HCell] = {
    val (dataLen, rowCount, offBase) = rowIndexParts(payload, start)
    val dataEnd = start + dataLen
    // (absolute cell position, row bytes) of row-index entry i, every
    // declared offset/length validated against the cell section first
    def rowAt(i: Int): (Int, Array[Byte]) = {
      val o = ByteBuffer.wrap(payload, offBase + 4 * i, 4).getInt
      require(o >= 0 && o + 12 <= dataLen,
        s"bad ROW_INDEX_V1 row offset $o (data section $dataLen B)")
      val p = start + o
      val rowLen = ((payload(p + 8) & 0xff) << 8) | (payload(p + 9) & 0xff)
      require(o + 10 + rowLen <= dataLen,
        s"ROW_INDEX_V1 row at offset $o exceeds the data section")
      (p, java.util.Arrays.copyOfRange(payload, p + 10, p + 10 + rowLen))
    }
    var lo = 0
    var hi = rowCount
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (java.util.Arrays.compareUnsigned(rowAt(mid)._2, fromRow) < 0) lo = mid + 1
      else hi = mid
    }
    if (lo == rowCount) Iterator.empty
    else {
      val p0 = rowAt(lo)._1
      new Iterator[HCell] {
        private var q = p0
        def hasNext: Boolean = q < dataEnd
        def next(): HCell = {
          val (c0, nq0) = decodeKeyValue(payload, q)
          val (c, nq) = withPostfix(c0, payload, nq0, extras, encoded = false)
          require(nq <= dataEnd,
            s"ROW_INDEX_V1 cell at $q runs into the offset array")
          q = nq; c
        }
      }
    }
  }

  /** The 2-byte big-endian encoding id leading an encoded block payload. */
  private[graft] def encodingIdOf(payload: Array[Byte]): Int = {
    require(payload.length >= 2, "encoded data block shorter than its id")
    ((payload(0) & 0xff) << 8) | (payload(1) & 0xff)
  }

  /** Cell iterator over one data block's UNCOMPRESSED payload, plain or
    * encoded — the payload decode under [[blockCells]]. `encoded` comes
    * from the block's own magic (`DATABLKE`), and the payload's leading
    * 2-byte id picks the encoding.
    */
  private def dataBlockCells(payload: Array[Byte], encoded: Boolean,
                             extras: CellExtras = NoExtras): Iterator[HCell] =
    if (!encoded)
      new Iterator[HCell] {
        private var q = 0
        def hasNext: Boolean = q < payload.length
        def next(): HCell = {
          val (c0, nq0) = decodeKeyValue(payload, q)
          val (c, nq) = withPostfix(c0, payload, nq0, extras, encoded = false)
          q = nq; c
        }
      }
    else encodingIdOf(payload) match {
      case EncodingFastDiff => fastDiffIterator(payload, 2, extras)
      case EncodingPrefix => prefixIterator(payload, 2, extras)
      case EncodingDiff => diffIterator(payload, 2, extras)
      case EncodingRowIndexV1 => rowIndexIterator(payload, 2, extras)
      case other => throw new IllegalArgumentException(
        s"unsupported data block encoding id $other " +
          "(PREFIX=2, DIFF=3, FAST_DIFF=4, ROW_INDEX_V1=7)")
    }

  /** CRC32C sums over the logical concatenation of `parts` (each a
    * (buffer, offset, length) segment), one 4-byte BE word per `bpc`-byte
    * chunk — segment form so the writer (header and payload in separate
    * buffers) shares one implementation with the contiguous-buffer verify
    * path, no copies anywhere.
    */
  private def checksumChunks(bpc: Int,
      parts: (Array[Byte], Int, Int)*): Array[Byte] = {
    val total = parts.iterator.map(_._3.toLong).sum
    val n = ((total + bpc - 1) / bpc).toInt
    val out = ByteBuffer.allocate(4 * n)
    val crc = new java.util.zip.CRC32C
    var i = 0
    while (i < n) {
      val lo = i.toLong * bpc
      val hi = math.min(total, lo + bpc)
      crc.reset()
      var segStart = 0L
      parts.foreach { case (b, off, len) =>
        val s = math.max(lo, segStart)
        val e = math.min(hi, segStart + len)
        if (e > s) crc.update(b, off + (s - segStart).toInt, (e - s).toInt)
        segStart += len
      }
      out.putInt(crc.getValue.toInt)
      i += 1
    }
    out.array()
  }

  /** Verify a contiguous block's checksum chunks against its header's
    * declared type; damaged data throws, NULL-checksum blocks return
    * immediately. Called by [[blockPayload]] only, so every read verifies.
    */
  private def verifyChecksums(block: Array[Byte], hdrOff: Int): Unit = {
    val ctype = block(hdrOff + 24)
    if (ctype == ChecksumNull) return
    require(ctype == ChecksumCrc32c,
      s"unsupported checksum type $ctype (NULL=0, CRC32C=2)")
    val bpc = ByteBuffer.wrap(block, hdrOff + 25, 4).getInt
    require(bpc > 0, s"bad bytesPerChecksum $bpc")
    val dataWithHeader = ByteBuffer.wrap(block, hdrOff + 29, 4).getInt
    require(dataWithHeader >= HeaderSize &&
      dataWithHeader <= MaxBlockBytes + HeaderSize,
      s"implausible onDiskDataSizeWithHeader $dataWithHeader")
    val nChunks = ((dataWithHeader.toLong + bpc - 1) / bpc).toInt
    require(hdrOff.toLong + dataWithHeader + 4L * nChunks <= block.length,
      s"checksum chunks run past the buffer at $hdrOff")
    val expect = checksumChunks(bpc, (block, hdrOff, dataWithHeader))
    var i = 0
    while (i < nChunks) {
      val stored = ByteBuffer.wrap(block, hdrOff + dataWithHeader + 4 * i, 4).getInt
      val computed = ByteBuffer.wrap(expect, 4 * i, 4).getInt
      require(stored == computed,
        f"CRC32C mismatch in chunk $i of block at $hdrOff: " +
          f"stored 0x$stored%08x, computed 0x$computed%08x")
      i += 1
    }
  }

  private def blockHeader(magic: Array[Byte], onDiskLen: Int,
                          uncompressedLen: Int, checksumType: Int,
                          dataWithHeader: Int): Array[Byte] = {
    val buf = ByteBuffer.allocate(HeaderSize)
    buf.put(magic)
      .putInt(onDiskLen)                      // onDiskSizeWithoutHeader (incl. checksums)
      .putInt(uncompressedLen)                // uncompressedSizeWithoutHeader
      .putLong(-1L)                           // prevBlockOffset (unused by our reader)
      .put(checksumType.toByte)
      .putInt(BytesPerChecksum)
      .putInt(dataWithHeader)                 // onDiskDataSizeWithHeader (excl. checksums)
    buf.array()
  }

  /** The UNCOMPRESSED payload of the block whose header starts at
    * `hdrOff` — the one read-side seam every block consumer goes through.
    * Checksums are verified first (per the header's own declared type, so
    * NULL-checksum files from either writer setting read fine), then
    * compression is detected from the header itself (DATA length differs
    * from uncompressed length ⟺ payload is gzip — the writer's equal-size
    * fallback makes this exact; the data length is
    * `onDiskDataSizeWithHeader - HeaderSize`, NOT `onDiskSizeWithoutHeader`,
    * which includes the trailing checksum bytes), so index / bloom / data
    * readers need no codec parameter. Every declared length is
    * bounds-checked BEFORE any allocation; damaged input may only throw,
    * never over-allocate.
    */
  private[graft] def blockPayload(block: Array[Byte], hdrOff: Int): Array[Byte] = {
    val onDiskLen = declaredOnDiskLen(block, hdrOff)
    require(hdrOff.toLong + HeaderSize + onDiskLen <= block.length,
      s"block payload $onDiskLen B at $hdrOff runs past the buffer")
    verifyChecksums(block, hdrOff)
    val uncompressedLen = ByteBuffer.wrap(block, hdrOff + 12, 4).getInt
    val dataLen = ByteBuffer.wrap(block, hdrOff + 29, 4).getInt - HeaderSize
    if (dataLen == uncompressedLen)
      java.util.Arrays.copyOfRange(block, hdrOff + HeaderSize,
        hdrOff + HeaderSize + dataLen)
    else decompress(block, hdrOff + HeaderSize, dataLen, uncompressedLen)
  }

  /** The on-disk length (checksums included) that the block header at
    * `hdrOff` declares, once every length the header declares is in
    * bounds — the check that precedes any allocation a header sizes.
    */
  private def declaredOnDiskLen(b: Array[Byte], hdrOff: Int): Int = {
    val onDiskLen = ByteBuffer.wrap(b, hdrOff + 8, 4).getInt
    val uncompressedLen = ByteBuffer.wrap(b, hdrOff + 12, 4).getInt
    val dataWithHeader = ByteBuffer.wrap(b, hdrOff + 29, 4).getInt
    require(onDiskLen >= 0 && onDiskLen <= MaxBlockBytes &&
      uncompressedLen >= 0 && uncompressedLen <= MaxBlockBytes,
      s"implausible block lengths onDisk=$onDiskLen uncompressed=$uncompressedLen at $hdrOff")
    val dataLen = dataWithHeader - HeaderSize
    require(dataLen >= 0 && dataLen <= onDiskLen,
      s"implausible onDiskDataSizeWithHeader $dataWithHeader at $hdrOff")
    onDiskLen
  }

  /** Index entry serialization, shared by the root and intermediate
    * levels (the on-disk layout is identical: `offset:8 | onDiskSize:4 |
    * vint keyLen | firstKey`).
    */
  private def serializeIndexEntries(
      entries: Iterable[(Long, Int, Array[Byte])]): Array[Byte] = {
    val idx = new ByteArrayOutputStream()
    entries.foreach { case (off, size, key) =>
      val e = ByteBuffer.allocate(12).putLong(off).putInt(size).array()
      idx.write(e, 0, 12)
      writeVInt(idx, key.length)
      idx.write(key, 0, key.length)
    }
    idx.toByteArray
  }

  /** Double hash of a row key for the bloom's k probe positions
    * (g_i = h1 + i·h2, the standard Kirsch–Mitzenmacher composition).
    */
  private[sources] def bloomHashes(row: Array[Byte]): (Long, Long) = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.Platform
    (XXH64.hashUnsafeBytes(row, Platform.BYTE_ARRAY_OFFSET, row.length, 0x9747b28cL),
      XXH64.hashUnsafeBytes(row, Platform.BYTE_ARRAY_OFFSET, row.length, 0x41c64e6dL))
  }

  /** Kept as Long end-to-end: mBits exceeds Int.MaxValue once a chunk
    * holds > ~214M keys, and an Int truncation there yields negative /
    * aliased bit indices (AIOOBE on write, silent false negatives on
    * read).
    */
  private def bloomBitFor(h1: Long, h2: Long, i: Int, mBits: Long): Long =
    ((h1 + i * h2) & Long.MaxValue) % mBits

  /** One serialized bloom chunk: `k:4 | mBits:8 | bits` (longs, BE). */
  private def bloomChunkPayload(hashes: ArrayBuffer[(Long, Long)]): Array[Byte] = {
    val mBits = math.max(64L, hashes.size.toLong * BloomBitsPerKey)
    val words = new Array[Long](((mBits + 63) / 64).toInt)
    hashes.foreach { case (h1, h2) =>
      var i = 0
      while (i < BloomHashCount) {
        val bit = bloomBitFor(h1, h2, i, mBits)
        words((bit >>> 6).toInt) |= 1L << (bit & 63)
        i += 1
      }
    }
    val buf = ByteBuffer.allocate(4 + 8 + words.length * 8)
    buf.putInt(BloomHashCount).putLong(mBits)
    words.foreach(buf.putLong)
    buf.array()
  }

  /** Test one serialized chunk (payload at `off`, after the header). */
  private def bloomChunkContains(chunk: Array[Byte], off: Int,
                                 row: Array[Byte]): Boolean = {
    val buf = ByteBuffer.wrap(chunk, off, chunk.length - off)
    val k = buf.getInt
    val mBits = buf.getLong
    // Damaged header sanity: a bloom may only ever PRUNE. If k/mBits are
    // implausible or the declared bit array doesn't fit in the chunk,
    // fail open (claim containment) rather than throw or false-negative.
    if (k <= 0 || k > 64 || mBits <= 0 ||
        off.toLong + 12 + ((mBits + 63) >>> 6) * 8 > chunk.length) return true
    val (h1, h2) = bloomHashes(row)
    var i = 0
    while (i < k) {
      val bit = bloomBitFor(h1, h2, i, mBits)
      if ((buf.getLong(off + 12 + ((bit >>> 6) * 8).toInt) & (1L << (bit & 63))) == 0L)
        return false
      i += 1
    }
    true
  }

  /** Serialize sorted cells as a full HFile onto `sink`, streaming: one
    * pass, O(blockSize) heap beyond the block-index entries and the row
    * bloom (10 bits per distinct row, chunked) — a region file larger
    * than the heap writes fine. Returns bytes written.
    *
    * `includeMvcc` appends each cell's memstoreTS vlong and records
    * `MAX_MEMSTORE_TS` in file-info (HBase flushes always do this;
    * bulk-load files conventionally don't — the reader gates on the
    * key's presence either way). `includeTags` appends each cell's tag
    * bytes and records `hfile.MAX_TAGS_LEN`.
    */
  def writeTo(cells: Iterator[HCell], sink: java.io.OutputStream,
              blockSize: Int = 64 * 1024,
              compression: Int = CompressionNone,
              encoding: Int = EncodingNone,
              checksumType: Int = ChecksumCrc32c,
              includeMvcc: Boolean = false,
              includeTags: Boolean = false,
              indexChunkEntries: Int = DefaultIndexChunkEntries,
              bloomChunkKeys: Int = DefaultBloomChunkKeys): Long = {
    require(indexChunkEntries > 0, "indexChunkEntries must be positive")
    require(bloomChunkKeys > 0, "bloomChunkKeys must be positive")
    require(compression == CompressionNone || compression == CompressionGz ||
      compression == CompressionSnappy || compression == CompressionLz4 ||
      compression == CompressionZstd,
      s"unsupported compression codec $compression " +
        "(GZ=1, NONE=2, SNAPPY=3, LZ4=4, ZSTD=6)")
    require(encoding == EncodingNone || encoding == EncodingPrefix ||
      encoding == EncodingDiff || encoding == EncodingFastDiff ||
      encoding == EncodingRowIndexV1,
      s"unsupported data block encoding $encoding " +
        "(NONE=0, PREFIX=2, DIFF=3, FAST_DIFF=4, ROW_INDEX_V1=7)")
    require(checksumType == ChecksumNull || checksumType == ChecksumCrc32c,
      s"unsupported checksum type $checksumType (NULL=0, CRC32C=2)")
    // read/write symmetry: the readers reject payloads above MaxBlockBytes,
    // so the writer must never produce one (a block holds ~blockSize bytes
    // plus the one cell that overflowed it — bound both)
    require(blockSize > 0 && blockSize <= MaxBlockBytes / 2,
      s"blockSize must be in (0, ${MaxBlockBytes / 2}]")
    var written = 0L
    def emit(b: Array[Byte]): Unit = { sink.write(b); written += b.length }
    // Every block goes through here: compress per the codec (falling back
    // to raw storage in the theoretical deflated-length == raw-length case
    // so the readers' sizes-differ ⟺ inflate rule stays exact), write
    // header + payload + per-chunk CRC32C sums over header+payload, return
    // (offset, full on-disk size with header AND checksums) for index
    // entries.
    def emitBlock(magic: Array[Byte], payload: Array[Byte]): (Long, Int) = {
      val offset = written
      // empty payloads (the always-empty meta index root) store raw under
      // every codec: zero bytes can only grow, and raw keeps the readers'
      // sizes-differ ⟺ compressed rule trivially true
      val onDisk =
        if (compression == CompressionNone || payload.isEmpty) payload
        else {
          val z = compressBlock(payload, compression)
          // equal-size fallback keeps sizes-differ ⟺ compressed exact
          if (z.length == payload.length) payload else z
        }
      require(onDisk.length <= MaxBlockBytes,
        s"block ${onDisk.length} B exceeds MaxBlockBytes")
      val dataWithHeader = HeaderSize + onDisk.length
      // header participates in the checksum, so it is built first: its
      // length fields depend only on the sums' LENGTH (nChunks), never
      // their content, so there is no circularity
      val nChunks =
        if (checksumType == ChecksumNull) 0
        else (dataWithHeader + BytesPerChecksum - 1) / BytesPerChecksum
      val hdr = blockHeader(magic, onDisk.length + 4 * nChunks,
        payload.length, checksumType, dataWithHeader)
      emit(hdr)
      emit(onDisk)
      if (nChunks > 0)
        emit(checksumChunks(BytesPerChecksum,
          (hdr, 0, HeaderSize), (onDisk, 0, onDisk.length)))
      (offset, HeaderSize + onDisk.length + 4 * nChunks)
    }
    val index = ArrayBuffer.empty[(Long, Int, Array[Byte])] // offset, onDiskSize, firstKey
    val block = new ByteArrayOutputStream(blockSize + 1024)
    var firstKey: Array[Byte] = null
    var entryCount = 0L
    var totalUncompressed = 0L
    // With an encoding, `block` holds [id:2 | encoded entries] and the
    // encoder resets per block so every block decodes standalone;
    // `unencodedSize` tracks the raw KeyValue bytes for the block
    // boundary (HBase's checkBlockBoundary closes on EITHER size).
    val isEncoded = encoding != EncodingNone
    var enc: BlockEncoder = null
    var unencodedSize = 0
    def resetBlock(): Unit = {
      block.reset(); firstKey = null; unencodedSize = 0
      if (isEncoded) {
        block.write((encoding >>> 8) & 0xff) // 2-byte BE id prefix
        block.write(encoding & 0xff)
        enc = encoding match {
          case EncodingFastDiff => new FastDiffEncoder(block)
          case EncodingDiff => new DiffEncoder(block)
          case EncodingRowIndexV1 => new RowIndexEncoder(block)
          case _ => new PrefixEncoder(block)
        }
      }
    }
    resetBlock()

    // row bloom, chunked: rows arrive sorted, so consecutive duplicates
    // collapse to one bloom key and each chunk covers a contiguous row
    // range keyed by its first row. Closed chunks are buffered until the
    // data section ends (they live in the load-on-open section) — ~1.25 MB
    // per 10^6 distinct rows, bounded by regionCountFor's region sizing.
    val bloomChunks = ArrayBuffer.empty[(Array[Byte], Array[Byte])] // firstRow, payload
    var chunkHashes = ArrayBuffer.empty[(Long, Long)]
    var chunkFirstRow: Array[Byte] = null
    var lastRow: Array[Byte] = null

    def closeBloomChunk(): Unit = if (chunkHashes.nonEmpty) {
      // meta keys carry the same `rowLen:2 | row` prefix as block-index
      // keys, so rowOfKey/candidateEntries work unchanged on both
      val prefixed = ByteBuffer.allocate(2 + chunkFirstRow.length)
        .putShort(chunkFirstRow.length.toShort).put(chunkFirstRow).array()
      bloomChunks += ((prefixed, bloomChunkPayload(chunkHashes)))
      chunkHashes = ArrayBuffer.empty
      chunkFirstRow = null
    }

    def flushBlock(): Unit = if (unencodedSize > 0) {
      if (isEncoded) enc.finish()
      val payload = block.toByteArray
      require(payload.length <= MaxBlockBytes,
        s"data block ${payload.length} B exceeds MaxBlockBytes — a single " +
          "cell larger than the reader's cap would make the file unreadable")
      val (offset, onDiskSize) =
        emitBlock(if (isEncoded) EncodedDataMagic else DataMagic, payload)
      index += ((offset, onDiskSize, firstKey))
      totalUncompressed += HeaderSize + payload.length
      resetBlock()
    }

    var lastKey: Array[Byte] = null
    var totalKeyLen = 0L
    var totalValLen = 0L
    // postfix layout follows the block family: plain KV blocks and
    // ROW_INDEX_V1 (verbatim KeyValues) use the 2-byte tags length; the
    // delta encoders use putCompressedInt (BufferedDataBlockEncoder's
    // afterEncodingKeyValue)
    val extras = CellExtras(includeMvcc, includeTags)
    val deltaEncoded = isEncoded && encoding != EncodingRowIndexV1
    var maxMemstoreTS = 0L
    var maxTagsLen = 0
    cells.foreach { c =>
      if (firstKey == null) firstKey = c.keyBytes
      if (isEncoded) enc.append(c) else block.write(encodeKeyValue(c))
      if (extras.any) {
        writeCellPostfix(block, c, extras, deltaEncoded)
        if (c.memstoreTS > maxMemstoreTS) maxMemstoreTS = c.memstoreTS
        if (c.tags.length > maxTagsLen) maxTagsLen = c.tags.length
      }
      // raw KeyValue footprint, computed without re-serializing:
      // kvLen:8 + key (rowLen:2|row|famLen:1|fam|qual|ts:8|type:1) + value
      val keyLen = 2 + c.row.length + 1 + c.family.length +
        c.qualifier.length + 8 + 1
      unencodedSize += 8 + keyLen + c.value.length
      totalKeyLen += keyLen
      totalValLen += c.value.length
      lastKey = c.keyBytes
      entryCount += 1
      if (lastRow == null || !java.util.Arrays.equals(lastRow, c.row)) {
        if (chunkFirstRow == null) chunkFirstRow = c.row
        chunkHashes += bloomHashes(c.row)
        lastRow = c.row
        if (chunkHashes.size >= bloomChunkKeys) closeBloomChunk()
      }
      if (block.size() >= blockSize || unencodedSize >= blockSize) flushBlock()
    }
    flushBlock()
    closeBloomChunk()

    // bloom chunks follow the data section (real HBase interleaves them
    // inline between data blocks — same discovery either way: chunks are
    // only ever reached through the bloom meta index)
    val bloomMetaEntries = bloomChunks.map { case (firstRow, payload) =>
      val (off, onDiskSize) = emitBlock(BloomChunkMagic, payload)
      (off, onDiskSize, firstRow)
    }

    // index section. Small files: root entries point straight at data
    // blocks. Past indexChunkEntries data blocks, escalate to two levels —
    // intermediate IDXINTE2 chunks of up to indexChunkEntries entries each,
    // with the root pointing at the chunks. A third level is never needed
    // below ~268M blocks per file; raise loudly instead of corrupting.
    require(index.size.toLong <= indexChunkEntries.toLong * indexChunkEntries,
      s"HFile data-block count ${index.size} exceeds the two-level index " +
        s"capacity ($indexChunkEntries² entries); split the region or " +
        "raise blockSize/indexChunkEntries")
    var idxUncompressed = 0L
    val rootEntries: Seq[(Long, Int, Array[Byte])] =
      if (index.size <= indexChunkEntries) index.toSeq
      else index.grouped(indexChunkEntries).map { chunk =>
        // an index level keys each child by its subtree's first key
        val payload = serializeIndexEntries(chunk)
        idxUncompressed += payload.length
        val (off, onDiskSize) = emitBlock(IntermediateIndexMagic, payload)
        (off, onDiskSize, chunk.head._3)
      }.toSeq

    // ---- load-on-open section, HBase's order [public: o.a.h.hbase.io
    // .hfile.HFileWriterImpl.close — root data index, meta index root,
    // file info, then the bloom metadata]: everything a reader needs at
    // open time sits contiguously between loadOnOpenDataOffset and the
    // trailer, discovered by WALKING blocks by magic (HFileReaderImpl
    // reads the whole region in one I/O), not by per-block trailer
    // fields. The trailer's only offsets are load_on_open_data_offset
    // and file_info_offset, exactly the two FileTrailerProto carries.

    // root data index block (first load-on-open block — its offset IS
    // loadOnOpenDataOffset)
    val rootPayload = serializeIndexEntries(rootEntries)
    idxUncompressed += rootPayload.length
    val rootIndexOffset = emitBlock(RootIndexMagic, rootPayload)._1

    // meta index root: always written, empty here (we define no named
    // meta blocks; blooms travel as BLMF chunks + meta, like HBase's)
    emitBlock(RootIndexMagic, Array.emptyByteArray)

    // file-info block: the real FileInfoProto map [public: o.a.h.hbase
    // .io.hfile.HFileInfo.write — PB_MAGIC then a delimited FileInfoProto
    // of BytesBytesPair entries, keys sorted]. Every value is
    // deterministic (no CREATE_TIME_TS — a wall clock would make
    // byte-identical re-writes impossible).
    val fileInfoOffset = written
    val avgK = if (entryCount == 0) 0 else (totalKeyLen / entryCount).toInt
    val avgV = if (entryCount == 0) 0 else (totalValLen / entryCount).toInt
    val infoEntries = Seq(
      "DATA_BLOCK_ENCODING" -> encodingName(encoding).getBytes(UTF_8),
      "KEY_VALUE_VERSION" -> ByteBuffer.allocate(4).putInt(1).array(),
      "hfile.AVG_KEY_LEN" -> ByteBuffer.allocate(4).putInt(avgK).array(),
      "hfile.AVG_VALUE_LEN" -> ByteBuffer.allocate(4).putInt(avgV).array()) ++
      (if (lastKey == null) Seq.empty
       else Seq("hfile.LASTKEY" -> lastKey)) ++
      // presence of these keys is what tells readers the cells carry the
      // postfixes — the same open-time gate HFileReaderImpl applies
      (if (includeMvcc)
        Seq(MaxMemstoreTsKey -> ByteBuffer.allocate(8).putLong(maxMemstoreTS).array())
       else Seq.empty) ++
      (if (includeTags)
        Seq(MaxTagsLenKey -> ByteBuffer.allocate(4).putInt(maxTagsLen).array())
       else Seq.empty)
    emitBlock(FileInfoMagic, buildFileInfo(infoEntries))

    // bloom meta: an index of the BLMF chunks by first row (same entry
    // layout as the block index, so the reader shares a parser). Last
    // load-on-open block, like HBase's general bloom metadata.
    if (bloomMetaEntries.nonEmpty)
      emitBlock(BloomMetaMagic, serializeIndexEntries(bloomMetaEntries))

    // 212-byte trailer: magic | FileTrailerProto (delimited) | padding |
    // version word with minor in the high byte [public: o.a.h.hbase.io
    // .hfile.FixedFileTrailer.serializeAsPB]
    emit(TrailerMagic)
    val pb = new ByteArrayOutputStream(128)
    pbWriteField(pb, PbFileInfoOffset, fileInfoOffset)
    pbWriteField(pb, PbLoadOnOpenOffset, rootIndexOffset)
    pbWriteField(pb, PbUncompressedDataIndexSize, idxUncompressed)
    pbWriteField(pb, PbTotalUncompressedBytes, totalUncompressed)
    pbWriteField(pb, PbDataIndexCount, rootEntries.size.toLong) // ROOT chunk entries, as in HBase
    pbWriteField(pb, PbMetaIndexCount, 0L)
    pbWriteField(pb, PbEntryCount, entryCount)
    pbWriteField(pb, PbNumDataIndexLevels,
      if (index.size <= indexChunkEntries) 1L else 2L)
    if (index.nonEmpty) {
      pbWriteField(pb, PbFirstDataBlockOffset, index.head._1)
      pbWriteField(pb, PbLastDataBlockOffset, index.last._1)
    }
    pbWriteBytes(pb, PbComparatorClassName, ComparatorClassName.getBytes(UTF_8))
    pbWriteField(pb, PbCompressionCodec, compression.toLong)
    val msg = pb.toByteArray
    val delimited = new ByteArrayOutputStream(msg.length + 4)
    pbWriteVarint(delimited, msg.length.toLong) // writeDelimitedTo prefix
    delimited.write(msg, 0, msg.length)
    val padding = TrailerLen - TrailerNotPbSize - delimited.size()
    require(padding >= 0, s"trailer protobuf ${delimited.size()} B overflows " +
      s"the fixed ${TrailerLen - TrailerNotPbSize} B budget")
    emit(delimited.toByteArray)
    emit(new Array[Byte](padding))
    emit(ByteBuffer.allocate(4).putInt(MajorVersion & 0x00ffffff).array())
    written
  }

  /** In-memory form of [[writeTo]] (specs, small files). */
  def write(cells: Iterator[HCell], blockSize: Int = 64 * 1024,
            compression: Int = CompressionNone,
            encoding: Int = EncodingNone,
            checksumType: Int = ChecksumCrc32c,
            includeMvcc: Boolean = false,
            includeTags: Boolean = false,
            indexChunkEntries: Int = DefaultIndexChunkEntries,
            bloomChunkKeys: Int = DefaultBloomChunkKeys): Array[Byte] = {
    val out = new ByteArrayOutputStream(1 << 20)
    writeTo(cells, out, blockSize, compression, encoding, checksumType,
      includeMvcc, includeTags, indexChunkEntries, bloomChunkKeys)
    out.toByteArray
  }

  // ------------------------------------------------------------ file info
  // The FILEINF2 block carries HBase's FileInfoProto [public: o.a.h.hbase
  // .io.hfile.HFileInfo.write / HFileProtos.FileInfoProto]: the 4-byte
  // protobuf magic "PBUF", then a length-delimited FileInfoProto whose
  // one repeated field (1) is BytesBytesPair { first = 1, second = 2 } —
  // a bytes→bytes map, keys sorted.

  val PbMagic: Array[Byte] = "PBUF".getBytes(UTF_8)

  /** Wire name of a data-block encoding, as DATA_BLOCK_ENCODING stores it. */
  def encodingName(encoding: Int): String = encoding match {
    case EncodingNone => "NONE"
    case EncodingPrefix => "PREFIX"
    case EncodingDiff => "DIFF"
    case EncodingFastDiff => "FAST_DIFF"
    case EncodingRowIndexV1 => "ROW_INDEX_V1"
    case other => s"UNKNOWN($other)"
  }

  private def buildFileInfo(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val body = new ByteArrayOutputStream(256)
    entries.sortBy(_._1).foreach { case (k, v) =>
      val pair = new ByteArrayOutputStream(k.length + v.length + 8)
      pbWriteBytes(pair, 1, k.getBytes(UTF_8)) // BytesBytesPair.first
      pbWriteBytes(pair, 2, v)                 // BytesBytesPair.second
      pbWriteBytes(body, 1, pair.toByteArray)  // FileInfoProto.map_entry
    }
    val out = new ByteArrayOutputStream(body.size() + 8)
    out.write(PbMagic, 0, PbMagic.length)
    pbWriteVarint(out, body.size().toLong)     // writeDelimitedTo prefix
    body.writeTo(out)
    out.toByteArray
  }

  /** The FILEINF2 block's FileInfoProto map of an in-memory file, as
    * the shared open ([[openStore]]) locates and parses it.
    */
  def readFileInfo(file: Array[Byte]): Map[String, Array[Byte]] =
    openStore(bytesAt(file), file.length).fileInfo

  /** Parse a FILEINF2 block payload — protobuf wire rules only, unknown
    * fields skipped, same hostile-input regime as [[readTrailer]].
    */
  private def parseFileInfoPayload(payload: Array[Byte]): Map[String, Array[Byte]] = {
    require(payload.length >= 4 &&
      java.util.Arrays.equals(java.util.Arrays.copyOfRange(payload, 0, 4), PbMagic),
      "file-info block missing PBUF magic")
    val (msgLen, msgStart) = pbReadVarint(payload, 4)
    require(msgLen >= 0 && msgLen <= payload.length - msgStart,
      s"file-info protobuf length $msgLen overflows the block")
    val end = msgStart + msgLen.toInt
    val entries = Map.newBuilder[String, Array[Byte]]
    var p = msgStart
    while (p < end) {
      val (tag, p1) = pbReadVarint(payload, p)
      ((tag >>> 3).toInt, (tag & 7).toInt) match {
        case (1, 2) => // map_entry
          val (len, p2) = pbReadVarint(payload, p1)
          require(len >= 0 && len <= end - p2, s"bad map_entry at $p")
          val pairEnd = p2 + len.toInt
          var q = p2
          var key: Array[Byte] = null
          var value: Array[Byte] = null
          while (q < pairEnd) {
            val (ptag, q1) = pbReadVarint(payload, q)
            require((ptag & 7) == 2, s"unexpected wire type in BytesBytesPair at $q")
            val (plen, q2) = pbReadVarint(payload, q1)
            require(plen >= 0 && plen <= pairEnd - q2, s"bad pair field at $q")
            val bytes = java.util.Arrays.copyOfRange(payload, q2, q2 + plen.toInt)
            (ptag >>> 3).toInt match {
              case 1 => key = bytes
              case 2 => value = bytes
              case _ => // unknown field: skipped
            }
            q = q2 + plen.toInt
          }
          require(key != null && value != null, s"incomplete BytesBytesPair at $p")
          entries += ((new String(key, UTF_8), value))
          p = pairEnd
        case (_, 0) => p = pbReadVarint(payload, p1)._2 // unknown varint
        case (_, 2) =>
          val (len, p2) = pbReadVarint(payload, p1)
          require(len >= 0 && len <= end - p2, s"bad delimited field at $p")
          p = p2 + len.toInt
        case (_, 1) => p = p1 + 8
        case (_, 5) => p = p1 + 4
        case (_, w) => throw new IllegalArgumentException(
          s"unsupported protobuf wire type $w in file info at $p")
      }
    }
    entries.result()
  }

  final case class Trailer(fileInfoOffset: Long, loadOnOpenOffset: Long,
                           dataIndexCount: Int, totalUncompressed: Long,
                           entryCount: Long, compression: Int,
                           majorVersion: Int)

  /** Positions of the load-on-open blocks (−1 = absent). `rootIndexOffset`
    * always equals the section start; the others follow by walk order.
    */
  final case class LoadOnOpen(rootIndexOffset: Long, metaIndexOffset: Long,
                              fileInfoOffset: Long, bloomMetaOffset: Long)

  /** Walk the load-on-open section `[start, end)` of `b` block by block —
    * HFileReaderImpl's open sequence: each block's header gives its
    * on-disk length (checksums included), each is classified by magic
    * (first IDXROOT2 = root data index, second = meta index root,
    * FILEINF2 = file info, BLMFMET2 = bloom metadata). Hostile-input
    * regime as everywhere: every declared length is bounds-checked before
    * the jump, an unknown magic or a non-tiling section throws, so a
    * damaged file can only ever fail loudly at open.
    */
  private def walkLoadOnOpen(b: Array[Byte], start: Int, end: Int): LoadOnOpen = {
    require(start >= 0 && start <= end && end <= b.length,
      s"bad load-on-open range [$start, $end)")
    var root = -1L; var meta = -1L; var fileInfo = -1L; var bloom = -1L
    var p = start
    while (p < end) {
      require(p + HeaderSize <= end, s"truncated load-on-open header at $p")
      val onDiskLen = ByteBuffer.wrap(b, p + 8, 4).getInt
      require(onDiskLen >= 0 && onDiskLen <= MaxBlockBytes &&
        p + HeaderSize + onDiskLen <= end,
        s"load-on-open block at $p ($onDiskLen B) runs past the section")
      if (hasMagic(b, p, RootIndexMagic)) {
        if (root < 0) root = p
        else if (meta < 0) meta = p
        else throw new IllegalArgumentException(
          s"third IDXROOT2 block in the load-on-open section at $p")
      } else if (hasMagic(b, p, FileInfoMagic)) fileInfo = p
      else if (hasMagic(b, p, BloomMetaMagic)) bloom = p
      else throw new IllegalArgumentException(
        s"unexpected block magic in the load-on-open section at $p")
      p += HeaderSize + onDiskLen
    }
    require(root >= 0, "load-on-open section missing the root data index")
    LoadOnOpen(root, meta, fileInfo, bloom)
  }

  /** Parse the 212-byte tail per the protobuf wire rules: skip the magic,
    * read the delimiter varint, then walk tag|value pairs — unknown
    * fields are skipped by wire type, exactly like a generated parser, so
    * the format can grow fields without breaking old readers.
    */
  def readTrailer(file: Array[Byte]): Trailer = {
    require(file.length >= TrailerLen, s"file shorter than a trailer")
    val base = file.length - TrailerLen
    require(java.util.Arrays.equals(
      java.util.Arrays.copyOfRange(file, base, base + 8), TrailerMagic),
      "bad trailer magic")
    val (msgLen, msgStart) = pbReadVarint(file, base + 8)
    // bound the varint itself BEFORE any arithmetic with it — a ~2^63
    // length would wrap msgStart + msgLen negative and slip past a sum
    // check (ADVICE r7)
    require(msgLen >= 0 && msgLen <= TrailerLen &&
      msgStart + msgLen <= file.length - 4,
      s"trailer protobuf length $msgLen overflows the trailer")
    val end = msgStart + msgLen.toInt
    var p = msgStart
    var fileInfoOffset = -1L; var loadOnOpenOffset = -1L
    var dataIndexCount = 0; var totalUncompressed = 0L; var entryCount = 0L
    var compression = CompressionNone
    while (p < end) {
      val (tag, p1) = pbReadVarint(file, p)
      val field = (tag >>> 3).toInt
      val wire = (tag & 7).toInt
      wire match {
        case 0 =>
          val (v, p2) = pbReadVarint(file, p1)
          field match {
            case PbFileInfoOffset => fileInfoOffset = v
            case PbLoadOnOpenOffset => loadOnOpenOffset = v
            case PbTotalUncompressedBytes => totalUncompressed = v
            case PbDataIndexCount => dataIndexCount = v.toInt
            case PbEntryCount => entryCount = v
            case PbCompressionCodec => compression = v.toInt
            case _ => // unknown varint field: skipped
          }
          p = p2
        case 2 => // length-delimited (comparator name et al.): skip body
          val (len, p2) = pbReadVarint(file, p1)
          // len <= end - p2, not p2 + len <= end: the sum can overflow
          require(len >= 0 && len <= end - p2, s"bad delimited field at $p")
          p = p2 + len.toInt
        case 1 => p = p1 + 8 // fixed64
        case 5 => p = p1 + 4 // fixed32
        case w => throw new IllegalArgumentException(
          s"unsupported protobuf wire type $w in trailer at $p")
      }
    }
    Trailer(fileInfoOffset, loadOnOpenOffset, dataIndexCount,
      totalUncompressed, entryCount, compression,
      ByteBuffer.wrap(file, file.length - 4, 4).getInt & 0x00ffffff)
  }

  // -------------------------------------------------------------- reader
  // One reader under every read shape: the in-memory read/mayContainRow/
  // readFileInfo below, HFileOps' positioned seek paths (gets, range and
  // WhileMatch scans, merge-on-read) and the forward stream all open,
  // walk the index, check the bloom and decode blocks here.

  /** Positioned read of `len` bytes at file offset `off`; throws where
    * the file ends, as Hadoop's `readFully` does. */
  private[graft] type ReadAt = (Long, Int) => Array[Byte]

  /** Index entries as the codec parses them: (offset, onDiskSize, first key). */
  private[sources] type Entries = Seq[(Long, Int, Array[Byte])]

  /** An in-memory file as a [[ReadAt]]. A read that leaves the array
    * throws: a bare `copyOfRange` would zero-pad past the end instead.
    */
  private[graft] def bytesAt(file: Array[Byte]): ReadAt = (off, len) => {
    require(off >= 0 && len >= 0 && off <= file.length.toLong - len,
      s"read of $len B at $off runs past the ${file.length} B file")
    java.util.Arrays.copyOfRange(file, off.toInt, off.toInt + len)
  }

  /** The block an index entry points at: ONE positioned read of the
    * entry's recorded on-disk size, which must equal the size the block's
    * own header declares (HFileBlock.FSReaderImpl checks the same pair) —
    * so a damaged entry or header throws instead of decoding a block cut
    * at the wrong length. Index entries reach intermediate index chunks,
    * data blocks and bloom chunks; the writer records
    * `HeaderSize + onDisk + sums` for all three.
    */
  private def readBlockAt(readAt: ReadAt, off: Long, size: Int): Array[Byte] = {
    require(size >= HeaderSize && size - HeaderSize <= MaxBlockBytes,
      s"implausible index entry size $size at $off")
    val blk = readAt(off, size)
    val declared = HeaderSize.toLong + ByteBuffer.wrap(blk, 8, 4).getInt
    require(declared == size,
      s"block size mismatch at $off: index entry $size B, block header $declared B")
    blk
  }

  /** One opened store file: its trailer, the load-on-open block offsets
    * (absolute), the load-on-open section's bytes and the source every
    * other block is read from. The section's blocks (root index, file
    * info, bloom meta) are served from `section`; every other block is
    * reached through an index entry ([[readBlockAt]]).
    */
  private[graft] final case class Store(trailer: Trailer, loo: LoadOnOpen,
                                        section: Array[Byte], readAt: ReadAt) {
    private def inSection(off: Long): Int = (off - trailer.loadOnOpenOffset).toInt

    /** The root data-index entries; there are as many as the trailer's
      * `dataIndexCount`. */
    lazy val root: Entries = {
      val entries = indexEntries(section, inSection(loo.rootIndexOffset))
      require(entries.size == trailer.dataIndexCount, "index count mismatch")
      entries
    }

    /** The file-info map; empty when the file has no file-info block. */
    lazy val fileInfo: Map[String, Array[Byte]] =
      if (loo.fileInfoOffset < 0) Map.empty
      else parseFileInfoPayload(blockPayload(section, inSection(loo.fileInfoOffset)))

    /** The open-time mvcc/tags postfix gate every cell decode applies
      * (HFileReaderImpl's shouldIncludeMemStoreTS). */
    lazy val extras: CellExtras = extrasOf(fileInfo)

    /** The row-bloom check, with the bloom meta parsed once per open:
      * false means the row is DEFINITELY absent (the point-get prune),
      * true means "read the data block". Files without a bloom answer
      * true, and so does a chunk that cannot be inflated: a bloom may
      * only ever PRUNE, never throw a false negative out of a get.
      */
    lazy val mayContain: Array[Byte] => Boolean =
      if (loo.bloomMetaOffset < 0) _ => true
      else {
        val meta = indexEntries(section, inSection(loo.bloomMetaOffset))
        val metaRows = indexRows(meta)
        row => candidateEntries(meta, metaRows, row).exists { case (off, size, _) =>
          val chunk = readBlockAt(readAt, off, size)
          require(hasMagic(chunk, 0, BloomChunkMagic), "bad bloom chunk magic")
          try bloomChunkContains(blockPayload(chunk, 0), 0, row)
          catch { case _: Exception => true }
        }
      }

    /** The one block-index walk: the root entries `select` picks, each
      * one that points at an IDXINTE2 chunk expanded into the chunk's
      * entries `select` picks, yielded as data-block BYTES in file order
      * (back to front under `backward`). Lazy: a chunk or data block is
      * read only when the walk reaches it, so a walk stopped early (a
      * limit, a WhileMatch stop) stops reading, and every block is read
      * once.
      */
    def dataBlocks(select: Entries => Entries,
                   backward: Boolean = false): Iterator[Array[Byte]] = {
      def walk(entries: Entries): Iterator[Array[Byte]] = {
        val sel = select(entries)
        (if (backward) sel.reverseIterator else sel.iterator)
          .map { case (off, size, _) => readBlockAt(readAt, off, size) }
      }
      walk(root).flatMap { blk =>
        if (hasMagic(blk, 0, IntermediateIndexMagic)) walk(indexEntries(blk, 0))
        else Iterator.single(blk)
      }
    }
  }

  /** The one store-file open — HFileReaderImpl's open sequence over a
    * positioned-read source: the trailer, then the whole LOAD-ON-OPEN
    * section (root index, meta index, file info, bloom meta, located by
    * [[walkLoadOnOpen]]) in one read.
    */
  private[graft] def openStore(readAt: ReadAt, len: Long): Store = {
    require(len >= TrailerLen, s"file shorter than a trailer")
    val trailer = readTrailer(readAt(len - TrailerLen, TrailerLen))
    val looStart = trailer.loadOnOpenOffset
    val looLen = len - TrailerLen - looStart
    // index + file info + bloom meta: ~100s of KB at most under the
    // two-level index invariant; a hostile offset claiming more than
    // one block's worth may only throw, never mega-allocate
    require(looStart >= 0 && looLen > 0 && looLen <= MaxBlockBytes,
      s"implausible load-on-open section [$looStart, ${len - TrailerLen})")
    val section = readAt(looStart, looLen.toInt)
    val rel = walkLoadOnOpen(section, 0, section.length)
    def abs(r: Long): Long = if (r < 0) -1L else looStart + r
    Store(trailer, LoadOnOpen(abs(rel.rootIndexOffset), abs(rel.metaIndexOffset),
      abs(rel.fileInfoOffset), abs(rel.bloomMetaOffset)), section, readAt)
  }

  /** Stream-decode cells block-by-block from `in` — O(blockSize) heap,
    * independent of file size: the region-server read shape. Relies on the
    * v3 layout invariant that the data blocks come first, so the data
    * section ends at the first block whose magic is not a data magic.
    * Per block: the header, its declared lengths checked BEFORE the block
    * array is allocated, the rest of the block, then [[blockCells]].
    *
    * A pure forward stream meets the file-info (which gates mvcc/tags)
    * only AFTER the data blocks, so a caller reading a file that carries
    * postfixes must pass `extras` — [[graft.sources.HFileOps]] opens the
    * file with positioned reads first and passes the flags in.
    */
  def readStreaming(in: java.io.InputStream,
                    extras: CellExtras = NoExtras): Iterator[HCell] = new Iterator[HCell] {
    private var blockIter: Iterator[HCell] = Iterator.empty
    private var done = false

    private def fill(b: Array[Byte], from: Int): Unit = {
      var off = from
      while (off < b.length) {
        val r = in.read(b, off, b.length - off)
        require(r >= 0, "unexpected EOF inside an HFile block")
        off += r
      }
    }

    private def advance(): Unit =
      while (!done && !blockIter.hasNext) {
        val hdr = new Array[Byte](HeaderSize)
        fill(hdr, 0)
        if (dataBlockKind(hdr, 0).isEmpty) done = true // past the data section
        else {
          val blk = java.util.Arrays.copyOf(hdr, HeaderSize + declaredOnDiskLen(hdr, 0))
          fill(blk, HeaderSize)
          blockIter = blockCells(blk, extras)
        }
      }

    def hasNext: Boolean = { advance(); blockIter.hasNext }
    def next(): HCell = { advance(); blockIter.next() }
  }

  private def hasMagic(file: Array[Byte], off: Int, magic: Array[Byte]): Boolean =
    java.util.Arrays.equals(java.util.Arrays.copyOfRange(file, off, off + 8), magic)

  /** `Some(encoded)` for a data block's magic (DATABLKE encoded,
    * DATABLK* plain), None for every other block. */
  private def dataBlockKind(b: Array[Byte], off: Int): Option[Boolean] =
    if (hasMagic(b, off, EncodedDataMagic)) Some(true)
    else if (hasMagic(b, off, DataMagic)) Some(false)
    else None

  /** The one data-block decoder: magic check, payload (checksums
    * verified, GZ and the other codecs inflated by [[blockPayload]]),
    * cells.
    *
    * When the block is ROW_INDEX_V1-encoded, `seekRows` (distinct sorted
    * target rows, the multiGet shape) switches the decode from a full
    * block scan to one binary-searched in-block seek per target, and
    * `seekFrom` (a range scan's start row) skips the block prefix — the
    * RowIndexSeekerV1 read shape. Both are hints only: callers still
    * filter by row, so every encoding returns identical rows.
    */
  private[sources] def blockCells(blk: Array[Byte], extras: CellExtras,
                                  seekRows: Seq[Array[Byte]] = Nil,
                                  seekFrom: Option[Array[Byte]] = None): Iterator[HCell] = {
    val kind = dataBlockKind(blk, 0)
    require(kind.isDefined, "bad data block magic")
    val isEncoded = kind.get
    val payload = blockPayload(blk, 0)
    val rowIndexed = isEncoded && encodingIdOf(payload) == EncodingRowIndexV1
    if (rowIndexed && seekRows.nonEmpty)
      seekRows.iterator.flatMap { r =>
        rowIndexSeek(payload, 2, r, extras)
          .takeWhile(c => java.util.Arrays.equals(c.row, r))
      }
    else if (rowIndexed && seekFrom.isDefined)
      rowIndexSeek(payload, 2, seekFrom.get, extras)
    else dataBlockCells(payload, isEncoded, extras)
  }

  /** Parse one index block's (offset, onDiskSize, firstKey) entries — the
    * root and intermediate data index and the bloom meta share the
    * layout. The block's magic was checked by whoever classified it
    * ([[walkLoadOnOpen]] for the section's blocks, the index walk for an
    * IDXINTE2 chunk).
    */
  private def indexEntries(block: Array[Byte], hdrOff: Int): Entries = {
    val idx = blockPayload(block, hdrOff) // inflates if the block is compressed
    var p = 0
    val entries = ArrayBuffer.empty[(Long, Int, Array[Byte])]
    while (p < idx.length) {
      val bb = ByteBuffer.wrap(idx, p, 12)
      val off = bb.getLong; val size = bb.getInt
      val (keyLen, p2) = readVInt(idx, p + 12)
      // a negative length would walk p backwards (infinite loop) and an
      // oversized one would make copyOfRange allocate past the block (OOM)
      require(keyLen >= 0 && keyLen <= idx.length - p2,
        s"bad index entry key length $keyLen at $p")
      entries += ((off, size, java.util.Arrays.copyOfRange(idx, p2, p2 + keyLen)))
      p = p2 + keyLen
    }
    entries.toSeq
  }

  /** Row portion of a serialized key (`rowLen:2 | row | …`). */
  private[sources] def rowOfKey(key: Array[Byte]): Array[Byte] = {
    val rowLen = ((key(0) & 0xff) << 8) | (key(1) & 0xff)
    java.util.Arrays.copyOfRange(key, 2, 2 + rowLen)
  }

  /** First-row projection of an index block's entries — compute ONCE per
    * parsed index and share across a key batch (multiGet was re-copying
    * every entry's row per key).
    */
  private[sources] def indexRows(entries: Entries): Array[Array[Byte]] =
    entries.iterator.map { case (_, _, k) => rowOfKey(k) }.toArray

  /** Greatest index with rows(i) ≤ row under `strict = false`, or
    * rows(i) < row under `strict = true`; -1 if none. Entries are sorted,
    * so this is a real binary search, not a scan.
    */
  private def lastBefore(rows: Array[Array[Byte]], row: Array[Byte],
                         strict: Boolean): Int = {
    var lo = 0; var hi = rows.length - 1; var res = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = java.util.Arrays.compareUnsigned(rows(mid), row)
      if (if (strict) c < 0 else c <= 0) { res = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    res
  }

  /** The sub-range of sorted index entries whose blocks can contain
    * `row`: the last entry whose first row sorts ≤ `row`, plus the
    * walk-back over every preceding entry whose first row EQUALS `row`
    * (a row can span block boundaries). Works identically at the root
    * (chunk entries), the intermediate level, and the bloom meta; `rows`
    * is [[indexRows]] of `entries`.
    */
  private[sources] def candidateEntries(entries: Entries,
      rows: Array[Array[Byte]], row: Array[Byte]): Entries = {
    val last = lastBefore(rows, row, strict = false)
    if (last < 0) Seq.empty
    else {
      var from = last
      while (from > 0 && java.util.Arrays.compareUnsigned(rows(from), row) == 0)
        from -= 1
      entries.slice(from, last + 1)
    }
  }

  /** The sub-range of sorted index entries whose blocks can intersect
    * `[start, stop)`: from the last entry whose first row sorts ≤ start —
    * walked back over equal-firstRow predecessors, since the start row's
    * earlier cells can sit in the previous block when a row spans a block
    * boundary (same rule as [[candidateEntries]]) — through the last
    * entry whose first row sorts < stop. Empty when every block starts
    * at/after stop. An empty `stop` is open-ended, like HBase's
    * `HConstants.EMPTY_END_ROW`.
    */
  private[sources] def entriesInRange(entries: Entries,
      start: Array[Byte], stop: Array[Byte]): Entries = {
    val rows = indexRows(entries)
    val hi = if (stop.isEmpty) rows.length - 1 else lastBefore(rows, stop, strict = true)
    if (hi < 0) Seq.empty
    else {
      var lo = math.max(0, lastBefore(rows, start, strict = false))
      while (lo > 0 && java.util.Arrays.compareUnsigned(rows(lo), start) == 0)
        lo -= 1
      entries.slice(lo, hi + 1)
    }
  }

  /** Index entries whose blocks can hold a key in the REVERSED-scan range
    * `(stopExc, startInc]` — HBase `Scan#setReversed` bounds: start row
    * inclusive (the seek origin, the HIGH end), stop row exclusive (the
    * LOW end). Block-level selection only; the caller's key filter
    * enforces the exact bounds. An empty `stopExc` means "no lower
    * bound". Upper cut uses `strict = false`: a block whose FIRST key
    * equals the start row still contains in-range keys.
    */
  private[sources] def entriesInRevRange(entries: Entries,
      stopExc: Array[Byte], startInc: Array[Byte]): Entries = {
    val rows = indexRows(entries)
    val hi = lastBefore(rows, startInc, strict = false)
    if (hi < 0) Seq.empty
    else {
      // block lo-1 covers keys < rows(lo) <= stopExc — nothing > stopExc
      val lo = math.max(0, lastBefore(rows, stopExc, strict = false))
      entries.slice(lo, hi + 1)
    }
  }

  /** Row-bloom membership test over a whole in-memory file
    * ([[Store.mayContain]]): false means the row is DEFINITELY absent;
    * true means "read the data block". Files without a bloom answer true.
    */
  def mayContainRow(file: Array[Byte], row: Array[Byte]): Boolean =
    openStore(bytesAt(file), file.length).mayContain(row)

  /** Decode every cell of an in-memory file through the shared open,
    * index walk and block decoder.
    */
  def read(file: Array[Byte]): Iterator[HCell] = {
    val store = openStore(bytesAt(file), file.length)
    store.dataBlocks(identity).flatMap(blockCells(_, store.extras))
  }
}
