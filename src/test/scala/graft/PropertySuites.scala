package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.functions.MinHashAgg
import graft.sources.HFileCodec
import graft.sources.HFileCodec.HCell
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** SURVEY §5.3 property-based tests — run by sbt's native ScalaCheck
  * framework (the scalatest↔scalacheck bridge isn't in the offline cache,
  * so these live in Properties suites rather than ScalaTest specs). All
  * laws here are over pure JVM functions — no SparkSession — so the
  * generators can be aggressive.
  */
object HFileCodecProps extends Properties("HFileCodec") {

  private val bytesGen: Gen[Array[Byte]] =
    Gen.chooseNum(0, 64).flatMap(n => Gen.listOfN(n, Gen.alphaNumChar))
      .map(_.mkString.getBytes(UTF_8))
  private val nonEmptyBytes: Gen[Array[Byte]] =
    Gen.chooseNum(1, 64).flatMap(n => Gen.listOfN(n, Gen.alphaNumChar))
      .map(_.mkString.getBytes(UTF_8))

  private val cellGen: Gen[HCell] = for {
    row <- nonEmptyBytes
    fam <- nonEmptyBytes
    qual <- bytesGen
    ts <- Gen.chooseNum(0L, Long.MaxValue)
    typ <- Gen.oneOf(HFileCodec.TypePut, HFileCodec.TypeDelete)
    value <- bytesGen
  } yield HCell(row, fam, qual, ts, typ, value)

  private def same(a: HCell, b: HCell): Boolean =
    java.util.Arrays.equals(a.row, b.row) &&
      java.util.Arrays.equals(a.family, b.family) &&
      java.util.Arrays.equals(a.qualifier, b.qualifier) &&
      a.ts == b.ts && a.typ == b.typ &&
      java.util.Arrays.equals(a.value, b.value)

  property("keyValue round-trip") = forAll(cellGen) { c =>
    val (d, off) = HFileCodec.decodeKeyValue(HFileCodec.encodeKeyValue(c), 0)
    same(c, d) && off == HFileCodec.encodeKeyValue(c).length
  }

  property("vint round-trip, any non-negative int") =
    forAll(Gen.chooseNum(0, Int.MaxValue)) { n =>
      val out = new java.io.ByteArrayOutputStream()
      HFileCodec.writeVInt(out, n)
      val (m, off) = HFileCodec.readVInt(out.toByteArray, 0)
      m == n && off == out.size()
    }

  property("file write/read preserves cell sequence at any block size") =
    forAll(Gen.chooseNum(1, 50).flatMap(Gen.listOfN(_, cellGen)),
           Gen.oneOf(64, 512, 8192)) { (cells, blockSize) =>
      val bytes = HFileCodec.write(cells.iterator, blockSize)
      val back = HFileCodec.read(bytes).toList
      back.size == cells.size && back.zip(cells).forall((same _).tupled)
    }

  property("trailer entryCount == written cells") =
    forAll(Gen.chooseNum(0, 100).flatMap(Gen.listOfN(_, cellGen))) { cells =>
      HFileCodec.readTrailer(HFileCodec.write(cells.iterator)).entryCount == cells.size
    }
}

/** MinHash sketch algebra (SURVEY §5.3: merge laws + Jaccard ε-bound live
  * in MinHashAggSpec; here the pure merge/reduce laws get random inputs).
  */
object MinHashProps extends Properties("MinHashAgg") {

  private val agg = new MinHashAgg(64)
  private val setGen: Gen[List[Long]] =
    Gen.chooseNum(1, 200).flatMap(Gen.listOfN(_, Gen.chooseNum(Long.MinValue, Long.MaxValue)))

  private def sketch(xs: List[Long]): Array[Long] =
    xs.foldLeft(agg.zero)(agg.reduce)

  property("merge is commutative") = forAll(setGen, setGen) { (a, b) =>
    agg.merge(sketch(a), sketch(b)).sameElements(agg.merge(sketch(b), sketch(a)))
  }

  property("merge is associative") = forAll(setGen, setGen, setGen) { (a, b, c) =>
    agg.merge(agg.merge(sketch(a), sketch(b)), sketch(c))
      .sameElements(agg.merge(sketch(a), agg.merge(sketch(b), sketch(c))))
  }

  property("merge of sketches == sketch of union") = forAll(setGen, setGen) { (a, b) =>
    agg.merge(sketch(a), sketch(b)).sameElements(sketch(a ++ b))
  }

  property("identical sets estimate 1.0") = forAll(setGen) { a =>
    MinHashAgg.estimate(sketch(a), sketch(a)) == 1.0
  }

  property("order-insensitive (shuffle invariance)") = forAll(setGen) { a =>
    sketch(a).sameElements(sketch(a.reverse))
  }
}

/** Native shingle expression (functions/Shingles) vs a codepoint-window
  * reference, over arbitrary unicode incl. multi-byte and supplementary
  * chars — shingles are CHAR windows, never byte windows.
  */
object ShinglesProps extends Properties("Shingles") {

  private def reference(s: String, k: Int): Seq[String] = {
    val cps = s.codePoints().toArray
    val count = math.max(cps.length - k + 1, 1)
    (0 until count).map(i => new String(cps, i, math.min(k, cps.length - i)))
  }

  private val tokenGen: Gen[String] = Gen.oneOf(
    Gen.alphaNumChar.map(_.toString), Gen.const(" "),
    Gen.oneOf("é", "ß", "ñ"), Gen.oneOf("日", "本", "語"),
    Gen.const(new String(Character.toChars(0x1F600)))) // supplementary plane
  private val textGen: Gen[String] =
    Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, tokenGen)).map(_.mkString)

  property("equals the codepoint-window reference on any unicode text") =
    forAll(textGen, Gen.chooseNum(1, 9)) { (s, k) =>
      val native = graft.functions.Shingles
        .shingle(org.apache.spark.unsafe.types.UTF8String.fromString(s), k)
        .toObjectArray(org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
      native == reference(s, k)
    }
}

/** Native sliding-window minimum (functions/Winnow) vs the naive
  * per-window reference, over arbitrary long arrays and window sizes —
  * including n < w (one window over everything).
  */
object WinnowProps extends Properties("Winnow") {

  private def reference(xs: Seq[Long], w: Int): Seq[Long] = {
    val count = math.max(xs.length - w + 1, 1)
    (0 until count).map(i => xs.slice(i, i + w).min)
  }

  property("equals the naive per-window min on any non-empty array") =
    forAll(Gen.chooseNum(1, 60).flatMap(n =>
             Gen.listOfN(n, Gen.chooseNum(Long.MinValue, Long.MaxValue))),
           Gen.chooseNum(1, 10)) { (xs, w) =>
      val native = graft.functions.Winnow
        .winnow(new org.apache.spark.sql.catalyst.util.GenericArrayData(xs.toArray), w)
        .toLongArray.toSeq
      native == reference(xs, w)
    }
}

/** Native LSH band keys (functions/LshBands): two signatures share a
  * band key exactly when they agree on that band's slice (the ⟸
  * direction is definitional; ⟹ would only fail on a 2⁻⁶⁴ collision).
  */
object LshBandsProps extends Properties("LshBands") {

  private val bands = 8; private val rows = 4

  private val sigGen: Gen[Array[Long]] =
    Gen.listOfN(bands * rows, Gen.chooseNum(Long.MinValue, Long.MaxValue)).map(_.toArray)

  private def keys(s: Array[Long]) = graft.functions.LshBands
    .bandKeys(new org.apache.spark.sql.catalyst.util.GenericArrayData(s), bands, rows)
    .toLongArray

  property("band keys agree iff the band slices agree") =
    forAll(sigGen, Gen.chooseNum(0, bands - 1), Gen.oneOf(true, false)) {
      (x, b, mutate) =>
        val y = x.clone()
        if (mutate) y(b * rows) = y(b * rows) + 1
        val kx = keys(x); val ky = keys(y)
        (0 until bands).forall { i =>
          val sliceEq = x.slice(i * rows, (i + 1) * rows)
            .sameElements(y.slice(i * rows, (i + 1) * rows))
          (kx(i) == ky(i)) == sliceEq
        }
    }

  property("distinct band positions get distinct keys, even on equal slices") =
    forAll(sigGen.map(s => { // force all bands to the same slice values
      val first = s.take(rows)
      Array.tabulate(bands * rows)(i => first(i % rows))
    })) { x =>
      val kx = keys(x)
      kx.distinct.length == kx.length
    }
}

/** Native signature agreement (functions/SigAgree) vs direct position
  * count on arbitrary equal-length long arrays — the est_jaccard verify
  * step of MinHash LSH.
  */
object SigAgreeProps extends Properties("SigAgree") {

  private val pairGen: Gen[(Array[Long], Array[Long])] = for {
    n <- Gen.chooseNum(1, 128)
    m <- Gen.chooseNum(0, 128) // unequal lengths must not crash
    a <- Gen.listOfN(n, Gen.chooseNum(0L, 7L))
    b <- Gen.listOfN(m, Gen.chooseNum(0L, 7L))
  } yield (a.toArray, b.toArray)

  property("equals the HOF formula: common-prefix agreements over size(a)") =
    forAll(pairGen) { case (a, b) =>
      val native = graft.functions.SigAgree.agree(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(a),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(b))
      val n = math.min(a.length, b.length)
      val c = (0 until n).count(i => a(i) == b(i))
      native == c.toDouble / a.length
    }

  property("empty left side yields null like the HOF's 0/0 division") =
    forAll(Gen.listOf(Gen.chooseNum(0L, 7L))) { b =>
      graft.functions.SigAgree.agree(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long]),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(b.toArray)) == null
    }
}

/** Native Jaccard (functions/JaccardSim) vs set arithmetic on arbitrary
  * distinct string arrays.
  */
object JaccardProps extends Properties("JaccardSim") {

  private val setGen: Gen[Array[org.apache.spark.unsafe.types.UTF8String]] =
    Gen.chooseNum(1, 40).flatMap(n => Gen.listOfN(n,
        Gen.chooseNum(0, 60).map(i => "tok" + i)))
      .map(_.distinct.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray)

  property("equals |A∩B| / |A∪B| on any pair of string sets") =
    forAll(setGen, setGen) { (a, b) =>
      val native = graft.functions.JaccardSim.jaccard(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(a.toArray[AnyRef]),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(b.toArray[AnyRef]))
      val sa = a.map(_.toString).toSet; val sb = b.map(_.toString).toSet
      val c = sa.intersect(sb).size
      native == c.toDouble / (sa.size + sb.size - c)
    }
}

/** Fuzz properties for the five media header parsers: a curation pipeline
  * feeds them ARBITRARY bytes, so the decode contract is "Some or None,
  * never an exception, and the walk always terminates" — the exact class
  * of bug ADVICE r4 found in the WAV walk (u32-overflow infinite loop) and
  * a round-5 review found in the MP3 walk. Three generator regimes: pure
  * random bytes, random bytes behind each format's real magic (forces the
  * deep parse paths), and valid encoder output with one mutated byte.
  */
object MediaCodecProps extends Properties("MediaCodec") {
  import graft.functions.{MediaCodec, MediaGen}

  private val rawGen: Gen[Array[Byte]] =
    Gen.chooseNum(0, 600).flatMap(n => Gen.listOfN(n, Gen.chooseNum(-128, 127)))
      .map(_.map(_.toByte).toArray)

  private val magics: Seq[Array[Byte]] = Seq(
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte), // PNG
    Array(0xff, 0xd8, 0xff).map(_.toByte),                               // JPEG
    "RIFF    WAVE".getBytes(UTF_8),                                      // WAV
    "GIF89a".getBytes(UTF_8),                                            // GIF
    Array(0xff, 0xfb).map(_.toByte),                                     // MP3 frame
    "ID3".getBytes(UTF_8),                                               // MP3 tag
    "OggS".getBytes(UTF_8))                                              // Ogg page

  private val validGen: Gen[Array[Byte]] = Gen.oneOf(
    Gen.zip(Gen.chooseNum(16, 64), Gen.chooseNum(16, 64))
      .map { case (w, h) => MediaGen.png(w, h) },
    Gen.zip(Gen.chooseNum(16, 64), Gen.chooseNum(16, 64))
      .map { case (w, h) => MediaGen.jpeg(w, h) },
    Gen.zip(Gen.chooseNum(16, 64), Gen.chooseNum(16, 64))
      .map { case (w, h) => MediaGen.gif(w, h) },
    Gen.chooseNum(1, 20).map(MediaGen.mp3),
    Gen.zip(Gen.chooseNum(1, 2), Gen.chooseNum(1, 20))
      .map { case (ch, pages) => MediaGen.oggVorbis(ch, 48000, 48000L * pages, pages) },
    Gen.zip(Gen.chooseNum(1, 2), Gen.chooseNum(1, 500))
      .map { case (ch, n) => MediaGen.wav(ch, 8000, 8 * n) })

  property("random bytes never throw") = forAll(rawGen) { b =>
    MediaCodec.decode(b); true
  }

  property("magic-prefixed garbage never throws") =
    forAll(Gen.oneOf(magics), rawGen) { (m, tail) =>
      MediaCodec.decode(m ++ tail); true
    }

  property("one-byte-mutated valid files never throw") =
    forAll(validGen, Gen.chooseNum(0, Int.MaxValue), Gen.chooseNum(-128, 127)) {
      (file, posSeed, v) =>
        val b = file.clone()
        b(posSeed % b.length) = v.toByte
        MediaCodec.decode(b); true
    }

  property("unmutated encoder output always decodes") = forAll(validGen) { b =>
    MediaCodec.decode(b).isDefined
  }

  // the r11 comment-header walk shares the malformed-input posture: any
  // bytes (random, OggS-prefixed, or a one-byte-mutated valid stream)
  // must return an Option, never throw, hang, or mega-allocate
  private val tagGen: Gen[Seq[(String, String)]] =
    Gen.chooseNum(0, 5).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.alphaStr.map(s => if (s.isEmpty) "K" else s.take(12)),
        Gen.alphaNumStr.map(_.take(600))))) // past-255 values span lacing

  private val commentedOggGen: Gen[Array[Byte]] =
    Gen.zip(Gen.chooseNum(1, 2), Gen.chooseNum(1, 8), tagGen)
      .map { case (ch, pages, tags) =>
        MediaGen.oggVorbis(ch, 48000, 48000L * pages, pages, tags) }

  property("vorbis comments: random bytes never throw") = forAll(rawGen) { b =>
    MediaCodec.oggVorbisComments(b); true
  }

  property("vorbis comments: OggS-prefixed garbage never throws") =
    forAll(rawGen) { tail =>
      MediaCodec.oggVorbisComments("OggS".getBytes(UTF_8) ++ tail); true
    }

  property("vorbis comments: generated tags round-trip (names uppercased)") =
    forAll(Gen.zip(Gen.chooseNum(1, 2), tagGen)) { case (ch, tags) =>
      val got = MediaCodec.oggVorbisComments(
        MediaGen.oggVorbis(ch, 48000, 48000L, 1, tags))
      if (tags.isEmpty) got.isEmpty
      else got.exists(_.comments ==
        tags.map { case (k, v) => (k.toUpperCase(java.util.Locale.ROOT), v) })
    }

  property("vorbis comments: one-byte-mutated commented streams never throw") =
    forAll(commentedOggGen, Gen.chooseNum(0, Int.MaxValue), Gen.chooseNum(-128, 127)) {
      (file, posSeed, v) =>
        val b = file.clone()
        b(posSeed % b.length) = v.toByte
        MediaCodec.oggVorbisComments(b); true
    }
}

/** Hostile-input fuzz for the HFile READ paths (VERDICT r5 item #6, same
  * regime as MediaCodecProps): the codec is the OLTP read path, so a
  * damaged region file may throw a clean exception but must never hang,
  * spin the decode loop, or allocate past the buffer it came from (OOM).
  * The hang case is asserted structurally: each decoded cell consumes
  * ≥ 20 payload bytes raw, ≥ 3 FAST_DIFF-encoded (flag + commonPrefix
  * vint + 1 timestamp byte), so any consumption exceeding len/3 + slack
  * means a non-advancing offset — exactly the keyLen = -8 loop the
  * guards in decodeKeyValue/fastDiffIterator exist to prevent.
  */
object HFileFuzzProps extends Properties("HFileFuzz") {

  import HFileCodec.MaxBlockBytes

  private val cellGen: Gen[HCell] = for {
    row <- Gen.chooseNum(1, 16).flatMap(Gen.listOfN(_, Gen.alphaNumChar)).map(_.mkString.getBytes(UTF_8))
    qual <- Gen.chooseNum(0, 8).flatMap(Gen.listOfN(_, Gen.alphaNumChar)).map(_.mkString.getBytes(UTF_8))
    ts <- Gen.chooseNum(0L, 1L << 40)
    value <- Gen.chooseNum(0, 16).flatMap(Gen.listOfN(_, Gen.alphaNumChar)).map(_.mkString.getBytes(UTF_8))
  } yield HCell(row, "f".getBytes(UTF_8), qual, ts, HFileCodec.TypePut, value)

  // all codec × encoding × checksum combinations: every mutation/
  // truncation property below must hold over GZ, FAST_DIFF, and CRC32C
  // files too (r6/r7/r8 punch lists — corrupting a compressed payload
  // must throw out of gunzip, a corrupted delta entry out of
  // fastDiffIterator, a corrupted checksummed block out of the CRC
  // verify; never hang or over-allocate)
  private val fileGen: Gen[Array[Byte]] =
    Gen.zip(Gen.chooseNum(1, 60).flatMap(Gen.listOfN(_, cellGen)),
        Gen.oneOf(64, 256, 4096),
        Gen.oneOf(HFileCodec.CompressionNone, HFileCodec.CompressionGz,
          HFileCodec.CompressionSnappy, HFileCodec.CompressionLz4,
          HFileCodec.CompressionZstd),
        Gen.oneOf(HFileCodec.EncodingNone, HFileCodec.EncodingPrefix,
          HFileCodec.EncodingDiff, HFileCodec.EncodingFastDiff,
          HFileCodec.EncodingRowIndexV1),
        Gen.oneOf(HFileCodec.ChecksumNull, HFileCodec.ChecksumCrc32c))
      .map { case (cells, bs, codec, enc, sum) =>
        HFileCodec.write(cells.sortBy(c => new String(c.row, UTF_8)).iterator,
          bs, codec, enc, sum)
      }

  private val rawGen: Gen[Array[Byte]] =
    Gen.chooseNum(0, 800).flatMap(n => Gen.listOfN(n, Gen.chooseNum(-128, 127)))
      .map(_.map(_.toByte).toArray)

  /** Consume the streaming reader with the structural hang bound
    * (≥ 3 bytes per FAST_DIFF entry is the tighter of the two decoders).
    */
  private def boundedConsume(bytes: Array[Byte]): Boolean = {
    val limit = bytes.length / 3 + 64
    var n = 0
    val it = HFileCodec.readStreaming(new java.io.ByteArrayInputStream(bytes))
    while (it.hasNext && n <= limit) { it.next(); n += 1 }
    n <= limit
  }

  property("readStreaming: pure random bytes throw cleanly or yield nothing") =
    forAll(rawGen) { b =>
      try boundedConsume(b) catch { case _: Exception => true }
    }

  property("readStreaming: data-magic-prefixed garbage never hangs") =
    forAll(rawGen) { tail =>
      try boundedConsume(HFileCodec.DataMagic ++ tail)
      catch { case _: Exception => true }
    }

  property("readStreaming: encoded-magic-prefixed garbage never hangs") =
    forAll(rawGen) { tail =>
      try boundedConsume(HFileCodec.EncodedDataMagic ++ tail)
      catch { case _: Exception => true }
    }

  property("FAST_DIFF: mutated encoded entries throw cleanly or stay bounded") =
    forAll(Gen.chooseNum(2, 60).flatMap(Gen.listOfN(_, cellGen)),
           Gen.chooseNum(0, Int.MaxValue), Gen.chooseNum(-128, 127)) {
      (cells, posSeed, v) =>
        val file = HFileCodec.write(
          cells.sortBy(c => new String(c.row, UTF_8)).iterator,
          4096, HFileCodec.CompressionNone, HFileCodec.EncodingFastDiff,
          HFileCodec.ChecksumNull)
        // target a byte INSIDE the first data block's encoded payload,
        // past the 2-byte id: flag/vint/suffix damage, not header damage
        // (ChecksumNull so the damage reaches the decoder, not the CRC)
        val onDiskLen = java.nio.ByteBuffer.wrap(file, 8, 4).getInt
        val b = file.clone()
        if (onDiskLen > 2)
          b(HFileCodec.HeaderSize + 2 + posSeed % (onDiskLen - 2)) = v.toByte
        try boundedConsume(b) catch { case _: Exception => true }
    }

  property("PREFIX: mutated encoded entries throw cleanly or stay bounded") =
    forAll(Gen.chooseNum(2, 60).flatMap(Gen.listOfN(_, cellGen)),
           Gen.chooseNum(0, Int.MaxValue), Gen.chooseNum(-128, 127)) {
      (cells, posSeed, v) =>
        val file = HFileCodec.write(
          cells.sortBy(c => new String(c.row, UTF_8)).iterator,
          4096, HFileCodec.CompressionNone, HFileCodec.EncodingPrefix,
          HFileCodec.ChecksumNull)
        // target a byte INSIDE the first data block's encoded payload,
        // past the 2-byte id: varint/suffix damage, not header damage
        // (ChecksumNull so the damage reaches the decoder, not the CRC)
        val onDiskLen = java.nio.ByteBuffer.wrap(file, 8, 4).getInt
        val b = file.clone()
        if (onDiskLen > 2)
          b(HFileCodec.HeaderSize + 2 + posSeed % (onDiskLen - 2)) = v.toByte
        try boundedConsume(b) catch { case _: Exception => true }
    }

  property("DIFF: mutated encoded entries throw cleanly or stay bounded") =
    forAll(Gen.chooseNum(2, 60).flatMap(Gen.listOfN(_, cellGen)),
           Gen.chooseNum(0, Int.MaxValue), Gen.chooseNum(-128, 127)) {
      (cells, posSeed, v) =>
        val file = HFileCodec.write(
          cells.sortBy(c => new String(c.row, UTF_8)).iterator,
          4096, HFileCodec.CompressionNone, HFileCodec.EncodingDiff,
          HFileCodec.ChecksumNull)
        val onDiskLen = java.nio.ByteBuffer.wrap(file, 8, 4).getInt
        val b = file.clone()
        if (onDiskLen > 2)
          b(HFileCodec.HeaderSize + 2 + posSeed % (onDiskLen - 2)) = v.toByte
        try boundedConsume(b) catch { case _: Exception => true }
    }

  property("ROW_INDEX_V1: mutated blocks throw cleanly or stay bounded, both shapes") =
    forAll(Gen.chooseNum(2, 60).flatMap(Gen.listOfN(_, cellGen)),
           Gen.chooseNum(0, Int.MaxValue), Gen.chooseNum(-128, 127),
           Gen.chooseNum(1, 16).flatMap(Gen.listOfN(_, Gen.alphaNumChar)).map(_.mkString)) {
      (cells, posSeed, v, probe) =>
        val file = HFileCodec.write(
          cells.sortBy(c => new String(c.row, UTF_8)).iterator,
          4096, HFileCodec.CompressionNone, HFileCodec.EncodingRowIndexV1,
          HFileCodec.ChecksumNull)
        // target a byte INSIDE the first data block's payload past the
        // 2-byte id: cell, offset-array, or trailing-length damage
        // (ChecksumNull so the damage reaches the decoder, not the CRC)
        val onDiskLen = java.nio.ByteBuffer.wrap(file, 8, 4).getInt
        val b = file.clone()
        if (onDiskLen > 2)
          b(HFileCodec.HeaderSize + 2 + posSeed % (onDiskLen - 2)) = v.toByte
        val scanOk = try boundedConsume(b) catch { case _: Exception => true }
        // the seek path validates the same lengths: damaged offsets may
        // only throw, never read outside the data section or spin
        val seekOk =
          try {
            val payload = HFileCodec.blockPayload(b, 0)
            if (HFileCodec.encodingIdOf(payload) == HFileCodec.EncodingRowIndexV1) {
              val it = HFileCodec.rowIndexSeek(payload, 2, probe.getBytes(UTF_8))
              val limit = payload.length / 3 + 64
              var n = 0
              while (it.hasNext && n <= limit) { it.next(); n += 1 }
              n <= limit
            } else true
          } catch { case _: Exception => true }
        scanOk && seekOk
    }

  property("readStreaming: one-byte-mutated valid file never hangs or over-allocates") =
    forAll(fileGen, Gen.chooseNum(0, Int.MaxValue), Gen.chooseNum(-128, 127)) {
      (file, posSeed, v) =>
        val b = file.clone(); b(posSeed % b.length) = v.toByte
        try boundedConsume(b) catch { case _: Exception => true }
    }

  property("readStreaming: truncation at any point throws cleanly or yields a prefix") =
    forAll(fileGen, Gen.chooseNum(0, Int.MaxValue)) { (file, cutSeed) =>
      val b = java.util.Arrays.copyOfRange(file, 0, cutSeed % file.length)
      try boundedConsume(b) catch { case _: Exception => true }
    }

  // -------- r10: per-cell mvcc (memstoreTS vlong) + v3 tags postfixes

  private val extrasCellGen: Gen[HCell] = for {
    c <- cellGen
    mts <- Gen.chooseNum(0L, 1L << 45)
    tags <- Gen.chooseNum(0, 8).flatMap(Gen.listOfN(_, Gen.chooseNum(-128, 127)))
      .map(_.map(_.toByte).toArray)
  } yield c.copy(memstoreTS = mts, tags = tags)

  property("hadoop vlong: values round-trip at every length, negatives included") =
    forAll(Gen.oneOf(Gen.chooseNum(Long.MinValue, Long.MaxValue),
      Gen.oneOf(0L, -1L, -112L, -113L, 127L, 128L, Long.MinValue, Long.MaxValue))) { v =>
      val out = new java.io.ByteArrayOutputStream()
      HFileCodec.writeVLong(out, v)
      val (back, off) = HFileCodec.readVLong(out.toByteArray, 0)
      back == v && off == out.size()
    }

  property("mvcc+tags: round-trip under every codec × encoding") =
    forAll(Gen.chooseNum(1, 40).flatMap(Gen.listOfN(_, extrasCellGen)),
      Gen.oneOf(HFileCodec.CompressionNone, HFileCodec.CompressionGz,
        HFileCodec.CompressionSnappy, HFileCodec.CompressionLz4,
        HFileCodec.CompressionZstd),
      Gen.oneOf(HFileCodec.EncodingNone, HFileCodec.EncodingPrefix,
        HFileCodec.EncodingDiff, HFileCodec.EncodingFastDiff,
        HFileCodec.EncodingRowIndexV1)) { (cells0, codec, enc) =>
      val cells = cells0.sortBy(c => new String(c.row, UTF_8))
      val file = HFileCodec.write(cells.iterator, 4096, codec, enc,
        includeMvcc = true, includeTags = true)
      val info = HFileCodec.readFileInfo(file)
      val back = HFileCodec.read(file).toSeq
      info.contains(HFileCodec.MaxMemstoreTsKey) &&
        info.contains(HFileCodec.MaxTagsLenKey) &&
        back.size == cells.size &&
        back.zip(cells).forall { case (b, c) =>
          b.memstoreTS == c.memstoreTS &&
            java.util.Arrays.equals(b.tags, c.tags) &&
            java.util.Arrays.equals(b.value, c.value) && b.ts == c.ts
        }
    }

  property("mvcc+tags: mutated extras file never hangs either read path") =
    forAll(Gen.chooseNum(1, 40).flatMap(Gen.listOfN(_, extrasCellGen)),
      Gen.chooseNum(0, Int.MaxValue), Gen.chooseNum(-128, 127)) {
      (cells0, posSeed, v) =>
        val file = HFileCodec.write(
          cells0.sortBy(c => new String(c.row, UTF_8)).iterator,
          4096, HFileCodec.CompressionNone, HFileCodec.EncodingNone,
          includeMvcc = true, includeTags = true)
        val b = file.clone(); b(posSeed % b.length) = v.toByte
        val stream = try boundedConsume(b) catch { case _: Exception => true }
        val walk =
          try { HFileCodec.read(b).foreach(_ => ()); true }
          catch { case _: Exception => true }
        stream && walk
    }

  property("index-walking read + pointGet prune survive one-byte mutation") =
    forAll(fileGen, Gen.chooseNum(0, Int.MaxValue), Gen.chooseNum(-128, 127),
           Gen.chooseNum(1, 16).flatMap(Gen.listOfN(_, Gen.alphaNumChar)).map(_.mkString)) {
      (file, posSeed, v, probe) =>
        val b = file.clone(); b(posSeed % b.length) = v.toByte
        val limit = b.length / 3 + 64
        val scanOk =
          try {
            val it = HFileCodec.read(b)
            var n = 0
            while (it.hasNext && n <= limit) { it.next(); n += 1 }
            n <= limit
          } catch { case _: Exception => true }
        val getOk =
          try { HFileCodec.mayContainRow(b, probe.getBytes(UTF_8)); true }
          catch { case _: Exception => true }
        scanOk && getOk
    }

  property("GZ: corrupted compressed payload throws cleanly from every read path") =
    forAll(Gen.chooseNum(2, 60).flatMap(Gen.listOfN(_, cellGen)),
           Gen.chooseNum(0, Int.MaxValue), Gen.chooseNum(-128, 127)) {
      (cells, posSeed, v) =>
        val file = HFileCodec.write(
          cells.sortBy(c => new String(c.row, UTF_8)).iterator,
          64, HFileCodec.CompressionGz, HFileCodec.EncodingNone,
          HFileCodec.ChecksumNull)
        // target a byte INSIDE the first data block's compressed payload
        // (offset 33..33+onDiskLen): deflate stream damage, not header
        // damage (ChecksumNull so the damage reaches gunzip, not the CRC)
        val onDiskLen = java.nio.ByteBuffer.wrap(file, 8, 4).getInt
        val b = file.clone()
        b(HFileCodec.HeaderSize + posSeed % onDiskLen) = v.toByte
        val streamOk = try boundedConsume(b) catch { case _: Exception => true }
        val walkOk =
          try { HFileCodec.read(b).foreach(_ => ()); true }
          catch { case _: Exception => true }
        streamOk && walkOk
    }

  property("declared block lengths above MaxBlockBytes are rejected before allocation") =
    forAll(Gen.chooseNum(MaxBlockBytes.toLong + 1, Int.MaxValue.toLong)) { len =>
      val hdr = java.nio.ByteBuffer.allocate(HFileCodec.HeaderSize)
      hdr.put(HFileCodec.DataMagic).putInt(len.toInt)
      val bytes = hdr.array() ++ Array.fill[Byte](32)(0)
      try { boundedConsume(bytes); false }
      catch { case e: IllegalArgumentException => e.getMessage.contains("implausible") }
    }
}

/** The deterministic sampling hash (SampleOps.mixBucket), as pure JVM
  * arithmetic — `refMix` is the law the Spark column expression and the
  * DuckDB oracle text must both equal (MiscSpec pins the Spark side
  * against it on a fixture id set; the oracle side is driver-gated by
  * j20/j22/j23).
  */
object SampleHashProps extends Properties("SampleHash") {

  private val M = Array(2147483647L, 2147483629L, 2147483587L)
  private val K = Array(2654435761L, 2246822519L, 3266489917L)

  /** Reference spelling of SampleOps.mixBucket over plain longs. */
  def refMix(id: Long): Long =
    (0 until 3).map(i => Math.floorMod(id, M(i)) * K(i) % 4294967296L)
      .sum % 4294967296L

  private val anyId = Gen.chooseNum(Long.MinValue, Long.MaxValue)

  property("bucket in [0, 2^32) for every long") = forAll(anyId) { id =>
    val h = refMix(id)
    h >= 0L && h < 4294967296L
  }

  property("no intermediate exceeds 2^63 (both engines reject overflow)") =
    forAll(anyId) { id =>
      (0 until 3).forall { i =>
        val r = Math.floorMod(id, M(i))
        r >= 0L && r.toDouble * K(i) < Long.MaxValue.toDouble
      }
    }

  property("ids 2^31-1 apart never share a hash (r6 periodicity fix)") =
    forAll(Gen.chooseNum(Long.MinValue, Long.MaxValue - 2147483647L)) { id =>
      refMix(id) != refMix(id + 2147483647L)
    }

  property("shift by any single modulus always changes the hash") =
    forAll(Gen.chooseNum(Long.MinValue + 2147483647L,
                         Long.MaxValue - 2147483647L),
           Gen.oneOf(0, 1, 2), Gen.oneOf(true, false)) { (id, i, up) =>
      val shifted = if (up) id + M(i) else id - M(i)
      refMix(id) != refMix(shifted)
    }
}
