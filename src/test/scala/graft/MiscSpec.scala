package graft

import org.apache.spark.sql.functions._

/** A2 (CSV/JSON source+sink round trip), D4 (HLL error bound), J11
  * (KMeans purity sanity) — the SURVEY §2 rows whose checks are unit
  * tests rather than DuckDB oracles.
  */
class MiscSpec extends SparkSuite {

  test("A2: CSV round-trip preserves data") {
    val dir = SparkSuite.tempDir("graft_csv").toString
    val src = Tables.nation(spark, sf)
    src.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
    assert(back.count() == src.count())
    assert(back.columns.sameElements(src.columns))
    val a = src.orderBy("n_nationkey").collect().map(_.toString)
    val b = back.orderBy("n_nationkey").collect().map(_.toString)
    assert(a.sameElements(b))
  }

  test("j14 pads deficient probes with jaccard-0 pairs like the oracle's cross join") {
    import spark.implicits._
    // 7 docs: 0 and 1 are identical (jaccard 1.0); 2..6 share no shingles
    // with anything. Every doc_id < 10 is a probe, so every probe has at
    // most 1 intersecting partner and MUST be padded to 5 rows with the
    // lowest-doc_id zero pairs — the sparse-corpus path no fixture SF
    // exercises.
    val dir = SparkSuite.tempDir("graft_j14pad").toString
    Seq(
      (0L, "abcdefghij"), (1L, "abcdefghij"), (2L, "kkkkkkkkkk"),
      (3L, "llllllllll"), (4L, "mmmmmmmmmm"), (5L, "nnnnnnnnnn"),
      (6L, "oooooooooo"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.ops.TextOps.j14_dedup_ngram(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(rows.length == 7 * 5, s"expected 35 rows, got ${rows.length}")
    // probe 0: identical doc 1 first, then zero pairs in doc_id order
    assert(rows.filter(_._1 == 0L).sortBy(_._3).toSeq == Seq(
      (0L, 1L, 1, 1.0), (0L, 2L, 2, 0.0), (0L, 3L, 3, 0.0),
      (0L, 4L, 4, 0.0), (0L, 5L, 5, 0.0)))
    // probe 2 intersects nothing: pure zero padding by doc_id
    assert(rows.filter(_._1 == 2L).sortBy(_._3).toSeq == Seq(
      (2L, 0L, 1, 0.0), (2L, 1L, 2, 0.0), (2L, 3L, 3, 0.0),
      (2L, 4L, 4, 0.0), (2L, 5L, 5, 0.0)))
  }

  test("sampleHash: decisions match the reference hash for negative and huge ids") {
    import spark.implicits._
    // regression net for two fixed bugs: ids > ~3.4e9 overflowed the
    // multiply under ANSI mode, and negative ids hashed to negative
    // buckets that passed any `< pct` filter unconditionally
    val ids = Seq(-Long.MaxValue, -4294967296L, -3L, -1L, 0L, 1L, 42L,
      2147483646L, 2147483647L, 4294967296L, Long.MaxValue - 1, Long.MaxValue) ++
      (-500L to 500L by 7)
    val df = ids.toDF("doc_id")
    val kept = graft.ops.SampleOps.sampleHash(df, pct = 20)
      .collect().map(_.getLong(0)).toSet
    def refKeep(id: Long): Boolean = SampleHashProps.refMix(id) % 100 < 20
    ids.foreach { id =>
      assert(kept.contains(id) == refKeep(id), s"decision mismatch for id=$id")
    }
    // the negative-id bug made this 100%; the true rate on this range is ~pct
    val neg = ids.filter(_ < 0)
    val negKept = neg.count(kept.contains)
    assert(negKept < neg.size,
      s"all $negKept/${neg.size} negative ids sampled — sign bug is back")
  }

  test("j21/j24: a null-text doc gets a NULL token count, not -1 (oracle semantics)") {
    import spark.implicits._
    // Spark's legacy sizeOfNull would count a null text as -1 while the
    // DuckDB oracle yields NULL — shifting every later cum by -1 and
    // landing the doc in shard -1 vs NULL. No fixture SF has a null text,
    // so this pins the constructed case: the null doc must land in the
    // NULL shard and must NOT perturb any later doc's shard.
    val dir = SparkSuite.tempDir("graft_nulltok").toString
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    Seq(
      (0L, Option(words(3000))), // cum 3000 -> shard 0
      (1L, None),                // null text -> tok NULL -> shard NULL
      (2L, Option(words(2000))), // cum 5000 -> shard 0 (3000/4096)
      (3L, Option(words(2000))), // cum 7000 -> shard 1 (5000/4096)
      (4L, Option("")))          // 1 token  -> cum 7001 -> shard 1
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val shards = graft.ops.SampleOps.j21_pack_shards(spark, dir).collect()
      .map(r => (if (r.isNullAt(0)) null else r.getLong(0),
        r.getLong(1), if (r.isNullAt(2)) null else r.getLong(2)))
    assert(shards.toSeq == Seq((0L, 2L, 5000L), (1L, 2L, 2001L), (null, 1L, null)),
      s"got ${shards.toSeq}")
    val payloads = graft.ops.SampleOps.j24_pack_payload(spark, dir).collect()
      .map(r => (if (r.isNullAt(0)) null else r.getLong(0), r.isNullAt(2)))
    // the NULL shard holds only the null text: string_agg of zero non-null
    // inputs is NULL (not md5("")); real shards have real fingerprints
    assert(payloads.toSeq == Seq((0L, false), (1L, false), (null, true)),
      s"got ${payloads.toSeq}")
  }

  test("j14 deficient-only padding is bit-identical to the unconditional grid") {
    // Reference spelling: the r5 form that left-joins the FULL
    // (probe × doc) id grid so every zero-intersection pair exists before
    // the window. The shipped form pads only deficient probes; this pins
    // exceptAll = 0 in both directions on the fixture.
    val sh = Tables.documents(spark, sf)
      .select(col("doc_id"), lower(col("text")).as("t"))
      .select(col("doc_id"),
        array_distinct(graft.functions.Shingles.of(col("t"), 5)).as("sh"))
    val probes = sh.where(col("doc_id") < 10)
      .select(col("doc_id").as("pid"), col("sh").as("psh"))
    val probeSh = probes.select(col("pid"), explode(col("psh")).as("g"))
    val corpusSh = sh.select(col("doc_id"), explode(col("sh")).as("g"))
    val inter = corpusSh.join(broadcast(probeSh), "g")
      .where(col("doc_id") =!= col("pid"))
      .groupBy("pid", "doc_id").agg(count(lit(1)).as("c"))
    val allPairs = broadcast(probes.select(col("pid"), size(col("psh")).as("pn")))
      .crossJoin(sh.select(col("doc_id"), size(col("sh")).as("dn")))
      .where(col("doc_id") =!= col("pid"))
    val pairsRef = allPairs.join(inter, Seq("pid", "doc_id"), "left")
      .select(col("pid"), col("doc_id"),
        (coalesce(col("c"), lit(0L)).cast("double")
          / (col("pn") + col("dn") - coalesce(col("c"), lit(0L)))).as("jaccard"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("pid").orderBy(col("jaccard").desc, col("doc_id"))
    val ref = pairsRef.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5).select("pid", "doc_id", "rn", "jaccard")
    val got = graft.ops.TextOps.j14_dedup_ngram(spark, sf)
      .select("pid", "doc_id", "rn", "jaccard")
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty)
  }

  test("A2: ORC round-trip preserves data") {
    val dir = SparkSuite.tempDir("graft_orc").toString
    val src = Tables.supplier(spark, sf)
    src.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.orderBy("s_suppkey").collect().map(_.toString)
      .sameElements(src.orderBy("s_suppkey").collect().map(_.toString)))
  }

  test("A2: text source reads lines") {
    val dir = SparkSuite.tempDir("graft_txt").toString
    Tables.documents(spark, sf).select("text").limit(50)
      .write.mode("overwrite").text(dir)
    assert(spark.read.text(dir).count() == 50)
  }

  test("A2: JSON round-trip preserves data") {
    val dir = SparkSuite.tempDir("graft_json").toString
    val src = Tables.region(spark, sf)
    src.write.mode("overwrite").json(dir)
    val back = spark.read.json(dir).select(src.columns.map(col): _*)
    assert(back.orderBy("r_regionkey").collect().map(_.toString)
      .sameElements(src.orderBy("r_regionkey").collect().map(_.toString)))
  }

  test("A3: schema inference on events.props JSON payload") {
    val ev = Tables.events(spark, sf)
    val sch = spark.range(1).select(
      schema_of_json(lit("""{"k": 1}"""))).first().getString(0)
    assert(sch.contains("k"))
    val parsed = ev.select(from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k").as("k"))
    assert(parsed.where(col("k").isNotNull).count() > 0)
  }

  test("D4: approx_count_distinct within 5% of exact") {
    val li = Tables.lineitem(spark, sf)
    val exact = li.select(countDistinct("l_partkey")).first().getLong(0)
    val approx = li.select(approx_count_distinct("l_partkey", 0.02)).first().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx $approx vs exact $exact")
  }

  test("rowCountFromMeta equals count() on the fixture and on a 40-part-file directory") {
    Seq("documents", "events", "lineitem").foreach { t =>
      assert(Tables.rowCountFromMeta(spark, sf, t) == Tables.load(spark, sf, t).count(), t)
    }
    val dir = SparkSuite.tempDir("graft_rowcount").toString
    spark.range(0, 10007, 1, 40).toDF("id").write.parquet(s"$dir/wide.parquet")
    val parts = new java.io.File(s"$dir/wide.parquet").list().count(_.endsWith(".parquet"))
    assert(parts == 40, s"fixture write produced $parts part files, wanted 40")
    assert(Tables.rowCountFromMeta(spark, dir, "wide") == 10007)
    assert(Tables.load(spark, dir, "wide").count() == 10007)
  }

  test("J11: seeded KMeans recovers planted blobs; deterministic on fixture") {
    import spark.implicits._
    // fixture labels are not embedding-derived (measured purity ≈ chance),
    // so recovery is asserted on planted well-separated blobs instead
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(4)(Array.fill(8)(rnd.nextDouble() * 20 - 10))
    val blobs = (0 until 400).map { i =>
      val c = i % 4
      (i.toLong, c, centers(c).map(x => (x + rnd.nextGaussian() * 0.5).toFloat))
    }.toDF("vec_id", "label", "embedding")
    val clustered = ops.ClusterOps.kmeans(blobs, k = 4)
    assert(ops.ClusterOps.purity(clustered) > 0.95)
    // determinism on the real fixture
    val emb = Tables.embeddings(spark, sf)
    val c1 = ops.ClusterOps.kmeans(emb)
    val c2 = ops.ClusterOps.kmeans(emb)
    assert(c1.orderBy("vec_id").collect().map(_.toString)
      .sameElements(c2.orderBy("vec_id").collect().map(_.toString)))
  }

  test("H8/H10: map functions + xxhash64/crc32 (no DuckDB twin) behave") {
    val df = spark.range(3).select(
      map_from_arrays(array(lit("a"), lit("b")), array(col("id"), col("id") * 2)).as("m"),
      xxhash64(col("id")).as("xx"), crc32(col("id").cast("string")).as("crc"))
    val r = df.select(element_at(col("m"), "b").as("b"), col("xx"), col("crc")).collect()
    assert(r.map(_.getLong(0)).sameElements(Array(0L, 2L, 4L)))
    assert(r.map(_.getLong(1)).distinct.length == 3)
  }

  test("A5 invariant: bulkload split points are sorted and cover the keyspace") {
    val splits = SparkEntry.queries("a5_bulkload_splits")(spark, sf)
      .collect().map(_.getString(1))
    assert(splits.sameElements(splits.sorted))
    val maxKey = Tables.cells(spark, sf).agg(max("rowkey")).first().getString(0)
    assert(splits.last == maxKey)
  }

  test("F3: sortWithinPartitions keeps partition-local rowkey order (A5 write path)") {
    import spark.implicits._
    val sorted = Tables.cells(spark, sf)
      .repartitionByRange(4, col("rowkey"))
      .sortWithinPartitions("rowkey")
      .select("rowkey").as[String]
    val violations = sorted.mapPartitions { it =>
      var prev: String = null
      var bad = 0L
      it.foreach { k => if (prev != null && k < prev) bad += 1; prev = k }
      Iterator.single(bad)
    }.collect().sum
    assert(violations == 0)
  }

  test("ProbeShingleHits dedupes repeated probe shingles (self-enforcing contract)") {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.ProbeShingleHits
    // probe 7's list repeats "abcde" three times; semantics are per
    // DISTINCT shingle, so c and pn must match the deduped probe exactly
    val dup = ProbeShingleHits(Literal.create("xabcdex", StringType), 5,
      Seq((7L, Seq("abcde", "abcde", "abcde", "bcdex"))))
    val ded = ProbeShingleHits(Literal.create("xabcdex", StringType), 5,
      Seq((7L, Seq("abcde", "bcdex"))))
    val a = dup.eval(null)
    val b = ded.eval(null)
    assert(a.toString == b.toString, s"dup=$a ded=$b")
    // and the counted intersection is the true one: text "xabcdex" has
    // distinct 5-shingles {xabcd, abcde, bcdex}, both probe shingles hit
    val arr = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(arr.numElements() == 1)
    val row = arr.getStruct(0, 4)
    assert(row.getLong(0) == 7L && row.getInt(1) == 2 &&
      row.getInt(2) == 2 && row.getInt(3) == 3,
      s"got pid=${row.getLong(0)} pn=${row.getInt(1)} c=${row.getInt(2)} dn=${row.getInt(3)}")
  }
}
