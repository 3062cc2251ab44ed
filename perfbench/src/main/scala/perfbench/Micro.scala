package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.Tables
import graft.ops.DedupOps
import graft.sources.HFileCodec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Layer microbenchmarks of the traced run, one span per call (name
  * "micro", label = what was measured). Each calls one public graft entry
  * point over the benchmark's fixture and records the work done as span
  * attributes; `run.py` turns spans into rates.
  */
object Micro {
  val Reps = 3

  /** HFile codec settings measured: label suffix -> (compression, encoding). */
  val HFileSettings: Seq[(String, Int, Int)] = Seq(
    ("none", HFileCodec.CompressionNone, HFileCodec.EncodingNone),
    ("fastdiff_gz", HFileCodec.CompressionGz, HFileCodec.EncodingFastDiff))

  def run(spark: SparkSession, trace: Trace, data: String): Unit = {
    var qid = 0L
    // a negative query id per call keeps micro jobs apart from query jobs
    def call[T](label: String)(attrs: T => Map[String, Double])(body: => T): T = {
      qid -= 1
      val sc = spark.sparkContext
      sc.setJobGroup(JobListener.group(qid), label, interruptOnCancel = false)
      val id = trace.newId()
      val t0 = trace.now()
      try {
        val r = body
        trace.record(trace.Span(id, 0L, qid, "micro", label, t0, trace.now(), attrs(r)))
        r
      } finally sc.clearJobGroup()
    }

    // HFile codec over the fixture's cells, in KeyValue order (rowkeys are
    // unique per cell, so rowkey order is KeyValue order)
    val cells = Tables.cells(spark, data).orderBy("rowkey").collect().map { r =>
      HFileCodec.HCell(r.getString(0).getBytes(UTF_8), r.getString(1).getBytes(UTF_8),
        r.getString(2).getBytes(UTF_8), r.getLong(3),
        if (r.getString(5) == "delete") HFileCodec.TypeDeleteColumn else HFileCodec.TypePut,
        java.nio.ByteBuffer.allocate(8).putDouble(r.getDouble(4)).array())
    }
    val rawBytes = cells.map(c => c.keyBytes.length + c.value.length).sum.toDouble
    for ((name, compression, encoding) <- HFileSettings; _ <- 1 to Reps) {
      val file = call(s"hfile.encode.$name")((f: Array[Byte]) =>
        Map("raw_bytes" -> rawBytes, "cells" -> cells.length.toDouble, "file_bytes" -> f.length.toDouble)) {
        HFileCodec.write(cells.iterator, 64 * 1024, compression, encoding)
      }
      call(s"hfile.decode.$name")((n: Int) =>
        Map("raw_bytes" -> rawBytes, "cells" -> n.toDouble)) {
        val n = HFileCodec.read(file).size
        require(n == cells.length, s"HFile round trip lost cells: $n of ${cells.length}")
        n
      }
    }

    // graft.functions kernels as projections over the documents
    val docs = Tables.documents(spark, data)
    graft.functions.Shingles.register(spark)
    graft.functions.MinHashSig.register(spark)
    val kernels = Seq(
      "shingles" -> (() => docs.select(DedupOps.shingles(col("text"), 5))),
      "minhash" -> (() => docs.select(DedupOps.minhashSig(DedupOps.shingles(col("text"), 5), 128))),
      "simhash" -> (() => DedupOps.simhash(docs)))
    for ((name, df) <- kernels; _ <- 1 to Reps)
      call(s"kernels.$name")((n: Long) => Map("docs" -> n.toDouble)) {
        df().queryExecution.toRdd.count()
      }

    // DedupOps stages of the MinHash/LSH pipeline, each materialized once
    val sigs = DedupOps.signatures(docs).cache()
    call("dedup.signatures")((n: Long) => Map("docs" -> n.toDouble))(sigs.count())
    val pairs = DedupOps.candidatePairs(sigs).cache()
    val nPairs = call("dedup.candidates")((n: Long) => Map("pairs" -> n.toDouble))(pairs.count())
    call("dedup.cc")((n: Long) => Map("labels" -> n.toDouble)) {
      DedupOps.clustersFromEdges(pairs).queryExecution.toRdd.count()
    }
    call("dedup.verify")((n: Long) => Map("pairs" -> nPairs.toDouble, "verified" -> n.toDouble)) {
      DedupOps.verifyPairs(DedupOps.shingleSets(docs), pairs).where(col("jaccard") >= 0.7).count()
    }
    pairs.unpersist()
    sigs.unpersist()
  }
}
