package graft

import org.apache.spark.sql.functions._

/** ScaleOps.fanOut's metadata decision — pinned after the r16 bench
  * caught it silently becoming the identity: Spark 4's `read.parquet`
  * leaves an UnresolvedDataSource leaf in the raw logical plan, so the
  * relation match must run on the ANALYZED plan. The bench saw j33 go
  * 0.7 s → 2.8 s (the digest pass serialized on one core) while every
  * functional gate stayed green — exactly the class of bug only a
  * decision-level test catches.
  */
class FanOutSpec extends SparkSuite {

  test("fanOut widens a split-starved single-row-group fixture scan") {
    val docs = Tables.documents(spark, sf) // 1 file, 1 row group
    val out = graft.ops.ScaleOps.fanOut(docs)
    assert(!(out eq docs),
      "fanOut returned the identity on a 1-row-group scan — the scan-" +
        "metadata match found no relation (analyzed vs logical plan?)")
    assert(out.queryExecution.executedPlan.toString
        .toLowerCase.contains("roundrobinpartitioning"),
      "widened plan lost its round-robin exchange")
  }

  /** A parquet scan of more files than the session's parallelism. */
  private lazy val manyFiles = {
    val target = spark.sparkContext.defaultParallelism
    val dir = SparkSuite.tempDir("fanout-many").toString
    import spark.implicits._
    (0 until target + 1).map(i => (i.toLong, s"r$i")).toDF("id", "v")
      .repartition(target + 1, col("id"))
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    assert(df.inputFiles.length >= target,
      s"fixture write produced ${df.inputFiles.length} files, wanted >= $target")
    df
  }

  test("fanOut is the identity once the file count reaches the parallelism") {
    val df = manyFiles
    // production path: enough files => identity decided from the file
    // LIST alone, zero footer reads
    assert(graft.ops.ScaleOps.fanOut(df) eq df)
    assert(graft.ops.ScaleOps.fanOut(df, asc_nulls_last("id")) eq df)
  }

  test("keyed fanOut on a starved scan plans ONE range exchange under an orderBy on its key") {
    val docs = Tables.documents(spark, sf) // 1 file, 1 row group
    val key = asc_nulls_last("doc_id")
    val out = graft.ops.ScaleOps.fanOut(docs, key)
    assert(!(out eq docs), "keyed fanOut returned the identity on a 1-row-group scan")
    val plan = out.select(col("doc_id"), md5(col("text")).as("h")).orderBy(key)
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1 && plan.toLowerCase.contains("rangepartitioning"),
      s"expected the fan-out's range exchange to serve the sort too\n$plan")
    assert(!plan.toLowerCase.contains("roundrobinpartitioning"), plan)
  }

  test("hash-keyed fanOut is the identity once the file count reaches the parallelism") {
    val df = manyFiles
    assert(graft.ops.ScaleOps.fanOutHashed(df, col("v")) eq df)
    val derived = df.select(col("id"), upper(col("v")).as("u"))
    assert(graft.ops.ScaleOps.fanOutHashed(derived, col("u")) eq derived)
  }

  test("hash-keyed fanOut on a starved scan sizes the exchange a window on its key reuses") {
    val target = spark.sparkContext.defaultParallelism
    val docs = Tables.documents(spark, sf) // 1 file, 1 row group
    val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val out = graft.ops.ScaleOps.fanOutHashed(words, col("w"))
    assert(!(out eq words), "hash-keyed fanOut returned the identity on a 1-row-group scan")
    val ranked = out.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy("w").orderBy("doc_id")))
    val plan = ranked.queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1 && plan.contains(s"hashpartitioning(w#") &&
      plan.contains(s", $target), REPARTITION_BY_NUM"),
      s"expected the fan-out's hash exchange to serve the window\n$plan")
    assert(ranked.count() == words.count())
    assert(ranked.rdd.getNumPartitions == target)
  }
}
