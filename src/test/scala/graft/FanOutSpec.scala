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

  test("fanOut is the identity once the file count reaches the parallelism") {
    val target = spark.sparkContext.defaultParallelism
    val dir = SparkSuite.tempDir("fanout-many").toString
    import spark.implicits._
    (0 until target + 1).map(i => (i.toLong, s"r$i")).toDF("id", "v")
      .repartition(target + 1, col("id"))
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    assert(df.inputFiles.length >= target,
      s"fixture write produced ${df.inputFiles.length} files, wanted >= $target")
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
}
