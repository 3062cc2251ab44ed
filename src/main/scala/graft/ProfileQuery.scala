package graft

/** Per-invocation cost profiler for one declared query: splits each run
  * into DSL-construction, planning (analysis→executedPlan), and
  * execution wall time, and — when a `--sql <text>` twin is given —
  * times the identical work submitted as SQL text over temp views in
  * the SAME JVM/session, isolating "graft code path" from "session/JVM
  * configuration" as the source of a flat per-invocation constant
  * (VERDICT r13 task 4: c2_join_broadcast carried ~0.2 s/invocation
  * over the stock battery at an identical pinned plan).
  *
  * Usage: runMain graft.ProfileQuery <queryName> <sfDir> [k] [sqlText]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args(1)
    val k = if (args.length > 2) args(2).toInt else 7
    val sqlTwin = if (args.length > 3) Some(args(3)) else None
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val fn = SparkEntry.queries(name)

    def profile(tag: String, mk: () => org.apache.spark.sql.DataFrame): Unit = {
      (0 until 2).foreach(_ => mk().queryExecution.toRdd.count())
      (0 until k).foreach { _ =>
        System.gc(); Thread.sleep(50)
        val t0 = System.nanoTime()
        val df = mk()
        val t1 = System.nanoTime()
        val qe = df.queryExecution
        qe.executedPlan
        val t2 = System.nanoTime()
        qe.toRdd.count()
        val t3 = System.nanoTime()
        val phases = qe.tracker.phases.toSeq.sortBy(_._1)
          .map { case (p, s) => s"$p=${s.durationMs}ms" }.mkString(",")
        println(f"[$tag] construct=${(t1 - t0) / 1e6}%.1f plan=${(t2 - t1) / 1e6}%.1f " +
          f"exec=${(t3 - t2) / 1e6}%.1f totalMs=${(t3 - t0) / 1e6}%.1f  $phases")
      }
    }

    profile(name, () => fn(spark, sfDir))
    sqlTwin.foreach { sql =>
      Tables.names.foreach(t =>
        spark.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(t))
      profile("sql-twin", () => spark.sql(sql))
      // second graft pass AFTER the twin: separates a real code-path gap
      // from JIT/order bias within the session
      profile(s"$name#2", () => fn(spark, sfDir))
      println("== graft executedPlan ==")
      println(fn(spark, sfDir).queryExecution.executedPlan.toString.take(4000))
      println("== twin executedPlan ==")
      println(spark.sql(sql).queryExecution.executedPlan.toString.take(4000))
    }
    spark.stop()
  }
}
