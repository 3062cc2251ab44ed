package graft

/** Benchmark main: one JSON line with total + per-query seconds over the
  * full declared query set. A full untimed warmup pass precedes the timed
  * pass (standard JVM benchmarking: JIT + codegen + parquet footer caches
  * settle), so timings reflect steady-state engine cost, not first-run
  * compilation.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default matches the documented grading environment: local[32],
    // spark.sql.shuffle.partitions=32 (AQE coalesces small shuffles below it)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // GraftExtensions dogfoods the custom planner path: row_number-top-k
    // rewrites to the bounded-heap TopKPerGroup operator (equality-pinned
    // by TopKStrategySpec and the DuckDB gate itself)
    val spark = Harness.session(cpus.toInt)
    // SPARK_GRAFT_ONLY=q1,q2 restricts the battery for targeted iteration;
    // the driver never sets it, so graded runs always time the full set.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    // SPARK_GRAFT_REPEAT=k (default 1) times each query k times and
    // records the MEDIAN — the r9 close produced three phantom >2x
    // baseline ratios from single-shot timings of 100-500 ms shapes with
    // a documented ±0.7x spread; medians are what the ratio tooling
    // (tools/baseline_close.py) compares. The driver's graded run keeps
    // the single-shot default, so BENCH_rN totals stay comparable.
    val repeat = sys.env.get("SPARK_GRAFT_REPEAT").map(_.toInt).getOrElse(1)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Evaluate the query AS DECLARED: toRdd.count() forces every output
    // column of the query's own plan. A DataFrame .count() plants an
    // aggregate ABOVE the query and lets Catalyst optimize the query for
    // that consumer — pruning every output column and join-eliminating
    // whole subtrees (j31's left-outer splice is per-key-unique on the
    // struck side, so .count() measured a bare corpus scan: 0.2 s for a
    // query whose declared output costs ~2 s — the same vacuity the 100x
    // smoke had until r10 de-vacuated it). Nothing is collected to the
    // driver; the count is per-partition row counting after full
    // evaluation.
    def evaluate(df: org.apache.spark.sql.DataFrame): Unit = {
      df.queryExecution.toRdd.count(); ()
    }
    // warmup pass (untimed; per-query wall time kept so the steady-state
    // loop below can skip queries that already blew its budget)
    val warmupSec: Map[String, Double] = ordered.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try evaluate(fn(spark, sfDir)) catch { case _: Throwable => () }
      name -> (System.nanoTime() - t0) / 1e9
    }.toMap
    // REPEAT>1 is the close/adjudication protocol (medians vs the stock
    // battery): there, warm each query to JIT STEADY STATE before timing.
    // Profiled on c2_join_broadcast at sf1: the graft DSL+engine path
    // settles after ~15 invocations (0.51 → 0.39 → 0.28 s) while the
    // stock pyspark-SQL side settles in ~3, so a k=5 median after one
    // warmup reads a flat ~0.1 s JIT residue on every sub-second shape —
    // the exact per-invocation constant VERDICT r13 adjudicated on c2
    // (2.19× isolated; ≈1.0× once both sides are steady-state). Bounded:
    // ≤12 extra reps and ≤5 s per query, and a query whose FIRST warmup
    // already exceeded that budget is skipped outright (the pre-loop
    // budget check never fired before the first rep, so every heavy
    // shape used to pay one whole extra evaluation — ADVICE r14); heavy
    // shapes thus genuinely keep their single warmup. The graded
    // single-shot run (repeat=1) is untouched for cross-round
    // comparability.
    // The skip decision uses the cold first-warmup time, which conflates
    // one-off planning/IO/JIT cost with steady-state cost: a query whose
    // cold run reads 5–12 s but settles sub-second would get zero extra
    // warmup and reintroduce the JIT-residue bias (ADVICE r15). Queries
    // in that ambiguous band get ONE warm probe and the probe's time
    // makes the call; ≥ 12 s cold is genuinely heavy — still skipped
    // outright so heavy shapes keep paying exactly one warmup.
    if (repeat > 1) ordered.foreach { case (name, fn) =>
      val cold = warmupSec.getOrElse(name, 0.0)
      val steadyEligible =
        if (cold < 5.0) true
        else if (cold < 12.0) {
          val t0 = System.nanoTime()
          try evaluate(fn(spark, sfDir)) catch { case _: Throwable => () }
          (System.nanoTime() - t0) / 1e9 < 5.0
        } else false
      if (steadyEligible) try {
        val budget = System.nanoTime() + 5000000000L
        var i = 0
        while (i < 12 && System.nanoTime() < budget) {
          evaluate(fn(spark, sfDir)); i += 1
        }
      } catch { case _: Throwable => () }
    }
    // timed pass. A query that throws is recorded as -1 (NOT a near-zero
    // wall-clock) so a crashed query can never read as a speedup; the
    // compact line carries a failed count for the same reason. A GC +
    // short settle precedes each timed query so one query's garbage isn't
    // billed to its successor — measured, not hypothetical: a 0.24 s
    // filtered count read 0.53 s mid-battery right after the HFile write
    // queries, purely from inherited heap pressure.
    val results = ordered.map { case (name, fn) =>
      val times = (0 until repeat).map { _ =>
        System.gc(); Thread.sleep(50)
        val t0 = System.nanoTime()
        try { evaluate(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
        catch { case _: Throwable => -1.0 }
      }
      val sec =
        if (times.exists(_ < 0)) -1.0
        else times.sorted.apply(times.size / 2) // median (upper on even k)
      (name, sec, times.min, times.max)
    }
    val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val spread =
      if (repeat <= 1) ""
      else results.map { case (k, _, lo, hi) => "\"" + k + "\":[" + lo + "," + hi + "]" }
        .mkString(""","k":""" + repeat + ""","spread":{""", ",", "}")
    val failed = results.count(_._2 < 0)
    val total = results.map(_._2).filter(_ >= 0).sum
    // Per-query detail goes to a FILE, not stdout: the driver captures only
    // a ~2 KB tail of stdout, and the 104-entry per-query map (~4 KB) was
    // truncating the metric JSON mid-object in rounds 1 and 2
    // ("parsed": null). The graded stdout line stays compact (<200 bytes).
    // Write-then-atomic-move so a concurrent reader never sees a torn file.
    val detailBytes =
      s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,"queries":$qs$spread,"sf":"$sfDir","cpus":"$cpus"}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    // unique tmp per JVM: two concurrent Bench runs sharing a cwd must not
    // interleave writes into the same tmp file before the atomic move
    // SPARK_GRAFT_DETAIL_OUT redirects the detail file (default cwd
    // bench_detail.json) — the ratio tooling's targeted twin runs must
    // not clobber the close run's detail (the r9 attribution loss).
    val detailPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_DETAIL_OUT", "bench_detail.json"))
    val detailTmp = java.nio.file.Files.createTempFile(
      Option(detailPath.getParent).getOrElse(java.nio.file.Paths.get(".")),
      "bench_detail.json.", ".tmp")
    java.nio.file.Files.write(detailTmp, detailBytes)
    java.nio.file.Files.move(detailTmp, detailPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // Stop Spark BEFORE printing the metric line so no shutdown logging can
    // interleave after it: the driver parses the last JSON-looking line of
    // stdout.
    spark.stop()
    val totalR = math.round(total * 1000.0) / 1000.0
    val sfName = new java.io.File(sfDir).getName
    println(s"""{"metric":"total","value":$totalR,"unit":"sec","n":${results.size},"failed":$failed,"sf":"$sfName","detail":"$detailPath"}""")
    System.out.flush()
  }
}
