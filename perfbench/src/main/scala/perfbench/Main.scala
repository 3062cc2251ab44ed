package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import graft.{Harness, SparkEntry, Tables}
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange

import scala.collection.mutable

/** One benchmark run in one JVM: set up once, warm up, time one client
  * thread issuing the workload's queries in a closed loop, and dump every
  * query's result for the oracle check. With `--trace 1` the window
  * alternates traced and untraced passes (the seed picks which comes
  * first), the layer microbenchmarks run after it, and the spans are
  * written out at the end.
  *
  * Graft is driven only through its public surface: `SparkEntry.queries`
  * to construct, `queryExecution.executedPlan` to plan and
  * `queryExecution.toRdd.count()` to execute, which evaluates every output
  * column of the query as declared (the rule `graft.Bench` documents).
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <outDir> <cpus>
  * Writes `<outDir>/result.json`, `<outDir>/check/` and, traced,
  * `<outDir>/spans.json`.
  */
object Main extends AdaptiveSparkPlanHelper {
  type Q = (SparkSession, String) => DataFrame

  /** Untimed passes over the mix before the window: the cold pass, which
    * loads classes and compiles the generated code, and two warm passes.
    * Pass times keep falling slowly through the window as the JIT compiles
    * more of Spark and graft; each query's median over the window's passes
    * absorbs that.
    */
  val WarmupPasses = 3

  final case class Sample(name: String, ms: Double, rows: Long, error: String)
  final case class Pass(traced: Boolean, seconds: Double, samples: Seq[Sample])

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, data, outArg, cpusArg) = args
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainMs = System.currentTimeMillis()
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val out = Paths.get(outArg)
    val cpus = cpusArg.toInt
    val mix = Workloads.mix(workload)
    val fns: Map[String, Q] = SparkEntry.queries
    val rng = new scala.util.Random(seed)
    def order(): Seq[String] = rng.shuffle(mix)
    // warm-up orders do not depend on the seed, so every seed starts its
    // window from the same JIT profile
    val warmupRng = new scala.util.Random(0L)

    // -- set-up, once and cold: session + extensions, fixture resolution,
    // warm-up passes; setup_s runs from JVM start to the first timed query
    val t0 = System.nanoTime()
    val spark = session(cpus)
    val t1 = System.nanoTime()
    Tables.names.foreach(Tables.load(spark, data, _))
    val t2 = System.nanoTime()
    // a query that throws here is reported by its timed samples
    val warmupPassS = (1 to WarmupPasses).map { _ =>
      val p0 = System.nanoTime()
      warmupRng.shuffle(mix).foreach(n => try evaluate(spark, fns(n), data) catch { case _: Exception => () })
      (System.nanoTime() - p0) / 1e9
    }
    val t3 = System.nanoTime()

    val trace = new Trace
    val listener = new JobListener
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    if (traced) spark.sparkContext.addSparkListener(listener)
    var qid = 0L
    def runPass(tracedPass: Boolean): Pass = {
      val p0 = System.nanoTime()
      val samples = order().map { n =>
        if (!tracedPass) timed(n, evaluate(spark, fns(n), data))
        else { qid += 1; timed(n, traceQuery(spark, trace, qid, n, fns(n), data, tmp)) }
      }
      Pass(tracedPass, (System.nanoTime() - p0) / 1e9, samples)
    }

    // -- timed window: whole passes, a new pass only while time remains;
    // traced, passes alternate and come in pairs
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val passes = mutable.ArrayBuffer.empty[Pass]
    val w0 = System.nanoTime()
    while ((System.nanoTime() - w0) / 1e9 < seconds || (traced && passes.size % 2 == 1))
      passes += runPass(traced && (passes.size + seed) % 2 == 1)
    val elapsed = (System.nanoTime() - w0) / 1e9
    val peakRss = peakRssMb() // before the parallel dump
    // live heap once the workload has run: what its caches and leaks retain
    System.gc()
    val heapLive = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    if (traced) Micro.run(spark, trace, data)

    // -- oracle dump (untimed): each distinct query once, as Verify writes it
    val check = out.resolve("check")
    val dumpStart = System.nanoTime()
    val dumpErrors = parallel(mix.distinct, cpus) { n =>
      try { fns(n)(spark, data).coalesce(1).write.mode("overwrite").parquet(check.resolve(n).toString); None }
      catch { case e: Throwable => Some(n -> describe(e)) }
    }.flatten.toMap
    Files.writeString(check.resolve("oracle_sql.json"), mix.distinct.sorted
      .map(n => s"${Json.str(n)}: ${Json.str(SparkEntry.oracleSql(n))}").mkString("{", ",", "}"))
    val dumpS = (System.nanoTime() - dumpStart) / 1e9
    spark.stop() // drains the listener bus before the trace is read

    if (traced) {
      listener.toSpans(trace)
      Files.writeString(out.resolve("spans.json"), trace.toJson)
    }
    val passesJson = passes.map { p =>
      s"""{"traced":${p.traced},"seconds":${p.seconds},"samples":""" + p.samples.map { s =>
        s"""{"name":${Json.str(s.name)},"ms":${s.ms},"rows":${s.rows},""" +
          s""""error":${Option(s.error).map(Json.str).getOrElse("null")}}"""
      }.mkString("[", ",", "]") + "}"
    }.mkString("[", ",", "]")
    val result =
      s"""{"workload":${Json.str(workload)},"seed":$seed,"cpus":$cpus,""" +
      s""""setup":{"total_s":$setupS,"jvm_ms":${mainMs - jvmStartMs},"build_ms":${(t1 - t0) / 1e6},""" +
      s""""resolve_ms":${(t2 - t1) / 1e6},"warmup_s":${(t3 - t2) / 1e9},""" +
      s""""warmup_passes_s":${warmupPassS.mkString("[", ",", "]")}},""" +
      s""""window":{"elapsed_s":$elapsed,"passes":$passesJson},""" +
      s""""dump_errors":${dumpErrors.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")},""" +
      s""""dump_s":$dumpS,"peak_rss_mb":$peakRss,"heap_live_mb":$heapLive}"""
    Files.writeString(out.resolve("result.json"), result)
  }

  /** Maps `f` over `xs` on `threads` threads (the untimed result dump). */
  def parallel[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try xs.map(x => pool.submit(() => f(x))).map(_.get())
    finally pool.shutdown()
  }

  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Harness.quietBenignWindowWarns()
    // the same planner extensions graft.Bench installs
    s.experimental.extraOptimizations = Seq(graft.plans.RewriteWindowTopK)
    s.experimental.extraStrategies = Seq(graft.plans.TopKStrategy)
    s
  }

  /** Construct, plan, execute as declared; returns the row count. */
  def evaluate(spark: SparkSession, fn: Q, data: String): Long = {
    val df = fn(spark, data)
    df.queryExecution.executedPlan
    df.queryExecution.toRdd.count()
  }

  def timed(name: String, body: => Long): Sample = {
    val t0 = System.nanoTime()
    try { val rows = body; Sample(name, (System.nanoTime() - t0) / 1e6, rows, null) }
    catch { case e: Throwable => Sample(name, (System.nanoTime() - t0) / 1e6, -1L, describe(e)) }
  }

  def describe(e: Throwable): String =
    e.getClass.getName + ": " + Option(e.getMessage).map(_.linesIterator.nextOption().getOrElse("")).getOrElse("")

  /** [[evaluate]] with one span per phase under a root span per query, and
    * the per-query counters the layers expose from outside graft.
    */
  def traceQuery(spark: SparkSession, trace: Trace, qid: Long, name: String,
                 fn: Q, data: String, tmp: Path): Long = {
    val sc = spark.sparkContext
    sc.setJobGroup(JobListener.group(qid), name, interruptOnCancel = false)
    val root = trace.newId()
    val t0 = trace.now()
    val files0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val startMs = System.currentTimeMillis()
    try {
      val df = trace.span(root, qid, "construct")(fn(spark, data))
      trace.span(root, qid, "plan")(df.queryExecution.executedPlan)
      val rows = trace.span(root, qid, "exec")(df.queryExecution.toRdd.count())
      val plan = df.queryExecution.executedPlan // AQE's final plan once it has run
      trace.record(trace.Span(root, 0L, qid, "query", name, t0, trace.now(), Map(
        "rows" -> rows.toDouble,
        "files_discovered" -> (HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - files0).toDouble,
        "codegen_compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble,
        "bytes_written" -> bytesWrittenSince(tmp, startMs).toDouble,
        "exchanges" -> collectWithSubqueries(plan) { case e: Exchange => e }.size.toDouble,
        "topk_nodes" -> collectWithSubqueries(plan) {
          case p if p.getClass.getName.startsWith("graft.plans.TopK") => p
        }.size.toDouble)))
      rows
    } finally sc.clearJobGroup()
  }

  /** Bytes of the files under `dir` last modified at or after `sinceMs`. */
  def bytesWrittenSince(dir: Path, sinceMs: Long): Long = {
    var total = 0L
    Files.walkFileTree(dir, new java.nio.file.SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: java.nio.file.attribute.BasicFileAttributes) = {
        if (a.lastModifiedTime.toMillis >= sinceMs) total += a.size()
        java.nio.file.FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: java.io.IOException) =
        java.nio.file.FileVisitResult.CONTINUE
    })
    total
  }

  /** Peak resident set of this JVM (Linux VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(0.0)
}
