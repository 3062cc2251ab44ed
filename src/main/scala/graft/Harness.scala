package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftExtensions

/** The one place graft's mains (and the test suite's `SparkSuite.graft`)
  * build a session, plus harness-side tuning that is NEVER library
  * behavior (queries and operators run under whatever logging the host
  * application configured).
  */
object Harness {

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC, no UI
    * and [[GraftExtensions]] installed — the same production wiring as
    * `spark.sql.extensions=graft.functions.GraftExtensions`, so every main
    * runs the native functions and the top-k rewrite exactly as a cluster
    * configured per the README would. `create()`, not `getOrCreate()`: the
    * latter silently hands back an already-running session that lacks the
    * extensions. The new session becomes the JVM's default and active one.
    */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .create()
    spark.sparkContext.setLogLevel("WARN")
    quietBenignWindowWarns()
    spark
  }

  /** Silence the benign `WindowExecBase` "No Partition Defined for Window
    * operation!" WARN in harness runs (VERDICT r18 task 6): every global
    * window a declared query runs is proven bounded-metadata by
    * WindowLintSpec's exact two-way whitelist, so in the harness the
    * warning is pure noise that buries real plan warnings in every log
    * tail. ADVICE r19: implemented as a message-match DENY filter on a
    * dedicated LoggerConfig for the window-exec package — NOT a
    * package-to-ERROR level override — so every OTHER WARN from window
    * execution (spill warnings, codegen fallbacks) keeps flowing.
    * Applied only in the mains and the test harness, so library users
    * keep Spark's stock signal. Idempotent (one filter per JVM).
    */
  def quietBenignWindowWarns(): Unit = synchronized {
    if (windowFilterInstalled) return
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{Filter, LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.config.LoggerConfig
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val pkg = "org.apache.spark.sql.execution.window"
    // getLoggerConfig walks up to the nearest ancestor (usually root); a
    // DENY filter must live on a config OWNED by the package or it would
    // drop the message pattern for every logger in the context.
    val owned = cfg.getLoggerConfig(pkg) match {
      case lc if lc.getName == pkg => lc
      case parent =>
        val lc = new LoggerConfig(pkg, parent.getLevel, true)
        cfg.addLogger(pkg, lc)
        lc
    }
    owned.addFilter(new org.apache.logging.log4j.core.filter.AbstractFilter(
        Filter.Result.DENY, Filter.Result.NEUTRAL) {
      override def filter(event: LogEvent): Filter.Result =
        if (event.getMessage.getFormattedMessage
              .contains("No Partition Defined for Window operation")) Filter.Result.DENY
        else Filter.Result.NEUTRAL
    })
    ctx.updateLoggers()
    windowFilterInstalled = true
  }

  @volatile private var windowFilterInstalled = false
}
