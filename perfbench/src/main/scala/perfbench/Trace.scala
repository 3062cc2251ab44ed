package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** In-memory span store for the traced run. Times are epoch nanoseconds so
  * client-side spans (System.nanoTime) and Spark listener spans (epoch ms)
  * share one clock. Spans of one query share `query`; `parent` is the id of
  * the span that caused this one (0 for a root). Written out once, when the
  * run ends.
  */
final class Trace {
  final case class Span(id: Long, parent: Long, query: Long, name: String,
                        label: String, start: Long, end: Long,
                        attrs: Map[String, Double])

  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private var lastId = 0L
  private val spans = mutable.ArrayBuffer.empty[Span]

  def now(): Long = System.nanoTime() + offsetNs

  /** Reserves an id, so a parent can be named before its span ends. */
  def newId(): Long = synchronized { lastId += 1; lastId }

  def record(s: Span): Unit = synchronized { spans += s }

  /** Times `body` as a child span of `parent`. */
  def span[T](parent: Long, query: Long, name: String)(body: => T): T = {
    val id = newId()
    val t0 = now()
    val r = body
    record(Span(id, parent, query, name, "", t0, now(), Map.empty))
    r
  }

  def all: Seq[Span] = synchronized(spans.toList)

  def toJson: String = all.map { s =>
    val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    s"""{"id":${s.id},"parent":${s.parent},"query":${s.query},"name":${Json.str(s.name)},""" +
      s""""label":${Json.str(s.label)},"start":${s.start},"end":${s.end},"attrs":$attrs}"""
  }.mkString("[", ",\n", "]")
}

/** Harness-side listener: records Spark jobs, stages and task metrics with
  * the job group that submitted them. Graft is not changed; the client
  * thread sets the group around each query.
  */
final class JobListener extends SparkListener {
  final class Stage(val id: Int, val job: Int) {
    var submit = 0L; var complete = 0L
    var tasks = 0L; var failed = 0L
    var runMs = 0L; var cpuNs = 0L; var waitMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
    var spill = 0L; var gcMs = 0L; var peakMem = 0L; var input = 0L

    def attrs: Map[String, Double] = Map(
      "tasks" -> tasks.toDouble, "failed_tasks" -> failed.toDouble,
      "task_run_ms" -> runMs.toDouble, "task_cpu_ms" -> cpuNs / 1e6,
      "task_wait_ms" -> waitMs.toDouble,
      "shuffle_write_bytes" -> shuffleWrite.toDouble,
      "shuffle_read_bytes" -> shuffleRead.toDouble,
      "shuffle_fetch_wait_ms" -> fetchWaitMs.toDouble, "spill_bytes" -> spill.toDouble,
      "gc_ms" -> gcMs.toDouble, "peak_exec_mem_bytes" -> peakMem.toDouble,
      "input_bytes" -> input.toDouble)
  }
  final class Job(val id: Int, val group: String, val start: Long) {
    var end = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = new Job(e.jobId, group, e.time)
    e.stageIds.foreach(s => if (!stages.contains(s)) stages(s) = new Stage(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.submit = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.complete = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) s.failed += 1
      if (s.submit > 0) s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submit)
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.gcMs += m.jvmGCTime
        s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
        s.input += m.inputMetrics.bytesRead
      }
    }
  }

  /** Adds a span per job and per submitted stage to `trace`. A job is
    * parented to the innermost span of its query (by job group) whose
    * interval holds the job's submission time. Call only after the
    * listener bus has drained (the session is stopped first).
    */
  def toSpans(trace: Trace): Unit = synchronized {
    val byQuery = trace.all.groupBy(_.query)
    for (j <- jobs.values; q <- JobListener.query(j.group); spans <- byQuery.get(q)) {
      val start = j.start * 1000000L
      val end = math.max(j.end, j.start) * 1000000L
      val holder = spans.filter(s => s.start <= start && start <= s.end)
        .sortBy(s => s.end - s.start).headOption
        .getOrElse(spans.find(_.parent == 0L).getOrElse(spans.head))
      val jobId = trace.newId()
      trace.record(trace.Span(jobId, holder.id, q, "job", j.id.toString, start, end, Map.empty))
      for (s <- stages.values if s.job == j.id && s.submit > 0)
        trace.record(trace.Span(trace.newId(), jobId, q, "stage", s.id.toString,
          s.submit * 1000000L, math.max(s.complete, s.submit) * 1000000L, s.attrs))
    }
  }
}

object JobListener {
  private val Prefix = "perfbench-"
  def group(query: Long): String = Prefix + query
  def query(group: String): Option[Long] =
    if (group.startsWith(Prefix)) group.drop(Prefix.length).toLongOption else None
}

object Json {
  def str(s: String): String = graft.JsonUtil.q(s)
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}
