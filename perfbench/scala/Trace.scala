package graft.perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed interval at a boundary where the benchmark calls into a layer.
  * Times are epoch milliseconds (the clock Spark's listener events use, so
  * jobs can be placed inside spans) plus nanoTime for exact durations.
  */
final class Span(val id: Int, val parent: Int, val name: String, val layer: String,
                 val thread: Long, val startMs: Long, val startNs: Long) {
  @volatile var endMs: Long = -1L
  @volatile var endNs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** One Spark job as the listener saw it, with the aggregate task metrics of
  * its completed stages.
  */
final class JobRec(val id: Int, val startMs: Long, val group: String, val site: String,
                   val execution: String) {
  @volatile var endMs: Long = -1L
  var stages = 0
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
}

/** Spans and Spark jobs of one traced run, held in memory and written out
  * when the run ends. Spans opened with [[span]] nest on the calling
  * thread; [[open]]/[[close]] record spans whose ends are seen on other
  * threads (the engine's progress callbacks).
  *
  * A job is attributed to a span by its Spark job group when the engine
  * set one (one group per source), otherwise to the deepest span that was
  * open on the client thread when the job started: the load is one closed
  * loop, so at most one client operation runs at a time.
  */
final class Tracer extends SparkListener {
  @volatile var recording = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, JobRec]
  private var pendingEnds = 0
  @volatile private var lastEventMs = System.currentTimeMillis()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue = Nil }

  // call site (user stack) of each SQL execution, by execution id
  private val executionSites = mutable.HashMap.empty[String, String]
  private val pastSpans = mutable.ArrayBuffer.empty[Span]
  private val pastJobs = mutable.ArrayBuffer.empty[JobRec]

  /** Spans and jobs of the current iteration. */
  def allSpans: Seq[Span] = synchronized(spans.toList)
  def allJobs: Seq[JobRec] = synchronized(jobs.values.toList)

  /** Everything recorded in the run, for the spans file. */
  def history: (Seq[Span], Seq[JobRec]) = synchronized((pastSpans ++ spans).toList -> (pastJobs ++ jobs.values).toList)

  /** Start a new iteration: what was recorded so far moves to the history. */
  def rollover(): Unit = synchronized {
    pastSpans ++= spans; pastJobs ++= jobs.values
    spans.clear(); jobs.clear(); stageToJob.clear()
  }

  def open(name: String, layer: String, parent: Span = null): Span = {
    val p = if (parent != null) parent.id else stack.get.headOption.map(_.id).getOrElse(-1)
    synchronized {
      val s = new Span(pastSpans.size + spans.size, p, name, layer, Thread.currentThread().getId,
        System.currentTimeMillis(), System.nanoTime())
      if (recording) spans += s
      s
    }
  }

  def close(s: Span): Unit = { s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis() }

  /** A nested span around `body` on the calling thread. */
  def span[T](name: String, layer: String)(body: Span => T): T = {
    val s = open(name, layer)
    stack.set(s :: stack.get)
    try body(s) finally { close(s); stack.set(stack.get.tail) }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart if recording =>
      synchronized { executionSites(x.executionId.toString) = x.details }
    case _ =>
  }

  /** Where the action behind a job was called: its SQL execution's call
    * site when it has one (jobs that adaptive execution submits from its
    * own threads carry no useful site of their own), else the job's.
    */
  def siteOf(j: JobRec): String = synchronized(executionSites.getOrElse(j.execution, j.site))

  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    // the last stage of a job is its result stage; its name is the short
    // call site ("parquet at SnapshotSink.scala:87"), the caller's frame
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val exec = prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id")).getOrElse("")
    val j = new JobRec(e.jobId, e.time, prop("spark.jobGroup.id").getOrElse(""), site, exec)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageToJob(_) = j)
    pendingEnds += 1
    lastEventMs = System.currentTimeMillis()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j => j.endMs = e.time; pendingEnds -= 1 }
    lastEventMs = System.currentTimeMillis()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageToJob.get(info.stageId).foreach { j =>
      j.stages += 1
      val m = info.taskMetrics
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
    lastEventMs = System.currentTimeMillis()
  }

  /** Wait until the listener bus has delivered the end of every job it
    * announced and has been quiet for a moment (bounded), so an
    * iteration's numbers are complete before they are read.
    */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    def settled = synchronized(pendingEnds <= 0) && System.currentTimeMillis() - lastEventMs > 150
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(25)
  }

  /** The span each job belongs to (see the class doc). `groupSpan` maps a
    * job group to the span that owns it.
    */
  def attribute(clientThread: Long, groupSpan: String => Option[Span]): Map[Int, Span] = {
    val client = allSpans.filter(s => s.endMs >= 0 && s.thread == clientThread)
    allJobs.flatMap { j =>
      val byGroup = if (j.group.nonEmpty) groupSpan(j.group) else None
      byGroup.orElse {
        // client spans containing the job's start form one nesting chain;
        // the latest-opened of them is the deepest
        val inside = client.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        if (inside.isEmpty) None else Some(inside.maxBy(_.id))
      }.map(j.id -> _)
    }.toMap
  }
}

object Trace {
  /** Length of the union of the intervals `iv`, clipped to `[lo, hi]`. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val xs = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = 0L; var curB = Long.MinValue
    xs.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Seconds of `[startMs, endMs]` during which no job of `js` was running
    * — time the driver spent outside Spark jobs (planning, collecting,
    * file system work, waiting).
    */
  def driverSeconds(startMs: Long, endMs: Long, js: Seq[JobRec]): Double = {
    val busy = covered(js.map(j => (j.startMs, if (j.endMs < 0) endMs else j.endMs)), startMs, endMs)
    math.max(0L, (endMs - startMs) - busy) / 1000.0
  }

  /** Self time per layer: each span's duration minus the part of it its
    * child spans cover (children on other threads can overlap; their
    * union is subtracted, clipped to the parent).
    */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val done = spans.filter(_.endNs >= 0)
    val kids = done.groupBy(_.parent)
    done.map { s =>
      val busy = covered(kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)), s.startNs, s.endNs)
      s.layer -> ((s.endNs - s.startNs) - busy) / 1e9
    }.groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sum }
  }
}
