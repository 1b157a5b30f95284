package e2ebench

import java.lang.management.ManagementFactory
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spans around the benchmark's calls into the program.
  *
  * A span's id is set as a Spark local property while it is open, so
  * every job the call issues (including jobs from threads Spark starts
  * on its behalf, which inherit local properties) records which span
  * caused it. Spans are kept in memory and written out at exit.
  */
final class Spans(sc: SparkContext) {
  import Spans.Span

  val all = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def apply[A](name: String, owner: String)(body: => A): A = {
    val s = Span(all.size, name, owner, stack.headOption.fold(-1)(_.id),
      System.currentTimeMillis())
    all += s
    stack = s :: stack
    val prev = sc.getLocalProperty(Spans.Property)
    sc.setLocalProperty(Spans.Property, s.id.toString)
    try body
    finally {
      s.endMs = System.currentTimeMillis()
      sc.setLocalProperty(Spans.Property, prev)
      stack = stack.tail
    }
  }

  /** `id` and every span below it. */
  def subtree(id: Int): Set[Int] = {
    val kids = all.filter(_.parent == id).map(_.id)
    kids.flatMap(subtree).toSet ++ kids + id
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","owner":"${s.owner}","parent":${s.parent},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs}}""")
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Spans {
  val Property = "e2ebench.span"

  final case class Span(id: Int, name: String, owner: String, parent: Int,
      startMs: Long, var endMs: Long = -1L)
}

/** Per-job and per-stage records from a SparkListener, plus Catalyst
  * phase times from a QueryExecutionListener. Registered only in the
  * traced run; all of it observes the program from outside.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder.{Job, Stage}

  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  private val stageJob = mutable.Map.empty[Int, Int]
  @volatile var catalystMs = 0L

  /** SQL execution id → the call site of the action that started it:
    * AQE submits a query's stages as jobs from its own thread pool,
    * whose stacks no longer show the caller.
    */
  private val execSite = mutable.Map.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { execSite(s.executionId) = s.details }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop(Spans.Property).map(_.toInt).getOrElse(-1)
    val own = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val site =
      if (Recorder.moduleOf(own).nonEmpty) own
      else prop("spark.sql.execution.id").flatMap(id => execSite.get(id.toLong)).getOrElse(own)
    jobs += Job(e.jobId, span, Recorder.moduleOf(site), e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages += Stage(stageJob.getOrElse(i.stageId, -1), i.numTasks,
      m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    catalystMs += qe.tracker.phases.valuesIterator.map(p => p.endTimeMs - p.startTimeMs).sum

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def clear(): Unit = synchronized {
    jobs.clear(); stages.clear(); stageJob.clear(); execSite.clear(); catalystMs = 0L
  }
}

object Recorder {
  final case class Job(id: Int, span: Int, module: String, startMs: Long,
      var endMs: Long = -1L)
  final case class Stage(job: Int, tasks: Int, taskMs: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long, inputBytes: Long, outputBytes: Long)

  /** The module that issued a job: the source file of the first
    * `graft.*` frame of its call site ("" when Spark ran it from a
    * thread of its own, e.g. a broadcast; the open span's owner then
    * takes it).
    */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.find(_.startsWith("graft.")).flatMap { f =>
      val open = f.lastIndexOf('(')
      val dot = f.indexOf(".scala", open)
      if (open >= 0 && dot > open) Some(f.substring(open + 1, dot)) else None
    }.getOrElse("")
}

/** JVM-wide counters read before and after a pass. */
final case class JvmCounters(gcMs: Long, jitMs: Long, codegenMs: Double) {
  def -(o: JvmCounters): JvmCounters =
    JvmCounters(gcMs - o.gcMs, jitMs - o.jitMs, codegenMs - o.codegenMs)
}

object JvmCounters {
  def now(): JvmCounters = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
    val jit = Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L)
    // Spark keeps codegen compile times in a sampled histogram;
    // count × mean estimates their total
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    JvmCounters(gc, jit, h.getCount * h.getSnapshot.getMean)
  }
}

/** Turns the recorder's jobs and stages plus the spans into per-layer
  * numbers. A layer is a group of the program's source files.
  */
object Layers {
  /** program source file (module) → the layer it belongs to */
  val byModule: Map[String, String] = Map(
    "Metadata" -> "metadata", "ExpressionMatrix" -> "melt", "GeneFilter" -> "melt",
    "Dims" -> "dims", "StudyState" -> "state", "Warehouse" -> "wh",
    "SnapshotWarehouse" -> "wh", "EtlJob" -> "etljob", "StreamingEtl" -> "stream",
    "CorrelationJob" -> "corrjob", "Spearman" -> "spearman", "SpearmanStat" -> "spearman",
    "Ranks" -> "spearman", "BenjaminiHochberg" -> "bh", "PValues" -> "bh",
    "CurationPipeline" -> "curate", "Curation" -> "curate", "TextStats" -> "curate",
    "Dedup" -> "curate", "Sampling" -> "curate")

  /** Union length of [start, end) intervals, in ms. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }
}

/** Samples the stacks of the threads that run program code (the main
  * thread and Spark's stream-execution threads) and records, per
  * sample, the innermost `graft.*` frame's source file. A thread blocked
  * on a Spark job shows the module that issued the job, so the samples
  * give each module's self time, including the jobs it waits on. They
  * also name the module behind jobs whose call site Spark replaces
  * (a streaming query reports its `start()` site for every job).
  */
final class Sampler(intervalMs: Long) {
  private val main = Thread.currentThread()
  private val samples = mutable.ArrayBuffer.empty[(Long, String)]
  @volatile private var on = false
  @volatile private var stopped = false

  private def innermost(t: Thread): Option[String] =
    t.getStackTrace.iterator.map(f => Option(f.getFileName).filter(_ => f.getClassName.startsWith("graft.")))
      .collectFirst { case Some(file) => file.stripSuffix(".scala") }

  private val thread = new Thread(() => {
    var workers = Seq.empty[Thread]
    var n = 0
    while (!stopped) {
      if (on) {
        if (n % 10 == 0) workers = Thread.getAllStackTraces.keySet.asScala.toSeq
          .filter(_.getName.startsWith("stream execution thread"))
        n += 1
        // a worker thread doing program work wins over the main thread
        // waiting for it
        val module = workers.iterator.filter(_.isAlive).flatMap(innermost).nextOption()
          .orElse(innermost(main)).getOrElse("")
        samples.synchronized(samples += ((System.currentTimeMillis(), module)))
      }
      Thread.sleep(intervalMs)
    }
  }, "e2ebench-sampler")
  thread.setDaemon(true)
  thread.start()

  def active(b: Boolean): Unit = on = b
  def stop(): Unit = { stopped = true; thread.join() }
  def clear(): Unit = samples.synchronized(samples.clear())

  /** Module sampled last at or before `t` (within two intervals). */
  def moduleAt(t: Long): Option[String] = samples.synchronized {
    samples.reverseIterator.find(_._1 <= t).filter(_._1 >= t - 2 * intervalMs).map(_._2)
      .filter(_.nonEmpty)
  }

  /** Each module's share of the samples in [start, end], as seconds of
    * that interval. A sample with no program frame (the benchmark's own
    * code, e.g. the action on a frame the program returned) goes to
    * `owner(t)`, the owner of the span open at that time.
    */
  def selfTimes(start: Long, end: Long, owner: Long => String): Map[String, Double] =
    samples.synchronized {
      val in = samples.filter { case (t, _) => t >= start && t <= end }
      if (in.isEmpty) Map.empty
      else in.groupBy { case (t, m) => if (m.nonEmpty) m else owner(t) }
        .map { case (m, xs) => m -> (end - start) / 1000.0 * xs.size / in.size }
    }
}
