package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer attribution rules, kept pure so the tests can pin them. */
object Layers {
  val Pipeline = "pipeline"
  /** Placeholder: take the layer of the next attributed job. */
  val Next = "next"

  /** The layer of one program class, or None for classes that do not
    * name a layer (graft.functions, the benchmark, Spark, Scala). */
  def ofClass(cls: String): Option[String] =
    if (cls == "graft.Pipeline") Some(Pipeline)
    else if (cls.startsWith("graft.operators.")) Some(cls.stripPrefix("graft.operators.") match {
      case "Extract" => "extract"
      case "Upsert" | "Dedup" | "CommitBackend" | "FileStats" => "upsert"
      case "Ivf" | "IndexStore" => "ivf"
      case _ => "other"
    })
    else if (cls.startsWith("graft.sources.")) Some(cls.stripPrefix("graft.sources.") match {
      case "WatermarkStore" => "state"
      case "DocumentSource" => "extract"
      case _ => "reader"
    })
    else None

  /** `graft.operators.Upsert$.$anonfun$merge$1(Upsert.scala:58)` →
    * `graft.operators.Upsert`. */
  def classOfFrame(frame: String): String = {
    val f = frame.trim.stripPrefix("at ")
    val noLoc = f.indexOf('(') match { case -1 => f; case i => f.substring(0, i) }
    val cls = noLoc.lastIndexOf('.') match { case -1 => noLoc; case i => noLoc.substring(0, i) }
    cls.indexOf('$') match { case -1 => cls; case i => cls.substring(0, i) }
  }

  /** The innermost layer-naming class on a call stack (innermost frame
    * first, as Spark records call sites). */
  def ofStack(stack: String): Option[String] =
    stack.split("\n").iterator.map(classOfFrame).map(ofClass).collectFirst { case Some(l) => l }

  private val WriteTarget = """InsertIntoHadoopFsRelationCommand\s+(\S+)""".r

  /** A job whose innermost program class is `graft.Pipeline` goes to the
    * layer owning the path its execution writes, else the path it reads
    * (the watermark-maxima aggregate over the staged batch goes to
    * `state`); `paths` is ordered (layer, absolute path). */
  def ofPaths(plan: String, paths: Seq[(String, String)]): Option[String] = {
    def owner(text: String): Option[String] = paths.collectFirst {
      case (layer, p) if text.contains(p + "/") || text.contains(p + "]") ||
          text.contains(p + ",") || text.endsWith(p) || text.contains(p + " ") => layer
    }
    WriteTarget.findFirstMatchIn(plan).flatMap(m => owner(m.group(1))).orElse(owner(plan))
  }

  def resolve(stack: String, plan: String, paths: Seq[(String, String)],
      fallback: String): String =
    ofStack(stack) match {
      // the watermark maxima read the staged batch but are state work
      case Some(Pipeline) if plan.contains("max(__ts") => "state"
      // outside any SQL execution: schema inference for a read Pipeline
      // issues itself; it belongs to the execution that consumes it
      case Some(Pipeline) if plan.isEmpty => Next
      case Some(Pipeline) => ofPaths(plan, paths).getOrElse("unattributed")
      case Some(l) => l
      case None => fallback
    }

  /** Total length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** One Spark job with its aggregated task metrics. */
final case class JobRec(id: Int, start: Long, end: Long, layer: String,
    site: String, plan: String, tasks: Long, runMs: Long, gcMs: Long, shuffleWrite: Long,
    spill: Long, inRecords: Long, inBytes: Long, outRecords: Long,
    outBytes: Long, skew: Double, longestStageMs: Long)

/** A benchmark-side span around one public call. */
final case class Span(name: String, fallback: String, start: Long, end: Long) {
  def wallMs: Long = end - start
}

/** Bench-side SparkListener + QueryExecutionListener. Jobs are attributed
  * to a layer through their SQL execution's call site (see [[Layers]]);
  * jobs outside any execution use their own stage call site. */
final class Tracer(spark: SparkSession, paths: Seq[(String, String)])
    extends SparkListener with QueryExecutionListener {
  import Tracer.Open

  private final class StageAgg {
    var tasks = 0L; var runMs = 0L; var gcMs = 0L; var shuffleWrite = 0L
    var spill = 0L; var inRecords = 0L; var inBytes = 0L; var outRecords = 0L
    var outBytes = 0L; val durations = mutable.ArrayBuffer.empty[Long]
    var wallMs = 0L
  }

  private val open = new ConcurrentHashMap[Int, Open]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()
  private val execs = new ConcurrentHashMap[Long, (String, String)]()
  private val done = new ConcurrentLinkedQueue[JobRec]()
  private val planning = new ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
    open.put(e.jobId, Open(e.time, exec, e.stageIds,
      e.stageInfos.headOption.map(_.details).getOrElse(""),
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("") +
        " / " + e.stageInfos.map(_.name).mkString(";")))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
    a.synchronized {
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inRecords += m.inputMetrics.recordsRead
      a.inBytes += m.inputMetrics.bytesRead
      a.outRecords += m.outputMetrics.recordsWritten
      a.outBytes += m.outputMetrics.bytesWritten
      a.durations += e.taskInfo.duration
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val a = stages.computeIfAbsent(i.stageId, _ => new StageAgg)
    for (s <- i.submissionTime; c <- i.completionTime) a.synchronized { a.wallMs = c - s }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val o = open.remove(e.jobId)
    if (o == null) return
    val (details, plan) = Option(execs.get(o.execId)).getOrElse((o.callSite, ""))
    val layer = Layers.resolve(details, plan, paths, fallback = "")
    val aggs = o.stages.flatMap(s => Option(stages.get(s)))
    def sum(f: StageAgg => Long) = aggs.map(a => a.synchronized(f(a))).sum
    val longest = aggs.sortBy(a => -a.wallMs).headOption
    val skew = longest.filter(_.durations.nonEmpty).map { a =>
      val d = a.synchronized(a.durations.sorted)
      d.last.toDouble / math.max(1L, d(d.size / 2)).toDouble
    }.getOrElse(1.0)
    val site = details.split("\n").find(_.contains("graft.")).getOrElse(details.take(120)).trim + " " + o.desc.take(300)
    done.add(JobRec(e.jobId, o.start, e.time, layer, site, plan, sum(_.tasks),
      sum(_.runMs), sum(_.gcMs), sum(_.shuffleWrite), sum(_.spill),
      sum(_.inRecords), sum(_.inBytes), sum(_.outRecords), sum(_.outBytes),
      skew, longest.map(_.wallMs).getOrElse(0L)))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, (s.details, s.physicalPlanDescription))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty) planning.add((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
  }

  /** Jobs that started inside the span, with the span's fallback layer for
    * jobs whose stacks name no layer. Drains the listener bus first. */
  def jobsIn(span: Span): Seq[JobRec] = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val in = done.asScala.toSeq.filter(j => j.start >= span.start && j.start <= span.end)
      .map(j => if (j.layer.isEmpty) j.copy(layer = span.fallback) else j)
      .sortBy(_.start)
    in.zipWithIndex.map { case (j, i) =>
      if (j.layer != Layers.Next) j
      else j.copy(layer = in.drop(i + 1).map(_.layer).find(_ != Layers.Next)
        .getOrElse("unattributed"))
    }
  }

  def planningMsIn(span: Span): Long =
    planning.asScala.collect { case (t, ms) if t >= span.start && t <= span.end => ms }.sum
}

object Tracer {
  /** A job between its start and end events. */
  private final case class Open(start: Long, execId: Long, stages: Seq[Int],
      callSite: String, desc: String)

  def attach(spark: SparkSession, paths: Seq[(String, String)]): Tracer = {
    val t = new Tracer(spark, paths)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }
}

/** Per-span layer breakdown: self time per layer (union of its job
  * intervals), driver gap (span wall with no job running), and the
  * engine-wide counters. */
final case class Breakdown(span: Span, jobs: Seq[JobRec], planningMs: Long) {
  def selfMs(layer: String): Long =
    Layers.unionMs(jobs.filter(_.layer == layer).map(j =>
      (math.max(j.start, span.start), math.min(j.end, span.end))))
  def busyMs: Long = Layers.unionMs(jobs.map(j =>
    (math.max(j.start, span.start), math.min(j.end, span.end))))
  def gapMs: Long = span.wallMs - busyMs
  def layers: Seq[String] = jobs.map(_.layer).distinct.sorted
  def of(layer: String): Seq[JobRec] = jobs.filter(_.layer == layer)

  /** Driver time after each job of `layer` until the next job starts
    * (or the span ends): the commit/bookkeeping work that layer does on
    * the driver between its jobs. */
  def driverAfterMs(layer: String): Long = {
    val byStart = jobs.sortBy(_.start)
    byStart.indices.map { i =>
      val j = byStart(i)
      if (j.layer != layer) 0L
      else {
        val next = byStart.drop(i + 1).map(_.start).find(_ >= j.end).getOrElse(span.end)
        val coveredUntil = byStart.take(i + 1).map(_.end).max
        math.max(0L, next - math.max(j.end, coveredUntil))
      }
    }.sum
  }
}
