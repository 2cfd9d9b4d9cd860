package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Per-layer metrics of a traced run, named after the program's modules.
  * Every name in [[PerLayer.Names]] is printed on every workload; a layer
  * a workload does not exercise reads 0. Values are means per timed unit
  * (one Pipeline.run, one read) unless noted. */
object PerLayer {
  /** The set-up backfill's layer metrics worth keeping beside the
    * increments' (the backfill is not a timed workload of its own). */
  val BackfillNames: Seq[String] = Seq("trace.wall_s", "engine.driver_gap_s",
    "engine.busy_share", "extract.self_s", "extract.scan_amp", "upsert.self_s",
    "upsert.buckets_touched_share", "upsert.write_amp", "upsert.commit_driver_s",
    "ivf.self_s", "state.self_s", "trace.unattributed_jobs", "trace.accounted_share")

  val Names: Seq[(String, String)] = Seq(
    "engine.jobs" -> "count", "engine.tasks" -> "count",
    "engine.busy_share" -> "ratio", "engine.driver_gap_s" -> "s",
    "engine.shuffle_write_bytes" -> "B", "engine.spill_bytes" -> "B",
    "engine.gc_s" -> "s", "engine.planning_ms" -> "ms",
    "engine.task_skew" -> "ratio",
    "extract.rows_scanned" -> "rows", "extract.rows_staged" -> "rows",
    "extract.scan_amp" -> "ratio", "extract.self_s" -> "s",
    "extract.quarantined" -> "rows",
    "upsert.self_s" -> "s", "upsert.buckets_touched_share" -> "ratio",
    "upsert.write_amp" -> "ratio", "upsert.rows_rewritten_per_row_merged" -> "ratio",
    "upsert.commit_driver_s" -> "s", "upsert.files_live" -> "count",
    "ivf.add_s" -> "s", "ivf.add_rows_read" -> "rows",
    "ivf.index_bytes" -> "B", "ivf.probe_rows_scored" -> "rows",
    "state.self_s" -> "s",
    "reader.files_read_per_lookup" -> "count", "reader.bytes_read_per_lookup" -> "B",
    "reader.rows_read_per_row_returned" -> "ratio", "reader.files_pruned_share" -> "ratio",
    "trace.unattributed_jobs" -> "count", "trace.accounted_share" -> "ratio",
    "trace.wall_s" -> "s") ++ BackfillNames.map(n => s"backfill.$n" ->
      (if (n.endsWith("_s")) "s" else if (n.endsWith("_jobs")) "count" else "ratio"))

  private def emit(res: Result, v: collection.Map[String, Double]): Unit = {
    Names.foreach { case (n, unit) => res.perLayer += Metric(n, v.getOrElse(n, 0.0), unit) }
    v.keys.filterNot(k => Names.exists(_._1 == k)).toSeq.sorted.foreach(k =>
      res.notes(s"layer.$k") = Json.num(v(k)))
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Engine-wide metrics over a set of span breakdowns. */
  private def engine(bs: Seq[Breakdown], nproc: Int, v: mutable.Map[String, Double],
      res: Result): Unit = {
    v("engine.jobs") = mean(bs.map(_.jobs.size.toDouble))
    v("engine.tasks") = mean(bs.map(_.jobs.map(_.tasks).sum.toDouble))
    v("engine.busy_share") = bs.map(_.jobs.map(_.runMs).sum).sum.toDouble /
      math.max(1L, bs.map(_.span.wallMs).sum * nproc)
    v("engine.driver_gap_s") = mean(bs.map(_.gapMs / 1000.0))
    v("engine.shuffle_write_bytes") = mean(bs.map(_.jobs.map(_.shuffleWrite).sum.toDouble))
    v("engine.spill_bytes") = mean(bs.map(_.jobs.map(_.spill).sum.toDouble))
    v("engine.gc_s") = mean(bs.map(_.jobs.map(_.gcMs).sum / 1000.0))
    v("engine.planning_ms") = mean(bs.map(_.planningMs.toDouble))
    v("engine.task_skew") = mean(bs.flatMap(b =>
      b.jobs.sortBy(-_.longestStageMs).headOption.map(_.skew)))
    val unattributed = bs.flatMap(_.jobs.filter(_.layer == "unattributed"))
    v("trace.unattributed_jobs") = unattributed.size
    if (unattributed.nonEmpty)
      res.notes("unattributed_sites") = unattributed.map(_.site).distinct.mkString(" | ")
    v("trace.accounted_share") = mean(bs.map(b =>
      (b.layers.map(b.selfMs).sum + b.gapMs).toDouble / math.max(1L, b.span.wallMs)))
    bs.flatMap(_.layers).distinct.foreach(l =>
      v.getOrElseUpdate(s"$l.self_s", mean(bs.map(_.selfMs(l) / 1000.0))))
  }

  private val BucketDir = """__bucket(?:_p)?=(\d+)""".r

  private def pipelineValues(ctx: Ctx, t: Tracer, units: Seq[Workloads.PipeUnit],
      d: Workloads.Deployment, res: Result): mutable.Map[String, Double] = {
    val bs = units.map(u => Breakdown(u.span, t.jobsIn(u.span), t.planningMsIn(u.span)))
    val v = mutable.LinkedHashMap.empty[String, Double]
    engine(bs, ctx.nproc, v, res)
    val src = d.inst.source
    val scanned = mean(bs.map(_.of("extract").filter(_.plan.contains(src)).map(_.inRecords).sum.toDouble))
    val staged = mean(units.map(_.stats.recordsProcessed.toDouble))
    v("extract.rows_scanned") = scanned
    v("extract.rows_staged") = staged
    v("extract.scan_amp") = scanned / math.max(1.0, staged)
    v("extract.quarantined") = units.last.stats.quarantined.toDouble
    v("upsert.buckets_touched_share") = mean(units.map { u =>
      val fresh = u.filesAfter.toSet -- u.filesBefore
      fresh.flatMap(f => BucketDir.findFirstMatchIn(f).map(_.group(1))).size.toDouble / Sizes.Buckets
    })
    v("upsert.write_amp") = mean(units.zip(bs).map { case (u, b) =>
      b.of("upsert").map(_.outBytes).sum.toDouble / math.max(1L, u.stats.stagedBytes) })
    v("upsert.rows_rewritten_per_row_merged") = mean(units.zip(bs).map { case (u, b) =>
      b.of("upsert").map(_.outRecords).sum.toDouble / math.max(1L, u.stats.uniqueRecords) })
    v("upsert.commit_driver_s") = mean(bs.map(_.driverAfterMs("upsert") / 1000.0))
    v("upsert.files_live") = units.last.filesAfter.size.toDouble
    v("ivf.add_s") = mean(bs.map(_.selfMs("ivf") / 1000.0))
    v("ivf.add_rows_read") = mean(bs.map(_.of("ivf").map(_.inRecords).sum.toDouble))
    v("trace.wall_s") = mean(bs.map(_.span.wallMs / 1000.0))
    v
  }

  /** Increments (means per batch) plus the traced set-up backfill under
    * `backfill.` names. */
  def pipeline(ctx: Ctx, t: Tracer, units: Seq[Workloads.PipeUnit],
      backfill: Workloads.PipeUnit, d: Workloads.Deployment, res: Result): Unit = {
    val v = pipelineValues(ctx, t, units, d, res)
    val b = pipelineValues(ctx, t, Seq(backfill), d, res)
    BackfillNames.foreach(n => v(s"backfill.$n") = b.getOrElse(n, 0.0))
    v("ivf.index_bytes") = Meter.duBytes(ctx.spark, d.inst.index).toDouble
    res.samples("traced_units") = units.size.toLong + 1
    emit(res, v)
  }

  object ScanFiles extends AdaptiveSparkPlanHelper {
    /** Files the executed plan's DSv2 scans were planned to read. */
    def apply(df: DataFrame): Long =
      collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }
        .map(_.inputPartitions.map {
          case fp: FilePartition => fp.files.length.toLong
          case _ => 1L
        }.sum).sum
  }

  def serve(ctx: Ctx, t: Tracer, lookups: Seq[Workloads.LookupUnit],
      scans: Seq[Workloads.LookupUnit], d: Workloads.Deployment, res: Result): Unit = {
    val lb = lookups.map(u => Breakdown(u.span, t.jobsIn(u.span), t.planningMsIn(u.span)))
    val sb = scans.map(u => Breakdown(u.span, t.jobsIn(u.span), t.planningMsIn(u.span)))
    val v = mutable.LinkedHashMap.empty[String, Double]
    engine(lb ++ sb, ctx.nproc, v, res)
    val live = Meter.parquetFiles(ctx.spark, d.inst.target).size.toDouble
    v("upsert.files_live") = live
    v("reader.files_read_per_lookup") = mean(lookups.map(u => ScanFiles(u.df).toDouble))
    v("reader.bytes_read_per_lookup") = mean(lb.map(_.jobs.map(_.inBytes).sum.toDouble))
    v("reader.rows_read_per_row_returned") = lb.map(_.jobs.map(_.inRecords).sum).sum.toDouble /
      math.max(1, lookups.map(_.rowsReturned).sum)
    v("reader.files_pruned_share") = mean(scans.map(u => 1.0 - ScanFiles(u.df) / math.max(1.0, live)))
    v("ivf.index_bytes") = Meter.duBytes(ctx.spark, d.inst.index).toDouble
    res.samples("traced_units") = (lb.size + sb.size).toLong
    emit(res, v)
  }
}
