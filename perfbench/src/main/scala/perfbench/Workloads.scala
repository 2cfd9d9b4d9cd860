package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.operators.Ivf
import graft.sources.WatermarkStore

/** Workload sizes, chosen so one run, set-up included, takes 45–65 s on
  * 4 cores (see README.md, also for why the bucket count is 32). */
object Sizes {
  val BaseDocs = 10000
  val BatchDocs = 1000
  val MinUnits = 3
  val Buckets = 32
  val Nlist = 16
  val LookupsPerRound = 3
  val WarmupRounds = 6
  val MissShare = 0.1
}

final class Ctx(val spark: SparkSession, val args: Args, val nproc: Int) {
  var tracer: Option[Tracer] = None
  def work: String = args.work
  def seed: Long = args.seed
}

/** One pipeline deployment: source, dims, target, state, staging and
  * index directories under `root`, configured like the CLI's
  * `--merge-buckets n --manifest-commit true --ivf-index … --ivf-nlist 16`
  * (n = [[Sizes.Buckets]]). */
final case class Inst(root: String) {
  val source = s"$root/source"
  val target = s"$root/target"
  val stateDir = s"$root/state"
  val state = s"$stateDir/watermarks.json"
  val staging = s"$root/staging"
  val index = s"$root/ivf"
  val dims = s"$root/dims"
  def conf: Pipeline.Config = Pipeline.Config(
    sourcePath = source, targetPath = target, statePath = state,
    stagingPath = staging, sourcesConfigPath = Some(dims),
    mergeBuckets = Sizes.Buckets, manifestCommit = true,
    ivfIndexPath = Some(index), ivfNlist = Sizes.Nlist)
  /** Layer owning each path, for jobs whose innermost class is Pipeline. */
  def layerPaths: Seq[(String, String)] = Seq("state" -> stateDir,
    "ivf" -> index, "upsert" -> target, "extract" -> staging, "extract" -> source)
}

object Meter {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime
  /** Heap occupancy after a full collection. Collects twice, letting
    * Spark's ContextCleaner drop the shuffles and broadcasts the first
    * collection released, so the reading does not depend on its timing. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(250)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  /** The highest percentile with at least 10 samples beyond it:
    * (value, percentile), or None when that is below the median
    * (fewer than 20 samples). */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 20) None
    else Some((xs.sorted.apply(xs.size - 11), 100.0 * (xs.size - 10) / xs.size))
  def duBytes(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }
  def parquetFiles(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    val it = fs.listFiles(p, true)
    val out = mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val f = it.next().getPath.toString
      if (f.endsWith(".parquet")) out += f
    }
    out.toSeq
  }
  def delete(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

/** Times one unit of work (one public call) and keeps its span. */
final class Units {
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Process CPU time summed over every timed call. */
  var cpuNs = 0L
  var liveHeapMb = 0.0
  def time[T](name: String, fallback: String)(f: => T): (T, Double) = {
    val c0 = Meter.cpuNs(); val w0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    val out = f
    val ms = (System.nanoTime() - t0) / 1e6
    val w1 = System.currentTimeMillis()
    cpuNs += Meter.cpuNs() - c0
    spans += Span(name, fallback, w0, w1)
    (out, ms)
  }
  /** Called once, after the timed phase: a forced collection between
    * units made the next unit up to 50 % slower. */
  def sampleHeap(): Unit = liveHeapMb = math.max(liveHeapMb, Meter.liveHeapMb())
}

object Workloads {
  import Gen._

  def run(name: String, ctx: Ctx, res: Result): Unit = name match {
    case "incremental" => incremental(ctx, res)
    case "serve" => serve(ctx, res)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  // ------------------------------------------------------------ helpers

  def writeDocs(spark: SparkSession, seed: Long, docs: Seq[Doc], dir: String,
      parts: Int): Unit = {
    val rdd = spark.sparkContext.parallelize(docs, parts).map(d => Gen.row(seed, d))
    spark.createDataFrame(rdd, graft.schema.Schemas.sourceDoc)
      .write.mode("append").option("compression", "snappy").parquet(dir)
  }

  def writeDims(spark: SparkSession, inst: Inst): Unit = {
    import spark.implicits._
    DisplayNames.map(n => (n, displayNameId(n))).toDF("display_name", "display_name_id")
      .coalesce(1).write.mode("overwrite").parquet(inst.dims)
  }

  /** Times the set-up and reports it as setup_s. */
  def setup[T](res: Result)(once: => T): T = {
    val t0 = System.nanoTime()
    val out = once
    res.endToEnd += Metric("setup_s", (System.nanoTime() - t0) / 1e9, "s")
    out
  }

  /** A generated corpus with its ground truth, deployed under `inst`. */
  final class Deployment(val inst: Inst, val corpus: Corpus, val truth: Truth)

  /** Generates the base corpus and dims, then backfills it with one
    * Pipeline.run from an empty target and state (timed as a unit). */
  def deploy(ctx: Ctx, inst: Inst, u: Units, res: Result): (Deployment, PipeUnit) = {
    val spark = ctx.spark
    val corpus = new Corpus(ctx.seed)
    val truth = new Truth(ctx.seed)
    writeDims(spark, inst)
    val docs = corpus.nextBatch(Sizes.BaseDocs, 0.3, Map.empty)
    writeDocs(spark, ctx.seed, docs, inst.source, ctx.nproc)
    truth.land(docs)
    val d = new Deployment(inst, corpus, truth)
    (d, runUnit(ctx, d, u, "backfill", indexExisted = false, res))
  }

  /** One timed Pipeline.run, checked against the simulated run. */
  def runUnit(ctx: Ctx, d: Deployment, u: Units, what: String,
      indexExisted: Boolean, res: Result): PipeUnit = {
    val before = targetFiles(ctx, d.inst)
    val (st, ms) = u.time(what, "unattributed")(Pipeline.run(ctx.spark, d.inst.conf))
    checkRun(res, what, st, d.truth.run())
    PipeUnit(u.spans.last, st, ms, indexExisted, before, targetFiles(ctx, d.inst))
  }

  /** Lands one daily increment: half new keys, half Zipf-skewed updates,
    * one row per source planted on its watermark. */
  def landIncrement(ctx: Ctx, d: Deployment): Unit = {
    val docs = d.corpus.nextBatch(Sizes.BatchDocs, 0.5, d.truth.watermarks)
    writeDocs(ctx.spark, ctx.seed, docs, d.inst.source, ctx.nproc)
    d.truth.land(docs)
  }

  def checkRun(res: Result, what: String, st: Pipeline.RunStats,
      exp: Truth.RunExpect): Unit = {
    res.check(st.recordsProcessed == exp.staged,
      s"$what: records ${st.recordsProcessed} != expected ${exp.staged}")
    res.check(st.uniqueRecords == exp.unique,
      s"$what: unique ${st.uniqueRecords} != expected ${exp.unique}")
    res.check(st.quarantined == exp.quarantined,
      s"$what: quarantined ${st.quarantined} != planted ${exp.quarantined}")
  }

  private val vecHash = udf((a: scala.collection.Seq[Float]) =>
    if (a == null) 0 else java.util.Arrays.hashCode(a.toArray))

  /** Target rows, vectors, watermarks and index coverage against truth. */
  def verify(ctx: Ctx, d: Deployment, res: Result): Unit = {
    val spark = ctx.spark
    val rows = spark.read.format("graft").load(d.inst.target)
      .select(col("main_refco"), col("cleaned_ref"), col("category"),
        col("display_name"), col("display_name_id"), col("embeddings_type"),
        col("for_matching"), vecHash(col("embedding_vector")),
        col("original_timestamp"))
      .collect()
    val truth = d.truth.target
    res.check(rows.length == truth.size,
      s"target has ${rows.length} rows, expected ${truth.size}")
    val bad = rows.toSeq.flatMap { r =>
      val got = Truth.Row(r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), if (r.isNullAt(4)) -1L else r.getLong(4), r.getString(5),
        r.getBoolean(6), r.getInt(7), r.getString(8))
      truth.get(got.key) match {
        case Some(exp) if exp == got => None
        case Some(exp) => Some(s"target row mismatch: got $got expected $exp")
        case None => Some(s"unexpected target key '${got.key}'")
      }
    }
    bad.take(3).foreach(res.mismatches += _)
    res.check(bad.isEmpty, s"${bad.size} target rows differ from ground truth")
    res.samples("target_rows") = rows.length.toLong

    val wm = WatermarkStore.read(spark, d.inst.state).map { case (s, t) =>
      s -> (Math.floorDiv(t.getTime, 1000L) * 1000000L + (t.getNanos / 1000) % 1000000)
    }
    val expWm = d.truth.watermarks.map { case (s, m) => Sources(s) -> m }
    res.check(wm == expWm, s"watermarks $wm != expected $expWm")

    val idx = Ivf.readCells(spark, d.inst.index).select("main_refco")
      .agg(count(lit(1)), countDistinct(col("main_refco"))).head()
    res.check(idx.getLong(0) == truth.size && idx.getLong(1) == truth.size,
      s"IVF index holds ${idx.getLong(0)} rows / ${idx.getLong(1)} keys, " +
        s"expected ${truth.size} (one per target key)")
  }

  /** op_ms and cpu_s are medians over the timed units. */
  def addEndToEnd(res: Result, opMs: Seq[Double], cpuS: Seq[Double], u: Units): Unit = {
    res.notes("op_ms_each") = opMs.map(m => f"$m%.1f").mkString(",")
    res.endToEnd += Metric("op_ms", Meter.median(opMs), "ms")
    res.endToEnd += Metric("cpu_s", Meter.median(cpuS), "s")
    res.endToEnd += Metric("live_heap_mb", u.liveHeapMb, "MB")
  }

  def failedRatio(res: Result): Unit =
    res.detail += Metric("failed_ratio",
      res.failed.toDouble / math.max(1L, res.attempted), "ratio")

  /** Bytes under the target and index directories per live target row. */
  def storedBytesPerRow(ctx: Ctx, d: Deployment, res: Result): Unit =
    res.detail += Metric("stored_bytes_per_row",
      (Meter.duBytes(ctx.spark, d.inst.target) + Meter.duBytes(ctx.spark, d.inst.index)).toDouble /
        math.max(1, d.truth.target.size), "B/row")

  final case class PipeUnit(span: Span, stats: Pipeline.RunStats, ms: Double,
      indexExisted: Boolean, filesBefore: Seq[String], filesAfter: Seq[String])

  def targetFiles(ctx: Ctx, inst: Inst): Seq[String] =
    Meter.parquetFiles(ctx.spark, inst.target)

  def attachTracer(ctx: Ctx, inst: Inst): Unit =
    if (ctx.args.trace && ctx.tracer.isEmpty)
      ctx.tracer = Some(Tracer.attach(ctx.spark, inst.layerPaths))

  // -------------------------------------------------------- incremental

  /** Daily increments into a backfilled target: each lands new files in
    * the same source directory (history kept) and runs one Pipeline.run. */
  def incremental(ctx: Ctx, res: Result): Unit = {
    val inst = Inst(s"${ctx.work}/deploy")
    attachTracer(ctx, inst)
    val (d, backfill) = setup(res)(deploy(ctx, inst, new Units, res))
    val u = new Units
    val units = mutable.ArrayBuffer.empty[PipeUnit]
    val end = System.nanoTime() + ctx.args.seconds * 1000000000L
    val cpuS = mutable.ArrayBuffer.empty[Double]
    while (units.size < Sizes.MinUnits || System.nanoTime() < end) {
      landIncrement(ctx, d)
      res.attempted += 1
      val c0 = u.cpuNs
      units += runUnit(ctx, d, u, s"increment ${units.size}", indexExisted = true, res)
      cpuS += (u.cpuNs - c0) / 1e9
    }
    u.sampleHeap()
    val t0 = System.nanoTime()
    verify(ctx, d, res)
    res.notes("verify_s") = Json.num((System.nanoTime() - t0) / 1e9)
    val runMs = units.map(_.ms).toSeq
    addEndToEnd(res, runMs, cpuS.toSeq, u)
    res.detail += Metric("run_s", Meter.median(runMs) / 1000, "s")
    res.detail += Metric("rows_per_s", Sizes.BatchDocs / (Meter.median(runMs) / 1000), "rows/s")
    res.detail += Metric("backfill_rows_per_s", Sizes.BaseDocs / (backfill.ms / 1000), "rows/s")
    storedBytesPerRow(ctx, d, res)
    failedRatio(res)
    res.samples("batches") = units.size.toLong
    res.samples("batch_rows") = Sizes.BatchDocs.toLong
    res.samples("backfill_rows") = Sizes.BaseDocs.toLong
    res.samples("history_rows") = (Sizes.BaseDocs + units.size * Sizes.BatchDocs).toLong
    ctx.tracer.foreach(t => PerLayer.pipeline(ctx, t, units.toSeq, backfill, d, res))
  }

  // -------------------------------------------------------------- serve

  /** Reads against a maintained target: seeded rounds of key lookups
    * (recent-skewed hits plus misses) and one time-range aggregate scan,
    * all through `spark.read.format("graft")`. */
  def serve(ctx: Ctx, res: Result): Unit = {
    val spark = ctx.spark
    val inst = Inst(s"${ctx.work}/deploy")
    val r = new java.util.SplittableRandom(mix(ctx.seed, 77L, 5L))
    val lookupMs = mutable.ArrayBuffer.empty[Double]
    val scanMs = mutable.ArrayBuffer.empty[Double]
    val lookups = mutable.ArrayBuffer.empty[LookupUnit]
    val scans = mutable.ArrayBuffer.empty[LookupUnit]

    /** One round: LookupsPerRound key lookups, then one time-range scan;
      * returns the round's summed latency. */
    def round(d: Deployment, recent: Vector[String], u: Units, timed: Boolean): Double = {
      val table = spark.read.format("graft").load(d.inst.target)
      var total = 0.0
      (0 until Sizes.LookupsPerRound).foreach { _ =>
        val miss = r.nextDouble() < Sizes.MissShare
        val key = if (miss) d.truth.missKey(r.nextInt(1 << 20))
          else recent(math.min(recent.size - 1, (recent.size * math.pow(r.nextDouble(), 3)).toInt))
        val df = table.where(col("main_refco") === key)
          .select("main_refco", "cleaned_ref", "original_timestamp", "embedding_vector")
        if (timed) res.attempted += 1
        try {
          val (rows, ms) = u.time("lookup", "reader")(df.collect())
          total += ms
          if (timed) { lookupMs += ms; lookups += LookupUnit(u.spans.last, rows.length, df) }
          d.truth.target.get(key) match {
            case None => res.check(rows.isEmpty, s"lookup of absent '$key' returned ${rows.length} rows")
            case Some(exp) =>
              res.check(rows.length == 1 && rows(0).getString(1) == exp.cleanedRef &&
                rows(0).getString(2) == exp.origTs &&
                java.util.Arrays.hashCode(rows(0).getSeq[Float](3).toArray) == exp.vecDigest,
                s"lookup '$key' returned ${rows.map(_.toString.take(120)).mkString(";")}, expected $exp")
          }
        } catch { case e: Exception => res.failed += 1; res.notes("lookup_error") = e.toString.take(300) }
      }
      // a 6-hour window on the day of a random target row
      val day = d.truth.target(recent(r.nextInt(recent.size))).origTs.take(10)
      val h = r.nextInt(18)
      val lo = f"${day}T$h%02d"
      val hi = f"${day}T${h + 6}%02d"
      val df = table.where(col("original_timestamp") >= lo && col("original_timestamp") < hi)
        .groupBy("display_name").agg(count(lit(1)).as("n"))
      if (timed) res.attempted += 1
      try {
        val (rows, ms) = u.time("scan", "reader")(df.collect())
        total += ms
        if (timed) { scanMs += ms; scans += LookupUnit(u.spans.last, rows.length, df) }
        val got = rows.map(x => x.getString(0) -> x.getLong(1)).toMap
        val exp = d.truth.target.values.filter(x => x.origTs >= lo && x.origTs < hi)
          .groupBy(_.displayName).map { case (k, v) => k -> v.size.toLong }
        res.check(got == exp, s"scan [$lo, $hi) returned $got, expected $exp")
      } catch { case e: Exception => res.failed += 1; res.notes("scan_error") = e.toString.take(300) }
      total
    }

    // set-up: the backfill, then warm-up rounds
    val (d, recent) = setup(res) {
      val setupUnits = new Units
      val (dep, _) = deploy(ctx, inst, setupUnits, res)
      // recency order: the latest original_timestamp first
      val recent = dep.truth.target.keys.toVector.sortBy(k => dep.truth.target(k).origTs).reverse
      (0 until Sizes.WarmupRounds).foreach(_ => round(dep, recent, setupUnits, timed = false))
      (dep, recent)
    }
    verify(ctx, d, res)
    attachTracer(ctx, d.inst)
    val u = new Units
    val roundMs = mutable.ArrayBuffer.empty[Double]
    val roundCpuS = mutable.ArrayBuffer.empty[Double]
    val end = System.nanoTime() + ctx.args.seconds * 1000000000L
    while (roundMs.size < Sizes.MinUnits || System.nanoTime() < end) {
      val c0 = u.cpuNs
      roundMs += round(d, recent, u, timed = true)
      roundCpuS += (u.cpuNs - c0) / 1e9
    }
    u.sampleHeap()
    addEndToEnd(res, roundMs.toSeq, roundCpuS.toSeq, u)
    res.detail += Metric("lookup_p50_ms", Meter.median(lookupMs.toSeq), "ms")
    Meter.tail(lookupMs.toSeq).foreach { case (v, p) =>
      res.detail += Metric("lookup_tail_ms", v, "ms"); res.notes("lookup_tail") = f"p$p%.1f of ${lookupMs.size}" }
    res.detail += Metric("scan_p50_ms", Meter.median(scanMs.toSeq), "ms")
    Meter.tail(scanMs.toSeq).foreach { case (v, p) =>
      res.detail += Metric("scan_tail_ms", v, "ms"); res.notes("scan_tail") = f"p$p%.1f of ${scanMs.size}" }
    res.samples("rounds") = roundMs.size.toLong
    res.samples("lookups") = lookupMs.size.toLong
    res.samples("scans") = scanMs.size.toLong
    annProbe(ctx, d, res)
    failedRatio(res)
    ctx.tracer.foreach(t => PerLayer.serve(ctx, t, lookups.toSeq, scans.toSeq, d, res))
  }

  final case class LookupUnit(span: Span, rowsReturned: Int, df: DataFrame)

  /** Top-10 through `Ivf.probeIndex` on the index the pipeline maintains
    * (keyed by `main_refco`), with recall against a brute-force top-10
    * computed here. Runs after the timed phase: while the probe fails on
    * string ids, its failure is recorded and the ann_* metrics are
    * reported missing. */
  def annProbe(ctx: Ctx, d: Deployment, res: Result): Unit = {
    val spark = ctx.spark
    val table = spark.read.format("graft").load(d.inst.target)
    val keys = d.truth.target.keys.toVector.sorted
    val rnd = new java.util.SplittableRandom(mix(ctx.seed, 99L, 1L))
    val qKeys = Seq.fill(4)(keys(rnd.nextInt(keys.size))).distinct
    val queries = table.where(col("main_refco").isin(qKeys: _*))
      .select("main_refco", "embedding_vector")
    res.samples("ann_attempted") = 1L
    try {
      val t0 = System.nanoTime()
      val got = Ivf.probeIndex(spark, d.inst.index, queries, k = 10, nprobe = 4,
        idCol = "main_refco", vecCol = "embedding_vector").collect()
      val ms = (System.nanoTime() - t0) / 1e6
      val corpus = table.select("main_refco", "embedding_vector").collect()
        .map(r => r.getString(0) -> r.getSeq[Float](1).toArray)
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        dot / math.sqrt(na * nb)
      }
      val recall = qKeys.map { k =>
        val v = corpus.find(_._1 == k).get._2
        val truth = corpus.filter(_._1 != k).sortBy(c => -cos(v, c._2)).take(10).map(_._1).toSet
        val found = got.filter(_.get(0).toString == k).map(_.get(1).toString).toSet
        (truth intersect found).size / 10.0
      }
      res.detail += Metric("ann_probe_ms", ms, "ms")
      res.detail += Metric("ann_recall_at_10", recall.sum / recall.size, "ratio")
      res.notes("ann") = "probe succeeded"
      res.samples("ann_failed") = 0L
    } catch {
      case e: Exception =>
        val root = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq.last
        res.notes("ann") = "ann_p50_ms, ann_tail_ms, ann_recall_at_10 missing: " +
          "Ivf.probeIndex on the main_refco-keyed index failed with " +
          s"${root.getClass.getSimpleName}: ${String.valueOf(root.getMessage).take(160)} " +
          s"(top frames: ${root.getStackTrace.take(3).mkString(" < ")})"
        res.samples("ann_failed") = 1L
    }
  }

}
