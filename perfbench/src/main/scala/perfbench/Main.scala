package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** Everything one run reports. `mismatches` non-empty ⇒ not correct. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val endToEnd = mutable.ArrayBuffer.empty[Metric]
  val detail = mutable.ArrayBuffer.empty[Metric]
  val perLayer = mutable.ArrayBuffer.empty[Metric]
  val samples = mutable.LinkedHashMap.empty[String, Long]
  val notes = mutable.LinkedHashMap.empty[String, String]
  val mismatches = mutable.ArrayBuffer.empty[String]
  def check(ok: Boolean, what: => String): Unit = if (!ok) mismatches += what
  def correct: Boolean = mismatches.isEmpty
}

final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: String)

/** Benchmark entry point (launched by run.py with the JDK module opens
  * Spark needs): `--workload w --seed n --seconds s --trace 0|1 --work dir`.
  * Prints the full record, then the contract line last. */
object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val a = Args(kv("--workload"), kv("--seed").toLong, kv("--seconds").toInt,
      kv.getOrElse("--trace", "0") == "1", kv("--work"))
    val nproc = Runtime.getRuntime.availableProcessors
    val loadBefore = loadavg()
    val statBefore = cpuStat()
    val res = new Result
    val spark = session(nproc, a.work)
    res.notes("session_ready_s") = Json.num((System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0)
    try Workloads.run(a.workload, new Ctx(spark, a, nproc), res)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        res.mismatches += s"workload aborted: ${e.getClass.getName}: ${e.getMessage}"
    } finally spark.stop()
    val loadAfter = loadavg()
    val statAfter = cpuStat()
    res.notes("jvm_wall_s") = Json.num((System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0)

    val shown = if (a.trace) res.perLayer else res.endToEnd
    (res.endToEnd ++ res.detail ++ res.perLayer).foreach { m =>
      println(f"perfbench ${a.workload}%-11s ${m.name}%-40s ${Json.num(m.value)}%16s ${m.unit}")
    }
    res.mismatches.take(20).foreach(m => System.err.println(s"perfbench MISMATCH: $m"))
    val record = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString, "trace" -> (if (a.trace) "1" else "0"),
      "nproc" -> nproc.toString,
      "loadavg_before" -> Json.arr(loadBefore.map(Json.num)),
      "loadavg_after" -> Json.arr(loadAfter.map(Json.num)),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      // share of the host's CPU time taken by other guests (hypervisor
      // steal) and spent busy, over the whole run, from /proc/stat
      "host_steal_share" -> Json.num(share(statBefore, statAfter, 7)),
      "host_busy_share" -> Json.num(1.0 - share(statBefore, statAfter, 3) -
        share(statBefore, statAfter, 4) - share(statBefore, statAfter, 7)),
      "correct" -> res.correct.toString,
      "attempted" -> res.attempted.toString, "failed" -> res.failed.toString,
      "samples" -> Json.obj(res.samples.toSeq.map { case (k, v) => k -> v.toString }),
      "metrics" -> Json.arr((res.endToEnd ++ res.detail ++ res.perLayer).toSeq.map(m =>
        Json.obj(Seq("name" -> Json.str(m.name), "value" -> Json.num(m.value),
          "unit" -> Json.str(m.unit))))),
      "notes" -> Json.obj(res.notes.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "mismatches" -> Json.arr(res.mismatches.take(20).toSeq.map(Json.str))))
    println("perfbench-record " + record)
    println(Json.obj(Seq(
      "correct" -> res.correct.toString,
      "attempted" -> math.max(1L, res.attempted).toString,
      "failed" -> res.failed.toString,
      "metrics" -> Json.obj(shown.toSeq.map(m => m.name ->
        Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit))))))))
    System.out.flush()
    sys.exit(if (res.correct) 0 else 1)
  }

  def session(nproc: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the CLI's session profile, then shuffle partitions = cores
    graft.GraftConf.applyScaleProfile(spark)
    spark.conf.set("spark.sql.shuffle.partitions", nproc.toString)
    spark
  }

  /** The aggregate `cpu` line of /proc/stat (user … steal), or empty. */
  def cpuStat(): Seq[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).toSeq
        .flatMap(_.trim.split("\\s+").drop(1).take(8).map(_.toLong))
      finally src.close()
    } catch { case _: Exception => Nil }

  private def share(a: Seq[Long], b: Seq[Long], field: Int): Double =
    if (a.size < 8 || b.size < 8) Double.NaN
    else (b(field) - a(field)).toDouble / math.max(1L, b.sum - a.sum)

  def loadavg(): Seq[Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+").take(3).map(_.toDouble).toSeq finally src.close()
    } catch { case _: Exception => Seq(ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage) }
}

/** Minimal JSON rendering (values are pre-rendered strings). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.math.BigDecimal.valueOf(d).toPlainString
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
