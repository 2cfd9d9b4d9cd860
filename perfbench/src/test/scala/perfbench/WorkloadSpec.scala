package perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Runs both workloads traced, for one minimum-length pass each, and
  * checks the trace and the printed metric set. */
class WorkloadSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private var work: File = _
  private val nproc = math.min(4, Runtime.getRuntime.availableProcessors)
  private val bench = new ObjectMapper().readTree(new File("../BENCHMARK.json"))
  private def specs(section: String): Seq[(String, String)] =
    bench.get(section).elements().asScala.map(m =>
      m.get("name").asText -> m.get("unit").asText).toSeq

  override def beforeAll(): Unit = {
    new File(System.getProperty("java.io.tmpdir")).mkdirs()
    work = Files.createTempDirectory("perfbench-spec").toFile
    spark = Main.session(nproc, work.getAbsolutePath)
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    if (work != null) org.apache.commons.io.FileUtils.deleteDirectory(work)
  }

  private def runTraced(workload: String): Result = {
    val dir = new File(work, workload).getAbsolutePath
    val ctx = new Ctx(spark, Args(workload, 5L, 1, trace = true, dir), nproc)
    val res = new Result
    try Workloads.run(workload, ctx, res)
    finally ctx.tracer.foreach { t =>
      spark.sparkContext.removeSparkListener(t)
      spark.listenerManager.unregister(t)
    }
    assert(res.correct, res.mismatches.mkString("\n"))
    res
  }

  private def value(ms: Seq[Metric], name: String): Double =
    ms.find(_.name == name).getOrElse(fail(s"metric $name missing")).value

  private def printsEveryMetric(res: Result, detail: Seq[(String, String)]): Unit = {
    assert(res.endToEnd.map(m => m.name -> m.unit).toSeq == specs("end_to_end"))
    assert(res.perLayer.map(m => m.name -> m.unit).toSeq == specs("per_layer"))
    detail.foreach { case (n, u) =>
      assert(res.detail.exists(m => m.name == n && m.unit == u), s"$n [$u] not printed")
    }
    (res.endToEnd ++ res.detail ++ res.perLayer).foreach(m =>
      assert(!m.value.isNaN && !m.value.isInfinite, s"${m.name} = ${m.value}"))
  }

  test("incremental: no job unattributed, layers + driver gap account for wall time") {
    val res = runTraced("incremental")
    for (prefix <- Seq("", "backfill.")) {
      assert(value(res.perLayer.toSeq, s"${prefix}trace.unattributed_jobs") == 0.0, prefix)
      // jobs of different layers never overlap inside Pipeline.run, so the
      // per-layer unions plus the gap tile the span within 2 %
      val share = value(res.perLayer.toSeq, s"${prefix}trace.accounted_share")
      assert(math.abs(share - 1.0) <= 0.02, s"${prefix}accounted share $share")
    }
    Seq("extract.self_s", "upsert.self_s", "ivf.add_s", "state.self_s",
      "engine.driver_gap_s").foreach(n => assert(value(res.perLayer.toSeq, n) > 0, n))
    assert(value(res.perLayer.toSeq, "extract.scan_amp") > 5.0, "history ÷ batch")
    assert(math.abs(value(res.perLayer.toSeq, "backfill.extract.scan_amp") - 1.0) < 0.05)
    printsEveryMetric(res, Seq("run_s" -> "s", "rows_per_s" -> "rows/s",
      "backfill_rows_per_s" -> "rows/s", "stored_bytes_per_row" -> "B/row",
      "failed_ratio" -> "ratio"))
  }

  test("serve: reads checked, ANN failure recorded, every metric printed") {
    val res = runTraced("serve")
    assert(res.failed == 0L && res.attempted > 0L)
    assert(res.notes.contains("ann"))
    if (res.samples.get("ann_failed").contains(1L))
      assert(!res.detail.exists(_.name.startsWith("ann_")), "ann_* reported missing, not zero")
    // stats pruning may leave a miss with no file to open
    assert(value(res.perLayer.toSeq, "reader.files_read_per_lookup") > 0.0)
    printsEveryMetric(res, Seq("lookup_p50_ms" -> "ms", "scan_p50_ms" -> "ms",
      "failed_ratio" -> "ratio"))
  }
}
