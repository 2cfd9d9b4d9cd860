package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LayersSpec extends AnyFunSuite {
  private val paths = Seq("state" -> "/w/state", "ivf" -> "/w/ivf",
    "upsert" -> "/w/target", "extract" -> "/w/staging", "extract" -> "/w/source")

  test("frame classes strip companions, lambdas and locations") {
    assert(Layers.classOfFrame("graft.operators.Upsert$.$anonfun$merge$1(Upsert.scala:58)") ==
      "graft.operators.Upsert")
    assert(Layers.classOfFrame("at graft.Pipeline$.run(Pipeline.scala:120)") == "graft.Pipeline")
  }

  test("the innermost operators/sources class names the layer") {
    val stack = Seq("org.apache.spark.sql.Dataset.collect(Dataset.scala:1)",
      "graft.functions.F$.cosineSim(F.scala:3)",
      "graft.operators.IndexStore$.read(IndexStore.scala:90)",
      "graft.operators.Ivf$.addToIndex(Ivf.scala:190)",
      "graft.Pipeline$.run(Pipeline.scala:230)").mkString("\n")
    assert(Layers.resolve(stack, "", paths, "x") == "ivf")
    assert(Layers.resolve("perfbench.Main$.main(Main.scala:1)", "", paths, "reader") == "reader")
    assert(Layers.resolve("graft.sources.WatermarkStore$.write(W.scala:1)", "", paths, "x") == "state")
  }

  test("Pipeline frames go by the written path, then the read path") {
    val p = "graft.Pipeline$.run(Pipeline.scala:150)"
    val write = "Execute InsertIntoHadoopFsRelationCommand file:/w/staging, false, [source]\n" +
      "+- FileScan parquet [..] Location: InMemoryFileIndex(1 paths)[file:/w/source]"
    assert(Layers.resolve(p, write, paths, "x") == "extract")
    assert(Layers.resolve(p, "FileScan parquet Location: [file:/w/target/data/run-1]", paths, "x") == "upsert")
    assert(Layers.resolve(p, "HashAggregate(keys=[source], functions=[max(__ts#12)])", paths, "x") == "state")
    assert(Layers.resolve(p, "", paths, "x") == Layers.Next)
    assert(Layers.resolve(p, "LocalTableScan", paths, "x") == "unattributed")
  }

  test("self time is the union of job intervals") {
    assert(Layers.unionMs(Seq((0L, 10L), (5L, 15L), (20L, 25L), (30L, 30L))) == 20L)
    val span = Span("s", "reader", 0L, 100L)
    def job(id: Int, s: Long, e: Long, layer: String) =
      JobRec(id, s, e, layer, "", "", 1, 1, 0, 0, 0, 0, 0, 0, 0, 1.0, 1)
    val b = Breakdown(span, Seq(job(0, 10, 30, "extract"), job(1, 40, 60, "upsert"),
      job(2, 70, 80, "upsert")), 0L)
    assert(b.selfMs("upsert") == 30L && b.selfMs("extract") == 20L && b.gapMs == 50L)
    assert(b.driverAfterMs("upsert") == 10L + 20L)
    assert(b.layers.map(b.selfMs).sum + b.gapMs == span.wallMs)
  }
}
