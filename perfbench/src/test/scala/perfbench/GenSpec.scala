package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  import Gen._

  private def digest(seed: Long): Int = {
    val c = new Corpus(seed)
    val b0 = c.nextBatch(3000, 0.3, Map.empty)
    val b1 = c.nextBatch(500, 0.5, Map(0 -> (FirstDayMicros + 5L)))
    (b0 ++ b1).map(d => (d, row(seed, d).toString).hashCode).hashCode
  }

  test("same seed gives identical rows, another seed different ones") {
    assert(digest(7L) == digest(7L))
    assert(digest(7L) != digest(8L))
  }

  test("key fold follows the transliteration table, not the program") {
    assert(foldKey("Café Zürich 17_Rouge") == "cafe zurich 17_rouge")
    assert(foldKey("$CAFé ZüRICH 17.") == "cafe zurich 17")
    assert(foldKey("北京 Straße 3_红") == "bei jing  strasse 3_hong")
    assert(foldKey("Model 茶") == "model cha")
    assert(foldKey("x" * 120).length == MaxKeyLen)
    (0 until 3).foreach(v => assert(foldKey(variant("Ærø Łódź 9", v)) == "aero lodz 9"))
  }

  test("batches plant duplicates, boundary timestamps and malformed rows") {
    val c = new Corpus(3L)
    val b0 = c.nextBatch(20000, 0.3, Map.empty)
    assert(b0.groupBy(_.entity).exists(_._2.size > 1), "in-batch duplicate keys")
    assert(b0.exists(_.tsMicros == FallbackMicros))
    assert(b0.exists(_.tsMicros < FallbackMicros))
    Seq(NullTs, BadDim, EmptyEmb, NullEmb).foreach(k => assert(b0.exists(_.kind == k)))
    val bad = b0.count(_.kind != Ok).toDouble / b0.size
    assert(bad > 0.005 && bad < 0.02, s"malformed share $bad")
    val wm = Map(2 -> (FirstDayMicros + 123456L))
    val b1 = c.nextBatch(1000, 0.5, wm)
    assert(b1.exists(d => d.source == 2 && d.tsMicros == wm(2)), "row on the watermark")
    assert(b1.count(_.entity < b0.map(_.entity).max + 1) > 300, "updates re-use old keys")
  }

  test("ground truth: watermark-equal rows excluded, insert-only cleaned_ref kept") {
    val c = new Corpus(11L)
    val t = new Truth(11L)
    val b0 = c.nextBatch(2000, 0.3, Map.empty)
    t.land(b0)
    val r0 = t.run()
    assert(r0.quarantined == b0.count(d => d.kind == NullTs || d.kind == BadDim))
    assert(r0.staged == b0.count(d => d.kind == Ok && d.tsMicros >= FallbackMicros))
    val before = t.target.toMap
    val wm0 = t.watermarks
    val b1 = c.nextBatch(500, 0.5, wm0)
    t.land(b1)
    val r1 = t.run()
    assert(r1.staged == b1.count(_.kind == Ok) - wm0.size,
      "every valid new row is staged except the one per source on its watermark")
    before.foreach { case (k, row) =>
      assert(t.target(k).cleanedRef == row.cleanedRef, s"cleaned_ref of $k is insert-only")
    }
  }
}
