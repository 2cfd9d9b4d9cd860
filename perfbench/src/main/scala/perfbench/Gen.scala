package perfbench

import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded source-document generator with the ground truth kept on the
  * benchmark's side.
  *
  * Every document is a pure function of (seed, batch, index) plus the
  * driver-side metadata chosen for it ([[Doc]]), so the same seed gives the
  * same rows and a different seed different ones. Merge keys are built from
  * accented and CJK words whose ASCII fold is written down here
  * ([[Gen.Translit]]), so the expected `main_refco` of every document is
  * known without calling the program's key normalization.
  */
object Gen {
  val Dim = 128
  val Sources: Vector[String] = Vector("atlas", "borealis", "cygnus", "draco",
    "eridanus", "fornax", "gemini", "hydra")
  val Countries: Vector[String] = Vector("us", "de", "jp", "cn", "fr")
  val Categories: Vector[String] = Vector("apparel", "home", "garden", "toys",
    "food", "tools")
  val EmbTypes: Vector[String] = Vector("text", "image")
  /** Run fallback date, 2024-01-01 00:00:00 UTC (the pipeline's default). */
  val FallbackMicros: Long = 1704067200L * 1000000L
  /** Batch b covers the UTC day 2024-03-01 + b. */
  val FirstDayMicros: Long = 1709251200L * 1000000L
  val DayMicros: Long = 86400L * 1000000L
  val MaxKeyLen = 100

  /** ASCII transliteration of every non-ASCII character the generator
    * uses, following text-unidecode (which the reference's key collation
    * calls): Latin letters lose their marks, ß/æ/ø expand, and each CJK
    * ideograph becomes its capitalized pinyin syllable plus a space. */
  val Translit: Map[Char, String] = Map(
    'é' -> "e", 'è' -> "e", 'ê' -> "e", 'á' -> "a", 'ã' -> "a", 'ç' -> "c",
    'ñ' -> "n", 'Ñ' -> "N", 'ó' -> "o", 'ö' -> "o", 'ø' -> "o", 'Ø' -> "O",
    'ú' -> "u", 'ü' -> "u", 'û' -> "u", 'ß' -> "ss", 'æ' -> "ae", 'Æ' -> "AE",
    'ł' -> "l", 'Ł' -> "L", 'ź' -> "z", 'Č' -> "C", 'ř' -> "r", 'á' -> "a",
    '北' -> "Bei ", '京' -> "Jing ", '东' -> "Dong ", '上' -> "Shang ",
    '海' -> "Hai ", '山' -> "Shan ", '水' -> "Shui ", '红' -> "Hong ",
    '蓝' -> "Lan ", '金' -> "Jin ", '茶' -> "Cha ")

  val Words: Vector[String] = Vector("Café", "Crème", "Brûlée", "Zürich",
    "Ñandú", "Straße", "Øresund", "Łódź", "Señor", "Façade", "Ærø", "São",
    "Göteborg", "Kraków", "Smørrebrød", "Jalapeño", "Čapek", "Dvořák",
    "Plain", "Model", "Deluxe", "北京", "东京", "上海", "山水", "茶")
  val Colors: Vector[String] = Vector("", "", "", "Rouge", "Blé", "红",
    "Grün", "Noir.", "$Gold", "Weiß", "蓝", "Bleu Ciel", "Vert 金")

  /** The reference's key collation, computed from [[Translit]]:
    * transliterate, drop `.` and `$`, right-trim spaces, lowercase, cap. */
  def foldKey(raw: String): String = {
    val sb = new StringBuilder
    raw.foreach { c =>
      if (c < 128) { if (c != '.' && c != '$') sb.append(c) }
      else sb.append(Translit.getOrElse(c,
        throw new IllegalArgumentException(s"no transliteration for '$c'")))
    }
    var end = sb.length
    while (end > 0 && sb.charAt(end - 1) == ' ') end -= 1
    sb.substring(0, end).toLowerCase(java.util.Locale.ROOT).take(MaxKeyLen)
  }

  def mix(a: Long, b: Long, c: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b * 0xBF58476D1CE4E5B9L + c * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Entity e's canonical cleaned_ref; one in 499 is longer than the key
    * cap, with the id first so truncated keys stay unique. */
  def entityRef(seed: Long, e: Int): String = {
    val h = mix(seed, e.toLong, 7L)
    val w1 = Words(((h >>> 8) % Words.size).toInt.abs)
    val w2 = Words(((h >>> 24) % Words.size).toInt.abs)
    if (e % 499 == 0) s"$e " + Iterator.tabulate(12)(i => Words((i + e) % Words.size)).mkString(" ")
    else s"$w1 $w2 $e"
  }

  def entityColor(seed: Long, e: Int): String =
    Colors(((mix(seed, e.toLong, 11L) >>> 16) % Colors.size).toInt.abs)

  /** Spelling variants of one entity's cleaned_ref that fold to the same
    * key: as is, ASCII letters upper-cased, wrapped in `$` … `.`. */
  def variant(ref: String, v: Int): String = v match {
    case 0 => ref
    case 1 => ref.map(c => if (c < 128) c.toUpper else c)
    case _ => "$" + ref + "."
  }

  def keyOf(seed: Long, e: Int): String = {
    val color = entityColor(seed, e)
    val ref = entityRef(seed, e)
    foldKey(if (color.isEmpty) ref else ref + "_" + color)
  }

  // Row kinds: planted malformed rows and the rows the scan drops.
  val Ok = 0
  val NullTs = 1 // quarantined: null_timestamp
  val BadDim = 2 // quarantined: bad_vector_dim (127 floats)
  val EmptyEmb = 3 // dropped by the scan's non-empty-embedding filter
  val NullEmb = 4 // likewise

  /** Driver-side metadata of one document; the vector is regenerated from
    * (seed, batch, idx) wherever it is needed. */
  final case class Doc(batch: Int, idx: Int, entity: Int, variant: Int,
      source: Int, tsMicros: Long, kind: Int, category: Int, country: Int,
      embType: Int, forMatching: Int)

  def vector(seed: Long, d: Doc): Array[Float] = d.kind match {
    case EmptyEmb => Array.emptyFloatArray
    case NullEmb => null
    case k =>
      val r = new SplittableRandom(mix(seed, d.batch.toLong, d.idx.toLong))
      val n = if (k == BadDim) Dim - 1 else Dim
      val centre = r.nextInt(24)
      val cr = new SplittableRandom(mix(seed, 1000003L, centre.toLong))
      Array.tabulate(n)(_ => (cr.nextDouble(-1.0, 1.0) + 0.35 * r.nextGaussian()).toFloat)
  }

  def vectorDigest(v: Array[Float]): Int = java.util.Arrays.hashCode(v)

  def countryArray(d: Doc): Array[String] = d.country match {
    case -2 => null
    case -1 => Array.empty[String]
    case c => if (d.idx % 5 == 0) Array(Countries(c), "xx") else Array(Countries(c))
  }

  def displayName(d: Doc): String =
    s"${Sources(d.source)} (${if (d.country >= 0) Countries(d.country) else "None"})"

  /** Python `isoformat()`: no fraction when microseconds are zero. */
  def isoTimestamp(micros: Long): String = {
    val t = LocalDateTime.ofInstant(Instant.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L),
      ZoneOffset.UTC)
    if (Math.floorMod(micros, 1000000L) == 0L)
      t.format(DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss"))
    else t.format(DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))
  }

  /** The source document as the pipeline reads it ([[graft.schema.Schemas.sourceDoc]]). */
  def row(seed: Long, d: Doc): org.apache.spark.sql.Row = {
    val ts = if (d.kind == NullTs) null else {
      val t = new java.sql.Timestamp(Math.floorDiv(d.tsMicros, 1000L))
      t.setNanos((Math.floorMod(d.tsMicros, 1000000L) * 1000L).toInt)
      t
    }
    val v = vector(seed, d)
    org.apache.spark.sql.Row(Sources(d.source), ts,
      if (v == null) null else v.toSeq,
      variant(entityRef(seed, d.entity), d.variant), entityColor(seed, d.entity),
      Categories(d.category), Option(countryArray(d)).map(_.toSeq).orNull,
      EmbTypes(d.embType),
      if (d.forMatching == 2) null else java.lang.Boolean.valueOf(d.forMatching == 1))
  }

  /** All (display_name, display_name_id) pairs the generator can emit —
    * the dimension table, so the pipeline's inner dim join keeps every
    * row. */
  val DisplayNames: Vector[String] =
    (for (s <- Sources; c <- Countries.map(Some(_)) :+ None)
      yield s"$s (${c.getOrElse("None")})").sorted
  def displayNameId(name: String): Long = DisplayNames.indexOf(name).toLong + 1L
}

/** Stateful document stream for one seed: batch 0 is the backfill corpus,
  * later batches are daily increments. New entities get consecutive ids;
  * updates re-use existing ones, Zipf-skewed toward the most recently
  * created, under a different spelling. */
final class Corpus(val seed: Long) {
  import Gen._
  private var nextEntity = 0
  private var batches = 0

  /** @param share fraction of documents that re-use an existing entity
    * @param wm per-source watermark (epoch micros) the next run will
    *   filter against; one document per source is planted exactly on it */
  def nextBatch(n: Int, share: Double, wm: Map[Int, Long]): Vector[Doc] = {
    require(n > 0 && n <= 80000, s"batch size $n out of range (1..80000)")
    val b = batches
    batches += 1
    val r = new SplittableRandom(mix(seed, b.toLong, 0xBA7CL))
    val day = FirstDayMicros + b * DayMicros
    val spacing = DayMicros / n // > 1 s for n <= 80000: unique seconds
    val stride = { var s = 7919L; while (gcd(s, n.toLong) != 1) s += 2; s }
    val zipf = if (nextEntity > 0) zipfCdf(nextEntity) else Array.emptyDoubleArray
    val out = Vector.newBuilder[Doc]
    var i = 0
    while (i < n) {
      val reuse = nextEntity > 0 && r.nextDouble() < share
      // the backfill re-uses uniformly (in-batch duplicates); increments
      // re-use Zipf-skewed over the entities that existed before them,
      // newest first (hot keys repeat within a batch too)
      val entity =
        if (!reuse) { nextEntity += 1; nextEntity - 1 }
        else if (zipf.isEmpty) r.nextInt(nextEntity)
        else zipf.length - 1 - sampleZipf(zipf, r.nextDouble())
      val u = r.nextDouble()
      val kind =
        if (u < 0.003) NullTs else if (u < 0.006) BadDim
        else if (u < 0.008) EmptyEmb else if (u < 0.010) NullEmb else Ok
      var ts = day + ((i.toLong * stride) % n) * spacing + 1L + r.nextInt(999999)
      if (i % 50 == 7) ts -= Math.floorMod(ts, 1000000L) // whole second
      out += Doc(b, i, entity, if (reuse) 1 + r.nextInt(2) else 0,
        r.nextInt(Sources.size), ts, kind, r.nextInt(Categories.size),
        if (r.nextDouble() < 0.15) -1 - r.nextInt(2) else r.nextInt(Countries.size),
        r.nextInt(EmbTypes.size), r.nextInt(3))
      i += 1
    }
    // Planted boundary rows, each a new entity.
    def plant(src: Int, ts: Long): Unit = {
      out += Doc(b, i, nextEntity, 0, src, ts, Ok, 0, 0, 0, 1)
      nextEntity += 1; i += 1
    }
    if (b == 0) {
      plant(0, FallbackMicros) // == fallback: included (>=)
      plant(1, FallbackMicros - 1000000L) // before fallback: excluded
    }
    wm.toSeq.sortBy(_._1).foreach { case (s, w) => plant(s, w) } // == wm: excluded
    out.result()
  }

  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  /** Zipf(s = 1) over ranks 0 … n-1 (rank 0 = newest entity). */
  private def zipfCdf(n: Int): Array[Double] = {
    val c = new Array[Double](n)
    var acc = 0.0
    var k = 0
    while (k < n) { acc += 1.0 / (k + 1); c(k) = acc; k += 1 }
    k = 0
    while (k < n) { c(k) /= acc; k += 1 }
    c
  }

  private def sampleZipf(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }
}

/** The expected effect of every run, simulated from the generator's
  * metadata with the pipeline's documented semantics: quarantine over the
  * whole scanned history, per-source strict watermark (inclusive fallback),
  * keep-latest `original_timestamp` per key, unconditional update except
  * insert-only `cleaned_ref`, watermarks advanced from the staged batch. */
final class Truth(seed: Long) {
  import Gen._
  import Truth._

  private val landed = mutable.ArrayBuffer.empty[Doc]
  private var quarantinedCum = 0L
  var watermarks: Map[Int, Long] = Map.empty
  val target: mutable.HashMap[String, Row] = mutable.HashMap.empty

  def land(docs: Seq[Doc]): Unit = {
    landed ++= docs
    quarantinedCum += docs.count(d => d.kind == NullTs || d.kind == BadDim)
  }

  def run(): RunExpect = {
    val staged = landed.iterator.filter { d =>
      d.kind == Ok && (watermarks.get(d.source) match {
        case Some(w) => d.tsMicros > w
        case None => d.tsMicros >= FallbackMicros
      })
    }.toVector
    val winners = staged.groupBy(d => keyOf(seed, d.entity)).map { case (k, ds) =>
      k -> ds.maxBy(d => isoTimestamp(d.tsMicros))
    }
    winners.foreach { case (k, d) =>
      val row = Row(k, variant(entityRef(seed, d.entity), d.variant),
        Categories(d.category), displayName(d), displayNameId(displayName(d)),
        EmbTypes(d.embType), d.forMatching == 1,
        vectorDigest(vector(seed, d)), isoTimestamp(d.tsMicros))
      target(k) = target.get(k).fold(row)(old => row.copy(cleanedRef = old.cleanedRef))
    }
    staged.groupBy(_.source).foreach { case (s, ds) =>
      val m = ds.map(_.tsMicros).max
      watermarks = watermarks.updated(s, math.max(m, watermarks.getOrElse(s, Long.MinValue)))
    }
    RunExpect(staged.size.toLong, winners.size.toLong, quarantinedCum)
  }

  def missKey(i: Int): String = s"absent key $i ${seed}"
}

object Truth {
  /** One expected target row (the vector as its digest). */
  final case class Row(key: String, cleanedRef: String, category: String,
      displayName: String, displayNameId: Long, embType: String,
      forMatching: Boolean, vecDigest: Int, origTs: String)

  /** What one Pipeline.run must report. */
  final case class RunExpect(staged: Long, unique: Long, quarantined: Long)
}
