package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream

import scala.collection.mutable.ArrayBuffer

/** Input generators for the workloads. Plain Scala with no graft
  * imports: the inputs, and the answers the checkers compare against, are
  * made here from the seed alone, so a change to the program cannot change
  * what it is measured on.
  */
object Gen {

  /** The sentiment lexicon the tweets are built from. It is the toy
    * lexicon the program scores against by default (five positive, five
    * negative words); the generator counts how many of each it puts into a
    * tweet, so the expected label needs no scoring code.
    */
  val Positive: Vector[String] = Vector("fast", "small", "value", "merge", "join")
  val Negative: Vector[String] = Vector("slow", "big", "scan", "dup", "filter")

  /** Words carrying no sentiment. None of them is a lexicon word. */
  val Neutral: Vector[String] = Vector(
    "the", "a", "data", "cluster", "spark", "table", "query", "today", "market",
    "stock", "price", "news", "team", "report", "model", "index", "update",
    "release", "user", "build", "test", "night", "morning", "city", "game",
    "music", "movie", "coffee", "weather", "people", "time", "work", "home")

  val OtherLangs: Vector[String] = Vector("es", "fr", "de", "pt")

  // ----------------------------------------------------------------- tweets

  final case class DayExpect(
      date: String, positive: Int, negative: Int, na: Int,
      nonEn: Int, retweets: Int, corrupt: Vector[String])

  /** Writes `files` gzipped JSONL files of `lines` lines for each of the
    * `days` dates under `root/yyyy/mm/dd/`. Planted: non-`en` tweets, `RT @`
    * retweets and corrupt lines; everything else is an `en` tweet whose
    * label follows from the counted lexicon words in it.
    */
  def tweets(root: File, seed: Long, days: Seq[java.time.LocalDate],
      files: Int, lines: Int): Vector[DayExpect] = {
    val rnd = new java.util.SplittableRandom(seed * 7919L + 11L)
    days.map { date =>
      var pos, neg, na, nonEn, rts = 0
      val corrupt = ArrayBuffer.empty[String]
      val dir = new File(root, f"${date.getYear}%04d/${date.getMonthValue}%02d/${date.getDayOfMonth}%02d")
      dir.mkdirs()
      var serial = 0L
      for (f <- 0 until files) {
        val out = new BufferedWriter(new OutputStreamWriter(
          new GZIPOutputStream(new FileOutputStream(new File(dir, s"part-$f.jsonl.gz")), 1 << 16), UTF_8))
        try {
          for (_ <- 0 until lines) {
            serial += 1
            val id = date.toEpochDay * 10000000L + serial
            val r = rnd.nextDouble()
            if (r < 0.005) {
              val bad = rnd.nextInt(3) match {
                case 0 => s"""{"id": $id, "full_text": "fast slow ${Neutral(rnd.nextInt(Neutral.size))}"""
                case 1 => s"""{"id": $id, "full_text": "join big", "lang": }"""
                case _ => s"#### truncated record $id ####"
              }
              corrupt += bad
              out.write(bad)
            } else {
              val p = rnd.nextInt(4)
              val n = rnd.nextInt(4)
              val words = ArrayBuffer.empty[String]
              for (_ <- 0 until p) words += Positive(rnd.nextInt(Positive.size))
              for (_ <- 0 until n) words += Negative(rnd.nextInt(Negative.size))
              for (_ <- 0 until 4 + rnd.nextInt(10)) words += Neutral(rnd.nextInt(Neutral.size))
              shuffle(words, rnd)
              var lang = "en"
              var text = words.mkString(" ")
              if (r < 0.085) { lang = OtherLangs(rnd.nextInt(OtherLangs.size)); nonEn += 1 }
              else if (r < 0.135) { text = s"RT @user${rnd.nextInt(5000)} $text"; rts += 1 }
              else if (p > n) pos += 1
              else if (n > p) neg += 1
              else na += 1
              out.write(s"""{"id": $id, "created_at": "$date", "full_text": "$text", "lang": "$lang", "retweet_count": ${rnd.nextInt(50)}}""")
            }
            out.write('\n')
          }
        } finally out.close()
      }
      DayExpect(date.toString, pos, neg, na, nonEn, rts, corrupt.toVector)
    }.toVector
  }

  // ----------------------------------------------------------------- index

  /** Unit vectors drawn around random centres (IVF cells have structure
    * to find; unit norm makes inner product and cosine rank alike),
    * rounded to 4 decimals so every reader sees the same floats.
    */
  def vectors(rnd: java.util.SplittableRandom, centres: Array[Array[Float]],
      n: Int): Array[Array[Float]] =
    Array.fill(n) {
      val c = centres(rnd.nextInt(centres.length))
      val v = c.map(x => x + 0.35 * gauss(rnd))
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (math.round(x / norm * 10000) / 10000.0).toFloat)
    }

  def centres(rnd: java.util.SplittableRandom, k: Int, dim: Int): Array[Array[Float]] =
    Array.fill(k)(Array.fill(dim)(gauss(rnd).toFloat))

  private def vocabWord(rnd: java.util.SplittableRandom, size: Int): String = {
    // roughly Zipfian: squaring a uniform draw favours low ranks
    val u = rnd.nextDouble()
    s"w${(u * u * size).toInt}"
  }

  /** BM25 documents: 15–40 words over a Zipf-like 3000-word vocabulary. */
  def bm25Docs(rnd: java.util.SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(ArrayBuffer.fill(15 + rnd.nextInt(26))(vocabWord(rnd, 3000)).mkString(" "))

  /** Query terms drawn from ranks 5..400: present in many but not all docs. */
  def bm25Query(rnd: java.util.SplittableRandom): Vector[String] =
    Vector.fill(1 + rnd.nextInt(3))(s"w${5 + rnd.nextInt(395)}").distinct

  private def gauss(rnd: java.util.SplittableRandom): Double = {
    // Box–Muller on the splittable stream (java.util.Random is not used so
    // one generator drives every draw)
    val u1 = math.max(rnd.nextDouble(), 1e-12)
    val u2 = rnd.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  private def shuffle[A](b: ArrayBuffer[A], rnd: java.util.SplittableRandom): Unit =
    for (i <- b.size - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = b(i); b(i) = b(j); b(j) = t
    }
}
