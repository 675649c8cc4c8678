package graftbench

import java.util.SplittableRandom

/** Seeded input generators. Every input the library sees is made here
  * from the run's seed; the same seed gives the same rows. */
object Gen {

  val Spaces: Vector[String] = Vector("click", "error", "purchase", "signup",
    "view")

  /** One raw event in the shape of the `events` table. */
  final case class Event(eventId: Long, tsUs: Long, userId: Long,
      eventType: String, cents: Long, props: String) {
    def value: Double = cents / 100.0
  }

  /** 2024-01-01T00:00:00Z in epoch microseconds. */
  val T0Us: Long = 1704067200000000L
  val SpanUs: Long = 30L * 86400L * 1000000L

  /** `n` events over `users` users, uniform over 30 days, event ids in
    * time order (ties on the microsecond are ordered by event id). */
  def events(rng: SplittableRandom, n: Int, users: Int): Vector[Event] = {
    val ts = Array.fill(n)(T0Us + rng.nextLong(SpanUs))
    java.util.Arrays.sort(ts)
    Vector.tabulate(n) { i =>
      Event(i.toLong, ts(i), rng.nextInt(users).toLong,
        Spaces(rng.nextInt(Spaces.size)), centsOf(rng),
        s"""{"k": ${rng.nextInt(100)}}""")
    }
  }

  /** Money in cents, roughly exponential with a mean of 50.00. */
  def centsOf(rng: SplittableRandom): Long =
    math.min(60000L, (-math.log(1.0 - rng.nextDouble()) * 5000.0).toLong)

  // ── documents ──────────────────────────────────────────────────────

  /** Languages with their share of documents and the letters their words
    * are made of, so that character bigrams tell them apart. */
  val Langs: Vector[(String, Double, String)] = Vector(
    ("en", 0.41, "etaoinshrdlu"), ("zh", 0.15, "zhqxiangwu"),
    ("es", 0.15, "eaosrnidlc"), ("fr", 0.15, "esaitnrulo"),
    ("de", 0.14, "enischradt"))

  /** Shared function words; a few of them are the quality stop words. */
  val Common: Vector[String] = Vector("a", "the", "data", "key", "value")

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** One vocabulary per language, in the order of [[Langs]]. */
  def vocabs(rng: SplittableRandom): Vector[Vector[String]] =
    Langs.map { case (_, _, letters) => vocab(rng, letters, 120) }

  def vocab(rng: SplittableRandom, letters: String, size: Int): Vector[String] =
    Vector.fill(size) {
      val len = 3 + rng.nextInt(6)
      new String(Array.fill(len)(letters.charAt(rng.nextInt(letters.length))))
    }.distinct

  /** A corpus of `n` documents: each language draws sentences from its
    * own vocabulary; `exactShare` of the documents copy an earlier
    * document of the same language verbatim and `nearShare` copy one with
    * two words replaced. */
  def docs(rng: SplittableRandom, vocabs: Vector[Vector[String]], n: Int,
      firstId: Long = 0L, exactShare: Double = 0.05,
      nearShare: Double = 0.05): Vector[Doc] = {
    val out = Vector.newBuilder[Doc]
    val byLang = Array.fill(Langs.size)(
      scala.collection.mutable.ArrayBuffer[String]())
    (0 until n).foreach { i =>
      val r = rng.nextDouble()
      var acc = 0.0
      val li = Langs.indices.find { j => acc += Langs(j)._2; r < acc }
        .getOrElse(Langs.size - 1)
      val voc = vocabs(li)
      val dup = rng.nextDouble()
      val text =
        if (byLang(li).nonEmpty && dup < exactShare + nearShare) {
          val prev = byLang(li)
          val base = prev(rng.nextInt(prev.size))
          if (dup < exactShare) base
          else {
            val w = base.split(' ')
            (0 until 2).foreach(_ => w(rng.nextInt(w.length)) =
              voc(rng.nextInt(voc.size)))
            w.mkString(" ")
          }
        } else {
          val len = 12 + rng.nextInt(70)
          Vector.fill(len) {
            if (rng.nextInt(8) == 0) Common(rng.nextInt(Common.size))
            else voc(rng.nextInt(voc.size))
          }.mkString(" ")
        }
      byLang(li) += text
      out += Doc(firstId + i, text, Langs(li)._1, s"src${i % 20}")
    }
    out.result()
  }

  // ── embeddings ─────────────────────────────────────────────────────

  final case class Vec(id: Long, v: Array[Float], label: Int)

  def centres(rng: SplittableRandom, clusters: Int,
      dim: Int): Vector[Array[Double]] =
    Vector.fill(clusters)(Array.fill(dim)(gauss(rng)))

  /** `n` vectors around the given centres. */
  def vectors(rng: SplittableRandom, centres: Vector[Array[Double]], n: Int,
      firstId: Long = 0L): Vector[Vec] = {
    val dim = centres.head.length
    Vector.tabulate(n) { i =>
      val c = rng.nextInt(centres.size)
      Vec(firstId + i, Array.tabulate(dim)(d =>
        (centres(c)(d) + 0.6 * gauss(rng)).toFloat), c)
    }
  }

  def gauss(rng: SplittableRandom): Double = {
    val u = 1.0 - rng.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * rng.nextDouble())
  }
}
