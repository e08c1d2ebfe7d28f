package perfbench

import scala.util.Random

/** Seeded inputs for the three workloads. The same seed gives the same
  * inputs; a round's inputs depend only on (seed, round), so a run of
  * any length is reproducible. Sizes do not depend on the seed, only
  * the values do. */
object Inputs {
  private def rng(seed: Long, salt: Long): Random =
    new Random(seed * 0x9E3779B97F4A7C15L ^ salt * 0xC2B2AE3D27D4EB4FL)

  // ---------------------------------------------------------------- sweeps

  /** A grid axis: name and its values in insertion order. */
  final case class AxisVals(name: String, values: Vector[Any])

  /** The sweep's two halves. The bulk half evaluates a bulk grid through
    * Crop. The campaign half harvests a small grid at set-up; its round
    * `k` widens axis `k % 4` by one seeded value, so grid sizes (and the
    * share of each round's points already stored) follow the same
    * schedule for every seed. Both evaluate the same function. */
  object Sweep {
    val casesPerRound = 12
    val samplesPerRound = 16
    val batches = 8
    private val pools: Map[String, Vector[Any]] = Map(
      "a" -> (0L until 4000L).toVector, "b" -> (0L until 4000L).toVector,
      "c" -> (1 until 400).toVector.map(_ * 0.05), "d" -> words.toVector)

    private def draw(seed: Long, salt: Long, sizes: Seq[(String, Int)]): Vector[AxisVals] = {
      val r = rng(seed, salt)
      sizes.map { case (n, k) =>
        val vs = r.shuffle(pools(n)).take(k)
        AxisVals(n, if (n == "d") vs else vs.sortBy(_.toString.toDouble))
      }.toVector
    }

    /** The bulk grid: large enough that evaluation keeps the executors busy. */
    def bulkAxes(seed: Long): Vector[AxisVals] =
      draw(seed, 1000L, Seq("a" -> 40, "b" -> 60, "c" -> 6, "d" -> 4))

    /** The campaign's starting grid. */
    def campaignAxes(seed: Long): Vector[AxisVals] =
      draw(seed, 1500L, Seq("a" -> 12, "b" -> 10, "c" -> 4, "d" -> 3))

    def points(axes: Seq[AxisVals]): Long = axes.map(_.values.size.toLong).product

    /** Round `k` widens axis `k % 4` by one value not yet on it. */
    def widen(seed: Long, k: Int, axes: Vector[AxisVals]): Vector[AxisVals] = {
      val r = rng(seed, 2000L + k)
      val i = k % axes.size
      val ax = axes(i)
      val pool = pools(ax.name).filterNot(ax.values.contains)
      axes.updated(i, ax.copy(values = ax.values :+ pool(r.nextInt(pool.size))))
    }

    /** Seeded cases: half are points already on the grid (their values
      * equal the stored ones), half lie off the grid. */
    def cases(seed: Long, k: Int, axes: Vector[AxisVals]): Vector[Vector[Any]] = {
      val r = rng(seed, 3000L + k)
      val on = Vector.fill(casesPerRound / 2)(axes.map(a => a.values(r.nextInt(a.values.size))))
      val off = Vector.fill(casesPerRound / 2)(Vector[Any](
        4000L + r.nextInt(1000), r.nextInt(4000).toLong, r.nextInt(400) * 0.05,
        words(r.nextInt(words.size))))
      (on ++ off).distinct
    }

    def sampleSeed(seed: Long, k: Int): Long = rng(seed, 4000L + k).nextLong()

    /** Per-mille failure rate of the black-box function (20-60). */
    def failPermille(seed: Long): Int = 20 + rng(seed, 6000L).nextInt(41)

    /** Whether the black box fails at (a, b): a seeded hash decides. */
    def fails(seed: Long, permille: Int)(a: Long, b: Long): Boolean = {
      var h = a * 0x9E3779B97F4A7C15L + b * 0xBF58476D1CE4E5B9L + seed
      h = (h ^ (h >>> 31)) * 0x94D049BB133111EBL
      h = h ^ (h >>> 29)
      java.lang.Math.floorMod(h, 1000L) < permille
    }

    /** Square-root steps per black-box evaluation: enough that
      * evaluating the bulk grid keeps every core busy. `sqrt` is
      * correctly rounded, so every evaluation gives the same bits. */
    val blackBoxSteps = 10000

    def blackBox(seed: Long, permille: Int)(a: Long, b: Long): Double =
      if (fails(seed, permille)(a, b))
        throw new ArithmeticException(s"seeded failure at ($a, $b)")
      else {
        var v = (a * b % 10007).toDouble + 1.0
        var i = 0
        while (i < blackBoxSteps) { v = math.sqrt(v + i); i += 1 }
        v
      }

    /** The codegen outputs, written independently of the engine. */
    def x(a: Long, b: Long, c: Double): Double = math.sin(a * 0.01) * c + b * 0.001
    def y(b: Long, c: Double): Double = math.cos(b * 0.02) + c * c
  }

  // ---------------------------------------------------------------- corpus

  /** One synthetic crawl document. */
  final case class Doc(doc_id: Long, text: String, lang: String, source: String)

  /** A delta and the ids it plants as duplicates. */
  final case class Delta(docs: Vector[Doc], exactDups: Set[Long], nearDups: Set[Long])

  /** The crawl corpus: a store of `storeDocs` documents with planted
    * store-internal duplicates, and one delta of `deltaDocs` documents
    * per round. A delta plants exact duplicates of store documents
    * (some behind a boilerplate line the cleaner strips), near
    * duplicates of store documents, exact duplicates of its own
    * earlier documents, and spam the cleaner's filter drops. The
    * planted-duplicate rate is seeded. */
  object Crawl {
    val storeDocs = 240
    val deltaDocs = 24
    val langs = Vector("en", "en", "en", "de", "es", "fr", "zh")
    val nav = "Home | Blog | Login"

    private def body(r: Random, quality: Boolean): String = {
      val n = 30 + r.nextInt(30)
      Iterator.fill(n) {
        val u = r.nextDouble()
        val i = (u * u * words.size).toInt
        // the quality sources lean on the first half of the vocabulary
        if (quality && r.nextInt(3) == 0) words(i / 2) else words(i)
      }.mkString(" ")
    }

    private def fresh(r: Random, id: Long): Doc = {
      val src = r.nextInt(12)
      Doc(id, body(r, src < 5), langs(r.nextInt(langs.size)), s"src$src")
    }

    /** Replace one word: word 3-shingle Jaccard stays above 0.8. */
    private def nearCopy(r: Random, d: Doc, id: Long): Doc = {
      val ws = d.text.split(" ")
      val i = r.nextInt(ws.length)
      ws(i) = words((words.indexOf(ws(i)) + 1 + r.nextInt(words.size - 1)) % words.size)
      d.copy(doc_id = id, text = ws.mkString(" "))
    }

    def store(seed: Long): Vector[Doc] = {
      val r = rng(seed, 7000L)
      val out = Vector.newBuilder[Doc]
      var id = 0L
      var made = Vector.empty[Doc]
      while (id < storeDocs) {
        val d =
          if (made.size > 20 && r.nextInt(20) == 0)
            made(r.nextInt(made.size)).copy(doc_id = id)
          else if (made.size > 20 && r.nextInt(20) == 0)
            nearCopy(r, made(r.nextInt(made.size)), id)
          else fresh(r, id)
        made :+= d; out += d; id += 1
      }
      out.result()
    }

    /** Planted-duplicate rate of this seed's deltas, in percent (30-50). */
    def dupPercent(seed: Long): Int = 30 + rng(seed, 7500L).nextInt(21)

    def delta(seed: Long, round: Int, store: Vector[Doc]): Delta = {
      val r = rng(seed, 8000L + round)
      val base = storeDocs.toLong + round.toLong * deltaDocs
      val pct = dupPercent(seed)
      var docs = Vector.empty[Doc]
      var exact = Set.empty[Long]
      var near = Set.empty[Long]
      for (j <- 0 until deltaDocs) {
        val id = base + j
        val roll = r.nextInt(100)
        val d =
          if (roll < pct / 2) {
            exact += id
            val o = store(r.nextInt(store.size))
            // half the exact copies carry a nav line the cleaner strips
            o.copy(doc_id = id,
              text = if (r.nextBoolean()) s"$nav\n${o.text}" else o.text)
          } else if (roll < pct * 3 / 4) {
            near += id
            nearCopy(r, store(r.nextInt(store.size)), id)
          } else if (roll < pct && docs.nonEmpty) {
            exact += id
            docs(r.nextInt(docs.size)).copy(doc_id = id)
          } else if (roll >= 97)
            fresh(r, id).copy(text = "lorem ipsum dolor sit amet " + body(r, false))
          else fresh(r, id)
        docs :+= d
      }
      Delta(docs, exact, near)
    }
  }

  /** A fixed vocabulary; only the draws from it are seeded. */
  val words: IndexedSeq[String] = {
    val on = Vector("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v")
    val nu = Vector("a", "e", "i", "o", "u")
    for (x <- on; y <- nu; z <- Vector("", "n", "r", "s")) yield x + y + z
  }.take(240)
}
