package graftbench

import java.sql.Timestamp
import java.util.SplittableRandom

import graft.model.Pageview

/** Seeded input generators. The program under test only ever sees what
  * these return (event sequences, documents); the same seed always gives
  * the same inputs. */
object Gen {

  /** Inverse-CDF sampler over ranks 0..n-1 with P(rank r) ∝ 1/(r+1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def sample(rnd: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  def utc(s: String): Long = java.time.Instant.parse(s).toEpochMilli

  val HourMs: Long = 3600L * 1000
  val DayMs: Long = 24 * HourMs

  /** Url chooser of a pageview stream: uniform or Zipf-ranked over `n`. */
  final class Urls(n: Int, zipf: Boolean, rnd: SplittableRandom) {
    private val z = if (zipf) new Zipf(n, 1.1) else null
    private val names = Array.tabulate(n)(i => s"http://site.com/$i")
    def next(): String = names(if (zipf) z.sample(rnd) else rnd.nextInt(n))
  }

  /** `count` evenly spaced events of one input over [from, from + span). */
  def evenly(input: String, from: Long, span: Long, count: Int,
             urls: Urls): Array[Pageview] =
    Array.tabulate(count) { i =>
      val t = from + span * i / count
      Pageview(urls.next(), new Timestamp(t), s"$input-$t")
    }

  // ------------------------------------------------------------------
  // corpus

  final case class Doc(id: Long, text: String, lang: String)

  final case class Corpus(docs: Vector[Doc],
                          /** (original, near-copy) pairs planted on purpose */
                          plantedNear: Vector[(Long, Long)],
                          vocabulary: Array[String],
                          zipf: Zipf)

  val Langs: Array[String] = Array("en", "de", "fr", "es", "it")

  /** `n` distinct lowercase pseudo-words of 3..10 letters. */
  def vocabulary(n: Int, rnd: SplittableRandom): Array[String] = {
    val seen = new java.util.HashSet[String]()
    val out = Array.newBuilder[String]
    while (seen.size < n) {
      val len = 3 + rnd.nextInt(8)
      val w = new String(Array.fill(len)(('a' + rnd.nextInt(26)).toChar))
      if (seen.add(w)) out += w
    }
    out.result()
  }

  /** A corpus of `n` documents over a Zipf vocabulary (10..100 words each,
    * five languages), with ~8% of the documents planted as near-copies of
    * an earlier document (one or two words substituted) and ~3% as exact
    * copies. Copies keep the original's
    * language, the block the dedup operators compare within. */
  def corpus(n: Int, vocabSize: Int, seed: Long): Corpus = {
    val nearShare = 0.08
    val exactShare = 0.03
    val rnd = new SplittableRandom(seed)
    val vocab = vocabulary(vocabSize, rnd)
    val z = new Zipf(vocabSize, 1.05)
    def words(k: Int): Array[String] = Array.fill(k)(vocab(z.sample(rnd)))
    val docs = Vector.newBuilder[Doc]
    val near = Vector.newBuilder[(Long, Long)]
    val texts = new Array[Array[String]](n)
    val langs = new Array[String](n)
    for (i <- 0 until n) {
      val id = i + 1L
      val u = rnd.nextDouble()
      if (i > 10 && u < exactShare) {
        val j = rnd.nextInt(i)
        texts(i) = texts(j); langs(i) = langs(j)
      } else if (i > 10 && u < exactShare + nearShare) {
        val j = rnd.nextInt(i)
        val w = texts(j).clone()
        for (_ <- 0 until 1 + rnd.nextInt(2)) w(rnd.nextInt(w.length)) = vocab(z.sample(rnd))
        texts(i) = w; langs(i) = langs(j); near += ((j + 1L, id))
      } else {
        texts(i) = words(10 + rnd.nextInt(91)); langs(i) = Langs(rnd.nextInt(Langs.length))
      }
      docs += Doc(id, texts(i).mkString(" "), langs(i))
    }
    Corpus(docs.result(), near.result(), vocab, z)
  }

  /** Replacement text for a rewritten document: fresh Zipf words. */
  def rewrite(c: Corpus, rnd: SplittableRandom): String =
    Array.fill(10 + rnd.nextInt(91))(c.vocabulary(c.zipf.sample(rnd))).mkString(" ")
}
