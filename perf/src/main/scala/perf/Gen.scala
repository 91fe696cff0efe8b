package perf

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded input generator. Everything a workload feeds the engine comes
  * from here, and the same seed always yields the same inputs.
  *
  * Text model: a global vocabulary of [[VocabSize]] pseudo-words drawn
  * Zipf(1.1), plus [[Topics]] topics that each own a slice of
  * [[TopicWords]] words drawn Zipf(1.0). A document mixes topic and global
  * words and carries one document-unique token, so no two generated
  * documents share a text unless a duplicate is planted on purpose.
  */
final class Gen(seed: Long) {
  import Gen._

  private val rnd = new SplittableRandom(seed)
  private var serial = 0L

  // the seed decides which pseudo-word holds which Zipf rank, and which
  // slice of the vocabulary each topic owns
  private val globalWords: Array[String] = shuffled(VocabSize).map(word)
  private val topicWords: Array[Array[String]] = Array.tabulate(Topics) { _ =>
    Array.fill(TopicWords)(word(VocabSize + rnd.nextInt(VocabSize * 4)))
  }

  private def shuffled(n: Int): Array[Int] = {
    val a = Array.range(0, n)
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  def uniform(n: Int): Int = rnd.nextInt(n)
  def fork(): Gen = new Gen(rnd.nextLong())

  /** One document-like text of `len` tokens from topic `topic`. */
  def text(topic: Int, len: Int): String = {
    val sb = new StringBuilder
    serial += 1
    sb.append("u").append(java.lang.Long.toString(seed & 0xffffffL, 36))
      .append("x").append(java.lang.Long.toString(serial, 36))
    var i = 0
    while (i < len) {
      sb.append(' ')
      if (rnd.nextDouble() < TopicShare)
        sb.append(topicWords(topic)(TopicZipf.draw(rnd)))
      else sb.append(globalWords(GlobalZipf.draw(rnd)))
      i += 1
    }
    sb.toString
  }

  def docText(topic: Int): String = text(topic, DocMin + rnd.nextInt(DocSpan))
  def queryText(topic: Int): String = text(topic, QueryMin + rnd.nextInt(QuerySpan))

  /** `n` distinct documents. */
  def docs(n: Int): Array[String] = Array.fill(n)(docText(rnd.nextInt(Topics)))

  /** The curation corpus: `n` rows of (doc_id, text). The last
    * `exactShare`·n rows are exact copies of earlier rows and the
    * `nearShare`·n before them are one-token edits of earlier rows, so
    * every planted copy has a larger doc_id than its source (the
    * dedup operators keep the smaller id of a pair). Rows are shuffled;
    * ids are not. */
  def corpus(n: Int, exactShare: Double = ExactDupShare,
             nearShare: Double = NearDupShare): Corpus = {
    val nExact = math.round(n * exactShare).toInt
    val nNear = math.round(n * nearShare).toInt
    val nBase = n - nExact - nNear
    val texts = new Array[String](n)
    var i = 0
    while (i < nBase) { texts(i) = docText(rnd.nextInt(Topics)); i += 1 }
    while (i < nBase + nNear) {
      texts(i) = oneTokenEdit(texts(rnd.nextInt(nBase)))
      i += 1
    }
    val exactOf = ArrayBuffer[(Long, Long)]()
    while (i < n) {
      val src = rnd.nextInt(nBase + nNear)
      texts(i) = texts(src)
      exactOf += (i.toLong -> src.toLong)
      i += 1
    }
    val order = shuffled(n)
    Corpus(order.map(j => (j.toLong, texts(j))), exactOf.toMap)
  }

  /** Replace one non-unique token of `t` with a different vocabulary word. */
  private def oneTokenEdit(t: String): String = {
    val toks = t.split(' ')
    val at = 1 + rnd.nextInt(toks.length - 1)
    var w = globalWords(rnd.nextInt(VocabSize))
    while (w == toks(at)) w = globalWords(rnd.nextInt(VocabSize))
    toks(at) = w
    toks.mkString(" ")
  }

  /** A Zipf(s) schedule of `n` draws over `[0, pool)`. */
  def zipfSchedule(n: Int, pool: Int, s: Double): Array[Int] = {
    val z = new Zipf(pool, s)
    Array.fill(n)(z.draw(rnd))
  }
}

object Gen {
  val VocabSize = 20000
  val Topics = 64
  val TopicWords = 300
  val TopicShare = 0.65
  val DocMin = 24
  val DocSpan = 32
  val QueryMin = 8
  val QuerySpan = 9
  val ExactDupShare = 0.02
  val NearDupShare = 0.05

  private val GlobalZipf = new Zipf(VocabSize, 1.1)
  private val TopicZipf = new Zipf(TopicWords, 1.0)

  private val Syl = Array("ka", "lo", "mi", "ne", "ru", "ta", "vo", "si",
    "pe", "da", "go", "fu", "ri", "ba", "ze", "hu")

  /** Deterministic pseudo-word for an index: base-16 syllables. */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i
    do { sb.append(Syl(x & 15)); x >>>= 4 } while (x > 0)
    sb.toString
  }

  final case class Corpus(rows: Array[(Long, String)], exactOf: Map[Long, Long])
}

/** Inverse-CDF Zipf sampler over ranks `[0, n)`. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def draw(rnd: SplittableRandom): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}
