package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.util.SplittableRandom

import graft.corpus.Pages
import org.apache.spark.sql.{Dataset, SparkSession}

/** One generated row, exactly the engine's `input_hint` schema. */
final case class Page(doc_id: Long, url: String, warc_ts: Timestamp, html: Array[Byte],
    text: String, lang: String)

/** Seeded Common-Crawl-style corpus. Every page is a pure function of
  * (seed, doc_id), so any docId range can be generated on its own, in any
  * partitioning, and always yields the same rows.
  *
  * Properties the engine's layers are sensitive to:
  *  - a vocabulary of `vocabSize` pronounceable pseudo-words built from a
  *    small syllable inventory, so terms share prefixes and have edit-1
  *    neighbours (wildcard and fuzzy expansion do real work); shorter words
  *    take the frequent ranks, as in natural text;
  *  - terms drawn Zipf(1.0)-skewed over that vocabulary; the 1,000 most
  *    frequent words are shared by all five languages, the rest of the rank
  *    order is rotated per language;
  *  - log-normal document lengths (median `medianLen` tokens, sigma 0.7);
  *  - hosts drawn Zipf(1.1)-skewed from `nHosts`, so `url:` filters and host
  *    facets select subsets of very different sizes;
  *  - an exact, known number of stale duplicate urls (an older copy of a
  *    page with other text, which cleaning drops) and of corrupt rows (null
  *    text, which cleaning skips and the manifest counts).
  */
final class Corpus(val seed: Long, val medianLen: Int, val vocabSize: Int = 200000,
    val nHosts: Int = 2000) extends Serializable {
  import Corpus._

  /** The vocabulary in frequency-rank order (rank 0 is the most frequent). */
  val words: Array[String] = {
    val rnd = new SplittableRandom(mix(seed, 0x766f6361L))
    val seen = new java.util.LinkedHashSet[String]()
    while (seen.size < vocabSize) seen.add(word(rnd))
    seen.toArray(new Array[String](0)).sortBy(_.length) // stable: ties keep draw order
  }

  val hosts: Array[String] = {
    val rnd = new SplittableRandom(mix(seed, 0x686f7374L))
    val seen = new java.util.LinkedHashSet[String]()
    while (seen.size < nHosts)
      seen.add(s"www.${word(rnd)}${word(rnd)}.${Tlds(rnd.nextInt(Tlds.length))}")
    seen.toArray(new Array[String](0))
  }

  @transient private lazy val termCdf: Array[Double] = zipfCdf(vocabSize, 1.0)
  @transient private lazy val hostCdf: Array[Double] = zipfCdf(nHosts, 1.1)

  /** The word a language uses at frequency rank `rank`. */
  def wordAt(rank: Int, lang: Int): String =
    if (rank < SharedHead) words(rank)
    else {
      val tail = vocabSize - SharedHead
      words(SharedHead + (rank - SharedHead + lang * (tail / Langs.length)) % tail)
    }

  def isStale(d: Long): Boolean = java.lang.Math.floorMod(mix(seed ^ 0x7374616cL, d), 97L) == 0L
  def isCorrupt(d: Long): Boolean = java.lang.Math.floorMod(mix(seed ^ 0x636f7272L, d), 211L) == 0L

  /** The live text tokens of page `d` (what the engine's word tokenizer
    * yields for its text). */
  def tokens(d: Long): Array[String] = content(new SplittableRandom(mix(seed, d)))._3

  /** UTF-8 bytes of the live text of pages [lo, hi). */
  def textBytes(lo: Long, hi: Long): Long =
    (lo until hi).iterator.map(d => render(tokens(d)).getBytes(UTF_8).length.toLong).sum

  /** Every raw row generated for docId `d`: the page, plus an older stale
    * copy and a corrupt row when the rules pick `d`. */
  def rows(d: Long): Iterator[Page] = {
    val rnd = new SplittableRandom(mix(seed, d))
    val (lang, host, toks) = content(rnd)
    val url = s"https://${hosts(host)}/${words(rnd.nextInt(2000))}/$d"
    val ts = new Timestamp((Pages.EpochSeconds + d * 3 + rnd.nextInt(3)) * 1000L)
    val text = render(toks)
    val page = Page(d, url, ts, html(toks, text), text, Langs(lang))
    val extra = Iterator.empty[Page] ++
      (if (isStale(d)) {
        val old = render(Array("stale") ++ toks.reverse)
        Iterator.single(Page(d, url, new Timestamp(ts.getTime - 5000000L),
          html(toks, old), old, Langs(lang)))
      } else Iterator.empty) ++
      (if (isCorrupt(d)) Iterator.single(Page(d, url + "#c", ts, Array[Byte](0x3c, 0x68), null, Langs(lang)))
      else Iterator.empty)
    Iterator.single(page) ++ extra
  }

  /** (language index, host index, tokens) — the first draws of a page. */
  private def content(rnd: SplittableRandom): (Int, Int, Array[String]) = {
    val lang = pick(LangCdf, rnd.nextDouble())
    val host = pick(hostCdf, rnd.nextDouble())
    val g = nextGaussian(rnd)
    val len = math.max(4, math.min(1500, math.round(math.exp(math.log(medianLen.toDouble) + 0.7 * g)).toInt))
    val toks = new Array[String](len)
    var i = 0
    while (i < len) { toks(i) = wordAt(pick(termCdf, rnd.nextDouble()), lang); i += 1 }
    (lang, host, toks)
  }

  /** Doc ids in [lo, hi) as pages, `parts` partitions. */
  def pages(spark: SparkSession, lo: Long, hi: Long, parts: Int): Dataset[Page] = {
    import spark.implicits._
    val b = spark.sparkContext.broadcast(this)
    spark.range(lo, hi, 1, parts).as[Long].mapPartitions(it => it.flatMap(b.value.rows))
  }

  /** Exact counts the cleaning stage must reproduce for docIds in [lo, hi):
    * (live pages, stale duplicate rows, corrupt rows). */
  def expected(lo: Long, hi: Long): (Long, Long, Long) = {
    var stale = 0L
    var corrupt = 0L
    var d = lo
    while (d < hi) {
      if (isStale(d)) stale += 1
      if (isCorrupt(d)) corrupt += 1
      d += 1
    }
    (hi - lo, stale, corrupt)
  }
}

object Corpus {
  val Langs: Array[String] = Array("en", "de", "fr", "es", "it")
  private val LangCdf: Array[Double] = cumulative(Array(0.45, 0.2, 0.15, 0.12, 0.08))
  private val SharedHead = 1000
  private val Tlds = Array("com", "org", "net", "de", "fr")
  private val Onsets = Array("", "b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s",
    "t", "v", "z", "br", "ch", "st", "tr", "pl")
  private val Nuclei = Array("a", "e", "i", "o", "u", "ai", "ou", "ea")
  private val Codas = Array("", "", "", "n", "r", "s", "l", "t")
  private val SyllableCdf = cumulative(Array(0.1, 0.45, 0.35, 0.1))

  /** Content digest of the raw rows of docIds [lo, hi), computed on the
    * driver: the generator's self-check. */
  def digest(c: Corpus, lo: Long, hi: Long): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (lo until hi).foreach(d => c.rows(d).foreach { p =>
      md.update(s"${p.doc_id}|${p.url}|${p.warc_ts.getTime}|${p.text}|${p.lang}|".getBytes(UTF_8))
      md.update(p.html)
    })
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  /** splitmix64 finalizer over (a, b): the per-page and per-rule seeds. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def word(rnd: SplittableRandom): String = {
    val n = 1 + pick(SyllableCdf, rnd.nextDouble())
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      sb ++= Onsets(rnd.nextInt(Onsets.length)) ++= Nuclei(rnd.nextInt(Nuclei.length)) ++=
        Codas(rnd.nextInt(Codas.length))
      i += 1
    }
    sb.result()
  }

  private def cumulative(w: Array[Double]): Array[Double] = {
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  private def zipfCdf(n: Int, s: Double): Array[Double] =
    cumulative(Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s)))

  /** Index of the first cumulative weight above `u`. */
  private def pick(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (i >= 0) i + 1 else -i - 1)
  }

  private def nextGaussian(rnd: SplittableRandom): Double = {
    val u1 = math.max(rnd.nextDouble(), 1e-12)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * rnd.nextDouble())
  }

  /** Sentences of 8-15 words: capitalised, full stop, occasional comma. */
  private def render(toks: Array[String]): String = {
    val sb = new StringBuilder
    var i = 0
    var inSentence = 0
    while (i < toks.length) {
      val w = toks(i)
      if (inSentence == 0) sb ++= w.capitalize else sb ++= w
      inSentence += 1
      val end = inSentence >= 8 + (w.length % 8) || i == toks.length - 1
      if (end) { sb += '.'; inSentence = 0 } else if (w.length == 7) sb += ','
      if (i < toks.length - 1) sb += ' '
      i += 1
    }
    sb.result()
  }

  private def html(toks: Array[String], text: String): Array[Byte] =
    s"<html><head><title>${toks.take(6).mkString(" ")}</title></head><body><p>$text</p></body></html>"
      .getBytes(UTF_8)
}
