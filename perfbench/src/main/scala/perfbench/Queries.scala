package perfbench

import java.util.SplittableRandom

import graft.query.QuerySpec

/** Seeded query sets drawn from the generator's vocabulary. The engine sees
  * only the resulting term lists and query strings.
  *
  * Terms come half from the head (the 200 most frequent words: long posting
  * lists, where block-max pruning pays) and half from the tail (ranks
  * 3,000-63,000: a few postings each, where it cannot). */
final class Queries(c: Corpus, nDocs: Long, seed: Long) {
  private val rnd = new SplittableRandom(Corpus.mix(seed, 0x71756572L))
  private val sorted = c.words.sorted
  private val vocab = c.words.toSet
  private val Alphabet = "abcdefghiklmnoprstuvz"

  private def head(): String = c.words(rnd.nextInt(200))
  private def tail(): String = c.words(3000 + rnd.nextInt(60000))
  private def term(): String = if (rnd.nextBoolean()) head() else tail()
  /** A draw that is none of `taken` (the parser rejects a term that is both
    * excluded and positive). */
  private def other(draw: => String, taken: String*): String =
    Iterator.continually(draw).find(w => !taken.contains(w)).get

  /** `n` ranked queries of 1-4 distinct terms, ids 1..n. */
  def wandBatch(n: Int): Seq[QuerySpec] =
    (1 to n).map(i => QuerySpec(i, Seq.fill(1 + rnd.nextInt(4))(term()).distinct))

  /** `n` search-box requests, ids 1..n, cycling through the DSL shapes:
    * plain OR, `+`/`-`, a phrase taken from a page, a `url:` host filter
    * (three distinct hosts, so three filter signatures), a `pre*` wildcard,
    * a `term~1` fuzzy clause and `msm:`. */
  def serpBatch(n: Int): Seq[(Int, String)] = (1 to n).map { i =>
    i -> (i % 7 match {
      case 0 => s"${term()} ${term()} ${term()}"
      case 1 =>
        val (must, should) = (head(), term())
        s"+$must $should -${other(head(), must, should)}"
      case 2 =>
        val toks = c.tokens(rnd.nextLong(nDocs))
        val p = rnd.nextInt(toks.length - 1)
        s"\"${toks(p)} ${toks(p + 1)}\" ${term()}"
      case 3 => s"url:${c.hosts(Seq(0, 3, 10)(i / 7 % 3))} ${head()} ${term()}"
      case 4 => s"${prefix()}* ${term()}"
      case 5 => s"${fuzzy()}~1 ${head()}"
      case _ => s"msm:2 ${head()} ${term()} ${term()}"
    })
  }

  /** The shortest prefix (>= 3 letters) of a mid-frequency word that at most
    * 64 vocabulary words share — the engine's expansion cap. */
  private def prefix(): String = {
    var out: String = null
    while (out == null) {
      val w = c.words(50 + rnd.nextInt(5000))
      out = (3 to w.length).map(w.take).find(p => sharing(p) <= 64).orNull
    }
    out
  }

  private def sharing(p: String): Int = {
    val lo = java.util.Arrays.binarySearch(sorted.asInstanceOf[Array[AnyRef]], p)
    val from = if (lo >= 0) lo else -lo - 1
    var i = from
    while (i < sorted.length && sorted(i).startsWith(p)) i += 1
    i - from
  }

  /** A one-letter typo of a word, whose edit-distance-1 neighbourhood in the
    * vocabulary holds between 1 and 64 words. */
  private def fuzzy(): String = {
    var out: String = null
    while (out == null) {
      val w = c.words(20 + rnd.nextInt(20000))
      val p = rnd.nextInt(w.length)
      val typo = w.updated(p, Alphabet(rnd.nextInt(Alphabet.length)))
      val n = neighbours(typo)
      if (n >= 1 && n <= 64) out = typo
    }
    out
  }

  private def neighbours(w: String): Int = {
    val cands = scala.collection.mutable.HashSet(w)
    for (i <- 0 to w.length) {
      if (i < w.length) cands += w.patch(i, "", 1)
      Alphabet.foreach { ch =>
        cands += w.patch(i, ch.toString, 0)
        if (i < w.length) cands += w.updated(i, ch)
      }
    }
    cands.count(vocab.contains)
  }

  /** `n` distinct docIds in [0, maxDocId], to tombstone. */
  def deletions(n: Int, maxDocId: Long): Seq[Long] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (out.size < n) out += rnd.nextLong(maxDocId + 1)
    out.toSeq
  }
}
