package perfbench

import scala.util.Random

final case class Doc(doc_id: Long, text: String)

/** A generated document corpus with its planted ground truth: the ids of
  * the exact and near duplicates, each planted with a larger id than the
  * document it copies, so keep-first dedup must remove exactly these. */
final case class Corpus(docs: Seq[Doc], exactDups: Set[Long], nearDups: Set[Long])

/** Seeded input generator. Everything a workload feeds the pipeline comes
  * from here, and the same seed always gives the same rows. */
object Gen {
  private val consonants = "bcdfghjklmnprstvz"
  private val vowels = "aeiou"

  /** `n` distinct pseudo-words of two to four consonant-vowel syllables. */
  def vocabulary(rng: Random, n: Int): Vector[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val syllables = 2 + rng.nextInt(3)
      seen += (0 until syllables).map { _ =>
        s"${consonants(rng.nextInt(consonants.length))}${vowels(rng.nextInt(vowels.length))}"
      }.mkString
    }
    seen.toVector
  }

  /** Renders words as sentences of 8 to 16 words, each capitalised and
    * closed by a period. Some documents are wrapped in a paragraph tag or
    * carry a URL, so the refiners have real work. */
  private def render(words: Vector[String], style: Long): String = {
    val rng = new Random(style)
    val sb = new StringBuilder
    var i = 0
    while (i < words.length) {
      val end = math.min(words.length, i + 8 + rng.nextInt(9))
      val sentence = words.slice(i, end)
      if (sb.nonEmpty) sb.append(' ')
      sb.append(sentence.head.capitalize)
      sentence.tail.foreach(w => sb.append(' ').append(w))
      sb.append('.')
      i = end
    }
    if (rng.nextInt(10) == 0) sb.append(s" see https://site${rng.nextInt(50)}.example/p${rng.nextInt(1000)}")
    if (rng.nextInt(7) == 0) s"<p>$sb</p>" else sb.toString
  }

  /** A formatting variant that the html, space and lowercase refiners
    * map back onto `text` exactly: extra tags, doubled spaces, and some
    * plain words upper-cased. */
  private def reformat(text: String, rng: Random): String = {
    val toks = text.split(" ").map { t =>
      val plain = t.nonEmpty && t.forall(c => c.isLetter || c == '.') && t.exists(_.isLetter)
      if (plain && rng.nextInt(12) == 0) t.toUpperCase else t
    }
    val sb = new StringBuilder("<div>")
    toks.zipWithIndex.foreach { case (t, i) =>
      if (i > 0) sb.append(if (rng.nextInt(10) == 0) "   " else " ")
      sb.append(t)
    }
    sb.append("</div>").toString
  }

  /** `n` documents of `minWords` to `maxWords` words over 16 topics (60% of
    * each document's words come from its topic's vocabulary, so embeddings
    * cluster). Of the rows, 5% are exact duplicates, 10% near duplicates
    * (half two-word substitutions, half formatting variants), 1% null or
    * empty, and 2% too short for the word-count filter. */
  def corpus(seed: Long, n: Int, minWords: Int, maxWords: Int): Corpus = {
    val rng = new Random(seed)
    val vocab = vocabulary(rng, 4000)
    val topics = Vector.fill(16)(Vector.fill(150)(vocab(rng.nextInt(vocab.size))))
    val nExact = n * 5 / 100
    val nNear = n * 10 / 100
    val nEmpty = math.max(2, n / 100)
    val nShort = n * 2 / 100
    val nBase = n - nExact - nNear - nEmpty - nShort

    final case class Base(words: Vector[String], style: Long, text: String)
    val bases = Vector.fill(nBase) {
      val topic = topics(rng.nextInt(topics.size))
      val len = minWords + rng.nextInt(maxWords - minWords + 1)
      val words = Vector.fill(len)(
        if (rng.nextInt(10) < 6) topic(rng.nextInt(topic.size)) else vocab(rng.nextInt(vocab.size)))
      val style = rng.nextLong()
      Base(words, style, render(words, style))
    }
    val docs = Vector.newBuilder[Doc]
    bases.zipWithIndex.foreach { case (b, i) => docs += Doc(i.toLong, b.text) }
    var next = nBase.toLong
    val exact = (0 until nExact).map { _ =>
      docs += Doc(next, bases(rng.nextInt(nBase)).text); next += 1; next - 1
    }.toSet
    val near = (0 until nNear).map { j =>
      val b = bases(rng.nextInt(nBase))
      val text =
        if (j % 2 == 0) {
          // two substitutions at least three words apart change at most
          // six of the ~150+ word 3-gram shingles: Jaccard stays above 0.9
          val p = rng.nextInt(b.words.length / 2)
          val q = b.words.length / 2 + 3 + rng.nextInt(b.words.length / 2 - 3)
          render(b.words.updated(p, vocab(rng.nextInt(vocab.size)))
            .updated(q, vocab(rng.nextInt(vocab.size))), b.style)
        } else reformat(b.text, rng)
      docs += Doc(next, text); next += 1; next - 1
    }.toSet
    (0 until nEmpty).foreach { j => docs += Doc(next, if (j % 2 == 0) null else ""); next += 1 }
    (0 until nShort).foreach { _ =>
      docs += Doc(next, render(Vector.fill(3 + rng.nextInt(10))(vocab(rng.nextInt(vocab.size))),
        rng.nextLong()))
      next += 1
    }
    Corpus(rng.shuffle(docs.result()), exact, near)
  }
}
