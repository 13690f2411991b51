package graftbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded Sentiment140-format corpus: one `id,label,Sentiment140,text` line
  * per tweet, labels 0/1, no header and no quoting, as in the reference's
  * subset files.
  *
  * Words come from a shared Zipf-distributed vocabulary plus two small
  * label-correlated sentiment vocabularies, so a bag-of-words model learns
  * something but not everything. The text also carries what the NB-dialect
  * cleaner strips — URLs, `@mentions`, `#tags`, digits, `&lt;`-style
  * entities and punctuation — and commas inside the text, which the naive
  * split drops when it stitches the columns back together. Output is a pure
  * function of (seed, rows).
  */
object TweetCorpus {
  private val VocabSize = 20000
  private val ZipfExponent = 1.07
  private val SentimentWords = 300
  /** Probability that a word is drawn from the tweet's own label vocabulary
    * and, separately, from the opposite one (sarcasm / noise). */
  private val OwnSentiment = 0.30
  private val OtherSentiment = 0.06

  private val Syllables = Array(
    "ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pe", "da", "gu", "ri",
    "zo", "fa", "be", "no", "yu", "wa", "ha", "ti", "so", "me", "ku", "ji")

  /** Deterministic pseudo-word for index `i` of a namespace. */
  private def word(prefix: String, i: Int): String = {
    val sb = new StringBuilder(prefix)
    var n = i
    do { sb.append(Syllables(n % Syllables.length)); n /= Syllables.length } while (n > 0)
    sb.toString
  }

  private val neutral = Array.tabulate(VocabSize)(i => word("", i))
  private val positive = Array.tabulate(SentimentWords)(i => word("jo", i))
  private val negative = Array.tabulate(SentimentWords)(i => word("gri", i))

  /** Cumulative Zipf weights over the neutral vocabulary (rank 1 = index 0). */
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(r => 1.0 / math.pow(r + 1.0, ZipfExponent))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  private def zipf(rng: SplittableRandom): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(if (i >= 0) i else -i - 1, VocabSize - 1)
  }

  private val Entities = Array("&lt;3", "&quot;", "&amp;", "&gt;")
  private val Punct = Array("!", "!!!", "?", "...", ":)", ":(", "-", "'s")

  private def token(rng: SplittableRandom, label: Int): String = {
    val u = rng.nextDouble()
    if (u < OwnSentiment)
      (if (label == 1) positive else negative)(zipfSmall(rng))
    else if (u < OwnSentiment + OtherSentiment)
      (if (label == 1) negative else positive)(zipfSmall(rng))
    else {
      val w = neutral(zipf(rng))
      // occasional capitalisation: the cleaner lower-cases
      if (rng.nextInt(12) == 0) w.capitalize else w
    }
  }

  /** Skewed pick from a sentiment vocabulary (square of a uniform). */
  private def zipfSmall(rng: SplittableRandom): Int = {
    val u = rng.nextDouble()
    (u * u * SentimentWords).toInt
  }

  /** The text field of one tweet; may contain commas and quotes. */
  private def text(rng: SplittableRandom, label: Int): String = {
    val sb = new StringBuilder
    if (rng.nextInt(4) == 0) sb.append('@').append(neutral(zipf(rng))).append("_").append(rng.nextInt(100)).append(' ')
    val quoted = rng.nextInt(10) == 0
    if (quoted) sb.append('"')
    val n = 4 + rng.nextInt(17)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(if (rng.nextInt(9) == 0) ", " else " ")
      sb.append(token(rng, label))
      rng.nextInt(40) match {
        case 0 => sb.append(' ').append(rng.nextInt(1000))
        case 1 => sb.append(' ').append(Entities(rng.nextInt(Entities.length)))
        case 2 => sb.append(' ').append('#').append(neutral(zipf(rng)))
        case 3 | 4 => sb.append(Punct(rng.nextInt(Punct.length)))
        case _ =>
      }
      i += 1
    }
    rng.nextInt(8) match {
      case 0 => sb.append(" http://t").append(rng.nextInt(10)).append(".co/").append(word("x", rng.nextInt(5000)))
      case 1 => sb.append(" www.site").append(rng.nextInt(50)).append(".com/p").append(rng.nextInt(100))
      case _ =>
    }
    if (quoted) sb.append(' ').append('"')
    sb.toString
  }

  /** The corpus as lines, without line terminators. Ids start at 100000 so
    * every id has the same width. */
  def lines(seed: Long, rows: Int): Iterator[String] = {
    val rng = new SplittableRandom(seed)
    Iterator.range(0, rows).map { i =>
      val label = rng.nextInt(2)
      s"${100000 + i},$label,Sentiment140,${text(rng, label)}"
    }
  }

  /** Writes the corpus as one `\n`-terminated CSV file. */
  def write(path: Path, seed: Long, rows: Int): Unit = {
    Files.createDirectories(path.getParent)
    val out = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(path), StandardCharsets.UTF_8), 1 << 20)
    try lines(seed, rows).foreach { l => out.write(l); out.write('\n') }
    finally out.close()
  }
}
