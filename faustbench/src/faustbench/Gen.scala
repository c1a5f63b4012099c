package faustbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Each is a pure function of its seed and
  * its size parameters: the same seed gives the same inputs.
  */
object StreamGen {
  /** Event-time origin of every run (2023-11-14T22:13:20Z). */
  val BaseMs = 1700000000000L

  /** `(seq, key, ts_ms, value)` for events 0 until n. On-time events
    * advance event time by one millisecond each; a `lateShare` of them
    * arrive up to `maxLateMs` behind their on-time position. Keys are
    * Zipf-skewed over `keys`.
    */
  def events(seed: Long, n: Int, keys: Int, zipfS: Double,
             lateShare: Double, maxLateMs: Int): Array[(Long, Long, Long, Long)] = {
    val rng = new SplittableRandom(seed)
    val zipf = new Zipf(keys, zipfS)
    Array.tabulate(n) { i =>
      val late = if (rng.nextDouble() < lateShare) 1 + rng.nextInt(maxLateMs) else 0
      val key = zipf.sample(rng).toLong
      val value = 1L + rng.nextInt(1000)
      (i.toLong, key, BaseMs + i - late, value)
    }
  }
}

object ServingGen {
  /** `(key, amount)` writes: the first `keys` writes touch every key
    * once (so every key is served from the first refresh on), the rest
    * are Zipf-skewed.
    */
  def writes(seed: Long, n: Int, keys: Int): Array[(Long, Long)] = {
    val rng = new SplittableRandom(seed)
    val zipf = new Zipf(keys, 1.0)
    Array.tabulate(n) { i =>
      val key = if (i < keys) i.toLong else zipf.sample(rng).toLong
      (key, 1L + rng.nextInt(100))
    }
  }

  /** Zipf-skewed lookup keys, an independent stream of the same seed. */
  def lookups(seed: Long, n: Int, keys: Int): Array[Long] = {
    val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val zipf = new Zipf(keys, 1.1)
    Array.fill(n)(zipf.sample(rng).toLong)
  }
}

/** Synthetic LLM pre-training corpus with planted ground truth. */
object CorpusGen {
  sealed trait Kind
  case object Base extends Kind
  case object ExactDup extends Kind
  case object Variant extends Kind
  case object Junk extends Kind
  case object Short extends Kind

  /** `origin` is the id of the base document a planted copy or variant
    * was made from (its own id for everything else); `pii` lists the
    * PII strings planted in the text.
    */
  final case class Doc(id: Long, text: String, lang: String, kind: Kind,
                       origin: Long, pii: Seq[String])

  val Langs: Seq[String] = Seq("en", "de", "fr")

  private val syllables: Map[String, Array[String]] = Map(
    "en" -> Array("th", "an", "er", "on", "re", "in", "ed", "nd", "ha", "st", "ou", "ng"),
    "de" -> Array("ch", "ei", "sch", "en", "ie", "un", "ge", "ck", "au", "tz", "ber", "lich"),
    "fr" -> Array("eau", "ou", "oi", "qu", "ai", "ment", "ette", "eur", "ion", "ille", "gn", "ré"))

  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "to", "a", "in", "is", "it"),
    "de" -> Seq("der", "die", "und", "zu", "das", "ist", "nicht", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une", "pas"))

  val AllStopwords: Seq[String] = Langs.flatMap(Stopwords)

  val VocabSize = 20000

  /** Deterministic vocabulary: word i of a language spells i in base 12
    * over that language's syllables, so words never carry digits or
    * PII punctuation.
    */
  private def word(lang: String, i: Int): String = {
    val syl = syllables(lang)
    val sb = new StringBuilder
    var x = i + syl.length
    while (x > 0) { sb.append(syl(x % syl.length)); x /= syl.length }
    sb.toString
  }

  private val vocab: Map[String, Array[String]] =
    Langs.map(l => l -> Array.tabulate(VocabSize)(word(l, _))).toMap

  private def pii(rng: SplittableRandom, id: Long): String = rng.nextInt(3) match {
    case 0 => s"user$id.${rng.nextInt(1000)}@mail${rng.nextInt(90)}.example.org"
    case 1 => f"${200 + rng.nextInt(700)}%03d-${rng.nextInt(1000)}%03d-${rng.nextInt(10000)}%04d"
    case _ => s"10.${rng.nextInt(256)}.${rng.nextInt(256)}.${rng.nextInt(256)}"
  }

  /** `nBase` base documents plus planted exact duplicates (every 20th
    * base, 2 copies), near-duplicate families (every 12th base, 3
    * variants with 3% of tokens replaced), junk (every 20th: no
    * stopwords) and short (every 33rd: under 20 tokens) documents, and
    * PII in every 10th base. The planted structure is the same for
    * every seed, so the work a pass does varies little across seeds;
    * the seed picks lengths, words, edits and PII. Ids are dense from 1.
    */
  def corpus(seed: Long, nBase: Int): IndexedSeq[Doc] = {
    val rng = new SplittableRandom(seed)
    val zipf = new Zipf(VocabSize, 0.9)
    val docs = ArrayBuffer.empty[Doc]
    def nextId: Long = docs.length + 1L
    def tokens(lang: String, n: Int): Array[String] = Array.fill(n) {
      if (rng.nextDouble() < 0.2) {
        val sw = Stopwords(lang)
        sw(rng.nextInt(sw.length))
      } else vocab(lang)(zipf.sample(rng))
    }
    for (i <- 0 until nBase) {
      val lang = Langs(i % Langs.length)
      val len = math.min(400, math.max(50, math.exp(math.log(100) + 0.5 * rng.nextGaussian()).toInt))
      val toks = ArrayBuffer.from(tokens(lang, len))
      val id = nextId
      val planted = if (i % 10 == 7) Seq.fill(1 + (i / 10) % 2)(pii(rng, id)) else Nil
      planted.foreach(p => toks.insert(rng.nextInt(toks.length + 1), p))
      val base = Doc(id, toks.mkString(" "), lang, Base, id, planted)
      docs += base
      if (i % 20 == 0) {
        for (_ <- 0 until 2) docs += base.copy(id = nextId, kind = ExactDup)
      } else if (i % 12 == 1) {
        for (_ <- 0 until 3) {
          val edited = toks.toArray
          for (_ <- 0 until math.max(1, edited.length * 3 / 100)) {
            val at = rng.nextInt(edited.length)
            if (!planted.contains(edited(at))) edited(at) = vocab(lang)(zipf.sample(rng))
          }
          docs += Doc(nextId, edited.mkString(" "), lang, Variant, id, planted)
        }
      }
      if (i % 20 == 3) {
        val junk = Array.fill(30 + rng.nextInt(70))(java.lang.Long.toHexString(rng.nextLong()))
        docs += Doc(nextId, junk.mkString(" "), lang, Junk, nextId, Nil)
      } else if (i % 33 == 5) {
        docs += Doc(nextId, tokens(lang, 5 + rng.nextInt(10)).mkString(" "), lang, Short, nextId, Nil)
      }
    }
    docs.toIndexedSeq
  }
}
