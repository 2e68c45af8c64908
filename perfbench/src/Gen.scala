package perfbench

import java.util.SplittableRandom

/** Seeded input generator. Everything is a pure function of the seed
  * and the size parameters: the same seed yields the same rows.
  */
object Gen {

  /** One `user_relationship` document. `ts` is epoch milliseconds. */
  final case class Doc(ts: Long, from: String, to: String, scoreIn: Int, scoreOut: Int)

  final case class Graph(docs: Vector[Doc], users: Vector[String], teams: Vector[(String, String)])

  final case class CorpusDoc(id: Long, text: String)

  /** A document corpus with planted duplicates. `families` lists, per
    * duplicated base document, the base id followed by its copies;
    * `nearIds` are the near-duplicate members, `exactIds` the verbatim
    * copies, `lowQuality` the documents the quality gate must drop.
    */
  final case class Corpus(
      docs: Vector[CorpusDoc],
      families: Vector[Vector[Long]],
      exactIds: Set[Long],
      nearIds: Set[Long],
      lowQuality: Set[Long])

  /** Zipf(s) over ranks 0 until n, sampled by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private val TwoTo63 = BigInt(2).pow(63)

  /** Person id of person `i`: mostly base-10 numerals, a quarter of them
    * above 2^63 (they must stay strings), and a few non-numeric ids.
    */
  def personId(i: Int): String =
    if (i % 53 == 5) "u" + java.lang.Long.toString(i * 7L + 3, 36)
    else if (i % 4 == 0) (TwoTo63 + BigInt(i) * 1000003).toString
    else (100000000L + i * 7919L).toString

  /** Epoch millis of 2024-01-01T00:00:00Z, the first document time. */
  val BaseTs: Long = 1704067200000L

  /** Relationship docs with Zipf endpoint popularity, a share of repeated
    * pairs carrying fresh scores, strictly increasing timestamps (one
    * minute apart, so any index range is a watermarked increment), a
    * trove-user set and Zipf-sized teams.
    */
  def graph(seed: Long, persons: Int, docs: Int, teams: Int, repeatShare: Double = 0.2): Graph = {
    val r = new SplittableRandom(seed)
    // popularity rank -> person index, so hot persons are spread over id classes
    val perm = shuffled(persons, r.split())
    val zipf = new Zipf(persons, 1.1)
    val scores = r.split()
    val out = Vector.newBuilder[Doc]
    val pairs = new Array[(Int, Int)](docs)
    var i = 0
    while (i < docs) {
      val pair =
        if (i > 0 && r.nextDouble() < repeatShare) pairs(r.nextInt(i))
        else {
          val a = perm(zipf.sample(r))
          var b = perm(zipf.sample(r))
          while (b == a) b = perm(zipf.sample(r))
          (a, b)
        }
      pairs(i) = pair
      out += Doc(BaseTs + i * 60000L, personId(pair._1), personId(pair._2),
        scores.nextInt(100), scores.nextInt(100))
      i += 1
    }
    val ur = r.split()
    val users = (0 until persons).filter(_ => ur.nextDouble() < 0.4).map(personId) ++
      (0 until persons / 20).map(j => "9" + (500000000L + j))
    val tr = r.split()
    val teamRows = (0 until teams).flatMap { t =>
      val size = math.max(2, math.round(40.0 / math.pow(t + 1.0, 0.8)).toInt)
      val members = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (members.size < math.min(size, persons)) members += tr.nextInt(persons)
      members.toSeq.map(m => (s"T$t", personId(m)))
    }
    Graph(out.result(), users.toVector, teamRows.toVector)
  }

  private def shuffled(n: Int, r: SplittableRandom): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** Stopwords the quality gate counts (graft.operators.TextOps). */
  val Stopwords: Vector[String] = Vector("the", "a", "an", "of", "and", "to", "in", "is", "it", "on")

  private val Syllables = Vector("ka", "lo", "mi", "ru", "te", "sa", "no", "vi", "pe", "zu",
    "ga", "de", "fo", "hi", "ju", "by", "wo", "xe", "qi", "ce")

  /** `base` documents of 60-160 tokens (15% stopwords, the rest drawn
    * uniformly from a 4000-word vocabulary) plus planted copies: each copy is
    * an exact duplicate with probability `exactRate / (exactRate +
    * nearRate)`, otherwise a near duplicate (one token replaced). A
    * `lowRate` share of base documents fails the quality gate (too short
    * or stopword-free). Copies have larger ids than their base.
    */
  def corpus(seed: Long, base: Int, exactRate: Double, nearRate: Double, lowRate: Double): Corpus = {
    val r = new SplittableRandom(seed)
    val vocabSize = 4000
    val vocab = {
      val vr = r.split()
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < vocabSize)
        seen += (0 until 2 + vr.nextInt(3)).map(_ => Syllables(vr.nextInt(Syllables.size))).mkString
      seen.toVector.filterNot(Stopwords.contains)
    }
    // uniform word choice: under a Zipf vocabulary unrelated documents
    // share their frequent words and their SimHash signatures collide
    def word(): String = vocab(r.nextInt(vocab.size))
    val docs = Vector.newBuilder[CorpusDoc]
    val texts = scala.collection.mutable.ArrayBuffer.empty[(Long, Vector[String])]
    val low = scala.collection.mutable.HashSet.empty[Long]
    var nextId = 1L
    (0 until base).foreach { _ =>
      val id = nextId; nextId += 1
      val toks =
        if (r.nextDouble() < lowRate) {
          low += id
          if (r.nextBoolean()) Vector.fill(3)(word()) else Vector.fill(40)(word())
        } else Vector.fill(60 + r.nextInt(101)) {
          if (r.nextDouble() < 0.15) Stopwords(r.nextInt(Stopwords.size)) else word()
        }
      docs += CorpusDoc(id, toks.mkString(" "))
      if (!low.contains(id)) texts += ((id, toks))
    }
    val copies = math.round(base * (exactRate + nearRate)).toInt
    val exactShare = exactRate / math.max(1e-9, exactRate + nearRate)
    val fam = scala.collection.mutable.LinkedHashMap.empty[Long, Vector[Long]]
    val exact = Set.newBuilder[Long]
    val near = Set.newBuilder[Long]
    (0 until copies).foreach { _ =>
      val (baseId, toks) = texts(r.nextInt(texts.size))
      val id = nextId; nextId += 1
      val text =
        if (r.nextDouble() < exactShare) { exact += id; toks.mkString(" ") }
        else {
          near += id
          val pos = r.nextInt(toks.size)
          var w = word()
          while (w == toks(pos)) w = word()
          toks.updated(pos, w).mkString(" ")
        }
      docs += CorpusDoc(id, text)
      fam(baseId) = fam.getOrElse(baseId, Vector(baseId)) :+ id
    }
    Corpus(docs.result(), fam.values.toVector, exact.result(), near.result(), low.toSet)
  }
}
