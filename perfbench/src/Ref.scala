package perfbench

import scala.collection.mutable

/** Reference results computed from the generated inputs with plain
  * Scala collections — no Spark and no graft code — so a wrong answer
  * from the program under test cannot also hide in its reference.
  */
object Ref {

  type Key = (String, String)

  /** Directed edges of one doc: from->to carries raw_score_in,
    * to->from carries raw_score_out.
    */
  def edges(d: Gen.Doc): Seq[(Key, Double)] =
    Seq(((d.from, d.to), d.scoreIn.toDouble), ((d.to, d.from), d.scoreOut.toDouble))

  /** Per directed pair, the maximum score over `docs`, folded into `into`. */
  def mergeMax(docs: Iterable[Gen.Doc], into: mutable.Map[Key, Double] = mutable.HashMap.empty): mutable.Map[Key, Double] = {
    docs.foreach(d => edges(d).foreach { case (k, s) =>
      into.get(k) match {
        case Some(old) if old >= s => ()
        case _ => into(k) = s
      }
    })
    into
  }

  /** The bulk RDF triple multiset (as line -> count). */
  def bulkTriples(g: Gen.Graph): Map[String, Int] = {
    val merged = mergeMax(g.docs)
    val users = g.users.toSet
    val persons = mutable.LinkedHashSet.empty[String]
    g.docs.foreach { d => persons += d.from; persons += d.to }
    g.teams.foreach { case (_, p) => persons += p }
    val lines = mutable.ArrayBuffer.empty[String]
    g.teams.map(_._1).distinct.foreach(t => lines += s"""_:$t <team_id> "$t" .""")
    g.teams.foreach { case (t, p) => lines += s"_:$t <has_member> _:$p ." }
    persons.foreach { p =>
      lines += s"""_:$p <person_id> "$p" ."""
      lines += s"""_:$p <is_trove_user> "${users.contains(p)}"^^<xs:boolean> ."""
    }
    merged.foreach { case ((s, d), sc) => lines += s"_:$s <has_connection> _:$d (score=${sc.toLong}) ." }
    counts(lines)
  }

  def counts(lines: Iterable[String]): Map[String, Int] =
    lines.groupMapReduce(identity)(_ => 1)(_ + _)

  /** Out-neighbour lists of a directed edge set. */
  def adjacency(keys: Iterable[Key]): Map[String, Array[String]] =
    keys.groupMap(_._1)(_._2).map { case (k, v) => k -> v.toArray.distinct }

  /** Vertices at exactly hop `k` from `seeds`: each hop follows edges
    * and drops every vertex already visited (seeds included).
    */
  def kHop(adj: Map[String, Array[String]], seeds: Set[String], k: Int): Set[String] = {
    var visited = seeds
    var frontier = seeds
    (1 to k).foreach { _ =>
      val next = frontier.iterator.flatMap(v => adj.getOrElse(v, Array.empty[String]).iterator)
        .filterNot(visited.contains).toSet
      visited ++= next
      frontier = next
    }
    frontier
  }

  private val Stop = Gen.Stopwords.toSet
  private val Tok = "\\S+".r

  /** The documented quality rule: 5..100000 whitespace tokens and at
    * least 1% of them stopwords.
    */
  def qualityKeep(text: String): Boolean = {
    val toks = Tok.findAllIn(text).toVector
    val n = toks.size
    n >= 5 && n <= 100000 && toks.count(Stop.contains) * 1000L >= n * 10L
  }

  /** Checks surviving `(doc_id, split)` rows against the curation
    * contract; the corpus-wide facts are computed once.
    */
  final class CurationCheck(c: Gen.Corpus) {
    private val text: Map[Long, String] = c.docs.iterator.map(d => d.id -> d.text).toMap
    private val keep: Map[Long, Boolean] = c.docs.iterator.map(d => d.id -> qualityKeep(d.text)).toMap
    private val minIdOfText: Map[String, Long] = c.docs.groupMapReduce(_.text)(_.id)(math.min)
    private val planted: Set[Long] = c.families.iterator.flatten.toSet
    private val clean: Vector[Long] = c.docs.collect { case d if !planted(d.id) && keep(d.id) => d.id }
    private val liveFamilies = c.families.filter(f => keep(f.head))

    /** Violations found; empty means correct. */
    def errors(survivors: Seq[(Long, String)]): Seq[String] = {
      val errs = mutable.ArrayBuffer.empty[String]
      val ids = survivors.map(_._1)
      val kept = ids.toSet
      if (kept.size != ids.size) errs += s"${ids.size - kept.size} survivor rows repeat a doc_id"
      val unknown = kept.count(id => !text.contains(id))
      if (unknown > 0) errs += s"$unknown survivors are not corpus documents"
      val known = kept.filter(text.contains)
      val badSplit = survivors.count(s => !Set("train", "val", "test").contains(s._2))
      if (badSplit > 0) errs += s"$badSplit survivors carry an unknown split"
      val dupTexts = known.toSeq.groupBy(text).count(_._2.size > 1)
      if (dupTexts > 0) errs += s"$dupTexts texts survive more than once"
      val exactSurvivors = known.count(id => minIdOfText(text(id)) != id)
      if (exactSurvivors > 0) errs += s"$exactSurvivors planted exact duplicates survive"
      val lowSurvivors = known.count(id => !keep(id))
      if (lowSurvivors > 0) errs += s"$lowSurvivors documents failing the quality gate survive"
      val lost = clean.count(id => !kept.contains(id))
      if (lost > 0) errs += s"$lost unduplicated documents were dropped"
      val emptyFamilies = liveFamilies.count(f => !f.exists(kept.contains))
      if (emptyFamilies > 0) errs += s"$emptyFamilies duplicate families lost every member"
      errs.toSeq
    }
  }

  /** Share of planted near-duplicate copies merged away: the copy does
    * not survive next to its base text's surviving family member.
    */
  def plantedRecall(c: Gen.Corpus, survivors: Set[Long]): Double = {
    val pairs = c.families.flatMap(f => f.tail.filter(c.nearIds.contains).map(n => (f.head, n)))
    if (pairs.isEmpty) 1.0
    else pairs.count { case (b, n) => !(survivors.contains(b) && survivors.contains(n)) }.toDouble / pairs.size
  }
}
