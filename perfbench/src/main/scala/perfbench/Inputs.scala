package perfbench

import graft.{QuerySpec, SourceDoc}
import graft.corpus.CorpusGen

/** Splittable seeded RNG (the splitmix64 finalizer CorpusGen uses): the
  * same seed always yields the same stream, on any JVM.
  */
final class Rng(seed: Long) {
  private var state = CorpusGen.mix(seed ^ 0x5eedL)
  def nextLong(): Long = { state += 0x9e3779b97f4a7c15L; CorpusGen.mix(state) }
  def uniform(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
  def below(n: Int): Int = (uniform() * n).toInt.min(n - 1)
  def chance(p: Double): Boolean = uniform() < p
}

/** One generated query in both of its forms: the flat QuerySpec (also the
  * input of the NaiveSearch oracle) and, when `parsed`, the classic query
  * string that goes through QueryParser and the clause-tree path instead.
  */
final case class GenQuery(spec: QuerySpec, text: String, parsed: Boolean,
    needle: Option[String]) {
  def qid: String = spec.qid
}

/** Every input the benchmark hands to the engine. All of it is a pure
  * function of the seed; the engine sees nothing else.
  */
object Inputs {

  /** Rows of CorpusGen's fixed corpus that form the prebuilt search index. */
  val SearchDocs: Long = 120000L
  /** Docs in one seeded ingest build. */
  val IngestDocs: Long = 24000L
  /** Docs in one untimed warm-up build (the ingest workload's set-up). */
  val WarmDocs: Long = 200L
  /** Docs appended per NRT cycle. */
  val AppendDocs: Long = 2000L

  private def zipfIdent(r: Rng): String = {
    val u = r.uniform()
    val cum = CorpusGen.zipfCum
    var lo = 0
    var hi = cum.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cum(mid) >= u) hi = mid else lo = mid + 1
    }
    CorpusGen.identifier(lo)
  }

  private def term(r: Rng): String = {
    val u = r.uniform()
    if (u < 0.72) zipfIdent(r)
    else if (u < 0.92) CorpusGen.Keywords(r.below(CorpusGen.Keywords.length))
    else CorpusGen.Needles(r.below(CorpusGen.Needles.length))._1
  }

  /** The single-query stream: 1-3 terms drawn Zipf over identifiers,
    * keywords and planted needles. It repeats a fixed block of eight
    * shapes (OR, AND, NOT, each also with a lang filter or as a bare needle
    * at k=1000, whose answer is exactly the planted rows), every other one
    * sent as a classic query string, so any prefix of the stream has the
    * same mix and only the terms depend on the seed.
    */
  val PointBlock = 8

  def pointQueries(seed: Long, n: Int): Seq[GenQuery] = {
    val r = new Rng(seed ^ 0x9017L)
    val shapes = Array(0, 1, 2, 0, 3, 1, 4, 2) // OR, AND, NOT, OR+lang, needle
    (0 until n).map { i =>
      val qid = f"p$i%04d"
      val parsed = i % 2 == 1
      shapes(i % shapes.length) match {
        case 4 =>
          val needle = CorpusGen.Needles(r.below(CorpusGen.Needles.length))._1
          GenQuery(QuerySpec(qid, should = Seq(needle), k = 1000), needle, parsed, Some(needle))
        case shape =>
          val op = if (shape == 3) 0 else shape
          val terms = distinctTerms(r, if (op == 0) 1 + r.below(3) else 2 + r.below(2), term)
          val lang = if (shape == 3) Some(CorpusGen.Langs(r.below(5))) else None
          build(qid, terms, op, lang, k = 10, parsed)
      }
    }
  }

  /** Batches of 20 hot 3-5-term queries, each with one keyword and the
    * rest drawn from the 50 most frequent identifiers; every fifth asks for
    * k=1000. Shapes and term counts repeat in every batch; only the terms
    * depend on the seed.
    */
  def batches(seed: Long, nBatches: Int): Seq[Seq[GenQuery]] = {
    val r = new Rng(seed ^ 0xba7cL)
    (0 until nBatches).map { b =>
      (0 until 20).map { i =>
        val terms = CorpusGen.Keywords(r.below(CorpusGen.Keywords.length)) +:
          distinctTerms(r, 2 + i % 3, r => CorpusGen.identifier(r.below(50)))
        build(f"b$b%03d_$i%02d", terms, i % 3, None, if (i % 5 == 0) 1000 else 10,
          parsed = false)
      }
    }
  }

  private def distinctTerms(r: Rng, n: Int, draw: Rng => String): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) out += draw(r)
    out.toSeq
  }

  /** op: 0 OR, 1 AND, 2 NOT (all but the last term OR-ed, the last
    * excluded).
    */
  private def build(qid: String, terms: Seq[String], op: Int,
      lang: Option[String], k: Int, parsed: Boolean): GenQuery = {
    val spec = op match {
      case 0 => QuerySpec(qid, should = terms, k = k, langFilter = lang)
      case 1 => QuerySpec(qid, must = terms, k = k, langFilter = lang)
      case _ => QuerySpec(qid, should = terms.init, mustNot = Seq(terms.last),
        k = k, langFilter = lang)
    }
    // next to a required filter clause, bare optional clauses would stop
    // being required to match, so the optional part is grouped as one
    // required clause
    def group(ts: Seq[String]) =
      if (lang.isEmpty) ts.mkString(" ") else ts.mkString("+(", " ", ")")
    val body = op match {
      case 0 => group(terms)
      case 1 => terms.map("+" + _).mkString(" ")
      case _ => group(terms.init) + " -" + terms.last
    }
    val text = lang.fold(body)(l => s"$body +lang:$l")
    GenQuery(spec, text, parsed, None)
  }

  /** First CorpusGen row of the seed's ingest corpus: far above the search
    * index rows, distinct per seed, so every seed indexes different docs.
    */
  def ingestBase(seed: Long): Long =
    10000000L + java.lang.Math.floorMod(CorpusGen.mix(seed), 1000L) * IngestDocs

  /** Marker term carried by every doc of NRT cycle `c`. */
  def marker(seed: Long, c: Int): String = f"pbmark${seed.abs % 100000}%05dc$c%03d"

  /** Docs of NRT cycle `c`: seeded CorpusGen rows, each tagged with the
    * cycle's marker term.
    */
  def appendDocs(seed: Long, c: Int, tag: String): Seq[SourceDoc] = {
    val base = 20000000L + java.lang.Math.floorMod(CorpusGen.mix(seed ^ c), 1000L) * 50000L
    (0L until AppendDocs).map { i =>
      val d = CorpusGen.doc(base + i)
      d.copy(repo = s"nrt$c", content = d.content + s"val $tag = 1\n")
    }
  }

  /** Seeded sample of queries to check against NaiveSearch. Lang filters
    * and needles are left out: the oracle has no filter clause, and needles
    * are checked against their planted rows already.
    */
  def naiveSample(seed: Long, qs: Seq[GenQuery], n: Int): Seq[GenQuery] = {
    val r = new Rng(seed ^ 0x0a1eL)
    val pool = qs.filter(q => q.spec.langFilter.isEmpty && q.needle.isEmpty)
    if (pool.isEmpty) Nil
    else Seq.fill(n)(pool(r.below(pool.size))).distinct
  }
}
