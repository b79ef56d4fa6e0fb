package graft.search

import graft.core.{BmwScorer, PhraseMatcher, Similarity}

/** Executable query tree — the rewritten form every parsed query lowers to
  * (Lucene's rewrite-then-createWeight pipeline
  * [B lucene/core/src/java/org/apache/lucene/search/IndexSearcher.java#rewrite,
  * BooleanQuery.java]): BooleanQuery nodes nest arbitrarily, and phrase /
  * multi-term expansions / metadata filters are first-class clause types.
  * Multi-term queries (prefix/wildcard/regexp/range/fuzzy) are expanded
  * against the term dictionary BEFORE this tree is built (bounded by
  * maxClauseCount, see QueryLowering), so the executor only ever sees these
  * five node shapes. The tree is a plain serializable ADT: the driver
  * broadcasts it and each docId-bucket task instantiates scorers over its
  * local posting blocks.
  */
sealed trait ClauseNode extends Serializable

object ClauseNode {
  /** Scored term clause (TermQuery; `boost` folds the user's '^'). */
  final case class TermNode(term: String, boost: Double = 1.0) extends ClauseNode

  /** Constant-score disjunction over pre-expanded dictionary terms —
    * Lucene's CONSTANT_SCORE rewrite of MultiTermQuery
    * [B lucene/core/src/java/org/apache/lucene/search/MultiTermQuery.java]:
    * matching any term scores exactly `boost`.
    */
  final case class ConstNode(terms: Seq[String], boost: Double = 1.0) extends ClauseNode

  /** Scored phrase: slop 0 = exact adjacency freq, slop > 0 = sloppy freq
    * (1/(distance+1)-weighted, PhraseMatcher.sloppyFreq). `offsets` are the
    * query token positions with stop-word holes (PhraseQuery.add(term, pos)).
    * Scored like a term with tf = phrase freq and weight = boost * sum of
    * the member terms' idf [B .../search/PhraseWeight.java].
    */
  final case class PhraseNode(terms: Seq[String], offsets: Seq[Int],
      slop: Int = 0, boost: Double = 1.0) extends ClauseNode

  /** MultiPhraseQuery [B lucene/core/src/java/org/apache/lucene/search/MultiPhraseQuery.java]:
    * a phrase where each position admits ALTERNATIVE terms ("merge
    * (sort|window)"). Matching unions the alternatives' postings per
    * position (Lucene's UnionPostingsEnum), freq counts anchor positions
    * where every slot matches one of its alternatives, and the clause
    * scores like a phrase with weight = boost * Σ idf over ALL member
    * terms (MultiPhraseWeight's termStatistics composition).
    */
  final case class MultiPhraseNode(positions: Seq[Seq[String]],
      offsets: Seq[Int], slop: Int = 0, boost: Double = 1.0) extends ClauseNode

  /** SynonymQuery [B lucene/core/src/java/org/apache/lucene/search/SynonymQuery.java]:
    * scores N interchangeable terms as ONE pseudo-term — per-doc freq =
    * sum of the member terms' freqs, document frequency = max of the
    * members' dfs, total term freq = their sum (exactly the blended
    * statistics SynonymQuery.createWeight builds). Matching any member
    * matches the clause; the similarity scores the blended freq once
    * against the doc norm, so a doc saying "merge" 3× and "join" 2×
    * scores like a single term with tf 5.
    */
  final case class SynNode(terms: Seq[String], boost: Double = 1.0) extends ClauseNode

  /** Unscored metadata filter clause (lang == value) — Solr fq / Lucene
    * FILTER occurrence: matches contribute 0 to the score.
    */
  final case class LangNode(lang: String) extends ClauseNode

  /** Nested BooleanQuery [B .../search/BooleanQuery.java]: doc matches iff
    * every `must` matches, at least `minShouldMatch` of `should` match
    * (>= 1 when there are no musts), and no `mustNot` matches. Score =
    * boost * (sum of matching must+should clause scores), summed in clause
    * order for run-to-run reproducible double accumulation.
    */
  final case class BoolNode(must: Seq[ClauseNode] = Nil,
      should: Seq[ClauseNode] = Nil, mustNot: Seq[ClauseNode] = Nil,
      minShouldMatch: Int = 0, boost: Double = 1.0) extends ClauseNode

  /** Every posting-list term the tree touches (for the pushed-down scan). */
  def terms(n: ClauseNode): Seq[String] = n match {
    case TermNode(t, _) => Seq(t)
    case ConstNode(ts, _) => ts
    case PhraseNode(ts, _, _, _) => ts
    case MultiPhraseNode(ps, _, _, _) => ps.flatten
    case SynNode(ts, _) => ts
    case LangNode(_) => Nil
    case BoolNode(m, s, mn, _, _) => (m ++ s ++ mn).flatMap(terms)
  }

  /** Every lang filter value (for the bucket filter channel). */
  def langs(n: ClauseNode): Seq[String] = n match {
    case LangNode(l) => Seq(l)
    case BoolNode(m, s, mn, _, _) => (m ++ s ++ mn).flatMap(langs)
    case _ => Nil
  }
}

/** Per-bucket scorer tree over decoded posting iterators. The contract is
  * Lucene's two-phase iteration [B .../search/TwoPhaseIterator.java]:
  * nextDoc/advance move an APPROXIMATION (phrases position only their
  * term conjunction); the caller must confirm with matches() before
  * score(). score() is only valid after a true matches() on the same doc.
  *
  * Deliberate trade, documented for the plan audit: the tree evaluator
  * keeps leaf-level skipping (conjunction leapfrog, block-level advance)
  * but not block-max WAND pruning. QueryEngine's one executor routes a
  * tree of the flat one-level shape (QueryEngine.flatOf) to the BmwScorer
  * WAND plan instead; only the other shapes (nested booleans, phrases,
  * synonyms, expansions, boosted bools) run here and pay full disjunction
  * evaluation, like Lucene's non-WAND BooleanScorer fallback for complex
  * clauses.
  */
object ClauseScorers {
  import BmwScorer.{NoMoreDocs, TermIterator}

  trait Scorer {
    def docId: Long
    def nextDoc(): Long
    def advance(target: Long): Long
    /** Two-phase confirm at the current doc (call before score()). */
    def matches(): Boolean
    def score(): Double
  }

  /** Matches nothing — a clause whose terms are absent from this bucket. */
  object EmptyScorer extends Scorer {
    def docId: Long = NoMoreDocs
    def nextDoc(): Long = NoMoreDocs
    def advance(target: Long): Long = NoMoreDocs
    def matches(): Boolean = false
    def score(): Double = 0.0
  }

  final class TermScorer(it: TermIterator) extends Scorer {
    def docId: Long = it.docId
    def nextDoc(): Long = it.nextDoc()
    def advance(target: Long): Long = it.advance(target)
    def matches(): Boolean = true
    def score(): Double = it.score()
  }

  /** Constant-score disjunction (expanded MultiTermQuery). Linear-scan min
    * over children — expansion size is bounded by maxClauseCount.
    */
  final class ConstScorer(its: Array[TermIterator], boost: Double) extends Scorer {
    private var cur = -1L
    def docId: Long = cur
    def nextDoc(): Long = advance(if (cur < 0) 0L else cur + 1)
    def advance(target: Long): Long = {
      var min = NoMoreDocs
      var i = 0
      while (i < its.length) {
        var d = its(i).docId
        if (d < target) d = its(i).advance(target)
        if (d < min) min = d
        i += 1
      }
      cur = min
      cur
    }
    def matches(): Boolean = cur != NoMoreDocs
    def score(): Double = boost
  }

  /** Scored phrase: approximation = conjunction leapfrog of the member
    * term iterators; confirm = positional freq > 0; score = scoreFreq over
    * the phrase freq and the doc's norm (read off the first member's
    * aligned posting — norms are per-doc).
    */
  final class PhraseScorer(its: Array[TermIterator], offsets: Array[Int],
      slop: Int, weight: Double, sim: Similarity) extends Scorer {
    require(its.length > 0)
    private var cur = -1L
    private var freqDoc = -2L
    private var freq = 0.0
    def docId: Long = cur
    def nextDoc(): Long = advance(if (cur < 0) 0L else cur + 1)
    def advance(target0: Long): Long = {
      var target = target0
      var done = false
      while (!done && target != NoMoreDocs) {
        var max = target
        var i = 0
        var aligned = true
        while (i < its.length) {
          var d = its(i).docId
          if (d < target) d = its(i).advance(target)
          if (d > max) { max = d; aligned = false }
          i += 1
        }
        if (aligned) done = true else target = max
      }
      cur = target
      cur
    }
    private def computeFreq(): Unit = {
      if (freqDoc == cur) return
      freqDoc = cur
      val posLists = its.map(_.positions())
      require(posLists.forall(_ != null),
        "positional query over an index built without indexPositions")
      freq =
        if (slop == 0) PhraseMatcher.exactFreq(posLists, offsets).toDouble
        else PhraseMatcher.sloppyFreq(posLists, offsets, slop)
    }
    def matches(): Boolean = {
      if (cur == NoMoreDocs) return false
      computeFreq()
      freq > 0
    }
    def score(): Double = {
      computeFreq()
      sim.scoreFreq(weight, freq, its(0).normValue)
    }
  }

  /** MultiPhraseQuery scorer: approximation = conjunction over position
    * GROUPS, each group a union-min over its alternatives' iterators
    * (UnionPostingsEnum); confirm merges the present alternatives'
    * position lists per slot and runs the same exact/sloppy freq kernels
    * as PhraseScorer.
    */
  final class MultiPhraseScorer(groups: Array[Array[TermIterator]],
      offsets: Array[Int], slop: Int, weight: Double,
      sim: Similarity) extends Scorer {
    require(groups.length > 0 && groups.forall(_.length > 0))
    private var cur = -1L
    private var freqDoc = -2L
    private var freq = 0.0
    def docId: Long = cur
    def nextDoc(): Long = advance(if (cur < 0) 0L else cur + 1)
    def advance(target0: Long): Long = {
      var target = target0
      var done = false
      while (!done && target != NoMoreDocs) {
        var max = target
        var aligned = true
        var g = 0
        while (g < groups.length) {
          var min = NoMoreDocs
          var i = 0
          while (i < groups(g).length) {
            var d = groups(g)(i).docId
            if (d < target) d = groups(g)(i).advance(target)
            if (d < min) min = d
            i += 1
          }
          if (min > max) { max = min; aligned = false }
          g += 1
        }
        if (aligned) done = true else target = max
      }
      cur = target
      cur
    }
    private def computeFreq(): Unit = {
      if (freqDoc == cur) return
      freqDoc = cur
      val posLists = groups.map { g =>
        val lists = g.filter(_.docId == cur).map(_.positions())
        require(lists.forall(_ != null),
          "positional query over an index built without indexPositions")
        if (lists.length == 1) lists(0)
        // union-merge of the slot's alternatives; per-doc tf-bounded arrays
        else lists.iterator.flatMap(_.iterator).toArray.distinct.sorted
      }
      freq =
        if (slop == 0) PhraseMatcher.exactFreq(posLists, offsets).toDouble
        else PhraseMatcher.sloppyFreq(posLists, offsets, slop)
    }
    def matches(): Boolean = {
      if (cur == NoMoreDocs) return false
      computeFreq()
      freq > 0
    }
    def score(): Double = {
      computeFreq()
      var norm = 0.0
      var g = 0
      var found = false
      while (g < groups.length && !found) {
        var i = 0
        while (i < groups(g).length && !found) {
          if (groups(g)(i).docId == cur) {
            norm = groups(g)(i).normValue; found = true
          }
          i += 1
        }
        g += 1
      }
      sim.scoreFreq(weight, freq, norm)
    }
  }

  /** Blended-statistics synonym scorer: approximation = min over members
    * (any member matches), score = ONE similarity call over the summed
    * member freqs and the doc's norm (all aligned members carry the same
    * per-doc norm) [B .../search/SynonymQuery.java#SynonymScorer].
    */
  final class SynScorer(its: Array[TermIterator], weight: Double,
      sim: Similarity) extends Scorer {
    private var cur = -1L
    def docId: Long = cur
    def nextDoc(): Long = advance(if (cur < 0) 0L else cur + 1)
    def advance(target: Long): Long = {
      var min = NoMoreDocs
      var i = 0
      while (i < its.length) {
        var d = its(i).docId
        if (d < target) d = its(i).advance(target)
        if (d < min) min = d
        i += 1
      }
      cur = min
      cur
    }
    def matches(): Boolean = cur != NoMoreDocs
    def score(): Double = {
      var tf = 0L
      var norm = 0.0
      var i = 0
      while (i < its.length) {
        if (its(i).docId == cur) { tf += its(i).termFreq; norm = its(i).normValue }
        i += 1
      }
      sim.scoreFreq(weight, tf.toDouble, norm)
    }
  }

  /** Unscored sorted-docId-set clause (lang metadata filter). */
  final class DocSetScorer(ids: Array[Long]) extends Scorer {
    private var i = 0
    private var cur = -1L
    def docId: Long = cur
    def nextDoc(): Long = advance(cur + 1)
    def advance(target: Long): Long = {
      var idx = java.util.Arrays.binarySearch(ids, i, ids.length, target)
      if (idx < 0) idx = -idx - 1
      i = idx
      cur = if (i >= ids.length) NoMoreDocs else ids(i)
      cur
    }
    def matches(): Boolean = cur != NoMoreDocs
    def score(): Double = 0.0
  }

  /** Nested boolean scorer. Approximation: leapfrog the musts (or min over
    * shoulds when there are none); confirm: musts' matches(), the
    * minShouldMatch count over lazily-advanced shoulds, and mustNot
    * exclusion (exclusions are themselves two-phase-confirmed). Callers
    * must call matches() before score() — matches() positions the shoulds.
    */
  final class BoolScorer(musts: Array[Scorer], shoulds: Array[Scorer],
      nots: Array[Scorer], minShouldMatch: Int, boost: Double) extends Scorer {
    private var cur = -1L
    def docId: Long = cur
    def nextDoc(): Long = advance(if (cur < 0) 0L else cur + 1)

    def advance(target0: Long): Long = {
      var target = target0
      if (musts.nonEmpty) {
        var done = false
        while (!done && target != NoMoreDocs) {
          var max = target
          var i = 0
          var aligned = true
          while (i < musts.length) {
            var d = musts(i).docId
            if (d < target) d = musts(i).advance(target)
            if (d > max) { max = d; aligned = false }
            i += 1
          }
          if (aligned) done = true else target = max
        }
        cur = target
      } else {
        var min = NoMoreDocs
        var i = 0
        while (i < shoulds.length) {
          var d = shoulds(i).docId
          if (d < target) d = shoulds(i).advance(target)
          if (d < min) min = d
          i += 1
        }
        cur = min
      }
      cur
    }

    def matches(): Boolean = {
      if (cur == NoMoreDocs) return false
      var i = 0
      while (i < musts.length) {
        if (!musts(i).matches()) return false
        i += 1
      }
      var nShould = 0
      i = 0
      while (i < shoulds.length) {
        val s = shoulds(i)
        var d = s.docId
        if (d < cur) d = s.advance(cur)
        if (d == cur && s.matches()) nShould += 1
        i += 1
      }
      if (musts.isEmpty && nShould == 0) return false
      if (nShould < minShouldMatch) return false
      i = 0
      while (i < nots.length) {
        val x = nots(i)
        var d = x.docId
        if (d < cur) d = x.advance(cur)
        if (d == cur && x.matches()) return false
        i += 1
      }
      true
    }

    def score(): Double = {
      var s = 0.0
      var i = 0
      while (i < musts.length) { s += musts(i).score(); i += 1 }
      i = 0
      while (i < shoulds.length) {
        val sc = shoulds(i)
        if (sc.docId == cur && sc.matches()) s += sc.score()
        i += 1
      }
      boost * s
    }
  }

  /** Build the scorer tree for one bucket. `mkIter` must return a FRESH
    * iterator per call (clauses cursor independently, even over the same
    * term); None when the term has no postings in this bucket. Returns
    * EmptyScorer when the node cannot match here (required term absent,
    * no shoulds survive, fewer shoulds than minShouldMatch).
    */
  def build(node: ClauseNode,
      mkIter: (String, Double) => Option[TermIterator],
      langDocs: String => Array[Long],
      termIdf: String => Double,
      sim: Similarity,
      /** synonym pseudo-term weight from the members' BLENDED stats
        * (df = max, ttf = sum) — computed where collection stats live.
        */
      synWeight: (Seq[String], Double) => Double = (_, _) =>
        throw new UnsupportedOperationException("no synonym stats provided")
  ): Scorer = node match {
    case ClauseNode.TermNode(t, b) =>
      mkIter(t, b).map(new TermScorer(_)).getOrElse(EmptyScorer)
    case ClauseNode.ConstNode(ts, b) =>
      val its = ts.flatMap(t => mkIter(t, 1.0))
      if (its.isEmpty) EmptyScorer else new ConstScorer(its.toArray, b)
    case ClauseNode.SynNode(ts, b) =>
      val its = ts.flatMap(t => mkIter(t, 1.0))
      if (its.isEmpty) EmptyScorer
      else new SynScorer(its.toArray, synWeight(ts, b), sim)
    case ClauseNode.PhraseNode(ts, offs, slop, b) =>
      val its = ts.map(t => mkIter(t, 1.0))
      if (its.exists(_.isEmpty)) EmptyScorer
      else {
        // phrase weight = boost * sum of member idfs, Lucene PhraseWeight's
        // termStatistics composition (clause order fixes the double sum)
        val w = b * ts.map(termIdf).sum
        new PhraseScorer(its.map(_.get).toArray, offs.toArray, slop, w, sim)
      }
    case ClauseNode.MultiPhraseNode(poss, offs, slop, b) =>
      val groups = poss.map(alts => alts.flatMap(t => mkIter(t, 1.0)))
      // a slot with NO alternative present in this bucket can never match
      if (groups.exists(_.isEmpty)) EmptyScorer
      else {
        val w = b * poss.flatten.map(termIdf).sum
        new MultiPhraseScorer(groups.map(_.toArray).toArray, offs.toArray,
          slop, w, sim)
      }
    case ClauseNode.LangNode(l) =>
      val ids = langDocs(l)
      if (ids.isEmpty) EmptyScorer else new DocSetScorer(ids)
    case ClauseNode.BoolNode(m, s, mn, msm, b) =>
      val musts = m.map(build(_, mkIter, langDocs, termIdf, sim, synWeight))
      if (musts.exists(_ eq EmptyScorer)) EmptyScorer
      else {
        val shoulds = s.map(build(_, mkIter, langDocs, termIdf, sim, synWeight))
          .filterNot(_ eq EmptyScorer)
        if (shoulds.length < minShouldOf(msm, musts.nonEmpty, s.nonEmpty)) EmptyScorer
        else if (musts.isEmpty && shoulds.isEmpty) EmptyScorer
        else {
          val nots = mn.map(build(_, mkIter, langDocs, termIdf, sim, synWeight))
            .filterNot(_ eq EmptyScorer)
          new BoolScorer(musts.toArray, shoulds.toArray, nots.toArray, msm, b)
        }
      }
  }

  /** Effective should floor: minShouldMatch, or 1 when the node is a pure
    * disjunction that declared shoulds (a doc must match SOMETHING).
    */
  private def minShouldOf(msm: Int, hasMusts: Boolean, declaredShoulds: Boolean): Int =
    if (msm > 0) msm else if (!hasMusts && declaredShoulds) 1 else 0
}
