package graft.search

import graft.{Props, QuerySpec, TreeQuery}
import graft.index.FieldOf
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import ClauseNode._

/** The executor's scorer choice for clause trees: `flatOf` hands a tree to
  * the block-max WAND plan only when it is exactly the `treeOf` image of a
  * flat spec. Spark-free; IndexEndToEndSpec checks the routed answers.
  */
class QueryRoutingSpec extends AnyFunSuite {

  private val pool = Seq("merge", "sort", "index", "yield", "match",
    FieldOf.prefixed("repo", "core"))

  private def subset(from: Seq[String]): Gen[Seq[String]] =
    Gen.someOf(from).map(_.toSeq)

  /** Analyzed, DisMax-free specs: clause lists hold distinct terms, no term
    * is both MUST and SHOULD, at least one term is scored, and boosts name
    * only the spec's own terms with a value other than 1.
    */
  private val specs: Gen[QuerySpec] = for {
    must <- subset(pool)
    should <- subset(pool.filterNot(must.contains))
    if must.nonEmpty || should.nonEmpty
    mustNot <- subset(pool)
    boosted <- subset((must ++ should ++ mustNot).distinct)
    boosts <- Gen.listOfN(boosted.size, Gen.oneOf(0.5, 2.0, 2.5))
    lang <- Gen.option(Gen.oneOf("scala", "java"))
    msm <- Gen.choose(0, 3)
    k <- Gen.choose(1, 2000)
    after <- Gen.option(Gen.zip(Gen.choose(0.0, 9.0), Gen.choose(0L, 1L << 41)))
  } yield QuerySpec("q", should = should, must = must, mustNot = mustNot, k = k,
    langFilter = lang, boosts = boosted.zip(boosts).toMap, minShouldMatch = msm,
    searchAfter = after)

  private def treeQuery(q: QuerySpec) =
    TreeQuery(q.qid, QueryEngine.treeOf(q), q.k, q.searchAfter)

  /** Arbitrary trees over a small term pool, so duplicate terms are common;
    * every node kind, nested bools and bool boosts appear.
    */
  private def node(depth: Int): Gen[ClauseNode] = {
    val term = Gen.oneOf(pool.take(3))
    val leaf: Gen[ClauseNode] = Gen.frequency(
      8 -> Gen.zip(term, Gen.oneOf(1.0, 1.0, 2.5)).map { case (t, b) => TermNode(t, b) },
      2 -> Gen.oneOf("scala", "java").map(LangNode(_)),
      1 -> Gen.listOfN(2, term).map(ts => PhraseNode(ts, Seq(0, 1))),
      1 -> Gen.listOfN(2, term).map(ts => SynNode(ts)),
      1 -> Gen.listOfN(2, term).map(ts => ConstNode(ts)))
    if (depth == 0) leaf else Gen.frequency(4 -> leaf, 1 -> bool(depth - 1))
  }

  private def bool(depth: Int): Gen[ClauseNode] = for {
    m <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, node(depth)))
    s <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, node(depth)))
    n <- Gen.choose(0, 2).flatMap(Gen.listOfN(_, node(depth)))
    msm <- Gen.oneOf(0, 0, 1, 2)
    b <- Gen.oneOf(1.0, 1.0, 1.0, 2.0)
  } yield BoolNode(m, s, n, msm, b)

  test("flatOf inverts treeOf on analyzed, DisMax-free specs") {
    Props.forAll(specs, n = 500) { q =>
      assert(QueryEngine.flatOf(treeQuery(q)) == Some(q))
    }
  }

  test("flatOf returns only specs whose treeOf is the tree") {
    // generated trees, plus treeOf images so the accepting side is
    // exercised as often as the rejecting one
    val trees = Gen.oneOf(Gen.lzy(bool(2)), Gen.lzy(node(2)),
      specs.map(QueryEngine.treeOf))
    var routed = 0
    var kept = 0
    Props.forAll(trees, n = 2000) { root =>
      val tq = TreeQuery("t", root, 10, None)
      QueryEngine.flatOf(tq) match {
        case Some(q) =>
          routed += 1
          assert(QueryEngine.treeOf(q) == root)
          assert(q.qid == tq.qid && q.k == tq.k && q.searchAfter == tq.searchAfter)
        case None => kept += 1
      }
    }
    assert(routed > 300 && kept > 300, s"routed $routed, kept $kept")
  }

  test("flatOf keeps nested bools, phrases, synonyms, duplicates and boosted bools on the tree") {
    val (a, b, c) = (TermNode("merge"), TermNode("sort"), TermNode("index"))
    val flat = BoolNode(must = Seq(a), should = Seq(b), mustNot = Seq(c))
    def route(root: ClauseNode) = QueryEngine.flatOf(TreeQuery("t", root, 10, None))
    assert(route(flat).contains(QuerySpec("t", must = Seq("merge"),
      should = Seq("sort"), mustNot = Seq("index"))))
    val kept = Seq(
      a, // a bare term is not a treeOf image
      BoolNode(should = Seq(BoolNode(must = Seq(a, b)), c)),
      BoolNode(must = Seq(a, BoolNode(should = Seq(b, c)))),
      BoolNode(should = Seq(a, PhraseNode(Seq("sort", "index"), Seq(0, 1)))),
      BoolNode(should = Seq(a, SynNode(Seq("sort", "index")))),
      BoolNode(should = Seq(a, ConstNode(Seq("sort")))),
      BoolNode(should = Seq(a, b, a)),
      BoolNode(must = Seq(a, a)),
      BoolNode(must = Seq(a), should = Seq(a, b)),
      BoolNode(mustNot = Seq(c, c), should = Seq(a)),
      flat.copy(boost = 2.0),
      BoolNode(must = Seq(TermNode("merge", 2.0)), mustNot = Seq(TermNode("merge"))),
      BoolNode(must = Seq(LangNode("scala"))),
      BoolNode(must = Seq(LangNode("scala"), a)),
      BoolNode(must = Seq(a, LangNode("scala"), LangNode("java"))),
      // a pure disjunction next to a lang filter must be nested (treeOf)
      BoolNode(must = Seq(LangNode("scala")), should = Seq(a, b)),
      BoolNode(must = Seq(BoolNode(should = Seq(a, b), boost = 2.0), LangNode("scala"))))
    kept.foreach(t => assert(route(t).isEmpty, s"routed $t"))
    assert(route(BoolNode(must = Seq(BoolNode(should = Seq(a, b)), LangNode("scala"))))
      .contains(QuerySpec("t", should = Seq("merge", "sort"), langFilter = Some("scala"))))
  }
}
