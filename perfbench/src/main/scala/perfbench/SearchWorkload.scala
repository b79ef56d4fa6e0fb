package perfbench

import graft.{ScoredDoc, TreeQuery}
import graft.core.{Analyzer, Bm25, Similarity}
import graft.index.Index
import graft.search.{ClauseNode, NaiveSearch, QueryEngine, QueryLowering}
import org.apache.spark.util.LongAccumulator

/** Forwards to a real similarity and counts the docs it scores. Passed
  * through the engine's public `sim` parameter in traced runs only.
  */
final class CountingSim(inner: Similarity, scored: LongAccumulator) extends Similarity {
  def weight(df: Long, docCount: Long, boost: Double): Double =
    inner.weight(df, docCount, boost)
  override def weightFull(df: Long, ttf: Long, docCount: Long, sumTtf: Long,
      boost: Double): Double = inner.weightFull(df, ttf, docCount, sumTtf, boost)
  def normTable(avgdl: Double): Array[Double] = inner.normTable(avgdl)
  def score(weight: Double, tf: Int, normVal: Double): Double = {
    scored.add(1L); inner.score(weight, tf, normVal)
  }
  def scoreFreq(weight: Double, freq: Double, normVal: Double): Double = {
    scored.add(1L); inner.scoreFreq(weight, freq, normVal)
  }
}

/** Single queries on a warm reader, then batches of 20, over the prebuilt
  * 240k-doc index. One client thread; every answer is checked.
  */
object SearchWorkload {

  /** Reader plus the terms whose stats it has already looked up, so a
    * traced run can tell term-stats cache hits from misses.
    */
  final class Open(val reader: Index.Reader) {
    val seenTerms = scala.collection.mutable.Set.empty[String]
  }

  private def analyzedTerms(q: GenQuery): Seq[String] = {
    val a = QueryEngine.analyzeQuery(q.spec, Analyzer.EnglishStopWords)
    (a.should ++ a.must ++ a.mustNot).distinct
  }

  /** In traced runs the term-stats lookup the engine would make inside
    * the search is made first, under its own span; the engine then finds
    * the stats in the reader's cache.
    */
  private def termStats(ctx: Ctx, o: Open, terms: Seq[String], req: String): Unit =
    if (ctx.tracer.on && terms.nonEmpty) {
      val hits = terms.count(o.seenTerms.contains)
      ctx.span("reader.term_stats", s"$req hits=$hits/${terms.size}")(o.reader.termStatsMap(terms))
      o.seenTerms ++= terms
    }

  def runQuery(ctx: Ctx, o: Open, q: GenQuery, sim: Similarity): Array[ScoredDoc] =
    ctx.span("request.point", q.qid) {
      if (q.parsed) {
        val root = ctx.span("query_parser.parse", q.qid)(QueryLowering.parseAndLower(o.reader, q.text))
        termStats(ctx, o, ClauseNode.terms(root).distinct, q.qid)
        ctx.span("query_engine.search_tree", q.qid)(
          QueryEngine.searchTree(o.reader, q.qid, root, q.spec.k, sim).collect())
      } else {
        termStats(ctx, o, analyzedTerms(q), q.qid)
        ctx.span("query_engine.search", q.qid)(
          QueryEngine.search(o.reader, Seq(q.spec), sim).collect())
      }
    }

  def runBatch(ctx: Ctx, o: Open, batch: Seq[GenQuery], tree: Boolean,
      sim: Similarity): Array[ScoredDoc] = ctx.span("request.batch", batch.head.qid) {
    val specs = batch.map(q => QueryEngine.analyzeQuery(q.spec, Analyzer.EnglishStopWords))
    termStats(ctx, o, specs.flatMap(s => s.should ++ s.must ++ s.mustNot).distinct,
      batch.head.qid)
    if (tree)
      ctx.span("query_engine.search_trees", batch.head.qid)(QueryEngine.searchTrees(o.reader,
        specs.map(s => TreeQuery(s.qid, QueryEngine.treeOf(s), s.k)), sim).collect())
    else
      ctx.span("query_engine.search_batch", batch.head.qid)(
        QueryEngine.search(o.reader, batch.map(_.spec), sim).collect())
  }

  /** Hits of one query: ranked by (score desc, docId asc), at most k. */
  private def wellFormed(hits: Seq[ScoredDoc], k: Int): Boolean =
    hits.size <= k && hits.forall(h => h.score > 0 && !h.score.isNaN) &&
      hits.zip(hits.drop(1)).forall { case (a, b) =>
        a.score > b.score || (a.score == b.score && a.docId < b.docId)
      }

  def run(ctx: Ctx, rep: Report): Unit = {
    val spark = ctx.spark
    val dir = Prepare.indexDir(ctx.cache)
    val docRows = ctx.phase("load")(Prepare.loadDocRows(ctx.cache))
    val needleRows = graft.corpus.CorpusGen.Needles.map { case (t, _) =>
      t -> Prepare.plantedRows(t)
    }.toMap
    val scored = spark.sparkContext.longAccumulator("docs_scored")
    val sim: Similarity = if (ctx.traced) new CountingSim(Bm25(), scored) else Bm25()
    val points = Inputs.pointQueries(ctx.seed, 4000)
    val batches = Inputs.batches(ctx.seed, 400)

    // set-up, six times: open a reader on the index and answer a first
    // query on it; the last reader serves the timed phases. The first time
    // also warms the JVM, so cold_s, the first query on a fresh reader,
    // comes from the other five.
    val warmQ = points.filterNot(_.parsed).head
    val setups = ctx.phase("setup")((1 to 6).map { _ =>
      val t0 = System.nanoTime()
      val o = new Open(ctx.span("reader.open")(Index.reader(spark, dir)))
      require(o.reader.stats.docCount > 0, "empty search index")
      val openS = (System.nanoTime() - t0) / 1e9
      val (_, firstS) = Stats.time(runQuery(ctx, o, warmQ, sim))
      (o, openS, firstS)
    })
    val o = setups.last._1
    rep.put("setup_s", Stats.median(setups.map(s => s._2 + s._3)), "s", setups.size)
    rep.put("cold_s", Stats.median(setups.tail.map(_._3)), "s", setups.size - 1)
    rep.put("reader_open_s", Stats.median(setups.map(_._2)), "s", setups.size)
    // untimed warm-up of the batch paths, which the point queries share:
    // a point query is a one-query flat search or tree search
    ctx.phase("warm-up") {
      runBatch(ctx, o, batches.head, tree = false, sim)
      runBatch(ctx, o, batches.head, tree = true, sim)
    }

    def checkPoint(q: GenQuery, hits: Array[ScoredDoc]): Boolean =
      wellFormed(hits.toSeq, q.spec.k) && q.needle.forall { t =>
        hits.map(h => docRows(h.docId)).toSet == needleRows(t)
      }

    // point phase: closed loop, one query at a time, in whole blocks of
    // the stream's eight shapes so every run weighs them alike; at least
    // two blocks. In traced runs every other block runs with tracing off,
    // for the overhead estimate.
    val pointBudget = ctx.seconds * 0.5
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val untracedLat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val docsScored = scala.collection.mutable.ArrayBuffer.empty[Long]
    val t0 = System.nanoTime()
    var i = 0
    while (i < points.size &&
        (i % Inputs.PointBlock != 0 || i < 2 * Inputs.PointBlock ||
          (System.nanoTime() - t0) / 1e9 < pointBudget)) {
      val q = points(i)
      ctx.tracer.on = ctx.traced && (i / Inputs.PointBlock) % 2 == 0
      val before = scored.value
      var hits: Array[ScoredDoc] = null
      val (_, s) = Stats.time(rep.check(s"point ${q.qid}") {
        hits = runQuery(ctx, o, q, sim)
        true
      })
      if (hits != null) rep.check(s"point ${q.qid} answer")(checkPoint(q, hits))
      if (ctx.tracer.on || !ctx.traced) { lat += s; docsScored += scored.value - before }
      else untracedLat += s
      i += 1
    }
    ctx.tracer.on = ctx.traced
    val pointN = i
    rep.put("point_p50_s", Stats.median(lat.toSeq), "s", lat.size)
    rep.put("point_p90_s", Stats.quantile(lat.toSeq, 0.9), "s", lat.size)
    rep.put("point_p95_s", Stats.quantile(lat.toSeq, 0.95), "s", lat.size)
    rep.put("op_p50_s", Stats.median(lat.toSeq), "s", lat.size)
    if (ctx.traced) {
      rep.put("trace.overhead_s", Stats.median(lat.toSeq) - Stats.median(untracedLat.toSeq),
        "s", lat.size + untracedLat.size)
      rep.put("bmw_scorer.docs_scored_per_query",
        docsScored.sum.toDouble / math.max(1, docsScored.size), "count", docsScored.size)
    }

    // batch phase: 20-query batches, alternating flat and tree execution,
    // in whole pairs, at least three
    val batchBudget = ctx.seconds - (System.nanoTime() - t0) / 1e9
    val flat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tree = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t1 = System.nanoTime()
    var b = 1
    while (b < batches.size &&
        (b % 2 == 0 || b < 7 || (System.nanoTime() - t1) / 1e9 < batchBudget)) {
      val batch = batches(b)
      val isTree = b % 2 == 0
      var hits: Array[ScoredDoc] = null
      val (_, s) = Stats.time(rep.check(s"batch ${batch.head.qid}") {
        hits = runBatch(ctx, o, batch, isTree, sim)
        true
      })
      if (hits != null) {
        val byQ = hits.toSeq.groupBy(_.qid)
        batch.foreach(q => rep.check(s"batch ${q.qid} answer")(
          wellFormed(byQ.getOrElse(q.qid, Nil).sortBy(h => (-h.score, h.docId)), q.spec.k)))
      }
      (if (isTree) tree else flat) += s
      b += 1
    }
    // queries per second of the median batch
    rep.put("batch_flat_qps", 20.0 / Stats.median(flat.toSeq), "1/s", flat.size * 20)
    rep.put("batch_tree_qps", 20.0 / Stats.median(tree.toSeq), "1/s", tree.size * 20)
    rep.put("ops_per_s", 20.0 / Stats.median((flat ++ tree).toSeq), "1/s",
      (flat.size + tree.size) * 20)
    rep.put("point_queries", pointN, "count", 1)

    // untimed: a seeded sample of both phases' queries must rank exactly
    // like the exhaustive NaiveSearch oracle
    ctx.tracer.on = false
    val tokens = spark.read.parquet(Prepare.tokensDir(ctx.cache))
    val stats = Prepare.loadStats(ctx.cache)
    val sample = Inputs.naiveSample(ctx.seed, points.take(pointN), 1) ++
      Inputs.naiveSample(ctx.seed + 1, batches.slice(1, b).flatten, 1)
    ctx.phase("naive-check")(sample.foreach { q =>
      rep.check(s"naive ${q.qid}") {
        val got = runQuery(ctx, o, q, Bm25()).map(h => (docRows(h.docId), h.score))
        val want = NaiveSearch.scoreQuery(tokens, q.spec, stats).collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
        Checks.sameRanking(got.toSeq, want.toSeq)
      }
    })
  }
}
