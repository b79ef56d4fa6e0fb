package graft.index

import graft._
import graft.core.{Analyzer, SmallFloatUtil}
import graft.corpus.CorpusGen
import graft.search.{NaiveSearch, QueryEngine, ReferenceQueries}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.reflect.io.Directory

/** Forwards to a real similarity and counts the docs it scores. */
final class CountingSim(inner: graft.core.Similarity,
    scored: org.apache.spark.util.LongAccumulator) extends graft.core.Similarity {
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

/** End-to-end suite (SURVEY.md §5.2 items 4-9): build a real index over the
  * deterministic synthetic corpus, then
  *   - rank-identity of the BMW engine vs the independent naive oracle on
  *     the full 20-query reference set (scores within 1e-9),
  *   - CheckIndex-style structural audit,
  *   - sha256 ingest invariant vs the generator manifest,
  *   - resume (kill-after-partial-snapshot) determinism,
  *   - hot-term skew salting correctness.
  */
class IndexEndToEndSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("graft-e2e")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val workDir = Files.createTempDirectory("graft_e2e").toString
  private val NumDocs = 1200L

  private lazy val corpusDir = {
    CorpusGen.ensure(spark, s"$workDir/corpus", NumDocs, numPartitions = 6)
    s"$workDir/corpus"
  }

  private lazy val indexDir: String = {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$corpusDir/corpus.parquet").as[SourceDoc]
    Index.build(corpus, s"$workDir/index",
      IndexConfig(hotTermDf = 400, targetPostingsPerSlice = 300,
        indexPositions = true), increments = 2)
    s"$workDir/index"
  }

  test("flagship: rank-identity vs naive oracle on the 20-query set") {
    import spark.implicits._
    val reader = Index.reader(spark, indexDir)

    // naive oracle over the corpus with the engine's docIds as keys
    // (join by identity columns; scoring stays fully independent)
    val corpus = spark.read.parquet(s"$corpusDir/corpus.parquet")
    val keyed = corpus.join(
      reader.docMeta.select($"docId", $"repo", $"path"), Seq("repo", "path"))
    val tokens = NaiveSearch.tokenTable(keyed, "docId", "content").cache()
    val stats = reader.stats

    // engine: all 20 queries in one pass
    val got = QueryEngine.search(reader, ReferenceQueries.all)
      .collect().groupBy(_.qid)
      .map { case (q, hits) =>
        q -> hits.sortBy(h => (-h.score, h.docId)).toSeq
      }

    val langByDoc = reader.docMeta.select($"docId", $"lang")
      .as[(Long, String)].collect().toMap

    for (q <- ReferenceQueries.all) {
      val naive: Seq[(Long, Double)] = q.langFilter match {
        case None =>
          NaiveSearch.scoreQuery(tokens, q, stats).as[(Long, Double)]
            .collect().toSeq
        case Some(lang) =>
          // oracle for filtered search: score then filter by lang, re-limit
          NaiveSearch.scoreQuery(tokens, q.copy(k = Int.MaxValue), stats)
            .as[(Long, Double)].collect().toSeq
            .filter(d => langByDoc(d._1) == lang).take(q.k)
      }
      val engine = got.getOrElse(q.qid, Seq.empty)
      assert(engine.map(_.docId) == naive.map(_._1),
        s"${q.qid}: rank mismatch\n engine=${engine.take(12)}\n naive=${naive.take(12)}")
      engine.zip(naive).foreach { case (e, (_, s)) =>
        assert(math.abs(e.score - s) < 1e-9, s"${q.qid}: score drift ${e.score} vs $s")
      }
    }

    // needle semantics: q02 hits exactly the planted rows
    val needleHits = got("q02")
    assert(needleHits.nonEmpty && needleHits.size <= 10)
    // q19/q20 empty
    assert(!got.contains("q19") || got("q19").isEmpty)
    assert(!got.contains("q20") || got("q20").isEmpty)
  }

  test("CheckIndex-style audit: df/posting-length/ordering/dict invariants") {
    import spark.implicits._
    val reader = Index.reader(spark, indexDir)
    val postings = reader.postings.collect()

    postings.foreach { tp =>
      val decoded = tp.blocks.flatMap { b =>
        val (ids, tfs, _) = graft.core.PostingBlocks.decode(b)
        assert(b.count == ids.length)
        assert(ids.head == b.firstDocId && ids.last == b.lastDocId)
        ids.zip(tfs)
      }
      assert(decoded.size.toLong == tp.df, s"df != postings length for ${tp.term}")
      assert(decoded.map(_._2.toLong).sum == tp.totalTf)
      // strictly increasing docIds across the row's blocks
      decoded.map(_._1).sliding(2).foreach {
        case Seq(a, b) => assert(a < b, s"docIds not increasing for ${tp.term}")
        case _ =>
      }
      assert(tp.blocks.forall(_.impactCount > 0))
    }

    // sum(tf) over postings == sum(tokenCount) over docmeta
    val ttfPostings = postings.map(_.totalTf).sum
    val ttfDocs = reader.docMeta.agg(sum($"tokenCount")).as[Long].head()
    assert(ttfPostings == ttfDocs)
    assert(reader.stats.docCount == NumDocs)
  }

  test("ingest invariant: sha256(content) matches generator manifest") {
    import spark.implicits._
    val reader = Index.reader(spark, indexDir)
    val manifest = spark.read.parquet(s"$corpusDir/manifest.parquet")
    val mismatched = reader.docMeta
      .join(manifest.withColumnRenamed("sha256", "expected"), Seq("repo", "path"))
      .where($"sha256" =!= $"expected")
      .count()
    assert(mismatched == 0)
    assert(manifest.count() == NumDocs)
  }

  test("resume: partial build + rerun == identical committed postings") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$corpusDir/corpus.parquet").as[SourceDoc]
    val cfg = IndexConfig(hotTermDf = 400, targetPostingsPerSlice = 300)

    val fullDir = s"$workDir/index_full"
    Index.build(corpus, fullDir, cfg, increments = 3)

    // simulate a crash: build only increment 0, then "restart".
    // Slice bounds must mirror Index.build's own increment slicing, which
    // depends on the session's scan-partition packing — compute, don't assume.
    val numParts = corpus.rdd.getNumPartitions
    val perInc = math.max(1, (numParts + 2) / 3)
    val resumeDir = s"$workDir/index_resume"
    val firstIncOnly = corpus.where(spark_partition_id() < perInc)
    Index.build(firstIncOnly, resumeDir, cfg, increments = 1)
    // rewrite manifest to mark it as increment 0 of the resumed build
    val snaps = SnapshotStore.read(resumeDir)
    SnapshotStore.write(resumeDir, snaps.map(_.copy(incrementId = 0)))
    Index.build(corpus, resumeDir, cfg, increments = 3) // resumes at inc 1

    def canonical(dir: String): Seq[(String, Int, Long, Long, Seq[Long])] = {
      Index.reader(spark, dir).postings.collect().toSeq
        .map(tp => (tp.term, tp.salt, tp.df, tp.totalTf,
          tp.blocks.flatMap(b => graft.core.PostingBlocks.decode(b)._1).toSeq))
        .sortBy(t => (t._1, t._5.headOption.getOrElse(0L)))
    }
    val a = canonical(fullDir)
    val b = canonical(resumeDir)
    assert(a.size == b.size)
    a.zip(b).foreach { case (x, y) => assert(x == y) }

    val rs = SnapshotStore.read(resumeDir)
    assert(rs.size == 3 && rs.forall(_.lineage.nonEmpty))
  }

  test("broadcast-join salting (hotMapMax=0) == driver-map salting, bit-identical") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$corpusDir/corpus.parquet").as[SourceDoc]
    // low hotTermDf so real salting happens; hotMapMax = 0 forces the
    // Right(hotDf) broadcast-join path for EVERY hot term
    val mapCfg = IndexConfig(hotTermDf = 400, targetPostingsPerSlice = 300)
    val joinCfg = mapCfg.copy(hotMapMax = 0)
    val mapDir = s"$workDir/index_salt_map"
    val joinDir = s"$workDir/index_salt_join"
    Index.build(corpus, mapDir, mapCfg)
    Index.build(corpus, joinDir, joinCfg)

    def canonical(dir: String): Seq[(String, Int, Long, Long, Seq[Long])] =
      Index.reader(spark, dir).postings.collect().toSeq
        .map(tp => (tp.term, tp.salt, tp.df, tp.totalTf,
          tp.blocks.flatMap(b => graft.core.PostingBlocks.decode(b)._1).toSeq))
        .sortBy(t => (t._1, t._2))
    val a = canonical(mapDir)
    val b = canonical(joinDir)
    assert(a.size == b.size, s"postings row counts differ: ${a.size} vs ${b.size}")
    a.zip(b).foreach { case (x, y) => assert(x == y) }
    // stats identical too (docmeta-observe path is shared)
    val (sa, sb) = (SnapshotStore.read(mapDir).head, SnapshotStore.read(joinDir).head)
    assert(sa.docCount == sb.docCount && sa.sumTotalTermFreq == sb.sumTotalTermFreq)
    assert(sa.docCount > 0 && sa.sumTotalTermFreq > 0)
  }

  test("delete-by-term tombstones + forceMerge compaction") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$corpusDir/corpus.parquet").as[SourceDoc]
    val cfg = IndexConfig(hotTermDf = 400, targetPostingsPerSlice = 300)
    val delDir = s"$workDir/index_del"
    Index.build(corpus, delDir, cfg, increments = 2)

    val q = graft.QuerySpec("needle", should = Seq("qzx_handler_77"))
    val before = graft.search.QueryEngine
      .search(Index.reader(spark, delDir), Seq(q)).collect()
    assert(before.nonEmpty)

    // tombstone the needle docs: searches must stop returning them
    val nDeleted = Index.deleteByTerm(spark, delDir, "qzx_handler_77")
    assert(nDeleted == before.length)
    val after = graft.search.QueryEngine
      .search(Index.reader(spark, delDir), Seq(q)).collect()
    assert(after.isEmpty, s"tombstoned docs still returned: ${after.toSeq}")
    // other queries still work and never return deleted docs
    val other = graft.search.QueryEngine
      .search(Index.reader(spark, delDir),
        Seq(graft.QuerySpec("o", should = Seq("return"), k = 1000))).collect()
    val deletedIds = before.map(_.docId).toSet
    assert(other.nonEmpty && !other.exists(h => deletedIds.contains(h.docId)))

    // a second delete appends its own DELTA generation (crash-safe pointer)
    val n2 = Index.deleteByTerm(spark, delDir, "ident_4999")
    assert(n2 > 0)
    assert(graft.search.QueryEngine.search(Index.reader(spark, delDir),
      Seq(graft.QuerySpec("n2", should = Seq("ident_4999")))).collect().isEmpty)
    // un-analyzed input is normalized like query parsing; a repeat delete
    // returns the same term's df again (content-idempotent delta)
    assert(Index.deleteByTerm(spark, delDir, "  QZX_Handler_77 ") == nDeleted)

    // compaction physically removes them and updates stats
    val totalDead = Index.reader(spark, delDir).tombstones.distinct().count()
    val compDir = s"$workDir/index_compacted"
    Index.compact(spark, delDir, compDir, cfg)
    val cr = Index.reader(spark, compDir)
    assert(cr.stats.docCount == NumDocs - totalDead)
    assert(!cr.hasTombstones)
    assert(graft.search.QueryEngine.search(cr, Seq(q)).collect().isEmpty)
    // audit: postings never reference a deleted docId
    val referenced = cr.postings.flatMap(tp =>
      tp.blocks.flatMap(b => graft.core.PostingBlocks.decode(b)._1)).collect().toSet
    assert(referenced.intersect(deletedIds).isEmpty)

    // the compacted index is itself delete-able and re-compactable
    val n3 = Index.deleteByTerm(spark, compDir, "ident_0000")
    assert(n3 > 0)
    val comp2 = s"$workDir/index_compacted2"
    Index.compact(spark, compDir, comp2, cfg)
    val cr2 = Index.reader(spark, comp2)
    assert(cr2.stats.docCount == NumDocs - totalDead - n3)
    assert(graft.search.QueryEngine.search(cr2,
      Seq(graft.QuerySpec("g", should = Seq("ident_0000")))).collect().isEmpty)
  }

  test("backup/restore: commit-point clone is incremental, isolated, live") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$corpusDir/corpus.parquet").as[SourceDoc]
    val cfg = IndexConfig(hotTermDf = 400, targetPostingsPerSlice = 300)
    val srcDir = s"$workDir/index_bak_src"
    Index.build(corpus, srcDir, cfg, increments = 2)
    // pre-backup delete: the backup must carry the tombstone generation
    val nDel = Index.deleteByTerm(spark, srcDir, "ident_4999")
    assert(nDel > 0)

    val bakDir = s"$workDir/backup1"
    Index.backup(srcDir, bakDir)
    // incremental: a re-backup skips increments already present — a
    // sentinel planted inside the backup survives (dir not re-copied)
    val sentinel = Paths.get(bakDir, "inc=0", "postings", "_SENTINEL")
    Files.write(sentinel, Array.emptyByteArray)
    Index.backup(srcDir, bakDir)
    assert(Files.exists(sentinel), "re-backup re-copied an immutable increment")
    Files.delete(sentinel)

    val restDir = s"$workDir/index_restored"
    Index.restore(bakDir, restDir)
    val rq = graft.QuerySpec("rq", should = Seq("return"), k = 50)
    val live = graft.search.QueryEngine
      .search(Index.reader(spark, srcDir), Seq(rq)).collect()
      .map(h => (h.docId, h.score)).sortBy(_._1).toSeq
    val rest = graft.search.QueryEngine
      .search(Index.reader(spark, restDir), Seq(rq)).collect()
      .map(h => (h.docId, h.score)).sortBy(_._1).toSeq
    assert(live == rest, "restored index diverges from the live commit point")
    // the pre-backup tombstones hold in the restore
    assert(graft.search.QueryEngine.search(Index.reader(spark, restDir),
      Seq(graft.QuerySpec("t", should = Seq("ident_4999")))).collect().isEmpty)

    // the backup is a PINNED commit point: a delete AFTER the backup must
    // not leak into a later restore of it
    assert(Index.deleteByTerm(spark, srcDir, "qzx_handler_77") > 0)
    val rest2 = s"$workDir/index_restored2"
    Index.restore(bakDir, rest2)
    assert(graft.search.QueryEngine.search(Index.reader(spark, rest2),
      Seq(graft.QuerySpec("n", should = Seq("qzx_handler_77")))).collect().nonEmpty)
    // ...until a fresh backup captures it
    Index.backup(srcDir, bakDir)
    val rest3 = s"$workDir/index_restored3"
    Index.restore(bakDir, rest3)
    assert(graft.search.QueryEngine.search(Index.reader(spark, rest3),
      Seq(graft.QuerySpec("n2", should = Seq("qzx_handler_77")))).collect().isEmpty)

    // restore refuses a dir that already has a manifest
    intercept[IllegalArgumentException] { Index.restore(bakDir, restDir) }
    // the restored index is live: delete-able like any index
    assert(Index.deleteByTerm(spark, restDir, "ident_0001") >= 0)

    // ...and COMPACTABLE: the clone must carry the kind=1 flush partials,
    // or compact would silently produce an empty index (regression: clones
    // used to copy only postings/termdict/docmeta)
    val restComp = s"$workDir/index_restored3_compacted"
    Index.compact(spark, rest3, restComp, cfg)
    val rc = Index.reader(spark, restComp)
    val compHits = graft.search.QueryEngine.search(rc,
      Seq(graft.QuerySpec("rc", should = Seq("return"), k = 50))).collect()
    assert(compHits.nonEmpty,
      "compacting a restored clone lost the postings")
    assert(rc.stats.docCount > 0 && rc.stats.docCount ==
      Index.reader(spark, rest3).stats.docCount -
        Index.reader(spark, rest3).tombstones.distinct().count())

    // a tailing replica pulls only the commit points it lacks: the base
    // build, then only the appended increment
    val leader = s"$workDir/index_repl_leader"
    val follower = s"$workDir/index_repl_follower"
    Index.build(corpus, leader, cfg)
    assert(Index.replicate(leader, follower)._2 == 1)
    Index.appendBatch(corpus.limit(50), leader, 1L, cfg)
    val (pulled, n2) = Index.replicate(leader, follower)
    assert(n2 == 1, s"second pull copied $n2 increments, want only the appended one")
    assert(pulled.map(_.incrementId) == Seq(0, 1))
  }

  test("duplicate MUST clauses do not mask a missing required term") {
    import spark.implicits._
    val reader = Index.reader(spark, indexDir)
    // 'zzznotaterm' absent: duplicated present term must not defeat the check
    val hits = graft.search.QueryEngine.search(reader,
      Seq(graft.QuerySpec("dup", must = Seq("while", "while", "zzznotaterm")))).collect()
    assert(hits.isEmpty)
    // duplicated present terms collapse to one clause (analyzeQuery dedupe —
    // documented deviation from Lucene's score-twice duplicate semantics,
    // keeping the engine oracle-identical) and still match
    val ok = graft.search.QueryEngine.search(reader,
      Seq(graft.QuerySpec("dup2", must = Seq("while", "while")))).collect()
    val single = graft.search.QueryEngine.search(reader,
      Seq(graft.QuerySpec("dup3", must = Seq("while")))).collect()
    assert(ok.nonEmpty)
    assert(ok.map(h => (h.docId, h.score)).toSeq ==
      single.map(h => (h.docId, h.score)).toSeq)
  }

  test("positional phrase: index-only match == raw-token-stream adjacency") {
    import spark.implicits._
    val reader = Index.reader(spark, indexDir)
    val corpus = spark.read.parquet(s"$corpusDir/corpus.parquet")
    val keyed = corpus.join(
      reader.docMeta.select($"docId", $"repo", $"path"), Seq("repo", "path"))
      .select($"docId", $"content").as[(Long, String)].collect()

    // pick a phrase that actually occurs: first adjacent distinct non-stop
    // token pair of the first doc
    val toks0 = Analyzer.tokenize(keyed.head._2)
    val pair = toks0.sliding(2).find(p => p(0) != p(1) &&
      !Analyzer.EnglishStopWords(p(0)) && !Analyzer.EnglishStopWords(p(1))).get
    val phrase = pair.toSeq

    def naiveExact(ts: Seq[String]): Set[Long] = keyed.iterator.filter {
      case (_, text) =>
        Analyzer.tokenize(text).sliding(ts.size).exists(_.sameElements(ts))
    }.map(_._1).toSet
    def naiveSloppy(a: String, b: String, slop: Int): Set[Long] =
      keyed.iterator.filter { case (_, text) =>
        val t = Analyzer.tokenize(text)
        val pa = t.indices.filter(t(_) == a)
        val pb = t.indices.filter(t(_) == b)
        pa.exists(x => pb.exists(y => math.abs(y - x - 1) <= slop))
      }.map(_._1).toSet

    val gotExact = QueryEngine.matchAllTerms(reader, phrase, slop = 0)
      .collect().toSet
    val expExact = naiveExact(phrase)
    assert(expExact.nonEmpty, s"chose a phrase with no occurrences: $phrase")
    assert(gotExact == expExact)

    val gotSloppy = QueryEngine.matchAllTerms(reader, phrase, slop = 2)
      .collect().toSet
    assert(gotSloppy == naiveSloppy(phrase(0), phrase(1), 2))
    assert(expExact.subsetOf(gotSloppy), "slop must only widen the match set")

    // unscored conjunction mode (slop < 0) == docs containing all terms
    val gotConj = QueryEngine.matchAllTerms(reader, phrase).collect().toSet
    val expConj = keyed.iterator.filter { case (_, text) =>
      val s = Analyzer.analyze(text).toSet
      phrase.forall(s)
    }.map(_._1).toSet
    assert(gotConj == expConj)
    assert(gotSloppy.subsetOf(gotConj))

    // stop-word hole: a phrase "w0 <stop> w2" must match at query offsets
    // (0, 2) against the hole-preserving index positions
    val triple = keyed.iterator.flatMap { case (_, text) =>
      Analyzer.tokenize(text).sliding(3).find(w =>
        Analyzer.EnglishStopWords(w(1)) &&
          !Analyzer.EnglishStopWords(w(0)) && !Analyzer.EnglishStopWords(w(2)) &&
          w(0) != w(2))
    }.toSeq.headOption
    triple.foreach { w =>
      val gotHole = QueryEngine.matchAllTerms(reader, w.toSeq, slop = 0)
        .collect().toSet
      // Lucene semantics: the stop word is NOT indexed, so the hole matches
      // ANY token at that position — "state of art" also matches
      // "state in art". The naive oracle mirrors that: w0 at i, w2 at i+2.
      val expHole = keyed.iterator.filter { case (_, text) =>
        val t = Analyzer.tokenize(text)
        t.indices.exists(i => t(i) == w(0) &&
          i + 2 < t.length && t(i + 2) == w(2))
      }.map(_._1).toSet
      assert(expHole.nonEmpty)
      assert(gotHole == expHole, s"hole-aware phrase mismatch for ${w.toSeq}")
      // and the strict interpretation is a subset of what we return
      val strict = keyed.iterator.filter { case (_, text) =>
        Analyzer.tokenize(text).sliding(3).exists(_.sameElements(w))
      }.map(_._1).toSet
      assert(strict.subsetOf(gotHole))
    }
    assert(triple.nonEmpty, "corpus unexpectedly has no <word stop word> triple")
  }

  test("distributed top-k merge is rank-identical to the driver merge") {
    val reader = Index.reader(spark, indexDir)
    def canon(hits: Array[ScoredDoc]) = hits.toSeq
      .groupBy(_.qid).view.mapValues(
        _.map(h => (h.docId, h.score)).sortBy(x => (-x._2, x._1))).toMap
    val viaDriver = canon(QueryEngine
      .search(reader, ReferenceQueries.all).collect())
    // mergeCollectMax = 0 forces every query through groupByKey(qid)
    val viaShuffle = canon(QueryEngine
      .search(reader, ReferenceQueries.all, mergeCollectMax = 0).collect())
    assert(viaDriver == viaShuffle)
  }

  test("compaction: distributed tombstone cogroup == broadcast path, positions survive") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$corpusDir/corpus.parquet").as[SourceDoc]
    // positions ON so compaction exercises the positional strip path
    val cfg = IndexConfig(hotTermDf = 400, targetPostingsPerSlice = 300,
      indexPositions = true)
    val baseDir = s"$workDir/index_cmp_base"
    Index.build(corpus, baseDir, cfg, increments = 2)
    // phrase witness BEFORE deletion (first adjacent non-stop pair of doc 0)
    val reader0 = Index.reader(spark, baseDir)
    val keyed = spark.read.parquet(s"$corpusDir/corpus.parquet").join(
      reader0.docMeta.select($"docId", $"repo", $"path"), Seq("repo", "path"))
      .select($"docId", $"content").as[(Long, String)].collect()
    val toks0 = Analyzer.tokenize(keyed.head._2)
    val phrase = toks0.sliding(2).find(p => p(0) != p(1) &&
      !Analyzer.EnglishStopWords(p(0)) && !Analyzer.EnglishStopWords(p(1))).get.toSeq

    val phraseBefore = QueryEngine.matchAllTerms(
      Index.reader(spark, baseDir), phrase, slop = 0).collect().toSet
    val deleted = QueryEngine.search(Index.reader(spark, baseDir),
      Seq(graft.QuerySpec("d", should = Seq("qzx_handler_77"), k = 1000)))
      .collect().map(_.docId).toSet
    val nDel = Index.deleteByTerm(spark, baseDir, "qzx_handler_77")
    assert(nDel > 0)

    def canonical(dir: String) = {
      val cr = Index.reader(spark, dir)
      (cr.stats,
        cr.postings.collect().toSeq
          .map(tp => (tp.term, tp.df, tp.totalTf,
            tp.blocks.flatMap(b => graft.core.PostingBlocks.decode(b)._1).toSeq))
          .sortBy(t => (t._1, t._4.headOption.getOrElse(0L))))
    }
    // broadcast path (default threshold) vs forced distributed cogroup
    val viaB = s"$workDir/index_cmp_bcast"
    val viaD = s"$workDir/index_cmp_dist"
    Index.compact(spark, baseDir, viaB, cfg)
    Index.compact(spark, baseDir, viaD, cfg, tombstoneBroadcastMax = 0L)
    val (statsB, postB) = canonical(viaB)
    val (statsD, postD) = canonical(viaD)
    assert(statsB == statsD)
    assert(postB == postD, "distributed tombstone path diverged from broadcast")

    // positional phrase still answers identically on the compacted index
    // (deleted docs removed; stripDeleted preserved surviving positions)
    val phraseAfter = QueryEngine.matchAllTerms(
      Index.reader(spark, viaD), phrase, slop = 0).collect().toSet
    assert(phraseAfter == (phraseBefore -- deleted))
    assert(phraseAfter.nonEmpty)
  }

  test("minimumNumberShouldMatch: engine == naive oracle, filter bites") {
    import spark.implicits._
    val reader = Index.reader(spark, indexDir)
    val corpus = spark.read.parquet(s"$corpusDir/corpus.parquet")
    val keyed = corpus.join(
      reader.docMeta.select($"docId", $"repo", $"path"), Seq("repo", "path"))
    val tokens = NaiveSearch.tokenTable(keyed, "docId", "content").cache()
    val stats = reader.stats
    // three mid-df terms so mm=2 actually prunes
    val pick = tokens.groupBy($"term").agg(countDistinct($"docId").as("df"))
      .where($"df" > 20 && $"df" < 800).orderBy(desc("df"), asc("term"))
      .as[(String, Long)].take(3).map(_._1).toSeq
    assert(pick.size == 3)
    for (mm <- Seq(0, 2, 3)) {
      val q = graft.QuerySpec(s"mm$mm", should = pick, minShouldMatch = mm, k = 40)
      val engine = QueryEngine.search(reader, Seq(q)).collect()
        .sortBy(h => (-h.score, h.docId))
      val naive = NaiveSearch.scoreQuery(tokens, q, stats)
        .as[(Long, Double)].collect()
      assert(engine.map(_.docId).toSeq == naive.map(_._1).toSeq, s"mm=$mm")
      engine.zip(naive).foreach { case (e, (_, s)) =>
        assert(math.abs(e.score - s) < 1e-9)
      }
    }
    // conjunction path: must + mm over shoulds
    val qc = graft.QuerySpec("mmc", must = pick.take(1),
      should = pick.drop(1), minShouldMatch = 1, k = 40)
    val ec = QueryEngine.search(reader, Seq(qc)).collect()
      .sortBy(h => (-h.score, h.docId))
    val nc = NaiveSearch.scoreQuery(tokens, qc, stats).as[(Long, Double)].collect()
    assert(ec.map(_.docId).toSeq == nc.map(_._1).toSeq)
  }

  test("ClassicSimilarity through the WAND engine: rank-identity vs naive TF-IDF") {
    import spark.implicits._
    val reader = Index.reader(spark, indexDir)
    val corpus = spark.read.parquet(s"$corpusDir/corpus.parquet")
    val keyed = corpus.join(
      reader.docMeta.select($"docId", $"repo", $"path"), Seq("repo", "path"))
    val tokens = NaiveSearch.tokenTable(keyed, "docId", "content").cache()
    val stats = reader.stats
    val pick = tokens.groupBy($"term").agg(countDistinct($"docId").as("df"))
      .where($"df" > 20 && $"df" < 800).orderBy(desc("df"), asc("term"))
      .as[(String, Long)].take(2).map(_._1).toSeq

    val engine = QueryEngine.search(reader,
        Seq(graft.QuerySpec("cl", should = pick, k = 30)),
        sim = graft.core.ClassicSimilarity())
      .collect().sortBy(h => (-h.score, h.docId))

    // independent TF-IDF oracle in plain Catalyst expressions
    val n = stats.docCount
    val dfT = tokens.where($"term".isin(pick: _*))
      .groupBy($"term").agg(countDistinct($"docId").as("df"))
    val naive = tokens.where($"term".isin(pick: _*))
      .join(broadcast(dfT), "term")
      .withColumn("qdl",
        graft.functions.GraftFunctions.graft_quantized_dl($"tokenCount"))
      .withColumn("idf", lit(1.0) + log(lit(n + 1.0) / ($"df" + lit(1.0))))
      .withColumn("ts", $"idf" * sqrt($"tf") / sqrt($"qdl"))
      .groupBy($"docId").agg(sum($"ts").as("score"))
      .orderBy(desc("score"), asc("docId")).limit(30)
      .as[(Long, Double)].collect()

    assert(engine.nonEmpty)
    assert(engine.map(_.docId).toSeq == naive.map(_._1).toSeq)
    engine.zip(naive).foreach { case (e, (_, s)) =>
      assert(math.abs(e.score - s) < 1e-9, s"classic score drift ${e.score} vs $s")
    }
  }

  test("updateByTerm: delete+add commits atomically, read-your-writes") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$corpusDir/corpus.parquet").as[SourceDoc]
    val cfg = IndexConfig(hotTermDf = 400, targetPostingsPerSlice = 300)
    val updDir = s"$workDir/index_upd"
    Index.build(corpus, updDir, cfg, increments = 1)

    val before = QueryEngine.search(Index.reader(spark, updDir),
      Seq(graft.QuerySpec("n", should = Seq("qzx_handler_77"), k = 100))).collect()
    assert(before.nonEmpty)

    val replacement = Seq(SourceDoc("repoX", "new/path.scala", "c0", "scala",
      "object Replacement { val qzx_handler_77 = updated_marker_v2 }")).toDS()
    Index.updateByTerm(spark, updDir, "qzx_handler_77", replacement, cfg)

    val r1 = Index.reader(spark, updDir)
    val after = QueryEngine.search(r1,
      Seq(graft.QuerySpec("n", should = Seq("qzx_handler_77"), k = 100))).collect()
    // exactly the new version matches; no old version co-ranks
    assert(after.length == 1)
    val newId = after.head.docId
    assert(!before.map(_.docId).contains(newId))
    val marker = QueryEngine.search(r1,
      Seq(graft.QuerySpec("m", should = Seq("updated_marker_v2")))).collect()
    assert(marker.map(_.docId).toSeq == Seq(newId))
  }

  test("appendBatch refuses batch ids that would alias committed docIds") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$corpusDir/corpus.parquet").as[SourceDoc]
    val cfg = IndexConfig(hotTermDf = 400, targetPostingsPerSlice = 300)
    val dir = s"$workDir/index_guard"
    val slice = corpus.limit(50)
    Index.build(slice, dir, cfg)
    // batch 2 lives at docPartitions >= 8192 — fine
    Index.appendBatch(corpus.limit(10), dir, 2L, cfg)
    // batch 1 (base 4096) is now BELOW the committed max docPartition
    val ex = intercept[IllegalArgumentException] {
      Index.appendBatch(corpus.limit(10), dir, 1L, cfg)
    }
    assert(ex.getMessage.contains("docPartition"))
    // updateByTerm picks a safe id on its own (above batch 2's range)
    val upd = Seq(SourceDoc("r", "p", "c", "en",
      "guard_marker_token qzx_handler_77")).toDS()
    Index.updateByTerm(spark, dir, "qzx_handler_77", upd, cfg)
    val hits = QueryEngine.search(Index.reader(spark, dir),
      Seq(graft.QuerySpec("g", should = Seq("guard_marker_token")))).collect()
    assert(hits.length == 1)
  }

  /** Two snapshots (build, then appendBatch) with `repo` field terms, plus
    * a reader opened between the two commits and never used before the
    * append. Returns (indexDir, that reader, the appended docs' contents).
    */
  private lazy val twoSnapshotIndex: (String, Index.Reader, Seq[String]) = {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$corpusDir/corpus.parquet").as[SourceDoc]
    val cfg = IndexConfig(hotTermDf = 400, targetPostingsPerSlice = 300,
      extraFields = Seq("repo"))
    val dir = s"$workDir/index_term_stats"
    val appended = pmod(crc32($"path"), lit(3)) === 0
    Index.build(corpus.where(!appended), dir, cfg)
    val opened = Index.reader(spark, dir)
    val batch = corpus.where(appended)
    Index.appendBatch(batch, dir, 1L, cfg)
    (dir, opened, batch.map(_.content).collect().toSeq)
  }

  test("term stats: lookups run no Spark job and equal the termdict aggregate") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val r = Index.reader(spark, twoSnapshotIndex._1)
    assert(r.snapshots.size == 2)
    // reference: the Spark aggregate the reader used to run per lookup
    val ref = r.termDict.groupBy($"term").agg(sum($"df"), sum($"ttf"))
      .as[(String, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    val inBoth = r.snapshots.map(s => spark.read.parquet(s.termDictDir)
      .select($"term").as[String].collect().toSet).reduce(_ intersect _)
    assert(inBoth.contains("return"))
    val repoPrefix = FieldOf.prefixed("repo", "")
    val repoTtf = ref.collect { case (t, (_, ttf)) if t.startsWith(repoPrefix) => ttf }.sum
    assert(repoTtf > 0)

    r.termStatsMap(Seq("while")) // warm-up: the one load per reader
    val probe = "graft.test.termStatsProbe"
    val jobs = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(probe)))
          .foreach(jobs.put)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val (got, repoStats) = try {
      sc.setLocalProperty(probe, "lookup")
      val got = r.termStatsMap(ref.keys.toSeq :+ "zzznotaterm")
      val repoStats = r.fieldStats("repo")
      // a fence job: the listener bus delivers job starts in order, so
      // every lookup job has been seen once the fence has
      sc.setLocalProperty(probe, "fence")
      sc.parallelize(Seq(1), 1).count()
      var seen = List.empty[String]
      var tag = jobs.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      while (tag != "fence") {
        assert(tag != null, "listener never saw the fence job")
        seen ::= tag
        tag = jobs.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      assert(seen.isEmpty, s"${seen.size} Spark job(s) ran for warm term-stats lookups")
      (got, repoStats)
    } finally {
      sc.setLocalProperty(probe, null)
      sc.removeSparkListener(listener)
    }

    // every dictionary term (`return` in both snapshots, the repo-prefixed
    // terms) plus an unknown one at (0, 0)
    assert(got == ref + ("zzznotaterm" -> ((0L, 0L))))
    assert(repoStats == IndexStats(r.stats.docCount, repoTtf))
  }

  test("term stats: a reader sees the snapshots committed when it was opened") {
    val (dir, opened, appended) = twoSnapshotIndex
    val terms = Seq("return", "while")
    val batchDf = terms.map(t =>
      t -> appended.count(c => Analyzer.analyze(c).contains(t)).toLong).toMap
    assert(batchDf.values.forall(_ > 0))
    val base = Index.reader(spark, dir).snapshots.head
    assert(opened.snapshots == Seq(base))
    assert(opened.stats.docCount == base.docCount)
    // first lookup on `opened` comes after the append: its table must
    // still hold only the base snapshot's counts
    val before = opened.termDfs(terms)
    val after = Index.reader(spark, dir)
    assert(after.stats.docCount == base.docCount + appended.size)
    assert(after.termDfs(terms) == terms.map(t => t -> (before(t) + batchDf(t))).toMap)
  }

  test("skew: salted merge splits hot terms, bounded slices, correct union") {
    import spark.implicits._
    // every doc contains `return` (Keywords pool) -> df == NumDocs > hotTermDf
    val reader = Index.reader(spark, indexDir)
    val hot = reader.postings.where($"term" === "return").collect()
    assert(hot.length > 1, "hot term should be salted into multiple slices")
    // slices are docId-disjoint and their union is every doc containing it
    val ranges = hot.map { tp =>
      val ids = tp.blocks.flatMap(b => graft.core.PostingBlocks.decode(b)._1)
      (ids.min, ids.max, ids)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array(a, b) => assert(a._2 < b._1, "slices overlap")
      case _ =>
    }
    // no slice materializes more than ~targetPostingsPerSlice * 2 postings
    assert(hot.forall(_.df <= 600 * 2))
    val unionDf = hot.map(_.df).sum
    val naiveDf = spark.read.parquet(s"$corpusDir/corpus.parquet")
      .where($"content".contains("return")).count()
    assert(unionDf == naiveDf)
  }

  test("RAM-budget chunked flush: decoded postings identical to the unchunked build") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$corpusDir/corpus.parquet").as[SourceDoc]
    val cfg = IndexConfig(hotTermDf = 400, targetPostingsPerSlice = 300,
      indexPositions = true)
    val offDir = s"$workDir/index_chunk_off"
    val onDir = s"$workDir/index_chunk_on"
    Index.build(corpus, offDir, cfg.copy(flushRamBytes = Long.MaxValue))
    // ~800 KB of postings per 200-doc scan partition, so a 100 KB budget
    // forces many chunks per task — the sf1 live-set-bounding path
    Index.build(corpus, onDir, cfg.copy(flushRamBytes = 100000L))

    // chunking really happened: some (term, docPartition) key carries
    // multiple partials in the flushed segments
    val dup = spark.read.parquet(s"$onDir/inc=0/segments")
      .where($"kind" === 1)
      .groupBy($"partial.term", $"partial.docPartition")
      .count().where($"count" > 1).count()
    assert(dup > 0, "expected multiple flush chunks per scan partition")

    // identical decoded postings: same (term, salt) universe (=> same hot
    // set despite per-chunk dfs all sitting below the local threshold),
    // same docIds/tfs/norms/positions in the same order
    def canonical(dir: String) = Index.reader(spark, dir).postings.collect().toSeq
      .map { tp =>
        val decoded = tp.blocks.map(b => graft.core.PostingBlocks.decode(b))
        val pos = tp.blocks.flatMap { b =>
          val ps = graft.core.PostingBlocks.decodePositions(
            b, graft.core.PostingBlocks.decode(b)._2)
          if (ps == null) Seq.empty else ps.toSeq.map(_.toSeq)
        }
        ((tp.term, tp.salt), (tp.df, tp.totalTf,
          decoded.flatMap(_._1).toSeq, decoded.flatMap(_._2).toSeq,
          decoded.flatMap(_._3).toSeq, pos))
      }.sortBy(_._1)
    val a = canonical(offDir)
    val b = canonical(onDir)
    assert(a.map(_._1) == b.map(_._1), "term/salt universe differs")
    a.zip(b).foreach { case (x, y) => assert(x == y, s"mismatch at ${x._1}") }
  }

  // ---- round 3: compositional clause-tree execution --------------------------

  test("clause tree: flat boolean shapes are rank-identical to the WAND path") {
    import graft.search.{ClauseNode, QueryLowering}
    import ClauseNode._
    val reader = Index.reader(spark, indexDir)
    def canon(hits: Array[ScoredDoc]): Seq[(Long, Long)] = hits.toSeq
      .map(h => (h.docId, math.round(h.score * 1e9))).sortBy(x => (-x._2, x._1))
    // (flat QuerySpec, equivalent tree) pairs over disjoint term sets
    val cases: Seq[(QuerySpec, ClauseNode)] = Seq(
      (QuerySpec("t1", should = Seq("return", "yield", "match"), k = 20),
        BoolNode(should = Seq(TermNode("return"), TermNode("yield"), TermNode("match")))),
      (QuerySpec("t2", must = Seq("class", "extends"), k = 20),
        BoolNode(must = Seq(TermNode("class"), TermNode("extends")))),
      (QuerySpec("t3", must = Seq("import"), mustNot = Seq("catch"), k = 20),
        BoolNode(must = Seq(TermNode("import")),
          mustNot = Seq(TermNode("catch")))),
      (QuerySpec("t4", should = Seq("struct", "enum"), k = 20,
        boosts = Map("struct" -> 2.5)),
        BoolNode(should = Seq(TermNode("struct", 2.5), TermNode("enum")))),
      (QuerySpec("t5", should = Seq("func", "chan", "defer"), k = 20,
        minShouldMatch = 2),
        BoolNode(should = Seq(TermNode("func"), TermNode("chan"), TermNode("defer")),
          minShouldMatch = 2)),
      // k above the filtered hit count: docs of the lang matching no term
      // must not surface with score 0
      (QuerySpec("t6", should = Seq("yield", "match"), langFilter = Some("scala"),
        k = 1000),
        BoolNode(must = Seq(BoolNode(should = Seq(TermNode("yield"), TermNode("match"))),
          LangNode("scala")))))
    // flat-shaped trees are routed to the WAND plan; one level down, as the
    // sole MUST clause of a wrapper (which scores exactly its clause), the
    // same tree stays on the exhaustive ClauseScorers plan
    def exhaustive(tree: ClauseNode): ClauseNode = BoolNode(must = Seq(tree))
    for ((flat, tree) <- cases) {
      assert(QueryEngine.treeOf(flat) == tree, s"${flat.qid}: treeOf")
      val viaWand = canon(QueryEngine.search(reader, Seq(flat)).collect())
      val viaTree = canon(QueryEngine.searchTree(reader, flat.qid, tree, flat.k).collect())
      assert(viaTree == viaWand, s"${flat.qid}: tree != WAND")
      val viaScorers = canon(QueryEngine.searchTree(reader, flat.qid,
        exhaustive(tree), flat.k).collect())
      assert(viaScorers.nonEmpty && viaScorers == viaWand,
        s"${flat.qid}: exhaustive tree != WAND")
    }

    // BATCHED: all 6 trees through ONE searchTrees call (one shared scan)
    // must equal the per-tree runs exactly
    val batch = cases.map { case (flat, tree) => TreeQuery(flat.qid, tree, flat.k) }
    val batched = QueryEngine.searchTrees(reader, batch).collect()
      .groupBy(_.qid).map { case (q, hits) => q -> canon(hits) }
    for ((flat, tree) <- cases)
      assert(batched(flat.qid) ==
        canon(QueryEngine.searchTree(reader, flat.qid, tree, flat.k).collect()),
        s"${flat.qid}: batched != single")

    // the FULL 20-query reference set through treeOf + one batched job ==
    // the WAND path per query (covers langFilter -> LangNode and boosts)
    val refTrees = graft.search.ReferenceQueries.all
      .filter(_.dismaxTiebreak.isEmpty).map { q0 =>
        val q = QueryEngine.analyzeQuery(q0, Analyzer.EnglishStopWords)
        TreeQuery(q.qid, QueryEngine.treeOf(q), q.k)
      }
    val refBatched = QueryEngine.searchTrees(reader, refTrees).collect()
      .groupBy(_.qid).map { case (q, hits) => q -> canon(hits) }
      .withDefaultValue(Seq.empty)
    val refWand = QueryEngine.search(reader,
      graft.search.ReferenceQueries.all.filter(_.dismaxTiebreak.isEmpty))
      .collect().groupBy(_.qid).map { case (q, hits) => q -> canon(hits) }
      .withDefaultValue(Seq.empty)
    val refExhaustive = QueryEngine.searchTrees(reader,
      refTrees.map(t => t.copy(root = exhaustive(t.root)))).collect()
      .groupBy(_.qid).map { case (q, hits) => q -> canon(hits) }
      .withDefaultValue(Seq.empty)
    for (q <- refTrees) {
      assert(refBatched(q.qid) == refWand(q.qid),
        s"${q.qid}: batched treeOf != WAND")
      assert(refExhaustive(q.qid) == refWand(q.qid),
        s"${q.qid}: exhaustive treeOf != WAND")
    }
  }

  test("routing: a flat-shaped tree scores exactly the docs its spec scores") {
    import spark.implicits._
    import graft.search.ClauseNode._
    // one corpus partition == one docId bucket == one scoring task, so how
    // far WAND prunes does not depend on theta shared by sibling tasks
    CorpusGen.ensure(spark, s"$workDir/corpus_one_bucket", 600, numPartitions = 1)
    val dir = s"$workDir/index_one_bucket"
    Index.build(spark.read.parquet(s"$workDir/corpus_one_bucket/corpus.parquet")
      .as[SourceDoc], dir, IndexConfig())
    val reader = Index.reader(spark, dir)
    val scored = spark.sparkContext.longAccumulator("docs_scored")
    val sim = new CountingSim(graft.core.Bm25(), scored)
    def run(hits: => Array[ScoredDoc]): (Seq[(Long, Double)], Long) = {
      scored.reset()
      (hits.toSeq.map(h => (h.docId, h.score)).sortBy(h => (-h._2, h._1)), scored.value)
    }
    val q = QuerySpec("w", should = Seq("return", "class", "import"),
      mustNot = Seq("catch"), k = 5)
    val tree = BoolNode(should = Seq(TermNode("return"), TermNode("class"),
      TermNode("import")), mustNot = Seq(TermNode("catch")))
    val (flatHits, flatScored) = run(QueryEngine.search(reader, Seq(q), sim).collect())
    val (treeHits, treeScored) =
      run(QueryEngine.searchTree(reader, "w", tree, q.k, sim).collect())
    val sumDf = reader.termStatsMap(q.should).values.map(_._1).sum
    assert(flatHits.size == q.k && treeHits == flatHits)
    assert(flatScored < sumDf, s"WAND scored $flatScored of $sumDf postings")
    assert(treeScored == flatScored,
      s"tree scored $treeScored docs, its flat spec $flatScored")
  }

  test("clause tree at k=200k: distributed merge is rank-identical to the driver collect") {
    import graft.search.ClauseNode._
    val reader = Index.reader(spark, indexDir)
    val tree = BoolNode(should =
      Seq(TermNode("return"), TermNode("class"), TermNode("import")))
    def canon(hits: Array[ScoredDoc]): Seq[(Long, Long)] = hits.toSeq
      .map(h => (h.docId, math.round(h.score * 1e9))).sortBy(x => (-x._2, x._1))
    val k = 200000 // > MergeCollectMax: flips searchTrees to the
                   // groupByKey(qid) bounded-heap merge (VERDICT r3 wrong-3)
    val distributed = canon(QueryEngine.searchTrees(reader,
      Seq(TreeQuery("big", tree, k))).collect())
    val driverSide = canon(QueryEngine.searchTrees(reader,
      Seq(TreeQuery("big", tree, k)), mergeCollectMax = Long.MaxValue).collect())
    assert(distributed.nonEmpty && distributed == driverSide,
      s"distributed merge diverged: ${distributed.size} vs ${driverSide.size}")
  }

  test("clause tree: nested boolean (a AND b) OR c matches an independent naive computation") {
    import spark.implicits._
    import graft.search.ClauseNode._
    val reader = Index.reader(spark, indexDir)
    val (a, b, c) = ("class", "extends", "defer")
    val tree = BoolNode(should = Seq(
      BoolNode(must = Seq(TermNode(a), TermNode(b))), TermNode(c)))
    val hits = QueryEngine.searchTree(reader, "nest", tree, k = 30).collect()
      .map(h => h.docId -> h.score).toMap

    // independent: per-doc tf from raw text, idf from counted dfs, BM25 by
    // the published formula, combine per the tree semantics
    val corpus = spark.read.parquet(s"$corpusDir/corpus.parquet")
    val keyed = corpus.join(
      reader.docMeta.select($"docId", $"repo", $"path"), Seq("repo", "path"))
      .select($"docId", $"content").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val stats = reader.stats
    val bm = graft.core.Bm25()
    val cache = bm.normCache(stats.avgdl)
    def tfOf(text: String): Map[String, Int] =
      Analyzer.analyze(text).groupBy(identity).view.mapValues(_.length).toMap
    val tfs = keyed.map { case (id, text) => id -> tfOf(text) }
    val dfs = Seq(a, b, c).map(t => t -> tfs.count(_._2.contains(t)).toLong).toMap
    val expected = tfs.flatMap { case (id, tf) =>
      val nb = SmallFloatUtil.intToByte4(tf.values.sum)
      def s(t: String): Double =
        bm.score(bm.idf(dfs(t), stats.docCount), tf(t), nb, cache)
      val inner = if (tf.contains(a) && tf.contains(b)) Some(s(a) + s(b)) else None
      val cPart = if (tf.contains(c)) Some(s(c)) else None
      if (inner.isEmpty && cPart.isEmpty) None
      else Some(id -> (inner.getOrElse(0.0) + cPart.getOrElse(0.0)))
    }.sortBy { case (id, sc) => (-sc, id) }.take(30)
    assert(expected.nonEmpty)
    for ((id, sc) <- expected) {
      assert(hits.contains(id), s"doc $id missing from tree result")
      assert(math.abs(hits(id) - sc) < 1e-9, s"doc $id: ${hits(id)} != $sc")
    }
  }

  test("clause tree: SynonymQuery blends stats (tf sum, df max) like an independent naive computation") {
    import spark.implicits._
    import graft.search.ClauseNode._
    val reader = Index.reader(spark, indexDir)
    val (a, b) = ("class", "defer")
    val hits = QueryEngine.searchTree(reader, "syn", SynNode(Seq(a, b)), k = 30)
      .collect().map(h => h.docId -> h.score).toMap

    // config-driven wiring: the same SynNode must come out of the parser
    // when a synonym map is supplied (VERDICT r3 next-4), and execute to
    // the same ranking as the hand-built node
    val viaConfig = graft.search.QueryLowering.parseAndLower(
      reader, a, synonyms = Map(a -> Seq(b)))
    assert(viaConfig == SynNode(Seq(a, b)),
      s"synonym config did not lower to a SynNode: $viaConfig")
    val cfgHits = QueryEngine.searchTree(reader, "syn", viaConfig, k = 30)
      .collect().map(h => h.docId -> h.score).toMap
    assert(cfgHits == hits)

    val corpus = spark.read.parquet(s"$corpusDir/corpus.parquet")
    val keyed = corpus.join(
      reader.docMeta.select($"docId", $"repo", $"path"), Seq("repo", "path"))
      .select($"docId", $"content").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val stats = reader.stats
    val bm = graft.core.Bm25()
    val cache = bm.normCache(stats.avgdl)
    def tfOf(text: String): Map[String, Int] =
      Analyzer.analyze(text).groupBy(identity).view.mapValues(_.length).toMap
    val tfs = keyed.map { case (id, text) => id -> tfOf(text) }
    val dfs = Seq(a, b).map(t => t -> tfs.count(_._2.contains(t)).toLong).toMap
    assert(dfs(a) != dfs(b), "pick terms with different dfs for a meaningful test")
    // SynonymQuery blended stats: ONE idf from the max df, ONE freq = sum
    val w = bm.idf(dfs.values.max, stats.docCount)
    val expected = tfs.flatMap { case (id, tf) =>
      val freq = tf.getOrElse(a, 0) + tf.getOrElse(b, 0)
      if (freq == 0) None
      else {
        val nb = SmallFloatUtil.intToByte4(tf.values.sum)
        Some(id -> bm.scoreFreq(w, freq.toDouble, cache(nb & 0xff)))
      }
    }.sortBy { case (id, sc) => (-sc, id) }.take(30)
    assert(expected.nonEmpty)
    for ((id, sc) <- expected) {
      assert(hits.contains(id), s"doc $id missing from synonym result")
      assert(math.abs(hits(id) - sc) < 1e-9, s"doc $id: ${hits(id)} != $sc")
    }
  }

  test("clause tree: scored exact + sloppy phrase freq matches a naive position scan") {
    import spark.implicits._
    import graft.search.ClauseNode._
    val reader = Index.reader(spark, indexDir)
    val corpus = spark.read.parquet(s"$corpusDir/corpus.parquet")
    val keyed = corpus.join(
      reader.docMeta.select($"docId", $"repo", $"path"), Seq("repo", "path"))
      .select($"docId", $"content").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // deterministic phrase: the corpus's first two adjacent non-stop tokens
    val toks0 = Analyzer.tokenize(keyed.minBy(_._1)._2)
    val Seq(pa, pb) = toks0.take(2).toSeq
    assert(!Analyzer.EnglishStopWords(pa) && !Analyzer.EnglishStopWords(pb))

    val stats = reader.stats
    val bm = graft.core.Bm25()
    val cache = bm.normCache(stats.avgdl)
    // naive: raw token positions (stop words keep their slot), freq by a
    // plain nested loop (no PhraseMatcher), BM25 scoreFreq by formula
    def posOf(text: String, t: String): Array[Int] =
      Analyzer.tokenize(text).zipWithIndex.filter(_._1 == t).map(_._2)
    def naive(slop: Int): Map[Long, Double] = {
      val dfa = keyed.count(k => posOf(k._2, pa).nonEmpty).toLong
      val dfb = keyed.count(k => posOf(k._2, pb).nonEmpty).toLong
      val w = bm.idf(dfa, stats.docCount) + bm.idf(dfb, stats.docCount)
      keyed.flatMap { case (id, text) =>
        val (xs, ys) = (posOf(text, pa), posOf(text, pb))
        val freq: Double =
          if (slop == 0) xs.count(p => ys.contains(p + 1)).toDouble
          else xs.map { p =>
            if (ys.isEmpty) Int.MaxValue.toDouble
            else ys.map(y => math.abs(y - (p + 1))).min.toDouble
          }.filter(_ <= slop).map(d => 1.0 / (d + 1.0)).sum
        if (freq <= 0 || xs.isEmpty || ys.isEmpty) None
        else {
          val dl = Analyzer.analyze(text).length
          val nb = SmallFloatUtil.intToByte4(dl)
          Some(id -> (w * freq / (freq + cache(nb & 0xff))))
        }
      }.toMap
    }
    for (slop <- Seq(0, 2)) {
      val tree = PhraseNode(Seq(pa, pb), Seq(0, 1), slop)
      val hits = QueryEngine.searchTree(reader, s"ph$slop", tree, k = 25).collect()
      val expTop = naive(slop).toSeq.sortBy { case (id, sc) => (-sc, id) }.take(25)
      assert(hits.nonEmpty, s"slop=$slop found nothing")
      val got = hits.map(h => (h.docId, math.round(h.score * 1e9)))
        .sortBy(x => (-x._2, x._1)).toSeq
      val want = expTop.map { case (id, sc) => (id, math.round(sc * 1e9)) }
      assert(got == want, s"slop=$slop: $got != $want")
    }
  }

  test("span-first window (term + exact phrase) matches a naive position scan") {
    import spark.implicits._
    val reader = Index.reader(spark, indexDir)
    val corpus = spark.read.parquet(s"$corpusDir/corpus.parquet")
    val keyed = corpus.join(
      reader.docMeta.select($"docId", $"repo", $"path"), Seq("repo", "path"))
      .select($"docId", $"content").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val toks0 = Analyzer.tokenize(keyed.minBy(_._1)._2)
    val Seq(pa, pb) = toks0.take(2).toSeq
    val end = 25
    // single-term span: an occurrence at raw position p with p + 1 <= end
    val gotTerm = QueryEngine.matchAllTerms(reader, Seq(pa), spanEnd = end)
      .collect().sorted.toSeq
    val wantTerm = keyed.filter { case (_, text) =>
      Analyzer.tokenize(text).take(end).contains(pa)
    }.map(_._1).sorted.toSeq
    assert(wantTerm.nonEmpty)
    assert(gotTerm == wantTerm)
    // phrase span: anchor p with tok(p)=pa, tok(p+1)=pb, p + 2 <= end
    val gotPh = QueryEngine.matchAllTerms(reader, Seq(pa, pb), spanEnd = end)
      .collect().sorted.toSeq
    val wantPh = keyed.filter { case (_, text) =>
      val ts = Analyzer.tokenize(text)
      ts.zipWithIndex.exists { case (t, i) =>
        t == pa && i + 2 <= end && i + 1 < ts.length && ts(i + 1) == pb
      }
    }.map(_._1).sorted.toSeq
    assert(wantPh.nonEmpty)
    assert(gotPh == wantPh)
    // tighter window prunes: every tighter-window hit is a wider-window hit
    val tight = QueryEngine.matchAllTerms(reader, Seq(pa), spanEnd = 3)
      .collect().toSet
    assert(tight.subsetOf(gotTerm.toSet))
  }

  test("grammar corpus: every accept case lowers AND executes through the tree") {
    import graft.search.{GrammarCorpus, QueryLowering}
    val reader = Index.reader(spark, indexDir)
    var tooMany = 0
    val failures = GrammarCorpus.accepts.flatMap { q =>
      try {
        val tree = QueryLowering.parseAndLower(reader, q)
        QueryEngine.searchTree(reader, "g", tree, k = 3).collect()
        None
      } catch {
        // a documented reject, not a failure: Lucene throws TooManyClauses
        // for exactly these over-broad expansions ([a TO z] over a 5000-term
        // vocabulary blows maxClauseCount there too)
        case _: QueryLowering.TooManyClauses => tooMany += 1; None
        case e: Throwable => Some(s"'$q': ${e.getMessage}")
      }
    }
    assert(failures.isEmpty,
      s"accept cases failed to execute:\n${failures.mkString("\n")}")
    assert(tooMany < GrammarCorpus.accepts.size / 10,
      s"unexpectedly many maxClauseCount rejects: $tooMany")
  }

  test("expansion budget: oversized multi-term rewrite rejects like maxClauseCount") {
    import graft.search.QueryLowering
    val reader = Index.reader(spark, indexDir)
    intercept[QueryLowering.TooManyClauses] {
      QueryLowering.expandTerms(reader, col("term").startsWith("ident_"),
        "test", cap = 16)
    }
    // within budget: expansion works and is term-ordered
    val few = QueryLowering.expandTerms(reader,
      col("term").startsWith("ident_000"), "test")
    assert(few.nonEmpty && few == few.sorted)
  }

  test("searchAfter score cursor: three pages concatenate into the top-30") {
    val reader = Index.reader(spark, indexDir)
    val terms = Seq("return", "match", "yield")
    def canon(hits: Array[ScoredDoc]) = hits.toSeq
      .sortBy(h => (-h.score, h.docId)).map(h => (h.docId, math.round(h.score * 1e9)))
    val full = canon(QueryEngine.search(reader,
      Seq(QuerySpec("f", should = terms, k = 30))).collect())
    var cursor: Option[(Double, Long)] = None
    val pages = (1 to 3).flatMap { i =>
      val page = QueryEngine.search(reader, Seq(QuerySpec(s"p$i",
        should = terms, k = 10, searchAfter = cursor))).collect()
        .sortBy(h => (-h.score, h.docId))
      cursor = Some((page.last.score, page.last.docId))
      page.map(h => (h.docId, math.round(h.score * 1e9)))
    }
    assert(pages == full)
  }

  test("duplicate-term sloppy phrase executes (ADVICE r2 #4)") {
    import spark.implicits._
    val reader = Index.reader(spark, indexDir)
    // "val ... val" within slop 3: any doc using `val` twice close together
    val hits = QueryEngine.matchAllTerms(reader, Seq("val", "val"), slop = 3)
      .collect()
    // naive: two raw positions p1 < p2 with |p2 - (p1 + 1)| <= 3
    val corpus = spark.read.parquet(s"$corpusDir/corpus.parquet")
    val keyed = corpus.join(
      reader.docMeta.select($"docId", $"repo", $"path"), Seq("repo", "path"))
      .select($"docId", $"content").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expect = keyed.filter { case (_, text) =>
      val ps = Analyzer.tokenize(text).zipWithIndex.filter(_._1 == "val").map(_._2)
      ps.exists(p1 => ps.exists(p2 => math.abs(p2 - (p1 + 1)) <= 3))
    }.map(_._1).toSet
    assert(hits.toSet == expect)
    assert(hits.nonEmpty)
  }

  test("tombstone DELTA generations: O(delta) appends, fold bounds fan-in (churn)") {
    import spark.implicits._
    val dir = s"$workDir/index_churn"
    val corpus = spark.read.parquet(s"$corpusDir/corpus.parquet").as[SourceDoc]
    Index.build(corpus, dir,
      IndexConfig(hotTermDf = 400, targetPostingsPerSlice = 300), increments = 1)
    val terms = Seq("class", "import", "struct", "enum", "defer")
    val reader0 = Index.reader(spark, dir)
    val dfs = terms.map(t => t -> reader0.termDfs(Seq(t))(t)).toMap
    assert(dfs.values.forall(_ > 0))

    // foldEvery = 4: the 5th delete folds the deltas into one generation
    val deltas = terms.take(4).map(t =>
      t -> Index.deleteByTerm(spark, dir, t, foldEvery = 4))
    // each delete wrote ONLY its own docIds — the per-gen parquet row count
    // equals that term's df, independent of how many deletes preceded it
    // (the O(deletas) vs O(N*total) churn evidence)
    val (base1, cur1) = Index.tombstoneGens(dir)
    assert((base1, cur1) == (1, 4))
    for ((g, (t, n)) <- (1 to 4).zip(deltas)) {
      assert(n == dfs(t), s"delta $t: $n != df ${dfs(t)}")
      assert(spark.read.parquet(s"$dir/tombstones_v$g").count() == n)
    }

    val n5 = Index.deleteByTerm(spark, dir, terms(4), foldEvery = 4)
    assert(n5 == dfs(terms(4)))
    val (base2, cur2) = Index.tombstoneGens(dir)
    assert(base2 == cur2, s"expected folded single gen, got ($base2, $cur2)")
    assert(base2 > 4)
    // old delta dirs are GC'd
    assert(!Files.exists(Paths.get(s"$dir/tombstones_v1")))

    // read-your-writes across the fold: every deleted term stays gone, and
    // the folded set is the distinct union of the five deltas
    val r = Index.reader(spark, dir)
    for (t <- terms)
      assert(graft.search.QueryEngine.search(r,
        Seq(graft.QuerySpec(t, should = Seq(t)))).collect().isEmpty)
    val corpusHit = spark.read.parquet(s"$corpusDir/corpus.parquet")
      .where(terms.map(t => $"content".contains(t)).reduce(_ || _)).count()
    assert(r.tombstones.distinct().count() == corpusHit)
  }
}
