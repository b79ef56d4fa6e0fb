package graft.apps

import graft.index.Index
import org.apache.spark.sql.functions._

/** The CheckIndex tool
  * [B lucene/core/src/java/org/apache/lucene/index/CheckIndex.java]: full
  * structural audit of a committed index dir. Unlike Lucene's single-JVM
  * walk, every check is DISTRIBUTED — per-row block invariants run inside
  * the postings scan, cross-checks are aggregates/anti-joins; the driver
  * sees only violation samples and counters, so the audit runs at any
  * index size.
  *
  * Checks (exit code 1 on any violation):
  *   1. per (term, salt) row: block counts match decoded lengths, block
  *      [firstDocId, lastDocId] bounds match content, docIds strictly
  *      increasing across the row's blocks, impacts non-empty,
  *      df == decoded posting count, totalTf == sum(tf);
  *   2. slim termdict df/ttf == postings df/ttf per term;
  *   3. content-field totalTf == sum(docMeta.tokenCount);
  *   4. every tombstoned docId exists in docMeta (deletes are logical
  *      until compaction);
  *   5. docId partitions are disjoint across snapshots (docCount sums);
  *   6. the reader's in-heap term table (`termStatsMap`) == the termdict
  *      aggregate for every term (a dictionary-sized collect: the table
  *      itself is driver-resident).
  *
  * usage: CheckIndexApp <indexDir>
  */
object CheckIndexApp {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: CheckIndexApp <indexDir>")
    val spark = SparkEnv.session("graft-checkindex")
    import spark.implicits._
    val r = Index.reader(spark, args(0))
    var bad = 0L

    // 1. distributed per-row structural checks
    val violations = r.postings.flatMap { tp =>
      val errs = scala.collection.mutable.Buffer.empty[String]
      var n = 0L
      var ttf = 0L
      var prev = Long.MinValue
      tp.blocks.foreach { b =>
        val (ids, tfs, _) = graft.core.PostingBlocks.decode(b)
        if (b.count != ids.length)
          errs += s"${tp.term}/s${tp.salt}: block count ${b.count} != ${ids.length}"
        if (ids.nonEmpty && (ids.head != b.firstDocId || ids.last != b.lastDocId))
          errs += s"${tp.term}/s${tp.salt}: block bounds mismatch"
        if (b.impactCount <= 0)
          errs += s"${tp.term}/s${tp.salt}: empty impact skyline"
        var i = 0
        while (i < ids.length) {
          if (ids(i) <= prev)
            errs += s"${tp.term}/s${tp.salt}: docIds not increasing at ${ids(i)}"
          prev = ids(i)
          ttf += tfs(i)
          i += 1
        }
        n += ids.length
      }
      if (n != tp.df) errs += s"${tp.term}/s${tp.salt}: df=${tp.df} != decoded $n"
      if (ttf != tp.totalTf)
        errs += s"${tp.term}/s${tp.salt}: totalTf=${tp.totalTf} != decoded $ttf"
      errs.take(5).iterator
    }.persist()
    val nViolations = violations.count()
    if (nViolations > 0) {
      bad += nViolations
      println(s"[graft-checkindex] FAIL postings structure: $nViolations violation(s)")
      violations.take(10).foreach(v => println(s"[graft-checkindex]   $v"))
    } else println("[graft-checkindex] OK  postings structure")
    violations.unpersist(false)

    // 2. termdict <-> postings consistency (term-keyed aggregate anti-join)
    val pAgg = r.postings.groupBy(col("term"))
      .agg(sum(col("df")).as("p_df"), sum(col("totalTf")).as("p_ttf"))
    val dAgg = r.termDict.groupBy(col("term"))
      .agg(sum(col("df")).as("d_df"), sum(col("ttf")).as("d_ttf"))
    val dictBad = pAgg.join(dAgg, Seq("term"), "full_outer")
      .where(col("p_df").isNull || col("d_df").isNull ||
        col("p_df") =!= col("d_df") || col("p_ttf") =!= col("d_ttf"))
      .count()
    if (dictBad > 0) {
      bad += dictBad
      println(s"[graft-checkindex] FAIL termdict: $dictBad term(s) disagree with postings")
    } else println("[graft-checkindex] OK  termdict == postings stats")

    // 3. content token conservation
    val sep = graft.index.FieldOf.Sep.toString
    val ttfPostings = r.postings.where(!col("term").contains(sep))
      .agg(coalesce(sum(col("totalTf")), lit(0L))).as[Long].head()
    val ttfDocs = r.docMeta.agg(coalesce(sum(col("tokenCount")), lit(0L)))
      .as[Long].head()
    if (ttfPostings != ttfDocs) {
      bad += 1
      println(s"[graft-checkindex] FAIL token conservation: postings $ttfPostings != docmeta $ttfDocs")
    } else println(s"[graft-checkindex] OK  token conservation ($ttfDocs tokens)")

    // 4. tombstones reference real docs
    val orphanTombs =
      if (!r.hasTombstones) 0L
      else r.tombstones.toDF("docId").distinct()
        .join(r.docMeta.select(col("docId")), Seq("docId"), "left_anti").count()
    if (orphanTombs > 0) {
      bad += orphanTombs
      println(s"[graft-checkindex] FAIL tombstones: $orphanTombs orphan docId(s)")
    } else println("[graft-checkindex] OK  tombstones")

    // 5. snapshot docCounts vs docmeta
    val metaDocs = r.docMeta.count()
    if (metaDocs != r.stats.docCount) {
      bad += 1
      println(s"[graft-checkindex] FAIL doc counts: manifest ${r.stats.docCount} != docmeta $metaDocs")
    } else println(s"[graft-checkindex] OK  doc counts (${r.stats.docCount} across ${r.snapshots.size} snapshot(s))")

    // 6. in-heap term stats <-> termdict aggregate
    val dict = dAgg.as[(String, Long, Long)].collect()
    val heap = r.termStatsMap(dict.map(_._1).toSeq)
    val heapBad = dict.count { case (t, df, ttf) => heap(t) != ((df, ttf)) }
    if (heapBad > 0) {
      bad += heapBad
      println(s"[graft-checkindex] FAIL term stats: $heapBad term(s) differ from the termdict aggregate")
    } else println(s"[graft-checkindex] OK  term stats == termdict aggregate (${dict.length} terms)")

    println(if (bad == 0) "[graft-checkindex] RESULT: clean"
      else s"[graft-checkindex] RESULT: $bad problem(s)")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
