package perfbench

import graft.{QuerySpec, SourceDoc}
import graft.corpus.CorpusGen
import graft.index.{Index, IndexConfig}
import graft.search.QueryEngine
import java.nio.file.{Files, Path}
import org.apache.spark.sql.Dataset

/** One timed build of a seeded corpus, then near-real-time cycles on the
  * built index: append a marked batch, see it on a reopened reader,
  * delete it (the middle cycle replaces it instead), and see it gone.
  * Traced runs add a slice of the SparkEntry operators, first and warm
  * calls.
  */
object IngestWorkload {

  private def dirStats(dir: Path): (Long, Long) = {
    val s = Files.walk(dir)
    try {
      var files = 0L
      var bytes = 0L
      s.filter(Files.isRegularFile(_)).forEach { p => files += 1; bytes += Files.size(p) }
      (files, bytes)
    } finally s.close()
  }

  /** Hit counts per marker, from one search on a freshly opened reader. */
  private def markerHits(ctx: Ctx, dir: String, tags: Seq[String], k: Int): Map[String, Int] = {
    val r = ctx.span("reader.open")(Index.reader(ctx.spark, dir))
    val hits = ctx.span("query_engine.search")(QueryEngine.search(r,
      tags.map(t => QuerySpec(t, should = Seq(t), k = k))).collect())
    tags.map(t => t -> hits.count(_.qid == t)).toMap
  }

  def run(ctx: Ctx, rep: Report): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    def rows(lo: Long, n: Long, parts: Int): Dataset[SourceDoc] =
      spark.range(lo, lo + n, 1L, parts).map(i => CorpusGen.doc(i))

    // set-up, twice: a small warm-up build plus a reader on it
    val setups = ctx.phase("setup")((1 to 2).map { i =>
      Stats.time {
        val w = ctx.runDir.resolve(s"warm$i").toString
        Index.build(rows(Inputs.ingestBase(ctx.seed) + Inputs.IngestDocs + i * Inputs.WarmDocs,
          Inputs.WarmDocs, 4), w, IndexConfig())
        Index.reader(spark, w).stats.docCount
      }._2
    })
    rep.put("setup_s", Stats.median(setups), "s", setups.size)

    // the seeded corpus, written once so the build reads it like a table
    val base = Inputs.ingestBase(ctx.seed)
    val corpusDir = ctx.runDir.resolve("corpus").toString
    ctx.phase("corpus")(rows(base, Inputs.IngestDocs, 16).write.mode("overwrite").parquet(corpusDir))
    val corpus = spark.read.parquet(corpusDir).as[SourceDoc]
    val contentBytes = corpus.selectExpr("sum(octet_length(content))").head().getLong(0)

    val idx = ctx.runDir.resolve("index")
    val cpu0 = Stats.cpuSnap()
    val (snaps, buildS) = ctx.phase("build")(Stats.time(ctx.span("index_builder.build")(
      Index.build(corpus, idx.toString, IndexConfig()))))
    rep.check("build doc count")(snaps.map(_.docCount).sum == Inputs.IngestDocs)
    val bytes0 = dirStats(idx)._2
    rep.put("build_files_per_s", Inputs.IngestDocs / buildS, "1/s", 1)
    rep.put("ops_per_s", Inputs.IngestDocs / buildS, "1/s", 1)
    rep.put("build_s", buildS, "s", 1)
    rep.put("index_bytes_per_content_byte", bytes0.toDouble / contentBytes, "ratio", 1)
    rep.put("build_steal_share", Stats.steal(cpu0, Stats.cpuSnap()), "ratio", 1)

    // Three NRT cycles. A cycle
    // appends a marked batch, reopens a reader and queries the marker
    // (together with the markers the previous cycle removed), then deletes
    // the batch by its marker, or, in the middle cycle, replaces it through
    // updateByTerm. Odd batch ids leave the even ones free for the
    // increments updateByTerm commits. In traced runs every other cycle
    // runs with tracing off.
    val n = Inputs.AppendDocs.toInt
    val append = scala.collection.mutable.ArrayBuffer.empty[Double]
    val delete = scala.collection.mutable.ArrayBuffer.empty[Double]
    val visible = scala.collection.mutable.ArrayBuffer.empty[Double]
    val untraced = scala.collection.mutable.ArrayBuffer.empty[Double]
    val filesPerCommit = scala.collection.mutable.ArrayBuffer.empty[Double]
    // markers the last removal must have made invisible (0) or visible (n)
    var expect = Map.empty[String, Int]
    def verify(hits: Map[String, Int]): Unit =
      expect.foreach { case (t, want) => rep.check(s"$t count $want")(hits(t) == want) }
    ctx.phase("nrt")(for (c <- 0 until 3) {
      ctx.tracer.on = ctx.traced && c % 2 == 0
      val tag = Inputs.marker(ctx.seed, c)
      val docs = Inputs.appendDocs(ctx.seed, c, tag).toDS()
      val filesBefore = dirStats(idx)._1
      ctx.span("request.nrt", tag) {
        val ta = System.nanoTime()
        val (_, appS) = Stats.time(ctx.span("snapshot_store.append", tag)(
          Index.appendBatch(docs, idx.toString, batchId = 2L * c + 1L)))
        val hits = markerHits(ctx, idx.toString, tag +: expect.keys.toSeq, n + 1)
        val visS = (System.nanoTime() - ta) / 1e9
        rep.check(s"$tag visible")(hits(tag) == n)
        verify(hits)
        filesPerCommit += (dirStats(idx)._1 - filesBefore).toDouble
        val (_, delS) =
          if (c % 2 == 1) {
            val upd = tag + "u"
            expect = Map(tag -> 0, upd -> n)
            Stats.time(ctx.span("snapshot_store.update", tag)(Index.updateByTerm(spark,
              idx.toString, tag, Inputs.appendDocs(ctx.seed, c, upd).toDS())))
          } else {
            expect = Map(tag -> 0)
            Stats.time(ctx.span("snapshot_store.delete", tag)(
              Index.deleteByTerm(spark, idx.toString, tag)))
          }
        if (ctx.tracer.on || !ctx.traced) {
          append += appS; visible += visS
          if (c % 2 == 0) delete += delS
        } else untraced += visS
      }
    })
    ctx.tracer.on = false
    ctx.phase("nrt-verify")(verify(markerHits(ctx, idx.toString, expect.keys.toSeq, n + 1)))
    ctx.tracer.on = ctx.traced
    rep.put("append_p50_s", Stats.median(append.toSeq), "s", append.size)
    rep.put("delete_p50_s", Stats.median(delete.toSeq), "s", delete.size)
    rep.put("nrt_visible_p50_s", Stats.median(visible.toSeq), "s", visible.size)
    rep.put("op_p50_s", Stats.median(visible.toSeq), "s", visible.size)
    // the first query on a reader reopened after a commit
    rep.put("cold_s", Stats.median(visible.zip(append).map { case (v, a) => v - a }.toSeq),
      "s", visible.size)
    if (ctx.traced) {
      rep.put("trace.overhead_s", Stats.median(visible.toSeq) - Stats.median(untraced.toSeq),
        "s", visible.size + untraced.size)
      rep.put("snapshot_store.files_per_commit", Stats.median(filesPerCommit.toSeq), "count",
        filesPerCommit.size)
      rep.put("snapshot_store.index_files", dirStats(idx)._1.toDouble, "count", 1)
    }

    // the operator slice runs in traced runs only: its first calls cost
    // about as much as the rest of the run, and untraced runs are kept
    // short enough to repeat ten times per workload and commit
    if (ctx.traced) {
      val tables = ctx.runDir.resolve("tables").toString
      rep.put("ops_setup_s", ctx.phase("ops-setup")(Stats.time(Operators.setup(ctx, tables))._2),
        "s", 1)
      Operators.run(ctx, rep, tables)
    }
  }
}
