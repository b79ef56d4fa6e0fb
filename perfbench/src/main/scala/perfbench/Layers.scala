package perfbench

import graft.core.{Analyzer, SmallFloatUtil, TermsHash}
import graft.corpus.CorpusGen

/** Per-layer numbers of a traced run, from the spans the workloads opened
  * around each layer's public functions and the Spark work the listener
  * attributed to them. A layer a workload does not exercise reports 0.
  */
object Layers {

  val LayerNames: Seq[String] =
    Seq("index_builder", "snapshot_store", "reader", "query_engine", "query_parser", "ops")

  val Metrics: Seq[String] = Seq(
    "analyzer.tokens_per_s", "termshash.docs_per_s",
    "index_builder.build_s", "index_builder.jobs", "index_builder.tasks",
    "index_builder.exec_busy_s", "index_builder.shuffle_write_bytes",
    "index_builder.spill_bytes", "index_builder.gc_s", "index_builder.merge_task_skew",
    "snapshot_store.append_s", "snapshot_store.append_jobs", "snapshot_store.delete_s",
    "snapshot_store.delete_jobs", "snapshot_store.files_per_commit",
    "snapshot_store.index_files",
    "reader.open_s", "reader.term_stats_s", "reader.term_stats_jobs",
    "reader.term_stats_hit_ratio", "reader.bytes_read_per_query",
    "query_engine.jobs_per_query", "query_engine.stages_per_query",
    "query_engine.tasks_per_query", "query_engine.sched_s_per_query",
    "query_engine.filter_shuffle_bytes", "query_engine.merge_result_bytes",
    "bmw_scorer.exec_s_per_query", "bmw_scorer.docs_scored_per_query",
    "query_parser.parse_s", "trace.overhead_s", "trace.ops_overhead_s") ++
    LayerNames.map(l => s"$l.self_s") ++
    Operators.Entries.flatMap(e =>
      Seq(s"ops.$e.warm_s", s"ops.$e.first_call_s", s"ops.$e.jobs"))

  private def unitOf(m: String): String =
    if (m.endsWith("_per_s")) "1/s"
    else if (m.endsWith("_s")) "s"
    else if (m.endsWith("_bytes") || m.endsWith("bytes_read_per_query")) "bytes"
    else if (m.endsWith("_ratio") || m.endsWith("_skew")) "ratio"
    else "count"

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Query-engine spans that answer a batch of 20 queries. */
  private def isBatch(s: Span): Boolean =
    s.name.endsWith("_batch") || s.name.endsWith("_trees")

  def report(ctx: Ctx, rep: Report): Unit = {
    val t = ctx.tracer
    val spans = t.spans
    def named(n: String) = spans.filter(_.name == n)
    def put(m: String, v: Double, n: Int): Unit = rep.put(m, v, unitOf(m), n)

    if (ctx.workload == "ingest") probes(ctx.seed, rep)

    named("index_builder.build").lastOption.foreach { s =>
      val w = t.workFor(s)
      put("index_builder.build_s", s.wallS, 1)
      put("index_builder.jobs", w.jobs, 1)
      put("index_builder.tasks", w.tasks, 1)
      put("index_builder.exec_busy_s", w.execRunMs / 1000.0, 1)
      put("index_builder.shuffle_write_bytes", w.shuffleWriteBytes, 1)
      put("index_builder.spill_bytes", w.spillBytes, 1)
      put("index_builder.gc_s", w.gcMs / 1000.0, 1)
      // the merge stage is the reduce side of the salted merge shuffle:
      // the stage reading the most shuffle bytes
      if (w.shuffleReadByStage.nonEmpty) {
        val st = w.shuffleReadByStage.maxBy(_._2)._1
        val ms = w.taskMsByStage(st).map(_.toDouble).toSeq
        put("index_builder.merge_task_skew", ms.max / math.max(1.0, Stats.median(ms)), ms.size)
      }
    }

    val appends = named("snapshot_store.append")
    if (appends.nonEmpty) {
      put("snapshot_store.append_s", Stats.median(appends.map(_.wallS)), appends.size)
      put("snapshot_store.append_jobs", mean(appends.map(t.workFor(_).jobs.toDouble)), appends.size)
    }
    val deletes = named("snapshot_store.delete")
    if (deletes.nonEmpty) {
      put("snapshot_store.delete_s", Stats.median(deletes.map(_.wallS)), deletes.size)
      put("snapshot_store.delete_jobs", mean(deletes.map(t.workFor(_).jobs.toDouble)), deletes.size)
    }

    val opens = named("reader.open")
    if (opens.nonEmpty) put("reader.open_s", Stats.median(opens.map(_.wallS)), opens.size)
    val ts = named("reader.term_stats")
    if (ts.nonEmpty) {
      put("reader.term_stats_s", Stats.median(ts.map(_.wallS)), ts.size)
      put("reader.term_stats_jobs", mean(ts.map(t.workFor(_).jobs.toDouble)), ts.size)
      val (hit, all) = ts.map { s =>
        val a = s.request.split("hits=")(1).split('/')
        (a(0).toDouble, a(1).toDouble)
      }.foldLeft((0.0, 0.0)) { case ((h, n), (a, b)) => (h + a, n + b) }
      put("reader.term_stats_hit_ratio", hit / math.max(1.0, all), ts.size)
    }

    // per-query counts of single searches (point queries, NRT marker
    // queries); the merge and scorer numbers come from the batches when the
    // workload ran any, since that is where they carry the load
    val qs = spans.filter(_.layer == "query_engine")
    val (batch, single) = qs.partition(isBatch)
    if (single.nonEmpty) {
      val ws = single.map(t.workFor)
      val n = single.size.toDouble
      put("query_engine.jobs_per_query", ws.map(_.jobs).sum / n, single.size)
      put("query_engine.stages_per_query", ws.map(_.stages.size).sum / n, single.size)
      put("query_engine.tasks_per_query", ws.map(_.tasks).sum / n, single.size)
      put("query_engine.sched_s_per_query", single.map(t.schedS).sum / n, single.size)
      put("query_engine.filter_shuffle_bytes", ws.map(_.filterShuffleBytes).sum / n, single.size)
      val lookups = ts.filter(s => single.exists(_.request == s.request.takeWhile(_ != ' ')))
      put("reader.bytes_read_per_query",
        (ws ++ lookups.map(t.workFor)).map(_.inputBytes).sum / n, single.size)
    }
    val merged = if (batch.nonEmpty) batch else single
    if (merged.nonEmpty) {
      val ws = merged.map(t.workFor)
      val n = if (batch.nonEmpty) 20.0 * batch.size else single.size.toDouble
      put("query_engine.merge_result_bytes", ws.map(_.mergeResultBytes).sum / n, merged.size)
      put("bmw_scorer.exec_s_per_query", ws.map(_.mergeStageRunMs).sum / 1000.0 / n, merged.size)
    }

    val parses = named("query_parser.parse")
    if (parses.nonEmpty) put("query_parser.parse_s", Stats.median(parses.map(_.wallS)), parses.size)

    LayerNames.foreach { l =>
      val ls = spans.filter(_.layer == l)
      if (ls.nonEmpty) put(s"$l.self_s", ls.map(t.selfS).sum, ls.size)
    }
    Operators.Entries.foreach { e =>
      named(s"ops.$e").lastOption.foreach(s => put(s"ops.$e.jobs", t.workFor(s).jobs, 1))
    }
    Metrics.foreach(m => if (!rep.metrics.contains(m)) rep.put(m, 0.0, unitOf(m), 0))
  }

  /** One-thread Analyzer and TermsHash throughput over a seeded doc sample. */
  private def probes(seed: Long, rep: Report): Unit = {
    val r = new Rng(seed ^ 0xa7a1L)
    val docs = Array.fill(400)(CorpusGen.content(30000000L + r.below(1000000)))
    def loop(budgetS: Double)(f: String => Long): Double = {
      var units = 0L
      var i = 0
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < budgetS) {
        units += f(docs(i % docs.length)); i += 1
      }
      units / ((System.nanoTime() - t0) / 1e9)
    }
    loop(0.3)(d => Analyzer.analyze(d).length.toLong) // JIT warm-up
    rep.put("analyzer.tokens_per_s", loop(1.0)(d => Analyzer.analyze(d).length.toLong),
      "1/s", 1)
    var th = new TermsHash(Analyzer.EnglishStopWords)
    var docId = 0L
    def add(d: String): Long = {
      if (docId % 2000 == 0) th = new TermsHash(Analyzer.EnglishStopWords)
      val n = th.addDoc(d)
      th.finishDoc(docId, SmallFloatUtil.intToByte4(n))
      docId += 1
      1L
    }
    loop(0.3)(add)
    rep.put("termshash.docs_per_s", loop(1.0)(add), "1/s", 1)
  }
}
