package graft.ops

import graft._
import graft.index.{Index, IndexConfig}
import graft.search.QueryEngine
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The Lucene classification module re-expressed Spark-first
  * [B lucene/classification/src/java/org/apache/lucene/classification/
  * KNearestNeighborClassifier.java, SimpleNaiveBayesClassifier.java]:
  * text classifiers driven directly by the index/statistics machinery the
  * engine already maintains, not a separate ML stack. The deterministic
  * split is doc_id % 10 == 0 (test) vs != 0 (train) — the same
  * hash-derived split rule as PipelineOps.sampleHash.
  *
  * Note on the demo corpus: the synthetic `lang` labels are statistically
  * independent of the text, so classification accuracy hovers at the class
  * prior by construction — the DuckDB oracles pin the ALGORITHM (scores,
  * smoothing, tie-breaks, vote) exactly, which is what these entries
  * verify; model quality is a property of the data, not the operator.
  */
object ClassifyOps {

  /** Index over the TRAIN split only — the classifier's search space
    * (Lucene trains a classifier on an index of labeled docs; the held-out
    * docs must not be their own nearest neighbours). Same analyzer/config
    * as the main documents index.
    */
  def trainReader(spark: SparkSession, sfDir: String): Index.Reader =
    DocSearchOps.derivedIndex(spark, sfDir, "trainindex",
      IndexConfig(hotTermDf = 20000, targetPostingsPerSlice = 20000),
      rows = col("doc_id") % 10 =!= 0)

  /** Driver-residency cap for classifyKnn: at most this many test-doc
    * query specs are materialized on the driver at any moment. 10k specs
    * × O(100) distinct terms ≈ tens of MB — a constant, not a function of
    * corpus size.
    */
  val KnnSpecBatch: Int = 10000

  /** KNearestNeighborClassifier: each test doc becomes a disjunctive BM25
    * query of its distinct analyzed terms (the MLT-style query Lucene
    * builds), run against the train index; the predicted class is the
    * majority label among the top-k hits, ties broken by summed hit score
    * then label order — [B lucene/classification/.../KNearestNeighbor
    * Classifier.java] classifies one doc per call; the batching strategy
    * is ours. ONE fully distributed plan, no driver loop (the r5 verdict's
    * named scale ceiling): test-doc terms join the decoded postings on
    * term, BM25 contributions aggregate per (qid, docId), a per-qid window
    * takes the exact top-k (round(score,9) desc, docId asc — the oracle's
    * rank order), and the majority vote is one more aggregate + window.
    * Scoring reuses the engine's own idf/norm-denominator doubles
    * (Bm25.normCache over the SmallFloat-quantized doc length), so the
    * scores are the ones the batched WAND engine produced. Driver
    * residency is ZERO specs at any corpus size; every stage shuffles
    * rows bounded by |test terms| x df, the same postings volume the
    * batched search scanned.
    */
  def classifyKnn(spark: SparkSession, sfDir: String, k: Int = 7,
      specBatch: Int = KnnSpecBatch): DataFrame = {
    import spark.implicits._
    val r = trainReader(spark, sfDir)
    val sim = graft.core.Bm25()
    val st = r.stats
    val docCount = st.docCount
    val nvB = spark.sparkContext.broadcast(sim.normCache(st.avgdl))

    val testTerms = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        graft.core.Analyzer.analyze(text).distinct.iterator.map(t => (id, t))
      }
      .toDF("qid", "term")

    // postings exploded to (term, docId, tf, norm-denominator) — the same
    // decode the WAND iterators run, one row per posting
    val postRows = r.postings.flatMap { tp =>
      val nv = nvB.value
      tp.blocks.iterator.flatMap { b =>
        val (ids, tfs, norms) = graft.core.PostingBlocks.decode(b)
        ids.indices.iterator.map(i =>
          (tp.term, ids(i), tfs(i), nv(norms(i) & 0xff)))
      }
    }.toDF("term", "docId", "tf", "nv")

    // per-term query weight: idf over the slim termdict (df summed across
    // salt slices/snapshots), identical doubles to Bm25.idf
    val termW = r.termDict.groupBy(col("term"))
      .agg(sum(col("df")).as("df"))
      .withColumn("w", log(lit(1.0) +
        (lit(docCount) - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .select(col("term"), col("w"))

    // fold the weight into the postings BEFORE the test-term fan-out: the
    // per-(term, docId) contribution is qid-independent, so it is computed
    // once per posting (|postings| rows), not once per (test doc, posting).
    // Both joins broadcast (termdict and test terms are dictionary-/
    // test-split-sized, orders of magnitude under the postings volume), so
    // the Σ qdf(t)·df(t) match explosion lives entirely INSIDE one codegen
    // stage whose partial aggregate is docId-aligned — only the ~|test docs
    // x matched train docs| partial sums ever shuffle, never the matches.
    // repartition the (still postings-sized) contribution rows by docId
    // BEFORE the fan-out: each task then owns a disjoint docId slice, so
    // the (qid, docId) partial aggregates are disjoint across tasks and
    // the agg shuffle carries exactly one row per final group — with the
    // postings' native term-partitioned layout every task touched most
    // docIds and the partial agg barely combined. Explicit partition count
    // (the session's shuffle setting): AQE would otherwise coalesce this
    // deliberately-small shuffle to one task and serialize the fan-out.
    val fanoutParts = spark.sessionState.conf.numShufflePartitions
    val scored = postRows
      .join(broadcast(termW), "term")
      .withColumn("contrib", col("w") * col("tf") / (col("tf") + col("nv")))
      .repartition(fanoutParts, col("docId"))
      .join(broadcast(testTerms), "term")
      .groupBy(col("qid"), col("docId"))
      .agg(sum(col("contrib")).as("score"))

    // per-task candidate pruning ahead of the exact window: within each
    // task keep, per qid, every doc scoring within 2e-9 of the task-local
    // k-th best RAW score. Any doc below that margin has >= k docs whose
    // ROUNDED (9 dp) scores beat it strictly (rounding moves a score by
    // <= 0.5e-9), so the pruned set provably contains the exact global
    // rounded top-k — the window's input drops from |test docs x matched
    // train docs| to ~tasks x qids x k without changing a single rank.
    val kLocal = k
    val pruned = scored.as[(Long, Long, Double)].mapPartitions { it =>
      val byQid = scala.collection.mutable.LongMap
        .empty[scala.collection.mutable.ArrayBuffer[(Long, Double)]]
      it.foreach { case (qid, docId, score) =>
        byQid.getOrElseUpdate(qid,
          scala.collection.mutable.ArrayBuffer.empty) += ((docId, score))
      }
      byQid.iterator.flatMap { case (qid, docs) =>
        if (docs.length <= kLocal) docs.iterator.map(d => (qid, d._1, d._2))
        else {
          val sorted = docs.sortBy(d => (-d._2, d._1))
          val floor = sorted(kLocal - 1)._2 - 2e-9
          sorted.iterator.takeWhile(_._2 >= floor)
            .map(d => (qid, d._1, d._2))
        }
      }
    }.toDF("qid", "docId", "score")

    val wTop = Window.partitionBy(col("qid"))
      .orderBy(round(col("score"), 9).desc, col("docId").asc)
    val topk = pruned.withColumn("rnk", row_number().over(wTop))
      .where(col("rnk") <= k)

    val votes = topk
      .join(r.docMeta.select(col("docId"), col("lang")), "docId")
      .groupBy(col("qid"), col("lang"))
      .agg(count(lit(1)).as("c"), round(sum("score"), 9).as("ssum"))
    val wVote = Window.partitionBy(col("qid"))
      .orderBy(col("c").desc, col("ssum").desc, col("lang").asc)
    votes.withColumn("rn", row_number().over(wVote))
      .where(col("rn") === 1)
      .select(col("qid").as("doc_id"), col("lang").as("pred_lang"))
      .orderBy(asc("doc_id"))
  }

  /** The pre-r6 batched-search formulation (driver-buffered spec batches
    * through QueryEngine.search), kept as the equivalence REFERENCE for the
    * distributed plan above — ClassifySpec duels the two end to end. Not on
    * any bench/oracle path. The scratch parquet is deleted before returning
    * (ADVICE r5: the old path leaked one temp dir per call).
    */
  private[ops] def classifyKnnViaSearch(spark: SparkSession, sfDir: String,
      k: Int = 7, specBatch: Int = KnnSpecBatch): DataFrame = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val r = trainReader(spark, sfDir)
    val testTerms = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        (id, graft.core.Analyzer.analyze(text).distinct.sorted.toSeq)
      }
      .filter(_._2.nonEmpty)
    val outPath = java.nio.file.Files.createTempDirectory("graft_knn_")
    val outDir = outPath.toString
    var nBatches = 0
    testTerms.toLocalIterator().asScala.grouped(specBatch).foreach { chunk =>
      nBatches += 1
      val specs = chunk.map { case (id, terms) =>
        QuerySpec(qid = id.toString, should = terms, k = k)
      }
      val hits = QueryEngine.search(r, specs.toSeq)
      val labeled = hits.toDF("qid", "docId", "score")
        .join(r.docMeta.select(col("docId"), col("lang")), "docId")
      val votes = labeled.groupBy(col("qid"), col("lang"))
        .agg(count(lit(1)).as("c"), round(sum("score"), 9).as("ssum"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("c").desc, col("ssum").desc, col("lang").asc)
      votes.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("qid").cast("long").as("doc_id"),
          col("lang").as("pred_lang"))
        .write.mode("append").parquet(outDir)
    }
    val out =
      if (nBatches == 0) Seq.empty[(Long, String)]
      else spark.read.parquet(outDir)
        .as[(Long, String)].collect().toSeq.sortBy(_._1)
    java.nio.file.Files.walk(outPath)
      .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => java.nio.file.Files.delete(p))
    spark.createDataFrame(out).toDF("doc_id", "pred_lang")
  }

  /** SimpleNaiveBayesClassifier: multinomial Naive Bayes with add-one
    * smoothing (Manning/Raghavan/Schuetze IR ch.13, the published model
    * Lucene's simple classifier implements) over the engine's term
    * statistics. score(d, c) = ln(N_c / N) + sum_t ln(tf(t,c) + 1)
    * - |d| * ln(F_c + |V|), every test token contributing smoothing mass
    * whether or not it occurs in class c. All-distributed: the class-term
    * table shuffles on term (partial aggregation applies), the per-class
    * totals are a tiny broadcast side.
    */
  def classifyNaiveBayes(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
    // NOT cached/spread: six consumers re-run this flatMap, but each pass
    // is ~0.1 s over the (tiny, page-cached) raw table and an r6 experiment
    // measured persist + repartition 3x SLOWER (cache write + exchange
    // overhead dominate at this row count) — revisit only if the corpus
    // side ever dwarfs the pass cost
    val toks = docs.as[(Long, String, String)].flatMap { case (id, lang, text) =>
      graft.core.Analyzer.analyze(text).iterator.map(t => (id, lang, t))
    }.toDF("doc_id", "lang", "term")

    val train = toks.where(col("doc_id") % 10 =!= 0)
    val test = toks.where(col("doc_id") % 10 === 0)

    // per-class token mass + doc counts, |V| over the train vocabulary
    // (.toDF() on each intermediate severs the shared `toks` lineage —
    // these reconverge in multi-way joins below). An r6 experiment derived
    // every statistic from per-(lang,doc,term) count frames so the tokenize
    // would run once per split under a reused exchange: measured 0.91 ->
    // 1.19 s warm — the added groupBy exchanges cost more than the ~0.1 s
    // flatMap re-runs they saved at this row count. Reverted; only the
    // n_train + |V| fusion below (one pass saved, zero added exchanges)
    // survived measurement.
    val cstat = train.groupBy("lang")
      .agg(count(lit(1)).as("f_c"),
        countDistinct(col("doc_id")).as("n_c"))
      .toDF("lang", "f_c", "n_c")
    // n_train and |V| fused into ONE aggregate pass (two exact
    // count-distincts expand in a single job; both are integers, so every
    // downstream score is bit-identical)
    val corpusStat = train.select(
      countDistinct(col("doc_id")).as("n_train"),
      countDistinct(col("term")).as("v"))
    val classes = broadcast(cstat.crossJoin(corpusStat))

    val tc = train.groupBy("term", "lang").agg(count(lit(1)).as("tf"))
      .toDF("term", "lang", "tf")

    // evidence from tokens PRESENT in (term, class); absent tokens only
    // contribute the shared smoothing denominator, folded in via |d|
    val present = test.select(col("doc_id"), col("term")).join(tc, "term")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(log(col("tf") + 1.0)).as("s1"))
      .toDF("doc_id", "lang", "s1")
    val dlen = test.groupBy("doc_id").agg(count(lit(1)).as("len"))
      .toDF("doc_id", "len")

    val scored = dlen.crossJoin(classes)
      .join(present, Seq("doc_id", "lang"), "left")
      .withColumn("score",
        coalesce(col("s1"), lit(0.0))
          - col("len") * log(col("f_c") + col("v"))
          + log(col("n_c").cast("double") / col("n_train")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(round(col("score"), 9).desc, col("lang").asc)
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("lang").as("pred_lang"))
      .orderBy(asc("doc_id"))
  }

  /** Document clustering — nearest-centroid assignment over tf-idf vectors
    * (the Solr clustering component's role
    * [B solr/contrib/clustering/src/java/org/apache/solr/handler/clustering/ClusteringComponent.java];
    * Carrot2 itself is out of scope, the CLUSTER-ASSIGNMENT primitive every
    * such engine runs per document is what's rebuilt here). Vocabulary is a
    * fixed term list (deterministic, broadcast-size); doc vector component
    * = tf * idf with idf = ln((N+1)/(df+1)); seed centroids are docs
    * {0,1,2}'s own vectors (k-means++ seeding and Lloyd iterations just
    * re-run this assignment against updated centroids — the iteration is
    * exercised in ClusterSpec, the oracle pins one exact assignment pass).
    * Scale shape: tf is one hash aggregate over vocab-matched tokens only;
    * df (16 rows), centroid vectors (<= 48 rows) broadcast; cosine =
    * one more (doc, centroid) hash aggregate. Nothing corpus x corpus.
    */
  def clusterAssign(spark: SparkSession, sfDir: String,
      maxDoc: Long = 500): DataFrame = {
    val vocab = ClusterVocab
    val stop = graft.core.Analyzer.EnglishStopWords.toSeq.sorted
    // row count from parquet metadata — the r5 shape counted the TOKENIZED
    // frame, paying a full tokenize pass for a number the footers know
    // (tokensCol never drops rows)
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val toks = spark.read.parquet(s"$sfDir/documents.parquet")
      // single file split at bench scale: spread the tokenize (guide §2.5)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        filter(TextOps.tokensCol(col("text")), t => !t.isin(stop: _*)).as("toks"))
    // persisted: df lookup, centroid seed rows, and the cosine pass all
    // re-read this vocab-matched frame — uncached it re-tokenized the
    // corpus once per consumer (3x at bench; tiny frame, vocab x docs max)
    val tf = toks
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .where(col("term").isin(vocab: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .persist()
    val dfMap = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val idfWhens = vocab.filter(dfMap.contains).map { t =>
      when(col("term") === t,
        lit(math.log((nDocs + 1.0) / (dfMap(t) + 1.0))))
    }
    val idfExpr =
      if (idfWhens.isEmpty) lit(0.0) else coalesce(idfWhens :+ lit(0.0): _*)
    val w = tf.withColumn("w", idfExpr * col("tf"))
      .select(col("doc_id"), col("term"), col("w"))
    val centRows = w.where(col("doc_id").isin(0L, 1L, 2L))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val centNorm = centRows.groupBy(_._1)
      .map { case (c, rs) => c -> math.sqrt(rs.map(r => r._3 * r._3).sum) }
    val cent = spark.createDataFrame(centRows.toSeq)
      .toDF("cid", "term", "cw")
    val dots = w.join(broadcast(cent), "term")
      .groupBy(col("doc_id"), col("cid"))
      .agg(sum(col("w") * col("cw")).as("dot"))
    val nd = w.groupBy(col("doc_id"))
      .agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    val ncExpr = coalesce(centNorm.toSeq.sortBy(_._1).map { case (c, nrm) =>
      when(col("cid") === c, lit(nrm))
    }: _*)
    val cos = dots.join(nd, "doc_id")
      .withColumn("cos", col("dot") / (col("nrm") * ncExpr))
    val best = Window.partitionBy(col("doc_id"))
      .orderBy(round(col("cos"), 9).desc, asc("cid"))
    cos.withColumn("rn", row_number().over(best))
      .where(col("rn") === 1 && col("doc_id") < maxDoc)
      .select(col("doc_id"), col("cid").as("cluster"),
        round(col("cos"), 4).as("cos"))
      .orderBy(asc("doc_id"))
  }

  /** Fixed clustering vocabulary (common code-corpus terms; deterministic). */
  val ClusterVocab: Seq[String] = Seq(
    "merge", "sort", "window", "join", "stream", "batch", "table", "scan",
    "error", "query", "index", "filter", "group", "select", "update",
    "insert")
}
