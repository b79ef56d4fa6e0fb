package graft.ops

import graft.core.Analyzer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines over the
  * `documents` table: token counting, quality scoring, fingerprinting,
  * language-ID. All single-pass narrow transforms (no shuffle except the
  * final presentation sort) — at 100 TB these run as pure map stages with
  * full column pruning (only doc_id/text are read).
  */
object TextOps {

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  /** Analyzer-equivalent tokens as a Catalyst expression chain (identical to
    * graft.core.Analyzer in the ASCII/<255-char token domain — the engine's
    * documented fidelity boundary): split on non-[a-z0-9_] after lowercase.
    */
  def tokensCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    filter(split(lower(text), "[^a-z0-9_]+"), t => t =!= "")

  /** Token counts per document: raw tokens and post-stopword tokens. */
  def tokenCount(spark: SparkSession, sfDir: String): DataFrame = {
    val stop = Analyzer.EnglishStopWords.toSeq.sorted
    docs(spark, sfDir)
      .withColumn("toks", tokensCol(col("text")))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(filter(col("toks"), t => !t.isin(stop: _*))).as("n_tokens_nostop"))
      .orderBy(asc("doc_id"))
  }

  /** Dictionary/term statistics (df, total tf) for a fixed probe set — the
    * SQL-visible face of the term dictionary (SURVEY.md §1.1 D5).
    */
  val ProbeTerms: Seq[String] = Seq("merge", "sort", "scan", "join", "window",
    "stream", "spark", "hash", "batch", "key")

  def termStats(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"), explode(tokensCol(col("text"))).as("term"))
      .where(col("term").isin(ProbeTerms: _*))
      .groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("ttf"))
      .orderBy(asc("term"))

  /** Quality scoring: length/stopword/uniqueness ratios (the usual cheap
    * pretraining-corpus filters), all in codegen'd expressions.
    */
  def qualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    val stop = Analyzer.EnglishStopWords.toSeq.sorted
    docs(spark, sfDir)
      .withColumn("toks", tokensCol(col("text")))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_stop", size(filter(col("toks"), t => t.isin(stop: _*))))
      .withColumn("n_uniq", size(array_distinct(col("toks"))))
      .select(col("doc_id"),
        col("n_tokens"),
        round(length(col("text")).cast("double") /
          greatest(col("n_tokens"), lit(1)), 4).as("avg_token_len"),
        round(col("n_stop").cast("double") /
          greatest(col("n_tokens"), lit(1)), 4).as("stop_ratio"),
        round(col("n_uniq").cast("double") /
          greatest(col("n_tokens"), lit(1)), 4).as("uniq_ratio"))
      .orderBy(asc("doc_id"))
  }

  /** Quality-decile binning — the curriculum/data-mix bucketing step that
    * follows quality scoring in a pretraining pipeline: rank docs by a
    * quality signal (token-uniqueness ratio) WITHIN each language and cut
    * into `bins` ntile deciles, reporting per-bucket size and averages
    * (the frame a mixer samples from, e.g. "oversample deciles 1-3").
    * The ntile window shuffles on lang only; each language's sort spreads
    * over its hash partitions and WindowGroupLimit-style evaluation keeps
    * it streaming — no global sort, no driver collect.
    */
  def qualityBins(spark: SparkSession, sfDir: String, bins: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs(spark, sfDir)
      .withColumn("toks", tokensCol(col("text")))
      .select(col("doc_id"), col("lang"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(array_distinct(col("toks"))).cast("double") /
          greatest(size(col("toks")), lit(1))).as("uniq_ratio"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(desc("uniq_ratio"), asc("doc_id"))
    base.withColumn("decile", ntile(bins).over(w))
      .groupBy(col("lang"), col("decile"))
      .agg(count(lit(1)).as("cnt"),
        round(avg(col("uniq_ratio")), 4).as("avg_uniq"),
        round(avg(col("n_tokens")), 4).as("avg_tokens"))
      .orderBy(asc("lang"), asc("decile"))
  }

  /** Bigram-LM perplexity quality filter — the CCNet-style "score every
    * document by an in-domain language model" pass (Wenzek et al. 2020 use
    * a 5-gram KenLM; the standard small-scale stand-in is a bigram model
    * with add-one smoothing, which is exactly reproducible in SQL). The
    * model trains on a deterministic hash slice of the corpus itself
    * (doc_id % `trainMod` == `trainRes`), then EVERY document is scored:
    *
    *   ppl(d) = exp(-1/N * sum over bigrams c*ln((cb+1)/(cu+V)))
    *
    * where cb/cu are the model's bigram/context counts and V the trained
    * vocabulary size. Spark-first shape: the model is two tiny aggregates
    * over the train slice (bounded by vocab², capped at `maxModel` rows by
    * deterministic (count desc, bigram) order — the broadcast-ability
    * contract at 100 TB), the doc side is one explode + per-doc bigram
    * group, and both model joins are broadcasts, so the only full-data
    * shuffle is the per-doc bigram aggregate on (doc_id, w1, w2).
    */
  def perplexity(spark: SparkSession, sfDir: String, trainMod: Int = 7,
      trainRes: Int = 3, maxModel: Int = 1000000): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val d = docs(spark, sfDir)
      // single file split at bench scale: spread the tokenize (guide §2.5)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("toks", tokensCol(col("text")))
      .where(size(col("toks")) >= 2)
    // persisted: the LM cap collect, unigram model, vocabulary count and
    // the per-doc scoring pass all consume this frame — uncached, each
    // re-ran the tokenize + bigram explode (4 corpus passes at bench)
    val bi = d.select(col("doc_id"), explode(expr(
      "transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS w1, toks[i + 1] AS w2))"))
      .as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .persist()
    val train = bi.where(col("doc_id") % trainMod === trainRes)
    // No-silent-caps (VERDICT r4 next-10): the model rows come to the
    // driver anyway to be broadcast, so materialize maxModel+1 once —
    // one train-side aggregate total — and LOG when the cap actually
    // truncates the LM instead of silently dropping tail bigrams.
    import spark.implicits._
    val capped = train.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cb"))
      .orderBy(desc("cb"), asc("w1"), asc("w2")).limit(maxModel + 1)
      .collect()
    if (capped.length > maxModel)
      println(s"[graft] perplexity: bigram LM truncated to $maxModel rows " +
        "(tail bigrams dropped; raise maxModel for full-vocabulary scoring)")
    val bgModel = capped.take(maxModel)
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      .toDF("w1", "w2", "cb")
    val ugModel = train.groupBy(col("w1")).agg(count(lit(1)).as("cu"))
    val v = train.agg(countDistinct(col("w1")).as("v"))
    bi.groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
      .join(broadcast(bgModel), Seq("w1", "w2"), "left")
      .join(broadcast(ugModel), Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_bigrams"),
        sum(col("c") * log(
          (coalesce(col("cb"), lit(0L)) + lit(1.0)) /
            (coalesce(col("cu"), lit(0L)) + col("v")))).as("lp"))
      .select(col("doc_id"), col("n_bigrams"),
        round(exp(-col("lp") / col("n_bigrams")), 4).as("ppl"))
      .orderBy(asc("doc_id"))
  }

  /** Canonical document fingerprint (Solr-style dedup signature): md5 of the
    * sorted distinct token set — whitespace/word-order/duplication invariant.
    */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"),
        md5(concat_ws(" ", array_sort(array_distinct(tokensCol(col("text"))))))
          .as("fingerprint"))
      .orderBy(asc("doc_id"))

  /** Language-ID heuristic: stopword-hit ratio per language marker set,
    * argmax wins ('und' when nothing matches). Marker lists are tiny
    * n-gram/stopword proxies — the Spark-side shape (broadcast sets +
    * one pass) is what matters at scale.
    */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "on"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "von"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "pour", "que", "une", "dans"),
    "es" -> Seq("el", "la", "los", "que", "es", "para", "con", "una", "por", "del"))

  // ---- PII detection / redaction (pretraining-pipeline hygiene) -------------

  /** PII patterns, deliberately restricted to syntax valid in BOTH Java
    * regex (engine) and RE2 (oracle) with identical match semantics:
    * email, dotted-quad IP, >= 32-hex key-shaped strings.
    */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val HexKeyRe = "[0-9a-f]{32,}"

  /** Redaction column: emails, then IPs, then key-shaped hex (this order
    * on both sides — the placeholders contain none of the later patterns).
    */
  def redactCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      HexKeyRe, "<KEY>")

  /** The synthetic documents contain no organic PII (word-soup text), so
    * the entry weaves DETERMINISTIC synthetic PII — a function of doc_id
    * only, reproduced verbatim in the oracle SQL — into every third doc.
    * The OPERATORS (redactCol + the counting expressions) are generic over
    * any text column; only this demo augmentation is corpus-specific.
    */
  private def augmentedDocs(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir).select(col("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com from 10.0."),
          (col("doc_id") % 256).cast("string"), lit("."),
          (col("doc_id") % 100).cast("string"),
          lit(" apikey "), md5(col("doc_id").cast("string").cast("binary"))))
        .otherwise(col("text")).as("t"))

  /** PII scan + redaction: per-doc match counts for each pattern class and
    * the md5 of the redacted text (the proof the replacement ran — hash
    * equality pins every byte). Pure map stage: no shuffle, full column
    * pruning, codegen'd regexp expressions.
    */
  def piiScan(spark: SparkSession, sfDir: String): DataFrame =
    augmentedDocs(spark, sfDir).select(col("doc_id"),
      regexp_count(col("t"), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(col("t"), lit(Ipv4Re)).cast("long").as("n_ips"),
      regexp_count(col("t"), lit(HexKeyRe)).cast("long").as("n_keys"),
      md5(redactCol(col("t")).cast("binary")).as("redacted_md5"))
      .orderBy(asc("doc_id"))

  // ---- repetition-based quality (Gopher/C4-style) ---------------------------

  /** Repetition metrics per document (the Gopher repetition filters
    * adapted to occurrence fractions): most-frequent-2-gram fraction of
    * all 2-grams, and duplicate fraction over consecutive 3-token chunks
    * (the line-granularity duplicate-fraction filter, with fixed-width
    * chunks standing in for lines — the corpus text has no newlines;
    * 3 tokens makes within-doc chunk collisions actually occur at the
    * corpus vocabulary, so the metric discriminates).
    * 2-gram counting explodes to (doc_id, gram) and aggregates — keyed by
    * doc, so the shuffle partitions by document and never concentrates;
    * chunk stats stay array-native inside the row (no shuffle at all).
    */
  def repetition(spark: SparkSession, sfDir: String): DataFrame = {
    val base = docs(spark, sfDir)
      .select(col("doc_id"), tokensCol(col("text")).as("toks"))
      .withColumn("grams",
        when(size(col("toks")) >= 2, expr(
          "transform(sequence(0, size(toks) - 2), " +
            "i -> concat(element_at(toks, i + 1), ' ', element_at(toks, i + 2)))"))
          .otherwise(array().cast("array<string>")))
      .withColumn("chunks",
        when(size(col("toks")) >= 1, expr(
          "transform(sequence(0, cast(ceil(size(toks) / 3.0) as int) - 1), " +
            "i -> array_join(slice(toks, i * 3 + 1, 3), ' '))"))
          .otherwise(array().cast("array<string>")))
    val gramStats = base
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("maxc"), sum(col("c")).as("sumc"))
    base.join(gramStats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("grams")).cast("long").as("n_2grams"),
        round(coalesce(col("maxc") / col("sumc"), lit(0.0)), 4)
          .as("top_2gram_frac"),
        round(lit(1.0) - size(array_distinct(col("chunks"))).cast("double") /
          greatest(size(col("chunks")), lit(1)), 4).as("dup_chunk_frac"))
      .orderBy(asc("doc_id"))
  }

  // ---- subword (BPE) token counting -----------------------------------------

  /** The committed BPE merge table (trained ONCE by graft.tools.BpeTrain
    * over the sf0.01 corpus vocabulary, Sennrich-style; fixed thereafter —
    * a data pipeline budgets in the tokens of a PINNED tokenizer, so the
    * table is a versioned artifact, not something recomputed per run).
    */
  lazy val BpeMerges: Seq[(String, String)] = {
    val in = getClass.getResourceAsStream("/graft/bpe_merges.txt")
    require(in != null, "missing resource graft/bpe_merges.txt")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val sp = l.split(" ", 2); (sp(0), sp(1))
    }.toList
    finally src.close()
  }

  /** SQL expression applying the merge table to a doc's token stream:
    * tokens joined by '|' (outside the [a-z0-9_] symbol alphabet, so no
    * merge crosses a word boundary), every char spaced out, then one
    * left-to-right non-overlapping `replace` per merge rule IN TRAINING
    * ORDER. replace() has identical semantics in Spark and DuckDB, which is
    * what makes the subword segmentation bit-reproducible by the oracle;
    * only the innermost char-spacing regexp call differs per dialect.
    */
  private def bpeMergedSql(joined: String, duck: Boolean): String = {
    val spaced =
      if (duck) s"trim(regexp_replace($joined, '(.)', '\\1 ', 'g'))"
      else s"trim(regexp_replace($joined, '(.)', '$$1 '))"
    BpeMerges.foldLeft(spaced) { case (acc, (a, b)) =>
      s"replace($acc, '$a $b', '$a$b')"
    }
  }

  /** Subword token counts per document under the committed BPE model:
    * whitespace-class tokens vs BPE pieces (the number a model-token budget
    * actually bills). Pure map stage — the 40-rule replace chain is
    * codegen'd string work, no shuffle, full column pruning.
    */
  def bpeCount(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .withColumn("toks", tokensCol(col("text")))
      .withColumn("joined", array_join(col("toks"), "|"))
      .withColumn("merged", expr(bpeMergedSql("joined", duck = false)))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        when(size(col("toks")) === 0, lit(0L))
          .otherwise(size(filter(split(col("merged"), " "), x => x =!= "|"))
            .cast("long")).as("n_bpe_tokens"))
      .orderBy(asc("doc_id"))

  /** DuckDB oracle SQL for [[bpeCount]] — same merge table, same replace
    * chain, dialect-local tokenize/space/count plumbing.
    */
  def bpeCountOracleSql: String = {
    val toks = "list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'), x -> x <> '')"
    s"""WITH t AS (
       |  SELECT doc_id, $toks AS tk,
       |         array_to_string($toks, '|') AS joined
       |  FROM documents
       |)
       |SELECT doc_id,
       |  len(tk)::BIGINT AS n_tokens,
       |  CASE WHEN len(tk) = 0 THEN 0
       |       ELSE len(list_filter(string_split(${bpeMergedSql("joined", duck = true)}, ' '),
       |                 x -> x <> '|'))
       |  END::BIGINT AS n_bpe_tokens
       |FROM t ORDER BY doc_id""".stripMargin
  }

  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val base = docs(spark, sfDir).withColumn("toks", tokensCol(col("text")))
    val scored = LangMarkers.toSeq.sortBy(_._1).foldLeft(base) {
      case (df, (lang, markers)) =>
        df.withColumn(s"hits_$lang",
          size(filter(col("toks"), t => t.isin(markers: _*))))
    }
    val hitCols = LangMarkers.keys.toSeq.sorted.map(l => col(s"hits_$l"))
    val best = greatest(hitCols: _*)
    // argmax with deterministic lang-alphabetical tie-break
    val pred = LangMarkers.keys.toSeq.sorted.foldRight(lit("und")) {
      case (lang, elseCol) =>
        when(col(s"hits_$lang") === best && best > 0, lit(lang)).otherwise(elseCol)
    }
    scored.select(col("doc_id"), pred.as("pred_lang"))
      .orderBy(asc("doc_id"))
  }

  /** The dictionary for the entity tagger: (tag, token phrase). One source
    * of truth — the SQL oracle is generated from this value.
    */
  val TagDictionary: Seq[(String, Seq[String])] = Seq(
    ("MERGE_SORT", Seq("merge", "sort")),
    ("KEY_ORDER", Seq("key", "order")),
    ("HASH_TABLE", Seq("hash", "table")),
    ("WINDOW_TABLE", Seq("window", "table")),
    ("SPARK", Seq("spark")),
    ("STREAM_BATCH", Seq("stream", "batch")))

  /** Dictionary-driven entity tagging — the SolrTextTagger capability
    * [B solr/core/src/java/org/apache/solr/handler/tagger/TaggerRequestHandler.java]:
    * find every occurrence of every dictionary phrase in every document's
    * RAW token stream (stop words keep their slots, matching the tagger's
    * analyzer-chain view of the text). Emits (doc_id, tag, n) occurrence
    * counts, ALL overlapping occurrences reported (the tagger's
    * overlaps=ALL mode; LONGEST_DOMINANT_RIGHT is a post-filter on spans).
    * Map-only over the corpus: the dictionary rides along as a tiny
    * first-token-keyed map in the closure; the only shuffle is the final
    * (doc, tag) count aggregation, which partial-aggregates map-side.
    */
  def tagEntities(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val byFirst: Map[String, Seq[(String, Array[String])]] =
      TagDictionary.map { case (tag, ph) => (tag, ph.toArray) }
        .groupBy(_._2.head)
        .map { case (k, v) => (k, v.map { case (t, p) => (t, p) }) }
    val tagged = docs(spark, sfDir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = Analyzer.tokenize(text)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
        var i = 0
        while (i < toks.length) {
          byFirst.get(toks(i)).foreach(_.foreach { case (tag, ph) =>
            if (i + ph.length <= toks.length) {
              var j = 1
              while (j < ph.length && toks(i + j) == ph(j)) j += 1
              if (j == ph.length) out += ((id, tag))
            }
          })
          i += 1
        }
        out
      }
    tagged.toDF("doc_id", "tag")
      .groupBy("doc_id", "tag").agg(count(lit(1)).as("n"))
      .orderBy(asc("doc_id"), asc("tag"))
  }

  /** The tagger's oracle SQL, generated from TagDictionary. `posCtes` must
    * define pp(doc_id, pos, term) over the raw token stream.
    */
  def tagOracleSql(posCtes: String): String = {
    val branches = TagDictionary.map { case (tag, ph) =>
      val joins = ph.indices.drop(1).map { j =>
        s"JOIN pp t$j ON t$j.doc_id = t0.doc_id AND t$j.pos = t0.pos + $j AND t$j.term = '${ph(j)}'"
      }.mkString(" ")
      s"""SELECT t0.doc_id, '$tag' AS tag, count(*) AS n
         |FROM pp t0 $joins
         |WHERE t0.term = '${ph.head}' GROUP BY t0.doc_id""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $posCtes
       |$branches
       |ORDER BY doc_id, tag""".stripMargin
  }
}
