package perfbench

import graft.corpus.CorpusGen
import graft.index.{Index, IndexConfig}
import graft.search.NaiveSearch
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Builds what every search run reads and no run changes: the index over
  * CorpusGen's fixed first rows, the NaiveSearch token table of the same
  * docs, and the docId -> corpus-row map the answer checks use. Built once
  * per checkout, before the first run.
  */
object Prepare {
  def indexDir(cache: Path): String = cache.resolve("search_index").toString
  def tokensDir(cache: Path): String = cache.resolve("naive_tokens").toString

  /** Corpus row of a doc, from its stored (repo, path) fields. */
  def rowOf(repo: String, path: String): Long = {
    val file = path.substring(path.lastIndexOf("Name") + 4, path.lastIndexOf('.')).toLong
    repo.stripPrefix("repo").toLong * CorpusGen.FilesPerRepo + file
  }

  def run(spark: SparkSession, cache: Path): Unit = {
    import spark.implicits._
    Files.createDirectories(cache)
    val n = Inputs.SearchDocs
    val corpus = spark.range(0L, n, 1L, 32).map(i => CorpusGen.doc(i))
    Index.build(corpus, indexDir(cache), IndexConfig())

    val rows = spark.range(0L, n, 1L, 32).map(i => (i, CorpusGen.content(i)))
      .toDF("rowId", "content")
    val tokens = NaiveSearch.tokenTable(rows, "rowId", "content")
    // term-clustered row groups: the oracle's per-query term filter skips
    // all but a few of them
    tokens.repartitionByRange(16, col("term")).sortWithinPartitions("term", "docId")
      .write.option("parquet.block.size", (4 << 20).toString)
      .mode("overwrite").parquet(tokensDir(cache))
    val st = NaiveSearch.collectionStats(spark.read.parquet(tokensDir(cache)))
    Files.writeString(cache.resolve("naive_stats.txt"), s"${st.docCount} ${st.sumTotalTermFreq}")

    val docRows = Index.reader(spark, indexDir(cache)).docMeta
      .select("docId", "repo", "path").as[(Long, String, String)].collect()
      .map { case (d, r, p) => (d, rowOf(r, p)) }.sortBy(_._1)
    Files.write(cache.resolve("doc_rows.txt"),
      docRows.map { case (d, r) => s"$d $r" }.mkString("\n").getBytes("UTF-8"))
    Files.write(cache.resolve("_DONE"), Array.emptyByteArray)
  }

  /** docId -> corpus row for the search index. */
  def loadDocRows(cache: Path): Map[Long, Long] = {
    val src = scala.io.Source.fromFile(cache.resolve("doc_rows.txt").toFile)
    try src.getLines().map { l =>
      val a = l.split(' '); a(0).toLong -> a(1).toLong
    }.toMap
    finally src.close()
  }

  def loadStats(cache: Path): graft.IndexStats = {
    val a = Files.readString(cache.resolve("naive_stats.txt")).trim.split(' ')
    graft.IndexStats(a(0).toLong, a(1).toLong)
  }

  /** Rows of the search index CorpusGen planted `needle` in. */
  def plantedRows(needle: String): Set[Long] = {
    val stride = CorpusGen.Needles.find(_._1 == needle).get._2
    (0L until Inputs.SearchDocs).filter(r => r % stride == 7L % stride).toSet
  }
}
