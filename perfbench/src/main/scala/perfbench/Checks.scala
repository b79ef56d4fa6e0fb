package perfbench

/** Answer comparisons against the reference oracles. */
object Checks {
  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** Rank identity of two (row, score) lists, each already ordered by score
    * descending: equal length, equal scores position by position, and the
    * same rows within every group of tied scores. The last tie group may be
    * cut by k, and the two sides break ties on different keys, so there
    * only its size has to agree.
    */
  def sameRanking(got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Boolean = {
    if (got.size != want.size) return false
    if (!got.zip(want).forall { case (g, w) => close(g._2, w._2) }) return false
    val groups = want.indices.groupBy(i => want.indices.find(j => close(want(j)._2, want(i)._2)).get)
    val lastStart = if (want.isEmpty) 0 else groups.keys.max
    groups.forall { case (start, idx) =>
      start == lastStart || idx.map(got(_)._1).toSet == idx.map(want(_)._1).toSet
    }
  }

  /** Order-free digest of a small result: rows rendered, sorted, hashed. */
  def digest(df: org.apache.spark.sql.DataFrame): (String, Long) = {
    val rows = df.collect().map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    (md.digest().map("%02x".format(_)).mkString, rows.length.toLong)
  }
}
