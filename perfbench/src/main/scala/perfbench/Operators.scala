package perfbench

import graft.SparkEntry

/** A slice of the SparkEntry operator board over seeded tables: each
  * entry's first call in the run's JVM, then a warm call, both checked to
  * give the same result digest.
  */
object Operators {

  /** Roadmap-named entries the run's time holds: search_atomic_update
    * drives the snapshot store (backup, restore, updateByTerm) through an
    * operator, significant_terms the derived document index, stream_topic
    * the streaming operators.
    */
  val Named: Seq[String] = Seq("search_atomic_update", "significant_terms", "stream_topic")
  /** Control at the scheduling floor, expected not to move. */
  val Controls: Seq[String] = Seq("facet_terms")
  val Entries: Seq[String] = Named ++ Controls

  /** Seeded tables plus the derived document index the search entries
    * build on first use, so first calls time the entry itself.
    * java.io.tmpdir points into the run directory, so no derived index
    * outlives the run.
    */
  def setup(ctx: Ctx, dir: String): Unit = {
    TableGen.write(ctx.spark, ctx.seed, dir)
    graft.ops.DocSearchOps.reader(ctx.spark, dir).stats.docCount
  }

  def run(ctx: Ctx, rep: Report, dir: String): Unit = {
    def call(name: String): (String, Long) =
      ctx.span(s"ops.$name", name)(
        Checks.digest(SparkEntry.queries(name)(ctx.spark, dir)))
    def pass(): Seq[(String, Double, (String, Long))] = Entries.map { e =>
      var d: (String, Long) = null
      val (_, s) = Stats.time(rep.check(s"$e call")({ d = call(e); true }))
      (e, s, d)
    }
    val first = ctx.phase("first-calls")(pass())
    // in traced runs the warm pass runs twice, untraced then traced, for
    // the overhead estimate
    val untracedWarm = if (ctx.traced) {
      ctx.tracer.on = false
      val w = pass()
      ctx.tracer.on = true
      Some(w)
    } else None
    val warm = ctx.phase("warm-calls")(pass())
    first.zip(warm).foreach { case ((e, _, d1), (_, _, d2)) =>
      rep.check(s"$e digest")(d1 != null && d1 == d2)
    }
    rep.put("ops_first_call_s", first.map(_._2).sum, "s", first.size)
    rep.put("ops_warm_s", warm.map(_._2).sum, "s", warm.size)
    if (ctx.traced) {
      rep.put("trace.ops_overhead_s", warm.map(_._2).sum - untracedWarm.get.map(_._2).sum,
        "s", warm.size)
      first.zip(warm).foreach { case ((e, f, _), (_, w, _)) =>
        rep.put(s"ops.$e.first_call_s", f, "s", 1)
        rep.put(s"ops.$e.warm_s", w, "s", 1)
      }
    }
  }
}
