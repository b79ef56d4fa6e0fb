package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed call into a layer's public function. `parent` is the
  * enclosing span's id (0 at top level); `request` ties the spans of one
  * benchmark operation together.
  */
final case class Span(id: Long, name: String, parent: Long, request: String,
    startNs: Long, startMs: Long, var endNs: Long = 0L, var endMs: Long = 0L) {
  def wallS: Double = (endNs - startNs) / 1e9
  def layer: String = name.takeWhile(_ != '.')
}

/** Spark work attributed to one span: every job started while the span
  * was the innermost open one on the calling thread.
  */
final class SpanWork {
  var jobs = 0
  val stages = mutable.Set.empty[Int]
  var tasks = 0
  var execRunMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  /** Result-task bytes collected back from tasks that read a shuffle:
    * the top-k merge collect of the query engine.
    */
  var mergeResultBytes = 0L
  /** Executor time of those same result tasks: the bucket cogroup stage,
    * where the block-max WAND scorer runs.
    */
  var mergeStageRunMs = 0L
  /** Shuffle bytes written by aggregating map stages: in a query these
    * build the lang-filter and tombstone channel (the postings side of the
    * cogroup does not aggregate before its shuffle).
    */
  var filterShuffleBytes = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val taskMsByStage = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  val shuffleReadByStage = mutable.HashMap.empty[Int, Long]
}

/** Benchmark-side tracing. Each span sets a Spark local property, so the
  * listener can attribute jobs, stages and tasks to the innermost span of
  * the calling thread. Spans are kept in memory and written when the run
  * ends. With `enabled` false nothing is registered and `span` is a plain
  * call.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val Prop = "perfbench.span"
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  private val done = mutable.ArrayBuffer.empty[Span]
  private val work = new java.util.concurrent.ConcurrentHashMap[Long, SpanWork]()
  /** Toggled off for the untraced half of an interleaved overhead probe. */
  @volatile var on: Boolean = enabled

  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val aggStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      id.foreach { s =>
        val sid = s.toLong
        e.stageIds.foreach(st => stageSpan.put(st, sid))
        workOf(sid).synchronized { workOf(sid).jobs += 1 }
      }
      e.stageInfos.foreach { st =>
        if (st.rddInfos.exists(_.scope.exists(_.name.contains("Aggregate"))))
          aggStages.add(st.stageId)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (stageSpan.containsKey(e.stageId)) {
        val sid = stageSpan.get(e.stageId)
        val w = workOf(sid)
        val m = e.taskMetrics
        val i = e.taskInfo
        w.synchronized {
          w.stages += e.stageId
          w.tasks += 1
          w.taskIntervals += ((i.launchTime, i.finishTime))
          w.taskMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            (i.finishTime - i.launchTime)
          if (m != null) {
            w.execRunMs += m.executorRunTime
            w.gcMs += m.jvmGCTime
            w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            if (aggStages.contains(e.stageId))
              w.filterShuffleBytes += m.shuffleWriteMetrics.bytesWritten
            w.spillBytes += m.diskBytesSpilled
            w.inputBytes += m.inputMetrics.bytesRead
            val read = m.shuffleReadMetrics.totalBytesRead
            w.shuffleReadByStage(e.stageId) =
              w.shuffleReadByStage.getOrElse(e.stageId, 0L) + read
            if (e.taskType == "ResultTask" && m.shuffleReadMetrics.recordsRead > 0) {
              w.mergeResultBytes += m.resultSize
              w.mergeStageRunMs += m.executorRunTime
            }
          }
        }
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  private def workOf(id: Long): SpanWork = work.computeIfAbsent(id, _ => new SpanWork)

  def span[A](name: String, request: String = "")(f: => A): A =
    if (!on) f
    else {
      val parents = stack.get()
      val s = Span(nextId.incrementAndGet(), name, parents.headOption.fold(0L)(_.id),
        request, System.nanoTime(), System.currentTimeMillis())
      stack.set(s :: parents)
      sc.setLocalProperty(Prop, s.id.toString)
      try f
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack.set(parents)
        sc.setLocalProperty(Prop, parents.headOption.map(_.id.toString).orNull)
        done.synchronized { done += s }
      }
    }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def spans: Seq[Span] = done.synchronized(done.toList)
  def workFor(s: Span): SpanWork = workOf(s.id)

  /** Wall time of a span not covered by its direct children. */
  def selfS(s: Span): Double =
    s.wallS - spans.filter(_.parent == s.id).map(_.wallS).sum

  /** Wall time of a span during which no task of its work ran: planning,
    * scheduling and waiting in the calling JVM.
    */
  def schedS(s: Span): Double = {
    val iv = workOf(s.id).taskIntervals
      .map { case (a, b) => (a.max(s.startMs), b.min(s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = curB.max(b)
    }
    covered += curB - curA
    (s.wallS - covered / 1000.0).max(0.0)
  }

  /** Writes every span, one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val w = workOf(s.id)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""request":"${s.request}","start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""wall_s":${s.wallS},"jobs":${w.jobs},"tasks":${w.tasks}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
