package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** What one run shares: the session, the tracer, its arguments and where
  * it may write.
  */
final case class Ctx(spark: SparkSession, tracer: Tracer, workload: String,
    seed: Long, seconds: Int, traced: Boolean, cache: Path, runDir: Path) {
  def span[A](name: String, request: String = "")(f: => A): A =
    tracer.span(name, request)(f)

  /** Runs one phase of the workload and logs its wall time to stderr. */
  def phase[A](name: String)(f: => A): A = {
    val (a, s) = Stats.time(f)
    System.err.println(f"[perfbench] phase $name%-12s $s%7.2f s")
    a
  }
}

/** Collects a run's numbers. `metric` values are the ones a workload
  * reports; `detail` values are printed for readers but not scored.
  */
final class Report {
  val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  var attempted = 0L
  var failed = 0L
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  def put(name: String, value: Double, unit: String, n: Int): Unit =
    metrics(name) = (value, unit, n)
  /** Runs one checked operation: an exception or a false result fails it. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val good = try ok catch { case e: Exception => failures += s"$what: $e"; false }
    if (!good) { failed += 1; if (failures.size < 20) failures += what }
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** (total, idle+iowait, steal) jiffies, as graft.Bench samples them. */
  def cpuSnap(): (Long, Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (f.take(8).sum, f(3) + f(4), if (f.length > 7) f(7) else 0L)
    } finally src.close()
  }

  /** Steal share of non-idle CPU time between two snapshots. */
  def steal(a: (Long, Long, Long), b: (Long, Long, Long)): Double = {
    val runnable = math.max(1L, (b._1 - a._1) - (b._2 - a._2))
    (b._3 - a._3).toDouble / runnable
  }

  /** Peak resident set of this JVM, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

object Main {
  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(name)
    require(i >= 0 && i + 1 < args.length, s"missing $name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val cache = Paths.get(arg(args, "--cache"))
    val t0 = System.nanoTime()
    val spark = graft.apps.SparkEnv.session("perfbench")
    System.err.println(f"[perfbench] session up in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.sparkContext.setLogLevel("ERROR")
    try {
      if (mode == "prepare") Prepare.run(spark, cache)
      else runWorkload(spark, args, cache)
    } finally {
      val t1 = System.nanoTime()
      spark.stop()
      System.err.println(f"[perfbench] session stopped in ${(System.nanoTime() - t1) / 1e9}%.2f s")
    }
  }

  private def runWorkload(spark: SparkSession, args: Array[String], cache: Path): Unit = {
    val workload = arg(args, "--workload")
    val traced = arg(args, "--trace") == "1"
    val runDir = Paths.get(arg(args, "--run-dir"))
    Files.createDirectories(runDir)
    val ctx = Ctx(spark, new Tracer(spark.sparkContext, traced), workload,
      arg(args, "--seed").toLong, arg(args, "--seconds").toInt, traced, cache, runDir)
    val rep = new Report
    val cpu0 = Stats.cpuSnap()
    workload match {
      case "search" => SearchWorkload.run(ctx, rep)
      case "ingest" => IngestWorkload.run(ctx, rep)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    rep.put("steal_share", Stats.steal(cpu0, Stats.cpuSnap()), "ratio", 1)
    rep.put("peak_rss_mb", Stats.peakRssMb(), "MB", 1)
    rep.put("failed_ratio", rep.failed.toDouble / math.max(1L, rep.attempted), "ratio",
      rep.attempted.toInt)
    if (traced) {
      ctx.tracer.drain()
      Layers.report(ctx, rep)
      ctx.tracer.write(runDir.resolve("spans.jsonl"))
    }
    val ms = rep.metrics.map { case (k, (v, u, n)) =>
      s""""$k":{"value":$v,"unit":"$u","n":$n}"""
    }.mkString("{", ",", "}")
    val fails = rep.failures.map(f => "\"" + f.replace("\\", "\\\\").replace("\"", "'")
      .replace("\n", " ") + "\"").mkString("[", ",", "]")
    println(s"""PERFBENCH_RESULT {"attempted":${rep.attempted},"failed":${rep.failed},""" +
      s""""failures":$fails,"metrics":$ms}""")
  }
}
