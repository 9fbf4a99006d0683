package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload reports: end-to-end metrics for the timed run, layer
  * metrics for the traced run, and named diagnostic lines for both. */
final class Report {
  val endToEnd = mutable.LinkedHashMap[String, (Double, String)]()
  val perLayer = mutable.LinkedHashMap[String, (Double, String)]()

  /** A metric under the name the workload documents it by. */
  def named(name: String, value: Double, unit: String): Unit =
    println(f"METRIC $name $value%.6f $unit")

  def e2e(name: String, value: Double, unit: String): Unit = endToEnd(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit = perLayer(name) = (value, unit)
}

/** One benchmark process: builds the session, sets the workload up, runs
  * it for the given seconds, and prints its metrics. The run script
  * (`perfbench/run.py`) generates the inputs, launches this, checks the
  * set-up outputs against DuckDB and prints the result line.
  *
  * Protocol on stdout: `SETUP_DONE` once set-up and warm-up have ended,
  * `METRIC`/`E2E`/`LAYER` lines, `CHECK FAIL` lines, and last
  * `GATE <attempted> <failed>`. */
object Main {
  def session(cores: Int, dir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.codegen.maxFields", "1200")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val dir = opts("dir")
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val spark = session(Runtime.getRuntime.availableProcessors, dir)
    val listener = new GroupListener
    spark.sparkContext.addSparkListener(listener)
    val gate = new Gate
    val report = new Report
    try {
      workload match {
        case "soccer_season" =>
          SoccerSeason.run(spark, dir, seconds, trace, listener, gate, report)
        case "corpus_curation" =>
          CorpusCuration.run(spark, dir, seconds, trace, listener, gate, report)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      if (trace) {
        listener.drain()
        report.layer("spark.task_failures", listener.taskFailures, "count")
        report.layer("spark.stage_retries", listener.stageRetries, "count")
        report.layer("spill_mb", listener.spillBytes / 1048576.0, "MB")
      }
      report.e2e("peak_heap_mb", Heap.peak, "MB")
    } catch {
      case e: Throwable =>
        gate.attempted += 1
        gate.failed += 1
        println(s"CHECK FAIL $workload aborted: ${e.toString.replace('\n', ' ').take(600)}")
        e.printStackTrace()
    }
    for ((k, (v, u)) <- report.endToEnd) println(f"E2E $k $v%.6f $u")
    for ((k, (v, u)) <- report.perLayer) println(f"LAYER $k $v%.6f $u")
    println(s"GATE ${gate.attempted} ${gate.failed}")
    System.out.flush()
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** Runs `iteration` until `seconds` have passed (at least `minIters`
    * times); returns how many ran. */
  def loop(seconds: Double, minIters: Int)(iteration: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minIters || (System.nanoTime() - t0) / 1e9 < seconds) {
      iteration(i)
      i += 1
    }
    i
  }

  /** Runs one set-up step and prints how long it took. */
  def step[A](name: String)(body: => A): A = {
    val (a, t) = timed(body)
    println(f"INFO setup $name%s $t%.3f s")
    a
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** The six metrics of every span in `names`: per iteration, summed
    * over the jobs the layer ran in (skew: their maximum), then the median
    * over the traced iterations. */
  def layerMetrics(report: Report, listener: GroupListener, spans: Seq[Span],
                   names: Seq[String]): Unit = {
    val units = Seq("wall_s" -> "s", "task_s" -> "s", "driver_s" -> "s", "jobs" -> "count",
      "shuffle_mb" -> "MB", "skew" -> "ratio")
    for (n <- names) {
      val perIter = spans.filter(_.name == n).groupBy(_.iter).values.map { ss =>
        val ms = ss.map(listener.spanMetrics)
        units.map { case (m, _) =>
          m -> (if (m == "skew") ms.map(_(m)).max else ms.map(_(m)).sum)
        }.toMap
      }
      for ((m, u) <- units)
        report.layer(s"$n.$m", if (perIter.isEmpty) 0.0 else Stats.median(perIter.map(_(m))), u)
    }
  }

  /** The check that the layer spans of each traced job cover its wall
    * time: their summed self time must be at least 95% of it. */
  def coverage(gate: Gate, report: Report, spans: Seq[Span], jobs: Seq[String]): Unit =
    for (j <- jobs) {
      val shares = spans.filter(_.name == j).map { p =>
        val kids = spans.filter(s => s.parent == j && s.startNs >= p.startNs && s.endNs <= p.endNs)
        kids.map(_.wallS).sum / p.wallS
      }
      val share = Stats.median(shares)
      report.named(s"$j.span_coverage", share, "ratio")
      gate.check(s"$j span coverage", shares.forall(s => s >= 0.95 && s <= 1.0 + 1e-9),
        s"layer self times cover ${shares.mkString(",")} of the traced wall time")
    }

  /** Spans written out once, at the end of the traced run. */
  def writeSpans(dir: String, listener: GroupListener, spans: Seq[Span]): Unit = {
    val lines = spans.map { s =>
      val m = listener.spanMetrics(s).map { case (k, v) => f""""$k":$v%.6f""" }.mkString(",")
      s"""{"span":"${s.name}","parent":"${s.parent}","iter":${s.iter},"start_ns":${s.startNs},"end_ns":${s.endNs},$m}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "spans.jsonl"),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
