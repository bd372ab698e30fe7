package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the report file. */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}

object Stats {
  /** Percentile by linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** Length of the union of [start, end) intervals. */
  def coveredMs(ivs: Seq[(Long, Long)]): Double = {
    var total = 0L; var end = Long.MinValue
    ivs.sortBy(_._1).foreach { case (a, b) =>
      val s = math.max(a, end); if (b > s) { total += b - s; end = b }
    }
    total.toDouble
  }
}

/** What a workload run hands back: metric name -> (value, unit), the
  * operation counts, and free-form check details for the report. */
final case class Result(metrics: Seq[(String, Double, String)],
    attempted: Long, failed: Long, correct: Boolean,
    details: Seq[(String, String)] = Nil)

/** Arguments every workload sees. `work` is this run's scratch
  * directory inside the checkout; `data` holds the generated inputs. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
    traced: Boolean, work: String, data: String, rec: Recorder,
    cpus: Int)

/** Entry point of one benchmark run (one fresh JVM per run):
  * `--workload W --seed N --seconds S --trace 0|1 --work DIR --data DIR
  * --out FILE`. Writes a JSON report to FILE; perfbench/run.py turns
  * it into the result line. */
object Main {
  def session(work: String, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Used heap after a full collection, in MiB: the least of three
    * collections, since finalizers and reference queues can leave one
    * collection's figure high. */
  def heapMb(): Double = (1 to 3).map { _ =>
    System.gc(); Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  /** JIT compilation time so far, summed over the compiler threads. */
  def jitMs(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  /** Total JVM GC time so far (driver and executors share the JVM). */
  def gcMs(): Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Classes Spark has compiled from generated code so far. */
  def codegenCompiles(): Long = org.apache.spark.PerfbenchAccess.codegenCompiles

  def timeS[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = o("work"); val cpus = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    def mark(what: String): Unit =
      System.err.println(f"perfbench: $what at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val spark = session(work, cpus)
    mark("session up")
    val traced = o.getOrElse("trace", "0") == "1"
    if (traced) Trace.enable(spark)
    val ctx = Ctx(spark, o("seed").toLong, o("seconds").toInt, traced,
      work, o("data"), new Recorder(spark), cpus)
    val res =
      try o("workload") match {
        case "entry_suite" => EntrySuite.run(ctx)
        case "dashboard_read" => DashboardRead.run(ctx)
        case "remote_write" => RemoteWrite.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } catch {
        case e: Throwable =>
          // servers and Spark threads would keep the JVM alive
          e.printStackTrace()
          sys.exit(1)
      }
    if (traced) {
      val p = java.nio.file.Paths.get(o("out") + ".spans.jsonl")
      java.nio.file.Files.write(p,
        (Trace.jsonLines(Trace.all) ++ ctx.rec.jsonLines).asJava)
    }
    val metrics = res.metrics.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    val report = Json.obj(Seq(
      "workload" -> Json.str(o("workload")),
      "seed" -> o("seed"), "cpus" -> cpus.toString,
      "traced" -> traced.toString,
      "correct" -> res.correct.toString,
      "attempted" -> res.attempted.toString,
      "failed" -> res.failed.toString,
      "metrics" -> Json.obj(metrics),
      "details" -> Json.obj(res.details)))
    java.nio.file.Files.write(java.nio.file.Paths.get(o("out")),
      report.getBytes("UTF-8"))
    mark("report written")
    spark.stop()
    mark("session stopped")
    sys.exit(0)
  }
}
