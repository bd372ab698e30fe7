package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.HttpApi
import graft.exec.PromQLEngine
import graft.storage.Ingest

/** The seeded dashboard corpus: Prometheus-shaped series (≤ 7 labels
  * with `__name__`) at a 60 s cadence over two UTC days. Counter and
  * histogram values are monotone integers, gauges integers, so every
  * aggregate the oracle recomputes is exact. */
object Corpus {
  val T0 = 1704067200000L // 2024-01-01T00:00:00Z
  val StepMs = 60000L
  val Points = 2 * 1440
  val Instances = 3
  val Les = Seq("0.05", "0.1", "0.25", "1", "5", "+Inf")
  val Handlers = Seq("/api/v1/query", "/api/v1/query_range",
    "/api/v1/series", "/api/v1/write", "/metrics")

  def inst(i: Int): String = f"host-$i%02d:9090"

  /** (labels, kind, scale, phase): kind 0 = counter, 1 = gauge. */
  def series(seed: Long): Seq[(Map[String, String], Int, Double, Double)] = {
    val r = new scala.util.Random(seed)
    def ph() = r.nextDouble() * 6.283
    (0 until Instances).flatMap { i =>
      val in = inst(i)
      val http = for (m <- Seq("GET", "POST"); c <- Seq("200", "404", "500");
          h <- Handlers) yield (Map("__name__" -> "http_requests_total",
        "job" -> "api", "instance" -> in, "method" -> m, "code" -> c,
        "handler" -> h), 0, 1 + r.nextInt(40).toDouble, ph())
      val hist = Handlers.flatMap { h =>
        val a = 1 + r.nextInt(20).toDouble; val p = ph()
        Les.zipWithIndex.map { case (le, k) =>
          (Map("__name__" -> "http_request_duration_seconds_bucket",
            "job" -> "api", "instance" -> in, "handler" -> h, "le" -> le),
            0, a * (k + 1), p)
        }
      }
      val cpu = for (c <- 0 until 4; m <- Seq("idle", "user", "system", "iowait"))
        yield (Map("__name__" -> "node_cpu_seconds_total", "job" -> "node",
          "instance" -> in, "cpu" -> c.toString, "mode" -> m), 0,
          1 + r.nextInt(30).toDouble, ph())
      val gauges = Seq("api", "node").flatMap { j =>
        Seq((Map("__name__" -> "process_resident_memory_bytes", "job" -> j,
          "instance" -> in), 1, 1e6 * (50 + r.nextInt(400)), ph()),
          (Map("__name__" -> "up", "job" -> j, "instance" -> in), 1, 0.0, 0.0))
      }
      http ++ hist ++ cpu ++ gauges
    }
  }

  /** The corpus as an ingest batch (labels, t, v, stale). */
  def frame(spark: SparkSession, seed: Long): DataFrame = {
    import spark.implicits._
    val defs = series(seed).zipWithIndex.map { case ((l, k, a, p), i) =>
      (i.toLong, l, k, a, p)
    }.toDF("sid", "labels", "kind", "a", "phase")
    val p = col("p").cast("double")
    val counter = floor(col("a") * (p + lit(100) + lit(100) *
      sin(p / 240.0 + col("phase"))))
    val gauge = when(col("a") === 0, lit(1.0)).otherwise(
      floor(col("a") * (lit(1) + lit(0.2) * sin(p / 720.0 + col("phase")))) +
        pmod(xxhash64(lit(seed), col("sid"), col("p")), lit(1000L)))
    broadcast(defs).crossJoin(spark.range(Points).toDF("p"))
      .select(col("labels"), (lit(T0) + col("p") * StepMs).as("t"),
        when(col("kind") === 0, counter).otherwise(gauge).cast("double").as("v"),
        lit(false).as("stale"))
  }
}

/** `dashboard_read`: Grafana-shaped reads over HTTP against an
  * in-process `HttpApi.forTable` with hourly and daily rungs, the
  * chunk tier and the series index; no writes. Phase A is an open loop
  * at [[RateQps]] timed from each request's due time; phase B a closed
  * loop of [[Clients]] clients that measures capacity. */
object DashboardRead {
  val RateQps = 3.0
  val Clients = 4
  /** Share of the timed phase given to phase A. */
  val PhaseAShare = 0.6
  /** Phase A responses kept for the oracle comparison. */
  val Checked = 10

  val Hour = 3600000L
  val Day = 86400000L
  val End = Corpus.T0 + 47 * Hour
  val Last = Corpus.T0 + 2 * Day - Corpus.StepMs

  /** A query request: text, instant time or range (start, end, step). */
  final case class Q(text: String, start: Long, end: Long, step: Long) {
    def instant: Boolean = step == 0
    def key: String = s"$text|$start|$end|$step"
    def path(c: Client): String =
      if (instant) s"/api/v1/query?query=${c.enc(text)}&time=${end / 1000}"
      else s"/api/v1/query_range?query=${c.enc(text)}&start=${start / 1000}" +
        s"&end=${end / 1000}&step=${step / 1000}"
  }

  val Panels: Seq[Q] = Seq(
    Q("sum by (code) (rate(http_requests_total[5m]))", End - 6 * Hour, End, 60000),
    Q("sum by (instance) (rate(node_cpu_seconds_total{mode!=\"idle\"}[5m]))",
      End - 6 * Hour, End, 60000),
    Q("histogram_quantile(0.9, sum by (le) (rate(http_request_duration_seconds_bucket[5m])))",
      End - 6 * Hour, End, 300000),
    Q("max by (instance) (process_resident_memory_bytes)", End - 6 * Hour, End, 60000),
    Q("sum(up)", End, End, 0),
    Q("topk(5, sum by (handler) (increase(http_requests_total[1h])))",
      End - 24 * Hour, End, Hour),
    Q("avg_over_time(process_resident_memory_bytes[1h])", End - 24 * Hour, End, Hour),
    Q("sum by (job) (max_over_time(process_resident_memory_bytes[1d]))",
      Corpus.T0 + Day, Corpus.T0 + 2 * Day, Day),
    Q("sum by (mode) (increase(node_cpu_seconds_total[1h]))", End - 24 * Hour, End, Hour),
    Q("count by (job) (up)", End, End, 0),
    Q("rate(http_requests_total{instance=\"host-01:9090\",code=\"500\"}[5m])",
      End - 6 * Hour, End, 60000),
    Q("sum_over_time(up[1h])", End - 24 * Hour, End, Hour))
  /** Panels a sliding dashboard re-issues with a moving 24 h window. */
  val Sliding: Seq[Int] = Seq(0, 1, 2, 5, 6, 8)
  /** `graft_engine_route_total` routes that evaluate from a rung, and
    * those that evaluate the same functions from raw samples. */
  val RungRoutes = Seq("fold_partials", "rate_partials", "instant_partials",
    "select_partials")
  val RawRoutes = Seq("raw_general", "sliding_fold", "fold_partials_declined",
    "bucketed_query_time")
  val Heavy = Q("sum by (instance, mode) (rate(node_cpu_seconds_total[5m]))",
    Corpus.T0, Last, 120000)

  /** One request of the mix: (kind, key, path, query if any). */
  final case class Req(kind: String, key: String, path: String, q: Option[Q])

  def request(r: scala.util.Random, c: Client): Req = {
    val x = r.nextDouble()
    if (x < 0.45) {
      val q = Panels(r.nextInt(Panels.size)); Req("panel", q.key, q.path(c), Some(q))
    } else if (x < 0.75) {
      val p = Panels(Sliding(r.nextInt(Sliding.size)))
      val min = 1 + r.nextInt(1380)
      // hourly panels slide by whole hours half the time, so they stay
      // aligned with the rungs while still being new keys
      val back = if (p.step == Hour && r.nextBoolean()) (min / 60 + 1) * Hour
        else min * 60000L
      val q = Q(p.text, p.start - back, p.end - back, p.step)
      Req("sliding", q.key, q.path(c), Some(q))
    } else if (x < 0.95) {
      val i = Corpus.inst(r.nextInt(Corpus.Instances))
      if (r.nextBoolean()) {
        val n = Seq("instance", "handler", "job", "mode")(r.nextInt(4))
        Req("meta", s"label:$n", s"/api/v1/label/$n/values", None)
      } else {
          val m = c.enc(s"""http_requests_total{instance="$i"}""")
          Req("meta", s"series:$i", s"/api/v1/series?match[]=$m&start=" +
            s"${(End - 6 * Hour) / 1000}&end=${End / 1000}", None)
      }
    } else Req("heavy", Heavy.key, Heavy.path(c), Some(Heavy))
  }

  def setUp(spark: SparkSession, seed: Long, dir: String): HttpApi = {
    Ingest.append(Corpus.frame(spark, seed), dir)
    HttpApi.forTable(spark, dir, rollups = Seq(Hour, Day), chunks = true)
  }

  val SetupReps = 2

  def run(c: Ctx): Result = {
    val spark = c.spark
    val setups = (1 to SetupReps).map { k =>
      Main.timeS(setUp(spark, c.seed, s"${c.work}/table-$k"))
    }
    setups.init.foreach(_._1.stop())
    val api = setups.last._1
    val setupS = Stats.median(setups.map(_._2))
    val port = api.start()
    val client = new Client(port)
    val rnd = new scala.util.Random(c.seed)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

    def send(req: Req, dueNs: Long, keep: Boolean): (Exchange, Boolean) = {
      val repeat = !seen.add(req.key)
      req.q.foreach(q => Trace.span("promql.parse", Trace.newRequest())(
        graft.promql.Parser.parse(q.text)))
      (client.call(req.kind, req.key, req.path, dueNs, keep = keep), repeat)
    }
    // warm-up, untimed: every panel and the heavy query once, which
    // fills the plan cache
    val warmS = Main.timeS {
      (Panels ++ Seq(Heavy)).foreach(q =>
        send(Req("warm", q.key, q.path(client), Some(q)), System.nanoTime(), false))
    }._2
    c.rec.reset()
    val m0 = client.get("/metrics")
    val gc0 = Main.gcMs()

    // gate occupancy sampler over both phases
    @volatile var sampling = true
    val busy = new ConcurrentLinkedQueue[Int]()
    val sampler = new Thread(() => while (sampling) {
      busy.add(HttpApi.MaxConcurrent - api.gateFreeSlots); Thread.sleep(20)
    })
    sampler.setDaemon(true); sampler.start()

    // phase A: open loop; the dispatcher hands each request to a pool
    // of `Clients` connections at its due time
    val aSec = c.seconds * PhaseAShare
    val n = math.max(1, (aSec * RateQps).round.toInt)
    val reqs = (0 until n).map(_ => request(rnd, client))
    val checkIdx = rnd.shuffle(reqs.indices.filter(i =>
      reqs(i).q.isDefined).toList).take(Checked).toSet
    val pool = Executors.newFixedThreadPool(Clients)
    val phaseA = new ConcurrentLinkedQueue[(Exchange, Boolean)]()
    val late = new Array[Double](n)
    val a0 = System.nanoTime() + 50000000L
    reqs.zipWithIndex.foreach { case (req, i) =>
      val due = a0 + (i * 1e9 / RateQps).toLong
      val wait = due - System.nanoTime()
      if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
      late(i) = (System.nanoTime() - due) / 1e6
      pool.execute(() => phaseA.add(send(req, due, checkIdx(i))))
    }
    pool.shutdown(); pool.awaitTermination(170, TimeUnit.SECONDS)
    val aEx = phaseA.asScala.toSeq

    // phase B: closed loop, capacity
    val bSec = c.seconds - aSec
    val phaseB = new ConcurrentLinkedQueue[Exchange]()
    val b0 = System.nanoTime(); val bStop = b0 + (bSec * 1e9).toLong
    val seeds = (0 until Clients).map(_ => rnd.nextLong())
    val threads = seeds.map { s => new Thread(() => {
      val r = new scala.util.Random(s)
      while (System.nanoTime() < bStop)
        phaseB.add(send(request(r, client), System.nanoTime(), false)._1)
    })}
    threads.foreach(_.start()); threads.foreach(_.join())
    val bWall = (System.nanoTime() - b0) / 1e9
    sampling = false; sampler.join()
    val bEx = phaseB.asScala.toSeq
    val gcMs = Main.gcMs() - gc0
    val m1 = client.get("/metrics")
    val heap = Main.heapMb()

    // output checks: failures, then the seeded sample against an
    // untiered engine over the raw table
    val all = aEx.map(_._1) ++ bEx
    val failed = all.count(!_.ok)
    val oracle = new PromQLEngine(spark, Ingest.readTable(spark, s"${c.work}/table-$SetupReps"))
    val checked = aEx.map(_._1).filter(e => e.ok && e.body.nonEmpty)
    val mismatches = checked.flatMap { e =>
      val q = (Panels ++ Seq(Heavy)).find(_.key == e.key).orElse {
        val Array(t, s, en, st) = e.key.split('|')
        Some(Q(t, s.toLong, en.toLong, st.toLong))
      }.get
      Oracle.compare(q, e.body, oracle).map(m => s"${e.key}: $m")
    }
    mismatches.foreach(m => System.err.println(s"oracle mismatch $m"))
    val okA = aEx.filter(_._1.ok)
    val latA = okA.map(_._1.latencyMs)
    // a failed request misses every latency limit: it enters the
    // percentiles as the slowest sample of its phase
    val latAll = latA ++ Seq.fill(aEx.size - okA.size)(Double.MaxValue)
    val capacity = bEx.count(_.ok) / bWall
    def routed(r: String) = {
      val sel = s"""route="$r\""""
      Client.metric(m1, "graft_engine_route_total", sel) -
        Client.metric(m0, "graft_engine_route_total", sel)
    }
    val rung = RungRoutes.map(routed).sum
    val evals = rung + RawRoutes.map(routed).sum
    val rungShare = if (evals > 0) rung / evals else 0.0
    val queries = aEx.filter(_._1.kind != "meta")
    val repeatShare = queries.count(_._2).toDouble / math.max(1, queries.size)

    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("op_geomean_ms", Stats.geomean(latA), "ms"),
      ("throughput_per_s", capacity, "1/s"),
      ("heap_mb", heap, "MiB"))
    val extra = Seq(
      ("read_p50_ms", Stats.pct(latAll, 50), "ms"),
      ("read_p99_ms", Stats.pct(latAll, 99), "ms"),
      ("read_samples", latAll.size.toDouble, "count"),
      ("read_capacity_qps", capacity, "1/s"),
      ("capacity_samples", bEx.size.toDouble, "count"),
      ("fail_ratio", failed.toDouble / all.size, "ratio"),
      ("repeat_key_share", repeatShare, "ratio"),
      ("rung_route_share", rungShare, "ratio"),
      ("warmup_s", warmS, "s"))
    val layers =
      if (c.traced) Layers.complete(dashLayers(c, aEx, repeatShare, rungShare,
        busy.asScala.toSeq, all, late.toSeq, gcMs))
      else Nil
    api.stop()
    Result(e2e ++ extra ++ layers, all.size, failed,
      correct = mismatches.isEmpty && checked.nonEmpty,
      details = Seq(
        "checked" -> checked.size.toString,
        "mismatches" -> Json.arr(mismatches.map(Json.str)),
        "failed_requests" -> Json.arr(all.filterNot(_.ok).take(20)
          .map(e => Json.str(s"${e.code} ${e.kind} ${e.key}")))))
  }

  private def dashLayers(c: Ctx, aEx: Seq[(Exchange, Boolean)],
      repeatShare: Double, rungShare: Double, busy: Seq[Int],
      all: Seq[Exchange], late: Seq[Double], gcMs: Double)
      : Map[String, Double] = {
    c.rec.drain()
    val jobs = c.rec.jobList.filter(_.group.startsWith("graft-api-"))
    val nq = math.max(1, all.count(_.kind != "meta")).toDouble
    val hits = aEx.filter(e => e._1.ok && e._2 && e._1.kind != "meta").map(_._1.latencyMs)
    val miss = aEx.filter(e => e._1.ok && !e._2 && e._1.kind != "meta").map(_._1.latencyMs)
    val parse = Trace.all.filter(_.name == "promql.parse").map(_.ms)
    Map(
      "promql.parse_ms" -> (if (parse.isEmpty) 0.0 else parse.sum / parse.size),
      "exec.jobs" -> jobs.size / nq,
      "exec.tasks" -> jobs.map(c.rec.tasks).sum / nq,
      "exec.task_ms" -> jobs.map(c.rec.taskMs).sum / nq,
      "exec.nontask_ms" -> jobs.map(j => j.wallMs - c.rec.taskMs(j) / c.cpus).sum / nq,
      "exec.shuffle_bytes" -> jobs.map(c.rec.shuffle).sum / nq,
      "exec.plan_repeat_share" -> repeatShare,
      "exec.plan_hit_p50_ms" -> Stats.pct(hits, 50),
      "exec.plan_miss_p50_ms" -> Stats.pct(miss, 50),
      "exec.rung_route_share" -> rungShare,
      "api.overhead_ms" -> Oracle.apiOverhead(aEx.map(_._1), jobs),
      "api.gate_busy" -> (if (busy.isEmpty) 0.0 else busy.sum.toDouble / busy.size),
      "api.rejected" -> all.count(_.code == 503).toDouble,
      "api.response_bytes" -> all.map(_.bytes.toDouble).sum / all.size,
      "spark.gc_ms" -> gcMs,
      "spark.spill_bytes" -> c.rec.spill.toDouble,
      "bench.generator_late_ms" -> Stats.pct(late, 99),
      "bench.trace_overhead_ms" -> Layers.spanCostMs(c))
  }
}
