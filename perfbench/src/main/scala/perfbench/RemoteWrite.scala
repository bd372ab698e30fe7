package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.api.{HttpApi, Prompb}
import graft.storage.Ingest

/** `remote_write`: one closed-loop remote-write client posts
  * snappy-protobuf `WriteRequest`s of [[BatchSamples]] samples to
  * `/api/v1/write` on `forTable` (hourly and daily rungs, chunks)
  * while [[Readers]] readers query the write head at [[ReaderQps]]
  * each. Timestamps advance 15 s per sample and start shortly before a
  * UTC midnight, so a run crosses a date boundary. */
object RemoteWrite {
  val ActiveSeries = 10000
  val SamplesPerSeries = 10
  val BatchSamples = ActiveSeries * SamplesPerSeries
  /** Series replaced by new ones in each request. */
  val ChurnPerBatch = 100
  val ScrapeMs = 15000L
  val Midnight = 1709251200000L // 2024-03-01T00:00:00Z
  /** The first timed request starts this many requests before midnight. */
  val BatchesBeforeMidnight = 1
  /** Series in the set-up's warm-up write. */
  val WarmupSeries = 100
  val Readers = 2
  val ReaderQps = 1.0
  val Hour = 3600000L
  val Day = 86400000L
  val Jobs = Seq("api", "db", "cache", "queue", "web")
  val Zones = Seq("eu-1", "us-1", "ap-1")

  /** Seeded payload generator: a fixed-size active set with churn. */
  final class Gen(seed: Long, t0: Long, series: Int = ActiveSeries) {
    private val r = new scala.util.Random(seed)
    private var next = 0L
    private val active = Array.fill(series) { next += 1; next - 1 }
    private var batch = 0L

    private def labels(id: Long): Seq[Prompb.Label] = Seq(
      Prompb.Label("__name__", s"rw_metric_${id % 10}"),
      Prompb.Label("instance", f"node-${id % 1000}%04d"),
      Prompb.Label("job", Jobs((id % Jobs.size).toInt)),
      Prompb.Label("series", s"s$id"),
      Prompb.Label("zone", Zones((id % Zones.size).toInt)))

    /** The next request: (first timestamp, last timestamp, sum of
      * values, series ids, encoded payload). */
    def nextBatch(): (Long, Long, Double, Seq[Long], Array[Byte]) = {
      if (batch > 0) (0 until ChurnPerBatch).foreach { _ =>
        active(r.nextInt(active.length)) = next; next += 1
      }
      val first = t0 + batch * SamplesPerSeries * ScrapeMs
      val salt = r.nextInt(1000000)
      var sum = 0.0
      val ts = active.toSeq.map { id =>
        Prompb.TimeSeries(labels(id), (0 until SamplesPerSeries).map { i =>
          val v = ((id * 2654435761L + (batch * SamplesPerSeries + i) * 40503L +
            salt) & 0xfffffL).toDouble
          sum += v
          Prompb.Sample(v, first + i * ScrapeMs)
        })
      }
      batch += 1
      val bytes = Prompb.snappyCompress(
        Prompb.encodeWriteRequest(Prompb.WriteRequest(ts)))
      (first, first + (SamplesPerSeries - 1) * ScrapeMs, sum, active.toSeq, bytes)
    }
  }

  val Headers = Seq("Content-Type" -> "application/x-protobuf",
    "Content-Encoding" -> "snappy",
    "X-Prometheus-Remote-Write-Version" -> "0.1.0")

  def boot(c: Ctx, dir: String): HttpApi =
    HttpApi.forTable(c.spark, dir, rollups = Seq(Hour, Day), chunks = true)

  /** What the table must hold: samples, sum of values, sum of
    * timestamps and distinct series over the acknowledged writes (the
    * warm-up write's series ids recur in the timed ones, but its
    * samples lie a day earlier). */
  final class Expect {
    var samples = 0L; var vsum = 0.0; var tsum = BigInt(0)
    val series = scala.collection.mutable.Set.empty[Long]
    def add(first: Long, vs: Double, ids: Seq[Long]): Unit = {
      samples += ids.size * SamplesPerSeries; vsum += vs
      val tPer = (0 until SamplesPerSeries).map(i => BigInt(first + i * ScrapeMs)).sum
      tsum += tPer * ids.size
      series ++= ids
    }
  }

  def readBack(c: Ctx, dir: String, e: Expect): Option[String] = {
    c.spark.catalog.refreshByPath(dir)
    val r = Ingest.readTable(c.spark, dir)
      .agg(count(lit(1)), sum(col("v")), sum(col("t").cast("decimal(38,0)")),
        countDistinct(col("labels")("series")))
      .head()
    val got = (r.getLong(0), r.getDouble(1), BigInt(r.getDecimal(2).toBigInteger),
      r.getLong(3))
    val want = (e.samples, e.vsum, e.tsum, e.series.size.toLong)
    if (got == want) None else Some(s"table holds $got, acknowledged $want")
  }

  def dirBytes(dir: String): (Long, Long) = {
    val fs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try {
      val files = fs.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toSeq
      (files.map(java.nio.file.Files.size).sum, files.size.toLong)
    } finally fs.close()
  }

  def run(c: Ctx): Result = {
    val t0 = Midnight - BatchesBeforeMidnight * SamplesPerSeries * ScrapeMs
    val runStart = System.nanoTime()
    val phases = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def phase(name: String): Unit = phases += name -> (System.nanoTime() - runStart) / 1e9
    // set-up: boot on an empty table, then one small write that
    // compiles the write path's plans (a cold first write takes over
    // ten seconds, so one set-up is all a run affords)
    val dir = s"${c.work}/table"
    val expect = new Expect
    val ((api0, port), setupS) = Main.timeS {
      val api = boot(c, dir)
      val port = api.start()
      val (first, _, vs, ids, body) =
        new Gen(c.seed, t0 - Day, WarmupSeries).nextBatch()
      val x = new Client(port).call("write", "", "/api/v1/write",
        System.nanoTime(), post = Some(body -> Headers))
      require(x.ok, s"warm-up write failed: ${x.code}")
      expect.add(first, vs, ids)
      (api, port)
    }
    val client = new Client(port)
    val gen = new Gen(c.seed, t0)
    phase("setup")
    c.rec.reset()
    val m0 = client.get("/metrics")
    val gc0 = Main.gcMs()
    val cg0 = Main.codegenCompiles()
    val head = new AtomicLong(t0 - Day)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val stopNs = System.nanoTime() + c.seconds * 1000000000L

    // readers: open loop at a fixed low rate against the write head
    val reads = new ConcurrentLinkedQueue[(Exchange, Boolean)]()
    val late = new ConcurrentLinkedQueue[Double]()
    val queries = Seq("sum by (job) (rate(rw_metric_1[1m]))",
      "max by (zone) (rw_metric_2)")
    // each reader sends on a fixed schedule, but one at a time: a
    // response slower than the interval delays its next request, which
    // its latency (measured from the due time) then includes
    val readers = (0 until Readers).map { k => new Thread(() => {
      val start = System.nanoTime() + (k * 1e9 / (Readers * ReaderQps)).toLong
      var i = 0
      var due = start
      while (due < stopNs) {
        val w = due - System.nanoTime()
        if (w > 0) TimeUnit.NANOSECONDS.sleep(w)
        late.add((System.nanoTime() - due) / 1e6)
        val q = queries((i + k) % queries.size)
        val t = head.get()
        val key = s"$q|$t"
        Trace.span("promql.parse", Trace.newRequest())(graft.promql.Parser.parse(q))
        val x = client.call("read", key,
          s"/api/v1/query?query=${client.enc(q)}&time=${t / 1000}", due)
        reads.add(x -> !seen.add(key))
        i += 1
        due = start + (i * 1e9 / ReaderQps).toLong
      }
    })}
    readers.foreach(_.start())

    // the writer: closed loop; the next payload is built while the
    // current one is in flight
    val writes = scala.collection.mutable.ArrayBuffer.empty[Exchange]
    val w0 = System.nanoTime()
    var pending = gen.nextBatch()
    while (System.nanoTime() < stopNs) {
      val (first, last, vs, ids, body) = pending
      Trace.span("api.decode", Trace.newRequest())(
        Prompb.decodeWriteRequest(Prompb.snappyUncompress(body)))
      val fut = new java.util.concurrent.FutureTask[Exchange](() =>
        client.call("write", "", "/api/v1/write", System.nanoTime(),
          post = Some(body -> Headers)))
      new Thread(fut).start()
      pending = gen.nextBatch()
      val x = fut.get()
      writes += x
      if (x.ok) { expect.add(first, vs, ids); head.set(last) }
    }
    val wWall = (System.nanoTime() - w0) / 1e9
    readers.foreach(_.join())
    val gcMs = Main.gcMs() - gc0
    val codegen = (Main.codegenCompiles() - cg0).toDouble
    val heap = Main.heapMb()

    // checks: compactions settle, every acknowledged sample reads back,
    // and again after reopening the table with a fresh server
    phase("timed")
    val settled = api0.awaitCompactions()
    phase("compactions")
    val m1 = client.get("/metrics")
    val (bytes, files) = dirBytes(dir)
    val back1 = readBack(c, dir, expect)
    phase("readback")
    api0.stop()
    val api1 = boot(c, dir)
    phase("reopen")
    val back2 = readBack(c, dir, expect)
    api1.stop()
    phase("readback2")
    val errors = Client.metric(m1, "graft_compaction_errors_total", "")
    val problems = Seq(
      back1.map("after awaitCompactions: " + _),
      back2.map("after reopening: " + _),
      if (errors > 0) Some(s"graft_compaction_errors_total = $errors") else None,
      if (!settled) Some("compactions did not settle") else None).flatten
    problems.foreach(p => System.err.println(s"check failed: $p"))

    val rd = reads.asScala.toSeq
    val all = writes.toSeq ++ rd.map(_._1)
    val failed = all.count(!_.ok)
    val acked = writes.count(_.ok) * BatchSamples
    val wLat = writes.map(x => if (x.ok) x.latencyMs else Double.MaxValue).toSeq
    val rLat = rd.map(x => if (x._1.ok) x._1.latencyMs else Double.MaxValue)
    def delta(n: String) = Client.metric(m1, n, "") - Client.metric(m0, n, "")
    val compactions = delta("graft_chunk_compactions_total") +
      delta("graft_sample_compactions_total")
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("op_geomean_ms", Stats.geomean(writes.filter(_.ok).map(_.latencyMs).toSeq), "ms"),
      ("throughput_per_s", acked / wWall, "1/s"),
      ("heap_mb", heap, "MiB"))
    val extra = Seq(
      ("ingest_samples_per_s", acked / wWall, "1/s"),
      ("write_p50_ms", Stats.pct(wLat, 50), "ms"),
      ("write_samples", wLat.size.toDouble, "count"),
      ("write_read_p50_ms", Stats.pct(rLat, 50), "ms"),
      ("write_read_p95_ms", Stats.pct(rLat, 95), "ms"),
      ("write_read_samples", rLat.size.toDouble, "count"),
      ("disk_bytes_per_sample", bytes.toDouble / expect.samples, "bytes"),
      ("fail_ratio", failed.toDouble / all.size, "ratio"),
      ("compactions", compactions, "count"))
    val layers =
      if (c.traced) Layers.complete(writeLayers(c, writes.toSeq, rd, acked,
        files, compactions, late.asScala.toSeq, gcMs, codegen))
      else Nil
    Result(e2e ++ extra ++ layers, all.size, failed,
      correct = problems.isEmpty,
      details = Seq("problems" -> Json.arr(problems.map(Json.str)),
        "write_ms" -> Json.arr(wLat.map(Json.num)),
        "phases_s" -> Json.obj(phases.toSeq.map { case (k, v) => k -> Json.num(v) }),
        "acknowledged_samples" -> expect.samples.toString))
  }

  /** Write-path job classes, matched against the call site of a job's
    * final stage; the first match wins. */
  val Classes: Seq[(String, Seq[String])] = Seq(
    "chunks" -> Seq("ChunkStore"),
    "index" -> Seq("SeriesIndex"),
    "rungs" -> Seq("FoldPartials", "Rungs"),
    "append" -> Seq("appendCanonical", "appendOnce"),
    "dedup" -> Seq("localCheckpoint", "Ingest$.dedup", "datesOf"))

  def classOf(site: String): String =
    Classes.collectFirst { case (k, ms) if ms.exists(site.contains) => k }
      .getOrElse("other")

  private def writeLayers(c: Ctx, writes: Seq[Exchange],
      reads: Seq[(Exchange, Boolean)], acked: Long, files: Long,
      compactions: Double, late: Seq[Double], gcMs: Double, codegen: Double)
      : Map[String, Double] = {
    c.rec.drain()
    val jobs = c.rec.jobList
    val apiJobs = jobs.filter(_.group.startsWith("graft-api-"))
    val site: JobRec => String = c.rec.siteOf
    val compactJobs = jobs.filter(j => j.group.isEmpty && site(j).contains("ompact"))
    val writeJobs = jobs.filter(j => j.group.isEmpty && !compactJobs.contains(j))
    val okW = writes.filter(_.ok)
    val nw = math.max(1, okW.size).toDouble
    val perWrite = okW.map { w =>
      val js = writeJobs.filter(j => j.startMs >= w.sendMs && j.startMs <= w.endMs)
      (w, js)
    }
    val wj = perWrite.flatMap(_._2)
    // per class, the wall time its jobs cover within each write
    val byClass = perWrite.flatMap { case (_, js) =>
      js.groupBy(j => classOf(site(j))).map { case (k, cj) => k -> Stats.coveredMs(cj.map(j => (j.startMs, j.endMs))) }
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum / nw }
    val attributed = Classes.map(k => byClass.getOrElse(k._1, 0.0)).sum
    val latency = okW.map(w => (w.endMs - w.sendMs).toDouble).sum / nw
    val nr = math.max(1, reads.size).toDouble
    val hits = reads.filter(r => r._1.ok && r._2).map(_._1.latencyMs)
    val miss = reads.filter(r => r._1.ok && !r._2).map(_._1.latencyMs)
    val parse = Trace.all.filter(_.name == "promql.parse").map(_.ms)
    val decode = Trace.all.filter(_.name == "api.decode").map(_.ms)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Map(
      "promql.parse_ms" -> mean(parse),
      "exec.jobs" -> apiJobs.size / nr,
      "exec.tasks" -> apiJobs.map(c.rec.tasks).sum / nr,
      "exec.task_ms" -> apiJobs.map(c.rec.taskMs).sum / nr,
      "exec.nontask_ms" -> apiJobs.map(j => j.wallMs - c.rec.taskMs(j) / c.cpus).sum / nr,
      "exec.shuffle_bytes" -> apiJobs.map(c.rec.shuffle).sum / nr,
      "exec.plan_repeat_share" -> reads.count(_._2).toDouble / nr,
      "exec.plan_hit_p50_ms" -> Stats.pct(hits, 50),
      "exec.plan_miss_p50_ms" -> Stats.pct(miss, 50),
      "api.overhead_ms" -> Oracle.apiOverhead(reads.map(_._1), apiJobs),
      "api.rejected" -> (writes ++ reads.map(_._1)).count(_.code == 503).toDouble,
      "api.response_bytes" -> mean(reads.map(_._1.bytes.toDouble)),
      "api.decode_ms" -> mean(decode),
      "storage.write_jobs" -> wj.size / nw,
      "storage.write_task_ms" -> wj.map(c.rec.taskMs).sum / nw,
      "storage.dedup_ms" -> byClass.getOrElse("dedup", 0.0),
      "storage.append_ms" -> byClass.getOrElse("append", 0.0),
      "storage.chunks_ms" -> byClass.getOrElse("chunks", 0.0),
      "storage.index_ms" -> byClass.getOrElse("index", 0.0),
      "storage.rungs_ms" -> byClass.getOrElse("rungs", 0.0),
      "storage.swap_ms" -> (latency - attributed),
      "storage.bytes_written_per_sample" ->
        (writeJobs ++ compactJobs).map(c.rec.outBytes).sum.toDouble / math.max(1L, acked),
      "storage.files" -> files.toDouble,
      "storage.compactions" -> compactions,
      "storage.compaction_ms" -> compactJobs.map(_.wallMs).sum,
      "spark.gc_ms" -> gcMs,
      "spark.spill_bytes" -> c.rec.spill.toDouble,
      "spark.codegen_compiles" -> codegen / nw,
      "bench.generator_late_ms" -> Stats.pct(late, 99),
      "bench.trace_overhead_ms" -> Layers.spanCostMs(c))
  }
}
