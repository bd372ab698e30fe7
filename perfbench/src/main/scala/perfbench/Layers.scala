package perfbench

/** The per-layer metrics of a traced run, derived from the spans and
  * the listener's job/stage/query records. Every run reports every
  * name in [[Names]]; a layer the workload never calls reads 0. */
object Layers {
  /** (name, unit) of every per-layer metric, in report order. */
  val Names: Seq[(String, String)] = Seq(
    "promql.parse_ms" -> "ms",
    "exec.build_ms" -> "ms", "exec.build_jobs" -> "count",
    "exec.catalyst_ms" -> "ms", "exec.run_ms" -> "ms",
    "exec.jobs" -> "count", "exec.tasks" -> "count",
    "exec.task_ms" -> "ms", "exec.nontask_ms" -> "ms",
    "exec.shuffle_bytes" -> "bytes",
    "exec.plan_repeat_share" -> "ratio",
    "exec.plan_hit_p50_ms" -> "ms", "exec.plan_miss_p50_ms" -> "ms",
    "exec.rung_route_share" -> "ratio",
    "llm.build_ms" -> "ms", "llm.build_jobs" -> "count",
    "llm.catalyst_ms" -> "ms", "llm.run_ms" -> "ms",
    "llm.jobs" -> "count", "llm.task_ms" -> "ms",
    "llm.shuffle_bytes" -> "bytes",
    "api.overhead_ms" -> "ms", "api.gate_busy" -> "count",
    "api.rejected" -> "count", "api.response_bytes" -> "bytes",
    "api.decode_ms" -> "ms",
    "storage.write_jobs" -> "count", "storage.write_task_ms" -> "ms",
    "storage.dedup_ms" -> "ms", "storage.append_ms" -> "ms",
    "storage.chunks_ms" -> "ms", "storage.index_ms" -> "ms",
    "storage.rungs_ms" -> "ms", "storage.swap_ms" -> "ms",
    "storage.bytes_written_per_sample" -> "bytes",
    "storage.files" -> "count",
    "storage.compactions" -> "count", "storage.compaction_ms" -> "ms",
    "spark.gc_ms" -> "ms", "spark.spill_bytes" -> "bytes",
    "spark.codegen_compiles" -> "count",
    "bench.generator_late_ms" -> "ms",
    "bench.trace_overhead_ms" -> "ms")

  /** Fill in every name, 0 where the workload gave no value. */
  def complete(got: Map[String, Double]): Seq[(String, Double, String)] = {
    val unknown = got.keySet -- Names.map(_._1)
    require(unknown.isEmpty, s"undeclared layer metrics: $unknown")
    Names.map { case (n, u) => (n, got.getOrElse(n, 0.0), u) }
  }

  /** What the recorded spans cost: their count times the measured
    * cost of one span (the listeners run in both modes, so spans are
    * the only work the traced run adds). */
  def spanCostMs(c: Ctx): Double = {
    val n = Trace.all.size
    val k = 20000
    val t0 = System.nanoTime()
    (0 until k).foreach(_ => Trace.span(Trace.Calibrate)(()))
    n * (System.nanoTime() - t0) / 1e6 / k
  }

  /** Per-layer table of the entry suite, per warm pass. */
  def entrySuite(c: Ctx, warmPasses: Int, gcMs: Double, codegen: Double)
      : Seq[(String, Double, String)] = {
    c.rec.drain()
    val spans = Trace.all
    val byId = spans.map(s => s.id -> s).toMap
    val warm = spans.filter(s => byId.get(s.parent)
      .exists(_.name == "bench.entry.warm"))
    val jobs = c.rec.jobList
    val qes = c.rec.qes.toArray(Array.empty[QeRec]).toSeq
    val per = warmPasses.toDouble
    val out = Seq("exec", "llm").flatMap { layer =>
      val builds = warm.filter(_.name == s"$layer.build")
      val runs = warm.filter(_.name == s"$layer.run")
      val buildIds = builds.map(_.id).toSet
      val ids = buildIds ++ runs.map(_.id)
      val js = jobs.filter(j => ids(j.span))
      val catalyst = qes.filter(q =>
        runs.exists(r => q.startMs >= r.startMs && q.startMs <= r.endMs))
      Seq(
        s"$layer.build_ms" -> builds.map(_.ms).sum / per,
        s"$layer.build_jobs" -> js.count(j => buildIds(j.span)) / per,
        s"$layer.catalyst_ms" -> catalyst.map(_.catalystMs).sum / per,
        s"$layer.run_ms" -> runs.map(_.ms).sum / per,
        s"$layer.jobs" -> js.size / per,
        s"$layer.tasks" -> js.map(c.rec.tasks).sum / per,
        s"$layer.task_ms" -> js.map(c.rec.taskMs).sum / per,
        s"$layer.nontask_ms" -> js.map(j =>
          j.wallMs - c.rec.taskMs(j) / c.cpus).sum / per,
        s"$layer.shuffle_bytes" -> js.map(c.rec.shuffle).sum / per)
    }.toMap
    // tasks and nontask_ms are reported for exec only
    val known = Names.map(_._1).toSet
    complete(out.filter(kv => known(kv._1)) ++ Map(
      "spark.gc_ms" -> gcMs, "spark.spill_bytes" -> c.rec.spill.toDouble,
      "spark.codegen_compiles" -> codegen / per,
      "bench.trace_overhead_ms" -> spanCostMs(c) / per))
  }
}
