package perfbench

import graft.SparkEntry

/** `entry_suite`: the `SparkEntry` suite `graft.Bench` times. One caller runs a closed loop over
  * the [[subset]] of `SparkEntry.queries` in a seeded order — build the
  * entry's DataFrame, then `count()` it — after
  * `SparkEntry.prepareFixtures` has run as set-up. The first pass is
  * the cold pass; at least [[MinWarmPasses]] warm passes follow, more
  * while the next one is expected to end within `seconds` of the first
  * one's start. An entry's warm time is its median over the warm
  * passes; the percentiles and the geometric mean are over every warm
  * execution. The geometric mean, not the median, is the end-to-end
  * latency: the 26 entries' times spread from 60 ms to 1 s, and the
  * median of the pooled executions falls in the gaps between a few
  * entries, so it moved about 1.5 times as much from run to run. */
object EntrySuite {
  /** Every [[Stride]]-th entry by name: a fixed, family-spread sixth
    * of the suite (one full cold + warm pass of all entries takes about
    * 160 s on a 4-core host, more than a run may). Its generated
    * classes, like the whole suite's, overflow Spark's 100-entry
    * generated-code cache, so every pass compiles them again. */
  val Stride = 6
  def subset: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.zipWithIndex
      .collect { case (n, i) if i % Stride == 0 => n }

  /** Entries of the LLM-data operator family (`graft.llm`); the rest
    * are PromQL/storage entries that run through `exec`. */
  def isLlm(name: String): Boolean =
    name.head match {
      case 'd' | 'x' | 't' | 'm' => true
      case 'c' => !Set("c1_topk_rate", "c2_rate_share").contains(name)
      case _ => false
    }

  def layerOf(name: String): String = if (isLlm(name)) "llm" else "exec"

  /** Warm passes a run makes at least. A JVM's warm speed differs from
    * the next one's by up to a fifth, and one pass adds its own jitter
    * on top; three passes (about 26 s on 4 cores) are what a run
    * affords. */
  val MinWarmPasses = 3

  /** Set-up repetitions: each builds the fixtures afresh on a new
    * session (the fixture stores are memoized per session). One: a
    * set-up takes 20-40 s, so a second would not fit a run. */
  val SetupReps = 1

  def run(c: Ctx): Result = {
    val dir = c.data
    val setups = (1 to SetupReps).map { _ =>
      val s = c.spark.newSession()
      (s, Main.timeS(SparkEntry.prepareFixtures(s, dir))._2)
    }
    val spark = setups.last._1
    c.rec.watch(spark)
    val setupS = Stats.median(setups.map(_._2))
    c.rec.reset()
    val rnd = new scala.util.Random(c.seed)
    val order = rnd.shuffle(subset)

    var failedNames = Set.empty[String]
    var unstable = Set.empty[String]
    val counts = scala.collection.mutable.Map.empty[String, Long]
    // one pass: (name -> seconds) for the entries that succeeded
    def pass(label: String): Map[String, Double] = order.flatMap { n =>
      val layer = layerOf(n)
      val t0 = System.nanoTime()
      try {
        val req = Trace.newRequest()
        val cnt = Trace.span(s"bench.entry.$label", req) {
          val df = Trace.span(s"$layer.build", req)(SparkEntry.queries(n)(spark, dir))
          Trace.span(s"$layer.run", req)(df.count())
        }
        val t = (System.nanoTime() - t0) / 1e9
        counts.get(n) match {
          case Some(prev) if prev != cnt => unstable += n
          case _ => counts(n) = cnt
        }
        Some(n -> t)
      } catch {
        case e: Throwable =>
          System.err.println(s"entry $n failed: $e")
          failedNames += n; None
      }
    }.toMap

    val cold = pass("cold")
    val cg0 = Main.codegenCompiles()
    val jit0 = Main.jitMs()
    val gc0 = Main.gcMs()
    val tStart = System.nanoTime()
    val warmPasses = scala.collection.mutable.ArrayBuffer(pass("warm"))
    def elapsed = (System.nanoTime() - tStart) / 1e9
    while (warmPasses.size < MinWarmPasses ||
        elapsed * (warmPasses.size + 1) / warmPasses.size <= c.seconds)
      warmPasses += pass("warm")
    val wallS = (System.nanoTime() - tStart) / 1e9
    val gcMs = Main.gcMs() - gc0
    val codegen = (Main.codegenCompiles() - cg0).toDouble
    val jitMs = Main.jitMs() - jit0
    val ok = order.filterNot(failedNames)
    val warm = ok.map(n => n -> Stats.median(warmPasses.flatMap(_.get(n)).toSeq))
    val warmMs = ok.flatMap(n => warmPasses.flatMap(_.get(n))).map(_ * 1000)
    val suiteS = warm.map(_._2).sum
    val coldS = ok.flatMap(cold.get).sum
    val heap = Main.heapMb()
    val attempted = order.size.toLong * (1 + warmPasses.size)
    val failedOps = attempted - (cold.size + warmPasses.map(_.size).sum)

    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("op_geomean_ms", Stats.geomean(warmMs), "ms"),
      ("throughput_per_s", warmMs.size / (warmMs.sum / 1000), "1/s"),
      ("heap_mb", heap, "MiB"))
    val extra = Seq(
      ("suite_s", suiteS, "s"), ("suite_cold_s", coldS, "s"),
      ("entry_p50_ms", Stats.pct(warmMs, 50), "ms"),
      ("entry_p90_ms", Stats.pct(warmMs, 90), "ms"),
      ("entry_samples", warmMs.size.toDouble, "count"),
      ("warm_passes", warmPasses.size.toDouble, "count"),
      ("fail_ratio", failedOps.toDouble / attempted, "ratio"),
      ("timed_wall_s", wallS, "s"),
      ("timed_gc_ms", gcMs, "ms"),
      ("timed_jit_ms", jitMs, "ms"),
      ("timed_codegen_compiles", codegen, "count"))
    val layers =
      if (c.traced) Layers.entrySuite(c, warmPasses.size, gcMs, codegen)
      else Nil
    val countJson = Json.obj(order.sorted.flatMap(n =>
      counts.get(n).map(v => n -> v.toString)))
    Result(e2e ++ extra ++ layers, attempted, failedOps,
      correct = unstable.isEmpty,
      details = Seq(
        "setup_reps_s" -> Json.arr(setups.map(s => Json.num(s._2))),
        "unstable_counts" -> Json.arr(unstable.toSeq.sorted.map(Json.str)),
        "counts" -> countJson,
        "failed_entries" -> Json.arr(failedNames.toSeq.sorted.map(Json.str)),
        "order" -> Json.arr(order.map(Json.str)),
        "cold_s" -> Json.obj(order.flatMap(n => cold.get(n).map(t => n -> Json.num(t)))),
        "warm_s" -> Json.obj(order.map(n => n ->
          Json.arr(warmPasses.toSeq.flatMap(_.get(n)).map(Json.num)))),
        "oracle_sql" -> Json.obj(order.sorted.flatMap(n =>
          SparkEntry.oracleSql.get(n).map(q => n -> Json.str(q))))))
  }
}
