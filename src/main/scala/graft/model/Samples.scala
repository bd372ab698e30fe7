package graft.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Canonical sample model of the engine.
  *
  * Mirrors the reference's one logical table — a labelled time series of
  * `(timestamp int64 ms, value float64)` points (reference:
  * `vendor/github.com/prometheus/prometheus/promql/value.go:93-114`,
  * `storage/interface.go:74-83`):
  *
  * {{{
  *   labels MAP<STRING,STRING>   -- full label set incl. __name__
  *   t      BIGINT               -- epoch millis UTC
  *   v      DOUBLE               -- may be NaN; StaleNaN = 0x7ff0000000000002
  * }}}
  *
  * Series identity in the reference is xxhash64 over the name-sorted label
  * pairs (`pkg/labels/labels.go:85-96`). Here too: [[sigExpr]] is xxhash64
  * of a length-prefixed canonical string ([[sigStr]]) — LONG keys keep
  * every shuffle exchange small at scale; the labels map rides along only
  * for output.
  */
object Samples {
  val MetricNameLabel = "__name__"

  // (separator constants removed: the canonical form is length-prefixed,
  // see sigStr — no separator can collide with label content)

  val schema: StructType = StructType(Seq(
    StructField("labels", MapType(StringType, StringType), nullable = false),
    StructField("t", LongType, nullable = false),
    StructField("v", DoubleType, nullable = false)
  ))

  /** Canonical series string over ALL labels (sorted), length-prefixed so
    * it is collision-free for ANY label content (a plain separator char
    * could legally appear inside a label value). Decoding is unambiguous:
    * each segment is `len(key):key=len(value):value` joined by `;`. */
  def sigStr(labels: Column): Column =
    // r12: native codegen expression — the former
    // array_join(transform(array_sort(map_entries(...)))) pipeline
    // evaluated its lambdas INTERPRETED per entry, and this string is
    // built per ROW in the ingest dedup, binop signature, and topk tie
    // paths; output is bit-identical (property-pinned in PropertySpec)
    graft.functions.CanonicalLabels(labels)

  /** Prometheus label-name validity (`model.LabelNameRE`). */
  private val LabelNameRe = "^[a-zA-Z_][a-zA-Z0-9_]*$".r
  def isValidLabelName(s: String): Boolean = LabelNameRe.matches(s)

  /** Driver-side twin of [[sigStr]] (the length-prefixed ENCODING; see
    * [[labelsCompare]] for ordering — the length prefixes deliberately
    * make this string unsuitable as a sort key). */
  def canonical(labels: Map[String, String]): String =
    labels.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${k.length}:$k=${v.length}:$v" }
      .mkString(";")

  /** Label-set ordering matching the reference's `labels.Compare`
    * (vendored `labels/labels.go`): pairwise over the name-sorted label
    * list, name then value, shorter list first on a tie. This is the
    * API-visible result ordering (`promql/engine.go:484-486`) — NOT the
    * [[canonical]] string order, whose length prefixes would sort
    * `view` (len 4) before `click` (len 5). */
  def labelsCompare(a: Map[String, String], b: Map[String, String]): Int = {
    val sa = a.toSeq.sortBy(_._1)
    val sb = b.toSeq.sortBy(_._1)
    var i = 0
    while (i < sa.length && i < sb.length) {
      val cn = sa(i)._1.compareTo(sb(i)._1)
      if (cn != 0) return cn
      val cv = sa(i)._2.compareTo(sb(i)._2)
      if (cv != 0) return cv
      i += 1
    }
    sa.length - sb.length
  }

  /** [[labelsCompare]] as an Ordering, for sortBy/sorted call sites. */
  val labelsOrdering: Ordering[Map[String, String]] =
    (a: Map[String, String], b: Map[String, String]) => labelsCompare(a, b)

  /** Series signature used as every groupBy/join key: xxhash64 of the
    * canonical string, mirroring the reference's labels.Hash
    * (`labels/labels.go:85-96`). A LONG key keeps shuffle exchanges small
    * at scale (vs. shipping the full concatenated label string); the
    * 64-bit collision risk over realistic series cardinalities is
    * negligible. The labels map itself is carried alongside for output. */
  def sigExpr(labels: Column): Column = xxhash64(sigStr(labels))

  /** Signature restricted TO the given label names (PromQL `on(...)` /
    * `by(...)`). */
  def sigOn(labels: Column, names: Seq[String]): Column =
    sigExpr(graft.functions.FilterLabels.keep(labels, names))

  /** Signature over all labels EXCEPT the given names and `__name__`
    * (PromQL `ignoring(...)` / `without(...)`). */
  def sigWithout(labels: Column, names: Seq[String]): Column =
    sigExpr(labelsWithout(labels, names))

  // r12: the map_filter lambda forms evaluated INTERPRETED per entry,
  // one per sample row in binop matching — now native projections
  // (graft.functions.FilterLabels), entry order preserved like
  // map_filter's
  def labelsOn(labels: Column, names: Seq[String]): Column =
    if (names.isEmpty) map()
    else graft.functions.FilterLabels.keep(labels, names)

  def labelsWithout(labels: Column, names: Seq[String]): Column =
    graft.functions.FilterLabels.drop(labels,
      (names.toSet + MetricNameLabel).toSeq.sorted)

  def dropMetricName(labels: Column): Column =
    graft.functions.FilterLabels.drop(labels, Seq(MetricNameLabel))

  /** Prometheus staleness marker: a specific signalling-NaN bit pattern
    * (reference `pkg/value/value.go:20-34`). `isnan` is NOT sufficient —
    * normal NaNs are legal sample values. */
  val StaleNaNBits: Long = 0x7ff0000000000002L
  val StaleNaN: Double = java.lang.Double.longBitsToDouble(StaleNaNBits)

  /** Adapter: driver test table `events` → canonical samples.
    * Series labels: metric name + event_type + user_id. */
  def fromEvents(events: DataFrame): DataFrame = {
    // events.ts arrives in one of three parquet encodings depending on the
    // generator's pyarrow version: TIMESTAMP(NANOS) read as LongType nanos
    // under spark.sql.legacy.parquet.nanosAsLong (integer division is a
    // MUST: `/` promotes to double and epoch nanos ~1.7e18 exceed double's
    // 2^53 mantissa, yielding ms values 1 off), TIMESTAMP_NTZ (naive
    // micros; the session tz is pinned UTC everywhere, so casting to
    // TIMESTAMP reads the naive value as UTC — exactly DuckDB's
    // epoch_ms(ts) on the same column), or a zoned TIMESTAMP.
    val tMs = events.schema("ts").dataType match {
      case LongType => expr("ts DIV 1000000")
      case _: TimestampNTZType => unix_millis(col("ts").cast(TimestampType))
      case _ => unix_millis(col("ts"))
    }
    events.select(
      map(
        lit(MetricNameLabel), lit("events_value"),
        lit("event_type"), col("event_type"),
        lit("user_id"), col("user_id").cast(StringType)
      ).as("labels"),
      tMs.as("t"),
      col("value").as("v"))
  }

  private val eventsCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Collision-free session component for per-(session, dir) cache
    * keys, shared by every fixture memo ([[fromEventsDir]], the
    * SparkEntry derived-store caches). `identityHashCode` is NOT
    * unique: a cached DataFrame pins its session, so a colliding hash
    * from a later session could be handed a frame bound to a stopped
    * one. A weak identity map assigns each live session one UUID
    * instead (`SparkSession.sessionUUID` is `private[sql]`). */
  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())
  def sessionKey(spark: SparkSession): String =
    sessionIds.computeIfAbsent(spark, _ => {
      val id = java.util.UUID.randomUUID().toString
      // retention, not just collision-freedom: cached DataFrames pin
      // their (possibly stopped) session, so a long-lived JVM that
      // cycles sessions would accumulate unbounded dead entries — when
      // this session's context ends, evict every cache entry minted
      // under its key (and clear the plan-keyed caches wholesale: a
      // canonicalized plan does not name its session, and a context
      // end in this single-context-per-JVM architecture orphans them
      // all; worst case a survivor rebuilds its entry)
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd)
              : Unit = evictSession(id)
        })
      id
    })

  /** Caches keyed by strings CONTAINING a [[sessionKey]] UUID —
    * entries for a dead session are removed by key match. */
  private val keyedCaches = new java.util.concurrent.CopyOnWriteArrayList[
    java.util.concurrent.ConcurrentHashMap[String, _]]()
  /** Caches whose keys embed session-bound objects (canonicalized
    * plans) that cannot be matched to a session id — cleared wholesale
    * when any session's context ends. */
  private val planCaches = new java.util.concurrent.CopyOnWriteArrayList[
    java.util.Map[_, DataFrame]]()
  private val planValueCaches = new java.util.concurrent.CopyOnWriteArrayList[
    java.util.Map[_, _]]()

  def registerSessionKeyedCache(
      m: java.util.concurrent.ConcurrentHashMap[String, _]): Unit =
    keyedCaches.add(m)
  def registerSessionBoundCache(m: java.util.Map[_, DataFrame]): Unit =
    planCaches.add(m)
  /** For plan-keyed caches holding DRIVER-side values (no Spark
    * storage to release) — centroid tables, PQ codebooks. */
  def registerSessionBoundValueCache(m: java.util.Map[_, _]): Unit =
    planValueCaches.add(m)

  private def evictSession(id: String): Unit = {
    keyedCaches.forEach(m => m.keySet.removeIf(_.contains(id)))
    // unpersist-then-clear: a bare clear() bypasses the LRU's
    // removeEldestEntry hook and would orphan the Spark-cached frames
    // for any surviving session (r10 advice)
    planCaches.forEach(graft.llm.PlanCache.clearAndUnpersist)
    planValueCaches.forEach(_.clear())
  }

  registerSessionKeyedCache(eventsCache)

  /** Adapter entry point, memoized + Spark-cached per (session, dir):
    * every query re-reads the same fixture table, and the reference
    * serves reads from its in-memory TSDB head block — one cached
    * normalized frame per table is the faithful analogue (the fixture
    * tables are small; a production deployment would bound this to the
    * hot head window the way `Ingest`'s date partitions do).
    *
    * The series signature is computed ONCE here and cached as a
    * column: the canonical-string hash (entries sort + string build +
    * xxhash64 per row) was the dominant per-row compute of every
    * selector query — the engine reuses a stored `sig` instead of
    * recomputing it (the same contract the bucketed store tier uses,
    * where it additionally carries the scan's partitioning). */
  def fromEventsDir(spark: SparkSession, sfDir: String): DataFrame =
    eventsCache.computeIfAbsent(
      s"${sessionKey(spark)}:$sfDir",
      _ => {
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        fromEvents(spark.read.parquet(s"$sfDir/events.parquet"))
          .withColumn("sig", sigExpr(col("labels")))
          .cache()
      })

  /** Batch source for the write wire format (one JSON object per line:
    * `{"labels":{...},"t":ms,"v":x,"stale":bool}`; `v` may be a number
    * or the strings "NaN"/"+Inf"/"-Inf"). Declaring `v` as STRING makes
    * Spark's JSON reader preserve numeric literals textually, so both
    * encodings parse through one branch. */
  def fromJsonLines(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read
      .schema("labels MAP<STRING,STRING>, t BIGINT, v STRING, stale BOOLEAN")
      .json(path)
    val vParsed = expr(
      """CASE v WHEN 'NaN' THEN cast('NaN' as double)
        |  WHEN '+Inf' THEN cast('Infinity' as double)
        |  WHEN 'Inf' THEN cast('Infinity' as double)
        |  WHEN '-Inf' THEN cast('-Infinity' as double)
        |  ELSE cast(v as double) END""".stripMargin)
    raw.select(col("labels"), col("t"), vParsed.as("v"),
      coalesce(col("stale"), lit(false)).as("stale"))
  }
}
