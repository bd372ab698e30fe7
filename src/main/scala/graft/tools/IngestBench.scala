package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.storage.Ingest

/** Ingest-throughput measurement against the reference's ≥ 1 M
  * samples/s envelope (`docs/assumptions.md:37-48`, which assumes a
  * 5-node × 24-core cluster; this runs on ONE local JVM). Workload
  * shape mirrors the reference bench generator
  * (`internal/test/bench/bench.go:23,64` + testutil.GenerateDataSamples):
  * 10⁴ unique series of 4 labels each, regular timestamps. Each batch
  * runs the FULL append path — canonicalize → ErrAmendSample dedup
  * policy → date + series-bucket partitioned parquet — into a fresh
  * table dir; batches after the first are warm.
  *
  * Usage: runMain graft.tools.IngestBench [samplesPerBatch] [batches]
  *                                        [--tiers]
  *
  * `--tiers` (r9): measure the PRODUCTION forTable write shape instead
  * of the bare append — per batch, the exact sink sequence of
  * `HttpApi.forTable(rollups = hourly+daily, chunks = true)`:
  * dedup-once → canonical table append → per-batch Gorilla chunk cut →
  * series-index upsert → incremental merge of the batch into the
  * touched dates' rungs (`Ingest.refreshFoldPartialsIncremental`) —
  * into ONE persistent table whose batches are consecutive time
  * windows (the honest long-running-server cost, not a fresh-dir
  * ideal).
  * Prints the per-tier split so the BASELINE.md write-path claim
  * covers the configuration actually served.
  */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val tiers = args.contains("--tiers")
    // --refresh-every k: debounce the rung refresh like forTable's
    // refreshEveryWrites — rungs rewritten once per k batches (touched
    // dates accumulate), measuring the amortization lever. Positional
    // parse (a value-equality filter would eat a positional arg that
    // happens to equal the flag's value).
    var refreshEvery = 1
    val argv = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--tiers" =>
        case "--refresh-every" => refreshEvery = args(i + 1).toInt; i += 1
        case a => argv += a
      }
      i += 1
    }
    val perBatch = argv.headOption.map(_.toInt).getOrElse(4_000_000)
    val batches = argv.lift(1).map(_.toInt).getOrElse(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("ingest-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", false)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val nSeries = 10000
    val baseMs = 1704067200000L // 2024-01-01
    def batchDf(b: Int) = spark.range(perBatch).select(
      map(
        lit("__name__"), lit("bench_metric"),
        lit("instance"), concat(lit("inst-"), (col("id") % nSeries)),
        lit("job"), lit("bench"),
        lit("shard"), (col("id") % 4).cast("string")
      ).as("labels"),
      // consecutive time windows per batch (a server's batches never
      // replay timestamps; replays would be cross-batch amends)
      (lit(baseMs + b.toLong * (perBatch / nSeries) * 15000L) +
        (col("id") / nSeries).cast("long") * 15000L).as("t"),
      (col("id") % 97).cast("double").as("v"),
      lit(false).as("stale"))

    if (!tiers) {
      for (b <- 0 until batches) {
        val path = java.nio.file.Files
          .createTempDirectory(s"ingest-bench-$b").toString
        // one batch: perBatch samples across nSeries series, 15s
        // cadence, built distributed (the generator must not be the
        // bottleneck)
        val df = batchDf(0)
        val t0 = System.nanoTime()
        Ingest.append(df, path) // dedup + sig + date/bucket layout inside
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"batch $b: $perBatch samples in $sec%.2f s = " +
          f"${perBatch / sec / 1e6}%.2f M samples/s${if (b == 0) " (cold)" else ""}")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      }
    } else {
      import graft.storage.ChunkStore
      val path = java.nio.file.Files
        .createTempDirectory("ingest-bench-tiers").toString
      val indexPath = new org.apache.hadoop.fs.Path(path, "_index").toString
      val chunksPath = new org.apache.hadoop.fs.Path(path, "_chunks").toString
      val rollups = Seq(3600000L, 86400000L) // hourly + daily
      def timed(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      def freeCheckpoint(c: org.apache.spark.sql.DataFrame): Unit =
        c.queryExecution.analyzed.foreach {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            lr.rdd.unpersist(blocking = false)
          case _ =>
        }
      var pendingDates = Set.empty[String]
      // the debounced flush buffers the deferred batches' canonical
      // frames (checkpointed, so buffering holds blocks, not lineage)
      // and merges their UNION at the due batch — the forTable
      // debounced-flush shape
      var pendingCanon = Vector.empty[org.apache.spark.sql.DataFrame]
      for (b <- 0 until batches) {
        val df = batchDf(b)
        // the forTable sink sequence (api/HttpApi.scala forTable):
        // dedup once, feed table + chunk store, upsert index, refresh
        // the touched dates' rungs
        var canon: org.apache.spark.sql.DataFrame = null
        val tDedup = timed {
          canon = Ingest.dedup(df, strict = false).localCheckpoint(true)
        }
        try {
          val tTable = timed { Ingest.appendCanonical(canon, path) }
          val tChunks = timed {
            ChunkStore.write(canon, chunksPath)
            spark.catalog.refreshByPath(chunksPath)
          }
          val tIndex = timed {
            spark.catalog.refreshByPath(indexPath)
            Ingest.appendSeriesIndex(df, indexPath)
            spark.catalog.refreshByPath(path)
          }
          pendingDates ++= Ingest.datesOf(df)
          pendingCanon :+= canon
          val due = (b + 1) % refreshEvery == 0 || b == batches - 1
          val nDates = pendingDates.size
          val nBatches = pendingCanon.size
          val tRungs = timed {
            if (due) {
              val union = pendingCanon.reduce(_.unionByName(_))
              rollups.foreach { r =>
                Ingest.refreshFoldPartialsIncremental(spark, path,
                  Ingest.rollupPath(path, r), r, union)
                spark.catalog.refreshByPath(Ingest.rollupPath(path, r))
              }
              pendingDates = Set.empty
            }
          }
          val total = tDedup + tTable + tChunks + tIndex + tRungs
          println(f"batch $b: $perBatch samples full-tier in $total%.2f s" +
            f" = ${perBatch / total / 1e6}%.2f M/s  [dedup $tDedup%.2f" +
            f" table $tTable%.2f chunks $tChunks%.2f index $tIndex%.2f" +
            f" rungs($nDates%dd/$nBatches%db${if (due) "" else " deferred"})" +
            f" $tRungs%.2f]" + (if (b == 0) " (cold)" else ""))
        } finally {
          if (pendingDates.isEmpty) {
            // flushed (or never deferred): the buffered checkpoints'
            // blocks are no longer needed
            pendingCanon.foreach(freeCheckpoint)
            pendingCanon = Vector.empty
          }
        }
      }
      pendingCanon.foreach(freeCheckpoint)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    }
    spark.stop()
  }
}
