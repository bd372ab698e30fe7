package graft

import org.apache.spark.sql.execution.ExplainMode

/** Whole-surface plan-smell GATE (r12, promoting a manual plan sweep
  * to CI): every driver entry's formatted plan
  * must contain ZERO `SortAggregate` and ZERO `CartesianProduct`
  * nodes, and `BroadcastNestedLoopJoin` only in the adjudicated
  * allowlist below. The r11 audit proved these demotions enter
  * silently — `min(struct(...))` and builtin `first(map)` both look
  * innocent at the call site and each demoted a sample-volume hash
  * aggregate to an in-partition sort of the full volume (the exact
  * shape that dies at 100×) — so the invariant lives in `sbt test`,
  * not in a tool someone must remember to run.
  *
  * The allowlist entries are all deliberate `crossJoin(broadcast(...))`
  * of a SCALAR or k-row side — a broadcast cross join IS the planned
  * shape there, and dedicated plan guards elsewhere pin the broadcast
  * (PlanShapeSpec). An entry leaving the list (op
  * rewritten without the cross join) just passes; an entry ENTERING
  * BNLJ without adjudication fails here.
  *
  * Per-row SCALA-UDF sweep (r15 refresh; the HOF gate below covers
  * lambda expressions, this note covers `functions.udf` sites, which
  * plans show as opaque and the gate cannot pattern-match): the full
  * `grep udf src/main` inventory is unchanged since the r13
  * adjudication — PromUdfs' per-(series, window) fold/rate/quantile
  * mergers (one call per OUTPUT row, never per sample; the partials
  * route keeps their inputs rung-sliced), TopK's per-RESULT-row label
  * decode, Dedup's broadcast-Bloom probe (per batch row, O(batch)) and
  * per-doc simhash, Similarity's per-QUERY PQ table build + coarse-scan
  * branch + recall-witness jitter, TextOps' per-doc string rewriters
  * (t13/t17-class, output-bounded), and Multimodal's documented resize
  * stub. None sits on a corpus-volume inner loop; the r15 additions
  * (dedup index tier, debounced union merge, bench storm flag)
  * introduced zero new udf sites.
  */
class PlanAuditSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  /** entry -> one-line justification for its BroadcastNestedLoopJoin. */
  private val bnljAllowlist: Map[String, String] = Map(
    "d7_embed_lsh" -> "recall witness: candidate pairs cross-joined with broadcast scalar truth-count",
    "d8_embed_blocked" -> "recall witness: same scalar-truth broadcast cross as d7",
    "t10_tfidf" -> "corpus-N scalar (1 row) broadcast-crossed onto term rows for idf",
    "t16_importance" -> "corpus aggregate scalar broadcast-crossed onto docs",
    "t20_lm_score" -> "global char-lm normalizer scalar broadcast-crossed onto docs",
    "t23_cooccurrence" -> "total-window scalar broadcast-crossed onto pair rows for PMI",
    "t24_source_kl" -> "per-source totals (k rows) broadcast-crossed for normalization",
    "t30_bm25" -> "corpus N + avgdl scalars (1 row) broadcast-crossed for the bm25 formula",
    "x1_sim_topk" -> "query vectors (k rows) broadcast-crossed onto the corpus scan",
    "x2_sim_ann" -> "query + recall-truth scalars broadcast-crossed",
    "x3_sim_ivf" -> "query vector crossed onto centroid table (k rows) then probed cells",
    "x5_sim_pq" -> "query + per-subspace codebooks (k rows) broadcast-crossed",
    "x8_centroid_assign" -> "k-row centroid table broadcast-crossed onto the corpus",
    "x9_kmeans_rounds" -> "k-row centroid table broadcast-crossed per Lloyd round",
    "c4_semdedup" -> "recall witness: same scalar-truth broadcast cross as d7/d8")

  /** Adjudicated lambda-HOF plan-line patterns. Lambda HOFs
    * (`transform`/`aggregate`/`filter`/...) evaluate INTERPRETED per
    * element — twice a corpus-volume lambda pipeline was found by hand
    * in a hot path (StopwordHits r9, CanonicalLabels r12; t4's
    * per-character rolling hash fell to this very sweep in r13) — so
    * the class is gated: a plan line carrying `lambdafunction` must
    * match one of these SITE patterns, each adjudicated as a small
    * bounded-array site (the ≤~100-element regime where interpretation
    * overhead is noise against the scan, and a native expression would
    * buy nothing measurable). A new lambda site fails until either
    * made native (graft.functions) or adjudicated here. */
  private val hofPatterns: Seq[(scala.util.matching.Regex, String)] = Seq(
    "array_sort\\(map_entries\\(".r ->
      "label-map entry sort: <= label-count (~8) elements per row",
    "transform\\(CASE WHEN \\(greatest\\(".r ->
      "partials aligned-bucket index expansion: per-row array bounded by buckets-per-window",
    "array_sort\\(collect_list\\(".r ->
      "per-group sort of a collected fold/centroid list: post-aggregation, group-sized",
    "array_sort\\(\\[\\]".r ->
      "constant-folded empty-array sort (scalar-aggregation branch)",
    "aggregate\\(cast\\(embedding".r ->
      "x4 normQuantize: norm fold over the fixed 64-dim vector",
    "transform\\(_v#".r ->
      "x4 normQuantize: quantization map over the fixed 64-dim vector",
    "aggregate\\(_q#".r ->
      "x4 normQuantize: q_sum fold over the fixed 64-dim vector",
    "transform\\(split\\(w#".r ->
      "t29 BPE: per-word char markup, word-length bounded")

  test("no driver entry plans SortAggregate, CartesianProduct, " +
      "an unadjudicated BroadcastNestedLoopJoin, or an unadjudicated " +
      "interpreted-lambda higher-order function") {
    val violations = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val p = fn(spark, sf).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      // the numbered detail section lists each distinct operator once
      // ("(12) SortAggregate"), reused nodes included
      def n(smell: String): Int = s"\\(\\d+\\) $smell".r.findAllIn(p).size
      val sort = n("SortAggregate")
      val cart = n("CartesianProduct")
      val bnlj = n("BroadcastNestedLoopJoin")
      if (sort > 0) violations += s"$name: SortAggregate=$sort"
      if (cart > 0) violations += s"$name: CartesianProduct=$cart"
      if (bnlj > 0 && !bnljAllowlist.contains(name))
        violations += s"$name: BroadcastNestedLoopJoin=$bnlj (not allowlisted)"
      // every lambda-bearing HOF prints a lambdafunction(...) argument;
      // each such plan line must match an adjudicated site pattern
      p.split("\n").filter(_.contains("lambdafunction")).foreach { line =>
        if (!hofPatterns.exists(_._1.findFirstIn(line).isDefined))
          violations +=
            s"$name: unadjudicated lambda-HOF site: ${line.trim.take(160)}"
      }
    }
    assert(violations.isEmpty,
      s"plan-smell gate:\n${violations.mkString("\n")}\n" +
        "(a SortAggregate here means an aggregation buffer went " +
        "immutable — min(struct)/first(map)/min(string) class; use the " +
        "typed aggregates in graft.exec or restructure the keys. A " +
        "lambda-HOF means an interpreted per-element pipeline entered " +
        "the plan — use a native expression from graft.functions, or " +
        "adjudicate the site in hofAllowlist if it is a small " +
        "fixed-size-array site)")
  }
}
