package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.exec.{PromQLEngine, PromUdfs}

/** Output checks shared by the HTTP workloads, and the request-to-job
  * matching the traced run uses for `api.overhead_ms`. */
object Oracle {
  private val mapper = new ObjectMapper()

  private def tsMs(n: JsonNode): Long =
    new java.math.BigDecimal(n.asText()).movePointRight(3).longValueExact()

  /** (canonical labels, t) -> value string of a query response. */
  def points(body: String): Map[(String, Long), String] = {
    val res = mapper.readTree(body).path("data").path("result")
    def labels(m: JsonNode): String =
      m.properties().asScala.map(e => e.getKey -> e.getValue.asText())
        .toSeq.sorted.mkString(",")
    if (res.isArray)
      res.elements().asScala.flatMap { s =>
        val l = labels(s.path("metric"))
        val pts = if (s.has("value")) Iterator(s.get("value"))
          else s.path("values").elements().asScala
        pts.map(p => (l, tsMs(p.get(0))) -> p.get(1).asText())
      }.toMap
    else if (res.isNull || res.isMissingNode) Map.empty
    else Map(("", tsMs(res.get(0))) -> res.get(1).asText()) // scalar
  }

  /** Rate-family merges over rungs may associate a non-integral
    * counter-correction sum differently from the raw scan and differ
    * in the last ulp; everything else must match exactly. */
  private def rateFamily(q: String): Boolean =
    Seq("rate(", "increase(", "delta(").exists(q.contains)

  private def close(a: String, b: String): Boolean = {
    val (x, y) = (a.toDouble, b.toDouble)
    x == y || (x.isNaN && y.isNaN) ||
      math.abs(x - y) <= 2 * math.ulp(math.max(math.abs(x), math.abs(y)))
  }

  /** Compares a response with the same query evaluated in-process;
    * returns a description of the first difference, if any. */
  def compare(q: DashboardRead.Q, body: String, engine: PromQLEngine)
      : Option[String] = {
    val got = points(body)
    val df = if (q.instant) engine.instant(q.text, q.end)
      else engine.rangeQuery(q.text, q.start, q.end, q.step)
    val want = df.collect().map { r =>
      val l = r.getMap[String, String](0).toMap.toSeq.sorted.mkString(",")
      (l, r.getLong(1)) ->
        PromUdfs.goFormatFloat(r.getDouble(2))
    }.toMap
    if (got.keySet != want.keySet)
      Some(s"points differ: ${got.size} served vs ${want.size} expected")
    else want.collectFirst {
      case (k, v) if got(k) != v && !(rateFamily(q.text) && close(got(k), v)) =>
        s"value at $k: served ${got(k)}, expected $v"
    }
  }

  /** Median over requests of latency minus the wall time of the
    * request's own `graft-api-*` job group. A group belongs to the one
    * request whose send/receive interval contains all its jobs;
    * ambiguous groups (overlapping requests) are left out. */
  def apiOverhead(ex: Seq[Exchange], jobs: Seq[JobRec]): Double = {
    val groups = jobs.groupBy(_.group).values.map { js =>
      val ivs = js.map(j => (j.startMs, j.endMs))
      (ivs.map(_._1).min, ivs.map(_._2).max, Stats.coveredMs(ivs))
    }
    val per = groups.flatMap { case (s, e, wall) =>
      ex.filter(x => x.sendMs <= s && x.endMs >= e) match {
        case Seq(one) => Some(one -> wall)
        case _ => None
      }
    }.groupBy(_._1).map { case (x, ws) =>
      (x.endMs - x.sendMs).toDouble - ws.map(_._2).sum
    }.toSeq
    if (per.isEmpty) 0.0 else Stats.median(per)
  }
}
