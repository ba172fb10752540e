package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Answer checks for served queries: responses flatten to `path -> value`
  * maps, and the reference answer for a query is the same aggregate
  * computed directly with Spark over the generated parquet.
  */
object Check {
  /** Relative tolerance for `countdistincthll` against the exact count. */
  val HllTolerance = 0.05

  /** The `i`-th result of an AQLResponse, or None when the response
    * carries an error for it.
    */
  def result(body: String, i: Int = 0): Option[JValue] = {
    val j = JsonMethods.parse(body)
    val errs = j \ "errors" match {
      case JArray(es) => es
      case _ => Nil
    }
    if (errs.lift(i).exists(_ != JNull)) None
    else j \ "results" match {
      case JArray(rs) if rs.length > i => Some(rs(i))
      case _ => None
    }
  }

  /** True when the body is a complete AQLResponse with no errors. */
  def okBody(body: String): Boolean =
    try {
      val j = JsonMethods.parse(body)
      (j \ "errors" match {
        case JNothing | JNull => true
        case JArray(es) => es.forall(_ == JNull)
        case _ => false
      }) && (j \ "results").isInstanceOf[JArray]
    } catch { case _: Exception => false }

  /** Aggregate trees flatten to `a/b -> leaf`; non-aggregate results to
    * `#row:cell|cell -> 1`, so row order is part of the answer.
    */
  def flatten(v: JValue): Map[String, Double] = v \ "matrixData" match {
    case JArray(rows) => rows.zipWithIndex.map { case (r, i) =>
      val cells = r match {
        case JArray(cs) => cs.map {
          case JString(s) => s
          case other => JsonMethods.compact(JsonMethods.render(other))
        }
        case _ => Nil
      }
      s"#$i:${cells.mkString("|")}" -> 1.0
    }.toMap
    case _ =>
      def go(prefix: String, x: JValue): Seq[(String, Double)] = x match {
        case JObject(fs) => fs.flatMap { case (k, c) =>
          go(if (prefix.isEmpty) k else s"$prefix/$k", c) }
        case JDouble(d) => Seq(prefix -> d)
        case JInt(d) => Seq(prefix -> d.toDouble)
        case JLong(d) => Seq(prefix -> d.toDouble)
        case JDecimal(d) => Seq(prefix -> d.toDouble)
        case _ => Seq(prefix -> Double.NaN)
      }
      // a dimensionless aggregate is keyed by the measure alias
      go("", v).toMap
  }

  def round4(d: Double): Double = BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Equal key sets and values equal at 4 decimals (`hll`: within the
    * sketch tolerance of the exact count).
    */
  def same(got: Map[String, Double], exp: Map[String, Double], hll: Boolean = false): Boolean =
    got.keySet == exp.keySet && got.forall { case (k, g) =>
      val e = exp(k)
      if (hll) math.abs(g - e) <= math.max(1.0, HllTolerance * e)
      else round4(g) == round4(e)
    }

  /** Reference answer for `q`, computed with plain Spark over `events`
    * (the generated parquet) and `users`.
    */
  def expected(events: DataFrame, users: DataFrame, q: Gen.Query): Map[String, Double] = {
    val ev = events.where(col("ts") >= timestamp_seconds(lit(q.from)) &&
      col("ts") < timestamp_seconds(lit(q.to)))
    val day = date_format(col("ts"), "yyyy-MM-dd")
    def agg(df: DataFrame, key: org.apache.spark.sql.Column,
        m: org.apache.spark.sql.Column): Map[String, Double] =
      df.groupBy(key.cast("string").as("k")).agg(m.cast("double").as("m")).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    q.kind match {
      case "count_by_type" => agg(ev, col("event_type"), count(lit(1)))
      case "sum_by_day" => agg(ev, day, sum(col("value")))
      case "avg_by_type" => agg(ev, col("event_type"), avg(col("value")))
      case "hll_by_type" => agg(ev, col("event_type"), countDistinct(col("user_id")))
      case "count_by_hour" => agg(ev, date_format(col("ts"), "yyyy-MM-dd HH:00"), count(lit(1)))
      case "expr_dim" => agg(ev, col("user_id") % 10, sum(col("value")))
      case "filtered" => agg(ev.where(col("event_type") === "purchase"), day, sum(col("value")))
      case "join_country" =>
        agg(ev.join(users, Seq("user_id"), "left"), col("country"), count(lit(1)))
      case "topk_rows" =>
        ev.orderBy(col("value").desc, col("event_id").asc).limit(20)
          .select(col("event_id"), col("value")).collect().zipWithIndex
          .map { case (r: Row, i) =>
            s"#$i:${r.getLong(0)}|${r.getDouble(1).toLong}" -> 1.0 }.toMap
    }
  }
}
