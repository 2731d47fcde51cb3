package graft.dq

import java.time.Instant
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructField
import org.apache.spark.storage.StorageLevel

/** DQ rules engine (reference `src/dq.py:83-172`): not_null, unique,
  * range, freshness, z-score anomaly, dispatched over a (sampled,
  * cached) DataFrame.
  *
  * Fused with the profile: every rule's aggregates join the
  * [[Profiler]]'s pass-1 aggregate. not_null and unique read the
  * profile's `nulls` and `distinct`; range, freshness and the anomaly
  * statistics ride along as extra columns. A check therefore costs
  * pass 1, the profile's top-k pass, and — only when an anomaly rule
  * has a non-zero std — one outlier-count pass for all anomaly rules
  * at once. The reference runs each rule as its own pandas pass.
  *
  * Freshness takes an injected `now` — never `current_timestamp()` —
  * so results are reproducible (SURVEY.md §2.2 R4).
  */
sealed trait Rule { def column: String; def name: String }
final case class NotNullRule(column: String) extends Rule { val name = "not_null" }
final case class UniqueRule(column: String) extends Rule { val name = "unique" }
final case class RangeRule(column: String, min: Option[Double],
    max: Option[Double]) extends Rule { val name = "range" }
final case class FreshnessRule(column: String,
    maxAgeHours: Double = 24.0) extends Rule { val name = "freshness" }
final case class AnomalyRule(column: String,
    sigma: Double = 3.0) extends Rule { val name = "anomaly" }
/** Unknown rule type from a request — always fails (`src/dq.py:168-170`). */
final case class UnknownRule(ruleType: String,
    column: String) extends Rule { val name = ruleType }

object DqEngine {
  import Profiler.qcol

  private def pct(x: Long, total: Long): Double =
    if (total == 0) 0.0
    else BigDecimal(100.0 * x / total)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Numeric coercion matching pandas `to_numeric(errors="coerce")`:
    * non-numeric values become null instead of throwing under ANSI. */
  private def numCoerce(name: String) =
    qcol(name).try_cast("double")

  /** Evaluate all rules over `df`: one pass-1 aggregate, plus the
    * outlier pass when anomaly rules need it. That second pass
    * re-scans `df`; on an uncached non-deterministic input the rows it
    * counts could differ from the ones pass 1 computed stats over, so
    * the frame is pinned for the two-pass window unless the caller
    * already cached it. */
  def evaluate(df: DataFrame, rules: Seq[Rule],
               now: Instant = Instant.now()): Seq[RuleResult] = {
    val mustCache =
      rules.exists(_.isInstanceOf[AnomalyRule]) &&
        df.storageLevel == StorageLevel.NONE
    if (mustCache) df.persist()
    try check(df, rules, now, profiled = false)._1
    finally if (mustCache) df.unpersist()
  }

  /** Rules (and, when `profiled`, the exact profile of every column)
    * over `df`, all from one pass-1 aggregate. */
  private def check(df: DataFrame, rules: Seq[Rule], now: Instant,
      profiled: Boolean): (Seq[RuleResult], Seq[ColumnProfile]) = {
    val known = rules.filter(!_.isInstanceOf[UnknownRule])
    val fields = if (profiled) df.schema.fields.toSeq else Nil

    // not_null and unique read the profile's nulls/distinct of their
    // column, resolved the way Spark resolves it (an unknown column
    // fails analysis here, as a direct reference would).
    val counted = known.collect {
      case r @ (_: NotNullRule | _: UniqueRule) => r.column
    }.distinct
    val resolved: Map[String, StructField] =
      if (counted.isEmpty) Map.empty
      else counted.zip(df.select(counted.map(qcol): _*).schema.fields).toMap

    val extra = known.zipWithIndex.flatMap { case (r, i) =>
      r match {
        case RangeRule(colName, lo, hi) =>
          val cd = numCoerce(colName)
          Seq(
            s"a${i}_below" ->
              lo.map(v => sum(when(cd < v, 1L).otherwise(0L))).getOrElse(lit(0L)),
            s"a${i}_above" ->
              hi.map(v => sum(when(cd > v, 1L).otherwise(0L))).getOrElse(lit(0L)))
        case FreshnessRule(colName, _) => Seq(
          // try_to_timestamp = pandas to_datetime(errors="coerce"):
          // unparseable → null (ANSI to_timestamp would throw).
          s"a${i}_maxts" -> max(try_to_timestamp(qcol(colName))).cast("long"))
        case AnomalyRule(colName, _) =>
          // coerce like the reference (`pd.to_numeric(errors='coerce')`,
          // src/dq.py:137): strings/decimals profile as doubles, and a
          // non-numeric column auto-passes instead of an ANSI cast error
          val cd = numCoerce(colName)
          Seq(
            s"a${i}_mean" -> avg(cd),
            s"a${i}_std" -> stddev_pop(cd),
            s"a${i}_n" -> count(cd))
        case _ => Nil
      }
    }

    // Pass 1, skipped only when nothing at all is asked of it.
    val row =
      if (!profiled && known.isEmpty) null
      else Profiler.aggregate(df,
        fields.flatMap(Profiler.columnAggs(_)) ++
          resolved.values.flatMap(Profiler.nullsAndDistinct(_, exact = true)) ++
          extra)
    val total =
      if (row == null) 0L else row.getAs[Long]("n")
    def get[T](n: String): Option[T] =
      if (row != null && !row.isNullAt(row.fieldIndex(n)))
        Some(row.getAs[T](n)) else None

    val profile =
      if (profiled) Profiler.read(fields, row, Profiler.topValues(df, fields, Profiler.TopK))
      else Nil

    // Outlier counts for all anomaly rules with usable stats.
    val anomalyIdx = known.zipWithIndex.collect {
      case (a: AnomalyRule, i)
          if get[Double](s"a${i}_std").exists(_ > 0.0) => (a, i)
    }
    val outlierCounts: Map[Int, Long] =
      if (anomalyIdx.isEmpty) Map.empty
      else {
        val cs = anomalyIdx.map { case (a, i) =>
          val mean = get[Double](s"a${i}_mean").get
          val std = get[Double](s"a${i}_std").get
          sum(when(abs(numCoerce(a.column) - mean) / std > a.sigma, 1L)
            .otherwise(0L)).as(s"o$i")
        }
        val r = df.agg(cs.head, cs.tail: _*).collect()(0)
        anomalyIdx.map { case (_, i) => i -> r.getAs[Long](s"o$i") }.toMap
      }

    val results = rules.map { rule =>
      val i = known.indexOf(rule)
      rule match {
        case NotNullRule(colName) =>
          val nulls =
            get[Long](s"nulls__${resolved(colName).name}").getOrElse(0L)
          RuleResult("not_null", colName, nulls == 0, Map(
            "nulls" -> nulls.toString, "total" -> total.toString,
            "null_rate_pct" -> pct(nulls, total).toString))
        case UniqueRule(colName) =>
          // Reference formula (`src/dq.py:104-106`): dupes = total −
          // nunique(non-null); every null row counts as a duplicate.
          val distinct =
            get[Long](s"distinct__${resolved(colName).name}").getOrElse(0L)
          val dupes = total - distinct
          RuleResult("unique", colName, dupes == 0, Map(
            "duplicates" -> dupes.toString, "total" -> total.toString))
        case RangeRule(colName, lo, hi) =>
          val below = get[Long](s"a${i}_below").getOrElse(0L)
          val above = get[Long](s"a${i}_above").getOrElse(0L)
          RuleResult("range", colName, below + above == 0, Map(
            "below_min" -> below.toString, "above_max" -> above.toString,
            "min" -> lo.map(_.toString).getOrElse(""),
            "max" -> hi.map(_.toString).getOrElse("")))
        case FreshnessRule(colName, maxAge) =>
          get[Long](s"a${i}_maxts") match {
            case None =>
              RuleResult("freshness", colName, passed = false,
                Map("error" -> "no timestamps"))
            case Some(maxEpoch) =>
              val ageHours = (now.getEpochSecond - maxEpoch) / 3600.0
              RuleResult("freshness", colName, ageHours <= maxAge, Map(
                "age_hours" -> f"$ageHours%.4f",
                "max_age_hours" -> maxAge.toString))
          }
        case AnomalyRule(colName, sigma) =>
          val n = get[Long](s"a${i}_n").getOrElse(0L)
          val std = get[Double](s"a${i}_std").getOrElse(0.0)
          // Empty or zero-variance input auto-passes (`src/dq.py:139-141`).
          if (n == 0 || std == 0.0)
            RuleResult("anomaly", colName, passed = true, Map(
              "outliers" -> "0", "checked" -> n.toString,
              "sigma" -> sigma.toString))
          else {
            val outliers = outlierCounts.getOrElse(i, 0L)
            RuleResult("anomaly", colName, outliers == 0, Map(
              "outliers" -> outliers.toString, "checked" -> n.toString,
              "mean" -> get[Double](s"a${i}_mean").get.toString,
              "std" -> std.toString, "sigma" -> sigma.toString))
          }
        case UnknownRule(t, colName) =>
          RuleResult(t, colName, passed = false,
            Map("error" -> s"unknown rule type: $t"))
      }
    }
    (results, profile)
  }

  /** Sample → profile + rules → report (reference `src/dq.py:153-172`,
    * §3.3 lifecycle). `limit` clamps to [1, 200000] like the reference
    * (`src/dq.py:19-21`, `src/config.py:195-196`).
    */
  def runChecks(df: DataFrame, rules: Seq[Rule], limit: Int = 10000,
                where: Option[String] = None,
                now: Instant = Instant.now()): DqReport = {
    graft.metrics.Metrics.inc("dq_requests_total", Map("route" -> "check"))
    val clamped = math.max(1, math.min(limit, 200000))
    // One cached sample per request, read by every pass. A caller that
    // already cached a sample provably within the limit (the facade's
    // dqCheck caches its `where` + `limit`, so rule evaluation and the
    // returned sample_rows come from ONE materialization) is used as
    // it is: a `limit` on top would be a distinct, uncached plan, so
    // each pass would re-run its single-partition exchange. Anything
    // else is filtered, clamped and cached here for the request.
    val bounded = where.isEmpty &&
      df.storageLevel != StorageLevel.NONE &&
      df.queryExecution.logical.maxRows.exists(_ <= clamped)
    val sample =
      if (bounded) df
      else where.foldLeft(df)((d, p) => d.where(p)).limit(clamped).cache()
    try {
      val (results, prof) = check(sample, rules, now, profiled = true)
      results.foreach(r => graft.metrics.Metrics.inc(
        "dq_checks_total", Map("passed" -> r.passed.toString)))
      DqReport(prof, results, Report.render(prof, results))
    } finally if (!bounded) sample.unpersist()
  }
}

/** Markdown DQ report (reference `src/dq.py:176-198`). */
object Report {
  def render(profile: Seq[ColumnProfile], results: Seq[RuleResult]): String = {
    val sb = new StringBuilder
    val nPassed = results.count(_.passed)
    sb.append("# Data Quality Report\n\n")
    sb.append(s"**Summary:** $nPassed/${results.size} rules passed\n\n")
    sb.append("## Rules\n\n")
    results.foreach { r =>
      val mark = if (r.passed) "✅" else "❌"
      val det = r.details.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }.mkString(", ")
      sb.append(s"- $mark `${r.rule}(${r.column})` $det\n")
    }
    sb.append("\n## Profile\n\n")
    profile.foreach { p =>
      sb.append(s"### ${p.column}\n")
      sb.append(s"- count=${p.count}, nulls=${p.nulls}, distinct=${p.distinct}\n")
      p.numeric.foreach(n => sb.append(
        s"- min=${n.min}, max=${n.max}, mean=${n.mean}, std=${n.stdPop}, " +
          s"p50=${n.p50}, p95=${n.p95}\n"))
      p.timestamp.foreach(t => sb.append(s"- min=${t.min}, max=${t.max}\n"))
      p.stringLength.foreach(l => sb.append(
        s"- min_len=${l.minLen}, max_len=${l.maxLen}, p95_len=${l.p95Len}\n"))
      if (p.topValues.nonEmpty)
        sb.append("- top: " + p.topValues.take(3)
          .map(t => s"${t.value} (${t.count})").mkString(", ") + "\n")
      sb.append("\n")
    }
    sb.toString
  }
}
