package graft.dq

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column profiler (reference `src/dq.py:39-79`), batched for scale:
  *
  *  - Pass 1 is ONE global aggregate: count/nulls/distinct + all
  *    type-specific stats for every column, in a single
  *    ObjectHashAggregate (a partial buffer per partition, one merge
  *    row per partition shuffled). [[DqEngine.runChecks]] adds its
  *    rule aggregates to the same pass, so a check scans its sample
  *    once for profile and rules together.
  *  - Pass 2: ONE melt → groupBy → window pass computes top-k value
  *    counts for ALL profiled columns together, instead of one job
  *    per column.
  *
  * Two accuracy modes (the 100 TB cliff SURVEY §2.8 flags):
  *
  *  - `exact = true` (default; what [[DqEngine.runChecks]] uses on its
  *    BOUNDED ≤ 200 000-row samples and what the oracle queries pin):
  *    exact interpolated `percentile` and an exact distinct count
  *    (`size(collect_set)`, see [[exactDistinct]]). Both buffer values
  *    per partition — every value for a percentile, every distinct
  *    value for a set — which is fine at sample scale and the first
  *    thing to break on a full table. Both are typed imperative
  *    aggregates, so they share one ObjectHashAggregate with the
  *    declarative stats; `count_distinct` instead makes Catalyst
  *    Expand the input (N+1)× for N columns and adds two shuffles.
  *  - `exact = false` ([[profileFull]]): sketch-based
  *    `approx_percentile` (rank error ≤ 1/accuracy of the row count,
  *    so the default 10 000 bounds p50/p95 to ±0.01% of ranks; returns
  *    an actual data value, not an interpolation) and HyperLogLog++
  *    `approx_count_distinct` (relative sd 5% default, exact at small
  *    cardinalities). This is the mode a full-table profile on a
  *    cluster should run; the memory per column is O(accuracy), not
  *    O(rows).
  *
  * Pandas-parity semantics (exact mode): nulls are excluded from
  * distinct, stats and top-k (`dropna()` throughout the reference);
  * std is population std (`ddof=0`, `src/dq.py:56`); percentiles are
  * exact with linear interpolation (pandas default = DuckDB
  * `quantile_cont` = Spark `percentile`).
  */
object Profiler {

  /** Top values kept per column unless a caller asks otherwise. */
  private[dq] val TopK = 5

  /** A named pass-1 aggregate column. */
  private[dq] type Agg = (String, Column)

  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _ => false
  }

  private def quoted(name: String) = "`" + name.replace("`", "``") + "`"

  /** Backtick-quoted column reference (names may contain dots etc.). */
  private[dq] def qcol(name: String): Column = col(quoted(name))

  /** Full-table profiling entry point: sketch aggregates throughout
    * (see class doc for the error bounds). */
  def profileFull(df: DataFrame, topK: Int = TopK,
      accuracy: Int = 10000): Seq[ColumnProfile] =
    profile(df, topK, exact = false, accuracy)

  def profile(df: DataFrame, topK: Int = TopK, exact: Boolean = true,
      accuracy: Int = 10000): Seq[ColumnProfile] = {
    val fields = df.schema.fields.toSeq
    val row = aggregate(df, fields.flatMap(columnAggs(_, exact, accuracy)))
    read(fields, row, topValues(df, fields, topK))
  }

  /** Exact distinct count with `count_distinct` semantics — nulls
    * excluded, −0.0 and 0.0 one value, every NaN one value — as a set
    * that sits in the same aggregate as the percentiles. The set
    * compares boxed doubles numerically, so NaN never equals itself
    * (a bare set counts {0.0, −0.0, NaN, NaN, NaN, 1.0} as 5, not 3):
    * floats are counted as the set of their non-NaN values (`+ 0.0`
    * pins −0.0 to 0.0 whatever the set's equality) plus one if any
    * NaN occurs. Types
    * whose set equality is not grouping equality (nested values,
    * whose floats and map entries grouping normalizes; collated
    * strings) keep `count_distinct`. */
  private[dq] def exactDistinct(c: Column, dt: DataType): Column = dt match {
    case FloatType | DoubleType =>
      size(collect_set(when(!isnan(c), c + 0.0))).cast("long") +
        coalesce(max(isnan(c).cast("long")), lit(0L))
    case NullType => lit(0L)
    // `StringType` itself is the default (binary) collation only
    case StringType | BooleanType | ByteType | ShortType | IntegerType |
        LongType | _: DecimalType | DateType | TimestampType |
        TimestampNTZType | BinaryType =>
      size(collect_set(c)).cast("long")
    case _ => count_distinct(c)
  }

  /** `nulls` and `distinct` of one column: what every profile holds
    * and what the not_null and unique rules read. */
  private[dq] def nullsAndDistinct(f: StructField, exact: Boolean): Seq[Agg] = {
    val c = qcol(f.name)
    Seq(
      s"nulls__${f.name}" -> sum(c.isNull.cast("long")),
      s"distinct__${f.name}" ->
        (if (exact) exactDistinct(c, f.dataType) else approx_count_distinct(c)))
  }

  /** Every pass-1 aggregate of one column's profile. */
  private[dq] def columnAggs(f: StructField, exact: Boolean = true,
      accuracy: Int = 10000): Seq[Agg] = {
    val c = qcol(f.name)
    def pctl(x: Column, p: Double) =
      if (exact) percentile(x, lit(p))
      else approx_percentile(x, lit(p), lit(accuracy))
    val typed = f.dataType match {
      case dt if isNumeric(dt) => Seq(
        s"min__${f.name}" -> min(c).cast("double"),
        s"max__${f.name}" -> max(c).cast("double"),
        // cast: avg/percentile of a DECIMAL column return Decimal,
        // which would CCE on the Double read-back below
        s"mean__${f.name}" -> avg(c).cast("double"),
        s"std__${f.name}" -> stddev_pop(c),
        s"p50__${f.name}" -> pctl(c, 0.5).cast("double"),
        s"p95__${f.name}" -> pctl(c, 0.95).cast("double"))
      case _: TimestampType => Seq(
        s"tsmin__${f.name}" -> date_format(min(c), "yyyy-MM-dd HH:mm:ss"),
        s"tsmax__${f.name}" -> date_format(max(c), "yyyy-MM-dd HH:mm:ss"))
      case _: StringType => Seq(
        s"lmin__${f.name}" -> min(length(c)).cast("long"),
        s"lmax__${f.name}" -> max(length(c)).cast("long"),
        s"lp95__${f.name}" -> pctl(length(c), 0.95).cast("double"))
      case _ => Nil
    }
    nullsAndDistinct(f, exact) ++ typed
  }

  /** Pass 1: the row count `n` plus every aggregate in `aggs` (the
    * first of each name wins), in one job. */
  private[dq] def aggregate(df: DataFrame, aggs: Seq[Agg]): Row = {
    val named = aggs.distinctBy(_._1).map { case (n, c) => c.as(n) }
    df.agg(count(lit(1)).as("n"), named: _*).collect()(0)
  }

  /** Pass 2: top-k values of every column in `fields` at once via melt
    * (null-excluded). */
  private[dq] def topValues(df: DataFrame, fields: Seq[StructField],
      topK: Int): Map[String, Seq[TopValue]] = {
    if (fields.isEmpty) return Map.empty
    val stackExpr = fields.map { f =>
      // escape backslashes BEFORE quotes: with Spark's default
      // escapedStringLiterals=false a raw backslash in a column name
      // either eats the closing quote (ParseException for a schema
      // Spark itself accepts) or decodes to a control char, silently
      // desyncing the groupBy key from f.name
      val lit = f.name.replace("\\", "\\\\").replace("'", "\\'")
      s"'$lit', CAST(${quoted(f.name)} AS STRING)"
    }.mkString(", ")
    val w = Window.partitionBy("column")
      .orderBy(desc("cnt"), col("value"))
    df.selectExpr(s"stack(${fields.size}, $stackExpr) AS (column, value)")
      .where(col("value").isNotNull)
      .groupBy("column", "value").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= topK)
      .collect()
      .groupBy(_.getAs[String]("column"))
      .map { case (k, rows) =>
        k -> rows.sortBy(_.getAs[Int]("rn"))
          .map(r => TopValue(r.getAs[String]("value"), r.getAs[Long]("cnt"))).toSeq
      }
  }

  /** The profiles of `fields` from a pass-1 row holding their
    * [[columnAggs]]. */
  private[dq] def read(fields: Seq[StructField], row: Row,
      top: Map[String, Seq[TopValue]]): Seq[ColumnProfile] = {
    val total = row.getAs[Long]("n")
    def opt[T](name: String): Option[T] =
      if (row.schema.fieldNames.contains(name) && !row.isNullAt(row.fieldIndex(name)))
        Some(row.getAs[T](name))
      else None
    fields.map { f =>
      ColumnProfile(
        column = f.name,
        count = total,
        nulls = opt[Long](s"nulls__${f.name}").getOrElse(0L),
        distinct = opt[Long](s"distinct__${f.name}").getOrElse(0L),
        numeric =
          if (isNumeric(f.dataType))
            Some(NumericStats(
              opt[Double](s"min__${f.name}").getOrElse(Double.NaN),
              opt[Double](s"max__${f.name}").getOrElse(Double.NaN),
              opt[Double](s"mean__${f.name}").getOrElse(Double.NaN),
              opt[Double](s"std__${f.name}").getOrElse(Double.NaN),
              opt[Double](s"p50__${f.name}").getOrElse(Double.NaN),
              opt[Double](s"p95__${f.name}").getOrElse(Double.NaN)))
          else None,
        timestamp = opt[String](s"tsmin__${f.name}").map(mn =>
          TimestampStats(mn, opt[String](s"tsmax__${f.name}").getOrElse(mn))),
        stringLength = opt[Long](s"lmin__${f.name}").map(mn =>
          StringLengthStats(mn,
            opt[Long](s"lmax__${f.name}").getOrElse(mn),
            opt[Double](s"lp95__${f.name}").getOrElse(mn.toDouble))),
        topValues = top.getOrElse(f.name, Nil))
    }
  }
}
