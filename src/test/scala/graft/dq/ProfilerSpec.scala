package graft.dq

import graft.SparkSpec
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExpandExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class ProfilerSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    (1L, Some(1.0), Some("aa"), Some(Timestamp.valueOf("2024-01-01 00:00:00"))),
    (2L, Some(2.0), Some("bb"), Some(Timestamp.valueOf("2024-06-01 12:30:00"))),
    (3L, Some(3.0), Some("aa"), None),
    (4L, None,      None,       None)
  ).toDF("id", "x", "s", "t")

  private lazy val profs = Profiler.profile(df)
  private def p(name: String): ColumnProfile = profs.find(_.column == name).get

  test("count / nulls / distinct with pandas null conventions") {
    assert(p("id").count == 4 && p("id").nulls == 0 && p("id").distinct == 4)
    assert(p("x").nulls == 1 && p("x").distinct == 3) // null excluded
    assert(p("s").nulls == 1 && p("s").distinct == 2)
  }

  test("numeric stats: min/max/mean/std_pop/percentiles") {
    val n = p("x").numeric.get
    assert(n.min == 1.0 && n.max == 3.0)
    assert(math.abs(n.mean - 2.0) < 1e-12)
    // population std of {1,2,3} = sqrt(2/3)
    assert(math.abs(n.stdPop - math.sqrt(2.0 / 3.0)) < 1e-12)
    assert(n.p50 == 2.0)
    assert(math.abs(n.p95 - 2.9) < 1e-9) // linear interpolation
  }

  test("timestamp stats are ISO formatted") {
    val t = p("t").timestamp.get
    assert(t.min == "2024-01-01 00:00:00")
    assert(t.max == "2024-06-01 12:30:00")
  }

  test("string length stats") {
    val l = p("s").stringLength.get
    assert(l.minLen == 2 && l.maxLen == 2)
  }

  test("top-k excludes nulls, orders count desc then value") {
    val tv = p("s").topValues
    assert(tv.map(_.value) == Seq("aa", "bb"))
    assert(tv.map(_.count) == Seq(2L, 1L))
  }

  test("profile invariants: distinct <= non-null count") {
    profs.foreach { cp =>
      assert(cp.distinct <= cp.count - cp.nulls)
      assert(cp.nulls >= 0 && cp.nulls <= cp.count)
    }
  }

  test("approx (full-table) path: sketch percentiles return data values") {
    val ap = Profiler.profileFull(df).find(_.column == "x").get
    assert(ap.count == 4 && ap.nulls == 1)
    // HLL++ is exact at tiny cardinalities
    assert(ap.distinct == 3)
    val n = ap.numeric.get
    assert(n.min == 1.0 && n.max == 3.0)
    // approx_percentile returns an ACTUAL element of {1,2,3}, no
    // interpolation: p50 = 2.0, p95 = 3.0 (exact mode gives 2.9)
    assert(n.p50 == 2.0)
    assert(n.p95 == 3.0)
    val l = Profiler.profileFull(df).find(_.column == "s").get.stringLength.get
    assert(l.minLen == 2 && l.maxLen == 2 && l.p95Len == 2.0)
  }

  test("approx path tracks exact closely on real data (lineitem sf0.001)") {
    val li = graft.sources.Tables
      .table(spark, "/root/testdata/sf0.001", "lineitem")
      .select("l_quantity", "l_extendedprice", "l_orderkey")
    val exact = Profiler.profile(li)
    val approx = Profiler.profileFull(li)
    exact.zip(approx).foreach { case (e, a) =>
      assert(e.count === a.count)
      // HLL++ default rsd is 5%
      assert(math.abs(a.distinct - e.distinct) <= math.max(1, e.distinct / 10))
      (e.numeric, a.numeric) match {
        case (Some(en), Some(an)) =>
          assert(en.min === an.min && en.max === an.max)
          val span = en.max - en.min
          assert(math.abs(an.p50 - en.p50) <= math.max(span * 0.02, 1e-9),
            s"${e.column}: approx p50 ${an.p50} vs exact ${en.p50}")
          assert(math.abs(an.p95 - en.p95) <= math.max(span * 0.02, 1e-9),
            s"${e.column}: approx p95 ${an.p95} vs exact ${en.p95}")
        case _ => ()
      }
    }
  }

  /** `count_distinct` of every column of `df`, by name. */
  private def countDistinct(df: DataFrame): Map[String, Long] = {
    val r = df.agg(count_distinct(col(s"`${df.columns.head}`")).as(df.columns.head),
      df.columns.tail.map(c => count_distinct(col(s"`$c`")).as(c)): _*).collect()(0)
    df.columns.map(c => c -> r.getAs[Long](c)).toMap
  }

  test("exact distinct equals count_distinct: NaN, -0.0/0.0, nulls, other types") {
    import spark.implicits._
    // count_distinct counts {0.0, NaN, 1.0}; a bare collect_set would
    // count the three NaNs apart
    val floats = Seq(Some(0.0), Some(-0.0), Some(Double.NaN), Some(Double.NaN),
      Some(0.0 / 0.0), Some(1.0), None).toDF("d")
      .select(col("d"), col("d").cast("float").as("f"),
        col("d").cast("string").as("s"))
    val more = Seq(
      (Some(BigDecimal("1.50")), Some(Timestamp.valueOf("2024-01-01 00:00:00")), Some("a")),
      (Some(BigDecimal("1.5")), Some(Timestamp.valueOf("2024-01-01 00:00:00")), Some("A")),
      (Some(BigDecimal("2.25")), Some(Timestamp.valueOf("2024-01-02 00:00:00")), Some("a ")),
      (None, None, None)).toDF("dec", "ts", "s")
      .select(col("dec").cast("decimal(18,2)").as("dec"), col("ts"), col("s"))
    Seq(floats, more).foreach { df =>
      val want = countDistinct(df)
      Profiler.profile(df).foreach { p =>
        assert(p.distinct === want(p.column), s"distinct of ${p.column}")
      }
    }
    val d = Profiler.profile(floats).find(_.column == "d").get
    assert(d.distinct === 3 && d.nulls === 1)
    assert(Profiler.profile(floats).find(_.column == "f").get.distinct === 3)
  }

  test("all-null columns, an empty frame and a single row profile without error") {
    import spark.implicits._
    val allNull = Seq((1L, None: Option[Double], None: Option[String]),
      (2L, None, None)).toDF("id", "x", "s")
      .withColumn("nothing", lit(null))
    val ps = Profiler.profile(allNull).map(p => p.column -> p).toMap
    assert(ps("x").nulls === 2 && ps("x").distinct === 0)
    assert(ps("x").numeric.exists(n => n.min.isNaN && n.p95.isNaN))
    assert(ps("s").distinct === 0 && ps("s").stringLength.isEmpty)
    assert(ps("nothing").count === 2 && ps("nothing").distinct === 0)
    assert(ps("x").topValues.isEmpty && ps("id").topValues.size === 2)

    val empty = df.where(lit(false))
    val es = Profiler.profile(empty)
    assert(es.map(_.column) === df.columns.toSeq)
    es.foreach { p =>
      assert(p.count === 0 && p.nulls === 0 && p.distinct === 0 && p.topValues.isEmpty)
    }
    assert(es.find(_.column == "x").get.numeric.exists(_.mean.isNaN))

    val one = df.limit(1)
    val os = Profiler.profile(one).map(p => p.column -> p).toMap
    assert(os("x").count === 1 && os("x").distinct === 1)
    assert(os("x").numeric.exists(n => n.stdPop == 0.0 && n.p50 == n.max))
    assert(os("t").timestamp.isDefined)
  }

  test("an exact profile runs no Expand: one pass-1 aggregate, one top-k pass") {
    import spark.implicits._
    val wide = Seq.tabulate(50)(i => (i.toLong, i * 0.5, s"v${i % 7}",
      new Timestamp(i * 3600000L))).toDF("a", "b", "c", "d").cache()
    try {
      wide.count()
      val rec = Recorded(spark)(Profiler.profile(wide))
      assert(rec.plans.size === 2)
      rec.plans.foreach(p => assert(p.collect { case e: ExpandExec => e }.isEmpty,
        s"Expand in an exact profile plan:\n$p"))
      assert(rec.jobs === 2)
    } finally wide.unpersist()
  }
}
