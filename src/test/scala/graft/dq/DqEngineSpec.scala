package graft.dq

import java.time.Instant
import graft.SparkSpec

class DqEngineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    (1L, Some(10.0), Some("a"), Some("2024-01-01 00:00:00")),
    (2L, Some(12.0), Some("b"), Some("2024-01-02 00:00:00")),
    (2L, Some(11.0), Some("a"), Some("2024-01-03 00:00:00")),
    (3L, None,       None,      None),
    (4L, Some(1000.0), Some("a"), Some("2024-01-04 12:00:00"))
  ).toDF("id", "amount", "cat", "ts_str")

  test("not_null fails on nulls with rate pct") {
    val Seq(r) = DqEngine.evaluate(df, Seq(NotNullRule("amount")))
    assert(!r.passed)
    assert(r.details("nulls") == "1")
    assert(r.details("total") == "5")
    assert(r.details("null_rate_pct") == "20.0")
  }

  test("not_null passes on clean column") {
    val Seq(r) = DqEngine.evaluate(df, Seq(NotNullRule("id")))
    assert(r.passed)
  }

  test("unique counts nulls as duplicates (reference formula)") {
    // id has a real dup (2,2); cat has a null → total - distinct(nonnull)
    val Seq(a, b) = DqEngine.evaluate(df,
      Seq(UniqueRule("id"), UniqueRule("cat")))
    assert(!a.passed); assert(a.details("duplicates") == "1")
    assert(!b.passed); assert(b.details("duplicates") == "3") // 5 - 2
  }

  test("range counts below/above on non-null values") {
    val Seq(r) = DqEngine.evaluate(df,
      Seq(RangeRule("amount", Some(11.0), Some(100.0))))
    assert(!r.passed)
    assert(r.details("below_min") == "1") // 10.0
    assert(r.details("above_max") == "1") // 1000.0
  }

  test("freshness with injected clock") {
    val now = Instant.parse("2024-01-05T12:00:00Z")
    val Seq(fresh) = DqEngine.evaluate(df,
      Seq(FreshnessRule("ts_str", maxAgeHours = 25.0)), now)
    assert(fresh.passed) // max ts 2024-01-04 12:00 → age 24h ≤ 25h
    val Seq(stale) = DqEngine.evaluate(df,
      Seq(FreshnessRule("ts_str", maxAgeHours = 23.0)), now)
    assert(!stale.passed)
  }

  test("freshness fails with 'no timestamps' when nothing parses") {
    val bad = Seq("x", "y").toDF("ts_str")
    val Seq(r) = DqEngine.evaluate(bad, Seq(FreshnessRule("ts_str")))
    assert(!r.passed)
    assert(r.details("error") == "no timestamps")
  }

  test("anomaly flags 3-sigma outliers") {
    val vals = (1 to 100).map(_ => 10.0) :+ 10000.0
    val d = vals.toDF("v")
    val Seq(r) = DqEngine.evaluate(d, Seq(AnomalyRule("v")))
    assert(!r.passed)
    assert(r.details("outliers") == "1")
  }

  test("anomaly auto-passes on zero variance and on empty input") {
    val flat = Seq(5.0, 5.0, 5.0).toDF("v")
    assert(DqEngine.evaluate(flat, Seq(AnomalyRule("v"))).head.passed)
    val empty = Seq.empty[Double].toDF("v")
    assert(DqEngine.evaluate(empty, Seq(AnomalyRule("v"))).head.passed)
  }

  test("unknown rule type fails") {
    val Seq(r) = DqEngine.evaluate(df, Seq(UnknownRule("bogus", "id")))
    assert(!r.passed)
    assert(r.details("error").contains("bogus"))
  }

  private val allRules = Seq(NotNullRule("amount"), UniqueRule("id"),
    RangeRule("amount", Some(0.0), Some(100.0)), FreshnessRule("ts_str"),
    AnomalyRule("amount", sigma = 1.0))
  private val now = Instant.parse("2024-01-05T12:00:00Z")

  test("runChecks: profile and rules in one pass-1 aggregate, at most 3 jobs") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // the facade's shape: a cached sample already within the limit
    val sample = df.limit(1000).cache()
    try {
      sample.count()
      var rep: DqReport = null
      val rec = Recorded(spark) {
        rep = DqEngine.runChecks(sample, allRules, limit = 200000, now = now)
      }
      // pass 1, top-k, outliers (the anomaly rule has std > 0)
      assert(rec.jobs <= 3)
      // every pass reads the caller's cache; none caches it again
      val caches = rec.plans.flatMap(_.collect {
        case s: InMemoryTableScanExec => s.relation.cacheBuilder
      }).distinct
      assert(caches.size === 1)
      assert(rep.profile === Profiler.profile(sample))
      assert(rep.results === DqEngine.evaluate(sample, allRules, now))
      assert(rep.results.map(_.passed) === Seq(false, false, false, true, false))
    } finally sample.unpersist()
    // a cached frame that is not provably within the limit is sampled
    // and cached once here; still three passes
    val table = df.cache()
    try {
      table.count()
      val rec = Recorded(spark)(DqEngine.runChecks(table, allRules, now = now))
      assert(rec.jobs <= 3)
    } finally table.unpersist()
  }

  test("runChecks on an empty frame and an all-null column returns typed results") {
    val empty = DqEngine.runChecks(df.where("false"), allRules, now = now)
    assert(empty.profile.forall(p => p.count == 0 && p.distinct == 0))
    assert(empty.results.map(r => r.rule -> r.passed) === Seq("not_null" -> true,
      "unique" -> true, "range" -> true, "freshness" -> false, "anomaly" -> true))
    val nulls = df.select(org.apache.spark.sql.functions.lit(null).cast("double")
      .as("amount"), df("id"), df("ts_str"))
    val rep = DqEngine.runChecks(nulls, allRules, now = now)
    assert(rep.results.head.details("nulls") === "5")
    assert(rep.profile.find(_.column == "amount").get.distinct === 0)
    assert(rep.results.find(_.rule == "anomaly").get.details("checked") === "0")
  }

  test("runChecks clamps sample, renders report, aggregates passed") {
    val rep = DqEngine.runChecks(df,
      Seq(NotNullRule("id"), UniqueRule("id")), limit = 1000000)
    assert(!rep.passed)
    assert(rep.markdown.contains("1/2 rules passed"))
    assert(rep.markdown.contains("✅ `not_null(id)`"))
    assert(rep.markdown.contains("❌ `unique(id)`"))
    assert(rep.profile.nonEmpty)
  }
}

/** Edge cases from review: ANSI-safe coercion, decimal columns,
  * hostile column names. */
class DqRobustnessSpec extends graft.SparkSpec {
  import org.apache.spark.sql.functions._

  test("range/anomaly on a string column coerce instead of throwing (ANSI)") {
    import spark.implicits._
    val df = Seq("a", "b", "c").toDF("s")
    val results = DqEngine.evaluate(df,
      Seq(RangeRule("s", Some(0.0), Some(1.0)), AnomalyRule("s")))
    // all values coerce to null -> zero violations / auto-pass,
    // matching pandas to_numeric(errors="coerce") in the reference
    assert(results.forall(_.passed))
  }

  test("profiler handles decimal columns and quoted/dotted names") {
    import spark.implicits._
    val df = Seq((BigDecimal("1.50"), 1), (BigDecimal("2.25"), 2))
      .toDF("amount", "x")
      .select(col("amount").cast("decimal(18,2)").as("amount"),
        col("x").as("weird.na`me"))
    val profiles = Profiler.profile(df)
    val amount = profiles.find(_.column == "amount").get
    assert(amount.numeric.exists(n => math.abs(n.mean - 1.875) < 1e-12))
    val weird = profiles.find(_.column == "weird.na`me").get
    assert(weird.count === 2 && weird.distinct === 2)
  }

  test("evaluate computes totals without a separate count job") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "a"), (2L, null)).toDF("id", "tag")
    val res = DqEngine.evaluate(df,
      Seq(NotNullRule("tag"), UniqueRule("id")))
    assert(res.find(_.rule == "not_null").get.details("total") === "3")
    assert(res.find(_.rule == "unique").get.details("duplicates") === "1")
  }
}
