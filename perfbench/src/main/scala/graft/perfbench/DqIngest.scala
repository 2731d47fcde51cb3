package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.catalog.Catalog
import graft.http.HttpFacade

/** A seeded orders-shaped CSV and the defects planted in it. Every
  * planted defect sits on an even order key, so a `where` of
  * `o_orderkey % 2 = 0` keeps them all. */
final case class Upload(csv: String, rows: Int, nulls: Boolean, dupKeys: Boolean,
    outOfRange: Boolean, stale: Boolean, outliers: Boolean) {
  /** The rule set every check sends, and whether each must fail. */
  def expected: Seq[(String, String, Boolean)] = Seq(
    ("not_null", "o_custkey", nulls), ("unique", "o_orderkey", dupKeys),
    ("range", "o_totalprice", outOfRange), ("freshness", "o_orderdate", stale),
    ("anomaly", "o_qty", outliers))
}

object Upload {
  private val Statuses = Seq("F", "O", "P")

  def make(rng: Random): Upload = {
    val n = 600 + rng.nextInt(400)
    val u = Upload("", n, rng.nextBoolean(), rng.nextBoolean(), rng.nextBoolean(),
      rng.nextBoolean(), rng.nextBoolean())
    // stale tables end in 2003, fresh ones run up to 2024
    val (y0, years) = if (u.stale) (1998, 5) else (2019, 5)
    def even(i: Int) = i % 2 == 0
    val sb = new StringBuilder("o_orderkey,o_custkey,o_orderstatus,o_totalprice,o_orderdate,o_qty\n")
    for (i <- 0 until n) {
      val key = if (u.dupKeys && i == n - 1) 0 else i
      val cust = if (u.nulls && even(i) && i % 50 == 0) "" else rng.nextInt(15000).toString
      val price = if (u.outOfRange && even(i) && i % 97 == 0) -1.0 - rng.nextInt(1000)
        else 1000.0 + rng.nextInt(49900000) / 100.0
      val qty = if (u.outliers && even(i) && i % 499 == 0) 1000000 else 1 + rng.nextInt(50)
      val date = f"${y0 + rng.nextInt(years)}-${1 + rng.nextInt(12)}%02d-${1 + rng.nextInt(28)}%02d 12:00:00"
      sb.append(s"$key,$cust,${Statuses(rng.nextInt(3))},$price,$date,$qty\n")
    }
    u.copy(csv = sb.toString, rows = n)
  }

  /** Hours since 2010-01-01: a freshness limit between the stale
    * tables' newest row and the fresh tables'. */
  def maxAgeHours: Double =
    (System.currentTimeMillis() - java.time.Instant.parse("2010-01-01T00:00:00Z").toEpochMilli) / 3.6e6
}

/** `dq_ingest`: each client cycle creates a table, uploads a seeded CSV
  * through the facade, profiles it, checks it with all five rule
  * types (once over all rows, once with a `where`), and deletes it at
  * a seeded rate. */
final class DqIngest(env: Env) extends Workload {
  import DqIngest._

  private var spark: SparkSession = _
  private var facade: HttpFacade = _
  private var metaDir: Path = _
  private var nsId = 0L
  private var schema = ""
  /** (table id, table name, rows) of every upload the facade acknowledged
    * and the run did not delete. */
  private val kept = new ConcurrentLinkedQueue[(Long, String, Int)]()
  private val samples = new ConcurrentLinkedQueue[Upload]()

  def primaryKinds = Set("upload", "dq_profile", "dq_check")

  def setup(s: SparkSession): Unit = {
    spark = s
    metaDir = Files.createTempDirectory(env.work, "catalog-meta")
    val cat = new Catalog(spark, metaDir.toString)
    facade = new HttpFacade(spark, catalog = Some(cat))
    facade.start(0)
    val (st, body) = new Http(facade.port).post("/namespace", Json.obj("name" -> "bench"))
    require(st == 200, s"namespace create answered $st: $body")
    val ns = Json.parse(body)
    nsId = ns.get("id").asLong
    schema = ns.get("schema_name").asText
  }

  /** One short cycle (one profile, one check) before the window, on its
    * own seed. */
  override def warmUp(): Unit = {
    val rng = new Random(-env.seed)
    cycle(new Http(facade.port), new Recorder, "warm", Upload.make(rng), rng, delete = true,
      () => true, each = 1)
  }

  def run(rec: Recorder, phases: Phases): Unit = parallel { c =>
    val rng = new Random(env.seed * 7919L + c)
    val http = new Http(facade.port)
    var k = 0
    while (!phases.over) {
      k += 1
      val u = Upload.make(rng)
      if (samples.size < 3) samples.add(u)
      val delete = rng.nextDouble() < 0.3
      cycle(http, rec, s"c${c}_$k", u, rng, delete, () => !phases.over)
    }
  }

  private def parallel(body: Int => Unit): Unit =
    (0 until Clients).map { c =>
      val t = new Thread(() => body(c), s"dq-client-$c")
      t.start(); t
    }.foreach(_.join())

  /** One cycle: upload, `each` profiles and `each` checks (the first with
    * the `where`), with seeded sample limits that still cover every row;
    * a delete at the given rate. `more` is asked before each request
    * after the upload, so a cycle in flight at the end of the window
    * stops. */
  private def cycle(http: Http, rec: Recorder, name: String, u: Upload, rng: Random,
      delete: Boolean, more: () => Boolean, each: Int = 2): Unit = {
    val limits = Seq.fill(4)(u.rows + rng.nextInt(10000 - u.rows))
    val (st0, b0) = http.post(s"/namespace/$nsId/table", Json.obj("name" -> name))
    if (st0 != 200) { Main.note(s"table create answered $st0: ${b0.take(200)}"); return }
    val t = Json.parse(b0)
    val id = t.get("id").asLong
    val table = s"`$schema`.`${t.get("table_name").asText}`"
    val t1 = System.nanoTime()
    val (st1, b1) = http.post(s"/namespace/$nsId/table/$id/upload",
      Json.obj("file_name" -> s"$name.csv", "content" -> u.csv))
    val uploaded = st1 == 200 && Json.parse(b1).get("is_loaded").asBoolean
    if (!uploaded) Main.note(s"upload answered $st1: ${b1.take(200)}")
    rec.add("upload", t1, uploaded)
    if (!uploaded) return
    val entry = (id, t.get("table_name").asText, u.rows)

    for (limit <- limits.take(each) if more()) {
      val t2 = System.nanoTime()
      val (st2, b2) = http.post("/dq/profile", Json.obj("table" -> table, "limit" -> limit))
      rec.add("dq_profile", t2, st2 == 200 && profileOk(Json.parse(b2), u))
    }

    val maxAge = Upload.maxAgeHours
    val rules = Json.mapper.createArrayNode()
    u.expected.foreach { case (kind, col, _) =>
      val r = rules.addObject().put("type", kind).put("column", col)
      kind match {
        case "range" => r.put("min", 0.0).put("max", 1000000.0)
        case "freshness" => r.put("max_age_hours", maxAge)
        case "anomaly" => r.put("sigma", 4.0)
        case _ =>
      }
    }
    val filters = Seq(Seq("where" -> "o_orderkey % 2 = 0"), Nil).take(each)
    for ((limit, filter) <- limits.drop(2).zip(filters) if more()) {
      val t3 = System.nanoTime()
      val (st3, b3) = http.post("/dq/check",
        Json.obj(Seq("table" -> table, "rules" -> rules, "sample_limit" -> limit) ++ filter: _*))
      rec.add("dq_check", t3, st3 == 200 && checkOk(Json.parse(b3), u, name))
    }

    if (delete && more()) {
      val t4 = System.nanoTime()
      val (st4, _) = http.delete(s"/namespace/$nsId/table/$id")
      rec.add("delete", t4, st4 == 200)
    } else kept.add(entry)
  }

  private def profileOk(p: JsonNode, u: Upload): Boolean = {
    val cust = p.path("profile").path("o_custkey")
    val ok = cust.path("count").asLong == u.rows &&
      (cust.path("nulls").asLong > 0) == u.nulls
    if (!ok) Main.note(s"profile disagrees with the planted nulls: $cust")
    ok
  }

  private def checkOk(r: JsonNode, u: Upload, name: String): Boolean = {
    val got = r.get("results").elements().asScala
      .map(x => x.get("rule").asText -> x.get("passed").asBoolean).toMap
    val wrong = u.expected.filter { case (kind, _, defect) => !got.get(kind).contains(!defect) }
    if (wrong.nonEmpty) Main.note(s"$name: rules ${wrong.map(_._1).mkString(",")} disagree with the planted defects")
    wrong.isEmpty && r.get("passed").asBoolean == u.expected.forall(!_._3)
  }

  /** Durability of the write path: a fresh catalog over the same
    * metadata lists every kept upload, loaded, with its row count. */
  def check(rec: Recorder): Seq[String] = {
    val fresh = new Catalog(spark, metaDir.toString)
    val listed = fresh.listTables(nsId).map(t => t.id -> t).toMap
    kept.asScala.toSeq.flatMap { case (id, table, rows) =>
      listed.get(id) match {
        case None => Some(s"upload $table is not listed by a fresh catalog")
        case Some(t) if !t.isLoaded => Some(s"upload $table is listed as not loaded")
        case Some(_) =>
          val n = spark.table(s"`$schema`.`$table`").count()
          if (n == rows) None else Some(s"upload $table holds $n rows, sent $rows")
      }
    }
  }

  def teardown(): Unit = if (facade != null) {
    facade.stop()
    facade = null
    kept.clear()
    spark.sql(s"DROP DATABASE IF EXISTS `$schema` CASCADE")
  }

  def endToEnd(rec: Recorder, windowS: Double): Seq[Metric] = {
    def lat(kind: String) = rec.of(kind).filter(_.ok).map(_.ms)
    val done = rec.ops.count(_.ok)
    val checks = lat("dq_check")
    val requests = rec.ops.filter(o => o.ok && o.kind != "delete").map(_.ms)
    Seq(
      Metric("p50_ms", Stats.median(requests), "ms", requests.size),
      Metric("ops_per_s", done / windowS, "1/s", done),
      Metric("upload_p50_ms", Stats.median(lat("upload")), "ms", lat("upload").size),
      Metric("dq_profile_p50_ms", Stats.median(lat("dq_profile")), "ms", lat("dq_profile").size),
      Metric("dq_check_p50_ms", Stats.median(checks), "ms", checks.size))
  }

  /** Direct calls into `Catalog`, `Profiler`, `DqEngine` and `Report` on
    * the run's own sample uploads, each under its own listener. */
  def perLayer(rec: Recorder, l: Listeners): Seq[Metric] = {
    val traced = rec.ops.count(_.traced)
    val us = samples.asScala.toSeq.take(3)
    val cat = new Catalog(spark, metaDir.toString)
    val uploads = us.zipWithIndex.map { case (u, i) =>
      val t = cat.createTable(nsId, s"direct_$i")
      val csv = env.work.resolve(s"direct_$i.csv")
      Files.writeString(csv, u.csv)
      val (ms, jobs) = measured(cat.loadCsv(t.id, csv.toString))
      val stored = Files.walk(env.work.resolve("warehouse").resolve(s"$schema.db").resolve(t.tableName))
        .iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      (ms, jobs, stored.toDouble / Files.size(csv), t.tableName, u)
    }
    val dq = uploads.map { case (_, _, _, table, u) =>
      val df = spark.table(s"`$schema`.`$table`").cache()
      df.count()
      val rules = u.expected.map {
        case ("not_null", c, _) => graft.dq.NotNullRule(c)
        case ("unique", c, _) => graft.dq.UniqueRule(c)
        case ("range", c, _) => graft.dq.RangeRule(c, Some(0.0), Some(1e6))
        case ("freshness", c, _) => graft.dq.FreshnessRule(c, Upload.maxAgeHours)
        case (_, c, _) => graft.dq.AnomalyRule(c, 4.0)
      }
      val l0 = Trace.start(spark)
      val t0 = System.nanoTime()
      val prof = graft.dq.Profiler.profile(df)
      val t1 = System.nanoTime()
      Trace.stop(spark)
      val shuffled = l0.shuffleRecords.get.toDouble / u.rows
      val t2 = System.nanoTime()
      val results = graft.dq.DqEngine.evaluate(df, rules)
      val t3 = System.nanoTime()
      graft.dq.Report.render(prof, results)
      val t4 = System.nanoTime()
      val (_, jobs) = measured(graft.dq.DqEngine.runChecks(df, rules))
      df.unpersist()
      ((t1 - t0) / 1e6, (t3 - t2) / 1e6, (t4 - t3) / 1e6, jobs, shuffled)
    }
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    Seq(
      Metric("catalog.upload_ms", med(uploads.map(_._1)), "ms", uploads.size),
      Metric("catalog.jobs_per_upload", med(uploads.map(_._2)), "count", uploads.size),
      Metric("catalog.stored_bytes_per_input_byte", med(uploads.map(_._3)), "ratio", uploads.size),
      Metric("dq.profile_ms", med(dq.map(_._1)), "ms", dq.size),
      Metric("dq.rules_ms", med(dq.map(_._2)), "ms", dq.size),
      Metric("dq.report_ms", med(dq.map(_._3)), "ms", dq.size),
      Metric("dq.jobs_per_check", med(dq.map(_._4)), "count", dq.size),
      Metric("dq.shuffle_records_per_row", med(dq.map(_._5)), "count", dq.size)) ++
      Layers.sql(l) ++ Layers.spark(l, traced)
  }

  /** Wall time (ms) of `body` and the Spark jobs it launched. */
  private def measured(body: => Any): (Double, Double) = {
    val l = Trace.start(spark)
    val t0 = System.nanoTime()
    body
    val ms = (System.nanoTime() - t0) / 1e6
    Trace.stop(spark)
    (ms, l.jobs.get.toDouble)
  }
}

object DqIngest {
  val Clients: Int = math.min(4, Engine.cpus)
}
