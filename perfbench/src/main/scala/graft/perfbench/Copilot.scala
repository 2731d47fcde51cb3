package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.chat.NlToSql
import graft.http.HttpFacade

/** A parameterized SELECT the benchmark's NL→SQL provider answers with.
  * `limited`: the statement carries its own LIMIT (else the runner's
  * auto-limit applies). Every template orders totally, so its preview
  * is deterministic. */
final case class Template(id: Int, limited: Boolean,
    params: Random => Seq[String], sql: Seq[String] => String)

object Templates {
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Events = Seq("click", "error", "purchase", "signup", "view")
  private def pick(r: Random, xs: Seq[String]) = xs(r.nextInt(xs.size))
  private def year(r: Random) = (1995 + r.nextInt(6)).toString

  val all: Vector[Template] = Vector(
    Template(0, limited = false, r => Seq(pick(r, Segments)), p =>
      s"SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_mktsegment = '${p(0)}' " +
        "ORDER BY c_acctbal DESC, c_custkey"),
    Template(1, limited = false,
      r => { val lo = 1000 + r.nextInt(400000); Seq(lo.toString, (lo + 20000 + r.nextInt(40000)).toString, year(r)) },
      p => s"SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders " +
        s"WHERE o_totalprice BETWEEN ${p(0)} AND ${p(1)} AND o_orderdate >= '${p(2)}-01-01' " +
        "ORDER BY o_totalprice DESC, o_orderkey"),
    Template(2, limited = false, r => Seq(pick(r, Seq("F", "O", "P"))), p =>
      "SELECT c_mktsegment, COUNT(*) AS n_orders, " +
        "SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue " +
        s"FROM orders JOIN customer ON o_custkey = c_custkey WHERE o_orderstatus = '${p(0)}' " +
        "GROUP BY c_mktsegment ORDER BY revenue DESC, c_mktsegment"),
    Template(3, limited = true, r => Seq(year(r), (3 + r.nextInt(8)).toString), p =>
      "SELECT n_name AS nation, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        s"WHERE o_orderdate >= '${p(0)}-01-01' AND o_orderdate < '${p(0).toInt + 1}-01-01' " +
        s"GROUP BY n_name ORDER BY revenue DESC, nation LIMIT ${p(1)}"),
    Template(4, limited = true, r => Seq(year(r)), p =>
      "SELECT r_name, n_name, " +
        "SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,2))) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        s"WHERE o_orderdate >= '${p(0)}-01-01' AND o_orderdate < '${p(0).toInt + 1}-01-01' " +
        "GROUP BY r_name, n_name ORDER BY revenue DESC, n_name LIMIT 10"),
    Template(5, limited = false,
      r => Seq(f"${1996 + r.nextInt(6)}-${1 + r.nextInt(12)}%02d-01"), p =>
      "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, " +
        "SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty, " +
        "SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS gross " +
        s"FROM lineitem WHERE l_shipdate <= '${p(0)}' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    Template(6, limited = false, r => Seq(pick(r, Segments), (1 + r.nextInt(5)).toString), p =>
      "SELECT c_nationkey, c_custkey, c_acctbal, rn FROM (" +
        "SELECT c_nationkey, c_custkey, c_acctbal, ROW_NUMBER() OVER " +
        "(PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn " +
        s"FROM customer WHERE c_mktsegment = '${p(0)}') ranked WHERE rn <= ${p(1)} " +
        "ORDER BY c_nationkey, rn"),
    Template(7, limited = false,
      r => Seq((1 + r.nextInt(25)).toString, (1 + r.nextInt(40)).toString), p =>
      "SELECT p_partkey, p_name, p_size, p_retailprice FROM part " +
        s"WHERE p_brand = 'Brand#${p(0)}' AND p_size BETWEEN ${p(1)} AND ${p(1).toInt + 10} " +
        "ORDER BY p_retailprice DESC, p_partkey"),
    Template(8, limited = false, r => Seq((r.nextInt(9000) - 500).toString), p =>
      "SELECT r_name, COUNT(*) AS suppliers, SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS balance " +
        "FROM supplier JOIN nation ON s_nationkey = n_nationkey " +
        s"JOIN region ON n_regionkey = r_regionkey WHERE s_acctbal > ${p(0)} " +
        "GROUP BY r_name ORDER BY r_name"),
    Template(9, limited = false,
      r => { val d = 1 + r.nextInt(20); Seq(f"$d%02d", f"${d + 1 + r.nextInt(9)}%02d") }, p =>
      "SELECT event_type, COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,2))) AS total " +
        s"FROM events WHERE ts >= '2024-01-${p(0)}' AND ts < '2024-01-${p(1)}' " +
        "GROUP BY event_type ORDER BY n DESC, event_type"),
    Template(10, limited = true, r => Seq(pick(r, Events), (5 + r.nextInt(16)).toString), p =>
      "SELECT user_id, COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,2))) AS total " +
        s"FROM events WHERE event_type = '${p(0)}' " +
        s"GROUP BY user_id ORDER BY total DESC, user_id LIMIT ${p(1)}"),
    Template(11, limited = false, r => { val a = r.nextInt(8); Seq(s"0.0$a", s"0.0${a + 2}") }, p =>
      "SELECT p_type, COUNT(*) AS n, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS gross " +
        s"FROM lineitem JOIN part ON l_partkey = p_partkey WHERE l_discount BETWEEN ${p(0)} AND ${p(1)} " +
        "GROUP BY p_type ORDER BY gross DESC, p_type"))

  /** Unsafe first drafts, each caught by a different guard gate. */
  val unsafe: Vector[(String, String => String)] = Vector(
    "drop" -> (_ => "DROP TABLE orders"),
    "multi" -> (sql => s"$sql; DELETE FROM orders"),
    "comment" -> (sql => sql.replaceFirst("FROM", "/* all rows */ FROM")))

  private val Question = "^#(\\d+) (\\S*) req=(\\d+)(?: draft=(\\w+))?".r.unanchored

  /** The question text the benchmark clients send. */
  def question(t: Template, params: Seq[String], req: Long, draft: Option[String]): String =
    s"#${t.id} ${params.mkString("|")} req=$req" + draft.fold("")(d => s" draft=$d")

  /** (template, params, request id, unsafe draft kind) of a question. */
  def parse(q: String): (Template, Seq[String], Long, Option[String]) =
    q.linesIterator.next() match {
      case Question(id, ps, req, draft) =>
        (all(id.toInt), ps.split('|').toSeq, req.toLong, Option(draft))
      case other => throw new IllegalArgumentException(s"unknown question: $other")
    }
}

/** The benchmark's NL→SQL provider: a pure function of the question
  * text, as an LLM would be. A question marked with an unsafe draft is
  * first answered with that draft; the refine call (the agent appends
  * its "Fix issue" constraint) gets the safe statement. */
final class TemplateNlToSql extends NlToSql {
  override def complete(question: String, rowLimit: Int): String = {
    val (t, params, req, draft) = Templates.parse(question)
    Trace.span("chat.provider", req) {
      val safe = t.sql(params)
      val refining = question.contains("Fix issue")
      val sql = draft.filter(_ => !refining)
        .map(d => Templates.unsafe.find(_._1 == d).get._2(safe)).getOrElse(safe)
      s"```sql\n$sql\n```"
    }
  }
}

/** `copilot`: a closed loop of [[Copilot.Clients]] clients sending
  * seeded `/chat/agent` and `/chat` questions, with a periodic
  * `/schema` and `/metrics`, to a loopback facade over the tables. */
final class Copilot(env: Env) extends Workload {
  import Copilot._

  private var spark: SparkSession = _
  private var facade: HttpFacade = _
  private var ordersRows = 0L
  private val answers = new ConcurrentLinkedQueue[Answer]()
  private val reqIds = new AtomicLong()
  private val telemetry = new ConcurrentLinkedQueue[(Long, Long, Long)]()

  def primaryKinds = Set("agent", "chat")

  def setup(s: SparkSession): Unit = {
    spark = s
    graft.sources.Tables.registerAll(spark, env.dataDir)
    facade = new HttpFacade(spark, provider = new TemplateNlToSql)
    facade.start(0)
    val (st, _) = new Http(facade.port).get("/health")
    require(st == 200, s"/health answered $st")
  }

  /** One agent request per template, before the window: the JIT and
    * the session's lazy state warm up as on a long-running service. */
  override def warmUp(): Unit = {
    val rng = new Random(-env.seed)
    val questions = Templates.all.map(t => Templates.question(t, t.params(rng), 0, None))
    questions.grouped(math.max(1, questions.size / Clients)).toSeq.map { qs =>
      val t = new Thread(() => {
        val http = new Http(facade.port)
        qs.foreach(q => http.post("/chat/agent", Json.obj("question" -> q)))
      })
      t.start(); t
    }.foreach(_.join())
  }

  def run(rec: Recorder, phases: Phases): Unit = {
    ordersRows = spark.table("orders").count()
    val deck = Copilot.deck(env.seed)
    val next = new AtomicLong()
    val threads = (0 until Clients).map { c =>
      val t = new Thread(() => client(deck, next, rec, phases), s"copilot-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
  }

  /** Closed loop: each request takes the next slot of the run's shared
    * sequence, so any window of ~60 requests holds a balanced mix. */
  private def client(deck: Vector[Question], next: AtomicLong, rec: Recorder,
      phases: Phases): Unit = {
    val http = new Http(facade.port)
    while (!phases.over) {
      val i = next.getAndIncrement()
      if (i % 8 == 7) {
        val path = if ((i / 8) % 2 == 0) "/schema" else "/metrics"
        val kind = path.drop(1)
        val t0 = System.nanoTime()
        val ok = try {
          val (st, body) = http.get(path)
          st == 200 && (kind == "metrics" || body.contains("## orders"))
        } catch { case scala.util.control.NonFatal(_) => false }
        rec.add(kind, t0, ok)
      } else {
        val Question(t, params, agent, draft) = deck(((i - i / 8) % deck.size).toInt)
        val req = reqIds.incrementAndGet()
        val q = Templates.question(t, params, req, draft)
        val kind = if (agent) "agent" else "chat"
        val t0 = System.nanoTime()
        val res = try Trace.span(s"http.$kind", req) {
          Right(http.post(if (agent) "/chat/agent" else "/chat", Json.obj("question" -> q)))
        } catch { case scala.util.control.NonFatal(e) => Left(e) }
        val traced = Trace.enabled
        val ok = res match {
          case Left(e) =>
            Main.note(s"$kind request failed: $e"); false
          case Right((st, body)) =>
            val expect = t.sql(params)
            verdict(agent, draft, expect, st, body) match {
              case None =>
                if (st == 200) {
                  val n = Json.parse(body)
                  answers.add(Answer(t, expect, n.get("rows")))
                  if (agent && traced) {
                    val tm = n.get("telemetry")
                    telemetry.add((tm.get("gen_ms").asLong, tm.get("exec_ms").asLong,
                      tm.get("retries").asLong))
                  }
                }
                true
              case Some(why) =>
                Main.note(s"$kind #${t.id} draft=${draft.getOrElse("-")}: $why"); false
            }
        }
        rec.add(kind, t0, ok)
      }
    }
  }

  /** None when the response is what this question must produce: safe
    * SQL answered with its rows; an unsafe draft blocked (`/chat`,
    * HTTP 400) or blocked then refined to the safe SQL (`/chat/agent`). */
  private def verdict(agent: Boolean, draft: Option[String], expect: String,
      st: Int, body: String): Option[String] = {
    if (!agent && draft.isDefined)
      return if (st == 400) None else Some(s"unsafe draft answered $st")
    if (st != 200) return Some(s"status $st: ${body.take(200)}")
    val n = Json.parse(body)
    if (!agent)
      return if (n.get("sql").asText == expect) None else Some("wrong sql")
    val cands = n.get("candidates").elements().asScala.toSeq
    if (n.get("chosen_sql").asText != expect) Some("chosen_sql is not the template")
    else if (draft.isDefined && !cands.headOption.exists(_.get("reason").asText.startsWith("blocked")))
      Some("unsafe draft was not blocked first")
    else if (cands.exists(c => c.get("reason").asText.startsWith("ok") && c.get("sql").asText != expect))
      Some("a statement other than the template was executed")
    else None
  }

  def check(rec: Recorder): Seq[String] = {
    // one answer of each of half the templates (by seed parity) is
    // compared row for row with a direct spark.sql of the same statement
    val byTemplate = answers.asScala.toSeq.groupBy(_.t.id)
    val sampled = byTemplate.toSeq.filter(_._1 % 2 == env.seed % 2).sortBy(_._1)
      .map { case (_, as) => as.minBy(_.sql) }
    val rowFailures = sampled.flatMap { a =>
      val direct = spark.sql(a.sql)
      val capped = if (a.t.limited) direct else direct.limit(RowLimit)
      val want = Json.arr(capped.limit(PreviewRows).toJSON.collect().toSeq)
      if (want == a.rows) None
      else Some(s"template ${a.t.id}: preview differs from direct spark.sql of ${a.sql}")
    }
    // a full pass over the sequence asks every template
    val asked = rec.ops.count(o => o.kind == "agent" || o.kind == "chat")
    val missing = if (asked < DeckSize) Nil else Templates.all.map(_.id)
      .filterNot(byTemplate.contains).map(id => s"template $id: never answered")
    val intact =
      if (spark.table("orders").count() == ordersRows) Nil
      else Seq("orders changed during the run: an unsafe draft executed")
    rowFailures ++ missing ++ intact
  }

  def teardown(): Unit = if (facade != null) { facade.stop(); facade = null }

  def endToEnd(rec: Recorder, windowS: Double): Seq[Metric] = {
    val agent = rec.of("agent").filter(_.ok).map(_.ms)
    val chat = rec.of("chat").filter(_.ok).map(_.ms)
    val done = rec.ops.count(_.ok)
    val questions = agent ++ chat
    Seq(
      Metric("p50_ms", Stats.median(questions), "ms", questions.size),
      Metric("ops_per_s", done / windowS, "1/s", done),
      Metric("agent_p50_ms", Stats.median(agent), "ms", agent.size),
      Metric("chat_p50_ms", Stats.median(chat), "ms", chat.size),
      Metric("copilot_rps", done / windowS, "1/s", done)) ++
      Layers.tail("agent_p90_ms", agent, 0.9)
  }

  def perLayer(rec: Recorder, l: Listeners): Seq[Metric] = {
    val reqs = Trace.all.filter(_.name.startsWith("http."))
    val n = math.max(1, reqs.size)
    val provider = Trace.named("chat.provider")
    val providerMs = provider.map(_.ms).sum
    // a request's self time in the HTTP layer: its client span minus the
    // provider spans of the same request id, then minus the planning and
    // execution the listener reports, per request
    val byReq = provider.groupBy(_.req).view.mapValues(_.map(_.ms).sum)
    val sqlMs = l.execMs.sum + l.analysisMs.sum + l.optimizeMs.sum + l.planMs.sum
    val httpSelf = reqs.map(s => s.ms - byReq.getOrElse(s.req, 0.0)).sum / n - sqlMs / n
    val tel = telemetry.asScala.toSeq
    val metricsOps = rec.of("metrics").filter(_.ok).map(_.ms)
    // direct guard calls on the statements the run answered
    val sqls = answers.asScala.map(_.sql).toSeq.distinct.take(200)
    val guardUs = sqls.map { s =>
      val t0 = System.nanoTime()
      graft.sql.SqlGuard.validate(spark, s)
      (System.nanoTime() - t0) / 1e3
    }
    val held = new Http(facade.port).get("/metrics")._2.linesIterator
      .filter(_.split(' ').headOption.exists(k => k.takeWhile(_ != '{').endsWith("_count")))
      .map(_.split(' ').last.toDouble).sum
    Seq(
      Metric("http.self_ms", httpSelf, "ms", reqs.size),
      // the route reports whole milliseconds; the provider span is exact
      Metric("chat.gen_ms", providerMs / n, "ms", reqs.size),
      Metric("chat.exec_ms", Stats.mean(tel.map(_._2.toDouble)), "ms", tel.size),
      Metric("chat.retries_per_req", Stats.mean(tel.map(_._3.toDouble)), "count", tel.size),
      Metric("chat.provider_calls_per_req", provider.size.toDouble / n, "count", reqs.size),
      Metric("sql.guard_us", if (guardUs.isEmpty) 0.0 else Stats.median(guardUs), "us", guardUs.size),
      Metric("sql.queries_per_req", l.queries.get.toDouble / n, "count", reqs.size),
      Metric("metrics.export_ms", if (metricsOps.isEmpty) 0.0 else Stats.median(metricsOps), "ms",
        metricsOps.size),
      Metric("metrics.samples_held", held, "count", 1)) ++
      Layers.sql(l) ++ Layers.spark(l, n)
  }
}

object Copilot {
  val Clients: Int = math.min(4, Engine.cpus)

  final case class Question(t: Template, params: Seq[String], agent: Boolean,
      draft: Option[String])

  val DeckSize = 60

  /** The run's request sequence: every template three times on
    * `/chat/agent` and twice on `/chat`, with seeded literals, in seeded
    * order; 9 of the 60 first draft unsafe SQL. `/chat` runs validate
    * (SELECT-only, forbidden keywords) but, like the reference route, no
    * comment gate, so only agent questions draft a block comment. */
  def deck(seed: Long): Vector[Question] = {
    val rng = new Random(seed)
    val qs = rng.shuffle(for (t <- Templates.all; agent <- Seq(true, true, true, false, false))
      yield (t, agent))
    qs.zipWithIndex.map { case ((t, agent), i) =>
      val drafts = if (agent) Templates.unsafe else Templates.unsafe.filter(_._1 != "comment")
      val draft = if (i % 20 == 3 || i % 20 == 10 || i % 20 == 17)
        Some(drafts(rng.nextInt(drafts.size))._1) else None
      Question(t, t.params(rng), agent, draft)
    }
  }
  val RowLimit = 200
  val PreviewRows = 20
  final case class Answer(t: Template, sql: String, rows: JsonNode)
}
