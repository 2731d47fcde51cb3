package graft.perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** `pipeline_batch`: a fixed-order pass over declared queries of
  * `SparkEntry.queries` through the `noop` sink, every pass starting on
  * empty session caches (reuse between the queries of one pass counts).
  * An untraced run makes one pass in a fresh JVM, as a batch job does;
  * a traced run adds three JIT-warm passes (untraced, traced,
  * untraced), so the traced pass can be compared with the two around
  * it. */
final class PipelineBatch(env: Env) extends Workload {
  import PipelineBatch._

  private var spark: SparkSession = _
  private val passes = mutable.ArrayBuffer.empty[Pass]
  private var census = 0
  private var storedPeakMb = 0.0

  def primaryKinds = Set("warm_pass")
  override def timed = false

  def setup(s: SparkSession): Unit = {
    spark = s
    graft.sources.Tables.names.foreach(graft.sources.Tables.table(spark, env.dataDir, _))
  }

  def run(rec: Recorder, phases: Phases): Unit = {
    passes += pass(rec, "pass")
    if (env.traced) for (i <- 0 until 3) {
      // the first pass warms the JIT; the traced one sits between two
      // untraced passes of the same warmth
      Engine.coldStart(spark)
      if (i > 0) phases.advance()
      passes += pass(rec, "warm_pass")
    }
  }

  private def pass(rec: Recorder, kind: String): Pass = {
    val p0 = System.nanoTime()
    val qs = Subset.map { name =>
      val fn = graft.SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val res = rec.time("query") {
        val df = Trace.span(s"queries.build.$name")(fn(spark, env.dataDir))
        val t1 = System.nanoTime()
        Trace.span(s"queries.exec.$name")(df.write.format("noop").mode("overwrite").save())
        (t1 - t0, System.nanoTime() - t1)
      }
      if (Trace.enabled) storedPeakMb = math.max(storedPeakMb, storedMb)
      name -> res
    }
    if (Trace.enabled) census = Engine.cacheEntries(spark) + Engine.persistedRdds(spark)
    val op = rec.add(kind, p0, qs.forall(_._2.isDefined))
    Main.note(f"pass${if (op.traced) " (traced)" else ""} ${op.ms / 1e3}%.3f s: " + qs.collect {
      case (n, Some((b, e))) => f"$n=${b / 1e9}%.3f+${e / 1e9}%.3f"
    }.mkString(" "))
    Pass(op, qs.collect { case (n, Some((b, e))) => QueryTime(n, b / 1e9, e / 1e9) })
  }

  /** Query results written for the DuckDB oracle comparison (outside
    * the timed region; run.py compares): every query with a cheap
    * oracle, and one of the four text and vector queries, chosen by the
    * seed, since their pair-finding oracles take seconds each. */
  def check(rec: Recorder): Seq[String] = {
    val out = env.work.resolve("oracle")
    Files.createDirectories(out)
    val checked = Subset.filter(q => !Slow.contains(q) || q == Slow((env.seed % Slow.size).toInt))
    val failures = checked.flatMap { name =>
      try {
        graft.SparkEntry.queries(name)(spark, env.dataDir).coalesce(1)
          .write.mode("overwrite").parquet(out.resolve(name).toString)
        None
      } catch {
        case scala.util.control.NonFatal(e) => Some(s"$name: ${e.getClass.getSimpleName}")
      }
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => checked.contains(k) }
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.mapper.writeValueAsString(oracle.foldLeft(Json.mapper.createObjectNode()) {
        case (o, (k, v)) => o.put(k, v)
      }))
    val missing = checked.filterNot(oracle.contains).map(n => s"$n has no oracle")
    failures ++ missing
  }

  def teardown(): Unit = if (spark != null) Engine.invalidateAll(spark)

  def endToEnd(rec: Recorder, windowS: Double): Seq[Metric] = {
    val first = passes.head
    val qs = rec.of("query").filter(_.ok).map(_.ms)
    Seq(
      Metric("p50_ms", Stats.median(qs), "ms", qs.size),
      Metric("ops_per_s", first.queries.size / (first.op.ms / 1e3), "1/s", first.queries.size),
      Metric("batch_pass_s", first.op.ms / 1e3, "s", 1))
  }

  def perLayer(rec: Recorder, l: Listeners): Seq[Metric] = {
    val traced = passes.find(_.op.traced).getOrElse(passes.head)
    val qs = traced.queries
    def family(names: Set[String]) = qs.filter(q => names.contains(q.name)).map(_.total).sum
    import graft.queries._
    Seq(
      Metric("queries.build_s", qs.map(_.buildS).sum, "s", qs.size),
      Metric("queries.exec_s", qs.map(_.execS).sum, "s", qs.size),
      Metric("queries.relational_s", family(Relational.queries.keySet), "s", qs.size),
      Metric("queries.dq_s", family(DqQueries.queries.keySet), "s", qs.size),
      Metric("queries.event_s", family(EventPipeline.queries.keySet), "s", qs.size),
      Metric("queries.text_s", family(TextPipeline.queries.keySet), "s", qs.size),
      Metric("queries.vector_s", family(VectorPipeline.queries.keySet), "s", qs.size),
      Metric("cache.inmem_scans", l.inMemScans.get.toDouble, "count", qs.size),
      Metric("cache.stored_mb_peak", storedPeakMb, "MB", qs.size),
      Metric("cache.entries_end", census.toDouble, "count", 1)) ++
      Layers.sql(l) ++ Layers.spark(l, qs.size)
  }

  private def storedMb: Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
}

object PipelineBatch {
  /** The pass, in this order: a multi-way join, a DQ profile, per-row
    * JSON parsing, two text dedup queries sharing the shingle index and
    * MinHash signatures, and two vector queries sharing the LSH
    * signatures. One cold pass over all 91 entries takes over a minute,
    * more than a run can hold. */
  val Subset: Seq[String] = Seq(
    "q05_multiway_join", "dq_p2_numeric_profile",
    "e04_json_props", "td07_dedup_minhash", "td23_ingest_dedup",
    "v03_embedding_neardup", "v17_index_health")
  /** The queries whose DuckDB oracles take seconds each. */
  val Slow: Seq[String] = Seq(
    "td07_dedup_minhash", "td23_ingest_dedup", "v03_embedding_neardup", "v17_index_health")

  final case class QueryTime(name: String, buildS: Double, execS: Double) {
    def total: Double = buildS + execS
  }
  final case class Pass(op: Op, queries: Seq[QueryTime])
}
