package graft.perfbench

import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, md5}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.streaming.DocStreams
import graft.streaming.DocStreams.Doc

/** `doc_stream`: seeded micro-batches of documents through a
  * `MemoryStream` into `DocStreams.ingestGate`, against the corpus side
  * of td23's split of a fixed corpus (its MinHash band index and md5
  * set, stored as parquet). Each batch plants exact copies of corpus
  * documents, near-duplicates (a long corpus document plus one word)
  * and fresh documents, so every verdict is known in advance; the seed
  * picks them and shifts their ids. */
final class DocStream(env: Env) extends Workload {
  import DocStream._

  private var spark: SparkSession = _
  private var bands: DataFrame = _
  private var digests: DataFrame = _
  private var exactPool: Vector[Doc] = Vector.empty
  private var nearPool: Vector[Doc] = Vector.empty
  private var query: StreamingQuery = _
  private var source: MemoryStream[Doc] = _
  private val expected = mutable.Map.empty[Long, String]

  def primaryKinds = Set("batch")

  private def index = env.cache.resolve("doc-stream-index")
  private def corpus = {
    import graft.queries.TextPipeline.{IngestMod, IngestNewRem}
    col("doc_id") % IngestMod =!= IngestNewRem
  }

  /** The stored corpus side, td07's band index and the md5 set of the
    * corpus documents, built by the first run after a build. */
  override def prepare(s: SparkSession): Unit = if (!Files.exists(index.resolve("done"))) {
    graft.queries.TextPipeline.minhashBands(s, env.dataDir).where(corpus)
      .select("band", "bkey", "sigarr")
      .write.mode("overwrite").parquet(index.resolve("bands").toString)
    graft.sources.Tables.table(s, env.dataDir, "documents").where(corpus)
      .select(md5(col("text")).as("mh")).distinct()
      .write.mode("overwrite").parquet(index.resolve("md5").toString)
    Files.createFile(index.resolve("done"))
  }

  def setup(s: SparkSession): Unit = {
    spark = s
    val docs = graft.sources.Tables.table(spark, env.dataDir, "documents")
    bands = spark.read.parquet(index.resolve("bands").toString)
    digests = spark.read.parquet(index.resolve("md5").toString)
    val rows = docs.where(corpus).select("doc_id", "lang", "source", "text")
      .orderBy("doc_id").collect().toVector
      .map(r => Doc(r.getLong(0), r.getString(1), r.getString(2), r.getString(3), null))
    exactPool = rows
    nearPool = rows.filter(_.text.split(' ').length >= NearMinWords)
    require(nearPool.nonEmpty, "no corpus document is long enough for a near-duplicate")
    start()
  }

  private def start(): Unit = {
    val session = spark
    import session.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    source = MemoryStream[Doc]
    val docs = source.toDF()
      .withColumnRenamed("docId", "doc_id").withColumnRenamed("ingestTs", "ingest_ts")
    query = DocStreams.ingestGate(docs, bands, digests)
      .writeStream.format("memory").queryName(Sink)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", env.work.resolve(s"checkpoint-${System.nanoTime()}").toString)
      .start()
  }

  private val rng = new Random(env.seed)
  private var batch = 0

  /** A few batches before the window: the first micro-batches of a
    * new query plan and compile what every later one reuses. */
  override def warmUp(): Unit = for (_ <- 1 to WarmBatches) step(new Recorder)

  def run(rec: Recorder, phases: Phases): Unit =
    while (!phases.over) step(rec)

  private def step(rec: Recorder): Unit = {
    source.addData(nextBatch(rng, batch))
    rec.time("batch")(query.processAllAvailable())
    batch += 1
  }

  /** One micro-batch: ids shifted past the corpus by the seed, event
    * time one minute per batch. */
  private def nextBatch(rng: Random, batch: Int): Seq[Doc] = {
    val ts = new Timestamp(BaseMs + batch * 60000L)
    (0 until BatchDocs).map { i =>
      val id = IdBase + env.seed % 1000 * 1000000L + batch * BatchDocs + i
      val roll = rng.nextDouble()
      val (doc, verdict) =
        if (roll < 0.1) {
          val d = exactPool(rng.nextInt(exactPool.size))
          (d.copy(docId = id, ingestTs = ts), "exact_dup")
        } else if (roll < 0.25) {
          val d = nearPool(rng.nextInt(nearPool.size))
          (d.copy(docId = id, text = d.text + " novel", ingestTs = ts), "near_dup")
        } else {
          // fresh words share no shingle with the corpus vocabulary
          val words = Seq.fill(20 + rng.nextInt(60))(s"w${rng.nextInt(500)}")
          (Doc(id, "en", s"src${rng.nextInt(20)}", words.mkString(" "), ts), "admitted")
        }
      expected(id) = verdict
      doc
    }
  }

  /** Every planted document gets its planted verdict: a closing
    * document far in event time releases the last windows first. */
  def check(rec: Recorder): Seq[String] = {
    source.addData(Doc(CloserId, "en", "src0", "closing document", new Timestamp(BaseMs + 1000L * 86400000L)))
    query.processAllAvailable()
    val got = spark.table(Sink).collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val wrong = expected.toSeq.filter { case (id, v) => !got.get(id).contains(v) }
    val counts = expected.values.groupBy(identity).view.mapValues(_.size).toMap
    Main.note(s"planted verdicts: $counts; streamed verdicts: ${got.size - got.count(_._1 == CloserId)}")
    wrong.take(10).map { case (id, v) => s"doc $id: planted $v, streamed ${got.getOrElse(id, "none")}" } ++
      (if (wrong.size > 10) Seq(s"${wrong.size - 10} more verdicts differ") else Nil)
  }

  def teardown(): Unit = if (query != null) {
    query.stop()
    query = null
    spark.catalog.dropTempView(Sink)
    expected.clear()
  }

  def endToEnd(rec: Recorder, windowS: Double): Seq[Metric] = {
    val b = rec.of("batch").filter(_.ok).map(_.ms)
    val busyS = b.sum / 1e3
    Seq(
      Metric("p50_ms", Stats.median(b), "ms", b.size),
      Metric("ops_per_s", b.size * BatchDocs / busyS, "1/s", b.size * BatchDocs),
      Metric("stream_batch_p50_ms", Stats.median(b), "ms", b.size),
      Metric("stream_docs_per_s", b.size * BatchDocs / busyS, "1/s", b.size * BatchDocs)) ++
      Layers.tail("stream_batch_p90_ms", b, 0.9)
  }

  def perLayer(rec: Recorder, l: Listeners): Seq[Metric] = {
    import scala.jdk.CollectionConverters._
    val ps = l.progress.asScala.toSeq
    def dur(k: String) = Stats.mean(ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      Stats.mean(ps.map(_.stateOperators.map(f).sum))
    val traced = rec.ops.count(_.traced)
    Seq(
      Metric("stream.trigger_ms", dur("triggerExecution"), "ms", ps.size),
      Metric("stream.plan_ms", dur("queryPlanning"), "ms", ps.size),
      Metric("stream.add_batch_ms", dur("addBatch"), "ms", ps.size),
      Metric("stream.wal_ms", dur("walCommit"), "ms", ps.size),
      Metric("stream.state_rows", state(_.numRowsTotal.toDouble), "count", ps.size),
      Metric("stream.state_mem_mb", state(_.memoryUsedBytes / 1048576.0), "MB", ps.size)) ++
      Layers.sql(l) ++ Layers.spark(l, traced)
  }
}

object DocStream {
  val BatchDocs = 200
  val WarmBatches = 2
  /** Near-duplicates are made from documents at least this long, so
    * the one added word keeps Jaccard similarity above 0.98 and the
    * MinHash bands cannot plausibly all miss. */
  val NearMinWords = 80
  val IdBase = 1000000000L
  val CloserId = Long.MaxValue
  val BaseMs = 1700000000000L
  val Sink = "perfbench_ingest_gate"
}
