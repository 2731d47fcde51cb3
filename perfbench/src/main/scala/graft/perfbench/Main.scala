package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed operation of a workload. `traced` says whether tracing
  * was on when it started. */
final case class Op(kind: String, startNs: Long, ms: Double, ok: Boolean,
    traced: Boolean)

final class Recorder {
  private val q = new ConcurrentLinkedQueue[Op]()
  // when tracing was switched on and off (nanoTime)
  @volatile private var tracedFrom, tracedUntil = Long.MaxValue
  def tracingOn(): Unit = tracedFrom = System.nanoTime()
  def tracingOff(): Unit = tracedUntil = System.nanoTime()
  def add(kind: String, startNs: Long, ok: Boolean): Op = {
    val op = Op(kind, startNs, (System.nanoTime() - startNs) / 1e6, ok,
      startNs >= tracedFrom && startNs < tracedUntil)
    q.add(op)
    op
  }
  /** Time `body` as one op of `kind`; a throw counts as a failed op. */
  def time[A](kind: String)(body: => A): Option[A] = {
    val t0 = System.nanoTime()
    try { val a = body; add(kind, t0, ok = true); Some(a) }
    catch {
      case scala.util.control.NonFatal(e) =>
        add(kind, t0, ok = false)
        Main.note(s"$kind failed: ${e.getClass.getSimpleName}: ${
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)}")
        None
    }
  }
  def ops: Seq[Op] = q.asScala.toSeq
  def of(kind: String): Seq[Op] = ops.filter(_.kind == kind)
}

final case class Metric(name: String, value: Double, unit: String, samples: Int)

object Stats {
  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toVector
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Everything a workload needs from the harness. `work` is wiped before
  * every run; `cache` holds inputs derived from fixed data and lives
  * until the next build. */
final case class Env(dataDir: String, work: Path, cache: Path, seed: Long, seconds: Double,
    traced: Boolean)

/** A workload: set-up on a fresh session, a measured closed loop, the
  * output checks, and its own teardown. */
trait Workload {
  /** Benchmark inputs derived once per run on the first session, before
    * the first set-up and outside `setup_s` (default: none). */
  def prepare(spark: SparkSession): Unit = ()
  /** Program-side set-up (part of `setup_s`). */
  def setup(spark: SparkSession): Unit
  /** Untimed work after set-up and before the cold-start guard, so
    * the window measures a warmed-up JVM (default: none). */
  def warmUp(): Unit = ()
  /** Run the measured window, recording every op; `phases` says when
    * it is over. */
  def run(rec: Recorder, phases: Phases): Unit
  /** Whether the window's thirds are switched by time (else the run
    * calls `phases.advance()` between passes). */
  def timed: Boolean = true
  /** Output checks, outside the timed region: one message per failed
    * operation or property. */
  def check(rec: Recorder): Seq[String]
  /** The workload's own teardown (before the retained-heap reading). */
  def teardown(): Unit
  /** The operations whose latency (or pass time) states tracing
    * overhead: those of `p50_ms`, or the JIT-warm passes. */
  def primaryKinds: Set[String]
  def endToEnd(rec: Recorder, windowS: Double): Seq[Metric]
  /** Per-layer metrics of the traced third, from the listener counters
    * and spans (`l`), the traced ops, and direct calls made here. */
  def perLayer(rec: Recorder, l: Listeners): Seq[Metric]
}

/** The clock of the measured window. In a traced run the window is cut
  * into thirds, traced only in the middle one, so the traced ops can be
  * compared with untraced ops of the same run (tracing overhead). A
  * timer switches the thirds; a workload made of whole passes switches
  * them itself with [[advance]] (`timed = false`). */
final class Phases(spark: SparkSession, rec: Recorder, seconds: Double, traced: Boolean,
    timed: Boolean) {
  val startNs: Long = System.nanoTime()
  val endNs: Long = startNs + (seconds * 1e9).toLong
  private var current = 0
  def over: Boolean = System.nanoTime() >= endNs

  private val timer = if (!traced || !timed) None else {
    val t = new Thread(() => try {
      for (k <- 1 to 2) {
        Thread.sleep(math.max(0L, (startNs + (endNs - startNs) * k / 3 - System.nanoTime()) / 1000000))
        advance()
      }
    } catch { case _: InterruptedException => () }, "perfbench-phases")
    t.setDaemon(true)
    t.start()
    Some(t)
  }

  /** Move to the next third: tracing on after the first, off after the
    * second. */
  def advance(): Unit = synchronized {
    current += 1
    if (traced && current == 1) { rec.tracingOn(); Main.listeners = Some(Trace.start(spark)) }
    if (traced && current == 2) { rec.tracingOff(); Trace.stop(spark) }
  }

  def finish(): Unit = {
    timer.foreach { t => t.interrupt(); t.join() }
    synchronized { if (traced && current == 1) { rec.tracingOff(); Trace.stop(spark); current = 2 } }
  }
}

object Main {
  val SetupReps = 3

  @volatile var listeners: Option[Listeners] = None
  private val notes = new ConcurrentLinkedQueue[String]()
  def note(s: String): Unit = if (notes.size < 200) notes.add(s)

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload missing"))
    val env = Env(
      dataDir = arg(args, "--data").getOrElse(sys.error("--data missing")),
      work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work missing"))).toAbsolutePath,
      cache = Paths.get(arg(args, "--cache").getOrElse(sys.error("--cache missing"))).toAbsolutePath,
      seed = arg(args, "--seed").map(_.toLong).getOrElse(1L),
      seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0),
      traced = arg(args, "--trace").contains("1"))
    Files.createDirectories(env.work)
    // host noise, read before the session adds load (graft.Bench's stamp)
    val hostStamp = graft.Bench.concurrentLoadJson()
    var lastNs = System.nanoTime()
    val phaseS = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def mark(name: String): Unit = {
      val now = System.nanoTime(); phaseS += name -> (now - lastNs) / 1e9; lastNs = now
    }
    val w: Workload = workload match {
      case "copilot" => new Copilot(env)
      case "dq_ingest" => new DqIngest(env)
      case "pipeline_batch" => new PipelineBatch(env)
      case "doc_stream" => new DocStream(env)
      case other => sys.error(s"unknown workload '$other'")
    }

    var spark: SparkSession = null
    val setupS = (1 to SetupReps).map { i =>
      if (spark != null) { w.teardown(); spark.stop() }
      val t0 = System.nanoTime()
      spark = Engine.session(env.dataDir, env.work)
      val p0 = System.nanoTime()
      if (i == 1) w.prepare(spark)
      val prepNs = System.nanoTime() - p0
      w.setup(spark)
      (System.nanoTime() - t0 - prepNs) / 1e9
    }
    mark("setup")
    w.warmUp()
    mark("warmup")
    Engine.coldStart(spark)

    val rec = new Recorder
    val ticks0 = Engine.cpuTicks()
    val gc0 = Engine.gcMs
    Engine.resetHeapPeak()
    val phases = new Phases(spark, rec, env.seconds, env.traced, w.timed)
    w.run(rec, phases)
    phases.finish()
    val windowS = (System.nanoTime() - phases.startNs) / 1e9
    val gcWindow = Engine.gcMs - gc0
    val heapPeak = Engine.heapPeakMb
    val steal = Engine.stealFrac(ticks0, Engine.cpuTicks())

    mark("window")
    val failures = w.check(rec)
    mark("check")
    val ops = rec.ops
    val perLayer = if (!env.traced) Nil else {
      val l = listeners.getOrElse(new Listeners)
      w.perLayer(rec, l) ++ Seq(
        Metric("jvm.gc_ms", gcWindow.toDouble, "ms", 1),
        Metric("jvm.heap_peak_mb", heapPeak, "MB", 1),
        Metric("trace.overhead_frac", overhead(rec, w.primaryKinds), "fraction",
          ops.count(o => w.primaryKinds(o.kind))))
    }
    if (env.traced) Trace.dump(env.work.resolve("spans.tsv"))
    w.teardown()
    val retained = Engine.retainedHeapMb()
    mark("teardown")

    val failedOps = ops.count(!_.ok) + failures.size
    val attempted = math.max(1, ops.size)
    val metrics =
      if (env.traced) perLayer
      else Seq(
        Metric("setup_s", Stats.median(setupS), "s", setupS.size),
        Metric("fail_frac", failedOps.toDouble / attempted, "fraction", attempted),
        Metric("retained_heap_mb", retained, "MB", 1)) ++ w.endToEnd(rec, windowS)

    val stealFlag = if (steal >= 0.02) " STEAL-FLAGGED" else ""
    println(f"# workload=$workload seed=${env.seed} traced=${env.traced} window_s=$windowS%.3f " +
      f"ops=${ops.size} failed_ops=${ops.count(!_.ok)} failed_checks=${failures.size}")
    println(s"# host start=$hostStamp window_steal_frac=${f"$steal%.4f"}$stealFlag")
    println("# phases_s " + phaseS.map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
    println(s"# setup_s runs=${setupS.map(s => f"$s%.3f").mkString(",")}")
    failures.take(20).foreach(f => println(s"# CHECK FAILED: $f"))
    notes.asScala.take(20).foreach(n => println(s"# note: $n"))
    metrics.foreach(m => println(f"# metric ${m.name}%-34s ${m.value}%14.4f ${m.unit}%-8s n=${m.samples}"))
    if (env.traced)
      println(f"# tracing overhead on ${w.primaryKinds.mkString("+")}: " +
        f"${overhead(rec, w.primaryKinds) * 100}%.2f%% " +
        "(traced middle third against the untraced outer thirds)")
    val json = metrics.map(m =>
      s""""${m.name}": {"value": ${jnum(m.value)}, "unit": "${m.unit}"}""").mkString(", ")
    println(s"""{"correct": ${failedOps == 0}, "attempted": $attempted, "failed": $failedOps, "metrics": {$json}}""")
    System.out.flush()
    spark.stop()
  }

  /** Median latency of traced ops over that of untraced ops, minus 1. */
  private def overhead(rec: Recorder, kinds: Set[String]): Double = {
    val (t, u) = rec.ops.filter(o => o.ok && kinds(o.kind)).partition(_.traced)
    if (t.isEmpty || u.isEmpty) 0.0
    else Stats.median(t.map(_.ms)) / Stats.median(u.map(_.ms)) - 1.0
  }

  private def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
}
