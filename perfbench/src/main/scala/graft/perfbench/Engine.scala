package graft.perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Session set-up, the cold-start guard and host-noise readings. */
object Engine {

  val cpus: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors))

  /** The session every engine main builds (`graft.Bench`'s recipe),
    * with its scratch space kept inside the run directory. */
  def session(dataDir: String, work: Path): SparkSession = {
    val s = graft.InputTuning.configure(
      graft.LocalSpark.hardened(SparkSession.builder())
        .config("spark.sql.shuffle.partitions", cpus.toString),
      dataDir, cpus)
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Every owner of a session-scoped cache, each with a public
    * `invalidate(spark)`. */
  private val owners: Seq[(AnyRef, SparkSession => Unit)] = Seq(
    graft.queries.TextPipeline -> graft.queries.TextPipeline.invalidate _,
    graft.queries.VectorPipeline -> graft.queries.VectorPipeline.invalidate _,
    graft.streaming.VectorStreams -> graft.streaming.VectorStreams.invalidate _,
    graft.sources.Tables -> graft.sources.Tables.invalidate _,
    graft.pipeline.Multimodal -> graft.pipeline.Multimodal.invalidate _,
    graft.pipeline.TextPrep -> (graft.pipeline.TextPrep.invalidate(_: SparkSession)))

  def invalidateAll(spark: SparkSession): Unit = {
    owners.foreach(_._2(spark))
    spark.catalog.clearCache()
  }

  /** Entries `spark` holds in the owners' caches: every
    * `PlanKeyedCache` field (its `size`) and every session-keyed map
    * field, found by reflection so a cache added later is counted
    * without changing the benchmark. */
  def cacheEntries(spark: SparkSession): Int = owners.map { case (o, _) =>
    o.getClass.getDeclaredFields.toSeq.map { f =>
      f.setAccessible(true)
      f.get(o) match {
        case p: graft.PlanKeyedCache => p.size(spark)
        case m: java.util.Map[_, _] => m.keySet.asScala.count {
          case k: Product if k.productArity > 0 =>
            k.productElement(0).asInstanceOf[AnyRef] eq spark
          case _ => false
        }
        case _ => 0
      }
    }.sum
  }.sum

  def persistedRdds(spark: SparkSession): Int =
    spark.sparkContext.getPersistentRDDs.size

  /** Empty every session cache, then prove it: a timed run never
    * starts on a warm cache. Throws instead of measuring one. */
  def coldStart(spark: SparkSession): Unit = {
    invalidateAll(spark)
    val entries = cacheEntries(spark)
    val rdds = persistedRdds(spark)
    val cached = !spark.sharedState.cacheManager.isEmpty
    if (entries != 0 || rdds != 0 || cached)
      throw new IllegalStateException(
        s"cold-start guard: $entries cache entries, $rdds persisted RDDs, " +
          s"cache manager ${if (cached) "non-empty" else "empty"} after invalidation")
  }

  /** CPU ticks from /proc/stat (user..steal). */
  def cpuTicks(): Array[Long] =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/stat"))
      .linesIterator.next().split("\\s+").drop(1).take(8).map(_.toLong)
    catch { case scala.util.control.NonFatal(_) => Array.fill(8)(0L) }

  /** Share of CPU time stolen by the hypervisor between two readings. */
  def stealFrac(a: Array[Long], b: Array[Long]): Double = {
    val d = b.zip(a).map { case (x, y) => x - y }
    val total = d.sum.toDouble
    if (total <= 0) 0.0 else d(7) / total
  }

  def heapUsedMb: Double =
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Peak heap since the last [[resetHeapPeak]], summed over pools. */
  def heapPeakMb: Double = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum / 1048576.0

  def resetHeapPeak(): Unit = java.lang.management.ManagementFactory
    .getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  /** Used heap after a full collection. */
  def retainedHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
    heapUsedMb
  }
}
