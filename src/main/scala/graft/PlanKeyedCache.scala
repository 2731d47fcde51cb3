package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Cache-ownership discipline for operator-intermediate frames, in
  * ONE place (TextPipeline and VectorPipeline each carried a verbatim
  * copy): frames are cached once per (session, canonicalized plan) —
  * same source + same query shape hits the same entry, so re-runs
  * reuse instead of re-materializing — and dropped per session by
  * [[invalidate]]. A bare per-invocation `.cache()` has NO owner
  * (ContextCleaner reclaims RDDs, not Dataset cache entries), so each
  * re-run would pin one more cached copy until session stop, and a
  * re-ingested corpus would keep serving the OLD data (Spark's
  * CacheManager substitutes by canonicalized plan). */
private[graft] final class PlanKeyedCache {
  PlanKeyedCache.instances.add(this)

  // The second key component is the frame's canonicalized plan for
  // the plain form, or a (canonicalized input plan, tag) pair for the
  // keyed form — both have structural equality.
  private val entries = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, AnyRef), DataFrame]()

  /** The cached twin of `df` (materialized lazily by the first
    * action, shared by every later call with the same plan). */
  def apply(df: DataFrame): DataFrame =
    entries.computeIfAbsent(
      (df.sparkSession, df.queryExecution.analyzed.canonicalized),
      _ => df.cache())

  /** The cached twin of `build`, keyed on `(key's plan, tag)` rather
    * than on `build`'s own plan — for frames whose plan embeds a
    * per-call closure (e.g. a `mapPartitions` decode stage): closure
    * equality is by reference, so two invocations produce UNEQUAL
    * canonicalized plans and the plain form would never hit — each
    * call re-materializing and pinning one more cached copy until
    * [[invalidate]]. Key on the stable input-corpus plan plus a tag
    * naming the derivation instead.
    *
    * CONTRACT: the tag must name the derivation bijectively — one tag,
    * one build recipe per input plan. Because the hit path returns the
    * first frame cached under `(key plan, tag)` without re-running
    * `build`, a call site reusing an existing tag for a DIFFERENT
    * derivation would silently read the wrong cached frame. Partially
    * enforced here: `build`'s plan is constructed on every call (cheap
    * — no action runs) and its schema compared to the cached entry's;
    * a schema mismatch throws instead of serving the wrong frame.
    * Same-schema different-derivation reuse remains the caller's
    * contract to keep (r18 advice). */
  def keyed(key: DataFrame, tag: String)(build: => DataFrame): DataFrame = {
    val built = build
    val cached = entries.computeIfAbsent(
      (key.sparkSession, (key.queryExecution.analyzed.canonicalized, tag)),
      _ => built.cache())
    if (cached.schema != built.schema)
      throw new IllegalStateException(
        s"PlanKeyedCache tag '$tag' reused for a different derivation: " +
          s"cached schema ${cached.schema.simpleString} vs requested " +
          built.schema.simpleString)
    cached
  }

  /** Unpersist and forget the single entry holding `df`'s plan — for
    * an intermediate whose last consumer has materialized (e.g. the
    * td32 pair relation once the per-doc score frame is built): left
    * pinned, tens of GB of dead columnar cache would contribute to
    * the sf100 disk ceiling (r18 verdict). A later call may re-insert
    * the plan lazily; unmaterialized entries hold no storage. No-op
    * when the plan was never cached. */
  def release(df: DataFrame): Unit = {
    val e = entries.remove(
      (df.sparkSession, df.queryExecution.analyzed.canonicalized))
    if (e != null) e.unpersist()
  }

  /** Live entry count for `s` — cache-hit observability for specs. */
  def size(s: SparkSession): Int = {
    var n = 0
    entries.forEach((k, _) => if (k._1 eq s) n += 1)
    n
  }

  /** Unpersist and forget this session's entries (session stop /
    * corpus re-ingest). */
  def invalidate(s: SparkSession): Unit = {
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq s) {
        e.getValue.unpersist()
        it.remove()
      }
    }
  }
}

private[graft] object PlanKeyedCache {
  // every owner is an object-level singleton, so the list stays tiny
  private val instances =
    new java.util.concurrent.CopyOnWriteArrayList[PlanKeyedCache]()

  /** Live entry count for `s` across every cache owner — lets specs
    * pin that session stop releases them all. */
  def size(s: SparkSession): Int = {
    var n = 0
    instances.forEach(c => n += c.size(s))
    n
  }
}
