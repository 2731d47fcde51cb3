package graft.dq

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** What a block of code made Spark do: the jobs it launched and
  * the physical plans it executed. */
final case class Recorded(jobs: Int, plans: Seq[SparkPlan])

object Recorded {

  /** Run `body` on this thread with static plans (the small-input
    * regime of `graft.InputTuning`, where one query is one job) and
    * record it through Spark's public listeners. Listener events are
    * delivered asynchronously, in order, so a final marker job proves
    * every earlier event has arrived. */
  def apply(spark: SparkSession)(body: => Any): Recorded = {
    val sc = spark.sparkContext
    val group = s"dq-recorded-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val drained = new CountDownLatch(1)
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == "marker")
            drained.countDown()
          else jobs.incrementAndGet()
        }
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    sc.setJobGroup(group, "recorded")
    try {
      body
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      Recorded(jobs.get, plans.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      spark.listenerManager.unregister(planListener)
      sc.removeSparkListener(jobListener)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }
}
