package graft.state

import java.sql.Timestamp
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.filter.{LinearKalmanFilter, RecursiveLeastSquaresFilter, SparkTestSession}

/** The batch keyed fold as a planner-visible operator: safe to plan from
  * several threads on one session, and an ordinary relation to join. */
class KeyedFoldSpec extends AnyFunSuite with SparkTestSession {

  private def ts(i: Int): Timestamp = new Timestamp(1700000000000L + i * 60000L)

  private def data: DataFrame = {
    import spark.implicits._
    (for (k <- 0 until 8; i <- 0 until 40)
      yield (s"k$k", ts(i), Array(i * 0.5 + k), i.toDouble, Array(1.0, i.toDouble)))
      .toDF("key", "t", "meas", "y", "feat")
  }

  private def lkf(df: DataFrame): DataFrame = new LinearKalmanFilter(1, 1)
    .setStateKeyCol("key").setEventTimeCol("t").setMeasurementCol("meas").transform(df)

  private def rls(df: DataFrame): DataFrame = new RecursiveLeastSquaresFilter(2)
    .setStateKeyCol("key").setEventTimeCol("t").setLabelCol("y").setFeaturesCol("feat").transform(df)

  test("concurrent filter transforms never switch AQE off for the session") {
    val df = data
    val done = new AtomicBoolean(false)
    val (reads, offReads) = (new AtomicInteger(0), new AtomicInteger(0))
    val poller = new Thread(() => while (!done.get) {
      reads.incrementAndGet()
      if (spark.conf.get("spark.sql.adaptive.enabled") == "false") offReads.incrementAndGet()
    })
    poller.start()
    implicit val ec: ExecutionContext = ExecutionContext.global
    val joinAdaptive = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    val work = Seq(
      Future((1 to 6).foreach(_ => lkf(df).collect())),
      Future((1 to 6).foreach(_ => rls(df).collect())),
      Future((1 to 6).foreach { _ =>
        val j = spark.range(3000).join(spark.range(3000).withColumnRenamed("id", "id2"),
          col("id") === col("id2")).groupBy(col("id") % 7).count()
        j.collect()
        joinAdaptive.add(j.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
      }))
    try work.foreach(Await.result(_, 5.minutes))
    finally { done.set(true); poller.join() }
    assert(reads.get > 0 && offReads.get == 0, s"${offReads.get} of ${reads.get} reads saw AQE off")
    assert(joinAdaptive.size == 6 && joinAdaptive.toArray.forall(_ == true), joinAdaptive.toString)
    assert(spark.conf.get("spark.sql.adaptive.enabled") != "false")
  }

  test("the fold's output joins with itself and with its own input") {
    val df = data
    val out = lkf(df)
    val n = out.count()
    assert(n == df.count())
    assert(out.as("a").join(out.as("b"), Seq("key", "stateIndex")).count() == n)
    assert(out.join(df, Seq("key", "t")).count() == n)
  }

  test("a key aggregation after the fold shuffles its own input, so a sort's sampling never reruns the fold") {
    val q = lkf(data).groupBy("key").agg(max(col("stateIndex")).as("n")).orderBy("key")
    val p = q.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(stateKey".r.findAllIn(p).size == 1, p)
    assert("Exchange hashpartitioning\\(key".r.findAllIn(p).size == 1, p)
    assert(q.collect().forall(_.getLong(1) == 40L))
  }
}
