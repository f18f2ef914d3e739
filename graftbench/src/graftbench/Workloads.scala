package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.graftbench.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.dedup.{Dedup, MinHashLSH, PrefixFilterJoin, SimHash}
import graft.filter.{ExtendedKalmanFilter, LeastMeanSquaresFilter, LinearKalmanFilter,
  RecursiveLeastSquaresFilter, UnscentedKalmanFilter}
import graft.linalg.DMat
import graft.mixture.MultivariateGaussianMixture
import graft.smoother.LinearKalmanSmoother

/** What a workload hands back to `Main`: its setup phases and the facts about its inputs. */
final class WorkloadOut {
  var genS: Double = 0.0
  var genExtraS: Double = 0.0
  var firstTimedMs: Double = Double.NaN
  val inputs = mutable.LinkedHashMap.empty[String, Any]
  /** Memory a workload retains outside cached blocks: the state stores of a stream. */
  var stateStoreMb: Double = 0.0
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  def check(name: String, ok: Boolean, detail: String = ""): Unit = checks += ((name, ok, detail))
}

final case class Ctx(spark: SparkSession, runner: Runner, seed: Long, seconds: Double,
    outDir: String, tablesDir: String, cores: Int)

object Workloads {
  /** Input generation runs this many times in set-up; its median enters `setup_s`. */
  val GenReps = 3

  /** Runs `gen` `reps` times, keeping the last result; records the median time and the
    * time the other repetitions took. */
  def timedGen[T](w: WorkloadOut, reps: Int)(gen: => T)(release: T => Unit): T = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[T] = None
    (1 to reps).foreach { _ =>
      last.foreach(release)
      val s = Clock.nowMs
      last = Some(gen)
      times += (Clock.nowMs - s) / 1e3
    }
    w.genS = Stats.median(times)
    w.genExtraS = times.sum - w.genS
    last.get
  }

  private def nonFinite(arrays: Seq[Column]): Column =
    arrays.map(a => when(exists(a, x => isnan(x) || abs(x) === lit(Double.PositiveInfinity)), 1)
      .otherwise(0)).reduce(_ + _)

  // ---------------------------------------------------------------- keyed_fold

  /** Every sequential estimator family over one keyed measurement table. */
  def keyedFold(c: Ctx, w: WorkloadOut): Unit = {
    val spark = c.spark
    import spark.implicits._
    val (rows, keys, zipfS, hotShare) = (150000, 1500, 0.9, 0.05)
    val plan = Inputs.keyPlan(rows, keys, zipfS, hotShare)
    val seed = c.seed
    val table = timedGen(w, GenReps) {
      val df = spark.sparkContext.parallelize(plan.toSeq, c.cores * 4)
        .flatMap { case (k, n) => Inputs.keyRows(seed, k, n) }.toDF()
        .select(col("k"), col("t"),
          array(col("z")).as("meas"),
          array(lit(1.0), col("x")).as("feat"), col("y"),
          struct(lit(1).as("numRows"), lit(2).as("numCols"), array(lit(1.0), col("x")).as("values")).as("hmat"),
          array(col("y2")).as("ekfz"), array(col("u")).as("ukfz"))
        .persist(StorageLevel.MEMORY_ONLY)
      df.count()
      df
    }(_.unpersist(true))
    val counts = plan.map(_._2)
    w.inputs ++= Seq("rows" -> rows, "keys" -> keys, "zipf_s" -> zipfS, "hot_key_share" -> hotShare,
      "rows_per_key_min" -> counts.min, "rows_per_key_median" -> Stats.median(counts.map(_.toDouble)),
      "rows_per_key_max" -> counts.max, "hot_key_rows" -> counts(0))

    // the hot key plus keys spread over the rows-per-key distribution
    val sampled = (plan.take(1) ++ plan.drop(1).sortBy(-_._2).grouped(keys / 15).map(_.head)).toSeq
    val sampledKeys = sampled.map(_._1.toString)
    val ref = sampled.map { case (k, n) => k.toString -> Inputs.keyRows(seed, k, n) }.toMap
    val gmmBatch = 8
    val expectedRows = Map("gmm" -> counts.map(_ / gmmBatch).sum.toLong).withDefaultValue(rows.toLong)

    def est(kind: String): (DataFrame, Seq[Column]) = kind match {
      case "lkf" => (new LinearKalmanFilter(2, 1)
        .setStateKeyCol("k").setEventTimeCol("t").setAssumeUniqueEventTimes()
        .setMeasurementCol("meas")
        .setInitialStateMean(Array(0.0, 0.0))
        .setInitialStateCovariance(DMat.of(2, 2, 10.0, 0.0, 0.0, 10.0))
        .setProcessModel(DMat.of(2, 2, 1.0, 1.0, 0.0, 1.0))
        .setProcessNoise(DMat.of(2, 2, 0.01, 0.0, 0.0, 0.001))
        .setMeasurementModel(DMat.of(1, 2, 1.0, 0.0))
        .setMeasurementNoise(DMat.of(1, 1, 2.25))
        .transform(table), Seq(col("stateMean"), col("stateCovariance.values")))
      case "ekf" => (new ExtendedKalmanFilter(2, 1)
        .setStateKeyCol("k").setEventTimeCol("t").setAssumeUniqueEventTimes()
        .setMeasurementCol("ekfz").setMeasurementModelCol("hmat")
        .setMeasurementFunction((st, h) => { val u = st(0) + st(1) * h.values(1); Array(u * u) })
        .setMeasurementStateJacobian((st, h) => {
          val x = h.values(1); val u = st(0) + st(1) * x
          DMat(1, 2, Array(2.0 * u, 2.0 * u * x))
        })
        .setInitialStateMean(Array(1.5, 0.2))
        .setInitialStateCovariance(DMat.of(2, 2, 1.0, 0.0, 0.0, 1.0))
        .setProcessNoise(DMat.of(2, 2, 1e-4, 0.0, 0.0, 1e-4))
        .setMeasurementNoise(DMat.of(1, 1, 1.0))
        .transform(table), Seq(col("stateMean"), col("stateCovariance.values")))
      case "ukf" => (new UnscentedKalmanFilter(1, 1)
        .setStateKeyCol("k").setEventTimeCol("t").setAssumeUniqueEventTimes()
        .setMeasurementCol("ukfz")
        .setSigmaPoints("merwe").setMerweAlpha(0.6).setMerweBeta(2.0).setMerweKappa(0.5)
        .setMeasurementFunction((st, _) => Array(st(0) * st(0)))
        .setInitialStateMean(Array(3.0))
        .setInitialStateCovariance(DMat.of(1, 1, 1.0))
        .setProcessNoise(DMat.of(1, 1, 0.01))
        .setMeasurementNoise(DMat.of(1, 1, 1.0))
        .transform(table), Seq(col("stateMean"), col("stateCovariance.values")))
      case "rls" => (new RecursiveLeastSquaresFilter(2)
        .setStateKeyCol("k").setEventTimeCol("t").setAssumeUniqueEventTimes()
        .setLabelCol("y").setFeaturesCol("feat")
        .setForgettingFactor(0.98).setRegularizationMatrixFactor(1e5)
        .transform(table), Seq(col("stateMean"), col("stateCovariance.values")))
      case "lms" => (new LeastMeanSquaresFilter(2)
        .setStateKeyCol("k").setEventTimeCol("t").setAssumeUniqueEventTimes()
        .setLabelCol("y").setFeaturesCol("feat")
        .setLearningRate(0.5).setRegularization(1.0)
        .transform(table), Seq(col("stateMean")))
      case "rts" =>
        val sm = new LinearKalmanSmoother(1, 1)
        sm.setStateKeyCol("k").setEventTimeCol("t").setAssumeUniqueEventTimes()
          .setMeasurementCol("meas")
          .setInitialStateMean(Array(0.0))
          .setInitialStateCovariance(DMat.of(1, 1, 10.0))
          .setProcessNoise(DMat.of(1, 1, 0.1))
          .setMeasurementNoise(DMat.of(1, 1, 2.25))
        (sm.transform(table), Seq(col("stateMean"), col("stateCovariance.values")))
      case "gmm" => (new MultivariateGaussianMixture(2, 1)
        .setStateKeyCol("k").setEventTimeCol("t")
        .setSampleCol("meas").setStepSize(0.05).setMinibatchSize(gmmBatch)
        .setInitialMeans(Array(Array(-5.0), Array(5.0)))
        .setInitialCovariances(Array(Array(25.0), Array(25.0)))
        .transform(table), Seq(col("weights"), flatten(col("params"))))
    }

    // One action per op: row count, an order-free checksum over every output column,
    // the non-finite state count and the sampled keys' states.
    final case class Out(n: Long, digest: Long, bad: Long, sample: Map[String, Seq[(Long, Seq[Double])]])
    val kinds = Seq("lkf", "ekf", "ukf", "rls", "lms", "rts", "gmm")
    val outs = kinds.map(_ -> mutable.ArrayBuffer.empty[Option[Out]]).toMap
    def runOp(kind: String, warmup: Boolean): Unit = {
      val res = c.runner.op(kind, rows, warmup) { ctx =>
        val (out, states) = ctx.build(est(kind))
        val q = ctx.executes(out.agg(
          count(lit(1)), bit_xor(xxhash64(out.columns.map(n => col(s"`$n`")).toSeq: _*)),
          sum(nonFinite(states)),
          collect_list(when(col("k").isin(sampledKeys: _*),
            struct(col("k"), col("stateIndex"), states.head)))))
        val r = ctx.execute(q.collect().head)
        Out(r.getLong(0), r.getLong(1), r.getLong(2),
          r.getSeq[Row](3).map(x => (x.getString(0), (x.getLong(1), x.getSeq[Double](2))))
            .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sortBy(_._1) })
      }
      outs(kind) += res
    }
    // op latency keeps falling for several passes while the JIT compiles the kernels and
    // Spark's per-query paths; timing starts after two warm-up passes
    (1 to 2).foreach(_ => kinds.foreach(runOp(_, warmup = true)))
    w.firstTimedMs = Clock.nowMs
    c.runner.timed(c.seconds) { kinds.foreach(runOp(_, warmup = false)) }

    // -- checks, outside the timed region
    def refMeans(kind: String, k: String): Seq[Seq[Double]] = {
      val ms = ref(k)
      kind match {
        case "lkf" => Reference.lkfTrend(ms.map(_.z).toSeq, (0.0, 0.0), 10.0, 0.01, 0.001, 2.25)
          .map { case (a, b) => Seq(a, b) }
        case "rls" => Reference.rls(ms.map(m => (Array(1.0, m.x), m.y)).toSeq, 2, 0.98, 1e5).map(_.toSeq)
        case "lms" => Reference.lms(ms.map(m => (Array(1.0, m.x), m.y)).toSeq, 2, 0.5, 1.0).map(_.toSeq)
      }
    }
    val recs = c.runner.ops.filter(o => kinds.contains(o.kind))
    kinds.foreach { kind =>
      val rs = recs.filter(_.kind == kind).toSeq
      val os = outs(kind).toSeq
      val first = os.headOption.flatten
      rs.zip(os).foreach { case (rec, o) =>
        o match {
          case None => rec.fail("op failed")
          case Some(out) =>
            if (out.n != expectedRows(kind)) rec.fail(s"rows ${out.n} != ${expectedRows(kind)}")
            if (out.bad != 0) rec.fail(s"${out.bad} rows with non-finite state")
            if (first.exists(_.digest != out.digest)) rec.fail("output checksum differs from warm-up")
            if (Set("lkf", "rls", "lms").contains(kind)) sampledKeys.foreach { k =>
              val got = out.sample.getOrElse(k, Nil)
              val want = refMeans(kind, k)
              val okIdx = got.map(_._1) == (1L to want.size.toLong)
              val okVal = okIdx && got.zip(want).forall { case ((_, g), r) =>
                g.size == r.size && g.zip(r).forall { case (a, b) => Reference.close(a, b) } }
              if (!okVal) rec.fail(s"key $k differs from the plain-Scala $kind")
            }
        }
      }
      // a failed warm-up op leaves the timed ops without their reference
      if (rs.headOption.exists(!_.ok)) rs.filterNot(_.warmup).foreach(_.fail("warm-up op failed"))
      w.check(s"$kind.outputs", rs.forall(_.ok), rs.flatMap(_.failedCheck).headOption.getOrElse(""))
    }
  }

  // -------------------------------------------------------------- keyed_stream

  /** LKF and RLS over MemoryStreams: a closed loop of fixed-size micro-batches. */
  def keyedStream(c: Ctx, w: WorkloadOut): Unit = {
    val spark = c.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (batchRows, keys) = (4000, 4000)
    val sampledKeys = (0L until 16L).map(_ * (keys / 16))
    val sampledStr = sampledKeys.map(_.toString)
    w.inputs ++= Seq("micro_batch_rows" -> batchRows, "keys" -> keys, "key_draw" -> "uniform")

    final class Stream(val kind: String) {
      val src = MemoryStream[StreamRow]
      val fed = mutable.Map.empty[Long, mutable.ArrayBuffer[StreamRow]]
      var rowsFed = 0L
      val rowsOut = new AtomicLong(0L)
      val last = new ConcurrentHashMap[String, (Long, Seq[Double])]()
      private val in = src.toDF().select(col("k"), col("t"), array(col("z")).as("meas"),
        array(lit(1.0), col("x")).as("feat"), col("y"))
      private val out = kind match {
        case "lkf" => new LinearKalmanFilter(2, 1)
          .setStateKeyCol("k").setEventTimeCol("t").setAssumeUniqueEventTimes()
          .setMeasurementCol("meas")
          .setInitialStateMean(Array(0.0, 0.0))
          .setInitialStateCovariance(DMat.of(2, 2, 10.0, 0.0, 0.0, 10.0))
          .setProcessModel(DMat.of(2, 2, 1.0, 1.0, 0.0, 1.0))
          .setProcessNoise(DMat.of(2, 2, 0.01, 0.0, 0.0, 0.001))
          .setMeasurementModel(DMat.of(1, 2, 1.0, 0.0))
          .setMeasurementNoise(DMat.of(1, 1, 2.25))
          .transform(in)
        case "rls" => new RecursiveLeastSquaresFilter(2)
          .setStateKeyCol("k").setEventTimeCol("t").setAssumeUniqueEventTimes()
          .setLabelCol("y").setFeaturesCol("feat")
          .setForgettingFactor(0.98).setRegularizationMatrixFactor(1e5)
          .transform(in)
      }
      private val sink: (DataFrame, Long) => Unit = (df, _) => {
        df.groupBy(when(col("k").isin(sampledStr: _*), col("k")).as("sk"))
          .agg(count(lit(1)).as("n"), max(col("stateIndex")).as("i"),
            max_by(col("stateMean"), col("stateIndex")).as("m"))
          .collect().foreach { r =>
            rowsOut.addAndGet(r.getLong(1))
            if (!r.isNullAt(0)) last.put(r.getString(0), (r.getLong(2), r.getSeq[Double](3)))
          }
      }
      val query: StreamingQuery = out.writeStream.foreachBatch(sink)
        .option("checkpointLocation", s"${c.outDir}/checkpoint-$kind")
        .queryName(s"graftbench_$kind").start()

      /** Adds a micro-batch to the source; the op that follows processes it. */
      def add(rows: Array[StreamRow]): Unit = {
        rows.foreach(r => if (sampledKeys.contains(r.k)) fed.getOrElseUpdate(r.k, mutable.ArrayBuffer.empty) += r)
        rowsFed += rows.length
        src.addData(rows.toSeq)
      }

      def stateRows: Long = Option(query.lastProgress).flatMap(_.stateOperators.headOption)
        .map(_.numRowsTotal).getOrElse(0L)
    }

    val streams = Seq(new Stream("lkf"), new Stream("rls"))
    // One op is one micro-batch: the same rows go to both sources, whose queries then
    // process them concurrently, each on its own thread.
    var batches = 0
    def feed(warmup: Boolean): Unit = {
      val rows = Inputs.streamBatch(c.seed, batches, batchRows, keys)
      batches += 1
      val before = streams.map(_.rowsOut.get)
      c.runner.op("micro_batch", rows.length, warmup) { ctx =>
        ctx.execute {
          streams.foreach(_.add(rows))
          streams.foreach(_.query.processAllAvailable())
        }
      }
      streams.zip(before).foreach { case (s, b) =>
        val got = s.rowsOut.get - b
        if (got != rows.length) c.runner.ops.last.fail(s"${s.kind} micro-batch emitted $got rows for ${rows.length}")
      }
    }
    try {
      // warm up for 15 micro-batches (per-batch latency keeps falling over the first
      // dozen or so), and on until each state store holds every key
      while (batches < 60 && (batches < 15 || streams.exists(_.stateRows < keys))) feed(warmup = true)
      w.inputs("warmup_batches") = batches
      w.inputs("state_keys_at_start") = streams.map(_.stateRows).min
      w.firstTimedMs = Clock.nowMs
      val firstTimed = streams.map(_.query.lastProgress.batchId + 1)
      c.runner.timed(c.seconds)(feed(warmup = false))

      // -- checks: every sampled key's final state against the plain-Scala recursion
      streams.foreach { s =>
        val bad = sampledKeys.filterNot { k =>
          val rows = s.fed.getOrElse(k, mutable.ArrayBuffer.empty).toSeq
          val want = s.kind match {
            case "lkf" => Reference.lkfTrend(rows.map(_.z), (0.0, 0.0), 10.0, 0.01, 0.001, 2.25)
              .map { case (a, b) => Seq(a, b) }
            case "rls" => Reference.rls(rows.map(r => (Array(1.0, r.x), r.y)), 2, 0.98, 1e5).map(_.toSeq)
          }
          Option(s.last.get(k.toString)) match {
            case Some((i, m)) => i == rows.size && want.lastOption.exists(r =>
              r.zip(m).forall { case (a, b) => Reference.close(a, b) })
            case None => rows.isEmpty
          }
        }
        val countOk = s.rowsOut.get == s.rowsFed
        w.check(s"${s.kind}.reference", bad.isEmpty, if (bad.isEmpty) "" else s"keys ${bad.mkString(",")}")
        w.check(s"${s.kind}.rows", countOk, s"out ${s.rowsOut.get} fed ${s.rowsFed}")
        if (bad.nonEmpty || !countOk)
          c.runner.ops.foreach(_.fail(s"${s.kind} stream output differs from reference"))
      }
      w.stateStoreMb = streams.map(s =>
        Option(s.query.lastProgress).flatMap(_.stateOperators.headOption).map(_.memoryUsedBytes).getOrElse(0L)).sum / 1048576.0

      if (c.runner.traced) {
        val ps = streams.zip(firstTimed).flatMap { case (s, b0) => s.query.recentProgress.filter(_.batchId >= b0) }
        def med(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) = Stats.median(ps.map(f))
        def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
          Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        val so = (p: org.apache.spark.sql.streaming.StreamingQueryProgress) => p.stateOperators.head
        w.layers ++= Seq(
          "state_rows" -> med(p => so(p).numRowsTotal.toDouble),
          "state_mem_mb" -> med(p => so(p).memoryUsedBytes / 1048576.0),
          "state_commit_ms" -> med(p => so(p).commitTimeMs.toDouble),
          "state_update_ms" -> med(p => so(p).allUpdatesTimeMs.toDouble),
          "query_planning_ms" -> med(dur(_, "queryPlanning")),
          "add_batch_ms" -> med(dur(_, "addBatch")),
          "wal_commit_ms" -> med(dur(_, "walCommit")))
      }
    } finally streams.foreach { s => s.query.stop(); s.query.awaitTermination(30000) }
  }

  // -------------------------------------------------------------- dedup_corpus

  /** `Dedup.pipeline`, `PrefixFilterJoin.jaccardPairs` and `SimHash.nearDuplicates`
    * on one generated corpus. */
  def dedupCorpus(c: Ctx, w: WorkloadOut): Unit = {
    val spark = c.spark
    import spark.implicits._
    val (nDocs, vocab, dupRate) = (1500, 20000, 0.1)
    val (docs, clusters) = Inputs.corpus(c.seed, nDocs, vocab, dupRate)
    val planted = clusters.flatMap(m => for (a <- m; b <- m if a < b) yield (a, b))
    val plantedRemovals = clusters.map(_.size - 1).sum
    val corpus = timedGen(w, GenReps) {
      val df = spark.createDataset(docs.toSeq).toDF().repartition(c.cores * 2).persist(StorageLevel.MEMORY_ONLY)
      df.count()
      df
    }(_.unpersist(true))
    val sh = docs.map(d => d.id -> Reference.shingles(d.text, 3)).toMap
    w.inputs ++= Seq("docs" -> nDocs, "vocab" -> vocab, "zipf_s" -> 1.1, "planted_pairs" -> planted.size,
      "planted_dup_rate" -> plantedRemovals.toDouble / nDocs,
      "words_per_doc_median" -> Stats.median(docs.map(_.text.count(_ == ' ') + 1.0)))
    val tau = 0.7
    val tauMilli = 700L
    val maxHamming = 3

    val kinds = Seq("minhash_pipeline", "jaccard_join", "simhash")
    val outs = kinds.map(_ -> mutable.ArrayBuffer.empty[Option[Seq[Row]]]).toMap
    def runOp(kind: String, warmup: Boolean): Unit = {
      val res = c.runner.op(kind, nDocs, warmup) { ctx =>
        val out = ctx.build(kind match {
          case "minhash_pipeline" => Dedup.pipeline(corpus, "id", "text", tau)
          case "jaccard_join" => PrefixFilterJoin.jaccardPairs(corpus, "id", "text", tauMilli, 3)
          case "simhash" => SimHash.nearDuplicates(corpus, "id", "text", maxHamming)
        })
        ctx.execute(ctx.executes(out).collect().toSeq)
      }
      outs(kind) += res
    }
    (1 to 2).foreach(_ => kinds.foreach(runOp(_, warmup = true)))
    w.firstTimedMs = Clock.nowMs
    c.runner.timed(c.seconds) { kinds.foreach(runOp(_, warmup = false)) }

    // -- checks
    val plantedSet = planted.toSet
    val clusterOf = clusters.zipWithIndex.flatMap { case (m, i) => m.map(_ -> i) }.toMap
    val clusterSizes = clusters.zipWithIndex.map { case (m, i) => i -> m.size.toLong }.toMap
    val unplanted = docs.map(_.id).toSet -- clusterOf.keySet
    val plantedAbove = planted.filter { case (a, b) => Reference.jaccard(sh(a), sh(b)) >= tau }.toSet
    val recall = mutable.Map.empty[String, Double]
    kinds.foreach { kind =>
      val rs = c.runner.ops.filter(_.kind == kind).toSeq
      rs.zip(outs(kind)).foreach { case (rec, o) =>
        o match {
          case None => rec.fail("op failed")
          case Some(rows) => kind match {
            case "minhash_pipeline" =>
              // A doc outside the planted clusters stays a group of its own, and a group
              // never mixes clusters: its kept and canonical docs share one cluster, and
              // each cluster's groups add up to the cluster's size.
              val groups = rows.map(r => (r.getAs[Long]("kept_id"), r.getAs[Long]("canonical_id"),
                r.getAs[Long]("n_members")))
              val (inClusters, alone) = groups.partition(g => clusterOf.contains(g._2))
              if (alone.exists { case (k, cid, n) => n != 1 || k != cid } ||
                  alone.size != unplanted.size || alone.map(_._1).toSet != unplanted)
                rec.fail("a document outside the planted clusters was merged or lost")
              if (inClusters.exists { case (k, cid, _) => clusterOf.get(k) != clusterOf.get(cid) })
                rec.fail("a group mixes planted clusters")
              if (inClusters.groupMapReduce(g => clusterOf(g._2))(_._3)(_ + _) != clusterSizes)
                rec.fail("a planted cluster's groups do not add up to its size")
              val removed = inClusters.map(_._3 - 1).sum
              recall(kind) = removed.toDouble / plantedRemovals
              if (recall(kind) < 0.95) rec.fail(s"recall ${recall(kind)} < 0.95")
              w.layers("groups") = rows.size
            case "jaccard_join" =>
              val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).map { case (a, b) => (math.min(a, b), math.max(a, b)) }
              val wrong = pairs.filter { case (a, b) => Reference.jaccard(sh(a), sh(b)) < tau - 1e-9 }
              val missed = plantedAbove -- pairs
              recall(kind) = if (plantedAbove.isEmpty) 1.0 else 1.0 - missed.size.toDouble / plantedAbove.size
              if (wrong.nonEmpty) rec.fail(s"${wrong.size} reported pairs below tau")
              if (missed.nonEmpty) rec.fail(s"${missed.size} planted pairs above tau missed")
              w.inputs("jaccard_pairs") = pairs.size
            case "simhash" =>
              val pairs = rows.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
              recall(kind) = (pairs & plantedSet).size.toDouble / plantedSet.size
              if (rows.exists(r => r.getAs[Long]("hamming") > maxHamming)) rec.fail("pair above max hamming")
              if (recall(kind) < 0.5) rec.fail(s"recall ${recall(kind)} < 0.5")
          }
        }
      }
      val sums = outs(kind).flatten.map(rows => rows.map(_.hashCode.toLong).sum)
      if (sums.distinct.size > 1) rs.foreach(_.fail("output differs between runs of the op"))
      if (rs.headOption.exists(!_.ok)) rs.filterNot(_.warmup).foreach(_.fail("warm-up op failed"))
      w.check(s"$kind.outputs", rs.forall(_.ok), rs.flatMap(_.failedCheck).headOption.getOrElse(""))
    }
    recall.foreach { case (k, v) => w.inputs(s"recall.$k") = v }
    if (c.runner.traced) {
      // the pipeline's MinHash LSH: candidate pairs, and those that verify at tau
      val lsh = new MinHashLSH(32, 8, 3)
      val cand = lsh.candidatePairs(corpus, "id", "text").count().toDouble
      val verified = lsh.nearDuplicates(corpus, "id", "text", tau).count().toDouble
      w.layers ++= Seq("candidate_pairs" -> cand, "verified_pairs" -> verified,
        "verify_yield" -> verified / math.max(1.0, cand))
    }
  }

  // ----------------------------------------------------------------- query_mix

  /** One book query from each query family, including the iterative ones. */
  val MixQueries: Seq[String] = Seq(
    "q_lkf_llt", "q_gmm", "q_dedup_minhash", "q_centrality", "q_nb_classifier", "q_pca_top",
    "q_funnel", "q_bpe_train", "q_ann_incremental_dist", "q_unicode_normalize")

  def queryMix(c: Ctx, w: WorkloadOut): Unit = {
    val spark = c.spark
    val queries = SparkEntry.queries
    // input rows each query reads, counted once in warm-up
    val recordsRead = new AtomicLong(0L)
    val counter = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) recordsRead.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(counter)
    val inRows = mutable.Map.empty[String, Long]
    val reference = mutable.Map.empty[String, Long]
    def digest(rows: Array[Row]): Long = rows.map(_.hashCode.toLong).sum
    new java.io.File(s"${c.outDir}/outputs").mkdirs()
    MixQueries.foreach { q =>
      ListenerDrain(spark.sparkContext)
      val r0 = recordsRead.get
      val res = c.runner.op(q, 0L, warmup = true) { ctx =>
        val df = ctx.build(queries(q)(spark, c.tablesDir))
        (df.schema, ctx.execute(ctx.executes(df).collect()))
      }
      ListenerDrain(spark.sparkContext)
      inRows(q) = recordsRead.get - r0
      res.foreach { case (schema, rows) =>
        reference(q) = digest(rows)
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"${c.outDir}/outputs/$q")
      }
    }
    spark.sparkContext.removeSparkListener(counter)
    val oracle = MixQueries.map(q => q -> SparkEntry.oracleSql.getOrElse(q, "")).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${c.outDir}/oracle_sql.json"), Json(oracle))
    w.inputs("queries") = MixQueries.size
    w.inputs("query_input_rows") = inRows.values.sum

    val rnd = new Random(c.seed)
    w.firstTimedMs = Clock.nowMs
    c.runner.timed(c.seconds) {
      rnd.shuffle(MixQueries).foreach { q =>
        val res = c.runner.op(q, inRows(q), warmup = false) { ctx =>
          val df = ctx.build(queries(q)(spark, c.tablesDir))
          digest(ctx.execute(ctx.executes(df).collect()))
        }
        res.foreach(d => if (!reference.get(q).contains(d)) c.runner.ops.last.fail("output differs from warm-up"))
      }
    }
    MixQueries.foreach { q =>
      val rs = c.runner.ops.filter(_.kind == q)
      if (rs.headOption.exists(!_.ok)) rs.filterNot(_.warmup).foreach(_.fail("warm-up op failed"))
    }
    w.check("outputs.repeat", c.runner.timedOps.forall(_.ok),
      c.runner.timedOps.flatMap(o => o.failedCheck.orElse(o.error).map(o.kind + ": " + _)).headOption.getOrElse(""))
  }
}
