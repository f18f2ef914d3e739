package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.graftbench.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate

/** Minimal JSON writer: numbers keep all their digits. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => str(other.toString)
  }
}

object Stats {
  /** Percentile with linear interpolation between order statistics. */
  def percentile(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) return Double.NaN
    val r = p / 100 * (s.length - 1)
    val i = math.floor(r).toInt
    if (i + 1 >= s.length) s.last else s(i) + (r - i) * (s(i + 1) - s(i))
  }

  def median(xs: Iterable[Double]): Double = percentile(xs, 50)

  /** The highest percentile with at least ten samples beyond it, and its value; floored
    * at the median when fewer than twenty samples ran. */
  def tail(xs: Iterable[Double]): (Double, Double) = {
    val p = math.max(50.0, math.floor(1000 * (1 - 10.0 / xs.size)) / 10)
    (p, percentile(xs, p))
  }

  /** Total length of the union of [start, end] intervals, clipped to [lo, hi]. */
  def unionMs(iv: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (ca, cb) => total += cb - ca }
    total
  }
}

/** Wall clock in epoch milliseconds with nanosecond resolution, so benchmark spans and
  * the epoch-stamped listener events share one time base. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** User+sys CPU of this process: the driver and the local executors. */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** CPU time the hypervisor gave to other guests, summed over this machine's CPUs
    * (the steal column of /proc/stat, in USER_HZ = 100 ticks per second). */
  def stealS: Double =
    try java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+")(8).toDouble / 100
    catch { case NonFatal(_) => 0.0 }

  def loadavg: String =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg")).trim
      .split(" ").take(3).mkString(" ")
    catch { case NonFatal(_) => "" }

  /** Storage memory held by cached RDD blocks, in MB. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
}

final case class Span(name: String, id: Long, parent: Long, op: Long, startMs: Double, endMs: Double)

final case class JobRec(id: Int, group: Option[String], startMs: Double) {
  @volatile var endMs: Double = Double.NaN
}

final case class StageRec(id: Int, job: Int, submitMs: Double, endMs: Double, numTasks: Int,
    cpuNs: Long, runMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long, peakMem: Long)

/** Records job and stage spans plus the counters the per-layer metrics need.
  * Registered only in the traced run. */
final class TraceListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]().asScala
  val stages = new ConcurrentHashMap[(Int, Int), StageRec]().asScala
  private val stageJob = new ConcurrentHashMap[Int, Int]().asScala
  val taskMs = new ConcurrentHashMap[(Int, Int), mutable.ArrayBuffer[Long]]().asScala
  val aqeUpdatesMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  val droppedMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = JobRec(e.jobId, group, e.time.toDouble)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskInfo != null)
    taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty[Long]) += e.taskInfo.duration

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val end = i.completionTime.getOrElse(System.currentTimeMillis()).toDouble
    stages((i.stageId, i.attemptNumber())) = StageRec(i.stageId, stageJob.getOrElse(i.stageId, -1),
      i.submissionTime.map(_.toDouble).getOrElse(end), end, i.numTasks,
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      if (m == null) 0L else m.peakExecutionMemory)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    if (!e.blockUpdatedInfo.storageLevel.isValid) droppedMs.add(Clock.nowMs)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate => aqeUpdatesMs.add(Clock.nowMs)
    case _ =>
  }
}

/** One timed operation: a graft call that returns a DataFrame (`build`) and its
  * execution (`execute`), with the spans the benchmark places around them. */
final class OpRec(val id: Long, val kind: String, val warmup: Boolean) {
  var rows: Long = 0L
  var startMs, endMs: Double = Double.NaN
  var build: Option[(Double, Double)] = None
  var exec: Option[(Double, Double)] = None
  var error: Option[String] = None
  var failedCheck: Option[String] = None
  var phasesMs: Map[String, Double] = Map.empty
  var cachedMb: Double = 0.0
  var cachedRdds: Int = 0
  def wallS: Double = (endMs - startMs) / 1e3
  def ok: Boolean = error.isEmpty && failedCheck.isEmpty
  def fail(why: String): Unit = if (failedCheck.isEmpty) failedCheck = Some(why)
}

final class OpCtx(rec: OpRec) {
  private var qe: Option[QueryExecution] = None

  def build[A](f: => A): A = {
    val s = Clock.nowMs
    try f finally rec.build = Some((s, Clock.nowMs))
  }

  def execute[A](f: => A): A = {
    val s = Clock.nowMs
    try f finally rec.exec = Some((s, Clock.nowMs))
  }

  /** Names the DataFrame whose execution the op times, for the planner phase timings. */
  def executes(df: DataFrame): DataFrame = { qe = Some(df.queryExecution); df }

  private[graftbench] def plan: Option[QueryExecution] = qe
}

/** Runs ops in one client thread, in a closed loop, and turns their records into metrics. */
final class Runner(val spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  val listener: Option[TraceListener] =
    if (traced) Some(new TraceListener).map { l => sc.addSparkListener(l); l } else None
  val ops = mutable.ArrayBuffer.empty[OpRec]
  private var timedStart = Double.NaN
  private var timedEnd = Double.NaN
  var gcS, stealS: Double = 0.0
  var passes = 0
  /** Storage and cached RDDs held before the first op: the benchmark's own inputs. */
  private var inputCacheMb = 0.0
  private var inputRdds = 0
  private var cacheAtEndMb = 0.0

  /** Storage memory held by cached blocks beyond the benchmark's own inputs, in MB. */
  private def graftCacheMb: Double = Proc.cachedMb(spark) - inputCacheMb

  def op[T](kind: String, rows: Long, warmup: Boolean)(body: OpCtx => T): Option[T] = {
    if (ops.isEmpty) {
      inputCacheMb = Proc.cachedMb(spark)
      inputRdds = sc.getPersistentRDDs.size
    }
    val rec = new OpRec(ops.size + 1L, kind, warmup)
    val ctx = new OpCtx(rec)
    rec.rows = rows
    sc.setJobGroup(s"op-${rec.id}", kind, interruptOnCancel = false)
    rec.startMs = Clock.nowMs
    val out = try Some(body(ctx)) catch {
      case NonFatal(e) =>
        rec.error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
        None
    }
    rec.endMs = Clock.nowMs
    sc.clearJobGroup()
    if (traced) {
      rec.phasesMs = ctx.plan.map(_.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble })
        .getOrElse(Map.empty)
      rec.cachedMb = graftCacheMb
      rec.cachedRdds = sc.getPersistentRDDs.size - inputRdds
    }
    ops += rec
    out
  }

  /** Per pass of the timed region: wall seconds, process CPU seconds, ops, rows. */
  val passStats = mutable.ArrayBuffer.empty[(Double, Double, Int, Long)]

  /** Runs whole passes until `seconds` have passed; every pass runs each op once. */
  def timed(seconds: Double)(pass: => Unit): Unit = {
    val (gc0, steal0) = (Proc.gcS, Proc.stealS)
    timedStart = Clock.nowMs
    while (passes == 0 || Clock.nowMs - timedStart < seconds * 1e3) {
      val (t, c, n) = (Clock.nowMs, Proc.cpuS, ops.size)
      pass
      val done = ops.drop(n)
      passStats += (((Clock.nowMs - t) / 1e3, Proc.cpuS - c, done.size, done.map(_.rows).sum))
      passes += 1
    }
    timedEnd = Clock.nowMs
    cacheAtEndMb = graftCacheMb
    gcS = Proc.gcS - gc0
    stealS = Proc.stealS - steal0
  }

  def timedOps: Seq[OpRec] = ops.filterNot(_.warmup).toSeq
  def wallS: Double = (timedEnd - timedStart) / 1e3
  def attempted: Int = timedOps.size
  def failed: Int = timedOps.count(!_.ok)

  /** End-to-end metrics every workload shares. Rates and CPU are medians over passes,
    * so one disturbed pass does not move them. `stateStoreMb` is memory graft retains
    * outside the block manager. */
  def endToEnd(setupS: Double, stateStoreMb: Double): mutable.LinkedHashMap[String, Any] = {
    val lat = timedOps.map(_.wallS)
    val (tp, tv) = Stats.tail(lat)
    mutable.LinkedHashMap(
      "setup_s" -> setupS,
      "rows_per_s" -> Stats.median(passStats.map { case (w, _, _, r) => r / w }),
      "queries_per_s" -> Stats.median(passStats.map { case (w, _, n, _) => n / w }),
      "op_p50_s" -> Stats.median(lat),
      "op_tail_s" -> tv,
      "op_tail_pct" -> tp,
      "op_samples" -> lat.size,
      "proc_cpu_s" -> Stats.median(passStats.map(_._2)),
      "retained_cache_mb" -> (cacheAtEndMb + stateStoreMb),
      "failed_frac" -> failed.toDouble / attempted,
      "timed_wall_s" -> wallS,
      "steal_s" -> stealS,
      "passes" -> passes)
  }

  private def jobsOf(o: OpRec, l: TraceListener): Seq[JobRec] = {
    val byGroup = l.jobs.values.filter(_.group.contains(s"op-${o.id}")).toSeq
    // streaming micro-batches run on the query's own thread, which does not carry
    // the op's job group; one client thread means the op's interval identifies them
    if (byGroup.nonEmpty) byGroup
    else l.jobs.values.filter(j => j.startMs >= o.startMs && j.startMs <= o.endMs).toSeq
  }

  /** Per-layer metrics read from the trace; medians are per op. */
  def layers(): mutable.LinkedHashMap[String, Double] = {
    val l = listener.get
    ListenerDrain(sc)
    val m = mutable.LinkedHashMap.empty[String, Double]
    val ts = timedOps
    case class PerOp(o: OpRec, jobs: Seq[JobRec], stages: Seq[StageRec])
    val per = ts.map { o =>
      val js = jobsOf(o, l)
      val ids = js.map(_.id).toSet
      PerOp(o, js, l.stages.values.filter(s => ids.contains(s.job)).toSeq)
    }
    def med(f: PerOp => Double): Double = Stats.median(per.map(f))
    def jobIv(p: PerOp) = p.jobs.map(j => (j.startMs, if (j.endMs.isNaN) p.o.endMs else j.endMs))
    def stageIv(p: PerOp) = p.stages.map(s => (s.submitMs, s.endMs))
    def within(iv: Seq[(Double, Double)], w: Option[(Double, Double)]) =
      w.map { case (a, b) => Stats.unionMs(iv, a, b) }.getOrElse(0.0)
    def span(w: Option[(Double, Double)]) = w.map { case (a, b) => b - a }.getOrElse(0.0)

    m("build_s") = med(p => span(p.o.build) / 1e3)
    m("eager_jobs") = med(p => p.o.build.map { case (a, b) =>
      p.jobs.count(j => j.startMs >= a && j.startMs <= b).toDouble }.getOrElse(0.0))
    Seq("analysis", "optimization", "planning").foreach { ph =>
      m(s"${ph}_ms") = med(_.o.phasesMs.getOrElse(ph, 0.0))
    }
    m("aqe_replans") = med(p => l.aqeUpdatesMs.asScala.count(t => t >= p.o.startMs && t <= p.o.endMs).toDouble)
    m("jobs") = med(_.jobs.size.toDouble)
    m("stages") = med(_.stages.size.toDouble)
    m("tasks") = med(_.stages.map(_.numTasks).sum.toDouble)
    m("sched_gap_s") = med(p => (p.o.endMs - p.o.startMs - Stats.unionMs(stageIv(p), p.o.startMs, p.o.endMs)) / 1e3)
    m("shuffle_write_mb") = med(_.stages.map(_.shuffleWrite).sum / 1048576.0)
    m("shuffle_read_mb") = med(_.stages.map(_.shuffleRead).sum / 1048576.0)
    m("spill_mb") = med(_.stages.map(_.spill).sum / 1048576.0)
    m("peak_exec_mem_mb") = med(p => (p.stages.map(_.peakMem) :+ 0L).max / 1048576.0)
    // the fold stage is the shuffle-reading stage with the longest run time
    m("fold_skew") = med { p =>
      p.stages.filter(_.shuffleRead > 0).sortBy(-_.runMs).headOption
        .flatMap(s => l.taskMs.get((s.id, 0))).filter(_.nonEmpty)
        .map(t => t.max.toDouble / math.max(1.0, Stats.median(t.map(_.toDouble))))
        .getOrElse(0.0)
    }
    m("gc_s") = gcS / math.max(1, ts.size)
    m("self_s.op") = med(p => (p.o.endMs - p.o.startMs - span(p.o.build) - span(p.o.exec)) / 1e3)
    m("self_s.build") = med(p => (span(p.o.build) - within(jobIv(p), p.o.build)) / 1e3)
    m("self_s.execute") = med(p => (span(p.o.exec) - within(jobIv(p), p.o.exec)) / 1e3)
    m("self_s.job") = med(p => (Stats.unionMs(jobIv(p), p.o.startMs, p.o.endMs) -
      Stats.unionMs(stageIv(p), p.o.startMs, p.o.endMs)) / 1e3)
    m("self_s.stage") = med(p => Stats.unionMs(stageIv(p), p.o.startMs, p.o.endMs) / 1e3)
    per.groupBy(_.o.kind).foreach { case (k, ps) =>
      m(s"op_s.$k") = Stats.median(ps.map(_.o.wallS))
      m(s"exec_cpu_s.$k") = Stats.median(ps.map(_.stages.map(_.cpuNs).sum / 1e9))
      m(s"shuffle_write_mb.$k") = Stats.median(ps.map(_.stages.map(_.shuffleWrite).sum / 1048576.0))
    }
    m("cached_mb_peak") = (ts.map(_.cachedMb) :+ 0.0).max
    m("cached_rdds_after_op") = Stats.median(ts.map(_.cachedRdds.toDouble))
    m("blocks_dropped") = l.droppedMs.asScala.count(t => t >= timedStart && t <= timedEnd).toDouble
    m("traced_op_p50_s") = Stats.median(ts.map(_.wallS))
    m("traced_queries_per_s") = ts.size / wallS
    m
  }

  /** Every span of the run: op, build and execute from the benchmark, job and stage
    * from the listener, each tied to its op. */
  def spans(): Seq[Span] = {
    val l = listener.get
    val out = mutable.ArrayBuffer.empty[Span]
    var next = 0L
    def id(): Long = { next += 1; next }
    ops.foreach { o =>
      val opId = id()
      out += Span("op", opId, 0L, o.id, o.startMs, o.endMs)
      o.build.foreach { case (a, b) => out += Span("build", id(), opId, o.id, a, b) }
      o.exec.foreach { case (a, b) => out += Span("execute", id(), opId, o.id, a, b) }
      jobsOf(o, l).foreach { j =>
        val jid = id()
        out += Span("job", jid, opId, o.id, j.startMs, if (j.endMs.isNaN) o.endMs else j.endMs)
        l.stages.values.filter(_.job == j.id).foreach { s =>
          out += Span("stage", id(), jid, o.id, s.submitMs, s.endMs)
        }
      }
    }
    out.toSeq
  }
}
