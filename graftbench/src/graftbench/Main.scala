package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM and writes `result.json` (and `spans.jsonl` when traced)
  * into `--out`. `run.py` builds this program, launches it and reads the result.
  *
  * Arguments: --workload W --seed N --seconds S --trace 0|1 --out DIR --cores N [--tables DIR] */
object Main {
  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val loadBefore = Proc.loadavg
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val traced = opt("trace") == "1"
    val out = opt("out")
    val cores = opt("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val runner = new Runner(spark, traced)
    val w = new WorkloadOut
    val c = Ctx(spark, runner, opt("seed").toLong, opt("seconds").toDouble, out,
      opt.getOrElse("tables", ""), cores)
    workload match {
      case "keyed_fold" => Workloads.keyedFold(c, w)
      case "keyed_stream" => Workloads.keyedStream(c, w)
      case "dedup_corpus" => Workloads.dedupCorpus(c, w)
      case "query_mix" => Workloads.queryMix(c, w)
    }
    // set-up ran the input generation GenReps times; only its median counts
    val setupS = (w.firstTimedMs - jvmStartMs) / 1e3 - w.genExtraS
    val e2e = runner.endToEnd(setupS, w.stateStoreMb)
    e2e("input_gen_s") = w.genS

    val layers = if (traced) runner.layers() ++ w.layers else mutable.LinkedHashMap.empty[String, Double]
    if (traced) {
      layers("retained_cache_mb") = e2e("retained_cache_mb").asInstanceOf[Double]
      val lines = runner.spans().map(s => Json(mutable.LinkedHashMap("name" -> s.name, "id" -> s.id,
        "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
      Files.writeString(Paths.get(s"$out/spans.jsonl"), lines.mkString("", "\n", "\n"))
    }
    val opsOut = runner.ops.map(o => mutable.LinkedHashMap("id" -> o.id, "kind" -> o.kind,
      "warmup" -> o.warmup, "wall_s" -> o.wallS, "rows" -> o.rows,
      "error" -> o.error, "check" -> o.failedCheck))
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "seed" -> c.seed,
      "trace" -> traced,
      "attempted" -> runner.attempted,
      "failed" -> runner.failed,
      "checks" -> w.checks.map { case (n, ok, d) => mutable.LinkedHashMap("name" -> n, "ok" -> ok, "detail" -> d) },
      "e2e" -> e2e,
      "layers" -> layers,
      "inputs" -> w.inputs,
      "record" -> mutable.LinkedHashMap(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "local_n" -> cores,
        "loadavg_before" -> loadBefore,
        "loadavg_after" -> Proc.loadavg,
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
        "spark_version" -> spark.version),
      "ops" -> opsOut)
    Files.writeString(Paths.get(s"$out/result.json"), Json(result))
    spark.stop()
  }
}
