package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark (perfbench/run.py builds and launches it).
  *
  * Usage: BenchMain <workload> <seed> <seconds> <trace 0|1> <dataDir> <outDir> <cores>
  * (`workload` is `cdc_stream`, `query_core` or `train`)
  *
  * Runs one workload closed-loop on one client thread against a session
  * from [[graft.Engine.session]] (the production configuration) with
  * `cores` local cores, and writes `outDir/result.json`: timings, counts,
  * check outcomes and, when traced, the per-layer ledger. run.py turns it
  * into the printed metrics after its own output checks. */
object BenchMain {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, outDir, coresS) = args
    val cores = coresS.toInt
    new java.io.File(outDir).mkdirs()
    val t0 = System.nanoTime()
    val spark = graft.Engine.session("graftbench", cores)
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val ctx = Ctx(spark, seedS.toLong, secondsS.toDouble, traceS == "1", dataDir, outDir,
      cores, new Tracer(traceS == "1", spark))
    val result = workload match {
      case "query_core" => QueryCore.run(ctx)
      case "cdc_stream" => CdcStream.run(ctx)
      // both workloads with `seconds` 0, for the class-data sharing archive
      case "train" => QueryCore.run(ctx) ++ CdcStream.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    ctx.tracer.dump(s"$outDir/spans.json")
    val env = Map(
      "cpus" -> cores,
      "parallelism" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/result.json"),
      Json.render(result + ("env" -> env) + ("engine.session_ms" -> sessionMs)))
    spark.stop()
  }
}

final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, trace: Boolean,
                     dataDir: String, outDir: String, cores: Int, tracer: Tracer)

/** Shared measurement helpers. */
object Measure {
  def ms[T](f: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t) / 1e6)
  }

  /** Old-generation occupancy in MB right after a forced full collection:
    * the heap the run retains at that point. The first collection lets
    * Spark's ContextCleaner see unreferenced shuffles and broadcasts; the
    * pause lets it drop their state before the collection that is read. */
  def oldGenAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  /** Median of `reps` timings of `f`, in ms. */
  def medianMs(reps: Int)(f: => Unit): Double =
    Intervals.median((1 to reps).map(_ => ms(f)._2))

  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Per-layer metrics of the traced operations: the mean per operation
    * of each layer (so the layer means add up to the mean wall time), and
    * the ledger self-check. */
  def ledgerMetrics(ls: Seq[OpLedger]): Map[String, Any] = {
    def mean(f: OpLedger => Double) = if (ls.isEmpty) 0.0 else ls.map(f).sum / ls.size
    Map(
      "op.build_ms" -> mean(_.buildMs),
      "catalyst.analysis_ms" -> mean(_.analysisMs),
      "catalyst.optimization_ms" -> mean(_.optimizationMs),
      "catalyst.planning_ms" -> mean(_.planningMs),
      "exec.wall_ms" -> mean(_.wallMs),
      "exec.stage_ms" -> mean(_.stageMs),
      "exec.driver_gap_ms" -> mean(_.gapMs),
      "exec.stages" -> mean(_.stages.toDouble),
      "exec.tasks" -> mean(_.tasks.toDouble),
      "exec.task_cpu_ms" -> mean(_.taskCpuMs),
      "exec.gc_ms" -> mean(_.gcMs),
      "exec.shuffle_write_bytes" -> mean(_.shuffleWriteBytes.toDouble),
      "exec.shuffle_read_bytes" -> mean(_.shuffleReadBytes.toDouble),
      "exec.spill_bytes" -> mean(_.spillBytes.toDouble),
      "exec.scan_rows" -> mean(_.scanRows.toDouble),
      "exec.scan_bytes" -> mean(_.scanBytes.toDouble),
      "exec.core_utilization" -> mean(_.coreUtilization),
      "exec.serial_stages" -> mean(_.serialStages.toDouble),
      "exec.serial_stage_ms" -> mean(_.serialStageMs),
      "ledger.coverage" -> Intervals.median(ls.map(_.coverage)),
      "ledger.coverage_min" -> (if (ls.isEmpty) 0.0 else ls.map(_.coverage).min),
      "ledger.coverage_max" -> (if (ls.isEmpty) 0.0 else ls.map(_.coverage).max),
      "ledger.ops" -> ls.size,
      "ledger.ops_off_10pct" -> ls.count(l => math.abs(l.coverage - 1) > 0.1))
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${quote(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
