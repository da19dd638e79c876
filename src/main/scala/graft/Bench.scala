package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBridge
import scala.jdk.CollectionConverters._

/** Bench harness (driver-run per round → BENCH_r{N}.json).
  *
  * Times every [[Harness.entries]] entry on SPARK_GRAFT_SF_DIR, fully
  * materialized by [[Harness.materialize]]. One untimed warmup pass
  * absorbs JIT/classloading so the timed passes measure the engine, not
  * the JVM. Prints exactly ONE JSON line on stdout.
  *
  * Filtered run: SPARK_GRAFT_BENCH_ONLY=<name>[,<name>…] (an unknown name
  * fails the run) times just those entries — the tool for timing and
  * profiling one entry under optimization. It never writes the detail
  * file; its stdout line carries every per-entry median and min instead,
  * and each timed pass prints one [[PassProfile]] JSON line to stderr:
  *   {"pass":1,"entry":"q01","wall_ms":…,"gc_count":…,"gc_ms":…,
  *    "jit_ms":…,"codecache_mb":…,"stages":{"s7":{"wall_ms":…,
  *    "max_task_ms":…,"max_task_cpu_ms":…,"max_task_gc_ms":…,"tasks":…}}}
  * The unfiltered (driver) run attaches no listener.
  *
  * Noise policy: SPARK_GRAFT_SAMPLES (default 3) timed passes run
  * round-robin — pass 1 of EVERY query, then pass 2 of every query, … —
  * and the per-query number is the MEDIAN across passes (the min is
  * reported alongside as `queries_min`). Consecutive per-query samples
  * (rounds 2-3) let one sustained co-tenant load burst poison all of a
  * query's samples at once, manufacturing phantom regressions (r3: a
  * 28.9× flag on an unchanged projection, reversed by a clean re-run);
  * with interleaving a burst shorter than a full pass (~40 s) hits each
  * query at most once and the median discards it.
  *
  * Failure policy: a query that throws is recorded in `"failed"` (its
  * per-query value is null, it contributes nothing to the total) and the
  * process exits non-zero — a fast failure must never read as a fast
  * query. Regression policy: when a baseline file with a `"queries"`
  * object is available (SPARK_GRAFT_BASELINE, default BENCH_r01.json),
  * any query whose MIN across passes is both >2× its baseline and
  * >0.25 s over it lands in `"regressions"` (BASELINE.md methodology).
  * Entries absent from the primary baseline (operators added after r01)
  * are gated against the committed BENCH_BASELINE.json pin first (a
  * certifiable idle-run snapshot, replaced only deliberately —
  * SPARK_GRAFT_BASELINE_PIN overrides the path), then the previous
  * round's mutable detail file; either source counts only when it
  * self-marked `"certifiable":true` at this run's SF — a contaminated
  * or failed run never becomes a baseline.
  * A clean min with a median >3× baseline gets a non-fatal TAIL-WARN
  * stderr line — variance regressions (GC pressure, intermittent spill)
  * raise the tail without touching the best-case pass, so the min gate
  * alone can't see them.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional comma-separated name filter for targeted local timing of
    // the entries under optimization; a filtered run is a dev tool, so
    // it must never overwrite the certifiable full-detail file
    val allNames = Harness.entries.keys.toSeq.sorted
    val names = Harness.select("SPARK_GRAFT_BENCH_ONLY", allNames)
    val filtered = names.size < allNames.size
    val cpus = Harness.cpus(32)
    val spark = Engine.session("graft-bench", cpus)
    def materialize(name: String): Unit = Harness.materialize(Harness.entries(name)(spark, sfDir))
    // untimed warmup: JIT, codegen cache, file-index warm
    names.foreach { n =>
      try materialize(n)
      catch { case e: Throwable => System.err.println(s"[bench] warmup $n: ${e.getMessage}") }
    }
    val samples = math.max(1, sys.env.getOrElse("SPARK_GRAFT_SAMPLES", "3").toInt)
    // only a filtered run pays for (and prints) the per-pass accounting
    val profile = if (filtered) Some(new PassProfile(spark)) else None
    // interleaved passes: one full round-robin sweep per sample, so each
    // query's samples land in different load windows; any pass throwing
    // marks the query failed (a partial sample set could hide an
    // intermittent failure) and skips its remaining passes
    val timesByQuery =
      scala.collection.mutable.Map.empty[String, Vector[Double]]
        .withDefaultValue(Vector.empty)
    val failedSet = scala.collection.mutable.LinkedHashSet.empty[String]
    for (pass <- 1 to samples; n <- names if !failedSet.contains(n)) {
      try {
        profile.foreach(_.start())
        val t0 = System.nanoTime()
        materialize(n)
        val wall = (System.nanoTime() - t0) / 1e9
        profile.foreach(_.report(pass, n, wall))
        timesByQuery(n) = timesByQuery(n) :+ wall
      } catch { case e: Throwable =>
        System.err.println(s"[bench] FAILED $n: ${e.getMessage}")
        failedSet += n
      }
    }
    val results: Seq[(String, Option[Double])] = names.map { n =>
      if (failedSet.contains(n)) n -> None
      else {
        val ts = timesByQuery(n).sorted
        n -> Some(ts(ts.length / 2))
      }
    }
    val mins: Map[String, Double] = names.flatMap { n =>
      val ts = timesByQuery(n)
      if (failedSet.contains(n) || ts.isEmpty) None else Some(n -> ts.min)
    }.toMap
    val failed = results.collect { case (n, None) => n }
    // primary baseline (r01 by default) covers the round-1 query set;
    // entries added in later rounds have no r01 number and would never be
    // gated — supplement them from the PREVIOUS round's detail file, but
    // only when that run marked itself certifiable (an rc=1 or
    // load-contaminated run must not become anyone's baseline; round 9's
    // contaminated detail file is exactly the artifact this guards
    // against). Read happens before this run overwrites the file.
    val primaryBaseline = loadBaseline(
      sys.env.getOrElse("SPARK_GRAFT_BASELINE", "/root/repo/BENCH_r01.json"))
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      new java.io.File("BENCH_FULL.json").getAbsolutePath)
    // accept a baseline source only when it self-marked certifiable at
    // THIS run's scale factor: a contaminated window or a detail file
    // from another SF (a local sf0.01 smoke) would manufacture phantom
    // flags (round 9's contaminated detail file is the motivating case)
    def usable(path: String): Boolean = {
      val f = new java.io.File(path)
      f.isFile && scala.util.Try {
        val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        txt.contains("\"certifiable\":true") &&
          txt.contains("\"sf\":\"" + sfDir + "\"")
      }.getOrElse(false)
    }
    // PINNED supplement baseline (BASELINE.md rule, r13 postmortem): the
    // working detail file is OVERWRITTEN by every full run, so a noisy
    // driver window could silently become the next round's reference.
    // BENCH_BASELINE.json is a committed snapshot of a certifiable IDLE
    // run, replaced only by a deliberate builder action — it wins over
    // the mutable detail file on overlap.
    val pinnedPath = sys.env.getOrElse("SPARK_GRAFT_BASELINE_PIN",
      "/root/repo/BENCH_BASELINE.json")
    val pinned: Map[String, Double] =
      if (usable(pinnedPath)) loadBaseline(pinnedPath) else Map.empty
    val supplement: Map[String, Double] =
      if (usable(detailPath)) loadBaseline(detailPath) else Map.empty
    val baseline = supplement ++ pinned ++ primaryBaseline // rightmost wins on overlap
    // gate on the per-query MIN across interleaved passes: a real
    // regression raises every sample including the fastest, while a load
    // burst leaves at least one clean sample — so the min can't be faked
    // slow by co-tenant noise the way the median was in rounds 2-3. Flag
    // needs >2× the per-query baseline AND >0.25 s absolute (sub-second
    // queries jitter past 2× under load; tiny absolutes aren't signal)
    val regressions = results.collect {
      case (n, Some(_)) if mins.get(n).exists(t =>
          baseline.get(n).exists(b => t > 2 * b && t - b > 0.25)) =>
        n -> mins(n) / baseline(n)
    }
    regressions.foreach { case (n, r) =>
      System.err.println(f"[bench] REGRESSION $n: ${r}%.2fx baseline")
    }
    // stderr budget for the non-gating tail watch: the driver keeps only
    // the last few KB of output, and r17's round-over-round comparison
    // was LOST because warn spam pushed the JSON line past the capture
    // window (truncated mid-line ⇒ unparseable). Cap the warn lines;
    // the full detail file carries every number regardless.
    val tailWarnCap = 3
    var tailWarns = 0
    // non-fatal tail watch: a clean min with a blown median is either a
    // load burst (usual) or a real variance regression — GC pressure or
    // intermittent spill raises the tail while the best-case pass stays
    // flat, which the min gate alone would never surface. Warn, don't
    // gate: one stderr line per offender, no JSON impact.
    val regressed = regressions.map(_._1).toSet
    results.foreach {
      case (n, Some(med)) =>
        baseline.get(n).foreach { b =>
          // "clean" = exactly "not flagged above" — one source of truth,
          // so tuning the gate thresholds can't desync the warn window
          val minClean = !regressed.contains(n)
          if (minClean && med > 3 * b && med - b > 0.25) {
            tailWarns += 1
            if (tailWarns <= tailWarnCap)
              System.err.println(
                f"[bench] TAIL-WARN $n: median ${med}%.2fs is ${med / b}%.2fx " +
                  f"baseline while min ${mins(n)}%.2fs is clean — load burst " +
                  "or variance regression (GC/spill); not gated")
          }
        }
      case _ => ()
    }
    if (tailWarns > tailWarnCap)
      System.err.println(s"[bench] TAIL-WARN: ${tailWarns - tailWarnCap} more " +
        s"entries suppressed (stderr budget); full numbers in the detail file")
    val qs = results.map {
      case (k, Some(v)) => "\"" + k + f"\":$v%.3f"
      case (k, None) => "\"" + k + "\":null"
    }.mkString("{", ",", "}")
    // min across interleaved passes: the load-burst-resistant floor (a
    // query's true cost can't exceed its fastest clean sample)
    val minJson = names.flatMap(n => mins.get(n).map(v => "\"" + n + f"\":$v%.3f"))
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val regJson = regressions.map { case (n, r) => "\"" + n + f"\":$r%.2f" }
      .mkString("{", ",", "}")
    val total = results.flatMap(_._2).sum
    // machine-readable certifiability (BASELINE.md methodology): a run is
    // certifiable only if nothing failed AND the median-total stays within
    // 1.5× the min-total — co-tenant load inflates medians uniformly while
    // leaving at least one clean interleaved pass per query, so a large
    // median/min dispersion is the signature of a contaminated window.
    // Downstream tooling must gate on `certifiable`, not on the raw
    // regressions list (round 9: a contaminated rc=1 run recorded phantom
    // flags that the judge then had to adjudicate by hand).
    val minTotal = names.flatMap(mins.get).sum
    val dispersion = if (minTotal > 0) total / minTotal else 1.0
    val certifiable = failed.isEmpty && dispersion <= 1.5
    val certJson =
      f""""min_total":$minTotal%.3f,"load_dispersion":$dispersion%.3f,"certifiable":$certifiable"""
    // "cpus"/"parallelism" echo what the harness actually did with
    // $SPARK_GRAFT_CPUS (master local[cpus], shufflePartitions=cpus) so
    // the driver's scaling probe can verify the env var was honored
    // instead of heuristically flagging ≈1 low-core ratios (r18's false
    // `suspect_cpus_ignored`: at this SF most entries are fixed per-job
    // overhead, so core count is invisible in their seconds).
    val envJson = s""""cpus":$cpus,"parallelism":${spark.sparkContext.defaultParallelism}"""
    val fullLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec",$envJson,"queries":$qs,"queries_min":$minJson,"failed":$failedJson,"regressions":$regJson,$certJson,"sf":"$sfDir"}"""
    // Full per-query detail goes to a FILE: the driver keeps only the last
    // ~2000 chars of stdout, and with 100+ entries the one-line-per-contract
    // JSON is ~5 KB — rounds 1-6 all came back `parsed: null` because the
    // line's head (metric/value/queries) fell off the capture window.
    if (!filtered)
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(detailPath),
        (fullLine + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] detail write failed ($detailPath): ${e.getMessage}")
      }
    // stdout gets a line that FITS the capture window: totals, the SURVEY §2
    // core q-queries inline, the x_ operators summarized (full numbers in
    // the detail file), plus the complete failed/regressions gates.
    val coreQs = results.filter(_._1.startsWith("q")).map {
      case (k, Some(v)) => "\"" + k + f"\":$v%.3f"
      case (k, None) => "\"" + k + "\":null"
    }.mkString("{", ",", "}")
    val xEntries = results.filterNot(_._1.startsWith("q"))
    val xTotal = xEntries.flatMap(_._2).sum
    // a filtered dev run has no detail file — put the full per-entry
    // numbers on stdout instead (the capture-window concern only applies
    // to the driver's unfiltered runs)
    if (filtered) println(fullLine)
    else println(f"""{"metric":"total","value":$total%.3f,"unit":"sec",$envJson,"queries":$coreQs,"x_total":$xTotal%.3f,"x_count":${xEntries.size},"failed":$failedJson,"regressions":$regJson,$certJson,"detail":"$detailPath","sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Per-query baseline seconds from any JSON containing a `"queries"`
    * object (a prior BENCH_r{N}.json works as-is — including the driver's
    * wrapper, whose bench line sits inside a "tail" string). Absent or
    * unparsable file → empty map (comparison silently off). */
  private def loadBaseline(path: String): Map[String, Double] = {
    val f = new java.io.File(path)
    if (!f.isFile) return Map.empty
    try {
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      // the marker may appear JSON-escaped (\"queries\") when a prior
      // bench line is embedded in a wrapper's "tail" string
      val marker = """\\?"queries\\?":""".r
      val at = marker.findAllMatchIn(text).toSeq.lastOption
        .map(_.start).getOrElse(return Map.empty)
      val entry = """\\?"([A-Za-z0-9_]+)\\?":([0-9]+\.?[0-9]*)""".r
      // scope to the queries object: from the marker to its closing brace
      val scoped = text.substring(at)
      val end = scoped.indexOf('}')
      if (end < 0) return Map.empty
      entry.findAllMatchIn(scoped.drop(1).take(end + 1))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case _: Throwable => Map.empty }
  }
}

/** A filtered [[Bench]] run's per-pass accounting: JVM GC, JIT and
  * code-cache deltas plus per-stage wall, slowest task (its CPU and GC)
  * and task count. A slow pass whose GC or JIT delta tracks its wall is
  * the entry's own allocation pressure or recompile churn; one whose
  * stage walls stay flat lost its time on the driver between stages
  * (planning, commit) or to co-tenant load. */
private final class PassProfile(spark: SparkSession) extends SparkListener {
  private val stages = new ConcurrentLinkedQueue[String]()
  // per stage: (duration, CPU, GC) ms of its slowest task
  private val slowest = new ConcurrentHashMap[Int, (Long, Long, Long)]()
  private var gc0, gcMs0, jit0 = 0L
  spark.sparkContext.addSparkListener(this)

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = Option(te.taskMetrics)
    slowest.merge(te.stageId,
      (te.taskInfo.duration, m.fold(-1L)(_.executorCpuTime / 1000000L), m.fold(-1L)(_.jvmGCTime)),
      (a, b) => if (a._1 >= b._1) a else b)
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    val wall = (for (s <- si.submissionTime; e <- si.completionTime) yield e - s).getOrElse(-1L)
    val (task, cpu, gc) = slowest.getOrDefault(si.stageId, (-1L, -1L, -1L))
    stages.add(s""""s${si.stageId}":{"wall_ms":$wall,"max_task_ms":$task,""" +
      s""""max_task_cpu_ms":$cpu,"max_task_gc_ms":$gc,"tasks":${si.numTasks}}""")
  }

  private def gcTotals: (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionCount).sum, beans.map(_.getCollectionTime).sum)
  }
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def start(): Unit = {
    stages.clear()
    slowest.clear() // stale maxima would leak into this pass's stages
    val (c, t) = gcTotals
    gc0 = c; gcMs0 = t; jit0 = jitMs
  }

  /** Prints the pass started by [[start]] as one stderr JSON line. */
  def report(pass: Int, entry: String, wallSec: Double): Unit = {
    val (c, t) = gcTotals
    val jit = jitMs - jit0
    // every stage-completed event must land before the stages are read
    ListenerBridge.drain(spark.sparkContext)
    val codeCacheMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum / 1048576.0
    System.err.println(f"""{"pass":$pass,"entry":"$entry","wall_ms":${wallSec * 1e3}%.1f,""" +
      s""""gc_count":${c - gc0},"gc_ms":${t - gcMs0},"jit_ms":$jit,""" +
      f""""codecache_mb":$codeCacheMb%.1f,"stages":{${stages.asScala.mkString(",")}}}""")
  }
}
