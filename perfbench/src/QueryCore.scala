package graftbench

import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `query_core`: every other `q*` entry of [[graft.SparkEntry.queries]]
  * in name order (28 of the 55: the cold output pass over all 55 does not
  * fit the per-run time), each materialized with a `noop` write, one at a
  * time, in an order shuffled by seed on every pass. The timed loop runs
  * at least one whole pass; run.py weighs every entry equally, so a
  * partial last pass does not change the mix.
  *
  * Set-up (untimed): an output pass writes every entry's result as
  * parquet under `outDir/pre` (run.py checks each against its DuckDB
  * oracle SQL, dumped to `outDir/oracle_sql.json`); it also serves as the
  * warm-up (JIT, codegen cache). After the timed passes an untimed pass
  * writes the results again under `outDir/post`, which must reproduce
  * their fingerprints: every entry in a traced run, a seeded quarter of
  * them otherwise (the run-time budget). Both untimed passes run one
  * entry per CPU of the machine at once. */
object QueryCore {
  type Entry = (SparkSession, String) => DataFrame

  def entries: Seq[(String, Entry)] =
    graft.SparkEntry.queries.toSeq.filter(_._1.startsWith("q")).sortBy(_._1)
      .zipWithIndex.collect { case (e, i) if i % 2 == 0 => e }

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val names = entries
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.exists(_._1 == k) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${ctx.outDir}/oracle_sql.json"),
      Json.render(oracle))

    val rowsIn = new ConcurrentHashMap[String, java.lang.Long]()
    val entryOfStage = new ConcurrentHashMap[Int, String]()
    val counter = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("graftbench.entry")))
          .foreach(e => js.stageIds.foreach(entryOfStage.put(_, e)))
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        Option(entryOfStage.get(sc.stageInfo.stageId)).foreach { e =>
          rowsIn.merge(e, sc.stageInfo.taskMetrics.inputMetrics.recordsRead, (a, b) => a + b)
        }
    }
    spark.sparkContext.addSparkListener(counter)
    val (preErrors, preMs) = Measure.ms(outputPass(ctx, names, "pre"))
    org.apache.spark.sql.graftbridge.ListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(counter)
    val setupHeapMb = Measure.oldGenAfterGcMb()

    // the timed loop's noop (DataSource V2) write path is not on the output
    // pass's path: warm it with trivial jobs before timing
    val tiny = spark.range(1000).toDF()
    (1 to 20).foreach(_ => Measure.noop(tiny))

    // timed closed loop: entries in a seeded order reshuffled on every
    // pass, until the time budget is spent and one whole pass is done
    // (none when the budget is 0: the class-sharing training run)
    val rnd = new scala.util.Random(ctx.seed)
    val ops = ArrayBuffer.empty[(String, Double, Boolean)]
    var spentMs = 0.0
    var passes = 0
    var pending = List.empty[(String, Entry)]
    while ((passes == 0 && ctx.seconds > 0) || spentMs < ctx.seconds * 1000) {
      if (pending.isEmpty) pending = rnd.shuffle(names).toList
      val (name, fn) = pending.head
      pending = pending.tail
      val op = ops.size + 1L
      ctx.tracer.tagThread(spark.sparkContext, op)
      val t = System.nanoTime()
      val ok = try {
        ctx.tracer.span("op", op) { root =>
          val df = ctx.tracer.span("queries.build", op, root)(_ => fn(spark, ctx.dataDir))
          // the entry's own analysis ran eagerly inside the build
          ctx.tracer.addPhases(df.queryExecution.tracker)
          ctx.tracer.span("write", op, root)(_ => Measure.noop(df))
        }
        true
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
          false
      }
      val ms = (System.nanoTime() - t) / 1e6
      spentMs += ms
      ops += ((name, ms, ok))
      if (pending.isEmpty) passes += 1
    }
    spark.sparkContext.setLocalProperty(ctx.tracer.OpProp, null)
    val heapMb = math.max(setupHeapMb, Measure.oldGenAfterGcMb())

    // untraced runs re-check a seeded quarter of the entries, traced runs all
    val recheck = if (ctx.trace) names else rnd.shuffle(names).take((names.size + 3) / 4)
    val (postErrors, postMs) = Measure.ms(outputPass(ctx, recheck, "post"))

    val layers = if (ctx.trace) traced(ctx, ops.size) else Map.empty[String, Any]
    Map(
      "workload" -> "query_core",
      "entries" -> names.map(_._1),
      "oracle_entries" -> oracle.keys.toSeq.sorted,
      "rechecked" -> recheck.map(_._1),
      "pre_errors" -> preErrors,
      "post_errors" -> postErrors,
      "rows_in" -> rowsIn.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "ops" -> ops.map { case (n, ms, ok) => Map("name" -> n, "ms" -> ms, "ok" -> ok) },
      "passes" -> passes,
      "heap_mb" -> heapMb,
      "setup_ms" -> Map("output_pass_pre" -> preMs, "output_pass_post" -> postMs),
      "layers" -> layers)
  }

  /** Writes every entry's result under `outDir/<tag>/<name>`, one entry
    * per CPU at a time; returns name → error for the ones that threw. */
  private def outputPass(ctx: Ctx, names: Seq[(String, Entry)], tag: String): Map[String, String] = {
    val errors = new ConcurrentHashMap[String, String]()
    val pool = Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors)
    names.foreach { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          ctx.spark.sparkContext.setLocalProperty("graftbench.entry", name)
          try fn(ctx.spark, ctx.dataDir).write.mode("overwrite")
            .parquet(s"${ctx.outDir}/$tag/$name")
          catch { case e: Throwable => errors.put(name, String.valueOf(e.getMessage)) }
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.HOURS)
    errors.asScala.toMap
  }

  /** Per-layer ledger of the timed operations plus the layer probes. */
  private def traced(ctx: Ctx, nOps: Int): Map[String, Any] = {
    ctx.tracer.drain()
    val spans = ctx.tracer.allSpans
    val byOp = spans.groupBy(_.op)
    val ledgers = (1L to nOps.toLong).flatMap { op =>
      byOp.get(op).flatMap { ss =>
        ss.find(_.name == "op").map { root =>
          OpLedger.of(root, ss.find(_.name == "queries.build"), ctx.tracer.phasesIn(root),
            ctx.tracer.stagesOf(op), ctx.cores)
        }
      }
    }
    val scanMs = graft.Tables.names.map { t =>
      Measure.medianMs(3)(Measure.noop(graft.Tables.load(ctx.spark, ctx.dataDir, t)))
    }.sum
    Measure.ledgerMetrics(ledgers) ++
      Map("tables.scan_ms" -> scanMs,
        "trace.op_p50_ms" -> Intervals.median(ledgers.map(_.wallMs))) ++
      Probes.engine(ctx) ++ Probes.expressions(ctx) ++ CdcStream.probe(ctx)
  }
}
