package graftbench

import java.time.{Instant, ZoneOffset}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/** Seeded CDC envelope generator in the reference's `City` shape. Every
  * record is a pure function of (seed, ref), so the expected table can be
  * rebuilt independently after the run. Record `ref` belongs to micro-batch
  * `ref / batchRows`.
  *
  * Inputs vary: city_name length 3-40 in mixed case (the job lower-cases
  * the payload), a skewed city_id, c_time spread over ten days past the
  * batch's hour so one batch fans out to ~11 c_date partitions, mixed-case
  * keys, ~1 % malformed payloads (rejected) and ~1 % schema-drifted ones
  * (extra `value.after` fields, committed with the declared columns). */
object CdcGen {
  val Base: Long = 1704067200000L // 2024-01-01T00:00:00Z
  private val Letters = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ  "

  /** 0 = conforming, 1 = schema-drifted, 2 = malformed. */
  final case class Rec(ref: Long, kind: Int, cityId: Long, name: String, cTime: Long,
                       payload: String) {
    def good: Boolean = kind != 2
    /** The committed row: names lower-cased, c_date at UTC+8. */
    def row: (Long, Long, String, String) = (ref, cityId, name.toLowerCase,
      Instant.ofEpochMilli(cTime).atOffset(ZoneOffset.ofHours(8)).toLocalDate.toString)
  }

  def rec(seed: Long, ref: Long, batchRows: Int): Rec = {
    val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (ref * 0xBF58476D1CE4E5B9L))
    val u = r.nextDouble()
    val kind = if (u < 0.01) 2 else if (u < 0.02) 1 else 0
    val cityId = (math.pow(r.nextDouble(), 3) * 5000).toLong
    val name = Iterator.fill(3 + r.nextInt(38))(Letters.charAt(r.nextInt(Letters.length))).mkString
    val cTime = Base + (ref / batchRows) * 3600000L + r.nextLong(10L * 86400000L)
    val (kName, kTime) = if (r.nextInt(10) == 0) ("City_Name", "C_TIME") else ("city_name", "c_time")
    val extra = if (kind == 1) s""", "population": ${r.nextInt(1000000)}, "Region": "r${r.nextInt(9)}"""" else ""
    val inner = s"""{"after": {"ref": $ref, "city_id": $cityId, "$kName": "$name", "$kTime": $cTime$extra}}"""
    val good = s"""{"value": "${inner.replace("\"", "\\\"")}"}"""
    val payload = if (kind != 2) good else r.nextInt(3) match {
      case 0 => good.take(good.length / 2)
      case 1 => """{"value": "{\"after\": "}"""
      case _ => s"""{"value": "{\\"before\\": {\\"ref\\": $ref}}"}"""
    }
    Rec(ref, kind, cityId, name, cTime, payload)
  }

  def batch(seed: Long, index: Long, batchRows: Int): Seq[Rec] =
    (index * batchRows until (index + 1) * batchRows).map(rec(seed, _, batchRows))
}

/** `cdc_stream`: fixed-size micro-batches of CDC envelopes through
  * [[graft.jobs.CdcToOrcJob.run]] over a MemoryStream. Closed loop: add a
  * batch, `processAllAvailable`, repeat. One operation is one micro-batch,
  * timed from add to commit. */
object CdcStream {
  val BatchRows = 10000
  /** Untimed warm-up: at least this many batches and this many ms. */
  val WarmBatches = 8
  val WarmMs = 4000.0
  val Table = "city"

  /** Outcome of driving the job over some batches. */
  final case class Drive(latMs: Seq[Double], goodRows: Long, timedGoodRows: Long,
                         poison: Long, batches: Int,
                         progress: Map[Long, Map[String, Double]], ledgers: Seq[OpLedger],
                         heapMb: Double, warmMs: Seq[Double])

  /** Runs the job on `dir` for at least `warm` untimed batches and
    * `warmMinMs`, then timed batches until `stop(batchesDone, msSpent)`;
    * stops the stream cleanly. */
  def drive(ctx: Ctx, dir: String, warm: Int, warmMinMs: Double,
            stop: (Int, Double) => Boolean): Drive = {
    val spark = ctx.spark
    val progress = new java.util.concurrent.ConcurrentHashMap[Long, Map[String, Double]]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) progress.put(e.progress.batchId,
          e.progress.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap +
            ("rows" -> e.progress.numInputRows.toDouble))
    }
    spark.streams.addListener(listener)
    val mem = MemoryStream[String](spark, ctx.cores)(Encoders.STRING)
    val q = graft.jobs.CdcToOrcJob.run(mem.toDF().select(col("value").as("payload")),
      dir, Table, s"$dir/_checkpoint", Trigger.ProcessingTime(0L))
    val lat = ArrayBuffer.empty[Double]
    val roots = ArrayBuffer.empty[(Long, Span, Option[Span])]
    var good = 0L
    var timedGood = 0L
    var poison = 0L
    var heapMb = 0.0
    var spent = 0.0
    val warmMs = ArrayBuffer.empty[Double]
    var b = 0
    var warmDone = -1
    while (warmDone < 0 || !stop(b - warmDone, spent)) {
      if (warmDone < 0 && b >= warm && warmMs.sum >= warmMinMs) {
        warmDone = b
        heapMb = Measure.oldGenAfterGcMb()
      }
      val recs = CdcGen.batch(ctx.seed, b, BatchRows)
      val op = 1000000L + b
      ctx.tracer.batchOps.put(b.toLong, op)
      val (_, ms) = Measure.ms {
        ctx.tracer.span("op", op) { rid =>
          ctx.tracer.span("source.add", op, rid)(_ => mem.addData(recs.map(_.payload)))
          q.processAllAvailable()
        }
      }
      if (ctx.trace) {
        recordPhases(ctx, q)
        val ss = ctx.tracer.allSpans.filter(_.op == op)
        ss.find(_.name == "op").foreach(r => if (warmDone >= 0)
          roots += ((op, r, ss.find(_.name == "source.add"))))
      }
      if (warmDone >= 0) {
        lat += ms
        spent += ms
        timedGood += recs.count(_.good)
      } else warmMs += ms
      good += recs.count(_.good)
      poison += recs.count(!_.good)
      b += 1
    }
    q.stop()
    spark.streams.removeListener(listener)
    heapMb = math.max(heapMb, Measure.oldGenAfterGcMb())
    ctx.tracer.drain()
    val ledgers = roots.map { case (op, r, add) =>
      OpLedger.of(r, add, ctx.tracer.phasesIn(r), ctx.tracer.stagesOf(op), ctx.cores)
    }.toSeq
    Drive(lat.toSeq, good, timedGood, poison, b, progress.asScala.toMap, ledgers, heapMb, warmMs.toSeq)
  }

  /** The micro-batch's own Catalyst phases (its IncrementalExecution). */
  private def recordPhases(ctx: Ctx, q: StreamingQuery): Unit =
    Option(q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution)
      .foreach(qe => ctx.tracer.addPhases(qe.tracker))

  /** Output checks on a driven table; returns (failures, facts). */
  def check(ctx: Ctx, dir: String, d: Drive): (Seq[String], Map[String, Any]) = {
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.seed
    val total = d.batches.toLong * BatchRows
    def fingerprint(df: DataFrame): (Long, Long, Long, Long) = {
      val r = df.agg(count(lit(1)), countDistinct(col("ref")),
        sum(pmod(xxhash64(col("ref"), col("city_id"), col("city_name"), col("c_date")),
          lit(1000000007L))),
        sum(pmod(hash(col("c_date"), col("city_name"), col("city_id"), col("ref")),
          lit(1000000009L)))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    val committed = spark.read.orc(s"$dir/$Table")
      .select(col("ref"), col("city_id"), col("city_name"), col("c_date").cast("string").as("c_date"))
    // every generated record, rebuilt from (seed, ref) in parallel
    val generated = spark.range(0L, total, 1L, ctx.cores).as[Long]
      .map { r =>
        val x = CdcGen.rec(seed, r, BatchRows)
        val (ref, cityId, name, cDate) = x.row
        (x.payload, x.good, ref, cityId, name, cDate)
      }.toDF("payload", "good", "ref", "city_id", "city_name", "c_date").cache()
    val expected = generated.where(col("good")).drop("payload", "good")
    val (got, readBackMs) = Measure.ms(fingerprint(committed))
    val want = fingerprint(expected)
    val (rejected, rejectMs) = Measure.ms(
      graft.sources.CdcIngest.corruptRecords(generated.select("payload"), "payload").count())
    generated.unpersist()
    val (orphans, orphanMs) = Measure.ms(graft.sources.OrcTableSink.uncommittedDataFiles(spark, dir, Table))
    val root = new java.io.File(s"$dir/$Table")
    val partDirs = Option(root.listFiles).toSeq.flatten.filter(_.isDirectory).map(_.getName)
      .filterNot(_.startsWith("_"))
    val files = partDirs.flatMap(p => Option(new java.io.File(root, p).listFiles).toSeq.flatten)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    val failures = Seq(
      (got != want) -> s"committed table $got != generated good rows $want",
      (got._1 != got._2) -> s"duplicate refs: ${got._1} rows, ${got._2} distinct",
      (got._1 != d.goodRows) -> s"committed ${got._1} rows, generated ${d.goodRows} good",
      (rejected != d.poison) -> s"rejected $rejected rows, generated ${d.poison} poison",
      orphans.nonEmpty -> s"${orphans.size} uncommitted data files",
      partDirs.exists(_.contains("__HIVE_DEFAULT_PARTITION__")) -> "null c_date partition"
    ).collect { case (true, msg) => msg }
    val bytes = files.map(_.length).sum
    (failures, Map(
      "rows" -> got._1, "rejected" -> rejected, "files" -> files.size, "bytes" -> bytes,
      "partitions" -> partDirs.size,
      "files_per_batch" -> files.size.toDouble / d.batches,
      "bytes_per_row" -> bytes.toDouble / math.max(1L, got._1),
      "audit_ms" -> orphanMs, "read_back_ms" -> readBackMs, "reject_ms" -> rejectMs))
  }

  def run(ctx: Ctx): Map[String, Any] = {
    val dir = s"${ctx.outDir}/warehouse"
    val (d, driveMs) = Measure.ms(drive(ctx, dir, WarmBatches, WarmMs,
      (_, spent) => spent >= ctx.seconds * 1000))
    val (failures, facts) = check(ctx, dir, d)
    val layers = if (ctx.trace) {
      val scanMs = Measure.medianMs(3)(Measure.noop(ctx.spark.read.orc(s"$dir/$Table")))
      Measure.ledgerMetrics(d.ledgers) ++ streamMetrics(d, ctx.cores) ++ parseSinkProbe(ctx) ++
        Map("tables.scan_ms" -> scanMs, "trace.op_p50_ms" -> Intervals.median(d.latMs),
          "sink.files_per_batch" -> facts("files_per_batch"),
          "sink.bytes_per_row" -> facts("bytes_per_row"),
          "sink.audit_ms" -> facts("audit_ms"), "cdc.rejected_rows" -> facts("rejected")) ++
        Probes.engine(ctx) ++ Probes.expressions(ctx)
    } else Map.empty[String, Any]
    val timedMs = d.latMs.sum
    Map(
      "workload" -> "cdc_stream",
      "batch_rows" -> BatchRows,
      "ops" -> d.latMs.map(ms => Map("name" -> "batch", "ms" -> ms, "ok" -> failures.isEmpty)),
      "rows_timed" -> d.timedGoodRows,
      "heap_mb" -> d.heapMb,
      "failures" -> failures,
      "facts" -> facts,
      "setup_ms" -> Map("warm_batches" -> d.warmMs.sum, "warm_batch_ms" -> d.warmMs,
        "stream_other" -> (driveMs - timedMs - d.warmMs.sum)),
      "layers" -> layers)
  }

  /** Micro-batch phase medians (StreamingQueryProgress.durationMs) over
    * the timed batches, and the shares of batch time spent on per-row work
    * (task CPU spread over the cores: parse and ORC encode) and on
    * per-batch work (planning, offset WAL, commit log, and the part of
    * addBatch outside its stage: job set-up and the `_spark_metadata`
    * commit). */
  def streamMetrics(d: Drive, cores: Int): Map[String, Any] = {
    val timed = d.progress.toSeq.filter(_._1 >= d.batches - d.latMs.size).map(_._2)
    def med(k: String) = Intervals.median(timed.map(_.getOrElse(k, 0.0)))
    val trigger = med("triggerExecution")
    val rowWork = Intervals.median(d.ledgers.map(_.taskCpuMs)) / cores
    val batchWork = med("queryPlanning") + med("walCommit") + med("commitOffsets") +
      med("addBatch") - Intervals.median(d.ledgers.map(_.stageMs))
    Map(
      "stream.add_batch_ms" -> med("addBatch"),
      "stream.wal_commit_ms" -> med("walCommit"),
      "stream.commit_offsets_ms" -> med("commitOffsets"),
      "stream.query_planning_ms" -> med("queryPlanning"),
      "stream.trigger_ms" -> trigger,
      "stream.batches_seen" -> timed.size,
      "stream.row_work_share" -> (if (trigger > 0) rowWork / trigger else 0.0),
      "stream.batch_work_share" -> (if (trigger > 0) batchWork / trigger else 0.0))
  }

  /** Parse and batch-sink costs of one micro-batch's payloads, outside the
    * stream: `parse(goodRecords(batch))` to noop, then `writeBatch` of the
    * same parsed rows. */
  def parseSinkProbe(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    import spark.implicits._
    val payloads = CdcGen.batch(ctx.seed, 0, BatchRows).map(_.payload).toDF("payload")
    val parsed = graft.sources.CdcIngest.parse(
      graft.sources.CdcIngest.goodRecords(payloads, "payload"), "payload")
    Measure.noop(parsed)
    val parseMs = Measure.medianMs(3)(Measure.noop(parsed))
    var i = 0
    val writeMs = Measure.medianMs(2) {
      i += 1
      graft.sources.OrcTableSink.writeBatch(parsed, s"${ctx.outDir}/probe_sink", s"t$i", "c_date")
    }
    Map("cdc.parse_ms" -> parseMs, "sink.write_ms" -> writeMs)
  }

  /** The sources-layer metrics for a workload that does not run the CDC
    * job itself: a short stream of the same batches in its own directory. */
  def probe(ctx: Ctx): Map[String, Any] = {
    val dir = s"${ctx.outDir}/probe_stream"
    val d = drive(ctx, dir, 3, 0.0, (n, _) => n >= 6)
    val (failures, facts) = check(ctx, dir, d)
    failures.foreach(f => System.err.println(s"[perfbench] probe stream: $f"))
    streamMetrics(d, ctx.cores) ++ parseSinkProbe(ctx) ++ Map(
      "sink.files_per_batch" -> facts("files_per_batch"),
      "sink.bytes_per_row" -> facts("bytes_per_row"),
      "sink.audit_ms" -> facts("audit_ms"), "cdc.rejected_rows" -> facts("rejected"),
      "probe.failures" -> failures)
  }
}
