package graft

import graft.sources.{City, CorpusExport, OrcTableSink, WebDataset}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Layout golden test (SURVEY §5.4): partitioned-ORC warehouse layout must
  * match the reference's (RowTimeBucketer.scala:18 `field=value` dirs,
  * HiveOrcSink.java:70,209-210 per-bucket ORC files). */
class SinkLayoutSuite extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def listTree(root: Path): Seq[String] =
    Files.walk(root).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString).toSeq

  test("S6: City rows land as warehouse/table/c_date=YYYY-MM-DD/*.orc") {
    val warehouse = Files.createTempDirectory("graft_wh").toString
    val rows = Seq(
      City(1L, 10L, "beijing", "2024-01-01"),
      City(2L, 11L, "shanghai", "2024-01-01"),
      City(3L, 12L, "chengdu", "2024-01-02"))
    OrcTableSink.writeBatch(rows.toDF(), warehouse, "flink_orc", "c_date")

    val files = listTree(java.nio.file.Paths.get(warehouse, "flink_orc"))
      .filterNot(f => f.endsWith("_SUCCESS") || f.contains(".crc"))
    assert(files.nonEmpty)
    // every data file sits in a c_date=<value> partition dir with .orc suffix
    assert(files.forall(f => f.matches("""c_date=\d{4}-\d{2}-\d{2}/part-.*\.orc""")), files.toString)
    assert(files.map(_.split("/")(0)).toSet ==
      Set("c_date=2024-01-01", "c_date=2024-01-02"))

    // read-back: schema (modulo partition-col position) and values survive
    val back = spark.read.orc(s"$warehouse/flink_orc")
      .select("ref", "city_id", "city_name", "c_date")
      .as[City].collect().sortBy(_.ref)
    assert(back.toSeq == rows)
  }

  test("Layout: range-clustered write prunes row groups a shuffle-placed layout cannot") {
    // Same rows, same query, two layouts. Small parquet.block.size makes
    // the 100k-row fixture produce ~60 row groups per file, so pruning
    // granularity exists at test scale; the clustered layout's tight
    // per-group ts min/max must let the pushed range predicate skip the
    // bulk of them, while the random layout (every group spans the full
    // ts range) reads everything. numOutputRows on the scan node counts
    // rows surviving row-group pruning — the rows actually READ.
    import graft.sources.Layout
    // sf0.1 (100k events): the default test SF's 1k rows fit one row
    // group, leaving nothing to prune at any layout
    val ev = Tables.events(spark, "/root/testdata/sf0.1")
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    val dir = Files.createTempDirectory("graft_layout").toString
    // micros timestamps for the manual writes (INT96 has no stats; the
    // Layout helper scopes this itself) — restored after
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val tsPrev = spark.conf.getOption(tsKey)
    spark.conf.set(tsKey, "TIMESTAMP_MICROS")
    try {
      ev.orderBy(rand(7)).coalesce(1)
        .write.option("parquet.block.size", 64 * 1024).parquet(s"$dir/rand")
      ev.repartitionByRange(1, col("ts")).sortWithinPartitions("ts")
        .write.option("parquet.block.size", 64 * 1024).parquet(s"$dir/clust")
    } finally tsPrev.fold(spark.conf.unset(tsKey))(spark.conf.set(tsKey, _))
    val cut = (ev.agg(min(col("ts")).cast("long") * 0.9
      + max(col("ts")).cast("long") * 0.1).head().getDouble(0)).toLong
    def run(path: String): (Long, Seq[Long]) = {
      // collect df ITSELF — a derived select would execute its own
      // QueryExecution and leave df's scan metrics untouched
      val df = spark.read.parquet(path)
        .where(col("ts") < timestamp_seconds(lit(cut)))
      val ids = df.collect().map(_.getAs[Long]("event_id")).sorted.toSeq
      val scanned = df.queryExecution.executedPlan.collectLeaves()
        .head.metrics("numOutputRows").value
      (scanned, ids)
    }
    val (randScanned, randIds) = run(s"$dir/rand")
    val (clustScanned, clustIds) = run(s"$dir/clust")
    assert(randIds == clustIds && randIds.nonEmpty) // layout never changes answers
    assert(randScanned >= ev.count(), // random layout: stats prune nothing
      s"expected full scan on random layout, read $randScanned")
    assert(clustScanned < randScanned / 4, // clustered: bulk of groups skipped
      s"clustered layout read $clustScanned of $randScanned")
    // the writer helper produces the same pruning behavior end-to-end
    Layout.writeRangeClustered(ev, s"$dir/helper", col("ts"), numFiles = 2)
    val (helperScanned, helperIds) = run(s"$dir/helper")
    assert(helperIds == randIds && helperScanned < randScanned / 4)
    // the helper's micros-timestamp conf lives on its own fresh session —
    // the shared session conf must come back exactly as it went in
    assert(spark.conf.getOption(tsKey) == tsPrev,
      "writeRangeClustered must not touch the shared session conf")
  }

  test("Layout: mortonCode interleaves quantile-bucket bits, closed form") {
    import spark.implicits._
    // 16 rows, x ascending / y descending, 4 buckets per dim: bucket of
    // x is i/4, of y is 3 - i/4; dim0 bits land at 0,2 and dim1 at 1,3
    val df = (0 until 16).map(i => (i, 15 - i)).toDF("x", "y")
    val coded = graft.sources.Layout
      .mortonCode(df, Seq(col("x"), col("y")), bitsPerDim = 2,
        relativeError = 0.0)
    // scale posture: the bucketing must be boundary-broadcast, never a
    // window (the old ntile form funneled the corpus through one task)
    val plan = coded.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"z-order plan must be window-free:\n$plan")
    val got = coded.orderBy("x").collect().map(_.getAs[Long]("__z")).toSeq
    val expected = (0 until 16).map { i =>
      val bx = i / 4L; val by = 3L - i / 4
      ((bx & 1) << 0) | ((by & 1) << 1) | (((bx >> 1) & 1) << 2) | (((by >> 1) & 1) << 3)
    }
    assert(got == expected)
  }

  test("Layout: z-order prunes on BOTH dimensions where single-key clustering prunes one") {
    import graft.sources.Layout
    val ev = Tables.events(spark, "/root/testdata/sf0.1")
      .select(col("event_id"), col("user_id"), col("value"))
    val dir = Files.createTempDirectory("graft_zlayout").toString
    val blk = 64 * 1024
    ev.orderBy(rand(7)).coalesce(1)
      .write.option("parquet.block.size", blk).parquet(s"$dir/rand")
    // single-key comparison layout: clustered on user_id only
    ev.repartitionByRange(1, col("user_id")).sortWithinPartitions("user_id")
      .write.option("parquet.block.size", blk).parquet(s"$dir/single")
    Layout.writeZOrdered(ev, s"$dir/z", Seq(col("user_id"), col("value")),
      numFiles = 1, writeOptions = Map("parquet.block.size" -> blk.toString))
    def run(path: String, pred: org.apache.spark.sql.Column): (Long, Seq[Long]) = {
      val df = spark.read.parquet(path).where(pred)
      val ids = df.collect().map(_.getAs[Long]("event_id")).sorted.toSeq
      val scanned = df.queryExecution.executedPlan.collectLeaves()
        .head.metrics("numOutputRows").value
      (scanned, ids)
    }
    // the long column's cut must stay a LONG literal — a double literal
    // would cast the column and defeat parquet filter pushdown entirely
    val uCut = ev.agg(expr("percentile(user_id, 0.1)")).head().getDouble(0).toLong
    val vCut = ev.agg(expr("percentile(value, 0.1)")).head().getDouble(0)
    for (pred <- Seq(col("user_id") <= uCut, col("value") <= vCut)) {
      val (randScanned, randIds) = run(s"$dir/rand", pred)
      val (zScanned, zIds) = run(s"$dir/z", pred)
      assert(zIds == randIds && randIds.nonEmpty) // layout never changes answers
      // z-order reads a fraction of the random layout on EITHER dim
      assert(zScanned < randScanned / 2,
        s"$pred: z read $zScanned of $randScanned")
    }
    // the single-key layout prunes its own key but NOT the other dim
    val (sU, _) = run(s"$dir/single", col("user_id") <= uCut)
    val (sV, _) = run(s"$dir/single", col("value") <= vCut)
    val (randV, _) = run(s"$dir/rand", col("value") <= vCut)
    assert(sU < randV / 2, s"single-key layout should prune its key, read $sU")
    assert(sV >= randV, s"single-key layout should NOT prune value, read $sV of $randV")
  }

  test("S7: maxRecordsPerFile bounds file sizes (roll policy)") {
    val warehouse = Files.createTempDirectory("graft_wh2").toString
    val df = spark.range(100).select(
      col("id").as("ref"), col("id").as("city_id"),
      concat(lit("c"), col("id")).as("city_name"), lit("2024-01-01").as("c_date"))
    OrcTableSink.writeBatch(df.coalesce(1), warehouse, "t", "c_date", maxRecordsPerFile = 30L)
    val files = listTree(java.nio.file.Paths.get(warehouse, "t"))
      .filter(_.endsWith(".orc"))
    // 100 rows / 30-per-file roll → 4 files in the single partition dir
    assert(files.size == 4, files.toString)
  }

  test("corpus export: split-dir layout, size-bounded multi-shard files, manifest ≡ filesystem ≡ table") {
    import graft.sources.CorpusExport
    val out = Files.createTempDirectory("graft_export").toString
    val docs = Tables.documents(spark, TestSpark.sfDir)
      .select("doc_id", "text", "lang", "source")
    val nDocs = docs.count()
    // target sized so every split needs several shards on the fixture
    val target = 16L * 1024
    val manifest = CorpusExport.exportShards(docs, "doc_id",
      contentCols = Seq("doc_id", "text"), outDir = out,
      targetShardBytes = target).collect()

    // layout: every data file under split=<label>/, parquet suffix
    val files = listTree(java.nio.file.Paths.get(out))
      .filterNot(f => f.endsWith("_SUCCESS") || f.contains(".crc") ||
        f.startsWith("_manifest"))
    assert(files.nonEmpty)
    assert(files.forall(
      _.matches("""split=(train|val|test)/part-.*\.parquet""")),
      files.toString)

    // manifest ≡ filesystem: same file set, byte-exact sizes (keyed by
    // split-relative path — part numbers repeat across split dirs)
    val fsFiles = files.map(f =>
      f -> Files.size(java.nio.file.Paths.get(out, f))).toMap
    val mfFiles = manifest.map(r =>
      r.getString(1).split("/").takeRight(2).mkString("/") -> r.getLong(3))
      .toMap
    assert(mfFiles == fsFiles)

    // multi-shard per split, sizes bounded: the roll ceiling keeps every
    // shard at-or-under target modulo per-file format overhead (footer/
    // dictionary dominate at this tiny scale, so allow 2x)
    val bySplit = manifest.groupBy(_.getString(0))
    assert(bySplit.keySet == Set("train", "val", "test"))
    assert(bySplit("train").size > 1, "train should need several shards")
    assert(manifest.forall(_.getLong(3) <= 2 * target),
      manifest.map(_.getLong(3)).toSeq.toString)

    // manifest ≡ table: per-split row counts and xor checksums replay
    // from the input corpus
    val expect = graft.operators.Pipelines
      .splitByMd5Prefix(docs, "doc_id")
      .select(col("split"),
        conv(substring(md5(concat_ws("\u0001", col("doc_id").cast("string"),
          col("text").cast("string"))), 1, 15), 16, 10).cast("long")
          .as("hl"))
      .groupBy("split")
      .agg(count(lit(1)).as("docs"), expr("bit_xor(hl)").as("cx"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val got = bySplit.map { case (s, rows) =>
      s -> ((rows.map(_.getLong(2)).sum,
        rows.map(_.getLong(5)).reduce(_ ^ _)))
    }
    assert(got == expect)
    assert(got.values.map(_._1).sum == nDocs)

    // roundtrip: corpus readers of outDir see every row, never _manifest
    assert(spark.read.parquet(out).count() == nDocs)
  }

  test("corpus export incremental: two generation appends — gen layout, manifest union, monotone ids, idempotent replay, ordered-append guard") {
    import graft.sources.CorpusExport
    val out = Files.createTempDirectory("graft_export_incr").toString
    val docs = Tables.documents(spark, TestSpark.sfDir)
      .select("doc_id", "text", "lang", "source")
    val even = docs.where(col("doc_id") % 2 === 0)
    val odd = docs.where(col("doc_id") % 2 === 1)
    def append(df: org.apache.spark.sql.DataFrame, gen: Long) =
      CorpusExport.exportShardsIncremental(df, "doc_id",
        contentCols = Seq("doc_id", "text"), outDir = out,
        generation = gen, targetShardBytes = 64L * 1024)
    append(even, 0L)
    def dataFiles() = listTree(java.nio.file.Paths.get(out))
      .filterNot(f => f.endsWith("_SUCCESS") || f.contains(".crc") ||
        f.startsWith("_manifest"))
    val gen0Files = dataFiles().toSet

    // the delta append: golden two-generation layout, gen-0 untouched
    val m1 = append(odd, 1L).collect()
    val files = dataFiles()
    assert(files.forall(_.matches(
      """split=(train|val|test)/gen=(0|1)/part-.*\.parquet""")),
      files.toString)
    assert(gen0Files.subsetOf(files.toSet), "delta rewrote generation 0")
    assert(files.toSet.diff(gen0Files).forall(_.contains("gen=1/")))

    // manifest union: both generations present; shard ids dense 1..n,
    // monotone with generation (resume offsets never re-number)
    val ids = m1.map(r => (r.getLong(6), r.getLong(7)))
    assert(ids.map(_._2).sorted.toSeq == (0L until ids.length).toSeq,
      ids.toSeq)
    assert(ids.filter(_._1 == 1L).map(_._2).min >
      ids.filter(_._1 == 0L).map(_._2).max)

    // manifest ≡ table: per-split rollup over the UNION replays from
    // the full corpus — two appends land exactly one overwrite's worth
    val expect = graft.operators.Pipelines
      .splitByMd5Prefix(docs, "doc_id")
      .select(col("split"),
        conv(substring(md5(concat_ws("\u0001", col("doc_id").cast("string"),
          col("text").cast("string"))), 1, 15), 16, 10).cast("long")
          .as("hl"))
      .groupBy("split")
      .agg(count(lit(1)).as("docs"), expr("bit_xor(hl)").as("cx"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val got = m1.groupBy(_.getString(0)).map { case (s, rows) =>
      s -> ((rows.map(_.getLong(2)).sum,
        rows.map(_.getLong(5)).reduce(_ ^ _)))
    }
    assert(got == expect)
    assert(spark.read.parquet(out).count() == docs.count())

    // replaying the LATEST generation is idempotent: the same manifest
    // modulo part-file names (fresh write uuids; sizes/ids/checksums
    // replay because shard routing and id order are deterministic)
    val m2 = append(odd, 1L).collect()
    def key(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getString(0), r.getLong(2), r.getLong(3), r.getString(4),
        r.getLong(5), r.getLong(6), r.getLong(7))).sortBy(_.toString).toSeq
    assert(key(m2) == key(m1))
    assert(spark.read.parquet(out).count() == docs.count())

    // replaying an EXISTING earlier generation is idempotent too (the
    // fresh-checkpoint full-replay path): gen 0 re-lands with its
    // original ids and the manifest union is unchanged
    val m3 = append(even, 0L).collect()
    assert(key(m3) == key(m1))

    // but a NEW generation inserted below already-landed ones is
    // refused loudly (gens now 0,1,3 — inserting 2 would re-number) —
    // and BEFORE any data write: the corpus dir must hold no gen=2
    // orphans after the refusal
    append(odd, 3L)
    val filesBefore = dataFiles().toSet
    val e = intercept[IllegalArgumentException](append(even, 2L))
    assert(e.getMessage.contains("out of order"), e.getMessage)
    assert(dataFiles().toSet == filesBefore,
      "a refused generation wrote orphan shards")
    assert(!dataFiles().exists(_.contains("gen=2/")))
  }

  test("remote-FS posture: incremental export and crawl ingest resolve their probes through an explicit file:/// URI") {
    import graft.sources.CorpusExport
    import org.apache.spark.sql.streaming.Trigger
    // scheme-qualified URI, not a bare path: a java.io.File probe on
    // "file:///..." reads empty (it treats the scheme as a relative
    // path segment), exactly like it would on hdfs:// or s3a:// \u2014 so
    // prior-generation survival below proves the probes resolve
    // through the Hadoop FileSystem API
    val dir = Files.createTempDirectory("graft_remote_fs").toString
    val out = s"file://$dir/out"
    val docs = Tables.documents(spark, TestSpark.sfDir)
      .select("doc_id", "text", "lang", "source")
    val even = docs.where(col("doc_id") % 2 === 0)
    val odd = docs.where(col("doc_id") % 2 === 1)
    def append(df: org.apache.spark.sql.DataFrame, gen: Long) =
      CorpusExport.exportShardsIncremental(df, "doc_id",
        contentCols = Seq("doc_id", "text"), outDir = out,
        generation = gen, targetShardBytes = 64L * 1024)
    append(even, 0L)
    val m0 = spark.read.parquet(s"$out/_manifest").collect()
    val m1 = append(odd, 1L).collect()
    // hasPrior resolved: generation 0's manifest rows SURVIVE the
    // gen-1 append (the java.io.File failure mode drops them and
    // restarts shard_id at 0), and ids continue past gen 0's max
    val byGen = m1.groupBy(_.getLong(6))
    assert(byGen.keySet == Set(0L, 1L), byGen.keySet.toString)
    assert(byGen(0L).map(_.getLong(7)).sorted.toSeq ==
      m0.map(_.getLong(7)).sorted.toSeq)
    assert(byGen(1L).map(_.getLong(7)).min > byGen(0L).map(_.getLong(7)).max)
    assert(spark.read.parquet(out).count() == docs.count())

    // CrawlIngestJob against the same URI posture: batch 2's
    // cross-batch content duplicate must be dropped, which requires
    // hasLanded to see batch 1's split=* dirs through the Hadoop path
    val cdir = Files.createTempDirectory("graft_remote_crawl").toString
    val (src, cout) = (s"$cdir/src", s"file://$cdir/out")
    Files.createDirectories(java.nio.file.Paths.get(src))
    def text(i: Long) = s"the data and value of table with more row item$i"
    def doc(id: Long, t: String) = s"""{"doc_id":$id,"text":"$t"}"""
    Files.write(java.nio.file.Paths.get(s"$src/b1.json"),
      (1L to 5L).map(i => doc(i, text(i))).mkString("\n").getBytes)
    Files.write(java.nio.file.Paths.get(s"$src/b2.json"),
      (Seq(doc(6L, text(6L))) ++ Seq(doc(101L, text(1L))))
        .mkString("\n").getBytes)
    val q = graft.jobs.CrawlIngestJob.runStreaming(
      spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).json(s"$src/*"),
      "doc_id", "text", contentCols = Seq("doc_id", "text"),
      outDir = cout, checkpoint = s"$cdir/ckpt", minWords = 5,
      trigger = Trigger.AvailableNow())
    q.awaitTermination()
    val landed = spark.read.parquet(cout).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(landed == Seq(1L, 2L, 3L, 4L, 5L, 6L),
      s"cross-batch dedup skipped (hasLanded probe failed): $landed")
  }

  /** One incremental export over (doc_id, text): `append(df, outDir,
    * generation, targetShardBytes)` lands a generation and returns the
    * manifest; `tableRows(outDir)` counts the rows its data files hold.
    * `reproducibleShards`: a same-data replay rewrites the same shard
    * names with the same bytes (tars), not fresh job-keyed part files. */
  private case class IncrementalExport(name: String,
      append: (DataFrame, String, Long, Long) => DataFrame,
      tableRows: String => Long,
      reproducibleShards: Boolean)

  /** The two exports that share the generation-commit protocol
    * (`CorpusExport.appendGeneration`); its tests below run on both. */
  private val incrementalExports = Seq(
    IncrementalExport("corpus export",
      (df, out, gen, target) => CorpusExport.exportShardsIncremental(df,
        "doc_id", Seq("doc_id", "text"), out, gen,
        targetShardBytes = target),
      out => spark.read.parquet(out).count(),
      reproducibleShards = false),
    IncrementalExport("WebDataset",
      (df, out, gen, target) => WebDataset.exportWebDatasetIncremental(df,
        "doc_id", Seq("doc_id", "text"), out, gen,
        targetShardBytes = target),
      out => WebDataset.readWebDataset(spark, out,
        glob = "split=*/gen=*/shard-*.tar")
        .where(col("member").endsWith(".doc_id")).count(),
      reproducibleShards = true))

  /** Manifest rows modulo shard_path: (split, rows, bytes, content_md5,
    * content_xor, gen, shard_id), sorted. */
  private def manifestKey(rows: Array[Row]) = rows.map(r =>
    (r.getString(0), r.getLong(2), r.getLong(3), r.getString(4),
      r.getLong(5), r.getLong(6), r.getLong(7))).sortBy(_.toString).toSeq

  for (x <- incrementalExports) {
    test(s"${x.name} incremental: a data dir with no _manifest refuses loudly; _manifest_staging restores it") {
      val dir = Files.createTempDirectory("graft_mf_guard")
      val out = dir.toString
      val docs = Tables.documents(spark, TestSpark.sfDir)
        .select("doc_id", "text", "lang", "source")
      def append(df: DataFrame, gen: Long) =
        x.append(df, out, gen, 64L * 1024)
      val m0 = append(docs.where(col("doc_id") % 2 === 0), 0L).collect()
      // simulate the commit crash window: _manifest deleted, the full
      // union still at _manifest_staging (the atomic-commit layout)
      Files.move(dir.resolve("_manifest"), dir.resolve("_manifest_staging"))
      val e = intercept[IllegalArgumentException](
        append(docs.where(col("doc_id") % 2 === 1), 1L))
      assert(e.getMessage.contains("_manifest_staging"), e.getMessage)
      // no gen-1 orphans from the refused append
      assert(!listTree(dir).exists(_.contains("gen=1/")))
      // recovery: rename staging back, the append proceeds and gen 0's
      // rows survive with their original ids
      Files.move(dir.resolve("_manifest_staging"), dir.resolve("_manifest"))
      val m1 = append(docs.where(col("doc_id") % 2 === 1), 1L).collect()
      assert(m1.filter(_.getLong(6) == 0L).map(_.getLong(7)).sorted.toSeq ==
        m0.map(_.getLong(7)).sorted.toSeq)
      assert(x.tableRows(out) == docs.count())

      // data for OTHER generations with neither manifest nor staging =
      // foreign dir / truly lost manifest — refused (gens 0 and 1 exist,
      // replaying 1 alone can't account for gen 0's data)
      val mfBytes = listTree(dir).filter(_.startsWith("_manifest"))
      Files.walk(dir.resolve("_manifest")).iterator().asScala.toSeq.reverse
        .foreach(Files.delete)
      val eLost = intercept[IllegalArgumentException](
        append(docs.where(col("doc_id") % 2 === 1), 1L))
      assert(eLost.getMessage.contains("neither _manifest nor"),
        eLost.getMessage)
      assert(mfBytes.nonEmpty) // the guard really ran against lost state
    }

    test(s"${x.name} incremental: a crashed FIRST append self-heals on replay; non-latest replays must reproduce their shard count") {
      val dir = Files.createTempDirectory("graft_gen0_crash")
      val out = dir.toString
      val docs = Tables.documents(spark, TestSpark.sfDir)
        .select("doc_id", "text", "lang", "source")
      def append(df: DataFrame, gen: Long, target: Long = 64L * 1024) =
        x.append(df, out, gen, target)
      // simulate a crash DURING the first append's data write: data for
      // exactly this generation exists, no manifest, no staging — the
      // replay must proceed (it clears its own leftovers) instead of
      // wedging the stream on every retry
      val even = docs.where(col("doc_id") % 2 === 0)
      append(even, 0L)
      Files.walk(dir.resolve("_manifest")).iterator().asScala.toSeq.reverse
        .foreach(Files.delete)
      val m0 = append(even, 0L).collect() // the self-healing replay
      assert(m0.nonEmpty && m0.forall(_.getLong(6) == 0L))
      assert(m0.map(_.getLong(2)).sum == even.count())
      assert(x.tableRows(out) == even.count())

      // non-latest replay that changes the generation's SHARD COUNT
      // (here: same data, 16× smaller roll target → more shards): the
      // re-derived ids would collide with gen 1's — refused loudly,
      // and BEFORE any live partition is touched (the guard runs on the
      // STAGED write): data bytes and manifest stay exactly as they were
      append(docs.where(col("doc_id") % 2 === 1), 1L)
      def dataBytes() = listTree(dir)
        .filterNot(f => f.endsWith("_SUCCESS") || f.contains(".crc") ||
          f.startsWith("_manifest") || f.startsWith("_gen_staging"))
        .map(f => f -> java.util.Arrays.hashCode(
          Files.readAllBytes(dir.resolve(f)))).toMap
      val before = dataBytes()
      val mfBefore = spark.read.parquet(s"$out/_manifest").collect()
      val eCollide = intercept[IllegalArgumentException](
        append(even, 0L, target = 4L * 1024))
      assert(eCollide.getMessage.contains("NON-latest"), eCollide.getMessage)
      assert(eCollide.getMessage.contains("UNTOUCHED"), eCollide.getMessage)
      assert(dataBytes() == before,
        "refused non-latest replay touched live data partitions")
      def rows(m: Array[Row]) = m.map(_.toString).sorted.toSeq
      assert(rows(spark.read.parquet(s"$out/_manifest").collect()) ==
        rows(mfBefore), "refused non-latest replay touched the manifest")
      assert(!listTree(dir).exists(_.contains("_gen_staging")),
        "refused replay leaked its staging dir")
      // the same-data replay of gen 0 proceeds through the staged SWAP
      // (count matches → partitions replaced) and keeps data ≡
      // manifest with gen 0's original ids
      val mRestore = append(even, 0L).collect()
      assert(manifestKey(mRestore) == manifestKey(mfBefore))
      if (x.reproducibleShards) {
        assert(rows(mRestore) == rows(mfBefore))
        assert(dataBytes() == before, "same-data swap changed shard bytes")
      }
      assert(x.tableRows(out) == docs.count())
      assert(!listTree(dir).exists(_.contains("_gen_staging")),
        "successful staged replay leaked its staging dir")

      // empty delta: a generation with no rows lands no shards and
      // keeps the prior manifest rows exactly (no gen-2 rows appear)
      val mEmpty = append(docs.where(lit(false)), 2L).collect()
      assert(manifestKey(mEmpty) == manifestKey(mRestore))
      assert(!listTree(dir).exists(_.contains("gen=2")))
    }

    test(s"${x.name} incremental: a replay that no longer reaches a split drops that split's old shards") {
      val out = Files.createTempDirectory("graft_stale_split").toString
      val docs = Tables.documents(spark, TestSpark.sfDir)
        .select("doc_id", "text")
      x.append(docs, out, 0L, 64L * 1024)
      val train = graft.operators.Pipelines.splitByMd5Prefix(docs, "doc_id")
        .where(col("split") === "train").drop("split")
      val nTrain = train.count()
      assert(nTrain > 0 && nTrain < docs.count())
      // replaying gen 0 with only the train rows replaces the whole
      // generation: the old val/test shards must not survive on disk
      val m = x.append(train, out, 0L, 64L * 1024).collect()
      assert(m.map(_.getString(0)).toSet == Set("train"))
      assert(m.map(_.getLong(2)).sum == nTrain)
      assert(x.tableRows(out) == nTrain)
    }
  }

  test("corpus export incremental: a crashed attempt's committed task output under _temporary never lands") {
    val dir = Files.createTempDirectory("graft_stale_tmp")
    val out = dir.toString
    val docs = Tables.documents(spark, TestSpark.sfDir)
      .select("doc_id", "text")
    // an application that dies after some tasks committed but before
    // the job committed leaves their output in the job dir
    // outDir/_temporary/0,
    // where Spark's v1 FileOutputCommitter merges every committed task
    // dir at the next commitJob of a write into outDir
    val stale = Files.createTempDirectory("graft_stale_part")
    docs.limit(5).coalesce(1).write.mode("overwrite").parquet(stale.toString)
    val part = Files.list(stale).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    val task = dir.resolve("_temporary/0/task_stale/split=train/gen=0")
    Files.createDirectories(task)
    Files.copy(part, task.resolve(part.getFileName))
    val m = CorpusExport.exportShardsIncremental(docs, "doc_id",
      Seq("doc_id", "text"), out, 0L, targetShardBytes = 64L * 1024)
      .collect()
    assert(spark.read.parquet(out).count() == docs.count())
    assert(m.map(_.getLong(2)).sum == docs.count())
  }

  test("WebDataset incremental: a replay refused by the key audit leaves the landed generation untouched") {
    val dir = Files.createTempDirectory("graft_wds_refused")
    val out = dir.toString
    val docs = Tables.documents(spark, TestSpark.sfDir)
      .select("doc_id", "text")
    def append(df: DataFrame) = WebDataset.exportWebDatasetIncremental(df,
      "doc_id", Seq("doc_id", "text"), out, 0L,
      targetShardBytes = 64L * 1024)
    append(docs)
    def tarBytes() = listTree(dir).filter(_.endsWith(".tar"))
      .map(f => f -> java.util.Arrays.hashCode(
        Files.readAllBytes(dir.resolve(f)))).toMap
    def manifest() = spark.read.parquet(s"$out/_manifest").collect()
      .map(_.toString).sorted.toSeq
    val (tarsBefore, mfBefore) = (tarBytes(), manifest())
    val nullKey = docs.limit(1)
      .withColumn("doc_id", lit(null).cast(docs.schema("doc_id").dataType))
    for ((bad, msg) <- Seq(docs.union(docs.limit(1)) -> "not unique",
                           docs.union(nullKey) -> "null keys")) {
      val e = intercept[IllegalArgumentException](append(bad))
      assert(e.getMessage.contains(msg), e.getMessage)
      assert(tarBytes() == tarsBefore, s"refused replay ($msg) touched tars")
      assert(manifest() == mfBefore,
        s"refused replay ($msg) touched the manifest")
      assert(!listTree(dir).exists(_.contains("_gen_staging")))
    }
  }

  test("structure: the generation-commit protocol lives in CorpusExport alone; no dynamic overwrite there") {
    for (staging <- Seq("_manifest_staging", "_gen_staging_"))
      assert(SourceTree.filesWith(staging) ==
        Set("graft/sources/CorpusExport.scala"), staging)
    assert(!SourceTree.read("graft/sources/CorpusExport.scala")
      .contains("partitionOverwriteMode"))
  }

  test("S7: writeBatchTargetBytes probes through the destination's filesystem (scheme-qualified file:/// warehouse)") {
    // scheme-qualified URI: the old driver-local java.nio temp-dir probe
    // resolved its unqualified path against fs.defaultFS — on a real
    // cluster (hdfs://, s3a://) executors wrote the sample remotely, the
    // driver's java.io.File listing read 0 bytes, and maxRecords blew up
    // to targetFileBytes (bytesPerRow ≈ 0): files silently stopped
    // rolling. The probe now lands UNDER the destination and lists via
    // its Hadoop FileSystem, so this path exercises exactly that seam.
    val dir = Files.createTempDirectory("graft_wh_bytes").toString
    val warehouse = s"file://$dir"
    val df = spark.range(3000).select(
      col("id").as("ref"), col("id").as("city_id"),
      concat(lit("city_name_padding_"), col("id")).as("city_name"),
      lit("2024-01-01").as("c_date"))
    val target = 4L * 1024
    val maxRecords = OrcTableSink.writeBatchTargetBytes(df.coalesce(1),
      warehouse, "t", "c_date", targetFileBytes = target, sampleRows = 1000)
    // sane estimate: bytesPerRow > 1 ⇒ maxRecords strictly under the
    // byte target (the fail-open mode returns maxRecords == target)
    assert(maxRecords > 0 && maxRecords < target,
      s"maxRecords=$maxRecords — sizing probe read no bytes (fail-open)")
    // the roll actually engaged: several files in the partition dir,
    // each at-or-under ~2× target (small-file ORC overhead allowance)
    val files = listTree(java.nio.file.Paths.get(dir, "t"))
      .filter(_.endsWith(".orc"))
    assert(files.size >= 2, s"no rolling happened: $files")
    assert(files.forall(f =>
      Files.size(java.nio.file.Paths.get(dir, "t", f)) <= 2 * target))
    // no probe leftovers under the destination
    assert(!listTree(java.nio.file.Paths.get(dir))
      .exists(_.contains("_size_probe")),
      "sizing probe left its staging dir behind")
    // and the write itself is intact
    assert(spark.read.orc(s"$warehouse/t").count() == 3000L)
  }

  test("WebDataset: truncated tar and duplicate/null keys fail loudly") {
    import graft.sources.WebDataset
    // a member whose header claims more payload than the archive holds
    // (mid-member truncation) must refuse, not zero-fill
    val full = WebDataset.tarHeader("k.text", 1000L) ++ new Array[Byte](400)
    val e1 = intercept[IllegalArgumentException](WebDataset.parseTar(full))
    assert(e1.getMessage.contains("truncated"), e1.getMessage)

    import spark.implicits._
    val out = Files.createTempDirectory("graft_wds_keys").toString
    val dup = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("doc_id", "text")
    val e2 = intercept[IllegalArgumentException](
      WebDataset.exportWebDataset(dup, "doc_id", Seq("text"), s"$out/dup"))
    assert(e2.getMessage.contains("not unique"), e2.getMessage)
    val nulls = Seq((java.lang.Long.valueOf(1L), "a"),
      (null.asInstanceOf[java.lang.Long], "b")).toDF("doc_id", "text")
    val e3 = intercept[IllegalArgumentException](
      WebDataset.exportWebDataset(nulls, "doc_id", Seq("text"), s"$out/nul"))
    assert(e3.getMessage.contains("null keys"), e3.getMessage)
  }

  test("WebDataset writer balance: identity tokens place every shard on its own task") {
    import graft.sources.WebDataset
    // the mechanism: repartition(n, token) must land index i's token
    // exactly on partition i \u2014 Spark's own hash partitioner, observed
    // via spark_partition_id, not a re-implementation
    val n = 37
    val placed = WebDataset.identityTokens(n).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toSeq.toDF("gidx", "__tok")
      .repartition(n, col("__tok"))
      .select(col("gidx"), spark_partition_id().as("p"))
      .collect()
    assert(placed.length == n)
    assert(placed.forall(r => r.getInt(1).toLong == r.getLong(0)),
      placed.map(r => (r.getLong(0), r.getInt(1))).toSeq.toString)

    // end-to-end at a planted multi-shard scale: a tight shard target
    // forces \u2265 6 shards across splits; balanced routing means every
    // writer task opened exactly one tar, so tar count == distinct
    // (split, shard) routes == manifest rows, and the manifest \u2261 table
    // rollup still holds (content routing unchanged)
    val out = Files.createTempDirectory("graft_wds_bal").toString
    val docs = Tables.documents(spark, TestSpark.sfDir)
      .select("doc_id", "text")
    val manifest = WebDataset.exportWebDataset(docs, "doc_id",
      contentCols = Seq("doc_id", "text"), outDir = out,
      targetShardBytes = 32L * 1024).collect()
    val tars = listTree(java.nio.file.Paths.get(out))
      .filter(_.matches("""split=(train|val|test)/shard-\d{6}\.tar"""))
    assert(tars.length >= 6, s"fixture too small to plant multi-shard: $tars")
    assert(manifest.length == tars.length)
    assert(manifest.map(_.getLong(2)).sum == docs.count())
  }

  test("WebDataset incremental: generation-nested tar layout, manifest union with monotone ids, idempotent replay, guards") {
    import graft.sources.WebDataset
    val dir = Files.createTempDirectory("graft_wds_incr")
    val out = dir.toString
    val docs = Tables.documents(spark, TestSpark.sfDir)
      .select("doc_id", "text", "lang", "source")
    val even = docs.where(col("doc_id") % 2 === 0)
    val odd = docs.where(col("doc_id") % 2 === 1)
    def append(df: org.apache.spark.sql.DataFrame, gen: Long) =
      WebDataset.exportWebDatasetIncremental(df, "doc_id",
        contentCols = Seq("doc_id", "text"), outDir = out,
        generation = gen, targetShardBytes = 64L * 1024)
    append(even, 0L)
    def tars() = listTree(dir).filter(_.endsWith(".tar"))
    val gen0 = tars().toSet
    assert(gen0.nonEmpty && gen0.forall(
      _.matches("""split=(train|val|test)/gen=0/shard-\d{6}\.tar""")),
      gen0.toString)

    // the delta append: gen-0 tars byte-untouched, new tars under gen=1
    val gen0Bytes = gen0.map(f => f -> java.util.Arrays.hashCode(
      Files.readAllBytes(dir.resolve(f)))).toMap
    val m1 = append(odd, 1L).collect()
    assert(tars().toSet.diff(gen0).forall(_.contains("gen=1/")))
    assert(gen0.forall(f => java.util.Arrays.hashCode(
      Files.readAllBytes(dir.resolve(f))) == gen0Bytes(f)),
      "delta append rewrote generation-0 tars")

    // manifest union: both gens, dense monotone shard ids, \u2261 table
    val ids = m1.map(r => (r.getLong(6), r.getLong(7)))
    assert(ids.map(_._2).sorted.toSeq == (0L until ids.length).toSeq)
    assert(ids.filter(_._1 == 1L).map(_._2).min >
      ids.filter(_._1 == 0L).map(_._2).max)
    val expect = graft.operators.Pipelines
      .splitByMd5Prefix(docs, "doc_id")
      .select(col("split"),
        conv(substring(md5(concat_ws("\u0001", col("doc_id").cast("string"),
          col("text").cast("string"))), 1, 15), 16, 10).cast("long")
          .as("hl"))
      .groupBy("split")
      .agg(count(lit(1)).as("docs"), expr("bit_xor(hl)").as("cx"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val got = m1.groupBy(_.getString(0)).map { case (sp, rows) =>
      sp -> ((rows.map(_.getLong(2)).sum,
        rows.map(_.getLong(5)).reduce(_ ^ _)))
    }
    assert(got == expect)
    // members decode across generations through the gen-nested glob
    val members = WebDataset.readWebDataset(spark, out,
      glob = "split=*/gen=*/shard-*.tar")
    assert(members.count() == 2 * docs.count())

    // replaying the latest generation is idempotent (same manifest
    // modulo nothing: tar names are deterministic, unlike parquet)
    def key(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .sortBy(_.toString).toSeq
    val m2 = append(odd, 1L).collect()
    assert(key(m2) == key(m1))

    // guard: out-of-order refuse leaves no orphans (the other protocol
    // guards run on both exports in the looped tests above)
    append(odd, 3L)
    val before = tars().toSet
    val e1 = intercept[IllegalArgumentException](append(even, 2L))
    assert(e1.getMessage.contains("out of order"), e1.getMessage)
    assert(tars().toSet == before)
  }

  test("WebDataset export: ustar tar shards, byte-reproducible, manifest \u2261 parsed tars \u2261 table") {
    import graft.sources.WebDataset
    val out = Files.createTempDirectory("graft_export_wds").toString
    val docs = Tables.documents(spark, TestSpark.sfDir)
      .select("doc_id", "text", "lang", "source")
    val nDocs = docs.count()
    val manifest = WebDataset.exportWebDataset(docs, "doc_id",
      contentCols = Seq("doc_id", "text"), outDir = out,
      targetShardBytes = 64L * 1024).collect()

    // golden layout: split dirs, zero-padded tar names, no leftovers
    val files = listTree(java.nio.file.Paths.get(out))
      .filterNot(f => f.endsWith("_SUCCESS") || f.contains(".crc") ||
        f.startsWith("_manifest"))
    assert(files.nonEmpty)
    assert(files.forall(
      _.matches("""split=(train|val|test)/shard-\d{6}\.tar""")),
      files.toString)
    assert(manifest.length == files.length)

    // manifest \u2261 filesystem: byte-exact tar sizes
    val fsFiles = files.map(f =>
      f -> Files.size(java.nio.file.Paths.get(out, f))).toMap
    val mfFiles = manifest.map(r =>
      r.getString(1).split("/").takeRight(2).mkString("/") -> r.getLong(3))
      .toMap
    assert(mfFiles == fsFiles)

    // manifest \u2261 table: the rollup replays from the raw corpus \u2014
    // identical to the parquet/JSONL exports (format-invariant hashes)
    val expect = graft.operators.Pipelines
      .splitByMd5Prefix(docs, "doc_id")
      .select(col("split"),
        conv(substring(md5(concat_ws("\u0001", col("doc_id").cast("string"),
          col("text").cast("string"))), 1, 15), 16, 10).cast("long")
          .as("hl"))
      .groupBy("split")
      .agg(count(lit(1)).as("docs"), expr("bit_xor(hl)").as("cx"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val got = manifest.groupBy(_.getString(0)).map { case (sp, rows) =>
      sp -> ((rows.map(_.getLong(2)).sum,
        rows.map(_.getLong(5)).reduce(_ ^ _)))
    }
    assert(got == expect)
    assert(got.values.map(_._1).sum == nDocs)

    // members decode: every doc contributes its {key}.doc_id and
    // {key}.text files, content round-trips exactly
    val members = WebDataset.readWebDataset(spark, out)
    assert(members.count() == 2 * nDocs)
    val backTexts = members.where(col("member").endsWith(".text"))
      .select(expr("substring(member, 1, length(member) - 5)").cast("long")
        .as("doc_id"), col("content").cast("string").as("text"))
    val origTexts = docs.select(col("doc_id"), col("text"))
    assert(backTexts.exceptAll(origTexts).isEmpty &&
      origTexts.exceptAll(backTexts).isEmpty)

    // determinism: a re-export of the same corpus writes byte-identical
    // shards (mtime 0, fixed header fields, sorted member order)
    val before = files.map(f => f -> java.util.Arrays.hashCode(
      Files.readAllBytes(java.nio.file.Paths.get(out, f)))).toMap
    WebDataset.exportWebDataset(docs, "doc_id",
      contentCols = Seq("doc_id", "text"), outDir = out,
      targetShardBytes = 64L * 1024)
    val after = files.map(f => f -> java.util.Arrays.hashCode(
      Files.readAllBytes(java.nio.file.Paths.get(out, f)))).toMap
    assert(after == before, "re-export changed shard bytes")

    // ustar unit contract: header checksum validates, corrupt byte loud
    val shard = Files.readAllBytes(
      java.nio.file.Paths.get(out, files.head))
    val parsed = WebDataset.parseTar(shard)
    assert(parsed.nonEmpty)
    // flip a byte INSIDE a header (offset 105 = mode field) — payload
    // bytes are not checksummed by ustar, headers are
    val corrupt = shard.clone(); corrupt(105) = (corrupt(105) ^ 0x7).toByte
    val err = intercept[IllegalArgumentException](
      WebDataset.parseTar(corrupt))
    assert(err.getMessage.contains("checksum"), err.getMessage)
  }

  test("WebDataset export: binary payload members round-trip bit-exact (no UTF-8 mangling)") {
    import graft.sources.WebDataset
    val out = Files.createTempDirectory("graft_wds_bin").toString
    // payloads deliberately include invalid-UTF-8 sequences (0xFF, a
    // continuation-less 0xC0) that a string cast would fold to U+FFFD
    def payload(id: Long): Array[Byte] =
      Array.tabulate(600)(j => ((id * 31 + j * 7) % 256).toByte) ++
        Array(0xFF.toByte, 0xC0.toByte, 0x00.toByte)
    val rows = (1L to 40L).map(i =>
      (i, payload(i), s"""{"media":"img","id":$i}"""))
    val df = rows.toDF("doc_id", "payload", "meta")
    val manifest = WebDataset.exportWebDataset(df, "doc_id",
      contentCols = Seq("payload", "meta"), outDir = out,
      targetShardBytes = 16L * 1024).collect()
    assert(manifest.map(_.getLong(2)).sum == 40L)
    val members = WebDataset.readWebDataset(spark, out)
    val back = members.where(col("member").endsWith(".payload"))
      .select(expr("substring(member, 1, length(member) - 8)")
        .cast("long").as("doc_id"), col("content"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(back.size == 40)
    rows.foreach { case (id, p, _) =>
      assert(java.util.Arrays.equals(back(id), p), s"payload $id mangled")
    }
    // sidecar metadata members stay readable as JSON text
    val meta = members.where(col("member").endsWith(".meta"))
      .select(col("content").cast("string")).collect()
    assert(meta.length == 40 &&
      meta.forall(_.getString(0).startsWith("{\"media\"")))
  }

  test("WebDataset export: all-null sample lands as one empty member; empty input yields an empty layout") {
    import graft.sources.WebDataset
    val out = Files.createTempDirectory("graft_wds_nulls").toString
    val df = Seq(
      (1L, Option("hello world"), Option("m1")),
      (2L, Option.empty[String], Option.empty[String]))
      .toDF("doc_id", "text", "meta")
    val manifest = WebDataset.exportWebDataset(df, "doc_id",
      contentCols = Seq("text", "meta"), outDir = out).collect()
    // BOTH rows land — the all-null sample must not silently vanish
    assert(manifest.map(_.getLong(2)).sum == 2L, manifest.toSeq.toString)
    val members = WebDataset.readWebDataset(spark, out).collect()
      .map(r => r.getAs[String]("member") ->
        new String(r.getAs[Array[Byte]]("content"), "UTF-8")).toMap
    // sample 1: both members; sample 2: exactly ONE empty member for
    // the first content column (hashes as "", concat_ws's all-null fold)
    assert(members.keySet == Set("1.text", "1.meta", "2.text"), members.keySet)
    assert(members("2.text") == "")
    // manifest hash parity with the concat_ws fold over the raw table
    val expectXor = df
      .select(conv(substring(md5(concat_ws("\u0001", col("text"),
        col("meta"))), 1, 15), 16, 10).cast("long").as("hl"))
      .agg(expr("bit_xor(hl)")).head().getLong(0)
    assert(manifest.map(_.getLong(5)).reduce(_ ^ _) == expectXor)
    // an empty corpus degrades to an empty layout + empty manifest
    val out2 = Files.createTempDirectory("graft_wds_empty").toString
    val empty = WebDataset.exportWebDataset(df.limit(0), "doc_id",
      contentCols = Seq("text", "meta"), outDir = out2)
    assert(empty.count() == 0L)
    // dotted content column names are refused loudly
    val err = intercept[IllegalArgumentException](
      WebDataset.exportWebDataset(
        df.withColumnRenamed("meta", "img.jpg"), "doc_id",
        contentCols = Seq("text", "img.jpg"), outDir = out2))
    assert(err.getMessage.contains("must not contain"), err.getMessage)
  }

  test("corpus export JSONL: gzip .json.gz shards under the identical manifest contract") {
    import graft.sources.CorpusExport
    val out = Files.createTempDirectory("graft_export_jsonl").toString
    val docs = Tables.documents(spark, TestSpark.sfDir)
      .select("doc_id", "text", "lang", "source")
    val nDocs = docs.count()
    val manifest = CorpusExport.exportShards(docs, "doc_id",
      contentCols = Seq("doc_id", "text"), outDir = out,
      format = "json", targetShardBytes = 16L * 1024,
      codec = Some("gzip")).collect()

    // layout: the trainer-mountable shape — split dirs, .json.gz shards
    val files = listTree(java.nio.file.Paths.get(out))
      .filterNot(f => f.endsWith("_SUCCESS") || f.contains(".crc") ||
        f.startsWith("_manifest"))
    assert(files.nonEmpty)
    assert(files.forall(
      _.matches("""split=(train|val|test)/part-.*\.json\.gz""")),
      files.toString)

    // manifest ≡ filesystem: byte-exact compressed sizes
    val fsFiles = files.map(f =>
      f -> Files.size(java.nio.file.Paths.get(out, f))).toMap
    val mfFiles = manifest.map(r =>
      r.getString(1).split("/").takeRight(2).mkString("/") -> r.getLong(3))
      .toMap
    assert(mfFiles == fsFiles)

    // manifest ≡ table: counts and content checksums are format-
    // invariant — the same rollup the parquet export produces
    val expect = graft.operators.Pipelines
      .splitByMd5Prefix(docs, "doc_id")
      .select(col("split"),
        conv(substring(md5(concat_ws("\u0001", col("doc_id").cast("string"),
          col("text").cast("string"))), 1, 15), 16, 10).cast("long")
          .as("hl"))
      .groupBy("split")
      .agg(count(lit(1)).as("docs"), expr("bit_xor(hl)").as("cx"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val got = manifest.groupBy(_.getString(0)).map { case (s, rows) =>
      s -> ((rows.map(_.getLong(2)).sum,
        rows.map(_.getLong(5)).reduce(_ ^ _)))
    }
    assert(got == expect)
    assert(got.values.map(_._1).sum == nDocs)

    // roundtrip through schema inference: every row, identical content
    val back = spark.read.json(out)
    assert(back.count() == nDocs)
    def xorOf(df: org.apache.spark.sql.DataFrame): Long = df
      .select(conv(substring(md5(concat_ws("\u0001",
        col("doc_id").cast("string"), col("text").cast("string"))),
        1, 15), 16, 10).cast("long").as("hl"))
      .agg(expr("bit_xor(hl)")).collect().head.getLong(0)
    assert(xorOf(back) == xorOf(docs))
  }
}
