package graft.sources

import graft.operators.{Joins, Pipelines}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row,
  SparkSession}
import org.apache.spark.sql.functions._

/** Sharded corpus export — the delivery artifact a training run mounts:
  *
  *   out/split=train|val|test/part-*.parquet   (size-targeted shards)
  *   out/_manifest/                            (one row per shard)
  *
  * `format` may be parquet, orc, or json — `format = "json"` with
  * `codec = Some("gzip")` produces the compressed-JSONL shard layout
  * most training data loaders mount directly (`part-*.json.gz`), under
  * the SAME manifest contract: counts, bytes, and checksums derive from
  * the committed files (read back through the written listing), and the
  * size probe measures encoded-bytes-per-row in the actual
  * format × codec so the roll target holds for text shards too.
  *
  * with every shard described by (split, shard_path, rows, bytes,
  * content_md5, content_xor): the manifest is what the trainer's data
  * loader trusts for sampling weights, resume offsets, and integrity
  * checks, so it is derived from the files ACTUALLY WRITTEN (read back
  * through the committed listing), never from the input frame.
  *
  * Composition: [[Pipelines.splitByMd5Prefix]] assigns the
  * content-addressed split label; the shard roll target reuses the
  * encoded-bytes-per-row probe of [[OrcTableSink.writeBatchTargetBytes]]
  * (S7) generalized over formats.
  *
  * Scale shape (the 100 TB posture):
  *  - shard count per split = ceil(split_rows / rows_per_shard) from a
  *    3-row count agg; rows route to shards by pmod(xxhash64(id), k) —
  *    so the shuffle fans out to ONE REDUCER PER SHARD (~400k tasks at
  *    100 TB / 256 MB), never 3 mega-reducers keyed on the split label
  *    alone, and `maxRecordsPerFile` stays as the hard ceiling under
  *    hash skew or (split, shard) reducer collisions.
  *  - manifest checksums are per-shard folds: content_xor is an
  *    order-independent XOR of per-row hash prefixes (constant state),
  *    content_md5 is the md5 of the SORTED per-row hashes — its
  *    collect_list buffer is bounded by one shard's row count
  *    (~32 B/row ⇒ ≈ targetShardBytes × 32/bytesPerRow per task),
  *    independent tasks, never a global fold.
  *  - manifest counts/checksums are provably ≡ the table's: shards
  *    partition the corpus, so per-split SUM(rows) and XOR(content_xor)
  *    over the manifest replay exactly from the input table (the
  *    x_corpus_export oracle pins this).
  *
  * Null contract: content hashing uses concat_ws, which skips nulls —
  * a null and an empty string hash alike; hash NULL-sensitive columns
  * through an explicit coalesce upstream if that distinction matters.
  * The manifest read-back applies the WRITTEN DataFrame's schema (no
  * inference), so JSON shards round-trip type-faithfully: omitted null
  * fields read back as typed nulls (even for all-null columns), and a
  * string column whose values happen to look numeric stays a string —
  * checksums are format-invariant by construction.
  *
  * Returns the manifest DataFrame (also persisted at out/_manifest —
  * underscore-prefixed, so corpus readers of `outDir` never see it).
  */
object CorpusExport {

  def exportShards(df: DataFrame, idCol: String,
                   contentCols: Seq[String],
                   outDir: String,
                   format: String = "parquet",
                   targetShardBytes: Long = 256L * 1024 * 1024,
                   cuts: Seq[(String, Int)] =
                     Seq("train" -> 14, "val" -> 15, "test" -> 16),
                   sampleRows: Int = 10000,
                   codec: Option[String] = None): DataFrame = {
    require(targetShardBytes > 0, "targetShardBytes must be positive")
    require(contentCols.nonEmpty, "contentCols must be non-empty")
    Joins.requireFreeColumns("exportShards", df.columns,
      "split", "__shard", "__h", "__hl")
    val spark = df.sparkSession
    // NOT checkpointed: the probe reads 10k rows, the count agg prunes
    // to the id column, and the write is the one full pass — pinning a
    // 100 TB corpus in executor storage to save re-deriving an md5
    // nibble would be the real scale bug.
    val labeled = Pipelines.splitByMd5Prefix(df, idCol, cuts)
    shardWriter(labeled, idCol, outDir, format, targetShardBytes,
      sampleRows, codec).mode("overwrite").partitionBy("split").save(outDir)
    // read back under the WRITTEN schema, never inference: a JSON
    // read-back of a numeric-looking string column would otherwise
    // infer bigint and re-stringify differently ('007' → '7'),
    // silently changing content_md5/content_xor vs the typed formats
    val manifest = buildManifest(
      spark.read.format(format).schema(labeled.schema).load(outDir),
      contentCols, outDir)
    manifest.write.mode("overwrite").parquet(s"$outDir/_manifest")
    spark.read.parquet(s"$outDir/_manifest")
  }

  /** Incremental (generation-partitioned) corpus export — the recurring
    * crawl's delivery path: each call lands ONLY the new generation's
    * shards under `split=…/gen=N/` and UNIONS the manifest instead of
    * rewriting the world. A monthly 1 PB corpus with a 10 TB delta
    * writes 10 TB, not 1 PB. Guards, replay rule and commit are the
    * one generation-commit protocol, [[appendGeneration]].
    *
    * Manifest contract: same per-shard columns as [[exportShards]] plus
    * (gen, shard_id). Checksums come from the COMMITTED files of the
    * new generation only (read back under the written schema); prior
    * generations' rows carry over untouched — they were derived from
    * their own committed files at their own append time. */
  def exportShardsIncremental(delta: DataFrame, idCol: String,
                              contentCols: Seq[String],
                              outDir: String, generation: Long,
                              format: String = "parquet",
                              targetShardBytes: Long = 256L * 1024 * 1024,
                              cuts: Seq[(String, Int)] =
                                Seq("train" -> 14, "val" -> 15, "test" -> 16),
                              sampleRows: Int = 10000,
                              codec: Option[String] = None): DataFrame = {
    require(generation >= 0, "generation must be >= 0")
    require(targetShardBytes > 0, "targetShardBytes must be positive")
    require(contentCols.nonEmpty, "contentCols must be non-empty")
    Joins.requireFreeColumns("exportShardsIncremental", delta.columns,
      "split", "gen", "__shard", "__h", "__hl")
    val spark = delta.sparkSession
    val labeled = Pipelines.splitByMd5Prefix(delta, idCol, cuts)
      .withColumn("gen", lit(generation))
    appendGeneration("exportShardsIncremental", spark, outDir, generation,
        shardGlob = "part-*")(
      root => shardWriter(labeled, idCol, outDir, format, targetShardBytes,
        sampleRows, codec).mode("append").partitionBy("split", "gen")
        .save(root),
      () => buildManifest(spark.read.format(format).schema(labeled.schema)
        .load(outDir).where(col("gen") === generation),
        contentCols, outDir, partDepth = 2))
  }

  /** The generation-commit protocol of both incremental exports
    * ([[exportShardsIncremental]] and
    * [[WebDataset.exportWebDatasetIncremental]]) — the reference's
    * commit-exactly-once job (tmp → pending → final, SURVEY §3.3) for
    * the trainer corpus, written once. `write(root)` lands generation
    * G's shards under `root/split=…/gen=G/`, `shardGlob` matches one
    * shard file there, and `manifest()` builds the committed
    * generation's per-shard rows from `outDir`.
    *
    *  1. Guards, before any write: data without a manifest
    *     ([[checkDataWithoutManifest]]), and a NEW generation below
    *     already-landed ones — that would re-number history under a
    *     mounted trainer. Re-running an EXISTING generation is legal
    *     (the at-least-once contract a fresh-checkpoint stream replay
    *     needs).
    *  2. Replay rule, one path for new and landed generations: G is
    *     written to `_gen_staging_<appId>` and swapped in whole — every
    *     live `split=…/gen=G` dir is deleted, the staged ones renamed
    *     in. A refused write (a key audit, a shard-count mismatch) thus
    *     leaves the landed generation untouched; a replay that no
    *     longer reaches a split drops that split's stale shards; and a
    *     crashed attempt's leftovers — its `split=…/gen=G` files, and
    *     the committed task output Spark's committer keeps under the
    *     job dir of whatever path it wrote — never merge in, since the
    *     staging dir (the committer's output path) is per application.
    *     When later generations exist, the staged shard count must
    *     equal the manifest's, since their ids sit right above G's. A
    *     crash mid-swap self-heals on the same replay: the manifest
    *     still holds, so the check re-passes and the swap re-runs. A
    *     JVM crash leaves its `_gen_staging_<appId>` behind: readers
    *     never see it (underscore name), nothing sweeps it, and it can
    *     hold a whole generation's bytes.
    *  3. `shard_id` is globally monotone: the max id below G plus a
    *     dense row number over G's (split, shard_path). Ids never
    *     reuse, so trainer resume offsets stay valid across appends,
    *     and a same-data replay re-derives G's ids exactly.
    *  4. The manifest union lands complete at `_manifest_staging`,
    *     then swaps in by delete + rename. An in-place overwrite would
    *     truncate `_manifest` first, and a crash there would erase
    *     every prior generation's rows; a crash between the delete and
    *     the rename leaves data without a manifest, which guard 1
    *     refuses with the recovery hint. */
  private[graft] def appendGeneration(op: String, spark: SparkSession,
                                      outDir: String, generation: Long,
                                      shardGlob: String)(
      write: String => Unit, manifest: () => DataFrame): DataFrame = {
    // all probes resolve through the Hadoop FileSystem of outDir — a
    // java.io.File probe on an hdfs://|s3a:// dir would silently read
    // empty and drop every prior generation from the manifest
    val fs = new Path(outDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val manifestPath = s"$outDir/_manifest"
    val hasPrior = listDataFiles(fs, new Path(manifestPath)).nonEmpty
    checkDataWithoutManifest(op, fs, outDir, hasPrior, generation)
    // prior rows materialize NOW: the commit below replaces the path
    // they are read from; the table is metadata-sized (row per shard)
    val allPrior: Option[DataFrame] =
      if (hasPrior) Some(spark.read.parquet(manifestPath).localCheckpoint())
      else None
    val allGens = allPrior.map(_.select(col("gen")).distinct()
      .collect().map(_.getLong(0)).toSet).getOrElse(Set.empty[Long])
    require(allGens.forall(_ < generation) || allGens(generation),
      s"$op: generation $generation would be a NEW generation below " +
        s"already-landed ones at $outDir — appending out of order would " +
        "re-number history under a mounted trainer")
    def genDirs(root: String) = glob(fs, s"$root/split=*/gen=$generation")
    def shards(root: String) =
      glob(fs, s"$root/split=*/gen=$generation/$shardGlob").length.toLong
    val staging = s"$outDir/_gen_staging_${spark.sparkContext.applicationId}"
    try {
      write(staging)
      // a later generation implies G is landed (the guard above)
      if (allGens.exists(_ > generation)) {
        val newN = shards(staging)
        val oldN = allPrior.get.where(col("gen") === generation).count()
        require(newN == oldN,
          s"$op: replaying NON-latest generation $generation produced " +
            s"$newN shards where the manifest holds $oldN — the " +
            "re-derived shard ids would collide with or gap against " +
            "later generations'; only a same-data (same shard count) " +
            "replay of a non-latest generation is legal. The corpus " +
            "dir is UNTOUCHED (the mismatch was caught at the staging " +
            "step, before any live partition was replaced)")
      }
      genDirs(outDir).foreach(st => fs.delete(st.getPath, true))
      genDirs(staging).foreach { st =>
        val dest = new Path(new Path(outDir, st.getPath.getParent.getName),
          st.getPath.getName)
        fs.mkdirs(dest.getParent)
        require(fs.rename(st.getPath, dest),
          s"$op: swap rename ${st.getPath} -> $dest failed")
      }
    } finally { fs.delete(new Path(staging), true); () }
    val genManifest =
      (if (shards(outDir) > 0) manifest() else emptyManifest(spark))
        .withColumn("gen", lit(generation))
    val prior = allPrior
      .getOrElse(genManifest.withColumn("shard_id", lit(0L)).limit(0))
      .where(col("gen") =!= generation)
    val maxId = prior.where(col("gen") < generation)
      .agg(coalesce(max("shard_id"), lit(-1L)))
      .head().getLong(0)
    // unpartitioned window is safe here by the k-rows-only exception:
    // the frame is ONE generation's manifest (a row per shard)
    val fresh = genManifest.withColumn("shard_id",
      lit(maxId) + row_number().over(org.apache.spark.sql.expressions
        .Window.orderBy(col("split"), col("shard_path"))).cast("long"))
    val stagingPath = new Path(s"$outDir/_manifest_staging")
    val manifestP = new Path(manifestPath)
    prior.unionByName(fresh.select(prior.columns.map(col): _*))
      .write.mode("overwrite").parquet(stagingPath.toString)
    if (fs.exists(manifestP)) fs.delete(manifestP, true)
    require(fs.rename(stagingPath, manifestP),
      s"$op: rename $stagingPath -> $manifestP failed")
    spark.read.parquet(manifestPath)
  }

  /** The manifest of a generation that landed no shards. */
  private[graft] def emptyManifest(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, String, Long, Long, String, Long)]
      .toDF("split", "shard_path", "rows", "bytes",
        "content_md5", "content_xor")
  }

  /** Shards per split, ceil(rows / rowsPerShard) and at least one, with
    * the per-row shard count as a column expression (`kExpr`) and the
    * total — the shard plan both corpus exports and the WebDataset
    * exports route by. */
  private[graft] def shardPlan(splitCounts: Map[String, Long],
                               rowsPerShard: Long)
      : (Map[String, Long], Column, Int) = {
    val perSplit = splitCounts.map { case (s, n) =>
      s -> math.max(1L, (n + rowsPerShard - 1L) / rowsPerShard)
    }
    val kExpr = perSplit.foldLeft(lit(1L)) { case (els, (s, k)) =>
      when(col("split") === s, lit(k)).otherwise(els)
    }
    (perSplit, kExpr, math.max(1L, perSplit.values.sum).toInt)
  }

  /** Probe → size → route, shared by both corpus exports: encoded bytes
    * per row from a probe under `outDir` (applicationId-keyed: two
    * concurrent exports sharing an outDir would otherwise clobber each
    * other's probe data and skew or fail the sizing; readers never see
    * it — underscore name), then rows routed to [[shardPlan]]'s shards.
    * Returns the writer with format, roll ceiling and codec set. */
  private def shardWriter(labeled: DataFrame, idCol: String,
                          outDir: String, format: String,
                          targetShardBytes: Long, sampleRows: Int,
                          codec: Option[String]): DataFrameWriter[Row] = {
    val bytesPerRow = estimateBytesPerRow(labeled, sampleRows, format,
      s"$outDir/_probe_${labeled.sparkSession.sparkContext.applicationId}",
      codec)
    val rowsPerShard = math.max(1L, (targetShardBytes / bytesPerRow).toLong)
    val splitCounts = labeled.groupBy("split").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (_, kExpr, totalShards) = shardPlan(splitCounts, rowsPerShard)
    val w = labeled
      .withColumn("__shard", pmod(xxhash64(col(idCol)), kExpr))
      .repartition(totalShards, col("split"), col("__shard"))
      .drop("__shard")
      .write.format(format).option("maxRecordsPerFile", rowsPerShard)
    codec.fold(w)(c => w.option("compression", c))
  }

  /** One manifest row per written shard file. Separate so audits can
    * re-derive a manifest for an existing export and diff it.
    * `partDepth` is the number of partition directory levels under
    * `outDir` (1 for split=…, 2 for split=…/gen=…). */
  private[graft] def buildManifest(written: DataFrame,
                                   contentCols: Seq[String],
                                   outDir: String,
                                   partDepth: Int = 1): DataFrame = {
    val rowHash = md5(concat_ws("\u0001",
      contentCols.map(c => col(c).cast("string")): _*))
    val perShard = written
      .select(col("split"), input_file_name().as("shard_path"),
        rowHash.as("__h"))
      .withColumn("__hl",
        conv(substring(col("__h"), 1, 15), 16, 10).cast("long"))
      .groupBy("split", "shard_path")
      .agg(count(lit(1)).as("rows"),
        md5(concat_ws("", sort_array(collect_list(col("__h")))))
          .as("content_md5"),
        expr("bit_xor(__hl)").as("content_xor"))
    // file sizes: one driver-side listing (≤ one entry per shard — the
    // standard metadata-scale op), broadcast-joined onto the agg. The
    // join key is the outDir-RELATIVE path (split=…/part-…): part-file
    // names repeat across partition dirs (one task number serves every
    // split it touches), and absolute URIs don't compare byte-for-byte
    // between input_file_name() and the listing (scheme slashing).
    // Listing goes through the Hadoop FileSystem of outDir so it
    // resolves file://, hdfs://, and s3a:// alike.
    val spark = written.sparkSession
    val fs = new Path(outDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val fileBytes = listDataFiles(fs, new Path(outDir))
    import spark.implicits._
    val relOf = regexp_extract(col("shard_path"),
      s"(?:[^/]+/){$partDepth}[^/]+$$", 0)
    perShard
      .withColumn("__rel", relOf)
      .join(broadcast(fileBytes.toDF("__rel", "bytes")), Seq("__rel"),
        "left")
      .select(col("split"), col("shard_path"), col("rows"), col("bytes"),
        col("content_md5"), col("content_xor"))
  }

  /** The data-without-manifest triage of [[appendGeneration]]. A data
    * dir with NO manifest is one of three states, two refused:
    *  (a) a crashed manifest COMMIT — the full union still lives at
    *      `_manifest_staging`; refuse with the rename-recovery hint
    *      (rebuilding would orphan every prior generation as phantom
    *      rows and restart shard_id under a mounted trainer);
    *  (b) data for OTHER generations with neither manifest nor staging
    *      — a foreign dir or a truly lost manifest; refuse loudly;
    *  (c) data for exactly THIS generation — a crashed FIRST append
    *      (later appends never remove `_manifest` while data stands
    *      except inside the manifest swap, which leaves staging),
    *      whose replay proceeds: its swap replaces its own leftovers
    *      and the manifest rebuilds from scratch. */
  private[graft] def checkDataWithoutManifest(
      op: String, fs: FileSystem, outDir: String,
      hasPrior: Boolean, generation: Long): Unit =
    if (!hasPrior && glob(fs, s"$outDir/split=*").nonEmpty) {
      require(!fs.exists(new Path(s"$outDir/_manifest_staging")),
        s"$op: $outDir holds split=* data partitions but no _manifest — " +
          "a crashed manifest commit leaves the full union at " +
          "_manifest_staging (rename it back to _manifest); refusing to " +
          "rebuild a manifest that would orphan prior generations")
      val strays = glob(fs, s"$outDir/split=*/gen=*")
        .map(_.getPath.getName).distinct
        .filter(_ != s"gen=$generation")
      require(strays.isEmpty,
        s"$op: $outDir holds data for generation(s) " +
          s"${strays.sorted.mkString(", ")} with neither _manifest nor " +
          s"_manifest_staging — not a replay of a crashed first append " +
          s"of generation $generation; refusing to rebuild a manifest " +
          "that would orphan that data")
    }

  /** `pattern`'s matches through `fs`; empty (never null) on no match. */
  private[graft] def glob(fs: FileSystem, pattern: String): Array[FileStatus] =
    Option(fs.globStatus(new Path(pattern))).getOrElse(Array.empty)

  /** Recursive data-file listing (underscore/dot names pruned) through
    * the Hadoop FileSystem API — works for file://, hdfs://, s3a://
    * and bare local paths alike, and returns the empty listing (never
    * null, never a throw) when `dir` does not exist. Yields
    * (dir-relative path with '/' separators, bytes) per file. */
  private[graft] def listDataFiles(fs: FileSystem, dir: Path,
                                   prefix: String = ""): Seq[(String, Long)] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
      .flatMap { st =>
        if (st.isFile) Seq((prefix + st.getPath.getName, st.getLen))
        else listDataFiles(fs, st.getPath, prefix + st.getPath.getName + "/")
      }

  /** Encoded bytes per row in `format`, measured from a bounded probe
    * write — the [[OrcTableSink.estimateOrcBytesPerRow]] pattern
    * generalized over formats. The probe lands at `probeDir` (an
    * underscore-named subdir of the destination, so it shares the
    * destination's FILESYSTEM — a driver-local temp dir would read back
    * empty on a real cluster, where executors write their local disks,
    * and silently collapse the sizing to one shard per split) and is
    * deleted after measuring. */
  private[graft] def estimateBytesPerRow(df: DataFrame, sampleRows: Int,
                                         format: String, probeDir: String,
                                         codec: Option[String] = None)
      : Double = {
    require(sampleRows > 0, "sampleRows must be positive")
    val spark = df.sparkSession
    val p = new Path(probeDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val probe = df.limit(sampleRows).coalesce(1)
        .write.mode("overwrite").format(format)
      codec.fold(probe)(c => probe.option("compression", c)).save(probeDir)
      val bytes = fs.listStatus(p)
        .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
        .map(_.getLen).sum
      val rows = spark.read.format(format).load(probeDir).count()
      bytes.toDouble / math.max(rows, 1L)
    } finally {
      fs.delete(p, true); ()
    }
  }
}
