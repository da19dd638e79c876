package graft.sources

import graft.operators.{Joins, Pipelines}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** WebDataset tar-shard corpus export — the trainer-mountable layout
  * multimodal loaders stream (one `.tar` per shard; each sample's
  * members stored contiguously as `{key}.{column}` files), under the
  * SAME committed-files manifest contract as
  * [[CorpusExport.exportShards]]:
  *
  *   out/split=train|val|test/shard-000000.tar
  *   out/_manifest/                      (one row per shard)
  *
  * Tar encoding is plain POSIX ustar written by this object (no
  * external tool): header mode 0644, uid/gid 0, mtime 0 — so a shard's
  * bytes are a pure function of its sample CONTENT and the export is
  * byte-reproducible run-over-run (the suite asserts it). Python's
  * `tarfile`/WebDataset readers consume it directly.
  *
  * Scale shape (the 100 TB posture):
  *  - shard count per split = ceil(rows / rowsPerShard) from a 3-row
  *    count agg; rows route by pmod(xxhash64(id), k), and each
  *    (split, shard) is placed on its OWN writer task via a dense
  *    global index + identity-partition token ([[identityTokens]]) —
  *    exactly one tar per task, no birthday-bound idle slots, never a
  *    mega-reducer per split. Within a task, rows arrive sorted by
  *    (split, shard, key) and stream straight to the tar output
  *    (member-at-a-time; nothing buffers a whole shard).
  *  - bytes-per-sample is estimated in ONE aggregation from the tar
  *    framing formula (512 B header + 512-padded payload per member) —
  *    no probe write needed, tar adds no compression.
  *  - manifest counts/checksums derive from the COMMITTED tars read
  *    back through [[readWebDataset]] (binaryFile scan + ustar parse),
  *    so a manifest row is proof the shard on disk decodes to exactly
  *    its rows — the same manifest ≡ table replay the parquet/JSONL
  *    exports pin, now covering the tar encode→commit→parse cycle.
  *
  * Binary contract: a BINARY content column (the multimodal payload
  * case) stores its bytes RAW — never a string cast, which would
  * mangle non-UTF-8 sequences — and hashes through lossless HEX in the
  * manifest; string/other columns store their UTF-8 string form, so a
  * text-only export's checksums are unchanged by this rule.
  *
  * Null contract: a NULL content column stores NO member for that
  * sample (WebDataset convention); the manifest's per-sample hash
  * concatenates the members PRESENT in `contentCols` order, which is
  * exactly `concat_ws`'s skip-nulls fold — so checksums stay
  * format-invariant with the parquet/JSONL exports. An EMPTY string
  * stores an empty member (present, hashes as ""), preserving the
  * null/empty distinction the other formats' rowHash sees. A sample
  * whose content columns are ALL null still lands — as one empty
  * member for the first content column, hashing as "" exactly like
  * concat_ws's all-null fold — so no row ever silently vanishes from
  * the export. Content column names must be dot-free (enforced
  * loudly); sample keys may contain dots.
  *
  * Member names are `{key}.{column}` with key = idCol cast to string —
  * ustar's 100-byte name limit is enforced loudly per member, and keys
  * must be non-null and unique (also enforced loudly: duplicate keys
  * would merge into one sample at read time, silently diverging the
  * manifest from the table). */
object WebDataset {

  def exportWebDataset(df: DataFrame, idCol: String,
                       contentCols: Seq[String],
                       outDir: String,
                       targetShardBytes: Long = 256L * 1024 * 1024,
                       cuts: Seq[(String, Int)] =
                         Seq("train" -> 14, "val" -> 15, "test" -> 16))
      : DataFrame = {
    require(targetShardBytes > 0, "targetShardBytes must be positive")
    require(contentCols.nonEmpty, "contentCols must be non-empty")
    // member names are {key}.{column} and the reader keys a sample by
    // stripping the FINAL dot-segment — a dotted column name would
    // mis-key every sample (keys themselves may contain dots freely)
    require(contentCols.forall(!_.contains(".")),
      s"exportWebDataset: content column names must not contain '.' " +
        s"(got ${contentCols.filter(_.contains(".")).mkString(", ")})")
    Joins.requireFreeColumns("exportWebDataset", df.columns,
      "split", "__shard", "__key", "__b", "__h", "__hl", "__gidx", "__tok")
    val spark = df.sparkSession
    // overwrite semantics (the exportShards contract): stale shards
    // from a prior export of different cardinality must not linger
    val rootFs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    CorpusExport.glob(rootFs, s"$outDir/split=*")
      .foreach(st => rootFs.delete(st.getPath, true))
    val labeled = Pipelines.splitByMd5Prefix(df, idCol, cuts)
    writeTarShards(labeled, idCol, contentCols, outDir, targetShardBytes,
      gen = None)
    // an empty corpus writes no shards; the manifest must then be the
    // empty table, not a failing glob read
    val manifest =
      if (CorpusExport.glob(rootFs, s"$outDir/split=*/shard-*.tar").nonEmpty)
        buildTarManifest(spark, outDir, contentCols,
          binaryColsOf(labeled, contentCols))
      else CorpusExport.emptyManifest(spark)
    manifest.write.mode("overwrite").parquet(s"$outDir/_manifest")
    spark.read.parquet(s"$outDir/_manifest")
  }

  /** Incremental (generation-partitioned) WebDataset export — the
    * [[CorpusExport.exportShardsIncremental]] contract over tar shards:
    * each call lands ONLY the new generation's tars under
    * `split=…/gen=N/shard-NNNNNN.tar` and UNIONS the manifest, through
    * the same generation-commit protocol
    * ([[CorpusExport.appendGeneration]]: guards, replay rule, monotone
    * `shard_id`, staged manifest commit). A trainer-side reader follows
    * new generations live via [[readWebDatasetStream]]. */
  def exportWebDatasetIncremental(delta: DataFrame, idCol: String,
                                  contentCols: Seq[String],
                                  outDir: String, generation: Long,
                                  targetShardBytes: Long = 256L * 1024 * 1024,
                                  cuts: Seq[(String, Int)] =
                                    Seq("train" -> 14, "val" -> 15,
                                      "test" -> 16)): DataFrame = {
    require(generation >= 0, "generation must be >= 0")
    require(targetShardBytes > 0, "targetShardBytes must be positive")
    require(contentCols.nonEmpty, "contentCols must be non-empty")
    require(contentCols.forall(!_.contains(".")),
      s"exportWebDatasetIncremental: content column names must not " +
        s"contain '.' " +
        s"(got ${contentCols.filter(_.contains(".")).mkString(", ")})")
    Joins.requireFreeColumns("exportWebDatasetIncremental", delta.columns,
      "split", "gen", "__shard", "__key", "__b", "__h", "__hl",
      "__gidx", "__tok")
    val spark = delta.sparkSession
    val labeled = Pipelines.splitByMd5Prefix(delta, idCol, cuts)
    CorpusExport.appendGeneration("exportWebDatasetIncremental", spark,
        outDir, generation, shardGlob = "shard-*.tar")(
      root => writeTarShards(labeled, idCol, contentCols, root,
        targetShardBytes, gen = Some(generation)),
      () => buildTarManifest(spark, outDir, contentCols,
        binaryColsOf(labeled, contentCols),
        s"split=*/gen=$generation/shard-*.tar"))
  }

  /** Content columns stored RAW (binary) rather than as UTF-8 strings:
    * a string cast would mangle any non-UTF-8 byte sequence. */
  private def binaryColsOf(df: DataFrame, contentCols: Seq[String])
      : Set[String] =
    contentCols.filter(c =>
      df.schema(c).dataType == org.apache.spark.sql.types.BinaryType).toSet

  /** The shared encode → size → route → write core of both exports:
    * key-integrity audit, tar-framing size probe, per-(split, shard)
    * routing with identity-token task placement, and the streaming tar
    * write (into `split=…/` or `split=…/gen=N/` per `gen`). */
  private def writeTarShards(labeled: DataFrame, idCol: String,
                             contentCols: Seq[String], outDir: String,
                             targetShardBytes: Long,
                             gen: Option[Long]): Unit = {
    val spark = labeled.sparkSession
    // binary columns (the multimodal payload case) pass through RAW;
    // all other types store their string form in UTF-8
    val binaryCols = binaryColsOf(labeled, contentCols)
    def payloadCol(c: String) =
      if (binaryCols(c)) col(c) else col(c).cast("string")
    // exact tar framing per member: 512 B header + payload padded to 512
    val memberBytes = contentCols.map { c =>
      when(col(c).isNull, lit(0L))
        .otherwise(lit(512L) +
          ceil(octet_length(payloadCol(c)).cast("double") / 512.0)
            .cast("long") * 512L)
    }.reduce(_ + _)
    // coalesce: avg over an EMPTY corpus is NULL — an empty export must
    // degrade to an empty layout, not a bare NullPointerException.
    // The same pass audits key integrity: duplicate (or null) keys
    // would write duplicate {key}.{col} members that the reader's
    // groupBy __key merges into ONE sample — rows undercounts and the
    // per-sample hash concatenates both values, silently breaking the
    // manifest ≡ table contract — so they refuse loudly instead.
    // ONE per-split aggregation pass serves both the sizing/key audit
    // and the split counts (previously two separate full-scan jobs).
    // Equivalence: member-byte terms are integer-valued doubles, so the
    // per-split sums recombine to EXACTLY the old global avg's value
    // (exact integer addition in any order below 2^53); per-split
    // distinct-key counts sum to the global distinct count because the
    // split label is a function of the id (a duplicate key can only
    // collide within its own split).
    val statRows = labeled
      .select(col("split"), memberBytes.as("__b"),
        col(idCol).cast("string").as("__key"))
      .groupBy("split")
      .agg(sum(col("__b").cast("double")).as("bs"), count(lit(1)).as("n"),
        count(col("__key")).as("nk"), count_distinct(col("__key")).as("nd"))
      .collect()
    val nAll = statRows.map(_.getLong(2)).sum
    val nkAll = statRows.map(_.getLong(3)).sum
    val ndAll = statRows.map(_.getLong(4)).sum
    require(nAll == nkAll,
      s"WebDataset export: idCol '$idCol' holds null keys " +
        s"(${nAll - nkAll} of ${nAll} " +
        "rows) — every sample needs a key to name its members")
    require(nkAll == ndAll,
      s"WebDataset export: idCol '$idCol' is not unique " +
        s"(${nkAll} rows, ${ndAll} distinct keys) — " +
        "duplicate keys merge into one WebDataset sample and corrupt " +
        "the manifest ≡ table contract; dedup upstream first")
    val bAll =
      if (nAll > 0) statRows.map(_.getDouble(1)).sum / nAll else 1.0
    val bytesPerSample = math.max(1.0, bAll)
    val rowsPerShard = math.max(1L, (targetShardBytes / bytesPerSample).toLong)
    val (shardsPerSplit, kExpr, totalShards) = CorpusExport.shardPlan(
      statRows.map(r => r.getString(0) -> r.getLong(2)).toMap, rowsPerShard)
    val cols = contentCols
    // writer-task balance: hash-repartitioning on (split, __shard)
    // collides distinct shards into shared tasks and leaves others idle
    // (~37% of slots empty at 400 shards by the birthday bound, with
    // multi-tar stragglers setting the wall clock). Instead each
    // (split, shard) gets a DENSE global index, and a driver-computed
    // token per index — chosen so Spark's own hash partitioner places
    // it EXACTLY on partition #index — routes every shard to its own
    // writer task: one task, one tar, no idle slots. Content routing
    // (pmod(xxhash64(id), k)) is untouched, so shard bytes and manifest
    // hashes are identical to the collision-prone layout.
    val splitOrder = shardsPerSplit.keys.toSeq.sorted
    val offsets = {
      var acc = 0L
      splitOrder.map { sp =>
        val o = acc; acc += shardsPerSplit(sp); sp -> o
      }.toMap
    }
    val gidxExpr = splitOrder.foldLeft(lit(0L)) { case (els, sp) =>
      when(col("split") === sp, lit(offsets(sp)) + col("__shard"))
        .otherwise(els)
    }
    import spark.implicits._
    val tokDf = identityTokens(totalShards).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toSeq.toDF("__gidx", "__tok")
    val projected = labeled
      .withColumn("__shard", pmod(xxhash64(col(idCol)), kExpr))
      .withColumn("__gidx", gidxExpr)
      .join(broadcast(tokDf), "__gidx")
      .select(col("split") +: col("__shard") +:
        col(idCol).cast("string").as("__key") +:
        cols.map(c => payloadCol(c).as(c)) :+ col("__tok"): _*)
      .repartition(totalShards, col("__tok"))
      .drop("__tok")
      .sortWithinPartitions("split", "__shard", "__key")
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val out = outDir
    val isBinary = cols.map(binaryCols).toArray
    val genSub = gen.map(g => s"gen=$g")
    projected.foreachPartition { (it: Iterator[Row]) =>
      writePartitionTars(it, out, cols, isBinary, serConf.value, genSub)
    }
  }

  /** One routing token per partition index: token[p] is the smallest
    * non-negative long whose Spark hash-partition assignment
    * (pmod(murmur3(long, seed 42), n) — exactly what
    * `repartition(n, col)` computes for a long column) equals p, so a
    * frame repartitioned on the token column lands each index on ITS
    * OWN partition. Coupon-collector search: ~n·ln(n) murmur
    * evaluations (a few ms even at the ~400k shards of a 100 TB
    * export), with a loud trial cap. The placement contract is
    * asserted end-to-end in SinkLayoutSuite via spark_partition_id. */
  private[graft] def identityTokens(n: Int): Array[Long] = {
    require(n >= 1, "identityTokens needs n >= 1")
    val toks = new Array[Long](n)
    val found = new Array[Boolean](n)
    var remaining = n
    var t = 0L
    val maxTrials = 1000L * n + 100000L
    while (remaining > 0 && t < maxTrials) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(t, 42)
      val p = ((h % n) + n) % n
      if (!found(p)) { found(p) = true; toks(p) = t; remaining -= 1 }
      t += 1
    }
    require(remaining == 0,
      s"identityTokens: ${remaining} of $n partitions uncovered after " +
        s"$maxTrials trials — hash family assumption broken")
    toks
  }

  /** Stream one writer task's rows — sorted by (split, shard, key) —
    * into one tar per (split, shard) run. Write-then-rename commit:
    * a crash leaves only `.inprogress` files, which readers and the
    * manifest never see. */
  private def writePartitionTars(it: Iterator[Row], outDir: String,
                                 contentCols: Seq[String],
                                 isBinary: Array[Boolean],
                                 conf: org.apache.hadoop.conf.Configuration,
                                 genSub: Option[String] = None)
      : Unit = {
    val root = new org.apache.hadoop.fs.Path(outDir)
    val fs = root.getFileSystem(conf)
    var cur: Option[(String, Long,
      org.apache.hadoop.fs.FSDataOutputStream,
      org.apache.hadoop.fs.Path,
      org.apache.hadoop.fs.Path)] = None
    def close(): Unit = cur.foreach { case (_, _, os, tmp, fin) =>
      os.write(new Array[Byte](1024)) // two zero end-of-archive blocks
      os.close()
      // If OUR tmp is gone, a winning attempt's committer swept it while
      // this (loser) attempt was still writing — on filesystems where an
      // open handle survives unlink (local FS) the write above completed
      // into an unlinked inode. The winner already committed
      // byte-identical content; touching `fin` here would DELETE the
      // committed tar and the rename would fail on the swept tmp,
      // leaving the shard absent from data and manifest. Skip the
      // commit entirely instead.
      if (fs.exists(tmp)) {
        if (fs.exists(fin)) fs.delete(fin, false)
        require(fs.rename(tmp, fin), s"rename $tmp -> $fin failed")
        // best-effort sweep of LOSER attempts' staging files: our own
        // tmp was just renamed away, so any remaining .inprogress-* for
        // this shard is a killed speculative/retried attempt's leftover
        // — the attempt-unique names that prevent mid-write truncation
        // would otherwise accumulate in long-lived incremental dirs. A
        // loser still writing may recreate its file once (bounded: one
        // per kill), which the next committer's sweep removes — and the
        // loser's own close() sees its tmp swept and stands down (the
        // exists guard above).
        Option(fs.globStatus(new org.apache.hadoop.fs.Path(
            fin.getParent, fin.getName + ".inprogress-*")))
          .getOrElse(Array.empty[org.apache.hadoop.fs.FileStatus])
          .foreach(st => fs.delete(st.getPath, false))
      }
      cur = None
    }
    it.foreach { r =>
      val split = r.getString(0)
      val shard = r.getLong(1)
      if (!cur.exists(c => c._1 == split && c._2 == shard)) {
        close()
        val dir = genSub.foldLeft(
          new org.apache.hadoop.fs.Path(root, s"split=$split"))(
          (d, g) => new org.apache.hadoop.fs.Path(d, g))
        fs.mkdirs(dir)
        val fin = new org.apache.hadoop.fs.Path(dir, f"shard-$shard%06d.tar")
        // staging name carries the task ATTEMPT id: with speculative
        // execution or a racing retry, a shared tmp path would let a
        // second attempt's create(overwrite) truncate the file the
        // first is still writing, and the loser's delete-then-rename
        // could commit a corrupt tar under the final name. Distinct
        // attempt suffixes make the rename last-writer-wins on
        // byte-identical content instead.
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        val tmp = new org.apache.hadoop.fs.Path(dir,
          f"shard-$shard%06d.tar.inprogress-$attempt")
        if (fs.exists(tmp)) fs.delete(tmp, false)
        cur = Some((split, shard, fs.create(tmp, true), tmp, fin))
      }
      val os = cur.get._3
      val key = r.getString(2)
      var wrote = false
      def member(c: String, payload: Array[Byte]): Unit = {
        os.write(tarHeader(s"$key.$c", payload.length.toLong))
        os.write(payload)
        val pad = (512 - payload.length % 512) % 512
        if (pad > 0) os.write(new Array[Byte](pad))
        wrote = true
      }
      contentCols.zipWithIndex.foreach { case (c, i) =>
        if (!r.isNullAt(3 + i))
          member(c,
            if (isBinary(i)) r.getAs[Array[Byte]](3 + i)
            else r.getString(3 + i).getBytes("UTF-8"))
      }
      // a sample whose content columns are ALL null must still LAND —
      // a zero-member sample would silently vanish from rows and
      // checksums. One empty member keeps manifest ≡ table: it hashes
      // as "", exactly concat_ws's fold over all-null columns
      if (!wrote) member(contentCols.head, Array.emptyByteArray)
    }
    close()
  }

  /** One POSIX ustar header block: regular file, mode 0644, uid/gid 0,
    * mtime 0 — every field deterministic, so shard bytes reproduce. */
  private[graft] def tarHeader(name: String, size: Long): Array[Byte] = {
    val nameBytes = name.getBytes("UTF-8")
    require(nameBytes.length <= 100,
      s"tar member name exceeds ustar's 100-byte limit: $name")
    val h = new Array[Byte](512)
    def put(s: String, off: Int): Unit = {
      val b = s.getBytes("UTF-8")
      System.arraycopy(b, 0, h, off, b.length)
    }
    System.arraycopy(nameBytes, 0, h, 0, nameBytes.length)
    put("0000644", 100) // mode
    put("0000000", 108) // uid
    put("0000000", 116) // gid
    put(f"$size%011o", 124)
    put("00000000000", 136) // mtime 0
    java.util.Arrays.fill(h, 148, 156, ' '.toByte) // chksum as spaces
    h(156) = '0' // typeflag: regular file
    put("ustar", 257); h(262) = 0 // magic "ustar\0"
    h(263) = '0'; h(264) = '0' // version "00"
    val sum = h.map(_ & 0xff).sum
    put(f"$sum%06o", 148)
    h(154) = 0; h(155) = ' '.toByte
    h
  }

  /** Parse one ustar archive into (member name, payload). Validates
    * each header's checksum — a bit flip in a committed shard fails
    * here, not as silently corrupt training data. */
  private[graft] def parseTar(bytes: Array[Byte])
      : Seq[(String, Array[Byte])] = {
    val out = Seq.newBuilder[(String, Array[Byte])]
    var off = 0
    while (off + 512 <= bytes.length && bytes(off) != 0) {
      val name = {
        var end = 0
        while (end < 100 && bytes(off + end) != 0) end += 1
        new String(bytes, off, end, "UTF-8")
      }
      val stored = new String(bytes, off + 148, 8).takeWhile(c =>
        c >= '0' && c <= '7')
      val header = java.util.Arrays.copyOfRange(bytes, off, off + 512)
      java.util.Arrays.fill(header, 148, 156, ' '.toByte)
      val sum = header.map(_ & 0xff).sum
      require(java.lang.Long.parseLong(stored, 8) == sum,
        s"tar header checksum mismatch for member '$name'")
      val sizeStr = new String(bytes, off + 124, 12).takeWhile(c =>
        c >= '0' && c <= '7')
      val size = java.lang.Long.parseLong(sizeStr, 8)
      // copyOfRange zero-pads past the end of the array: a shard
      // truncated mid-member (partial copy, storage fault) would parse
      // "successfully" with a zero-filled payload — corruption must
      // fail loudly, not become silent training data
      require(off + 512L + size <= bytes.length,
        s"truncated tar: member '$name' claims $size bytes but the " +
          s"archive ends ${bytes.length - off - 512} bytes in")
      val data = java.util.Arrays.copyOfRange(bytes, off + 512,
        off + 512 + size.toInt)
      out += name -> data
      off += 512 + ((size + 511) / 512).toInt * 512
    }
    out.result()
  }

  /** The committed shards decoded back to member granularity:
    * (split, shard_path, shard_bytes, member, content). Distributed —
    * one binaryFile scan over the tars, ustar-parsed per file. `glob`
    * selects the layout: the default flat export, or the gen-nested
    * glob (split=… then gen=… then shard tars) that
    * [[exportWebDatasetIncremental]] writes. */
  def readWebDataset(spark: SparkSession, dir: String,
                     glob: String = "split=*/shard-*.tar"): DataFrame =
    decodeTarFiles(spark.read.format("binaryFile").load(s"$dir/$glob"))

  /** The STREAMING side of [[readWebDataset]] — the trainer-resume
    * ingest flow: a binaryFile file-stream source over the committed
    * tar glob (defaulting to [[exportWebDatasetIncremental]]'s
    * generation layout), ustar-parsed to the same member-granularity
    * schema. As generations land, the stream delivers each committed
    * shard's members exactly once (file sources track consumed PATHS
    * in the checkpoint). Caveat that follows from path tracking: a
    * REPLAYED generation rewrites the same shard paths, so an
    * already-running stream does not re-deliver them — mount the
    * stream against a corpus whose replays happen before trainers
    * attach, or key resume offsets off the manifest. `.inprogress-*`
    * staging files never match the glob, so a crash mid-write is
    * invisible here. */
  def readWebDatasetStream(spark: SparkSession, dir: String,
                           glob: String = "split=*/gen=*/shard-*.tar")
      : DataFrame =
    // binaryFile's schema is FIXED by the format, but a streaming file
    // source refuses to start without an explicit one — spell it out
    decodeTarFiles(spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, " +
        "length LONG, content BINARY")
      .load(s"$dir/$glob"))

  private def decodeTarFiles(files: DataFrame): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col("path"), col("length"), col("content"))
      .as[(String, Long, Array[Byte])]
      .flatMap { case (path, len, bytes) =>
        parseTar(bytes).map { case (m, c) => (path, len, m, c) }
      }
      .toDF("shard_path", "shard_bytes", "member", "content")
      .withColumn("split",
        regexp_extract(col("shard_path"), "split=([^/]+)/", 1))
  }

  /** Manifest from the committed tars: per shard (split, shard_path,
    * rows, bytes, content_md5, content_xor) — per-sample hash =
    * md5 of the sample's members joined in `contentCols` order (the
    * concat_ws skip-nulls fold), identical to the other exports'. */
  private[graft] def buildTarManifest(spark: SparkSession, dir: String,
                                      contentCols: Seq[String],
                                      binaryCols: Set[String] = Set.empty,
                                      glob: String = "split=*/shard-*.tar")
      : DataFrame = {
    val colIdx = contentCols.zipWithIndex.toMap
    val idxOf = colIdx.foldLeft(lit(-1)) { case (els, (c, i)) =>
      when(expr(s"substring(member, length(member) - ${c.length})") ===
        s".$c", lit(i)).otherwise(els)
    }
    val members = readWebDataset(spark, dir, glob)
      .withColumn("__i", idxOf)
      .withColumn("__key", expr(
        "substring(member, 1, length(member) - length(" +
          "element_at(split(member, '\\\\.'), -1)) - 1)"))
    // binary-origin members hash through HEX (lossless for arbitrary
    // bytes); everything else hashes its UTF-8 string form — identical
    // to the pre-binary behavior for string columns
    val binaryIdx = contentCols.zipWithIndex.collect {
      case (c, i) if binaryCols(c) => i
    }.toSet
    val hashVal =
      if (binaryIdx.isEmpty) col("content").cast("string")
      else when(col("__i").isInCollection(binaryIdx.map(Int.box)),
        hex(col("content"))).otherwise(col("content").cast("string"))
    val perSample = members
      .groupBy("split", "shard_path", "shard_bytes", "__key")
      .agg(md5(array_join(transform(
        sort_array(collect_list(struct(col("__i"),
          hashVal.as("__v")))),
        x => x.getField("__v")), "\u0001")).as("__h"))
      .withColumn("__hl",
        conv(substring(col("__h"), 1, 15), 16, 10).cast("long"))
    perSample
      .groupBy("split", "shard_path")
      .agg(count(lit(1)).as("rows"),
        max(col("shard_bytes")).as("bytes"),
        md5(concat_ws("", sort_array(collect_list(col("__h")))))
          .as("content_md5"),
        expr("bit_xor(__hl)").as("content_xor"))
      .select("split", "shard_path", "rows", "bytes",
        "content_md5", "content_xor")
  }
}
