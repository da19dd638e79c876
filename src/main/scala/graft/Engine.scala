package graft

import graft.sources.{NioLocalFileSystem, NioLocalFs}
import org.apache.spark.sql.SparkSession

/** Session factory with the engine's pinned configuration (SURVEY §4.3).
  *
  * Design point is a 1000-executor cluster over ~100 TB; the configs below
  * are the scale-relevant defaults (AQE on, skew-join split, coalesced
  * shuffle partitions, 128 MB scan splits) verified locally on `local[32]`.
  * Everything is set on the builder so t2/bench runs are reproducible.
  */
object Engine {

  /** Configs shared by every entry point (Verify/Bench/tests). */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // 128 MB scan splits: the right granularity for 100 TB parquet/ORC
      // scans (≈800k tasks at 100 TB — amortized by executor count).
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      // dims (region/nation/customer at tested SFs) stay broadcast-able
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.orc.impl", "native")
      // runtime bloom-filter semi-join reduction: a selectively-filtered
      // dim side builds a bloom filter that prunes the fact scan BEFORE
      // its shuffle — the big lever on selective star joins too large to
      // broadcast. Spark's default application-side gate (≥10 GB scan)
      // is right for the 100 TB target; pinned here (at its default) so
      // the posture is explicit config, and PlanShapeSuite demonstrates
      // the rewrite engages when the gate clears.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // older fixture generations wrote events.ts as TIMESTAMP(NANOS),
      // which Spark's reader rejects unless read as INT64; pinned here so
      // the behavior is explicit session config, not a loader side effect.
      // Harmless for the current timestamp[us] fixtures — Tables.events
      // adapts on the analyzed dataType either way (r9 drift postmortem).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      // codegen class cache sized ABOVE the engine's query working set
      // (static conf, default 100): a long-lived driver cycling >100
      // distinct plans evicts on every pass, paying Janino recompilation
      // and a fresh JIT profile per query per pass — measured as the
      // r13 bench's recurring median-only tail (CPU-bound stalls with
      // zero GC on the interpretation-heavy entries; BASELINE.md q48
      // root-cause). 1024 × ~100 KB generated classes ≈ 100 MB driver
      // metaspace at worst — cheap insurance for any multi-tenant driver.
      // (env override exists for A/B-measuring the eviction effect only)
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "1024"))
      // NOTE on parquet timestamps: Spark's INT96 default carries no
      // usable min/max stats, so time predicates prune ZERO row groups.
      // A production deployment should pin outputTimestampType =
      // TIMESTAMP_MICROS globally; here it stays default because the t2
      // oracle canonicalizes INT96 as naive and micros as tz-aware
      // (hash-breaking), and there is no per-write parquet option —
      // sources.Layout.writeRangeClustered scopes the conf around its
      // own writes instead (SinkLayoutSuite measures the 12x win).
      .config("spark.ui.enabled", "false")
      // file:// through java.nio instead of shell forks: without libhadoop,
      // Hadoop's local filesystem forks `chmod` for every file and `.crc`
      // the sink writes and `readlink` on every checkpoint-log create and
      // rename — ~74 process starts per CDC micro-batch (OPTIMIZATION_r20.md).
      // Only the `file` scheme changes; HDFS/S3 paths are untouched.
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)

  def session(appName: String = "graft", cores: Int = 32): SparkSession = {
    val s = configure(
      SparkSession.builder().master(s"local[$cores]").appName(appName),
      shufflePartitions = cores
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
