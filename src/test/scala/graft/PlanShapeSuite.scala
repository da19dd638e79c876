package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions (SURVEY §5.6): the physical plans the 100 TB
  * posture depends on — broadcast for dims, SMJ/shuffled-hash for
  * large-large, TakeOrderedAndProject for top-k, pushed filters and
  * partition pruning at the scans. */
class PlanShapeSuite extends AnyFunSuite {
  import TestSpark.{sfDir, spark}

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("J2: star-join dims broadcast (Q7)") {
    assert(plan(Queries.q7(spark, sfDir)).contains("BroadcastHashJoin"))
  }

  test("J3: large-large join does not broadcast the fact side (Q8)") {
    val p = plan(
      Queries.q8(spark, sfDir).withColumn("x", lit(1))) // avoid cached reuse
    // lineitem⋈orders at scale: sort-merge or shuffled hash, never nested loop
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin")) // tiny test SF may still broadcast
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("O2: global top-k plans as TakeOrderedAndProject (Q26)") {
    assert(plan(Queries.q26(spark, sfDir)).contains("TakeOrderedAndProject"))
  }

  test("L4r: BM25 plans broadcast df/stats joins and a TakeOrdered top-k, no global sort") {
    val p = plan(graft.operators.TextAnalysis.bm25TopDocs(
      Tables.documents(spark, sfDir), "doc_id", "text",
      Seq("vector", "stream", "merge"), k = 10))
    // df (≤|query| rows) and the 1-row corpus stats must broadcast; the
    // corpus-wide top-k must be TakeOrderedAndProject (the window ranks
    // only the k survivors); nothing may nested-loop over postings
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), // the 1-row stats crossJoin
      "expected the broadcast stats crossJoin in:\n" + p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("corpus-prep projections are shuffle-free; bigram top-k is TakeOrdered") {
    import graft.operators.{Pipelines, TextAnalysis}
    val docs = Tables.documents(spark, sfDir)
    // split, scrub, winnow: pure per-row column algebra — at 100 TB these
    // must stream through the scan with zero Exchanges
    for (df <- Seq(
        Pipelines.splitByMd5Prefix(docs, "doc_id"),
        docs.select(Pipelines.scrubPii(col("text")).as("t")),
        TextAnalysis.winnowFingerprints(docs, "doc_id", "text"))) {
      val p = plan(df)
      assert(!p.contains("Exchange"), p)
    }
    // the corpus n-gram profile's top-k must never be a global sort
    val pb = plan(Queries.xBigramTopK(spark, sfDir))
    assert(pb.contains("TakeOrderedAndProject"), pb)
  }

  test("L4g/L4q: repetition stats and quality flags are shuffle-free projections") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sfDir)
    for (df <- Seq(
        TextAnalysis.repetitionStats(docs, "doc_id", "text"),
        TextAnalysis.gopherQualityFlags(docs, "doc_id", "text"),
        graft.operators.Pipelines.mixtureSampleByMd5(
          docs.select("doc_id", "lang"), "lang", "doc_id",
          rates = Map("en" -> 128)))) {
      val p = plan(df)
      assert(!p.contains("Exchange"), p)
    }
  }

  test("sequence packing plans exactly one shuffle (the shard key) + one window") {
    import graft.operators.Pipelines
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).as("nt"))
    val p = plan(Pipelines.packSequences(docs, "doc_id", "nt",
      capacity = 256, shards = 8))
    // one hashpartitioning Exchange on the shard key feeds the running-sum
    // window; a second Exchange would mean the window re-partitioned
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(p.contains("Window"), p)
  }

  test("decontamination fp join: equi-join with map-side pair-count combine, never NLJ") {
    val p = plan(Queries.xDecontam(spark, sfDir))
    assert(!p.contains("NestedLoop"), p)
    // the (eval, corpus) pair counts partial-aggregate before shuffling
    assert(p.contains("partial_count"), p)
  }

  test("P2: predicate pushdown reaches the parquet scan (Q4)") {
    val p = plan(Queries.q4(spark, sfDir))
    assert(p.contains("PushedFilters: [") && p.contains("IsNotNull"), p)
  }

  test("column pruning: 2-column projection reads a 2-column schema (Q3)") {
    val p = plan(Queries.q3(spark, sfDir))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && !readSchema.contains("l_shipdate"), readSchema)
  }

  test("partition pruning: c_date filter prunes ORC partition dirs") {
    val wh = Files.createTempDirectory("graft_pp").toString
    spark.range(100)
      .select(col("id"), when(col("id") % 2 === 0, "2024-01-01")
        .otherwise("2024-01-02").as("c_date"))
      .write.format("orc").partitionBy("c_date").save(s"$wh/t")
    val q = spark.read.orc(s"$wh/t").where(col("c_date") === "2024-01-01")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("2024-01-01"), scan)
    assert(q.count() == 50L)
  }

  test("DPP: date-partitioned fact ⋈ filtered dim gets dynamic partition pruning") {
    // the 100 TB star-join posture (SURVEY §4.2): a selective dim filter
    // must prune fact partitions at runtime, not after a full fact scan —
    // the fact side's PartitionFilters must carry a dynamicpruning
    // subquery fed by the broadcast dim, so only the matching c_date
    // directories are ever read
    val wh = Files.createTempDirectory("graft_dpp").toString
    import spark.implicits._
    spark.range(1000)
      .select(col("id"),
        concat(lit("2024-01-0"), (col("id") % 5 + 1).cast("string")).as("c_date"))
      .write.format("orc").partitionBy("c_date").save(s"$wh/fact")
    // the dim must be file-backed: an in-memory Seq collapses to a
    // LocalRelation under ConvertToLocalRelation (the filter is folded
    // away before the DPP rule can see a selective predicate)
    (1 to 5).map(d => (s"2024-01-0$d", if (d == 3) "hot" else "cold"))
      .toDF("c_date", "tier")
      .write.format("orc").save(s"$wh/dim")
    val fact = spark.read.orc(s"$wh/fact")
    val dim = spark.read.orc(s"$wh/dim")
    val joined = fact.join(broadcast(dim), "c_date").where(col("tier") === "hot")
      .groupBy("c_date").agg(count(lit(1)).as("n"))
    val p = plan(joined)
    assert(p.toLowerCase.contains("dynamicpruning"), p)
    val rows = joined.collect()
    assert(rows.length == 1 && rows.head.getLong(1) == 200L, rows.toSeq)
  }

  test("J7/J8: custom time joins stay equi-join shaped (never NLJ/cartesian)") {
    // J7: the bucketing helper must surface a genuine equi-join (hash or
    // sort-merge keyed on (key, bucket)) — a theta-only condition would
    // silently degrade to BroadcastNestedLoop and O(n·m) at scale
    val p12 = plan(Queries.q12(spark, sfDir))
    assert(!p12.contains("BroadcastNestedLoopJoin") && !p12.contains("CartesianProduct"), p12)
    assert(p12.contains("BroadcastHashJoin") || p12.contains("SortMergeJoin")
      || p12.contains("ShuffledHashJoin"), p12)
    val p13 = plan(Queries.q13(spark, sfDir))
    assert(!p13.contains("BroadcastNestedLoopJoin") && !p13.contains("CartesianProduct"), p13)
    // as-of is union+window: exactly zero joins in the plan
    assert(!p13.contains("Join"), p13)
    // ... and the running-max window is keyed (partitionBy __key): an
    // unpartitioned window would serialize the whole stream on one task
    val winLine = p13.linesIterator.find(_.contains("Window")).getOrElse("")
    assert(winLine.contains("__key"), s"as-of window not keyed:\n$p13")
  }

  test("embedding near-dup candidate front plans equi-joins only") {
    // the block kernel must consume candidate block pairs via equi joins —
    // a non-equi join over block rows is the O(B²) nested loop we removed
    val p = plan(Queries.xEmbedNearDup(spark, sfDir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("L3s: semDeDup pair probe is a cell-keyed equi-join, window-free") {
    // the within-cell pairwise probe must be an equi hash/merge join on
    // the cell id (AQE-splittable on skewed cells) — a theta/nested-loop
    // form would be the corpus² plan the cell front exists to avoid; no
    // window anywhere (the keep rule is a join + projection, not a rank)
    val p = plan(graft.operators.Similarity.semDeDup(
      Tables.embeddings(spark, sfDir), "vec_id", "embedding", tau = 0.4))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
  }

  test("L5p: media pHash pairs ride the equi-join front, window-free") {
    // same contract as the token-simhash front: probe-table equi-join,
    // never an all-pairs nested loop over fingerprints
    val p = plan(Queries.xMediaPhash(spark, sfDir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
  }

  test("bucketed tables join without an Exchange (co-located join)") {
    import graft.operators.Joins
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey", "o_totalprice")
    val c = Tables.customer(spark, sfDir).select("c_custkey", "c_name")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Joins.writeBucketed(o, "b_orders", "o_custkey", 8)
      Joins.writeBucketed(c.withColumnRenamed("c_custkey", "o_custkey"),
        "b_customer", "o_custkey", 8)
      val j = spark.table("b_orders").join(spark.table("b_customer"), "o_custkey")
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), p)
      assert(j.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("int8 quantization audit is a pure projection — zero Exchange in the plan") {
    import graft.operators.Similarity
    val df = Similarity.int8QuantAudit(
      Tables.embeddings(spark, sfDir), "vec_id", "embedding")
    df.collect()
    val p = plan(df)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Window"), p)
  }

  test("bpeEncodeWith: the word mapping joins BROADCAST — the exploded token stream never sort-merges") {
    import graft.operators.Pipelines
    val docs = Tables.documents(spark, sfDir)
    val model = Pipelines.bpeTrainModel(docs, "text", numMerges = 10)
    val df = Pipelines.bpeEncodeWith(docs, "doc_id", "text", model)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("bpeEncodeWith: past broadcastWordCap the mapping shuffle-joins instead (8 GB broadcast safety valve), hash-identically") {
    import graft.operators.Pipelines
    val docs = Tables.documents(spark, sfDir)
    val model = Pipelines.bpeTrainModel(docs, "text", numMerges = 10)
    val small = Pipelines.bpeEncodeWith(docs, "doc_id", "text", model)
    val a = small.orderBy("doc_id").collect()
    // auto-broadcast off while probing the above-cap shape: at the toy
    // test SF the planner would otherwise broadcast the STREAM side on
    // size stats, which a 100 TB corpus never permits. Restored in
    // finally — TestSpark's session is shared across suites.
    val restore = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val b = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val big = Pipelines.bpeEncodeWith(docs, "doc_id", "text", model,
        broadcastWordCap = 0L)
      val rows = big.orderBy("doc_id").collect()
      val p = plan(big)
      // above the cap the vocabulary-sized mapping must NOT broadcast —
      // the planner keys both sides through an exchange instead
      assert(!p.contains("BroadcastHashJoin"), p)
      rows
    } finally restore.fold(
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
    assert(a.sameElements(b), "broadcast and shuffle-join modes diverged")
  }

  test("tokenBudgetRates: both totals broadcast onto the strata frame — no strata-side shuffle join") {
    import graft.operators.Pipelines
    val df = Pipelines.tokenBudgetRates(
      Tables.documents(spark, sfDir), "lang", "text", budgetTokens = 50000L)
    df.collect()
    val p = plan(df)
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"), p)
  }

  test("saltedJoin: a planted hot key never lands whole in one post-shuffle partition") {
    import graft.operators.Joins
    // one key carries 80% of the fact side — past what AQE's skew split
    // can rescue when a single key hashes into a single bucket. Compare
    // the fact side's post-shuffle layout with and without the salt:
    // unsalted, some partition must hold ALL hot rows; salted, the hot
    // key fans out across (key, salt) cells and no partition may exceed
    // the salt bound.
    val hot = 80000L
    val fact = spark.range(100000).select(
      when(col("id") < hot, lit(7L)).otherwise(col("id")).as("k"),
      col("id").as("v"))
    val salts = 8
    def maxPartRows(df: org.apache.spark.sql.DataFrame): Long =
      df.groupBy(spark_partition_id().as("pid")).count()
        .agg(max("count")).collect().head.getLong(0)
    val unsalted = maxPartRows(fact.repartition(32, col("k")))
    assert(unsalted >= hot, s"unsalted max=$unsalted") // the failure mode
    // replicate the salted join's left-side shuffle key (k, __salt)
    val salted = maxPartRows(fact
      .withColumn("__salt",
        pmod(xxhash64(monotonically_increasing_id()), lit(salts.toLong)))
      .repartition(32, col("k"), col("__salt")))
    // salt bound: ~hot/salts per cell; allow 2 hot cells colliding into
    // one partition plus the uniform remainder — still 4x under unsalted
    assert(salted <= 2L * (hot / salts) * 3 / 2 + (100000L - hot),
      s"salted max=$salted vs unsalted=$unsalted")
    // and the end-to-end operator output is still the plain join
    // (dim covers the hot key, so the skewed matches are exercised)
    val dim = spark.range(0, 100000, 2500)
      .select(col("id").as("k"), (col("id") * 10).as("d"))
      .union(spark.range(1).select(lit(7L), lit(70L)))
    val plain = fact.join(dim, "k").count()
    assert(plain >= hot, s"plain join count=$plain")
    assert(Joins.saltedJoin(fact, dim, "k", salts).count() == plain)
  }

  test("salted join equals plain join (skew mitigation is transparent)") {
    import graft.operators.Joins
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("o_custkey"), col("c_name"))
    val plain = o.join(c, "o_custkey").count()
    val salted = Joins.saltedJoin(o, c, "o_custkey", saltFactor = 8).count()
    assert(salted == plain)
  }

  test("whole-stage codegen covers the hot aggregate path (Q14)") {
    val df = Queries.q14(spark, sfDir)
    df.collect() // finalize the adaptive plan first
    // AQE's string form marks WholeStageCodegen spans as "*(n) Op"
    val p = plan(df)
    assert(p.contains("WholeStageCodegen") || p.contains("*(1)"), p)
  }

  test("CDC decode runs once per row — no UDF, 2 from_json and 1 lower") {
    // The ingest path runs on every record, so the decode chain (lower,
    // from_json of the envelope, from_json of its double-encoded `value`)
    // must be evaluated once per row and never through a UDF. Spark 4.1
    // runs from_json outside WholeStageCodegen (its Filter/Project/Generate
    // carry no codegen id), so the check is on the executed expressions:
    // the job's parseGood decode and the dead-letter filter each hold ONE
    // chain; parse(goodRecords(..)) would hold two (a filter on the decoded
    // struct is pushed back below the projection and decodes again).
    import graft.jobs.CdcToOrcJob
    import graft.sources.CdcIngest
    import org.apache.spark.sql.catalyst.expressions.{Expression, JsonToStructs, Lower, ScalaUDF}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    object aqe extends AdaptiveSparkPlanHelper
    // parquet-backed payloads: a literal local table would be constant-
    // folded to a LocalTableScan, leaving no decode in the plan
    val src = CdcIngest.toEnvelope(
      Tables.customer(spark, sfDir).limit(100).select(
        col("c_custkey").as("ref"), col("c_nationkey").as("city_id"),
        col("c_name").as("city_name"),
        (col("c_custkey") * 1000L + 1704067200000L).as("c_ms")), "c_ms")
    def count(df: DataFrame)(pf: PartialFunction[Expression, Unit]): Int = {
      df.collect()
      aqe.flatMap(df.queryExecution.executedPlan)(
        _.expressions.flatMap(_.collect(pf))).size
    }
    for (df <- Seq(CdcToOrcJob.cities(src), CdcIngest.corruptRecords(src, "payload"))) {
      val p = plan(df)
      assert(count(df) { case _: JsonToStructs => } == 2, p)
      assert(count(df) { case _: Lower => } == 1, p)
      assert(count(df) { case _: ScalaUDF => } == 0, p)
      assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("udf"), p)
    }
    val twice = CdcIngest.parse(CdcIngest.goodRecords(src, "payload"), "payload")
    assert(count(twice) { case _: JsonToStructs => } == 4, plan(twice))
  }

  test("L2: SimHash banded self-join computes the fingerprint map side once (AQE ReusedExchange)") {
    // simHashNearDupPairs self-joins the fingerprint relation; the
    // tokenize+md5+60-vote partial agg below the doc_id shuffle is the
    // dominant cost at corpus scale, so AQE's stage cache must dedup it
    // (the second side reads a ReusedExchange, never rescans the corpus).
    val df = Queries.xSimHashPairs(spark, sfDir)
    df.collect() // finalize the adaptive plan
    assert(plan(df).contains("ReusedExchange"), plan(df))
  }

  test("AQE skew-join split engages at runtime on a hot-key SMJ (Engine posture)") {
    // SCALE.md claims "AQE skew split on" — demonstrate it fires, not
    // just that the conf is set. One hot key carrying 100k rows vs a
    // uniform tail; thresholds lowered so toy-scale partitions qualify,
    // broadcast disabled so the join stays SMJ/shuffled-hash. Restored
    // in finally — TestSpark's session is shared across suites.
    import spark.implicits._
    val restore = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1KB")
      val hot = (0 until 100000).map(i => (0L, s"payload_left_$i"))
      val tail = (1L to 2000L).map(k => (k, s"left_$k"))
      val left = (hot ++ tail).toDF("k", "lv")
      val right = (0L to 2000L).map(k => (k, s"right_$k")).toDF("k", "rv")
      val joined = left.join(right, "k")
      // materialize THIS dataset's own QueryExecution — a count() would
      // execute a derived plan and leave joined's AQE plan un-finalized
      assert(joined.collect().length == 100000 + 2000)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert(p.toLowerCase.contains("skew"), // AQEShuffleRead skewed marker
        s"skew split did not engage:\n$p")
    } finally restore.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("runtime bloom-filter semi-join reduction fires on a selective dim→fact SMJ (Engine posture)") {
    // Spark 4's InjectRuntimeFilter builds a bloom filter from a
    // selectively-filtered dim side and pushes might-contain onto the
    // fact scan — at 100 TB this prunes fact rows BEFORE the shuffle,
    // the single biggest lever on selective star joins that are too big
    // to broadcast. Defaults gate it on a ≥10 GB application-side scan,
    // so at test SF it silently never fires; lower the gates and
    // demonstrate the rewrite actually engages under Engine config
    // (file-sourced fact side — the injection needs scan stats).
    val restore = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val fact = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_quantity"))
      val dim = Tables.orders(spark, sfDir)
        .where(col("o_totalprice") > 500000) // selective, non-key filter
        .select(col("o_orderkey"), col("o_orderdate"))
      val joined = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.toLowerCase.contains("bloom"),
        s"runtime bloom filter not injected:\n$p")
    } finally restore.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("L4i/L4e/vocab: DSIR broadcasts the bucket table; entropy is Exchange-free; vocab top-k is TakeOrdered") {
    import graft.operators.{Pipelines, TextAnalysis}
    val docs = Tables.documents(spark, sfDir)
    // the 1024-row bucket→weight table must broadcast — a shuffled join
    // here would re-shuffle the whole token stream at 100 TB
    val pd = plan(TextAnalysis.dsirWeights(docs, "doc_id", "text",
      col("lang") === "en"))
    assert(pd.contains("BroadcastHashJoin"), pd)
    // token entropy claims zero shuffle: per-row algebra only
    val pe = plan(TextAnalysis.tokenEntropy(docs, "doc_id", "text"))
    assert(!pe.contains("Exchange"), pe)
    // the vocab curve's top-k must be TakeOrdered, never a global sort
    val pv = plan(Pipelines.vocabCoverage(docs, "text", k = 100))
    assert(pv.contains("TakeOrderedAndProject"), pv)
  }

  test("L3n/L1n/KMV: hard-negatives broadcast queries; norm-dedup and KMV are window-free") {
    import graft.operators.{Dedup, Pipelines, Similarity}
    val emb = Tables.embeddings(spark, sfDir)
    // the query side must broadcast (corpus scanned once, no shuffle of
    // raw vectors); a shuffled join here re-partitions the corpus by a
    // key that doesn't exist — only the two-phase top-k may shuffle
    val ph = plan(Similarity.hardNegatives(emb.where(col("vec_id") < 4),
      emb, "vec_id", "embedding", "label", k = 8))
    assert(ph.contains("BroadcastNestedLoopJoin"), ph)
    assert(!ph.contains("SortMergeJoin"), ph)
    val docs = Tables.documents(spark, sfDir)
    // normalized dedup labels via groupBy + join back — a window over
    // partitionBy(norm_h) would pin a mega-dup-group to one task
    val pn = plan(Dedup.normalizedDedup(docs, "doc_id", "text"))
    assert(!pn.contains("Window"), pn)
    assert(pn.contains("partial_min") || pn.contains("partial_count"), pn)
    // KMV sketches merge via partition-local min-k, never a per-group
    // global rank window over all distinct hashes
    val items = docs.select(col("source"), split(col("text"), " ").as("t"))
      .select(col("source"), explode(array_distinct(
        graft.operators.TextAnalysis.wordNgrams(col("t"), 2))).as("item"))
    val pk = plan(Pipelines.kmvOverlap(items, "source", "item", k = 64))
    assert(!pk.contains("Window"), pk)
  }

  test("L6b: star-edge bucket min is a partial agg, never a per-bucket window") {
    // a window min over partitionBy(bkey) would pin a mega-bucket (100M
    // near-identical docs sharing a band key) to ONE task; the groupBy
    // form partial-aggregates map-side and leaves the join to AQE's
    // skew split — assert the plan never regresses to the window shape
    val docs = Tables.documents(spark, sfDir).where(col("doc_id") < 100)
    val p = plan(graft.operators.Dedup.minHashLshStarEdges(docs, "doc_id", "text"))
    assert(!p.contains("Window"), p)
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
    assert(p.contains("partial_min"), p)
  }

  test("ER: linkage candidate front is an equi-join, verifier never nested-loops") {
    val p = plan(graft.operators.Linkage.editDistancePairs(
      Tables.customer(spark, sfDir), "c_custkey", "c_name",
      Seq("c_nationkey"), maxDist = 1))
    // the pigeonhole front must plan as a keyed join — a nested-loop
    // here would mean the O(len²) verifier runs on blockwise all-pairs
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("graph: one PageRank superstep is equi-join + partial agg, window-free") {
    import spark.implicits._
    // the public path checkpoints per round (plan truncates to a scan),
    // so assert on the exposed un-checkpointed superstep
    val edges = Seq(("a", "b", 1.0), ("b", "a", 1.0), ("a", "c", 2.0))
      .toDF("src", "dst", "w")
    val nodes = Seq("a", "b", "c").toDF("node")
    val frac = edges.select(col("src"), col("dst"), col("w").as("p"))
    val srcs = edges.select(col("src").as("node")).distinct()
    val ranks = nodes.select(col("node"), lit(1.0 / 3).as("r"))
    val p = plan(graft.operators.Graphs.superstep(
      nodes, frac, srcs, ranks, n = 3.0, damping = 0.85))
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    // rank-side joins are keyed; partial aggregation combines map-side;
    // the only nested-loop is the broadcast 1-row dangling-mass frame
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
    assert(p.contains("partial_sum"), p)
    assert(p.contains("BroadcastNestedLoopJoin"),
      "expected the broadcast dangling-mass crossJoin in:\n" + p)
  }

  test("graph: one PPR superstep is equi-join + partial agg, window-free") {
    import spark.implicits._
    val edges = Seq(("a", "b", 1.0), ("b", "a", 1.0), ("a", "c", 2.0))
      .toDF("src", "dst", "w")
    val nodesS = Seq(("a", 0.5), ("b", 0.5), ("c", 0.0)).toDF("node", "s")
    val frac = edges.select(col("src"), col("dst"), col("w").as("p"))
    val srcs = edges.select(col("src").as("node")).distinct()
    val ranks = nodesS.select(col("node"), col("s").as("r"))
    val p = plan(graft.operators.Graphs.pprSuperstep(
      nodesS, frac, srcs, ranks, damping = 0.85))
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_sum"), p)
    assert(p.contains("BroadcastNestedLoopJoin"),
      "expected the broadcast dangling-mass crossJoin in:\n" + p)
  }

  test("sampling: A-ES top-k plans as TakeOrderedAndProject, never a global sort") {
    val p = plan(graft.operators.Pipelines.weightedSampleByMd5(
      Tables.documents(spark, sfDir).select("doc_id", "n_chars"),
      "doc_id", "n_chars", k = 100))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Window"), p)
  }

  test("CDC: latest-wins compaction is a partial max_by groupBy, window-free") {
    import spark.implicits._
    val log = Seq((1L, 1L, 1L, "u", 1.0)).toDF("k", "t", "tie", "op", "v")
    val p = plan(graft.operators.ChangeData
      .latestSnapshot(log, Seq("k"), "t", "tie", "op"))
    // the row_number-window form ships every version of every key
    // through the shuffle; max_by combines map-side — hot CDC keys
    // (millions of updates to one row) must collapse before the shuffle
    assert(!p.contains("Window"), p)
    assert(p.contains("max_by"), p)
    assert(p.contains("partial_max_by"), p)
  }

  test("graph: LPA round is keyed join + partial agg, window-free") {
    import spark.implicits._
    val nbrs = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"))
      .toDF("node", "nbr")
    val nodes = Seq("a", "b", "c").toDF("node")
    val labels = nodes.select(col("node"), col("node").as("label"))
    val p = plan(graft.operators.Graphs.lpaRound(nodes, nbrs, labels))
    // the winner pick must be the min_by groupBy, not a per-node
    // row_number window; everything joins on a key
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("min_by"), p)
    assert(p.contains("partial_count"), p)
  }

  test("graph: HITS half-step is keyed join + partial agg, window-free") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("b", "a"), ("a", "c")).toDF("src", "dst")
    val nodes = Seq("a", "b", "c").toDF("node")
    val hubs = nodes.select(col("node"), lit(1.0 / 3).as("h"))
    val p = plan(graft.operators.Graphs
      .hitsHalfStep(nodes, e, hubs, "src", "dst", "h", "a",
        checkpoint = false))
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_sum"), p)
    // the only nested-loop is the broadcast 1-row L1 normalizer
    assert(p.contains("BroadcastNestedLoopJoin"),
      "expected the broadcast normalizer crossJoin in:\n" + p)
  }

  test("diagnostics: skew report tops-k via TakeOrdered, window only over survivors") {
    val p = plan(graft.operators.Pipelines.skewReport(
      Tables.lineitem(spark, sfDir), Seq("l_suppkey"), topK = 20))
    // the heavy-key pick must be a per-partition partial top-k, never a
    // global sort or a corpus-wide rank window; the rank window runs
    // AFTER the limit, over ≤ topK rows
    assert(p.contains("TakeOrderedAndProject"), p)
    val windowIdx = p.indexOf("Window")
    val takeIdx = p.indexOf("TakeOrderedAndProject")
    assert(windowIdx >= 0 && takeIdx > windowIdx,
      "rank window must sit above the TakeOrdered front:\n" + p)
    // the count groupBy sits below skewReport's localCheckpoint (lineage
    // truncated), so its partial agg isn't visible here; the
    // OperatorsSuite-side closed form covers its semantics
  }

  test("quality: expectations gate is one aggregation, no join, no window") {
    import graft.operators.Pipelines.Expectation._
    val p = plan(graft.operators.Pipelines.checkExpectations(
      Tables.documents(spark, sfDir), Seq(
        NotNull("text"), Unique("doc_id"),
        InRange("n_chars", 100, 400, minFrac = 0.5))))
    // N rules must never mean N passes or a rule-wise join — one
    // aggregation computes every metric (Unique adds the documented
    // multi-distinct Expand, same as profileColumns exact mode)
    assert(!p.contains("Window") && !p.contains("Join"), p)
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
  }

  test("funnel: curation funnel has no window and a partial-agg funnel count") {
    val p = plan(graft.operators.Pipelines.curationFunnel(
      Tables.documents(spark, sfDir), "doc_id", "text", "source",
      minWords = 20, keep256 = 192))
    // dedup must stay the skew-safe groupBy+join form (a window over
    // partitionBy(text) would pin a mega dup group to one task)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_count"), p)
  }

  test("PII redaction and run collapse are map-only plans: zero Exchange, zero Window") {
    val docs = Tables.documents(spark, sfDir)
    val pii = plan(graft.operators.TextAnalysis.redactPii(docs, "doc_id", "text"))
    assert(!pii.contains("Exchange") && !pii.contains("Window"), pii)
    val runs = plan(graft.operators.TextAnalysis.collapseTokenRuns(
      docs, "doc_id", "text"))
    assert(!runs.contains("Exchange") && !runs.contains("Window"), runs)
  }

  test("prefix-filtered jaccard join: keyed joins only, never all-pairs") {
    val p = plan(graft.operators.Dedup.jaccardJoinPrefix(
      Tables.documents(spark, sfDir), "doc_id", "text", tau = 0.6))
    // the candidate stage must be the token-keyed equi-join — a theta
    // or cross join here would be jaccardPairs all over again
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("bloom join: might_contain prefilters the big side BELOW its shuffle") {
    val li = Tables.lineitem(spark, sfDir)
    val sup = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_name"))
    val df = graft.operators.Joins.bloomFilteredJoin(
      li, "l_suppkey", sup, "s_suppkey", expectedKeys = 1000L)
    val p = plan(df)
    // the bloom literal must gate lineitem rows before any join movement:
    // the probe appears in a Filter over the scan, so definite misses
    // never reach the Exchange (or the broadcast probe at test SF)
    assert(p.contains("might_contain"), p)
    val scanSide = p.split("\n").dropWhile(!_.contains("might_contain"))
    assert(scanSide.exists(_.contains("lineitem")),
      "bloom probe must sit on the lineitem scan side:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  /** Every window in the plan must be partitioned by `key` — an
    * unpartitioned window funnels the corpus through one task, the
    * exact 100 TB failure mode the Z-order rewrite removed. */
  private def assertKeyedWindows(p: String, key: String): Unit =
    p.split("\n").filter(_.contains("windowspecdefinition")).foreach { l =>
      assert(l.contains(key),
        s"window not partitioned by $key in line:\n$l\nplan:\n$p")
    }

  test("graph: Adamic-Adar wedge front is keyed joins + partial agg, never all-pairs") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
      .toDF("s", "t")
    val p = plan(graft.operators.Graphs.adamicAdar(edges, "s", "t", 10))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("journey: growth/cusum/session-path windows are all keyed") {
    val ev = Tables.events(spark, sfDir)
    assertKeyedWindows(plan(graft.operators.EventAnalytics
      .growthAccounting(ev, "user_id", "ts")), "user_id")
    assertKeyedWindows(plan(graft.operators.EventAnalytics
      .sessionPaths(ev, "user_id", "event_type", "ts", "event_id",
        gapSec = 21600L, maxLen = 8, minCount = 2L)), "user_id")
    val series = ev.groupBy(col("event_type"),
      col("ts").cast("date").as("day")).agg(count(lit(1)).as("n"))
    assertKeyedWindows(plan(graft.operators.EventAnalytics
      .cusum(series, "event_type", "day", "n", 1.0)), "event_type")
  }

  test("mutual information: one pass over the data, marginals re-aggregated from the joint") {
    val docs = Tables.documents(spark, sfDir)
    val p = plan(graft.operators.Pipelines.mutualInfo(docs, "lang", "source"))
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the joint is checkpointed, so the only scan left is its replay —
    // the raw documents table appears nowhere downstream
    assert(!p.contains("documents.parquet"), p)
  }

  test("inverted index: two-phase posting build is window-free partial aggs") {
    val docs = Tables.documents(spark, sfDir)
    val p = plan(graft.operators.TextAnalysis.invertedIndex(
      docs, "doc_id", "text", minDf = 5L, maxPostings = 20, shards = 8))
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("audits: benford/diversity/binned-MI plans are window-free keyed aggregations") {
    val li = Tables.lineitem(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
    val windowFree = Seq(
      graft.operators.Pipelines.benfordAudit(li, "l_returnflag",
        "l_extendedprice"),
      graft.operators.Pipelines.diversityStats(docs, "source", "lang"),
      graft.operators.Pipelines.binnedMutualInfo(li, "l_quantity",
        "l_extendedprice"))
    windowFree.foreach { df =>
      val p = plan(df)
      assert(!p.contains("Window"), p.take(2000))
      assert(!p.contains("CartesianProduct"), p.take(2000))
    }
    // the group-total joins must broadcast (group-sized frames)
    assert(plan(windowFree.head).contains("BroadcastHashJoin"))
  }

  test("AQE skew join: a planted hot key gets its partition split (skew=true in the join node)") {
    // the engine leans on AQE's skew-join split for large-large joins
    // (q08's posture at 100 TB); this pins that the split ACTIVATES:
    // one key holding ~85% of the left side must re-plan the SMJ with
    // skew=true once the hot partition crosses the (lowered) threshold
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256KB")
      // payload must be INCOMPRESSIBLE: skew stats are compressed map
      // output bytes, and a constant pad deflates the hot partition
      // right back under the threshold
      val left = spark.range(0, 120000).select(
        when(col("id") < 100000, 0L).otherwise(col("id") % 500).as("k"),
        sha2(concat(col("id").cast("string"), lit("s")), 512).as("payload"))
      val right = spark.range(0, 500)
        .select(col("id").as("k"), lit(1L).as("v"))
      // no key-partitioned operator above the join: a downstream
      // groupBy(k) would make the split introduce an extra shuffle and
      // AQE would (correctly) decline it
      val j = left.join(right, "k").select(col("k"),
        length(col("payload")).as("pl"))
      assert(j.collect().length == 120000)
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"no skew split in the adaptive plan:\n${p.take(4000)}")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("resampleInterp plans ONE Window operator (prev/next anchors share the partition+sort)") {
    // the operator's scaladoc claims the four running columns (pv/pb
    // over the default frame, nv/nb over the forward frame) collapse
    // into a single Window — frames differ, partition/order don't, and
    // ExtractWindowExpressions groups on (partition, order) only
    val df = graft.operators.EventAnalytics.resampleInterp(
      Tables.events(spark, sfDir), "user_id", "ts", "event_id", "value",
      stepSec = 86400L)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.length == 1, df.queryExecution.optimizedPlan.toString)
  }

  test("semanticDecontam broadcasts the probed benchmark side") {
    // eval sets are small; the ×C(planes,≤r)-exploded benchmark must go
    // broadcast so the corpus side never shuffles for the bucket join
    val emb = Tables.embeddings(spark, sfDir)
    val bench = emb.where(col("vec_id") < 8)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val p = plan(graft.operators.Similarity.semanticDecontam(
      emb, bench, "vec_id", "embedding", tau = 0.9, dim = 64))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("groupedKFold / md5 splits stay Exchange-free (pure projections)") {
    val p = plan(graft.operators.Pipelines.groupedKFold(
      Tables.events(spark, sfDir), "user_id", k = 5))
    assert(!p.contains("Exchange"), p.take(3000))
  }
}
