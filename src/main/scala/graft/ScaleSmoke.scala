package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale smoke (BASELINE.md methodology): times the heaviest bench
  * queries at sf0.1 and at a generated 10× replica, printing per-query
  * ratios — the only check that can catch an accidentally super-linear
  * path (e.g. an LSH candidate blow-up) that a single-scale bench at
  * 600 k rows is blind to.
  *
  * The 10× replica unions 10 key-shifted copies of the sf0.1 tables
  * (ids shifted by copy × (max_id + 1), so join keys stay aligned and
  * per-key group sizes stay constant — the corpus grows in entities,
  * not in skew). Tables are read RAW (events.ts stays int64 nanos) so
  * the replica round-trips through `Tables.events` exactly like the
  * driver-generated fixtures. Replica lives under /tmp and is reused
  * when present.
  *
  * Not part of the driver's per-round bench: run manually via
  *   sbt -batch "runMain graft.ScaleSmoke"
  * and record the ratio table in BASELINE.md.
  */
object ScaleSmoke {

  /** (query, tables it reads, plan builder) — the 6 heaviest per VERDICT
    * r3, plus scale-only targets that exercise paths the bench queries
    * cap for oracle reasons (the bench `x_dedup_clusters` filters to
    * `doc_id < 200`, so replicating the corpus would never grow its
    * input — useless as a linearity probe). */
  private val targets: Seq[(String, Seq[String], (SparkSession, String) => DataFrame)] = {
    def q(name: String, tables: String*) =
      (name, tables.toSeq, SparkEntry.queries(name))
    Seq(
      q("q31_math_fns", "lineitem"),
      q("q08_big_join", "lineitem", "orders"),
      q("x_tfidf", "documents"),
      q("x_orc_sink", "events"),
      q("x_token_stats", "documents"),
      q("x_embed_neardup", "embeddings"),
      // full-corpus LSH-only clustering (star edges + connected
      // components) — the heaviest bench entry's scale path, uncapped.
      // The VERIFIED path is not smokable here by semantics: the fixture
      // corpus is dup-dense (~25% of all pairs above j=0.8), so its true
      // verified-pair count is quadratic in corpus size — which is
      // exactly why nearDupClustersApprox exists. Replica text tagging
      // (see buildReplica) keeps clusters within-copy so the edge count
      // and CC work scale linearly in copies.
      ("x_cc_approx_full", Seq("documents"), (s: SparkSession, d: String) =>
        graft.operators.Dedup.nearDupClustersApprox(
          Tables.documents(s, d), "doc_id", "text")),
      // incremental dedup with a FIXED 500-doc delta against the growing
      // corpus: isolates the seen-side cost (hash scan + bloom build),
      // which must be linear in corpus size; the delta-side probe and
      // verify join are constant here by construction
      ("x_incr_dedup_full", Seq("documents"), (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        graft.operators.Dedup.incrementalExactDedup(
          docs.where(col("doc_id") < 500).select(col("doc_id"), col("text")),
          docs, "text", "text", expectedSeen = 1000000L)
      }),
      // per-row HOF repetition stats over the full corpus — a pure
      // projection whose per-row cost is O(doc tokens²); corpus growth
      // in ROWS (same doc lengths) must scale linearly
      ("x_repetition_full", Seq("documents"), (s: SparkSession, d: String) =>
        graft.operators.TextAnalysis.repetitionStats(
          Tables.documents(s, d), "doc_id", "text")),
      // sequence packing over the full corpus — one shard-key shuffle +
      // per-shard running-sum window; window state is a running scalar,
      // so time must track rows
      ("x_pack_full", Seq("documents"), (s: SparkSession, d: String) =>
        graft.operators.Pipelines.packSequences(
          Tables.documents(s, d).select(col("doc_id"),
            size(split(col("text"), " ")).as("nt")),
          "doc_id", "nt", capacity = 256, shards = 32)),
      // PQ ANN end-to-end: trainCap bounds the sample collect, so the
      // corpus-size-dependent work is exactly one encode+ADC-score pass
      ("x_pq_full", Seq("embeddings"), (s: SparkSession, d: String) =>
        graft.operators.Similarity.pqTopK(Tables.embeddings(s, d),
          "vec_id", "embedding", queryId = 0L, k = 10)),
      // self-trained bigram LM over the full corpus: vocab-keyed count
      // tables joined back onto the bigram stream — shuffle volume ∝
      // bigram instances (the replica tag keeps term spaces growing),
      // so time must track rows, not vocab²
      ("x_lm_full", Seq("documents"), (s: SparkSession, d: String) =>
        graft.operators.TextAnalysis.lmScoreBigram(
          Tables.documents(s, d), "doc_id", "text")),
      // DSIR weights over the full corpus: one count pass + one score
      // pass; the bucket table is a fixed 1024 rows broadcast, so the
      // only data-sized shuffle is the per-doc groupBy
      ("x_dsir_full", Seq("documents"), (s: SparkSession, d: String) =>
        graft.operators.TextAnalysis.dsirWeights(
          Tables.documents(s, d), "doc_id", "text", col("lang") === "en")),
      // line-level boilerplate removal over the full re-lined corpus:
      // distinct (doc,line) + line-keyed doc-freq + join back; replica
      // copies share interior chunk lines (df ≈ copies per key), so the
      // join fans out by copies per key — total stays linear in rows
      ("x_line_dedup_full", Seq("documents"), (s: SparkSession, d: String) => {
        val toks = split(col("text"), " ")
        val lined = Tables.documents(s, d).select(col("doc_id"),
          concat_ws("\n", lit("boilerplate header line"),
            concat_ws("\n", transform(
              sequence(lit(1), greatest(size(toks), lit(1)), lit(4)),
              i => concat_ws(" ", slice(toks, i, lit(4))))),
            lit("boilerplate header line")).as("lined"))
        graft.operators.Dedup.dropBoilerplateLines(
          lined, "doc_id", "lined", maxDocFreq = 10)
      }),
      // trigram novelty over the full corpus: explode + gram-keyed
      // doc-freq + join back. Replica copies share interior grams, so
      // per-gram doc-freq grows ∝ copies — the join stays (gram → one
      // count row) ⋈ instances, so time must track rows, not df²
      ("x_novelty_full", Seq("documents"), (s: SparkSession, d: String) =>
        graft.operators.TextAnalysis.ngramNovelty(
          Tables.documents(s, d), "doc_id", "text", n = 3)),
      // containment decontamination with a FIXED 500-doc eval slice
      // against the growing corpus: corpus-side gram stream grows ∝
      // rows; matched pairs grow ∝ copies (each copy holds the eval
      // docs' near-dup partners); the stop-gram cut keeps any single
      // gram's fan-out bounded — time must track rows
      ("x_containment_full", Seq("documents"), (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        graft.operators.TextAnalysis.containmentPairs(
          docs.where(col("doc_id") < 500), docs,
          "doc_id", "text", n = 5, tau = 0.3, maxDocFreq = 500L)
      }),
      // KMV overlap over the full corpus: the (source, hash) distinct
      // dominates and is ∝ distinct items; sketches stay k rows per
      // source whatever the corpus size, so the pair stage is constant
      ("x_kmv_full", Seq("documents"), (s: SparkSession, d: String) => {
        val items = Tables.documents(s, d)
          .select(col("source"), split(col("text"), " ").as("__t"))
          .select(col("source"), explode(array_distinct(
            graft.operators.TextAnalysis.wordNgrams(col("__t"), 2))).as("item"))
        graft.operators.Pipelines.kmvOverlap(items, "source", "item", k = 64)
      }),
      // CCNet ppl buckets over the full corpus: the lm path's audited
      // shuffles + a histogram whose size is distinct rounded NLLs per
      // source (bounded by rounding, not rows) — time must track the
      // lm pass
      ("x_ppl_full", Seq("documents"), (s: SparkSession, d: String) =>
        graft.operators.TextAnalysis.pplBuckets(
          Tables.documents(s, d), "doc_id", "text", "source")),
      // exact-substring excision over the full corpus: shingle fps are
      // SHARED across replica copies (the c<i> tag shifts positions but
      // not interior 8-gram content), so the dup-fp stats table stays
      // base-sized while dup starts / covered positions grow ∝ copies —
      // the fp groupBy partial-aggregates and the stats join fans out
      // per occurrence, so time must track rows, never df × rows
      ("x_substring_full", Seq("documents"), (s: SparkSession, d: String) =>
        graft.operators.Dedup.substringDedup(
          Tables.documents(s, d), "doc_id", "text", k = 8)),
      // trained trigram lang-id over the full corpus (train slice grows
      // with the corpus): one count pass over the train text, profile
      // stays (langs × vocab) and vocab saturates, scoring joins trigram
      // position rows against the broadcast fixed-point profile and
      // partial-aggregates straight to per-doc integer sums — the one
      // corpus-sized shuffle is doc-keyed, so time must track rows
      ("x_lang_id_full", Seq("documents"), (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        graft.operators.TextAnalysis.langIdNgram(
          docs, docs.where(col("doc_id") % 5 === 1), "doc_id", "text", "lang")
      }),
      // incremental near-dup with a FIXED 100-doc delta vs the growing
      // seen corpus: seen-side banding ∝ rows; each delta doc's match
      // set grows ∝ copies (replica twins stay near-dups), so candidate
      // and verify work are both ∝ copies — never seen×seen
      ("x_incr_neardup_full", Seq("documents"), (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        val delta = docs.where(col("doc_id") < 100)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            concat(lit("re "), col("text")).as("text"))
        graft.operators.Dedup.incrementalNearDupPairs(delta,
          docs.select(col("doc_id"), col("text")), "doc_id", "text",
          tau = 0.8)
      }),
      // SemDeDup over the full embedding corpus under the paper's
      // nCells-∝-corpus sizing rule (cells stay ~constant-size as the
      // corpus grows): assignment ∝ rows; the cell-keyed pair probe is
      // rows × cellSize, so with cellSize pinned time must track rows.
      // Replica vectors are copy-identical (ids shift, payloads don't),
      // so cross-copy twins co-locate in cells and the within-cell dup
      // structure grows ∝ copies, never corpus².
      ("x_semdedup_full", Seq("embeddings"), (s: SparkSession, d: String) => {
        val emb = Tables.embeddings(s, d)
        val nCells = math.max(16, (embRows(s, d) / 125L).toInt)
        graft.operators.Similarity.semDeDup(emb, "vec_id", "embedding",
          tau = 0.4, nCells = nCells, trainCap = 4096)
      }),
      // D4 under the same sizing rule: semdedup's posture plus the
      // per-cell prototype rank window — window state bounded by the
      // pinned cellSize, so the added stage must also track rows
      ("x_d4_full", Seq("embeddings"), (s: SparkSession, d: String) => {
        val emb = Tables.embeddings(s, d)
        val nCells = math.max(16, (embRows(s, d) / 125L).toInt)
        graft.operators.Similarity.d4Prune(emb, "vec_id", "embedding",
          tau = 0.4, dropFrac = 0.1, nCells = nCells, trainCap = 4096)
      }),
      // PageRank over the replica: the node set stays the 25 base
      // nations (nation is a dim table, copied 1×; copy i of customer/
      // supplier joins copy i of orders/lineitem via the shared custkey/
      // suppkey offsets) — so edge WEIGHTS grow ∝ copies while the
      // iteration cost is constant, and time must track the 4-way
      // extraction join, i.e. rows
      q("x_pagerank", "lineitem", "orders", "customer", "supplier", "nation"),
      // PPR shares the pagerank posture: node set stays the 25 nations,
      // edge weights grow ∝ copies, the seed set is a dim-table join —
      // time must track the extraction join
      q("x_ppr", "lineitem", "orders", "customer", "supplier", "nation",
        "region"),
      // curation funnel over the replica: the c<i> text tag breaks
      // cross-copy EXACT duplication, so dedup groups stay within-copy
      // and every stage's work is one keyed pass — time must track rows
      q("x_curation_funnel", "documents"),
      // event funnel/retention over the replica: user_id shifts per
      // copy, so the user population grows ∝ copies with per-user event
      // counts constant — every stage is a user-keyed partial agg or
      // join, so time must track rows
      q("x_event_funnel", "events"),
      q("x_retention", "events"),
      // per-user window state is bounded by a user's event count, which
      // the replica holds constant — time must track rows
      q("x_event_transitions", "events"),
      // diff = one full-outer keyed join over two narrow (id, hash)
      // projections; profile = one multi-distinct agg pass — both ∝ rows
      q("x_corpus_diff", "documents"),
      q("x_profile", "documents"),
      // quota window state is a per-stratum counter; histogram is a
      // bounds agg + bucket groupBy — both ∝ rows
      q("x_quota_sample", "documents"),
      q("x_histogram", "documents"),
      // A-ES sample: one projection + TakeOrderedAndProject (partial
      // per-partition top-k, k-sized merge) — time must track rows
      q("x_weighted_sample", "documents"),
      // CDC materialization over the replicated event log: compaction
      // is one map-side-combining max_by groupBy, SCD2 one per-key
      // window — both must track the log linearly (user_id is shifted
      // per copy, so per-key version counts stay constant)
      q("x_latest_snapshot", "events"),
      q("x_scd2", "events"),
      q("x_scd2_merge", "events"),
      // robust outliers: two exact-percentile agg passes + keyed joins;
      // output ∝ outliers, wall must track the event log
      q("x_outliers", "events"),
      // attribution: the rangeJoin front buckets on (user, time), and
      // replica users are copy-distinct — pair count stays ∝ events
      q("x_attribution", "events"),
      // graph structure metrics share x_pagerank's profile: the 4-way
      // trade-edge extraction grows with the facts while the 25-node
      // graph work is constant — the probe checks the extraction
      // dominates and nothing re-walks the facts per wedge
      q("x_triangles", "lineitem", "orders", "customer", "supplier",
        "nation"),
      q("x_hits", "lineitem", "orders", "customer", "supplier", "nation"),
      // the expectations gate is ONE aggregation pass whatever the rule
      // count — per-row cost constant, wall must track the corpus
      q("x_expectations", "documents"),
      // basket mining: l_orderkey shifts per copy, so baskets stay
      // base-sized and the degree-capped pair fan-out is ∝ rows
      q("x_cooccurrence", "lineitem"),
      // LOCF grid: user_id shifts per copy — per-user spans constant,
      // grid rows ∝ users ∝ copies
      q("x_resample", "events"),
      // PII redact + run collapse: map-only column algebra — the purest
      // linear probes in the suite, wall must track scan+write
      q("x_pii_redact", "documents"),
      q("x_collapse_runs", "documents"),
      // bloom join: the bloom build is supplier-sized, the probe is a
      // per-row literal predicate — the lineitem side must stay linear
      q("x_bloom_join", "lineitem", "supplier", "nation"),
      // EWMA: one keyed window, H lag terms per row; user_id shifts per
      // copy so per-key series stay base-length
      q("x_ewma", "events"),
      // BFS shares the pagerank/k-core posture: the 4-way extraction
      // grows with the facts, the 25-node frontier walk is constant
      q("x_bfs", "lineitem", "orders", "customer", "supplier", "nation"),
      // winsorize: one exact-percentile agg (25 event-type groups) +
      // a broadcastable band join — time must track the event log
      q("x_winsorize", "events"),
      // rollup merge: both states and the merge groupBy are key-sized;
      // the aggState passes must track the fact rows
      q("x_agg_merge", "lineitem"),
      // RFM: one user-keyed partial agg + three broadcast-boundary bin
      // passes; replica users are copy-distinct, so keys ∝ copies
      q("x_rfm", "events"),
      // OHLC: one (key, bucket)-keyed partial agg — bars ∝ users
      q("x_ohlc", "events"),
      // drift: token counts ∝ rows, the divergence join ∝ vocab (the
      // c<i> replica tag grows vocab ∝ copies, still ≪ token instances)
      q("x_drift", "documents"),
      // growth/session/cusum/latency: per-user (or per-type) windows
      // and shrinking funnel frames — user_id shifts per copy, so keys
      // ∝ copies and per-key state stays base-length
      q("x_growth", "events"),
      q("x_session_paths", "events"),
      q("x_cusum", "events"),
      q("x_time_to_convert", "events"),
      // graph additions share the BFS posture: fact-side extraction
      // grows, the 25-node walk/wedge phase is constant
      q("x_sssp", "lineitem", "orders", "customer", "supplier", "nation"),
      q("x_adamic_adar", "lineitem", "orders", "customer", "supplier",
        "nation"),
      // MI: one joint groupBy over the corpus, cell-sized tail
      q("x_mutual_info", "documents"),
      // inverted index: the two-phase posting build — replica doc_ids
      // are copy-shifted so df grows ∝ copies while every shard slice
      // stays maxPostings-bounded
      q("x_inverted_index", "documents"),
      // unpivot: a single Expand — pure scan-bandwidth reshape
      q("q54_unpivot", "lineitem"),
      // KS drift / cross-correlation: map-side binning + a bins-bounded
      // CDF window; xcorr is two projections + a maxLag-bounded fan-out
      q("x_ks_drift", "events"),
      q("x_xcorr", "events"),
      // stickiness: ≤ 30× bounded fan-out then map-side distinct+count;
      // MAD: two percentile aggs + one broadcast-join count pass
      q("x_stickiness", "events"),
      q("x_mad", "events"),
      q("x_kanon", "documents"),
      q("q55_grouping_sets", "lineitem"),
      // sessionize / n-grams: per-user windows, user_id shifts per copy
      q("x_sessions", "events"),
      q("x_path_ngrams", "events"),
      // label centroids: posexplode ∝ rows×dim, label keys constant —
      // per-(label, dim) groups grow ∝ copies, all partial-agg
      q("x_label_centroids", "embeddings"),
      // log-odds: token counts ∝ rows, the verdict join ∝ vocab
      q("x_logodds", "documents"),
      // NOT here: x_mnn — the EXACT form is all-pairs by declared
      // contract (probe-set-sized inputs; the scale path feeds ANN
      // output to mutualPairs), so replicating the corpus measures the
      // contract violation, not the operator
      // categorical drift: two value-count passes ∝ rows; the joint
      // category set (langs) is constant, so the divergence join is a
      // handful of rows — wall must track the scans
      q("x_cat_drift", "documents"),
      // unigram-LM train+encode over the growing corpus: training is
      // driver-side over the top-trainCap DISTINCT words (the replica
      // c<i> tag grows vocab ∝ copies but the cap bounds the collect);
      // the encode UDF runs over distinct words only and broadcast-joins
      // the exploded stream — the corpus-sized work is the word explode
      // + per-doc groupBy, so time must track rows
      ("x_unigram_full", Seq("documents"), (s: SparkSession, d: String) => {
        val docs = Tables.documents(s, d)
        graft.operators.Pipelines.unigramEncodeWith(docs, "doc_id", "text",
          graft.operators.Pipelines.unigramTrainModel(docs, "text",
            vocabSize = 200, maxPieceLen = 4, emIters = 2))
      }),
      // WebDataset tar export over the growing corpus: one hash-routed
      // writer task per shard, shard count ∝ corpus bytes, members
      // stream straight through — write volume and the parse-back
      // manifest must both track rows
      ("x_webdataset_full", Seq("documents"), (s: SparkSession, d: String) => {
        val out = s"${System.getProperty("java.io.tmpdir")}/" +
          s"graft_wds_scale_${d.replaceAll("[^A-Za-z0-9]+", "_")}"
        graft.sources.WebDataset.exportWebDataset(
          Tables.documents(s, d).select("doc_id", "text", "lang", "source"),
          "doc_id", contentCols = Seq("doc_id", "text"), outDir = out,
          targetShardBytes = 4L << 20)
      }),
      // incremental export: generation 0 lands the growing corpus (cost
      // ∝ rows, the honest first-crawl write), then a FIXED 1000-doc
      // delta as generation 1 — whose write AND manifest derivation read
      // only the delta's own partitions, so the delta term stays
      // constant as the corpus grows (the whole point of the operator)
      ("x_incr_export_full", Seq("documents"), (s: SparkSession, d: String) => {
        val out = s"${System.getProperty("java.io.tmpdir")}/" +
          s"graft_incr_scale_${d.replaceAll("[^A-Za-z0-9]+", "_")}"
        val outP = new org.apache.hadoop.fs.Path(out)
        outP.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(outP, true)
        val docs = Tables.documents(s, d)
          .select("doc_id", "text", "lang", "source")
        graft.sources.CorpusExport.exportShardsIncremental(docs, "doc_id",
          contentCols = Seq("doc_id", "text"), outDir = out,
          generation = 0L, targetShardBytes = 4L << 20)
        graft.sources.CorpusExport.exportShardsIncremental(
          docs.where(col("doc_id") < 1000)
            .withColumn("doc_id", col("doc_id") + 1000000000L),
          "doc_id", contentCols = Seq("doc_id", "text"), outDir = out,
          generation = 1L, targetShardBytes = 4L << 20)
      }),
      // incremental WebDataset: the x_incr_export_full contract over
      // tar shards — gen 0 lands the growing corpus, then a FIXED
      // 1000-doc delta whose tar write and parse-back manifest read
      // only its own gen dirs; the only corpus-sized delta-term work is
      // the prior-manifest union, which is shard-count-sized metadata
      ("x_wds_incr_full", Seq("documents"), (s: SparkSession, d: String) => {
        val out = s"${System.getProperty("java.io.tmpdir")}/" +
          s"graft_wdsi_scale_${d.replaceAll("[^A-Za-z0-9]+", "_")}"
        val outP = new org.apache.hadoop.fs.Path(out)
        outP.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(outP, true)
        val docs = Tables.documents(s, d)
          .select("doc_id", "text", "lang", "source")
        graft.sources.WebDataset.exportWebDatasetIncremental(docs,
          "doc_id", contentCols = Seq("doc_id", "text"), outDir = out,
          generation = 0L, targetShardBytes = 4L << 20)
        graft.sources.WebDataset.exportWebDatasetIncremental(
          docs.where(col("doc_id") < 1000)
            .withColumn("doc_id", col("doc_id") + 1000000000L),
          "doc_id", contentCols = Seq("doc_id", "text"), outDir = out,
          generation = 1L, targetShardBytes = 4L << 20)
      }),
      // distributed BPE training over the growing corpus: each merge
      // round is one vocabulary-keyed pair count (map-side combining)
      // + a TakeOrdered(1) argmax + a vocabulary-sized merge map, with
      // per-round localCheckpoint truncation — the replica's c<i> text
      // tag grows the vocabulary ∝ copies, so time must track rows
      // while the driver sees exactly numMerges single-row collects
      ("x_bpe_dist_full", Seq("documents"), (s: SparkSession, d: String) => {
        import s.implicits._
        graft.operators.Pipelines.bpeTrainMergesDistributed(
            Tables.documents(s, d), "text", numMerges = 4)
          .zipWithIndex.map { case ((a, b), i) => (i + 1L, a, b) }
          .toDF("rank", "left_sym", "right_sym")
      }),
      // distributed unigram training over the growing corpus: one seed
      // explode + emIters encode explodes, all vocabulary-keyed partial
      // aggs; driver collects stay vocabSize-bounded while the
      // replica's c<i> tag grows the vocabulary ∝ copies — time must
      // track rows × rounds
      ("x_unigram_dist_full", Seq("documents"),
        (s: SparkSession, d: String) => {
          import s.implicits._
          graft.operators.Pipelines.unigramTrainModelDistributed(
              Tables.documents(s, d), "text",
              vocabSize = 200, maxPieceLen = 4, emIters = 2)
            .pieces.zipWithIndex
            .map { case ((p, lp), i) => (i.toLong, p, lp) }
            .toDF("ord", "piece", "log_prob")
        }),
      // two-phase quota on a deliberately UNKEYED mega-stratum (every
      // doc in one stratum): phase 1 shards it across 32 windows,
      // phase 2 sees ≤ 32·k rows — time must track rows where the
      // single-window form would serialize the whole corpus
      ("x_quota2_full", Seq("documents"), (s: SparkSession, d: String) =>
        graft.operators.Pipelines.quotaSampleByMd5TwoPhase(
          Tables.documents(s, d).select(col("doc_id"), lit("all").as("k1")),
          "k1", "doc_id", k = 1000, shards = 32)),
      // ANN-fronted MNN (the scale composition the exact x_mnn entry
      // can't probe): bucket equi-join candidates ∝ k·rows, top-k via
      // the two-phase window, reciprocity as one keyed self-join —
      // replica vectors are copy-identical so buckets grow ∝ copies
      // with per-bucket size constant, and time must track rows
      // ANN-fronted MNN under the planes-∝-log2(corpus) sizing rule —
      // the sign-LSH analog of semdedup's nCells rule: bucket size
      // pinned (~125 vectors), candidates ∝ rows·bucket. The DECLARED
      // x_mnn_ann entry pins planes=8 for its static oracle literals,
      // which goes quadratic once the corpus outgrows 2^8 buckets —
      // plane sizing is the caller's scale contract, exactly as with
      // IVF's nCells (measured: fixed-8-planes ratio 4.3 at 10×, sized
      // ratio linear).
      ("x_mnn_ann_full", Seq("embeddings"), (s: SparkSession, d: String) => {
        val rows = embRows(s, d)
        val planes = math.min(24, math.max(4, math.ceil(
          math.log(rows / 125.0) / math.log(2.0)).toInt))
        val emb = Tables.embeddings(s, d)
        graft.operators.Similarity.mutualPairs(
          graft.operators.Similarity.annKnnJoin(emb, emb, "vec_id",
            "embedding", k = 10, planes = planes, dim = 64))
      }),
      // corr matrix: ONE agg pass, k(k+1)/2 decimal sums map-side —
      // the purest partial-agg probe; PCA: the d²-bounded moment
      // shuffle + a map-only literal projection — both must track rows
      q("x_corr_matrix", "lineitem"),
      q("x_pca_project", "embeddings"),
      // twap = one keyed lead window + partial agg; wquantile = one
      // distinct-value cumulative window; session_window = one native
      // merging-window agg — per-user state, linear
      q("x_twap", "events"),
      q("x_wquantile", "lineitem"),
      q("x_session_window", "events"),
      // binned MI: two bounds aggs + one joint groupBy; the MI fold
      // runs on the ≤ bins² cell frame — wall must track the scan
      q("x_binned_mi", "lineitem"),
      // audits: benford/diversity = one partial-agg pass; gini = one
      // group-partitioned rank sort; readability = map-only projection
      q("x_benford", "lineitem"),
      q("x_gini", "events"),
      q("x_diversity", "documents"),
      q("x_readability", "documents"),
      // approx-sketch modes of the profile/outlier family: the exact
      // forms are the oracle entries; these measure the 100 TB modes,
      // whose agg state is O(sketch) per group instead of the full
      // per-group value list — wall must track the scan
      ("x_profile_approx_full", Seq("documents"), (s: SparkSession, d: String) =>
        graft.operators.Pipelines.profileColumns(
          Tables.documents(s, d),
          Seq("doc_id", "text", "lang", "source", "n_chars"),
          approxRsd = 0.05)),
      ("x_mad_approx_full", Seq("events"), (s: SparkSession, d: String) =>
        graft.operators.Pipelines.madOutliers(Tables.events(s, d),
          "event_type", "value", approxAcc = 1000)),
      ("x_winsorize_approx_full", Seq("events"), (s: SparkSession, d: String) =>
        graft.operators.Pipelines.winsorize(
          Tables.events(s, d).select(col("event_id"), col("event_type"),
            col("value")),
          "event_type", "value", pLo = 0.05, pHi = 0.95,
          approxAcc = 1000)),
      // r14 family: interp grid rows ∝ users × their day span (users
      // grow with copies, spans don't); rank-eval windows partition by
      // query (per-nation pools grow ∝ copies — window state too, by
      // the judged-pool contract); calibration is one bin groupBy
      q("x_interp", "events"),
      q("x_rank_eval", "supplier", "nation"),
      q("x_calibration", "events"),
      // leakage audit: one keyed partial-agg + one row; sem-decontam:
      // the fixed 8-vector benchmark sweeps a growing corpus — replica
      // twins of the planted dups are all true hits, output ∝ copies
      q("x_time_split", "events"),
      q("x_sem_decontam", "embeddings"),
      q("x_psi", "events"),
      q("x_kfold", "events"),
      q("x_zipf", "documents"),
      q("x_roc_auc", "events"),
      // r15 family: salted join = one (key, salt) shuffle + the dim
      // replicated ×8 (dim grows ∝ copies, still broadcast-sized);
      // data card = seven independent partial-agg sections; int8 quant
      // = a pure projection; int8 topk = quantize projection + brute
      // cosine (corpus × one broadcast query); bpe roundtrip = the
      // bpeEncode path + a vocabulary-sized artifact write/read; jsonl
      // export = the exportShards one-write pass in json.gz
      q("x_salted_join", "orders", "customer"),
      q("x_data_card", "documents"),
      q("x_int8_quant", "embeddings"),
      q("x_int8_topk", "embeddings"),
      q("x_bpe_roundtrip", "documents"),
      q("x_corpus_export_jsonl", "documents"),
      // fertility = the bpeEncode plan + one keyed rollup; the replica
      // tag grows vocab slightly, trainCap bounds the driver collect
      q("x_bpe_fertility", "documents"),
      // mixture plan = one map-side-combining groupBy + algebra on the
      // ≤ strata frame — scan-bound
      q("x_token_budget", "documents"))
      // NOT here: x_entity_match / x_entity_match_indel. Replica
      // customer names are copy-identical (c_name is not tagged), so
      // every cross-copy name pair is a TRUE distance-0 match (and
      // every planted indel typo matches every copy of its original)
      // within its nation block — the
      // verified-pair output grows as copies² by workload semantics,
      // the same exclusion class as x_simhash_pairs. Its scale evidence
      // is the front ≡ brute-force equivalence in OperatorsSuite plus
      // the Σ_b |b|² candidate bound documented in SCALE.md.
      // NOT here: x_simhash_pairs. Cross-copy replica twins (same text,
      // different c<copy> tag) are TRUE near-dups under hamming ≤ 3, so
      // the replica's verified-pair output grows as copies² by workload
      // semantics — same class as the verified-Jaccard path above. Its
      // scale evidence is the synthetic candidate-front growth test in
      // OperatorsSuite (random docs, no true dups → front ∝ corpus).
      // x_media_phash shares both the front and the exclusion: replica
      // payloads are copy-identical, so cross-copy hd=0 pairs grow as
      // copies² by the same workload semantics.
  }

  /** (column to shift, shared offset key) per table: columns sharing an
    * offset key (lineitem.l_orderkey ↔ orders.o_orderkey) shift by the
    * SAME amount, so copy i of lineitem joins copy i of orders and the
    * q08 join cardinality scales exactly linearly. */
  private val idCols: Map[String, Seq[(String, String)]] = Map(
    "lineitem" -> Seq("l_orderkey" -> "orderkey", "l_suppkey" -> "suppkey"),
    "orders" -> Seq("o_orderkey" -> "orderkey", "o_custkey" -> "custkey"),
    "customer" -> Seq("c_custkey" -> "custkey"),
    "supplier" -> Seq("s_suppkey" -> "suppkey"),
    "events" -> Seq("event_id" -> "event_id", "user_id" -> "user_id"),
    "documents" -> Seq("doc_id" -> "doc_id"),
    "embeddings" -> Seq("vec_id" -> "vec_id"))

  /** Dimension tables copied VERBATIM (1×) into the replica: nation is
    * the fixed 25-row key space — replicating it would fan out every
    * nationkey join by `copies` instead of growing the fact side. The
    * unshifted c_nationkey/s_nationkey in the replicated customer and
    * supplier copies still resolve against the base dimension. */
  private val dimTables: Set[String] = Set("nation", "region")

  /** Text columns made copy-distinct in the replica (a leading
    * `c<copy>` token on copies 1..n-1; copy 0 stays byte-identical to
    * the base). What the tag does: breaks VERBATIM duplication, so
    * exact-dedup can't collapse copies and content-derived term spaces
    * (tfidf, token stats) grow with the replica. What it does NOT do:
    * break near-dup linkage across copies — a cross-copy twin keeps
    * J = |T|/(|T|+2) ≈ 0.92 at the fixture's ~23-token docs, well above
    * the LSH S-curve, so copies of one doc still merge into one
    * cross-copy cluster. Prepending one shared token to BOTH sides of a
    * within-copy pair can only raise its Jaccard ((i+1)/(u+1) ≥ i/u),
    * so each copy keeps at least the base cluster structure.
    * x_cc_approx_full's linearity therefore does NOT rest on this tag:
    * star edges are O(bands × docs) whatever the dup structure — that
    * invariance under a dup-saturated replica is exactly what the smoke
    * demonstrates. */
  private val textCols: Map[String, Seq[String]] = Map(
    "documents" -> Seq("text"))

  /** Memoized embeddings row count per dir: the semdedup/D4 thunks size
    * nCells from the corpus, and an inline emb.count() would add a full
    * scan INSIDE every timed sample, inflating base walls at each scale.
    * The cache pays the count once — during the discarded warmup pass —
    * so the measured samples time only the operator. */
  private val embRowCache = scala.collection.mutable.Map.empty[String, Long]
  private def embRows(s: SparkSession, d: String): Long =
    embRowCache.synchronized {
      embRowCache.getOrElseUpdate(d, Tables.embeddings(s, d).count())
    }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    // replica dir keyed by BOTH baseDir and copy count — a dir keyed by
    // count alone would be silently reused after SPARK_GRAFT_SF_DIR
    // changes, ratio-ing against a replica of a different base
    val baseTag = baseDir.replaceAll("[^A-Za-z0-9]+", "_").dropWhile(_ == '_')
    // v2: replica format changed (copy-tagged documents.text) — the
    // row-count reuse check can't see a content change, so the format
    // version lives in the dir name and a v1 replica is never reused
    // v3: lineitem/orders now also shift (suppkey, custkey) and
    // customer/supplier replicate — a v2 replica would silently fan out
    // the pagerank extraction joins by copies
    val scaleDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      s"/tmp/graft_scale_v3_${baseTag}_${copies}x")
    // optional filter (comma-separated names): e.g. exclude the
    // by-semantics-quadratic x_embed_neardup when pushing to 30x+, where
    // its exact all-pairs work would dominate the whole run
    val keep = Harness.select("SPARK_GRAFT_SCALE_QUERIES", targets.map(_._1)).toSet
    val selected = targets.filter(t => keep(t._1))
    val spark = Engine.session("graft-scale-smoke", Harness.cpus(32))
    val tables = selected.flatMap(_._2).distinct
    buildReplica(spark, baseDir, scaleDir, tables, copies)

    val planOf = targets.map(t => t._1 -> t._3).toMap
    def timeIt(name: String, dir: String, samples: Int): Double =
      (0 until samples).map { _ =>
        val t0 = System.nanoTime()
        Harness.materialize(planOf(name)(spark, dir))
        (System.nanoTime() - t0) / 1e9
      }.min

    val rows = selected.map { case (name, _, _) =>
      timeIt(name, baseDir, 1) // warmup: JIT + file index, both dirs below
      timeIt(name, scaleDir, 1)
      val base = timeIt(name, baseDir, 2)
      val big = timeIt(name, scaleDir, 2)
      System.err.println(f"[scale] $name%-18s base=$base%7.2fs ${copies}x=$big%8.2fs ratio=${big / base}%6.2f")
      (name, base, big, big / base)
    }
    val json = rows.map { case (n, b, s, r) =>
      f""""$n":{"base_sec":$b%.3f,"x${copies}_sec":$s%.3f,"ratio":$r%.2f}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_smoke","copies":$copies,"base":"$baseDir","queries":$json}""")
    spark.stop()
  }

  /** Union `copies` key-shifted raw copies of each table into
    * `scaleDir/<table>.parquet`. An existing replica is reused only
    * after validating `replica rows == copies × base rows` (belt and
    * braces on top of the baseDir-keyed dir name — an explicit
    * SPARK_GRAFT_SCALE_DIR can still point at a stale replica). */
  /** Copy-i text tag. NULL-preserving: concat_ws skips nulls, so an
    * unguarded tag would turn a NULL base value into the non-null
    * "c<i>", making null handling differ between copy 0 and the tagged
    * copies. */
  private[graft] def copyTag(c: org.apache.spark.sql.Column, i: Int): org.apache.spark.sql.Column =
    when(c.isNull, c).otherwise(concat_ws(" ", lit(s"c$i"), c))

  private def buildReplica(spark: SparkSession, baseDir: String,
                           scaleDir: String, tables: Seq[String],
                           copies: Int): Unit = {
    // shared offsets: max over every (table, column) bound to the key,
    // so the orderkey shift is identical on both sides of the q08 join.
    // Computed over ALL tables in idCols — not just the selected ones —
    // because replicas are cached per table: a filtered run must not
    // build (say) lineitem with a different orderkey offset than a later
    // unfiltered run gives orders, or cross-copy join matches silently
    // vanish and ratios under-report. lazy: only the rebuild branch
    // reads it — a warm run with valid replicas must not pay ~one
    // aggregation job per id column
    lazy val offsets: Map[String, Long] = idCols.keys.toSeq
      .flatMap(t => idCols(t).map { case (c, key) => (t, c, key) })
      .groupBy(_._3)
      .map { case (key, cols) =>
        key -> (cols.map { case (t, c, _) =>
          spark.read.parquet(s"$baseDir/$t.parquet")
            .agg(max(col(c).cast("long"))).head().getLong(0)
        }.max + 1L)
      }
    tables.foreach { t =>
      val out = new java.io.File(s"$scaleDir/$t.parquet")
      val raw = spark.read.parquet(s"$baseDir/$t.parquet")
      // loud guard: a table in neither map would replicate with
      // unshifted ids — duplicate keys, cross-copy join fan-out, and
      // silently corrupted ratios
      require(dimTables(t) || idCols.contains(t),
        s"table $t is in neither idCols nor dimTables — add its id shift")
      val tCopies = if (dimTables(t)) 1 else copies
      // unreadable replica (e.g. a crashed build left only _temporary/)
      // counts as stale, not fatal — that's the scenario this check is for
      val reusable = out.isDirectory && scala.util.Try {
        val expected = raw.count() * tCopies
        val actual = spark.read.parquet(out.getAbsolutePath).count()
        if (actual != expected) System.err.println(
          s"[scale] stale replica $out ($actual rows, expected $expected) — rebuilding")
        actual == expected
      }.getOrElse {
        System.err.println(s"[scale] unreadable replica $out — rebuilding")
        false
      }
      if (!reusable) {
        val replica = (0 until tCopies).map { i =>
          val shifted = idCols.getOrElse(t, Nil).foldLeft(raw) { case (df, (c, key)) =>
            df.withColumn(c, (col(c).cast("long") + lit(i * offsets(key)))
              .cast(raw.schema(c).dataType))
          }
          if (i == 0) shifted // copy 0 byte-identical to the base
          else textCols.getOrElse(t, Nil).foldLeft(shifted) { case (df, c) =>
            df.withColumn(c, copyTag(col(c), i))
          }
        }.reduce(_.unionAll(_))
        replica.write.mode("overwrite").parquet(out.getAbsolutePath)
        System.err.println(s"[scale] built $out (${tCopies}x $t)")
      }
    }
  }
}
