package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Dedup, TextAnalysis}
import graft.sources.CorpusExport

/** Streaming crawl-ingest pipeline — the continuous-corpus composition
  * of this library's pieces, per micro-batch:
  *
  *   quality gate (Gopher flags) → within-batch exact dedup →
  *   exact dedup vs the ALREADY-LANDED corpus (bloom-pruned) →
  *   optional NEAR-dup drop vs the landed corpus (`nearDupTau`:
  *   MinHash-banded candidates, exact-Jaccard verified — paraphrased
  *   crawl duplicates, not just byte-identical ones; the seen side's
  *   bands persist per generation at `_bands_nh<numHashes>_b<bands>/`
  *   — a rebuildable derived cache whose path carries the banding
  *   parameters, so a batch never re-pays the corpus-sized signature
  *   work and a re-parameterized job can never join against
  *   stale-family keys) →
  *   land the survivors as export generation = batch id
  *   ([[CorpusExport.exportShardsIncremental]]).
  *
  * The landed corpus IS the dedup state — no side ledger to drift out
  * of sync with the data: each batch reads the generations already on
  * disk (hash projection only; the bloom front means definite-new rows
  * never shuffle) and appends exactly its novel survivors.
  *
  * Exactly-once: foreachBatch is at-least-once, and the export's
  * generation-commit protocol ([[CorpusExport.appendGeneration]]) on
  * gen = batchId makes a replayed batch replace exactly its own
  * generation — written to a per-application staging dir and swapped
  * in whole, so no crashed attempt's output survives or merges in — the
  * CdcToOrcJob / DriftMonitorJob idempotency contract. Crucially the
  * seen-side read EXCLUDES the current batch's own generation: a
  * replayed batch would otherwise see its crashed predecessor's rows
  * as "already landed", dedup itself to nothing, and replace its
  * generation with an empty one — silent data loss on the exact path
  * replay exists to protect.
  *
  * Batches whose survivors are empty land nothing (their generation id
  * is simply skipped — generations are monotone, not dense).
  *
  * Scale shape per batch: the quality gate and hashing are map-only;
  * the only corpus-sized work is one hash projection over the landed
  * generations to build the seen bloom — at a 100 TB landed corpus,
  * persist the hash set bucketed instead (the documented
  * [[Dedup.incrementalExactDedup]] cluster posture) and raise
  * `expectedSeen` accordingly. */
object CrawlIngestJob {

  def runStreaming(stream: DataFrame, idCol: String, textCol: String,
                   contentCols: Seq[String], outDir: String,
                   checkpoint: String,
                   minWords: Int = 20,
                   targetShardBytes: Long = 256L * 1024 * 1024,
                   expectedSeen: Long = 1L << 20,
                   trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
                   nearDupTau: Option[Double] = None,
                   nearDupNumHashes: Int = 64,
                   nearDupBands: Int = 32)
      : StreamingQuery = {
    require(contentCols.nonEmpty, "CrawlIngestJob needs contentCols")
    require(nearDupTau.forall(t => t > 0.0 && t <= 1.0),
      s"nearDupTau must be in (0, 1], got $nearDupTau")
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // the gate returns (id, metrics, passes) — semi-join the pass
        // set back onto the batch to keep every original column
        val quality = batch.join(
          TextAnalysis
            .gopherQualityFlags(batch, idCol, textCol, minWords = minWords)
            .where(col("passes")).select(col(idCol)),
          Seq(idCol), "left_semi")
        val inBatch = Dedup.exactDedup(quality, textCol, idCol)
        // the landed corpus is the seen set — minus THIS generation,
        // so a replay never deduplicates against its own crashed write.
        // The probe resolves through the Hadoop FileSystem of outDir: a
        // java.io.File probe on an hdfs://|s3a:// dir reads empty, which
        // would silently skip dedup-vs-landed on every batch
        val root = new org.apache.hadoop.fs.Path(outDir)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val hasLanded = fs.exists(root) && Option(
            fs.globStatus(new org.apache.hadoop.fs.Path(root, "split=*")))
          .exists(_.exists(_.isDirectory))
        val landedPrior =
          if (!hasLanded) None
          else Some(spark.read.parquet(outDir)
            .where(col("gen").cast("long") =!= batchId))
        val novelExact = landedPrior.fold(inBatch)(seen =>
          Dedup.incrementalExactDedup(inBatch, seen.select(textCol),
            textCol, textCol, expectedSeen = expectedSeen))
        // optional near-dup stage: a paraphrased crawl duplicate
        // (token-set Jaccard ≥ tau vs ANY already-landed doc) is
        // dropped via the asymmetric band-key join — delta×seen
        // candidates only, never seen×seen — then a left-anti on the
        // matched delta ids. Within-batch paraphrases are NOT deduped
        // here (only exact within-batch dups are): they land together
        // and the later batch's copies dedup against them once landed.
        // The seen side's bands are PERSISTED per generation at
        // _bands/ (the [[Dedup.writeBandKeys]] cache): each batch reads
        // them instead of re-paying the corpus-sized minhash signature
        // work every trigger. The cache is derived state — a
        // generation whose bands are missing (crash between the data
        // land and the band append) is rebuilt from its landed data
        // here, so the stage can never silently skip a generation.
        // the cache path carries the banding parameters: a config
        // change (numHashes/bands) must NOT silently join fresh delta
        // bands against stale-parameter cached keys (zero candidates →
        // paraphrases land undetected) — a new parameterization gets a
        // new path and rebuilds from the landed data by construction
        val bandsPath =
          s"$outDir/_bands_nh${nearDupNumHashes}_b$nearDupBands"
        // when the near-dup stage runs, novelExact feeds BOTH the delta
        // band-keying inside the candidate join AND the left-anti that
        // drops the matches — un-staged, the quality gate + seen-bloom
        // pipeline above would evaluate twice inside the single staged
        // action below. Checkpointed lazily (only when the stage
        // actually engages) and dropped as soon as `staged` holds the
        // survivors' blocks.
        var nearDupBase: Option[DataFrame] = None
        val novel = (nearDupTau, landedPrior) match {
          case (Some(tau), Some(seen)) =>
            val landedGens = seen.select(col("gen").cast("long"))
              .distinct().collect().map(_.getLong(0)).toSet
            // NOTHING landed besides this batch's own (crashed) write:
            // there is no seen corpus to compare against — skip, and
            // never touch a band path that may not exist yet (the
            // first-batch replay crash window)
            if (landedGens.isEmpty) novelExact
            else {
              // committed-files probe, not a bare exists: a crash mid
              // band write leaves _temporary with no data files, which
              // a parquet read would refuse to infer a schema from —
              // before the heal loop could ever run
              val bandGens =
                if (graft.sources.CorpusExport.listDataFiles(fs,
                    new org.apache.hadoop.fs.Path(bandsPath)).nonEmpty)
                  spark.read.parquet(bandsPath)
                    .select(col("gen").cast("long")).distinct()
                    .collect().map(_.getLong(0)).toSet
                else Set.empty[Long]
              (landedGens -- bandGens).toSeq.sorted.foreach { g =>
                Dedup.writeBandKeys(
                  spark.read.parquet(outDir)
                    .where(col("gen").cast("long") === g),
                  idCol, textCol, bandsPath, g,
                  numHashes = nearDupNumHashes, bands = nearDupBands)
              }
              val base = novelExact.localCheckpoint()
              nearDupBase = Some(base)
              val seenBands = spark.read.parquet(bandsPath)
                .where(col("gen").cast("long") =!= batchId)
              val dupIds = Dedup.incrementalNearDupPairsWithBands(
                  base, idCol, textCol, seenBands, seen, tau,
                  numHashes = nearDupNumHashes, bands = nearDupBands)
                .select(col("delta_id").as(idCol)).distinct()
              base.join(dupIds, Seq(idCol), "left_anti")
            }
          case _ => novelExact
        }
        // stage the (batch-sized) survivors once: the export's probe,
        // count, route and write passes re-read THIS, not the
        // gate+dedup pipeline (whose seen-bloom build they would
        // otherwise re-run per action). The checkpoint's blocks are
        // explicitly dropped after the batch — a stream on a 10 s
        // trigger would otherwise pin one batch of survivors in
        // block-manager storage PER TRIGGER for the job's lifetime
        val staged =
          // localCheckpoint is eager: once `staged` exists, the
          // near-dup base's blocks have served their purpose — drop
          // them even when the checkpoint itself throws
          try novel.localCheckpoint()
          finally nearDupBase.foreach(Dedup.uncheckpoint)
        try {
          if (staged.limit(1).count() > 0) {
            CorpusExport.exportShardsIncremental(staged, idCol,
              contentCols, outDir, generation = batchId,
              targetShardBytes = targetShardBytes)
            // append this generation's bands AFTER its data commits: a
            // crash between the two leaves a landed generation with no
            // bands, which the next batch's rebuild heals from the data
            // (never the other way round — bands for unlanded data
            // would poison dedup with phantom seen docs)
            if (nearDupTau.isDefined)
              Dedup.writeBandKeys(staged, idCol, textCol, bandsPath,
                batchId, numHashes = nearDupNumHashes,
                bands = nearDupBands)
          }
        } finally Dedup.uncheckpoint(staged)
        ()
      }
      .start()
  }
}
