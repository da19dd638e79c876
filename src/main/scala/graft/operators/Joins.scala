package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Time-join helpers the built-in operators don't express directly
  * (SURVEY §2.3 J7/J8). Both are written for the 100 TB posture:
  * no correlated per-row scans, no unbounded theta joins.
  */
object Joins {

  /** A fixed internal column name would silently shadow (and then drop) a
    * caller column of the same name — corrupting user data with no error.
    * Fail fast instead. */
  private[graft] def requireFreeColumns(op: String, cols: Iterable[String],
                                            internal: String*): Unit = {
    val clash = internal.intersect(cols.toSeq)
    require(clash.isEmpty,
      s"$op uses internal column(s) ${clash.mkString(", ")}; rename the " +
        "conflicting input column(s)")
  }

  /** Opt-in scan fan-out for per-row-COMPUTE-heavy operator inputs
    * (optimization guide §2.5 "input skew: one huge unsplittable file →
    * repartition immediately after the read"): small/single-row-group
    * parquet yields ONE scan task regardless of `maxPartitionBytes`, so
    * everything upstream of an operator's first exchange (shingle
    * hashing, trigram explodes, HOF folds, brute-force cosine scoring)
    * runs serially on one core. When the input's partition count
    * undershoots the session's parallelism, add one deterministic hash
    * repartition on `keys` (keyed, so it skips the local sort a keyless
    * round-robin repartition pays — SPARK-23207).
    *
    * At production scale this is a structural NO-OP: a large table's
    * scan yields splits >> cores, the condition is false, and the plan
    * is unchanged — the fan-out never fires where the scan already
    * parallelizes. It is deliberately opt-in per call site, NOT blanket
    * at the table loader: measured A/B (OPTIMIZATION_r18.md) shows it
    * pays only where per-row compute dominates the pre-exchange stage;
    * entries whose first exchange comes cheap (plain aggregations,
    * multi-action trainer loops) regress under a blanket fan-out.
    * Results are partitioning-invariant for every declared entry (keyed
    * aggs, sort-pinned output, order-canonical float folds — re-proven
    * by the 221-entry oracle gate).
    *
    * Meant for scan-stage (narrow) inputs: computing the partition
    * count of a plan that already contains exchanges would force AQE
    * stage materialization (`.rdd` on such a plan runs the upstream
    * stages eagerly at operator-CONSTRUCTION time, and the work is not
    * reused at action time). That invariant is enforced STRUCTURALLY,
    * not by docstring: public operators hand this helper caller-supplied
    * frames, so when the analyzed plan carries any exchange-introducing
    * or wide node (join, aggregate, window, sort, distinct/dedup,
    * repartition, limit) the helper returns the frame unchanged — such a
    * plan already has a partitioning decided by its own operators, and
    * the probe would be both unsafe and pointless. */
  def fanOutForCompute(df: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.{logical => lp}
    val wide = df.queryExecution.analyzed.exists {
      case _: lp.Join | _: lp.Aggregate | _: lp.Window | _: lp.Sort |
           _: lp.Distinct | _: lp.Deduplicate | _: lp.RepartitionOperation |
           _: lp.GlobalLimit | _: lp.LocalLimit => true
      case _ => false
    }
    if (wide) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    val parts = df.rdd.getNumPartitions
    if (parts >= target) df
    else df.repartition(target, keys.map(col): _*)
  }

  /** Range join (J7): pairs rows of `left` and `right` sharing a key with
    * `right.ts ∈ (left.ts, left.ts + widthSec]`.
    *
    * Equi-bucket prefilter: time is bucketed by `widthSec`; a matching
    * right row can only land in the left row's bucket or the next one, so
    * the join becomes an *equi*-join on (key, bucket) — hash/SMJ eligible,
    * shuffle keyed on (key, bucket) — with a 2-way explode on the left and
    * the exact range predicate applied post-join. At 100 TB this avoids
    * the per-key cross product a plain theta join degenerates to.
    *
    * Caller must ensure left/right column names are disjoint.
    */
  def rangeJoin(left: DataFrame, leftKey: String, leftTs: String,
                right: DataFrame, rightKey: String, rightTs: String,
                widthSec: Long): DataFrame = {
    requireFreeColumns("rangeJoin", left.columns ++ right.columns,
      "__lus", "__b", "__rus", "__rb")
    val w = widthSec * 1000000L // micros
    val l = left
      .withColumn("__lus", unix_micros(col(leftTs)))
      .withColumn("__b", explode(array(floor(col("__lus") / w), floor(col("__lus") / w) + 1)))
    val r = right
      .withColumn("__rus", unix_micros(col(rightTs)))
      .withColumn("__rb", floor(col("__rus") / w))
    l.join(r,
        l("__b") === r("__rb") && l(leftKey) === r(rightKey) &&
          r("__rus") > l("__lus") && r("__rus") <= l("__lus") + lit(w),
        "inner")
      .drop("__lus", "__b", "__rus", "__rb")
  }

  /** As-of join (J8): for every left row, the greatest `right.ts` that is
    * `<` (strict) or `<=` left.ts within the same key, appended as column
    * `asof_ts` (null when no earlier right row exists).
    *
    * Union + running-max window: tag rows, sort by (key, ts, side) once,
    * take the running max of right-side timestamps. One shuffle on `key`,
    * no correlated subquery, no range explosion — the scalable as-of
    * formulation. Strictness is encoded in the tie-break order: at equal
    * ts the right row sorts after (strict) or before (non-strict) the
    * left row, so the rows-frame naturally ex/includes it.
    */
  def asofLatestTs(left: DataFrame, leftKey: String, leftTs: String,
                   right: DataFrame, rightKey: String, rightTs: String,
                   strict: Boolean = true): DataFrame = {
    requireFreeColumns("asofLatestTs", left.columns :+ "asof_ts",
      "__key", "__ts", "__side", "__row", "__rts", "__asof")
    val tsType = right.schema(rightTs).dataType
    val rowType = StructType(left.schema.fields)
    val lSide = if (strict) 0 else 1
    val rSide = 1 - lSide
    val l = left.select(
      col(leftKey).as("__key"), col(leftTs).as("__ts"), lit(lSide).as("__side"),
      struct(left.columns.map(col).toIndexedSeq: _*).as("__row"),
      lit(null).cast(tsType).as("__rts"))
    val r = right.select(
      col(rightKey).as("__key"), col(rightTs).as("__ts"), lit(rSide).as("__side"),
      lit(null).cast(rowType).as("__row"),
      col(rightTs).as("__rts"))
    val w = Window.partitionBy("__key").orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("__asof", max(col("__rts")).over(w))
      .where(col("__row").isNotNull)
      .select(col("__row.*"), col("__asof").as("asof_ts"))
  }

  /** Persist two frames bucketed on their join keys so later joins are
    * co-located — zero Exchange in the join plan (SURVEY §4.3: "co-locate
    * joins via bucketing"). At 100 TB this is the difference between a
    * one-time layout cost and re-shuffling the fact table every query.
    * Bucketed layout requires catalog tables (`saveAsTable`). */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int, format: String = "orc"): Unit =
    df.write.format(format)
      .bucketBy(buckets, key).sortBy(key)
      .mode("overwrite").saveAsTable(table)

  /** Skew-safe equi join: salt the skewed (left) side's key into
    * `saltFactor` sub-keys and explode the compact (right) side across
    * all salt values, so one hot key spreads over `saltFactor` tasks.
    * Complements AQE's runtime skew split (which only handles sort-merge
    * joins post-shuffle); use this when a known hot key must never land
    * in one task. Right side is replicated ×saltFactor — keep it the
    * dimension side. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 saltFactor: Int, joinType: String = "inner"): DataFrame = {
    // right/full outer would surface each unmatched right row once per
    // salt replica — semantically wrong, so reject those join types
    require(Set("inner", "left", "left_outer", "leftouter", "cross")
        .contains(joinType.toLowerCase),
      s"saltedJoin supports inner/left/cross joins, not $joinType " +
        "(the right side is replicated per salt)")
    requireFreeColumns("saltedJoin", left.columns ++ right.columns, "__salt")
    val l = left.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(saltFactor.toLong)))
    val r = right.withColumn("__salt",
      explode(array((0 until saltFactor).map(i => lit(i.toLong)): _*)))
    l.join(r, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Serialized bloom filter over a one-column frame (null when the frame
    * is empty). Internal seam shared by [[bloomFilteredJoin]] and
    * [[graft.operators.Dedup.incrementalExactDedup]]. */
  private[graft] def bloomOf(keys: DataFrame, expectedItems: Long): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val k = keys.columns.head
    keys.select(ColumnBridge.column(
        new BloomFilterAggregate(
          new XxHash64(Seq(ColumnBridge.loweredExpression(col(k)))),
          expectedItems).toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]]("bf")
  }

  /** Probe predicate for [[bloomOf]]'s serialized filter. */
  private[graft] def mightContain(bfBytes: Array[Byte], probe: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.BinaryType
    ColumnBridge.column(BloomFilterMightContain(
      Literal.create(bfBytes, BinaryType),
      new XxHash64(Seq(ColumnBridge.loweredExpression(probe)))))
  }

  /** Bloom-filter semi-reduction join (the classic distributed "bloom
    * join"): fold the small side's join keys into a Bloom filter (one
    * tiny map-side-combining aggregate job), plant it as a
    * `might_contain` literal predicate on the big side, then run the
    * exact equi-join on the survivors. Bloom false positives are
    * eliminated by the equi-match itself, so the output is EXACTLY the
    * plain join at any false-positive rate — the filter only decides how
    * many definite-miss rows skip the shuffle.
    *
    * When it pays: `small` is too large to broadcast (so the join must
    * shuffle BOTH sides) but its key set still fits a few MB of bloom
    * bits, and the join is selective — at 100 TB this turns "shuffle the
    * whole fact table" into "shuffle the ~matching fraction". Spark's
    * own runtime bloom injection (`spark.sql.optimizer.runtime.
    * bloomFilter.enabled`) makes the same trade adaptively; this
    * operator is the explicit, always-on form with a caller-controlled
    * key estimate. The probe predicate lands BELOW the big side's
    * Exchange (PlanShapeSuite asserts it), which is the whole point.
    *
    * Inner and left-semi only: outer joins must keep bloom-missed rows,
    * which the prefilter by construction discards. */
  def bloomFilteredJoin(big: DataFrame, bigKey: String,
                        small: DataFrame, smallKey: String,
                        expectedKeys: Long = 1000000L,
                        joinType: String = "inner"): DataFrame = {
    require(Set("inner", "left_semi", "leftsemi").contains(joinType.toLowerCase),
      s"bloomFilteredJoin supports inner/left_semi joins, not $joinType " +
        "(the prefilter drops bloom-missed big-side rows)")
    require(expectedKeys > 0, "expectedKeys must be positive")
    val bf = bloomOf(small.select(col(smallKey)), expectedKeys)
    // empty small side → no bloom to probe; the join result is empty for
    // both supported join types, so keep the schema and drop every row
    val pre =
      if (bf == null) big.where(lit(false))
      else big.where(mightContain(bf, col(bigKey)))
    pre.join(small, pre(bigKey) === small(smallKey), joinType)
  }
}
