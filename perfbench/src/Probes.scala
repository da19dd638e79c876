package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Layer probes of the traced run: the engine's fixed per-job floor, and
  * each native expression beside its higher-order-function or UDF
  * formulation, with a bit-identity check on every pair. */
object Probes {
  /** Median wall time of a trivial one-row `noop` job. */
  def engine(ctx: Ctx): Map[String, Any] = {
    val one = ctx.spark.range(1).toDF()
    (1 to 3).foreach(_ => Measure.noop(one))
    Map("engine.job_floor_ms" -> Measure.medianMs(15)(Measure.noop(one)))
  }

  private val Vocab = ("a agg batch big column customer data fast filter group hash join " +
    "key line merge order part query row scan slow small sort spark stream table the " +
    "value vector window ｓｐａｒｋ ﬁlter ｑｕｅｒｙ ﬂow ²").split(" ")

  /** Seeded text row `i`: 20-80 tokens, some full-width or ligature forms. */
  def text(seed: Long, i: Long): String = {
    val r = new java.util.SplittableRandom(seed * 31 + i)
    Iterator.fill(20 + r.nextInt(61))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
  }

  /** Seeded unit-scale 64-d vector pair for row `i`. */
  def vectors(seed: Long, i: Long): (Array[Double], Array[Double]) = {
    val r = new java.util.SplittableRandom(seed * 37 + i)
    (Array.fill(64)(r.nextDouble() - 0.5), Array.fill(64)(r.nextDouble() - 0.5))
  }

  /** ns per row of each native expression and its HOF/UDF formulation,
    * net of the per-job floor, over cached seeded inputs. */
  def expressions(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.seed
    val floorMs = engine(ctx)("engine.job_floor_ms").asInstanceOf[Double]
    def cached(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }
    val nText = 20000L
    val texts = cached(spark.range(0L, nText, 1L, ctx.cores).as[Long]
      .map(i => (i, text(seed, i))).toDF("id", "text")
      .select(col("id"), col("text"), array_distinct(split(col("text"), " ")).as("tok")))
    // the minhash HOF form costs ~20x the fused one: a quarter of the rows
    val nHof = nText / 4
    val textsHof = cached(texts.where(col("id") % 4 === 0))
    val nVec = 100000L
    val vecs = cached(spark.range(0L, nVec, 1L, ctx.cores).as[Long]
      .map(i => vectors(seed, i)).toDF("a", "b"))
    val nfkcUdf = udf((s: String) =>
      if (s == null) null else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKC))
    val pairs: Seq[(String, DataFrame, Long, DataFrame, Long, Column, Column)] = Seq(
      ("minhash", texts, nText, textsHof, nHof,
        graft.expressions.HashExpressions.minHashSignature(col("tok"), 64),
        array((0 until 64).map(i => array_min(transform(col("tok"), t => xxhash64(t, lit(i))))): _*)),
      ("dot", vecs, nVec, vecs, nVec,
        graft.expressions.VectorExpressions.fastDot(col("a"), col("b")),
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)),
      ("nfkc", texts, nText, texts, nText,
        graft.expressions.TextExpressions.normalizeUnicode(col("text")),
        nfkcUdf(col("text"))))
    val out = pairs.flatMap { case (name, df, n, refDf, refN, native, ref) =>
      def nsPerRow(d: DataFrame, rows: Long, c: Column): Double = {
        Measure.noop(d.select(c))
        math.max(0.0, Measure.medianMs(3)(Measure.noop(d.select(c))) - floorMs) * 1e6 / rows
      }
      val mismatched = refDf.where(not(native <=> ref)).count()
      Seq(s"expr.${name}_ns_per_row" -> nsPerRow(df, n, native),
        s"expr.${name}_${if (name == "nfkc") "udf" else "hof"}_ns_per_row" ->
          nsPerRow(refDf, refN, ref),
        s"expr.${name}_mismatched_rows" -> mismatched)
    }.toMap
    textsHof.unpersist()
    texts.unpersist()
    vecs.unpersist()
    out
  }
}
