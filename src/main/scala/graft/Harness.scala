package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What the driver mains ([[Bench]], [[Verify]], [[ScaleSmoke]],
  * [[graft.tools.ExplainOne]]) share besides [[Engine.session]]: the core
  * count, the entry table, the entry filter and the materialization. */
object Harness {

  /** Local cores: `SPARK_GRAFT_CPUS`, else the main's own default. */
  def cpus(default: Int): Int = sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** Every runnable entry: the oracle-checked queries plus the bench-only ones. */
  lazy val entries: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries ++ SparkEntry.benchOnly

  /** `known`, narrowed to the comma-separated names in `env(envVar)` when
    * that names any (blank names are ignored). A name not in `known`
    * throws and lists the known ones: a typo must never shrink a run
    * silently, or an empty run read as a free, certified one. */
  def select(envVar: String, known: Seq[String],
             env: collection.Map[String, String] = sys.env): Seq[String] = {
    val keep = env.get(envVar).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSet
    val unknown = keep -- known
    require(unknown.isEmpty, s"$envVar names no entry: ${unknown.toSeq.sorted.mkString(", ")} " +
      s"(known: ${known.mkString(", ")})")
    if (keep.isEmpty) known else known.filter(keep)
  }

  /** Computes every output column of `df` and discards the rows (a
    * `noop`-format write): a bare `count()` would let Catalyst prune the
    * computed columns and under-report the work. */
  def materialize(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
}
