package graft.tools

/** Plan inspector: print `.explain("formatted")` for one
  * [[graft.Harness.entries]] entry — the fast path for the "is this the
  * plan you'd want at 100 TB" audit (pushdown reached the scan? broadcast
  * where expected? whole-stage codegen spans wide?).
  *
  * Usage: sbt "runMain graft.tools.ExplainOne q48_map_fns2 [sfDir]"
  */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q48_map_fns2")
    val sfDir = args.lift(1).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    val plan = graft.Harness.entries(name)
    val spark = graft.Engine.session("graft-explain", graft.Harness.cpus(4))
    spark.sparkContext.setLogLevel("ERROR")
    plan(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
