package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The shared driver harness ([[Harness]]): entry selection, full
  * materialization, and the structural rule that keeps every main on it. */
class HarnessSuite extends AnyFunSuite {
  import TestSpark.spark

  private val known = Seq("q01", "q02", "x_a")
  private def select(filter: String*) =
    Harness.select("ONLY", known, filter.headOption.map("ONLY" -> _).toMap)

  test("select: no filter selects every entry, in the given order") {
    assert(select() == known)
    assert(Harness.select("ONLY", known, Map("OTHER" -> "q01")) == known)
  }

  test("select: blank and whitespace names are ignored") {
    assert(select(" x_a , ,\t, q01 ,") == Seq("q01", "x_a"))
    assert(select("") == known)
    assert(select(" , ") == known)
  }

  test("select: an unknown name throws and lists the known names") {
    val e = intercept[IllegalArgumentException](select("q01,q1"))
    assert(e.getMessage.contains("ONLY names no entry: q1"))
    known.foreach(n => assert(e.getMessage.contains(n)))
  }

  test("materialize computes every output column; count() prunes them") {
    val calls = spark.sparkContext.longAccumulator("harness_udf_calls")
    val tick = udf { (x: Long) => calls.add(1); x }
    val n = 1000L
    val df = spark.range(n).select(tick(col("id")).as("y"))
    assert(df.count() == n)
    assert(calls.value == 0L)
    Harness.materialize(df)
    assert(calls.value == n)
  }

  /** Files under `src/main` whose text contains `needle`. */
  private def filesWith(needle: String): Set[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(needle))
      .map((p: Path) => root.relativize(p).toString).toSet
    finally files.close()
  }

  test("structure: only Engine builds a session in src/main") {
    assert(filesWith("SparkSession.builder") == Set("graft/Engine.scala"))
  }

  test("structure: only Harness.materialize writes to the noop format") {
    val noop = "format(\"noop\")"
    assert(filesWith(noop) == Set("graft/Harness.scala"))
    assert(Files.readString(Paths.get("src/main/scala/graft/Harness.scala"))
      .split(java.util.regex.Pattern.quote(noop), -1).length == 2)
  }
}
