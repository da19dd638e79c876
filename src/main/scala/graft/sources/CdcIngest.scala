package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's sample record schema (City.java:9-12): bigint ids,
  * string name, date carried as a `yyyy-MM-dd` string. */
case class City(ref: Long, city_id: Long, city_name: String, c_date: String)

/** CDC-envelope ingestion (SURVEY §2.1 S2-S5), re-expressing App.txt:59-69:
  * lower-case the payload, parse the JSON envelope, extract `value.after`
  * (the `value` field is itself a JSON *string* — double-encoded,
  * FIXTURES §2), project typed fields, and derive `c_date` from epoch-ms
  * at UTC+8 (App.txt:66-68).
  *
  * All decoding is `from_json` on declared schemas — codegen-eligible,
  * no per-row driver logic, schema fixed at assembly time (mirroring the
  * reference's reflection-derived compile-time schema,
  * HiveOrcSink.java:309-314).
  */
object CdcIngest {

  private val outerSchema = StructType(Seq(StructField("value", StringType)))
  private val innerSchema = StructType(Seq(
    StructField("after", StructType(Seq(
      StructField("ref", LongType),
      StructField("city_id", LongType),
      StructField("city_name", StringType),
      StructField("c_time", LongType))))))

  /** The full decode chain as one expression: payload → outer envelope →
    * double-encoded `value` string → `after` struct (null when any level
    * fails to decode). Shared by [[parse]] and [[corruptRecords]] so the
    * quarantine invariant — flagged ⟺ parse nulls the row — can't drift
    * out of sync between two hand-maintained copies. */
  private def afterExpr(payloadCol: String) = {
    val outer = from_json(lower(col(payloadCol)), outerSchema)
    from_json(outer.getField("value"), innerSchema).getField("after")
  }

  /** The typed projection over the decoded `after` struct (bound as
    * column `a`) — ONE definition shared by [[parse]] and
    * [[parseEvolved]], so the timezone/date rule can never drift
    * between the two (the afterExpr single-source principle). */
  private def typedColumns: Seq[Column] = Seq(
    col("a.ref").as("ref"),
    col("a.city_id").as("city_id"),
    col("a.city_name").as("city_name"),
    // App.txt:66-68: epoch-millis rendered as a local date at UTC+8
    date_format(from_utc_timestamp(timestamp_millis(col("a.c_time")), "+08:00"),
      "yyyy-MM-dd").as("c_date"))

  /** payload string column → typed City frame (columns ref, city_id,
    * city_name, c_date). */
  def parse(df: DataFrame, payloadCol: String): DataFrame =
    df.select(afterExpr(payloadCol).as("a"))
      .select(typedColumns: _*)

  /** `parse(goodRecords(df, c), c)` with the envelope decoded once per
    * row instead of twice. A filter on the decoded struct would not do:
    * the optimizer pushes it back below the projection, re-decoding. So
    * undecodable rows are dropped by exploding a zero-or-one-element
    * array — a generator input the optimizer leaves in place. */
  def parseGood(df: DataFrame, payloadCol: String): DataFrame =
    df.select(explode(array_compact(array(afterExpr(payloadCol)))).as("a"))
      .select(typedColumns: _*)

  /** Dead-letter filter for [[parse]]: the input rows whose envelope does
    * NOT decode — malformed JSON at either nesting level, a non-object
    * `value`, or a missing `after` — plus null payloads. `from_json`
    * nulls these out silently (its PERMISSIVE default, which [[parse]]
    * deliberately keeps: one poison record must not kill a 100 TB
    * ingest), so a production job splits the stream once:
    * [[parseGood]]`(df, c)` to the warehouse,
    * `corruptRecords(df, c)` to a quarantine sink for replay. Rows
    * that decode but carry null
    * FIELDS (e.g. `after.ref: null`) are data, not corruption, and are
    * not flagged. */
  def corruptRecords(df: DataFrame, payloadCol: String): DataFrame =
    // null propagates through every decode stage, so a null `after` is
    // exactly "some level failed" (incl. a null payload itself)
    df.where(afterExpr(payloadCol).isNull)

  /** Exact complement of [[corruptRecords]]: the input rows whose
    * envelope decodes. The split is expressible only pre-[[parse]] —
    * parse output can't distinguish a corrupt row from a valid record
    * whose `after` fields are all null — so the split happens here, or
    * fused with the parse in [[parseGood]]. */
  def goodRecords(df: DataFrame, payloadCol: String): DataFrame =
    df.where(afterExpr(payloadCol).isNotNull)

  /** The declared `value.after` field set — the schema contract
    * [[schemaDriftRecords]] and [[parseEvolved]] compare the wire
    * payload against. */
  private val knownAfterFields = Seq("ref", "city_id", "city_name", "c_time")

  /** `value.after` decoded STRUCTURE-FREE as map<string, json-text> —
    * the drift probe: unlike [[afterExpr]]'s fixed struct (which
    * silently drops any field the schema doesn't declare), the map
    * decode sees every key the producer actually sent. Nested values
    * ride through as their JSON text. */
  private def afterMapExpr(payloadCol: String) = {
    val outer = from_json(lower(col(payloadCol)), outerSchema)
    val inner = from_json(outer.getField("value"),
      MapType(StringType, StringType))
    from_json(element_at(inner, "after"), MapType(StringType, StringType))
  }

  /** The unknown-field names in a payload's `value.after` (empty array
    * when the envelope matches the declared schema; null when the
    * envelope doesn't decode at all — that's [[corruptRecords]]'
    * territory, not drift). */
  def unknownAfterKeys(payloadCol: String): Column =
    array_sort(array_except(map_keys(afterMapExpr(payloadCol)),
      array(knownAfterFields.map(lit): _*)))

  /** Schema-drift dead-letter: rows whose envelope DECODES but carries
    * `value.after` fields outside the declared schema — the
    * upstream-added-a-column case, which [[parse]]'s fixed struct
    * would otherwise drop silently. Routed like the poison-message
    * path: a production job splits the stream loudly
    * (parse the conforming rows, quarantine-or-widen these) instead of
    * losing the new column for however long nobody notices. */
  def schemaDriftRecords(df: DataFrame, payloadCol: String): DataFrame =
    df.where(size(unknownAfterKeys(payloadCol)) > 0)

  /** The declared WIDEN mode: [[parse]]'s typed columns plus an
    * `extras` map carrying every undeclared `value.after` field as
    * (name → JSON text) — empty map for conforming rows. Downstream
    * can promote a surfaced field into the declared schema at leisure;
    * until then nothing is dropped. Same codegen posture as [[parse]]
    * (from_json expressions, no UDF). */
  def parseEvolved(df: DataFrame, payloadCol: String): DataFrame = {
    val extras = map_filter(afterMapExpr(payloadCol),
      (k, _) => !knownAfterFields.foldLeft(lit(false))(
        (acc, f) => acc || k === f))
    df.select(afterExpr(payloadCol).as("a"), extras.as("__x"))
      .select(typedColumns :+
        coalesce(col("__x"),
          map_from_arrays(array(), array()).cast("map<string,string>"))
          .as("extras"): _*)
  }

  def parseTyped(df: DataFrame, payloadCol: String): Dataset[City] = {
    val spark = df.sparkSession
    import spark.implicits._
    parse(df, payloadCol).as[City]
  }

  /** Inverse helper (test fixture generator): wrap typed rows back into
    * the double-encoded envelope shape the reference consumes. */
  def toEnvelope(df: DataFrame, epochMsCol: String): DataFrame =
    df.select(to_json(struct(
      to_json(struct(struct(
        col("ref"), col("city_id"), col("city_name"),
        col(epochMsCol).as("c_time")).as("after"))).as("value"))).as("payload"))
}
