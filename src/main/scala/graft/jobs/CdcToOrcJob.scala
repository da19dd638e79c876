package graft.jobs

import graft.sources.{CdcIngest, KafkaSource, OrcTableSink}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's sample job (App.txt:26-73) end-to-end, Spark-native:
  * Kafka (or any payload stream) → lower-case JSON CDC-envelope parse →
  * typed City projection with UTC+8 date derivation → partitioned-ORC
  * warehouse table with exactly-once file visibility.
  *
  * The reference wires: FlinkKafkaConsumer011 → map(JSON → City) →
  * HiveOrcSink(warehouse, "flink_orc", batchSize, RowTimeBucketer("c_date")).
  * Here the same pipeline is three declarative stages; checkpointing
  * replaces the sink's hand-rolled tmp→pending→final state machine
  * (HiveOrcSink.java:321-345,448-455) with the `_spark_metadata` commit
  * log, and recovery replays from source offsets instead of an in-heap
  * row buffer (HiveOrcSink.java:271).
  */
object CdcToOrcJob {

  /** Wire the full job from a Kafka topic. */
  def fromKafka(spark: SparkSession, bootstrap: String, topic: String,
                warehouse: String, table: String, checkpoint: String,
                trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    run(KafkaSource.stream(spark, bootstrap, topic),
      warehouse, table, checkpoint, trigger)

  /** The job's decode: `payload` envelopes → typed City rows, dropping
    * the undecodable ones. */
  def cities(payloads: DataFrame): DataFrame = CdcIngest.parseGood(payloads, "payload")

  /** Wire the job from any streaming frame with a `payload` string column
    * (MemoryStream in tests — the S1 batch-equivalence seam).
    *
    * Undecodable payloads are dropped at the source ([[CdcIngest
    * .parseGood]]) rather than landing as all-null rows in a
    * `c_date=__HIVE_DEFAULT_PARTITION__` dir. The reference is
    * stricter-but-worse here: its `JSON.parseObject` map throws on
    * malformed input and, with `noRestart` (App.txt:45), one poison
    * record kills the whole job — unacceptable at 100 TB. Callers that
    * need the rejects route `CdcIngest.corruptRecords(payloads, c)` to
    * their own quarantine sink. */
  def run(payloads: DataFrame, warehouse: String, table: String,
          checkpoint: String,
          trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery = {
    OrcTableSink.streamWriter(cities(payloads), warehouse, table, "c_date", checkpoint)
      .trigger(trigger)
      .start()
  }
}
