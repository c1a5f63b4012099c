package graft.api

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}

import graft.core.TopicSpec

/** Application entry point — the faust `App` analog
  * (`/root/reference/faust/app/base.py:575-619` boot,
  * `base.py:754-830` topic/channel factories, `base.py:1097-1216`
  * table factories), reduced to what Spark does not already own:
  * naming, configuration, and factory methods. Consumer lifecycle,
  * rebalancing, recovery and flow control are Spark's
  * (checkpointing + state stores + AQE).
  *
  * @param id        application id; prefixes internal topic names and
  *                  checkpoint locations (like faust's `app_id`)
  * @param brokers   Kafka bootstrap servers for [[Topic]] I/O
  */
final class App(val spark: SparkSession, val id: String,
                val brokers: Option[String] = None,
                val checkpointRoot: String = "/tmp/graft-checkpoints") {

  /** Declare a Kafka-backed topic (faust `app.topic`). */
  def topic(spec: TopicSpec): Topic = new Topic(this, spec)

  def topic(name: String): Topic = topic(TopicSpec(name = Some(name)))

  /** Wrap any Dataset as a stream (faust `app.stream(iterable)`). */
  def stream[T](ds: Dataset[T]): GStream[T] = new GStream[T](this, ds)

  def streamDF(df: DataFrame): GStream[org.apache.spark.sql.Row] =
    new GStream(this, df)

  /** Checkpoint dir for a named query (agent). */
  def checkpointFor(queryName: String): String =
    s"$checkpointRoot/$id/$queryName"
}

object App {
  /** Build an App on a [[graft.Sessions.local]] session named `id`
    * (the base conf at `cores`, then `extraConf`); no scratch dir.
    */
  def local(id: String, cores: Int = Runtime.getRuntime.availableProcessors,
            extraConf: Map[String, String] = Map.empty): App =
    new App(graft.Sessions.local(id, cores, extraConf), id)
}

/** Kafka topic handle: source/sink builders (faust `Topic`,
  * `/root/reference/faust/topics.py:57-494`). Declaration
  * (`topics.py:453-478`) maps to AdminClient configs in
  * [[TopicSpec.topicConfigs]]; production (`topics.py:155-195`) to the
  * Kafka sink; subscription to readStream options.
  */
final class Topic(app: App, val spec: TopicSpec) {

  private def brokersOrFail: String = app.brokers.getOrElse(
    throw new IllegalStateException(s"App(${app.id}) has no Kafka brokers configured"))

  /** Streaming source: raw Kafka frame (key/value binary + metadata
    * columns — exactly the reference's Message fields,
    * `faust/types/tuples.py:108-219`).
    */
  def readStream: DataFrame =
    app.spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokersOrFail)
      .options(spec.sourceOptions)
      .load()

  /** Batch source over the topic's current contents. */
  def read: DataFrame =
    app.spark.read.format("kafka")
      .option("kafka.bootstrap.servers", brokersOrFail)
      .options(spec.sourceOptions)
      .load()

  /** Continuous sink (faust `topic.send` path): expects key/value
    * columns (binary or string). Exactly-once via checkpointing.
    */
  def writeStream(df: DataFrame, queryName: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.format("kafka")
      .option("kafka.bootstrap.servers", brokersOrFail)
      // headers need explicit opt-in on the Kafka sink
      .option("includeHeaders", "true")
      .option("topic", spec.name.getOrElse(
        throw new IllegalStateException("cannot produce to a pattern subscription")))
      .option("checkpointLocation", app.checkpointFor(queryName))
}

object Topic {

  /** Build the produce frame the Kafka sink consumes — the faust
    * `Topic.send(key, value, partition, timestamp, headers, ...)`
    * argument surface (`faust/topics.py:155-195`) as columns:
    *
    *  - `key`/`value` cast to binary (the serializer step;
    *    pre-serialize with [[Models.encode]] for typed payloads)
    *  - `headers`: `array<struct<key: string, value: binary>>` — the
    *    Kafka record-header wire shape the source reads back
    *  - `partition`: explicit routing (faust `send(partition=n)`);
    *    when None the sink's partitioner routes by key hash, exactly
    *    like faust deferring to the producer's default partitioner
    *    (`topics.py:180-186`)
    *  - `topic`: optional per-record topic override (faust's
    *    derive-topic / forward-to-another-topic routing); the Kafka
    *    sink reads a `topic` column when no fixed topic option is set
    *
    * Null semantics mirror the reference exactly (`send(key=None,
    * value=None)` is legal, `topics.py:155-170`): a null key defers to
    * the producer's default partitioner, and a null value is a
    * TOMBSTONE — the deletion record log-compacted changelog topics
    * rely on. `timestamp` is intentionally absent: the Kafka sink
    * stamps records at append time (the reference's send timestamp is
    * likewise advisory for the broker).
    *
    * Pure column work — no broker required; the wire path is
    * [[Topic.writeStream]] over this frame.
    */
  def produceFrame(df: DataFrame, key: Column, value: Column,
                   partition: Option[Column] = None,
                   headers: Seq[(String, Column)] = Nil,
                   topic: Option[Column] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = Seq(key.cast("binary").as("key"), value.cast("binary").as("value"))
    val hdr =
      if (headers.isEmpty) Nil
      else Seq(array(headers.map { case (k, v) =>
        struct(lit(k).as("key"), v.cast("binary").as("value"))
      }: _*).as("headers"))
    val part = partition.map(_.cast("int").as("partition")).toSeq
    val top = topic.map(_.cast("string").as("topic")).toSeq
    df.select(base ++ hdr ++ part ++ top: _*)
  }
}
