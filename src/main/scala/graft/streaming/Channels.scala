package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}

/** Message-channel admin lifecycle — the Spark-native analogue of the
  * reference's Pub/Sub topic/subscription management
  * (`simulate_session_stream.py:141-156`: `create_topic`,
  * `create_subscription` bound to the topic; consumers read via the
  * subscription, each with independent progress).
  *
  * Mapping, concept for concept:
  *   - **topic** → an append-only directory of message files. Publishing is
  *     a file commit; file modification-time order is publish order (the
  *     contract StreamRunner's one staged slice commit keeps).
  *   - **subscription** → a named, topic-bound streaming checkpoint. Every
  *     subscription reads the whole topic independently (Pub/Sub fan-out)
  *     and its checkpoint carries its own delivery cursor: a drain delivers
  *     only messages committed since that subscription's last drain —
  *     exactly Structured Streaming's file-source offset tracking, which is
  *     why no bespoke cursor code exists here. DOCUMENTED DIVERGENCE: a
  *     subscription created AFTER publishes replays the topic's full
  *     retained history on first drain (its cursor starts at the
  *     beginning), where real Pub/Sub delivers only messages published
  *     after the subscription exists. The reference never hits the
  *     difference (it binds the subscription before publishing,
  *     simulate_session_stream.py:141-156), and the file source offers no
  *     seek-to-now hook (`modifiedAfter` is batch-only) — so the channel
  *     keeps replay-from-start semantics, which ChannelsSpec pins as
  *     'fan-out'.
  *   - **delete** → recursive removal of the directory (and, for a topic,
  *     nothing else: like Pub/Sub, deleting a topic does not delete its
  *     subscriptions — they just stop receiving).
  *
  * Create-on-existing fails (Pub/Sub `AlreadyExists` parity); operations on
  * a missing channel fail fast (`NotFound` parity).
  *
  * Scale stance: a channel is a directory contract, so at warehouse scale
  * the root lives on the object store and publishers/consumers are separate
  * jobs; nothing here holds driver-side state beyond path strings.
  *
  * SINGLE WRITER PER TOPIC: publish order is serialized by the mtime
  * stamper, which derives its base from a snapshot of the dir listing at
  * publish time (in StreamRunner's one slice commit) — two publishers
  * stamping the same topic concurrently can snapshot the same base and
  * emit colliding/interleaved mtimes, making cross-publisher replay order
  * arbitrary. Concurrent publishers must serialize externally (one
  * publisher job per topic — the reference's own deployment shape; its
  * replay scripts are a single process per topic). Consumers are unlimited
  * and need no coordination.
  */
final case class Channels(root: String) {

  /** Messages are wire-format rows: a single binary `value` column, the
    * same shape `EcommerceOps.encodeMessage` produces (S4). */
  val messageSchema: StructType = StructType(Seq(StructField("value", BinaryType)))

  private def topicDir(name: String): Path = Paths.get(root, "topics", name)
  private def subDir(name: String): Path = Paths.get(root, "subscriptions", name)

  // --- admin -----------------------------------------------------------

  def createTopic(name: String): String = {
    val d = topicDir(name)
    require(!Files.exists(d), s"topic $name already exists") // AlreadyExists
    Files.createDirectories(d)
    // incarnation stamp (underscore-prefixed → invisible to the file
    // source's listing): a topic deleted and re-created at the same path is
    // a DIFFERENT topic, and a subscription bound to the old incarnation
    // must not read the new one through its stale seen-files log (which
    // could silently skip or misorder the new incarnation's messages)
    Files.writeString(d.resolve(IncarnationFile),
      java.util.UUID.randomUUID().toString)
    d.toString
  }

  def createSubscription(name: String, topic: String): String = {
    require(Files.exists(topicDir(topic)), s"topic $topic not found") // NotFound
    val d = subDir(name)
    require(!Files.exists(d), s"subscription $name already exists")
    Files.createDirectories(d)
    // binding marker: the subscription remembers its topic AND the
    // incarnation it was bound to, as in Pub/Sub (where the binding is to
    // the topic resource, not its name)
    Files.writeString(d.resolve("TOPIC"), topic)
    Files.writeString(d.resolve("INCARNATION"), incarnationOf(topic))
    d.toString
  }

  private val IncarnationFile = "_INCARNATION"

  private def incarnationOf(topic: String): String = {
    val f = topicDir(topic).resolve(IncarnationFile)
    if (Files.exists(f)) Files.readString(f) else ""
  }

  /** Fail if `subscription`'s bound topic was deleted and re-created since
    * the binding (same name, different incarnation). */
  private def requireSameIncarnation(subscription: String, topic: String): Unit = {
    val f = subDir(subscription).resolve("INCARNATION")
    // a subscription dir created before incarnation stamping has no marker:
    // treat it as bound to the unstamped ("") incarnation — the same
    // convention incarnationOf uses for an unstamped topic — so legacy
    // pairs still drain and a re-created (stamped) topic is still refused
    val bound = if (Files.exists(f)) Files.readString(f) else ""
    val current = incarnationOf(topic)
    require(bound == current,
      s"topic $topic was deleted and re-created since subscription " +
        s"$subscription was bound; re-create the subscription")
  }

  def listTopics(): Seq[String] = list(Paths.get(root, "topics"))
  def listSubscriptions(): Seq[String] = list(Paths.get(root, "subscriptions"))

  def deleteTopic(name: String): Unit = remove(topicDir(name), s"topic $name")
  def deleteSubscription(name: String): Unit =
    remove(subDir(name), s"subscription $name")

  private def list(p: Path): Seq[String] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.list(p)
      try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      finally s.close()
    }

  private def remove(d: Path, what: String): Unit = {
    require(Files.exists(d), s"$what not found")
    val s = Files.walk(d)
    try s.sorted(Comparator.reverseOrder[Path]()).iterator().asScala
      .foreach(p => Files.delete(p))
    finally s.close()
  }

  // --- data path -------------------------------------------------------

  private def requireWire(messages: DataFrame): Unit =
    require(
      messages.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        Seq(("value", BinaryType)),
      s"messages must be (value: binary), got ${messages.schema.catalogString}")

  /** Publish a frame of wire messages (single binary `value` column) as one
    * ordered file commit — the bulk analogue of the reference's per-event
    * `publisher.publish` loop. */
  def publish(messages: DataFrame, topic: String): Unit = {
    val d = topicDir(topic)
    require(Files.exists(d), s"topic $topic not found")
    requireWire(messages)
    // stamped, not a plain write: paced publishes stamp their slices ahead
    // of the wall clock, so an unstamped bulk commit could sort BETWEEN
    // earlier paced slices and break "mtime order is publish order"
    StreamRunner.writeOrderedCommit(messages, d.toString)
  }

  /** Paced publish: split `messages` into `slices` event-time-ordered
    * commits keyed by `paceTs` (pacing metadata, NOT written to the wire)
    * — the deterministic analogue of the reference's wall-clock-paced
    * publishing loop. */
  def publishPaced(messages: DataFrame, paceTs: String, slices: Int,
                   topic: String): Unit = {
    val d = topicDir(topic)
    require(Files.exists(d), s"topic $topic not found")
    require(messages.columns.toSet == Set("value", paceTs),
      s"expected (value, $paceTs), got ${messages.columns.mkString(",")}")
    StreamRunner.writePacedSlices(messages, paceTs, slices, d.toString,
      dropCols = Seq(paceTs))
  }

  /** Per-event-Δt publish — the reference's simulate_session_stream.py
    * publish loop (one `publisher.publish` per event, sleeping each
    * inter-event gap): one commit per distinct `paceTs` value, ascending.
    * Returns the commit count. */
  def publishPerEvent(messages: DataFrame, paceTs: String, topic: String,
                      maxTimes: Int = 96): Int = {
    val d = topicDir(topic)
    require(Files.exists(d), s"topic $topic not found")
    require(messages.columns.toSet == Set("value", paceTs),
      s"expected (value, $paceTs), got ${messages.columns.mkString(",")}")
    StreamRunner.writePerEventSlices(messages, paceTs, d.toString, maxTimes,
      dropCols = Seq(paceTs))
  }

  /** Open a subscription as a streaming frame (one publish commit = one
    * micro-batch under `maxFilesPerTrigger=1`) plus the checkpoint path
    * that is its durable delivery cursor. */
  def open(spark: SparkSession, subscription: String): (DataFrame, String) = {
    val d = subDir(subscription)
    require(Files.exists(d), s"subscription $subscription not found")
    val topic = Files.readString(d.resolve("TOPIC"))
    val td = topicDir(topic)
    require(Files.exists(td), s"topic $topic (bound by $subscription) not found")
    requireSameIncarnation(subscription, topic)
    val stream = spark.readStream
      .schema(messageSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(td.toString)
    (stream, d.resolve("checkpoint").toString)
  }

  /** Drain every message published since this subscription's last drain
    * into `outDir` (appending) and return the sink's full contents. Two
    * subscriptions on one topic each receive every message; draining again
    * without new publishes delivers nothing new — the Pub/Sub delivery
    * contract, implemented entirely by the file source's checkpointed
    * offsets. Draining a subscription whose topic was deleted delivers
    * nothing new and keeps what was already consumed (the detached-
    * subscription contract: it "just stops receiving" — the deleted
    * topic's UNDELIVERED backlog is gone with its directory). */
  def drain(spark: SparkSession, subscription: String, outDir: String): DataFrame = {
    val d = subDir(subscription)
    require(Files.exists(d), s"subscription $subscription not found")
    if (!Files.exists(topicDir(Files.readString(d.resolve("TOPIC")))))
      return sinkContents(spark, outDir)
    val (stream, checkpoint) = open(spark, subscription)
    val q = stream.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    sinkContents(spark, outDir)
  }

  private def sinkContents(spark: SparkSession, outDir: String): DataFrame =
    if (Files.exists(Paths.get(outDir)))
      spark.read.schema(messageSchema).parquet(outDir)
    else // nothing ever delivered: the sink dir was never created
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], messageSchema)
}
