package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.TimestampType

import graft.streaming.EventStreams

/** A generated event, in the column order of `EventStreams.rawEventSchema`. */
final case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String,
    value: Double, props: String)

/**
 * A structured-streaming execution built by the benchmark: seeded
 * events land as `files` parquet files, and graft's windowed counts run
 * over them as a file stream, one file per micro-batch, into a memory
 * sink. The result is checked against a plain-Scala count of the same
 * events. Values are whole numbers, so sums are exact in any order.
 */
final class Streams(spark: SparkSession, dir: String, seed: Long) {
  import spark.implicits._

  private val n = 6000
  private val files = 2

  private val hourMs = 3600L * 1000L
  private val start = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private val types = Vector("click", "error", "purchase", "signup", "view")
  private val events: Vector[Event] = {
    val rng = new scala.util.Random(seed ^ 0x2545F4914F6CDD1DL)
    Vector.tabulate(n)(i => Event(i.toLong, new Timestamp(start + rng.nextLong(24 * hourMs)),
      rng.nextInt(1500).toLong, types(rng.nextInt(types.size)), rng.nextInt(100).toDouble, ""))
  }
  events.grouped((n + files - 1) / files).foreach { part =>
    part.toDS().coalesce(1).write.mode("append").parquet(dir)
  }
  private val want: Map[(Long, String), (Long, Double)] =
    events.groupBy(e => (e.ts.getTime / hourMs * hourMs, e.event_type))
      .map { case (k, es) => k -> (es.size.toLong, es.map(_.value).sum) }

  val names: Seq[String] = Seq("stream_gen_windowed")
  private var runs = 0

  /** Builds the streaming plan (the timed build step); the closure runs it to the end. */
  def build(name: String): () => Outcome = {
    require(name == "stream_gen_windowed", name)
    val plan = EventStreams.windowedCounts(
      spark.readStream.schema(EventStreams.rawEventSchema(TimestampType))
        .option("maxFilesPerTrigger", 1).parquet(dir))
    () => {
      runs += 1
      val table = s"perfbench_stream_$runs"
      val q = plan.writeStream.outputMode("complete").format("memory").queryName(table)
        .trigger(Trigger.ProcessingTime(0L)).start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table(table).collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      spark.sql(s"DROP VIEW IF EXISTS $table")
      Outcome(got.size, 0L, () => got == want)
    }
  }
}
