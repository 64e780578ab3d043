package perfbench

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.Slots
import graft.pipeline.{ExecutionBuilder, MRRecord, Remote}

/** A generated key/value record; keys carry a `{tag}` so reshuffle groups them by slot. */
final case class KV(key: String, value: Long)

/** The outcome of one generated execution; `check` compares it with the plain-Scala answer. */
final case class Outcome(rows: Long, errors: Long, check: () => Boolean)

/**
 * LibMR pipelines built by the benchmark over seeded generated records,
 * each checked against a plain-Scala computation over the same records.
 * They drive graft's per-record `Env[R]` layer (`ExecutionBuilder`) and
 * its point-query facade (`Remote.runOnKey`).
 */
final class Pipelines(spark: SparkSession, dir: String, seed: Long) {
  import spark.implicits._

  private val n = 40000
  private val lookups = 3

  private val records: Vector[KV] = {
    val rng = new scala.util.Random(seed)
    Vector.tabulate(n)(i => KV(s"user:{${rng.nextInt(4096)}}:$i", rng.nextInt(1000).toLong))
  }
  private val lookupKeys: Vector[String] = {
    val rng = new scala.util.Random(seed ^ 0x5DEECE66DL)
    Vector.fill(lookups)(records(rng.nextInt(n)).key)
  }

  records.toDS().write.mode("overwrite").parquet(dir)
  private def ds: Dataset[KV] = spark.read.parquet(dir).as[KV]
  private implicit val kvRecord: MRRecord[KV] = MRRecord[KV](_.key)

  val names: Seq[String] = Seq("mr_gen_countkeys", "mr_gen_filter_map",
    "mr_gen_reshuffle_etl", "mr_gen_error_map", "mr_gen_accumulate", "mr_gen_run_on_key")

  /** Wall seconds inside `ExecutionBuilder.run()` and per `Remote.runOnKey` call, in order. */
  val runSeconds = scala.collection.mutable.ArrayBuffer.empty[Double]
  val lookupSeconds = scala.collection.mutable.ArrayBuffer.empty[Double]
  var recordsIn = 0L
  var errorRecords = 0L

  def reset(): Unit = {
    runSeconds.clear(); lookupSeconds.clear(); recordsIn = 0L; errorRecords = 0L
  }

  private def timedRun[R](b: ExecutionBuilder[R]) = {
    val t0 = System.nanoTime()
    val r = b.run()
    runSeconds += (System.nanoTime() - t0) / 1e9
    recordsIn += n
    errorRecords += r.errors.size
    r
  }

  /** Builds the execution (the timed build step); the returned closure runs it (the timed action). */
  def build(name: String): () => Outcome = name match {
    case "mr_gen_countkeys" =>
      val b = ExecutionBuilder.reader(ds)
        .accumulate(0L)((acc, _) => acc + 1L)
        .collect()
        .accumulate(0L)(_ + _)
      () => {
        val r = timedRun(b)
        Outcome(r.results.size, r.errors.size, () => r.results == Seq(n.toLong) && r.errors.isEmpty)
      }
    case "mr_gen_filter_map" =>
      val b = ExecutionBuilder.reader(ds).filter(_.value % 7 == 0).map(kv => s"${kv.key}=${kv.value}")
      () => {
        val r = timedRun(b)
        Outcome(r.results.size, r.errors.size, () =>
          r.results.sorted == records.filter(_.value % 7 == 0).map(kv => s"${kv.key}=${kv.value}").sorted &&
            r.errors.isEmpty)
      }
    case "mr_gen_reshuffle_etl" =>
      val b = ExecutionBuilder.reader(ds).reshuffle()
        .map(kv => (Slots.slot(kv.key), TaskContext.getPartitionId(), kv.value * 2))
        .collect()
      () => {
        val r = timedRun(b)
        Outcome(r.results.size, r.errors.size, () => {
          // every slot lands in exactly one partition, and no record is lost or changed
          val colocated = r.results.groupBy(_._1).forall(_._2.map(_._2).distinct.size == 1)
          val sums = r.results.groupMapReduce(_._1)(_._3)(_ + _)
          val want = records.groupMapReduce(kv => Slots.slot(kv.key))(_.value * 2)(_ + _)
          colocated && sums == want && r.results.size == n && r.errors.isEmpty
        })
      }
    case "mr_gen_error_map" =>
      val b = ExecutionBuilder.reader(ds).filter(_.value < 100)
        .map[Long](kv => throw new IllegalStateException(s"bad record ${kv.key}"))
      () => {
        val r = timedRun(b)
        // the [0 results, N errors] law: the execution completes, every input is an error
        Outcome(r.results.size, r.errors.size, () =>
          r.results.isEmpty && r.errors.size == records.count(_.value < 100))
      }
    case "mr_gen_accumulate" =>
      val b = ExecutionBuilder.reader(ds)
        .accumulate((0L, 0L))((acc, kv) => (acc._1 + kv.value, math.max(acc._2, kv.value)))
        .collect()
        .accumulate((0L, 0L))((acc, p) => (acc._1 + p._1, math.max(acc._2, p._2)))
      () => {
        val r = timedRun(b)
        Outcome(r.results.size, r.errors.size, () =>
          r.results == Seq((records.map(_.value).sum, records.map(_.value).max)) && r.errors.isEmpty)
      }
    case "mr_gen_run_on_key" =>
      val data = ds
      () => {
        val got = lookupKeys.map { k =>
          val t0 = System.nanoTime()
          val r = Remote.runOnKey(data, (kv: KV) => kv.key == k)(_.map(_.value).sum)
          lookupSeconds += (System.nanoTime() - t0) / 1e9
          r
        }
        Outcome(got.size, got.count(_.isLeft), () =>
          got == lookupKeys.map(k => Right(records.filter(_.key == k).map(_.value).sum)))
      }
  }
}
