package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

import graft.{Graft, SparkEntry, Tables}

/**
 * The benchmark's JVM side. It calls graft only through its public
 * surface: `Graft.attach` for the session, `SparkEntry.queries` for the
 * queries, and `ExecutionBuilder` / `Remote` for the generated LibMR
 * pipelines. Arguments are `key=value` pairs; `perfbench/run.py` writes
 * them.
 *
 *  - `mode=catalog out=<file>`: write every query name and oracle SQL.
 *  - `mode=run ...`: set up the session once, timed from JVM start,
 *    run one untimed check pass that writes each result for the
 *    oracle compare and one untimed warm-up pass that also reads
 *    the heap, then timed passes
 *    until `seconds` have elapsed and at least `MinPasses` have run,
 *    and write a JSON report (and spans, when traced) for run.py to
 *    score. Every pass starts from an empty warehouse.
 */
object Harness {
  /** Passes every run makes; run.py takes the tail percentile from
    * exactly these, so its sample count does not depend on speed. */
  val MinPasses = 4

  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    conf("mode") match {
      case "catalog" => catalog(conf("out"))
      case "run" => new Run(conf).run()
    }
  }

  private def catalog(out: String): Unit = {
    val names = SparkEntry.queries.keys.toSeq.sorted.map(Json.str).mkString("[", ",", "]")
    val oracle = SparkEntry.oracleSql.toSeq.sorted
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(out), s"""{"queries":$names,"oracle":$oracle}""")
  }
}

private final class Run(conf: Map[String, String]) {
  private val fixtures = conf("fixtures")
  private val work = conf("work")
  private val nproc = conf("nproc").toInt
  private val seed = conf("seed").toLong
  private val seconds = conf("seconds").toDouble
  private val traced = conf("trace") == "1"
  private val plan: Seq[(String, String)] =
    Files.readAllLines(Paths.get(conf("plan"))).asScala.toSeq.filter(_.nonEmpty)
      .map { l => val Array(n, m) = l.split("\t"); n -> m }

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private def session(warehouse: String): SparkSession = SparkSession.builder()
    .master(s"local[$nproc]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", nproc.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/local")
    .config("spark.sql.warehouse.dir", warehouse)
    .getOrCreate()

  /** Session build, `Graft.attach`, fixture registration and a warm-up action. */
  private def setUp(warehouse: String): SparkSession = {
    val spark = session(warehouse)
    spark.sparkContext.setLogLevel("WARN")
    Graft.attach(spark)
    Tables.names.foreach(n => Tables.t(spark, fixtures, n).createOrReplaceTempView(n))
    spark.table("lineitem").count()
    spark
  }

  private def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  /** Drops the catalog tables a pass created and empties the warehouse,
    * so every pass maintains its indexes from the same empty state. */
  private def resetWarehouse(spark: SparkSession): Unit = {
    spark.catalog.listTables().collect().filterNot(_.isTemporary)
      .foreach { t =>
        val kind = if (t.tableType == "VIEW") "VIEW" else "TABLE"
        spark.sql(s"DROP $kind IF EXISTS `${t.name}`")
      }
    spark.catalog.clearCache()
    val wh = Paths.get(s"$work/warehouse")
    if (Files.exists(wh)) {
      val s = Files.walk(wh)
      try s.iterator().asScala.toSeq.reverse.filter(_ != wh).foreach(Files.delete)
      finally s.close()
    }
  }

  /** Runs every output column of `df` and returns its row count.
    * `df.count()` would let the optimizer prune the columns the count
    * does not need, and with them the kernels that compute them. */
  private def materialize(df: DataFrame): Long = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("perfbench"))(qe.toRdd.count())
  }

  def run(): Unit = {
    // set-up, once, from JVM start: class loading and first-use
    // initialisation are part of its cost
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = setUp(s"$work/warehouse")
    val setupSec = (System.currentTimeMillis() - jvmStart) / 1e3
    val sc = spark.sparkContext
    val names = plan.map(_._1)
    val pipelines =
      if (!names.exists(_.startsWith("mr_gen_"))) None
      else Some(new Pipelines(spark, s"$work/generated", seed))
    val streams =
      if (!names.exists(_.startsWith("stream_gen_"))) None
      else Some(new Streams(spark, s"$work/stream-in", seed))
    /** Generated executions: the build step returns the action. */
    val generated: Map[String, () => (() => Outcome)] =
      pipelines.toSeq.flatMap(p => p.names.map(n => n -> (() => p.build(n)))).toMap ++
        streams.toSeq.flatMap(s => s.names.map(n => n -> (() => s.build(n)))).toMap

    /** Build, then act; returns (rows, errors, deferred check). */
    def execute(name: String, onBuilt: () => Unit): (Long, Long, () => Boolean) =
      generated.get(name) match {
        case Some(build) =>
          val act = build(); onBuilt()
          val o = act(); (o.rows, o.errors, o.check)
        case None =>
          val df = SparkEntry.queries(name)(spark, fixtures); onBuilt()
          (materialize(df), 0L, () => true)
      }

    // untimed check pass: every SparkEntry result is written for the
    // oracle compare, every generated pipeline is checked in place
    val checkStart = System.nanoTime()
    resetWarehouse(spark)
    val check = plan.map { case (name, _) =>
      sc.setLocalProperty(Recorder.LabelKey, s"check:$name")
      val c0 = System.nanoTime()
      val res = try {
        generated.get(name) match {
          case Some(build) =>
            val o = build()()
            (o.rows, if (o.check()) "ok" else "mismatch", "")
          case None =>
            SparkEntry.queries(name)(spark, fixtures).coalesce(1).write.mode("overwrite")
              .parquet(s"${conf("results")}/$name")
            (-1L, "written", "")
        }
      } catch { case e: Throwable => (-1L, "error", String.valueOf(e.getMessage)) }
      sc.setLocalProperty(Recorder.LabelKey, null)
      name -> (res, (System.nanoTime() - c0) / 1e9)
    }
    val checkSec = (System.nanoTime() - checkStart) / 1e9
    // one untimed warm-up pass: the JIT is still compiling after the
    // check pass. It also reads the live heap after every query, here
    // rather than in the timed passes, which then run without forced
    // collections. A query can hold tens of MB (a broadcast relation's
    // pages) until the next one runs, so readings only at the end of a
    // pass would depend on which query the seed put last. Queued
    // listener events hold their executions' plans, so they are
    // delivered first; the second collection frees what Spark's
    // ContextCleaner dropped after the first.
    val mem = ManagementFactory.getMemoryMXBean
    var heapPeakMb = 0.0
    resetWarehouse(spark)
    plan.foreach { case (name, _) =>
      sc.setLocalProperty(Recorder.LabelKey, s"warm:$name")
      try execute(name, () => ()) catch { case _: Throwable => }
      sc.setLocalProperty(Recorder.LabelKey, null)
      Bus.drain(sc)
      System.gc()
      Thread.sleep(50)
      System.gc()
      heapPeakMb = heapPeakMb max mem.getHeapMemoryUsage.getUsed / Recorder.MB
    }
    pipelines.foreach(_.reset())

    val rec = new Recorder
    val spans = new Spans
    val modules = plan.toMap
    val workloadSpan = spans.add("workload", conf("workload"), 0, nowMs, nowMs)
    val execs = mutable.ArrayBuffer.empty[String]
    val layerRows = mutable.ArrayBuffer.empty[String]
    val passRows = mutable.ArrayBuffer.empty[String]
    val storedMb = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < Harness.MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      // traced runs alternate untraced and traced passes
      val tracePass = traced && pass % 2 == 1
      // untimed: every pass starts from an empty warehouse and a collected heap
      resetWarehouse(spark)
      System.gc()
      if (tracePass) sc.addSparkListener(rec)
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(plan.map(_._1))
      val passStart = nowMs
      val qspans = order.map { name =>
        sc.setLocalProperty(Recorder.LabelKey, s"$pass:$name")
        sc.setJobDescription(s"perfbench: $name")
        val s = nowMs
        var built, end = s
        val (rows, errors, ok, err) =
          try {
            val (r, e, chk) = execute(name, () => built = nowMs)
            end = nowMs
            (r, e, chk(), "")
          } catch { case e: Throwable =>
            end = nowMs
            (-1L, 0L, false, String.valueOf(e.getMessage))
          }
        val q = QuerySpan(pass, name, modules(name), s, built max s, end)
        sc.setLocalProperty(Recorder.LabelKey, null)
        sc.setJobDescription(null)
        execs += s"""{"pass":$pass,"traced":$tracePass,"name":${Json.str(name)},""" +
          s""""build_s":${(q.buildEnd - q.start) / 1e3},"action_s":${(q.end - q.buildEnd) / 1e3},""" +
          s""""rows":$rows,"errors":$errors,"check":$ok,"error":${Json.str(err)}}"""
        q
      }
      val passEnd = qspans.lastOption.map(_.end).getOrElse(passStart)
      val extra = mutable.ArrayBuffer.empty[String]
      if (tracePass) {
        Bus.drain(sc)
        sc.removeSparkListener(rec)
        val passSpan = spans.add("pass", s"pass $pass", workloadSpan, passStart, passEnd)
        val ids = qspans.map { q =>
          val id = spans.add("query", q.name, passSpan, q.start, q.end)
          spans.add("build", q.name, id, q.start, q.buildEnd)
          spans.add("action", q.name, id, q.buildEnd, q.end)
          q.label -> id
        }.toMap
        rec.fold(qspans, ids, spans).foreach { case (q, m) =>
          layerRows += s"""{"pass":$pass,"name":${Json.str(q.name)},"module":${Json.str(q.module)},""" +
            m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",") + "}"
        }
        extra += s""""stream_batch_s":${rec.batchSeconds(passStart, passEnd + 1000).mkString("[", ",", "]")}"""
        rec.clear()
      }
      pipelines.foreach { p =>
        extra += s""""mr_records_in":${p.recordsIn},"mr_error_records":${p.errorRecords},""" +
          s""""mr_run_s":${p.runSeconds.sum},"run_on_key_s":${p.lookupSeconds.mkString("[", ",", "]")}"""
        p.reset()
      }
      storedMb += dirBytes(s"$work/warehouse") / Recorder.MB
      passRows += (Seq(s""""pass":$pass""", s""""traced":$tracePass""",
        s""""wall_s":${(passEnd - passStart) / 1e3}""") ++ extra).mkString("{", ",", "}")
      pass += 1
    }
    spans.setEnd(workloadSpan, nowMs)

    val checkJson = check.map { case (n, ((rows, st, err), sec)) =>
      s"""{"name":${Json.str(n)},"rows":$rows,"status":"$st","error":${Json.str(err)},"check_s":$sec}"""
    }.mkString("[", ",", "]")
    val report =
      s"""{"nproc":$nproc,"min_passes":${Harness.MinPasses},"heap_max_mb":${Runtime.getRuntime.maxMemory / Recorder.MB},""" +
        s""""setup_s":$setupSec,"check_pass_s":$checkSec,""" +
        s""""measure_s":${(System.nanoTime() - t0) / 1e9},"check":$checkJson,""" +
        s""""passes":${passRows.mkString("[", ",", "]")},""" +
        s""""heap_peak_mb":$heapPeakMb,"stored_mb":${storedMb.mkString("[", ",", "]")},""" +
        s""""execs":${execs.mkString("[", ",", "]")},"layers":${layerRows.mkString("[", ",", "]")}}"""
    Files.writeString(Paths.get(conf("out")), report)
    if (traced) spans.write(conf("spans"))
    spark.stop()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
