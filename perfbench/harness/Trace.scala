package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed query execution as the client saw it (epoch milliseconds). */
final case class QuerySpan(pass: Int, name: String, module: String,
    start: Double, buildEnd: Double, end: Double) {
  def label: String = s"$pass:$name"
}

/**
 * Records Spark's scheduler, SQL and streaming events in memory while
 * a traced pass runs. Jobs carry the harness's `perfbench.query` local
 * property; jobs submitted from threads that did not inherit it are
 * attributed to the query whose span contains their start. Streaming
 * progress is taken from the shared listener bus rather than a
 * per-session `StreamingQueryListener`, so micro-batches of queries
 * started on other sessions are seen too.
 */
final class Recorder extends SparkListener {
  import Recorder._

  private val sqlStart = mutable.Map.empty[Long, Long]
  private val sqlEnd = mutable.Map.empty[Long, Long]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private val stageMetrics = mutable.Map.empty[(Int, Int), Array[Double]]
  private val batches = mutable.ArrayBuffer.empty[(Long, Long)]

  def clear(): Unit = synchronized {
    sqlStart.clear(); sqlEnd.clear(); jobs.clear(); stageJob.clear()
    stages.clear(); stageMetrics.clear(); batches.clear()
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart => sqlStart(e.executionId) = e.time
      case e: SparkListenerSQLExecutionEnd => sqlEnd(e.executionId) = e.time
      // progress of every session's streaming queries arrives on this bus
      case e: StreamingQueryListener.QueryProgressEvent =>
        batches += ((System.currentTimeMillis(), e.progress.batchDuration))
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val label = props.flatMap(p => Option(p.getProperty(LabelKey))).orNull
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = Job(e.jobId, e.time, e.time, label, exec)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += Stage(i.stageId, i.attemptNumber(),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = stageMetrics.getOrElseUpdate((e.stageId, e.stageAttemptId), new Array[Double](NMetrics))
    m(Tasks) += 1
    if (!e.taskInfo.successful) m(Failures) += 1
    Option(e.taskMetrics).foreach { t =>
      m(RunMs) += t.executorRunTime
      m(CpuNs) += t.executorCpuTime
      m(GcMs) += t.jvmGCTime
      m(ShWrite) += t.shuffleWriteMetrics.bytesWritten
      m(ShRead) += t.shuffleReadMetrics.totalBytesRead
      m(FetchMs) += t.shuffleReadMetrics.fetchWaitTime
      m(Spill) += t.diskBytesSpilled
      m(InRows) += t.inputMetrics.recordsRead
      m(OutBytes) += t.outputMetrics.bytesWritten
    }
  }

  /** Durations (s) of the micro-batches reported between two instants. */
  def batchSeconds(from: Double, to: Double): Seq[Double] = synchronized {
    batches.collect { case (t, d) if from <= t && t <= to => d / 1e3 }.toSeq
  }

  /**
   * Fold the recorded events onto the pass's query spans. Returns one
   * layer record per query and appends the SQL/job/stage spans below
   * each query span to `spans`.
   */
  def fold(queries: Seq[QuerySpan], spanIds: Map[String, Long],
      spans: Spans): Seq[(QuerySpan, Map[String, Double])] = synchronized {
    val byLabel = queries.map(q => q.label -> q).toMap
    def containing(t: Double) = queries.find(q => q.start <= t && t <= q.end)
    val owned = mutable.Map.empty[String, mutable.ArrayBuffer[Job]]
    val unattributed = mutable.Map.empty[String, Int].withDefaultValue(0)
    jobs.values.foreach { j =>
      val owner = Option(j.label).flatMap(byLabel.get).orElse {
        // a job with no label (or a stale one) is placed by time window
        val q = containing(j.start.toDouble)
        q.foreach(q => unattributed(q.label) += 1)
        q
      }
      owner.foreach(q => owned.getOrElseUpdate(q.label, mutable.ArrayBuffer.empty) += j)
    }
    val execOwner = mutable.Map.empty[Long, String]
    owned.foreach { case (l, js) => js.foreach(j => if (j.exec >= 0) execOwner(j.exec) = l) }
    sqlStart.keys.foreach { id =>
      if (!execOwner.contains(id))
        containing(sqlStart(id).toDouble).foreach(q => execOwner(id) = q.label)
    }
    val stagesByJob = stages.groupBy(s => stageJob.getOrElse(s.id, -1))
    queries.map { q =>
      val qid = spanIds(q.label)
      val js = owned.getOrElse(q.label, mutable.ArrayBuffer.empty).toSeq
      val execs = execOwner.collect { case (id, l) if l == q.label => id }.toSeq.sorted
      val execSpan = mutable.Map.empty[Long, Long]
      val sqlIv = execs.map { id =>
        val s = sqlStart(id).toDouble
        val e = sqlEnd.getOrElse(id, sqlStart(id)).toDouble
        execSpan(id) = spans.add("sql", s"exec $id", qid, s, e)
        (s, e)
      }
      val jobIv = js.map(j => (j.start.toDouble, j.end.toDouble))
      val inJob = unionLength(jobIv)
      val inSql = unionLength(sqlIv ++ jobIv)
      val wall = q.end - q.start
      val driverOnly = wall - unionLength(clip(sqlIv ++ jobIv, q.start, q.end))
      val agg = new Array[Double](NMetrics)
      var nStages, retries = 0
      js.foreach { j =>
        val jid = spans.add("job", s"job ${j.id}", execSpan.getOrElse(j.exec, qid),
          j.start.toDouble, j.end.toDouble)
        stagesByJob.getOrElse(j.id, Nil).foreach { s =>
          spans.add("stage", s"stage ${s.id}.${s.attempt}", jid,
            s.submit.toDouble, s.complete.toDouble)
          nStages += 1
          if (s.attempt > 0) retries += 1
          stageMetrics.get((s.id, s.attempt)).foreach(m => m.indices.foreach(k => agg(k) += m(k)))
        }
      }
      val between = inSql - inJob
      q -> Map(
        "wall_s" -> wall / 1e3,
        "build_s" -> (q.buildEnd - q.start) / 1e3,
        "action_s" -> (q.end - q.buildEnd) / 1e3,
        "driver_only_s" -> driverOnly / 1e3,
        "between_jobs_s" -> between / 1e3,
        "in_job_s" -> inJob / 1e3,
        "split_residual_s" -> (wall - driverOnly - between - inJob) / 1e3,
        "jobs" -> js.size.toDouble,
        "sql_execs" -> execs.size.toDouble,
        "stages" -> nStages.toDouble,
        "tasks" -> agg(Tasks),
        "task_failures" -> agg(Failures),
        "stage_retries" -> retries.toDouble,
        "unattributed_jobs" -> unattributed(q.label).toDouble,
        "exec_run_s" -> agg(RunMs) / 1e3,
        "exec_cpu_s" -> agg(CpuNs) / 1e9,
        "gc_s" -> agg(GcMs) / 1e3,
        "shuffle_write_mb" -> agg(ShWrite) / MB,
        "shuffle_read_mb" -> agg(ShRead) / MB,
        "shuffle_fetch_wait_s" -> agg(FetchMs) / 1e3,
        "spill_mb" -> agg(Spill) / MB,
        "input_rows" -> agg(InRows),
        "output_mb" -> agg(OutBytes) / MB)
    }
  }
}

object Recorder {
  val LabelKey = "perfbench.query"
  val MB = 1024.0 * 1024.0
  final case class Job(id: Int, start: Long, var end: Long, label: String, exec: Long)
  final case class Stage(id: Int, attempt: Int, submit: Long, complete: Long)
  // slots of the per-stage task metric sums
  val RunMs = 0; val CpuNs = 1; val GcMs = 2; val ShWrite = 3; val ShRead = 4
  val FetchMs = 5; val Spill = 6; val InRows = 7; val OutBytes = 8; val Tasks = 9
  val Failures = 10; val NMetrics = 11

  def clip(iv: Seq[(Double, Double)], lo: Double, hi: Double): Seq[(Double, Double)] =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter { case (s, e) => e > s }

  /** Total length covered by a set of possibly overlapping intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }
}

/** In-memory span store: id, parent, kind, name, start and end (epoch ms). */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[(Long, Long, String, String, Double, Double)]
  private var next = 0L

  def add(kind: String, name: String, parent: Long, start: Double, end: Double): Long =
    synchronized {
      next += 1
      buf += ((next, parent, kind, name, start, end))
      next
    }

  def setEnd(id: Long, end: Double): Unit = synchronized {
    val i = buf.indexWhere(_._1 == id)
    if (i >= 0) buf(i) = buf(i).copy(_6 = end)
  }

  def write(path: String): Unit = {
    val lines = synchronized(buf.toList).map { case (id, parent, kind, name, s, e) =>
      s"""{"id":$id,"parent":$parent,"kind":"$kind","name":${Json.str(name)},"start_ms":$s,"end_ms":$e}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
