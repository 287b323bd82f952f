package apbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Harness-side spans around the calls into the program, kept in memory and
  * written out at the end. With tracing off `span` only runs its body. */
final class Tracer(val on: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        synchronized(done += Span(id, parents.headOption.getOrElse(0), name, t0, t1))
      }
    }

  def spans: Seq[Span] = synchronized(done.toList)

  /** Durations in ms of every span with this name that started at or after
    * `fromNs`. */
  def durationsMs(name: String, fromNs: Long): Seq[Double] =
    spans.filter(s => s.name == name && s.startNs >= fromNs).map(s => (s.endNs - s.startNs) / 1e6)
}

/** What Spark's public listener APIs report, accumulated from the moment
  * `reset()` is called (the start of the timed phase). Jobs the harness runs
  * to check outputs (`SparkWatch.check`) are left out. */
final class SparkWatch(spark: SparkSession) {
  private var jobs, stages, tasks = 0L
  private var taskRunMs, shuffleWriteBytes, spillBytes = 0L
  private var planNs = 0L
  private var runningJobs = 0
  private var opsWallSinceNs = 0L
  private var busyNs = 0L
  private var fromNs = System.nanoTime()
  private val checkJobs = mutable.Set.empty[Int]
  private val checkStages = mutable.Set.empty[Int]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; taskRunMs = 0; shuffleWriteBytes = 0; spillBytes = 0
    planNs = 0; busyNs = 0; progress.clear()
    fromNs = System.nanoTime()
    if (runningJobs > 0) opsWallSinceNs = fromNs
  }

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = SparkWatch.this.synchronized {
      if (Option(e.properties).exists(_.getProperty(SparkWatch.CheckProperty) != null)) {
        checkJobs += e.jobId
        checkStages ++= e.stageIds
      } else {
        jobs += 1
        if (runningJobs == 0) opsWallSinceNs = System.nanoTime()
        runningJobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = SparkWatch.this.synchronized {
      if (!checkJobs.remove(e.jobId)) {
        runningJobs = math.max(0, runningJobs - 1)
        if (runningJobs == 0) busyNs += System.nanoTime() - math.max(opsWallSinceNs, fromNs)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      SparkWatch.this.synchronized { if (!checkStages(e.stageInfo.stageId)) stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = SparkWatch.this.synchronized {
      if (!checkStages(e.stageId)) {
        tasks += 1
        Option(e.taskMetrics).foreach { m =>
          taskRunMs += m.executorRunTime
          shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (!qe.analyzed.output.exists(_.name == SparkWatch.CheckColumn)) {
        val phases = qe.tracker.phases
        val ms = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
        SparkWatch.this.synchronized { planNs += ms * 1000000L }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      SparkWatch.this.synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  /** Totals since `reset()`, each divided by `ops` (the workload's unit of
    * work), plus the streaming progress medians. `opsWallS` is the summed
    * wall time of those operations; the driver gap is the part of it when no
    * Spark job was running. */
  def metrics(ops: Double, opsWallS: Double): Map[String, Double] = synchronized {
    val now = System.nanoTime()
    val busy = busyNs + (if (runningJobs > 0) now - math.max(opsWallSinceNs, fromNs) else 0L)
    val batches = progress.map(_.progress)
    def p50(key: String): Double =
      Stats.median(batches.flatMap(p => Option(p.durationMs.get(key)).map(_.doubleValue)).toSeq)
    Map(
      "spark.jobs" -> jobs / ops,
      "spark.stages" -> stages / ops,
      "spark.tasks" -> tasks / ops,
      "spark.task_run_s" -> taskRunMs / 1000.0 / ops,
      "spark.plan_ms" -> planNs / 1e6 / ops,
      "spark.driver_gap_ms" -> math.max(0.0, opsWallS * 1e3 - busy / 1e6) / ops,
      "spark.shuffle_write_mb" -> shuffleWriteBytes / 1048576.0 / ops,
      "spark.spill_mb" -> spillBytes / 1048576.0 / ops,
      "streaming.batches" -> batches.size / ops,
      "streaming.rows_per_batch" ->
        (if (batches.isEmpty) 0.0 else batches.map(_.numInputRows).sum.toDouble / batches.size),
      "streaming.trigger_ms" -> p50("triggerExecution"),
      "streaming.latest_offset_ms" -> p50("latestOffset"),
      "streaming.add_batch_ms" -> p50("addBatch"),
      "streaming.wal_commit_ms" -> p50("walCommit"),
      "streaming.query_planning_ms" -> p50("queryPlanning"))
  }
}

object SparkWatch {
  /** Local property that marks the jobs of an output check. */
  val CheckProperty = "apbench.check"
  /** Output column that marks the query of an output check. */
  val CheckColumn = "apbench_check_rows"

  /** Runs `body`, an output check, with its Spark jobs marked. */
  def check[T](spark: SparkSession)(body: => T): T = {
    spark.sparkContext.setLocalProperty(CheckProperty, "1")
    try body finally spark.sparkContext.setLocalProperty(CheckProperty, null)
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
