package apbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.sources.JsonRpcClient

/** What one workload measured. `p50S` is the median wall time of one
  * operation (a backfill job, an ops_mix pass); `ops` counts operations in
  * the timed phase, and the per-layer counts are divided by it. */
final case class Outcome(
    attempted: Long, failed: Long,
    p50S: Double,
    rows: Long, opsWallS: Double, ops: Double, timedWallS: Double,
    layer: Map[String, Double],
    series: Map[String, Seq[Double]],
    notes: Map[String, Double])

/** Shared state of one run: the session, the run's private work directory,
  * the tracer and the timed-phase clock. */
final class Ctx(
    val spark: SparkSession, val work: Path, val seed: Long, val seconds: Int,
    val tracer: Tracer, val watch: Option[SparkWatch]) {
  /** Block-range base for the RPC workloads, derived from the seed only. */
  val blockBase: Long = 10000000L * (1L + java.lang.Math.floorMod(seed, 100000L))

  @volatile var timedStartNs = 0L
  @volatile var timedStartWallMs = 0L
  /** Live heap after the timed phase (see stopTimed). */
  var heapLiveMb = 0.0

  def startTimed(): Unit = {
    timedStartWallMs = System.currentTimeMillis()
    watch.foreach(_.reset())
    timedStartNs = System.nanoTime()
  }
  def timedElapsedS: Double = (System.nanoTime() - timedStartNs) / 1e9
  /** Ends the timed phase; returns its wall seconds. The live heap is read
    * after two full GCs half a second apart: the first lets Spark's
    * ContextCleaner see unreferenced cached blocks and drop them, the
    * second frees what it dropped. Each pool's usage is taken as the last
    * collection left it, so nothing allocated since is counted. */
  def stopTimed(): Double = {
    val s = timedElapsedS
    System.gc()
    Thread.sleep(500)
    System.gc()
    heapLiveMb = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    s
  }

  def log(msg: String): Unit = System.err.println(s"[apbench] $msg")
}

object Main {
  /** Halts instead of returning: the work directory is deleted after exit,
    * so nothing the session would clean up on stop() matters, halting skips
    * seconds of shutdown per run, and a failure cannot leave the JVM waiting
    * on Spark's non-daemon threads. */
  def main(argv: Array[String]): Unit =
    try { run(argv); Runtime.getRuntime.halt(0) }
    catch { case e: Throwable => e.printStackTrace(); System.err.flush(); Runtime.getRuntime.halt(1) }

  private def run(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val trace = args("trace") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    val report = Paths.get(args("report"))
    val loadStart = loadAvg()

    val cores = Runtime.getRuntime.availableProcessors
    val sparkCores = math.max(1, cores - 1)
    val spark = SparkSession.builder()
      .master(s"local[$sparkCores]")
      .appName("apbench")
      .config("spark.sql.shuffle.partitions", sparkCores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.io.compression.codec", "zstd")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.hadoop.fs.file.impl", "graft.util.NioLocalFileSystem")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)

    val ctx = new Ctx(spark, work, seed, seconds, new Tracer(trace),
      if (trace) Some(new SparkWatch(spark)) else None)
    var node: Option[Node] = None
    val (outcome, selfCheckMs) =
      try workload match {
        case "rpc_backfill" =>
          val n = new Node(threads = math.max(1, cores / 2), maxSpan = Backfill.MaxSpan)
          node = Some(n)
          val check = selfCheck(n)
          if (Stats.median(check) > 10.0)
            sys.error(f"node self-check: median header call ${Stats.median(check)}%.2f ms > 10 ms")
          (Backfill.run(ctx, n), check)
        case "ops_mix" =>
          (OpsMix.run(ctx, args("data"), Paths.get(args("expected"))),
            Seq.empty[Double])
        case other => sys.error(s"unknown workload $other")
      } finally node.foreach(_.stop())

    val setupS = (ctx.timedStartWallMs -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val endToEnd = Map(
      "setup_s" -> setupS,
      "op_p50_s" -> outcome.p50S,
      "rows_per_s" -> (if (outcome.opsWallS > 0) outcome.rows / outcome.opsWallS else 0.0),
      "heap_live_mb" -> ctx.heapLiveMb,
      "ok_share" -> (if (outcome.attempted == 0) 0.0
                     else (outcome.attempted - outcome.failed).toDouble / outcome.attempted))
    val perLayer =
      if (!trace) Map.empty[String, Double]
      else outcome.layer ++ ctx.watch.get.metrics(outcome.ops, outcome.opsWallS)
    val spans = ctx.tracer.spans.map(s => JObject(
      "id" -> JInt(s.id), "parent" -> JInt(s.parent), "name" -> JString(s.name),
      "start_ms" -> JDouble((s.startNs - ctx.timedStartNs) / 1e6),
      "end_ms" -> JDouble((s.endNs - ctx.timedStartNs) / 1e6)))
    def obj(m: Map[String, Double]) = JObject(m.toSeq.sortBy(_._1).map { case (k, v) => k -> JDouble(v) }.toList)
    val json = JObject(
      "workload" -> JString(workload), "seed" -> JLong(seed), "seconds" -> JInt(seconds),
      "trace" -> JBool(trace),
      "correct" -> JBool(outcome.failed == 0), "attempted" -> JLong(outcome.attempted),
      "failed" -> JLong(outcome.failed),
      "end_to_end" -> obj(endToEnd), "per_layer" -> obj(perLayer),
      "timed_wall_s" -> JDouble(outcome.timedWallS), "timed_ops" -> JDouble(outcome.ops),
      "loadavg" -> JObject("start" -> JDouble(loadStart), "end" -> JDouble(loadAvg())),
      "spark_cores" -> JInt(sparkCores),
      "node_self_check_ms" -> JArray(selfCheckMs.map(JDouble(_)).toList),
      "notes" -> obj(outcome.notes),
      "series" -> JObject(outcome.series.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> JArray(v.map(JDouble(_)).toList) }.toList),
      "spans" -> JArray(spans.toList))
    Files.writeString(report, JsonMethods.compact(JsonMethods.render(json)))
  }

  /** 200 uncached header calls through the program's own client, timed
    * after 200 untimed ones have loaded and compiled its HTTP path: the
    * check is for the transport (a delayed-ACK stall costs ~40 ms a call),
    * not for a cold JVM. */
  private def selfCheck(node: Node): Seq[Double] = {
    val client = new JsonRpcClient(node.url)
    (0 until 200).foreach(i => client.blockHeaderFresh(i.toLong))
    (200 until 400).map { i =>
      val t0 = System.nanoTime()
      client.blockHeaderFresh(i.toLong)
      (System.nanoTime() - t0) / 1e6
    }
  }

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}

