package apbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.engine.{Compiler, Sinks}
import graft.model.{ConfigFile, HclSchema}
import graft.sources.JsonRpcClient

/** rpc_backfill: historical jobs over the HCL schema, through JSON-RPC, into
  * the CSV sink — the calls `graft run --csv` makes, in its order. A job is
  * a closed loop: the next starts when the previous one has landed and its
  * CSV has been checked. Every job scans a fresh block range, so the
  * process-wide header LRU never answers from an earlier job. */
object Backfill {
  /** Blocks per job: 50 parts of 64 blocks, so every partition reads one
    * 64-block chunk that the node rejects (> MaxSpan) and the client halves. */
  val Span = 3200L
  val Parts = 50
  val MaxSpan = 48L
  /** Requests/s per process; far above what the node can serve, so the
    * client's rate gate never waits. */
  val RateLimit = 1000000
  val WarmupJobs = 6

  def run(ctx: Ctx, node: Node): Outcome = {
    val dir = ctx.work.resolve("backfill")
    Files.createDirectories(dir)
    val schemaPath = dir.resolve("schema.hcl")
    Files.writeString(schemaPath, Chain.schemaHcl)
    val confPath = dir.resolve("config.yml")
    val base = ctx.blockBase
    node.tip = base + 100000000L
    val shared = JsonRpcClient.sharedClient(node.url, RateLimit.toDouble)

    var attempted, failed = 0L
    val jobMs = mutable.ArrayBuffer.empty[Double]
    val jobRows = mutable.ArrayBuffer.empty[Long]

    def job(j: Int): Unit = {
      val from = base + j * Span
      val until = from + Span
      val out = dir.resolve("out")
      Files.writeString(confPath,
        Chain.config(s"${node.url}#parts=$Parts&rateLimit=$RateLimit&start=$from&end=$until"))
      attempted += 1
      val t0 = System.nanoTime()
      val ok = try {
        ctx.tracer.span("job") {
          val cfg = ctx.tracer.span("model.parse")(ConfigFile.parse(Files.readString(confPath)))
          val schema = ctx.tracer.span("model.parse")(HclSchema.parse(Files.readString(schemaPath)))
          val registry = cfg.registry((_, ep) => ep, default = "")
          val compiled = ctx.tracer.span("engine.compile")(Compiler.compileAll(ctx.spark, registry, schema))
          compiled.toSeq.sortBy(_._1).foreach { case (name, df) =>
            Sinks.multi(df, Seq(d =>
              ctx.tracer.span("engine.sinks.csv")(Sinks.csv(d, out.resolve(s"$name.csv").toString))))
          }
        }
        true
      } catch {
        case e: Exception => ctx.log(s"backfill job $j failed: $e"); false
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val got = if (ok) landed(out) else Nil
      val want = (from until until).flatMap(Chain.expected)
      val good = ok && got.size == want.size && Chain.multisetHash(got) == Chain.multisetHash(want)
      if (!good) {
        failed += 1
        ctx.log(s"backfill job $j: ${got.size} csv rows, chain truth ${want.size}")
      }
      jobMs += ms
      jobRows += got.size
    }

    (0 until WarmupJobs).foreach(job)
    ctx.startTimed()
    val c0 = node.counters
    val hits0 = shared.cacheHits.get
    val misses0 = shared.headerRequests.get
    val first = jobMs.size
    var j = WarmupJobs
    while (ctx.timedElapsedS < ctx.seconds) { job(j); j += 1 }
    val timedWall = ctx.stopTimed()

    val timedMs = jobMs.drop(first).toSeq
    val jobs = timedMs.size.toDouble
    val c1 = node.counters
    def per(k: String): Double = (c1(k) - c0(k)) / jobs
    val hits = shared.cacheHits.get - hits0
    val misses = shared.headerRequests.get - misses0
    val getLogs = c1("eth_getLogs") - c0("eth_getLogs")
    Outcome(
      attempted = attempted, failed = failed,
      p50S = Stats.median(timedMs) / 1000.0,
      rows = jobRows.drop(first).sum, opsWallS = timedMs.sum / 1000.0,
      ops = jobs, timedWallS = timedWall,
      layer = Map(
        "model.parse_ms" -> perOp(ctx, "model.parse", jobs),
        "engine.compile_ms" -> perOp(ctx, "engine.compile", jobs),
        "engine.sinks.csv_ms" -> perOp(ctx, "engine.sinks.csv", jobs),
        "sources.calls.eth_getLogs" -> per("eth_getLogs"),
        "sources.calls.eth_getBlockByNumber" -> per("eth_getBlockByNumber"),
        "sources.calls.eth_blockNumber" -> per("eth_blockNumber"),
        "sources.rejected_32005" -> per("rejected_32005"),
        "sources.node_busy_ms" -> per("busy_ns") / 1e6,
        "sources.rows_per_call" ->
          (if (getLogs == 0) 0.0 else (c1("logs_served") - c0("logs_served")).toDouble / getLogs),
        "sources.header_cache_hit_ratio" ->
          (if (hits + misses == 0) 0.0 else hits.toDouble / (hits + misses))),
      series = Map("job_ms" -> jobMs.toSeq, "job_rows" -> jobRows.map(_.toDouble).toSeq),
      notes = Map("warmup_jobs" -> WarmupJobs.toDouble, "span_blocks" -> Span.toDouble))
  }

  /** Total span time per job for spans of `name` in the timed phase. */
  private def perOp(ctx: Ctx, name: String, ops: Double): Double =
    ctx.tracer.durationsMs(name, ctx.timedStartNs).sum / ops

  /** Canonical keys of every data row the CSV sink wrote under `out`. */
  private def landed(out: Path): Seq[String] = {
    val keys = Seq.newBuilder[String]
    Seq("mints", "swaps").foreach { name =>
      val d = out.resolve(s"$name.csv")
      if (Files.isDirectory(d)) {
        val parts = Files.list(d)
        try parts.filter(_.getFileName.toString.endsWith(".csv")).forEach { p =>
          Files.readAllLines(p).stream().skip(1).forEach { line =>
            val f = line.split(',')
            keys += (name match {
              case "mints" => Chain.mintKey(f(0).toLong, f(1).toLong, f(2), f(3).toLong, f(4).toDouble)
              case _ => Chain.swapKey(f(0).toLong, f(1), f(2).toLong, f(3).toDouble, f(4))
            })
          }
        } finally parts.close()
      }
    }
    keys.result()
  }
}
