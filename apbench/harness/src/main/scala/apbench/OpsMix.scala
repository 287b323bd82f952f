package apbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** ops_mix: passes over eleven `SparkEntry.queries`, in alphabetical order.
  * Each query stands for one `ext` module or one layout/plan target; none
  * touches the JSON-RPC source.
  *
  * The measured operation is a pass in a fresh session, so it includes the
  * codegen, JIT and memo builds (text_kn5_score's model, the bucketed
  * tables) a first run pays; one such pass takes longer than the timed
  * phase. Inside the timed span each query's own plan runs to completion,
  * final sort included, into an eager local checkpoint. Outside it the
  * checkpointed rows get an order-insensitive hash, checked against the
  * hash of the same query's graft.Verify output that matched the DuckDB
  * oracles (tools/check.py); the check's Spark jobs are left out of the
  * spark.* metrics. */
object OpsMix {
  val Queries: Seq[String] = Seq(
    "layout_bucketed_join", "layout_zorder_scan",
    "s8_block_metadata_join", "s7_realtime_negative_offset",
    "win_running_sum", "mm_audio_dedup",
    "stream_index_upsert",
    "text_kn5_score", "dedup_winnow_pairs", "sim_pagerank", "sample_ccnet_mix").sorted

  def run(ctx: Ctx, data: String, expectedFile: Path): Outcome = {
    val queries = SparkEntry.queries
    var attempted, failed, rows = 0L
    val perQuery = mutable.LinkedHashMap(Queries.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val passMs = mutable.ArrayBuffer.empty[Double]
    val expected = Files.readAllLines(expectedFile).toArray(Array.empty[String]).toSeq
      .filter(_.trim.nonEmpty).map(_.split(' ')).map(f => f(0) -> (f(1).toLong, f(2))).toMap

    def pass(): Map[String, (Long, String)] = {
      var ms = 0.0
      val hashes = Queries.flatMap { name =>
        attempted += 1
        val t0 = System.nanoTime()
        val out =
          try Some(ctx.tracer.span(s"ext.$name")(
            queries(name)(ctx.spark, data).localCheckpoint(eager = true)))
          catch { case e: Exception => ctx.log(s"ops_mix $name failed: $e"); None }
        val q = (System.nanoTime() - t0) / 1e6
        perQuery(name) += q
        ms += q
        // a query missing from the result fails the check in run()
        out.flatMap(df => SparkWatch.check(ctx.spark) {
          try Some(name -> resultHash(df))
          catch { case e: Exception => ctx.log(s"ops_mix $name: hashing failed: $e"); None }
          finally df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.unpersist(blocking = true) }
        })
      }.toMap
      passMs += ms
      hashes
    }

    // fixed warm-up of the session itself (codegen, parquet footers), as
    // graft.Bench does, so the first query is not charged for it
    ctx.spark.range(1000000L).selectExpr("sum(id)").collect()
    Seq("lineitem", "documents", "embeddings").foreach { t =>
      ctx.spark.read.parquet(s"$data/$t.parquet").limit(1).collect()
    }
    graft.Tables.events(ctx.spark, data).limit(1).collect()

    ctx.startTimed()
    var passes = 0
    while (passes == 0 || ctx.timedElapsedS < ctx.seconds) {
      val hashes = pass()
      Queries.foreach { name =>
        if (hashes.get(name) == expected.get(name)) rows += hashes(name)._1
        else {
          failed += 1
          ctx.log(s"ops_mix $name: result ${hashes.get(name)} != recorded ${expected.get(name)}")
        }
      }
      passes += 1
    }
    val timedWall = ctx.stopTimed()

    val medians = Queries.map(n => n -> Stats.median(perQuery(n).toSeq)).toMap
    Outcome(
      attempted = attempted, failed = failed,
      // the median pass is the sum of each query's median over the passes
      p50S = medians.values.sum / 1000.0,
      rows = rows, opsWallS = passMs.sum / 1000.0,
      ops = passes.toDouble, timedWallS = timedWall,
      layer = Queries.map(n => s"ext.${n}_s" -> medians(n) / 1000.0).toMap,
      series = Map("pass_ms" -> passMs.toSeq) ++
        Queries.map(n => s"query_ms.$n" -> perQuery(n).toSeq),
      notes = Map("passes" -> passes.toDouble))
  }

  /** Row count and an order-insensitive hash of a result. Floating-point
    * values are rounded to 6 places first, so the hash does not depend on
    * the order partial sums were added in. */
  def resultHash(df: DataFrame): (Long, String) = {
    def canon(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
      case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6) + lit(0.0))
      case _ => c
    }
    val cols = df.schema.fields.sortBy(_.name).map(f => canon(col(s"`${f.name}`"), f.dataType))
    val row = df.select(xxhash64(cols.toIndexedSeq: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)).as(SparkWatch.CheckColumn), sum(col("h"))).head()
    val total = Option(row.getDecimal(1)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0))
    (row.getLong(0), (total & ((BigInt(1) << 64) - 1)).toString(16))
  }
}
