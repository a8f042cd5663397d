package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, sum, xxhash64}

import graft.{CacheScope, SparkEntry}

/** One query run: the four layer times (ns) and, on a traced run, what the
  * harness saw around the layer calls. */
final case class QueryRun(
    name: String,
    trace: Long,
    startUs: Long,
    buildNs: Long,
    planNs: Long,
    execNs: Long,
    releaseNs: Long,
    error: Option[String],
    shuffles: Int = 0,
    broadcasts: Int = 0,
    persistedRdds: Int = 0,
    storageBytes: Long = 0L,
    rddsLeft: Int = 0,
    tmpGrowth: Long = 0L) {
  /** From the builder call to the last row. */
  def latencyNs: Long = buildNs + planNs + execNs
}

/** Runs one query cold: build, plan, exec, release, each inside its own job
  * group, so a listener can attribute the Spark work to the layer. */
final class Runner(spark: SparkSession, dataDir: String, tmpDir: Option[File]) {
  private val sc = spark.sparkContext
  private var lastId = 0L
  private val epochBaseUs = System.currentTimeMillis() * 1000
  private val nanoBase = System.nanoTime()
  private val recorded = mutable.ArrayBuffer.empty[Span]

  private def nextId(): Long = { lastId += 1; lastId }
  def epochUs(ns: Long): Long = epochBaseUs + (ns - nanoBase) / 1000
  def spans: Seq[Span] = recorded.toSeq

  /** Build, plan, exec through the `noop` sink, then release. Between exec
    * and release, outside the layer timings, `check` sees the built frame
    * (a throw fails the run) and, with `traced`, the harness records the
    * cache, plan and temp-dir figures. Spans are kept only when traced.
    * Never throws. */
  def run(name: String, traced: Boolean,
      check: DataFrame => Unit = _ => ()): QueryRun = {
    val trace = nextId()
    val querySpan = nextId()
    val t0 = System.nanoTime()
    var end = t0
    val took = mutable.Map.empty[String, Long]
    var error: Option[String] = None
    var df: DataFrame = null
    var shuffles, broadcasts, persisted, left = 0
    var storage = 0L
    val tmpBefore = if (traced) tmpDir.map(Runner.du).getOrElse(0L) else 0L
    // persisted RDDs are counted per run: those registered since it began
    val rddsBefore = if (traced) sc.getPersistentRDDs.keySet.toSet else Set.empty[Int]
    def newRdds = sc.getPersistentRDDs.keySet.count(!rddsBefore(_))

    def layer(layerName: String)(body: => Unit): Unit = {
      val span = nextId()
      sc.setJobGroup(Group(trace, layerName, span), name, interruptOnCancel = false)
      val start = System.nanoTime()
      try body
      catch { case e: Throwable => error = error.orElse(Some(s"$layerName: $e")) }
      finally {
        end = System.nanoTime()
        took(layerName) = end - start
        if (traced) recorded +=
          Span(trace, span, querySpan, layerName, epochUs(start), epochUs(end))
      }
    }

    layer("build") { df = SparkEntry.queries(name)(spark, dataDir) }
    if (error.isEmpty) layer("plan") { df.queryExecution.executedPlan }
    if (error.isEmpty) layer("exec") { df.write.mode("overwrite").format("noop").save() }
    if (error.isEmpty)
      try check(df) catch { case e: Throwable => error = Some(s"check: $e") }
    if (traced && error.isEmpty) {
      val plan = df.queryExecution.executedPlan
      shuffles = Runner.Plans.collectWithSubqueries(plan) {
        case s: ShuffleExchangeLike => s }.size
      broadcasts = Runner.Plans.collectWithSubqueries(plan) {
        case b: BroadcastExchangeLike => b }.size
      persisted = newRdds
      storage = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    }
    // release runs even after a failure, so no frame outlives its run
    layer("release") { CacheScope.release() }
    sc.clearJobGroup()
    if (traced) {
      left = newRdds
      recorded += Span(trace, querySpan, 0L, s"query:$name", epochUs(t0), epochUs(end))
    }
    def ns(l: String) = took.getOrElse(l, 0L)
    QueryRun(name, trace, epochUs(t0), ns("build"), ns("plan"), ns("exec"),
      ns("release"), error, shuffles, broadcasts, persisted, storage, left,
      if (traced) tmpDir.map(Runner.du).getOrElse(0L) - tmpBefore else 0L)
  }
}

object Runner {
  private object Plans extends AdaptiveSparkPlanHelper

  /** Order-insensitive digest of a result: row count, and the sum and xor
    * of a 64-bit hash of every row. */
  def digest(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val r = named.select(xxhash64(named.columns.map(col).toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h")))
      .head()
    val s = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    val x = if (r.isNullAt(2)) 0L else r.getLong(2)
    s"${r.getLong(0)}:$s:$x"
  }

  /** Bytes under a directory (0 if it does not exist). */
  def du(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
}
