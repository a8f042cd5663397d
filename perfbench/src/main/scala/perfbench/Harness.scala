package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, parse => parseJson, render}

import graft.{CacheScope, SparkEntry}

/** Benchmark JVM. `run.py` starts it; it prints `PB_READY` once the
  * session can take its first query, then (mode `run`) runs one workload
  * and writes its figures as JSON to `--out`:
  *
  *  1. a JIT-cold pass over the workload (`cold_pass_s`);
  *  2. [[WarmPasses]] untimed warm-up passes, the first of which also
  *     checks every result's digest and samples the heap, then `--passes`
  *     timed passes; the seed
  *     permutes the query order of every pass. With `--trace 1` every
  *     other timed pass runs with the [[Tracer]] registered and yields the
  *     per-layer figures; the rest give the untraced wall time the tracing
  *     overhead is taken against.
  *
  * Every query run is cold: `CacheScope.release()` ends it. Mode `pin`
  * writes each query's result and digest for the oracle check instead
  * (see README.md). */
object Harness {

  /** Untimed passes between the cold pass and the timed ones. The JIT keeps
    * compiling long after the cold pass: pass times fall for about three
    * passes before they level off. With one warm-up pass the timed passes
    * sat on that slope, and `wall_s` on `iterative` spread by 31% between
    * runs. A third warm-up pass took the rest of the slope off, a few
    * percent, at a cost the run budget cannot carry. */
  val WarmPasses = 2

  final case class Opts(workload: String, seed: Long, passes: Int,
      trace: Boolean, data: String, out: String, digests: String,
      cores: Int, tmp: Option[File], mode: String, pinDir: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m.getOrElse("workload", ""), m.getOrElse("seed", "0").toLong,
      m.getOrElse("passes", "2").toInt, m.getOrElse("trace", "0") == "1",
      m.getOrElse("data", ""), m.getOrElse("out", ""),
      m.getOrElse("digests", ""), m.getOrElse("cores", "4").toInt,
      m.get("tmp").map(new File(_)), m.getOrElse("mode", "run"),
      m.getOrElse("pin-dir", ""))
  }

  def session(cores: Int, localDir: Option[String], warehouse: Option[String]): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    localDir.foreach(d => b.config("spark.local.dir", d))
    warehouse.foreach(d => b.config("spark.sql.warehouse.dir", d))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    // as graft.Bench: oracle-replay dumps are verification plumbing
    System.setProperty("graft.noDumps", "1")
    val spark = session(o.cores, sys.props.get("perfbench.localDir"),
      sys.props.get("perfbench.warehouse"))
    spark.range(1000).selectExpr("sum(id)").collect() // warm-up action
    println("PB_READY")
    System.out.flush()
    val code = if (o.mode == "pin") pin(spark, o) else run(spark, o)
    spark.stop()
    sys.exit(code)
  }

  // ---- the run ------------------------------------------------------------

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Fixed-work, no-I/O loop: median ms of three repeats. */
  private var calibSink = 0L
  def calib(): Double = median((1 to 3).map { _ =>
    val t = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 40000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    calibSink += x
    (System.nanoTime() - t) / 1e6
  })

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMs: Long =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Collection time of the harness's own forced GCs, kept out of
    * `jvm.gc_ms`. */
  private var forcedGcMs = 0L

  /** Heap in use after a full GC, summed over the heap memory pools. */
  private def heapAfterGcMb(): Double = {
    val gc0 = gcMs
    System.gc()
    forcedGcMs += gcMs - gc0
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  private def loadDigests(path: String): Map[String, String] = {
    implicit val formats: Formats = DefaultFormats
    parseJson(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
      .extract[Map[String, String]]
  }

  /** A JSON number, or null where there is no figure. */
  private def num(v: Double): JValue =
    if (v.isNaN || v.isInfinite) JNull else JDouble(v)
  private def nums(kv: Seq[(String, Double)]): JObject =
    JObject(kv.map { case (k, v) => k -> num(v) }.toList)

  private def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes("UTF-8"))

  private def run(spark: SparkSession, o: Opts): Int = {
    val queries = Workloads.all(o.workload)
    val expected = loadDigests(o.digests)
    val calibStart = calib()
    val rng = new Random(o.seed)
    val runner = new Runner(spark, o.data, o.tmp)
    val sc = spark.sparkContext
    val heapMb = mutable.ArrayBuffer.empty[Double]

    def pass(traced: Boolean,
        check: (String, DataFrame) => Unit = (_, _) => ()): Pass = {
      val tmp0 = o.tmp.map(Runner.du).getOrElse(0L)
      val t0 = System.nanoTime()
      val runs = rng.shuffle(queries).map(q => runner.run(q, traced, check(q, _)))
      Pass((System.nanoTime() - t0) / 1e9, runs, traced,
        o.tmp.map(Runner.du).getOrElse(0L) - tmp0)
    }
    // The first warm-up pass checks every result: between exec and release it
    // digests the frame the builder returned and samples the heap after a
    // full GC, with the frame's cache alive. The cold and timed passes run
    // no check and force no GC.
    def verify(q: String, df: DataFrame): Unit = {
      val got = Runner.digest(df)
      heapMb += heapAfterGcMb()
      if (!expected.get(q).contains(got))
        throw new IllegalStateException(
          s"digest $got, pinned ${expected.getOrElse(q, "none")}")
    }
    val cold = pass(traced = false)
    val warm = pass(traced = false, verify) +:
      Seq.fill(WarmPasses - 1)(pass(traced = false))
    val tracer = new Tracer
    // traced runs alternate traced and untraced passes, at least one each
    val nPasses = if (o.trace) math.max(2, o.passes) else o.passes
    val passes = (0 until nPasses).map { i =>
      val traced = o.trace && i % 2 == 0
      if (traced) sc.addSparkListener(tracer)
      try pass(traced)
      finally if (traced) { Bus.drain(sc); sc.removeSparkListener(tracer) }
    }
    heapMb += heapAfterGcMb()
    val gc = gcMs - forcedGcMs
    val jit = jitMs
    val calibEnd = calib()

    val allRuns = (cold +: warm ++: passes).flatMap(_.runs)
    val errors = allRuns.flatMap(r => r.error.map(e => s"${r.name}: $e"))
    val untraced = passes.filterNot(_.traced)
    val lat = untraced.flatMap(_.runs.map(_.latencyNs / 1e9)).sorted
    // The highest percentile with at least ten samples beyond it; none
    // unless it lies above the median, which takes 21 samples.
    val tailIdx = lat.size - 11
    val hasTail = lat.size >= 21
    val e2e = Seq(
      "cold_pass_s" -> cold.runs.map(r => r.latencyNs + r.releaseNs).sum / 1e9,
      "wall_s" -> median(untraced.map(_.wall)),
      "lat_p50_s" -> median(lat),
      "heap_peak_mb" -> heapMb.max)
    val also = Seq(
      "fail_frac" -> errors.size.toDouble / allRuns.size,
      "lat_tail_s" -> (if (hasTail) lat(tailIdx) else Double.NaN),
      "lat_tail_pct" -> (if (hasTail) 100.0 * (tailIdx + 1) / lat.size else Double.NaN),
      "lat_samples" -> lat.size.toDouble)
    val traced = passes.filter(_.traced)
    val layers =
      if (traced.isEmpty) Seq.empty
      else Layers.metrics(traced, tracer, o.cores) ++ Seq(
        "jvm.gc_ms" -> gc.toDouble, "jvm.jit_ms" -> jit.toDouble,
        "calib.start_ms" -> calibStart, "calib.end_ms" -> calibEnd,
        "trace.overhead_s" ->
          (median(traced.map(_.wall)) - median(untraced.map(_.wall))))

    val stamp =
      ("workload" -> o.workload) ~ ("seed" -> o.seed) ~ ("cores" -> o.cores) ~
      ("shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions")) ~
      ("heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576) ~
      ("spark" -> spark.version) ~
      ("scala" -> scala.util.Properties.versionNumberString) ~
      ("jdk" -> System.getProperty("java.version")) ~
      ("queries" -> queries.size) ~ ("warm_passes" -> WarmPasses) ~
      ("timed_passes" -> nPasses) ~
      ("pass_walls_s" -> passes.map(_.wall)) ~
      ("calib_start_ms" -> calibStart) ~ ("calib_end_ms" -> calibEnd)
    write(o.out, compact(render(
      ("attempted" -> allRuns.size) ~ ("failed" -> errors.size) ~
      ("e2e" -> nums(e2e)) ~ ("also" -> nums(also)) ~
      ("per_layer" -> nums(layers)) ~ ("stamp" -> stamp) ~
      ("errors" -> errors))))
    if (o.trace) {
      val lines = (runner.spans ++ tracer.allSpans).sortBy(_.startUs)
        .map(s => compact(render(s.json)))
      write(o.out.stripSuffix(".json") + ".spans.jsonl", lines.mkString("", "\n", "\n"))
    }
    errors.foreach(e => System.err.println(s"[perfbench] $e"))
    0
  }

  // ---- pinning ------------------------------------------------------------

  /** Writes each query's result as parquet plus `oracle_sql.json` under
    * `--pin-dir` (the layout tools/check_oracle.py reads) and prints the
    * digests as JSON. */
  private def pin(spark: SparkSession, o: Opts): Int = {
    val names = Workloads.all.values.flatten.toSeq.sorted
    val digests = names.map { q =>
      val df = SparkEntry.queries(q)(spark, o.data)
      try {
        val d = Runner.digest(df)
        df.coalesce(1).write.mode("overwrite").parquet(s"${o.pinDir}/$q")
        q -> d
      } finally CacheScope.release()
    }
    val oracle = SparkEntry.oracleSql
    write(s"${o.pinDir}/oracle_sql.json",
      compact(render(JObject(names.flatMap(q => oracle.get(q).map(q -> JString(_))).toList))))
    println(compact(render(JObject(digests.map { case (q, d) => q -> JString(d) }.toList))))
    0
  }
}

/** One pass: wall seconds, its query runs, whether traced, and how much
  * the run's temp dir grew. */
final case class Pass(wall: Double, runs: Seq[QueryRun], traced: Boolean, tmpGrowth: Long)
