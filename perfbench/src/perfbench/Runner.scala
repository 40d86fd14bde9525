package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, Tables}

/** The benchmark's JVM side: sets the session up, drives one workload
  * in a closed loop through the engine's public entry points, checks
  * every result, and prints one JSON result line.
  *
  * {{{
  *   perfbench.Runner --workload analytics --seed 1 --seconds 10 --trace 0
  *                    --data <dir holding sf0.01/> --out <result.json>
  *                    --reference <reference.json> [--record 1]
  *                    [--untraced-pass-s <s>]
  * }}}
  * `perfbench/run.py` builds the classpath and passes these.
  */
object Runner {
  final case class Opts(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, data: String, out: String,
                        reference: String, record: Boolean,
                        untracedPassS: Option[Double])

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("data"), need("out"), need("reference"),
      m.get("record").contains("1"), m.get("untraced-pass-s").map(_.toDouble).filter(_ > 0))
  }

  /** What a workload's pass runs with. */
  final case class Env(spark: SparkSession, tracer: Tracer, rec: Recorder,
                       ref: Reference, seed: Long)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl = Workloads.byName.getOrElse(o.workload,
      sys.error(s"unknown workload ${o.workload}; known: ${Workloads.byName.keys.mkString(", ")}"))
    val n = Runtime.getRuntime.availableProcessors()
    val master = s"local[$n]"
    val load0 = Host.load1m()
    val dir = s"${o.data}/${wl.sf}"
    require(Tables.names.forall(t => Files.exists(Paths.get(s"$dir/$t.parquet"))),
      s"missing input tables under $dir")

    // Set-up, three times: session start, table registration, and a
    // fixed warm-up query. The first is cold; setup_s is the median.
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until 3) {
      val t0 = System.nanoTime()
      spark = GraftSession.builder(master, n)
        .config("spark.local.dir", Paths.get("spark-local").toAbsolutePath.toString)
        .config("spark.sql.warehouse.dir", Paths.get("warehouse").toAbsolutePath.toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      Tables.names.foreach(t => Tables.load(spark, dir, t).schema)
      Workloads.warmUp(spark, dir)
      setups += (System.nanoTime() - t0) / 1e9
      if (i < 2) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }
    val selfTest = Recorder.selfTest(spark)

    val ref = if (o.record) Reference.empty else Reference.load(o.reference, o.workload)
    // An untraced run gives the end-to-end numbers; a traced run runs
    // the same loop with the tracer attached for the per-layer numbers.
    val tracer = new Tracer(spark.sparkContext, s"${o.workload}-${o.seed}-trace${if (o.trace) 1 else 0}", o.trace)
    val rec = new Recorder
    val gc0 = Host.gcSeconds()
    tracer.attach(spark)
    val t0 = System.nanoTime()
    var passes = 0
    do {
      wl.pass(Env(spark, tracer, rec, ref, o.seed), dir, passes)
      passes += 1
    } while (if (o.record) passes < 2 else (System.nanoTime() - t0) / 1e9 < o.seconds)
    val run = Loop(tracer, rec, passes, (System.nanoTime() - t0) / 1e9, Host.gcSeconds() - gc0)
    tracer.detach(spark)
    val checks = wl.finalChecks(Env(spark, tracer, rec, ref, o.seed), dir)
    if (o.record) Reference.save(o.reference, o.workload, ref)
    val load1 = Host.load1m()
    spark.stop()

    val all = rec.results
    val failures = all.filterNot(_.ok).map(r => s"${r.name}: ${r.error}") ++
      selfTest.map("selftest: " + _) ++ checks
    val metrics =
      if (o.trace) Metrics.perLayer(wl, run, o.untracedPassS)
      else Metrics.endToEnd(setups.toSeq, run)
    val lat = rec.latencies

    val host = Seq(
      "nproc" -> n.toString, "master" -> Json.str(master),
      "shuffle_partitions" -> n.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "jdk" -> Json.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}"),
      "spark" -> Json.str(spark.version),
      "source" -> Json.str(sys.props.getOrElse("perfbench.source", "unknown")),
      "seed" -> o.seed.toString, "sf" -> Json.str(wl.sf),
      "load1m_start" -> load0.toString, "load1m_end" -> load1.toString)
    val detail = Seq(
      "workload" -> Json.str(o.workload),
      "trace" -> (if (o.trace) "1" else "0"),
      "host" -> Json.obj(host),
      "setup_runs_s" -> setups.mkString("[", ",", "]"),
      "passes" -> run.passes.toString,
      "pass_s" -> Json.num(run.passS),
      "peak_rss_mb" -> Json.num(Host.peakRssMb()),
      // the highest percentile with at least ten timings beyond it
      "op_timings" -> lat.size.toString,
      "op_tail" -> (if (lat.size < 20) "null" else {
        val q = math.floor((1.0 - 10.0 / lat.size) * 100) / 100
        s"""{"q": $q, "s": ${Json.num(Metrics.quantile(lat, q))}}"""
      }),
      "metrics" -> Metrics.json(metrics),
      "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
      "ops" -> all.map(_.json).mkString("[\n", ",\n", "]"),
      "spans" -> (if (o.trace) tracer.spansJson else "[]"))
    val outPath = Paths.get(o.out)
    Files.createDirectories(outPath.toAbsolutePath.getParent)
    Files.write(outPath, Json.obj(detail).getBytes(UTF_8))

    // the self-test and the final checks count as one op each
    val line = Json.obj(Seq(
      "correct" -> failures.isEmpty.toString,
      "attempted" -> (all.size + 2).toString,
      "failed" -> (all.count(!_.ok) + Seq(selfTest, checks).count(_.nonEmpty)).toString,
      "metrics" -> Metrics.json(metrics)))
    println(line)
  }

  final case class Loop(tracer: Tracer, rec: Recorder, passes: Int,
                        wallS: Double, gcS: Double) {
    def passS: Double = wallS / passes
  }
}

/** Host readouts: load average, JVM GC time, peak resident set. */
object Host {
  def load1m(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8)
      .trim.split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(-1.0)
    catch { case _: Throwable => -1.0 }

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}
