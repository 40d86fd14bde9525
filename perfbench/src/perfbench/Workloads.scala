package perfbench

import java.nio.file.Paths
import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipelines.{Curation, DailyDriver}
import graft.queries.Registry
import perfbench.Runner.{Env, Loop}

/** A workload: the scale of its inputs and one pass over its ops. The
  * runner repeats passes until the measuring time is spent. */
trait Workload {
  def name: String
  def sf: String
  def pass(env: Env, dir: String, pass: Int): Unit
  /** Untimed checks after the loops; each string is one failure. */
  def finalChecks(env: Env, dir: String): Seq[String] = Nil
  /** Workload-specific per-layer metrics of a traced loop. */
  def layerMetrics(traced: Loop): Seq[M] = Nil
}

object Workloads {
  def warmUp(spark: SparkSession, dir: String): Unit =
    Digest.of(Registry.byName("q09_catalog_totals").run(spark, dir))

  /** The LOFAR surface: every second query of each family of the
    * relational, window, time-series, text, domain and fit queries.
    * Each runs one to a few jobs; the operators, stores and kernels do
    * almost nothing here. */
  val analytics = new QueryWorkload("analytics", "sf0.01", Seq(
    "q01_pricing_summary", "q03_scalar_subquery", "q05_antijoin_customers",
    "q07_dedup_keep_first", "q09_catalog_totals",
    "q11_islands", "q13_detrend", "q15_sigma_clip", "q17_set_difference", "q19_rollup",
    "q20_sessionize", "q22_asof_join", "q24_interval_disjoint", "q26_interp_grid",
    "q27_language_id", "q29_token_stats",
    "q36_sexagesimal", "q38_dispersion", "q40_radiometer", "q42_filename_surgery",
    "q44_robust_trimmed", "q46_acf2d",
    "q48_flagged_tiles", "q50_polyco_phase", "q52_rotate_rekey",
    "q81_period_double_boxcar", "q54_offwindow_stats", "q67_weight_renorm",
    "q58_spectral_index", "q60_multires_spectrum"))

  val byName: Map[String, Workload] =
    Seq(analytics, Lifecycle).map(w => w.name -> w).toMap
}

/** Registry queries in a seed-permuted order, each consumed in full
  * and checked against its reference digest. The seed permutes two
  * fixed blocks separately — every third query first, then the rest —
  * because the first ten ops of a fresh JVM read up to twice their
  * warm time: with one permutation of all queries, which of them pays
  * that warm-up moved the median op by 18% from seed to seed. */
final class QueryWorkload(val name: String, val sf: String, val queries: Seq[String])
    extends Workload {
  def pass(env: Env, dir: String, pass: Int): Unit = {
    val rnd = new scala.util.Random(env.seed * 7919L + pass)
    val (first, rest) = queries.zipWithIndex.partition(_._2 % 3 == 0)
    val order = rnd.shuffle(first.map(_._1)) ++ rnd.shuffle(rest.map(_._1))
    order.foreach { q =>
      env.spark.catalog.clearCache()
      env.tracer.span(s"query:$q") {
        env.rec.op(q, "query", pass) {
          val df = env.tracer.span("queries.build")(Registry.byName(q).run(env.spark, dir))
          env.tracer.span("queries.action")(Digest.of(df))
        }(d => env.ref.check(q, d))
      }
    }
  }
}

/** The DailyDriver life of one corpus, in a fresh directory per pass:
  * init (day 0), a streamed day (micro-batches, then the day-end
  * reconcile, which runs the batch step's incremental curation), a
  * maintain with a forced fold, a forget of fixed victims, a snapshot,
  * then an exact and a PQ hybrid search of the final store. The seed
  * rotates which slices of the corpus arrive on which day and picks the
  * search batch and the victims, all at fixed sizes. */
object Lifecycle extends Workload {
  val name = "lifecycle"
  val sf = "sf0.01"
  val Rotations = 4
  val Slices = 8
  val SearchBatch = 16
  val Victims = 8
  val MicroBatches = 2
  private val cfg = Curation.Config(minQuality = 2.95)

  /** The store of the last pass, read by the final checks. */
  private var lastDir: String = ""
  private var fedIds: Set[Long] = Set.empty
  private var storeStats: Seq[M] = Nil
  private var fedMb: Double = Double.NaN
  private val passFailures = scala.collection.mutable.ArrayBuffer.empty[String]

  private def mix(id: Long, r: Int, salt: Int): Long =
    scala.util.hashing.MurmurHash3.productHash((id, r, salt)).toLong

  def pass(env: Env, dir: String, pass: Int): Unit = {
    val spark = env.spark
    import spark.implicits._
    val r = java.lang.Math.floorMod(env.seed, Rotations.toLong).toInt
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(spark, dir).select(col("vec_id").as("doc_id"), col("embedding"))
    def slice(js: Int*): DataFrame =
      docs.filter(pmod(col("doc_id") + lit(r.toLong), lit(Slices.toLong)).isin(js: _*))
    val day0 = slice(0, 1, 2, 3)
    val streamDay = slice(4)
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val ids = docs.select("doc_id").as[Long].collect().sorted.toSeq
    val fed = ids.filter(i => java.lang.Math.floorMod(i + r, Slices.toLong) <= 4)
    val qIds = ids.sortBy(mix(_, r, 1)).take(SearchBatch)
    val victims = fed.sortBy(mix(_, r, 2)).take(Victims)
    val queries = docs.filter(col("doc_id").isin(qIds: _*))
      .select(col("doc_id").as("q_id"), col("text"))
    val probes = emb.filter(col("doc_id").isin(qIds: _*))
      .select(col("doc_id").as("q_id"), col("embedding"))
    val streamRows = streamDay.as[(Long, String)].collect().sortBy(_._1)

    val d = Paths.get(s"lifecycle/p$pass").toAbsolutePath.toString
    val ckpt = Paths.get(s"lifecycle/p$pass-ckpt").toAbsolutePath.toString
    if (lastDir.nonEmpty) { delete(spark, lastDir); delete(spark, lastDir + "-ckpt") }
    delete(spark, d); delete(spark, ckpt)
    lastDir = d
    fedIds = fed.toSet

    def op[T](name: String, kind: String)(call: => T)(check: T => Option[String]): Unit =
      env.tracer.span(s"pipelines.$kind")(env.rec.op(name, kind, pass)(call)(check))
    def decisionsCount(n: Long): Option[String] = {
      val c = DailyDriver.openDecisions(spark, d).count()
      if (c == n) None else Some(s"decision table holds $c rows, expected $n")
    }
    val n0 = day0.count()
    op("init", "init")(DailyDriver.init(spark, day0, bench, d, cfg,
      Some(emb.join(day0.select("doc_id"), Seq("doc_id")))))(_ => decisionsCount(n0))
    op("stream", "stream") {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Timestamp, Long, String)]
      val arrivals = input.toDF().toDF("event_time", "doc_id", "text")
      val h = env.tracer.span("streaming.start")(
        DailyDriver.stepStream(spark, arrivals, bench, d, ckpt, cfg, Some(emb)))
      env.tracer.span("streaming.feed") {
        try streamRows.grouped(streamRows.length / MicroBatches + 1).zipWithIndex.foreach {
          case (g, gi) =>
            input.addData(g.zipWithIndex.map { case ((id, t), j) =>
              (new Timestamp(1000L * (100 + gi * 10000 + j)), id, t) }.toSeq)
            h.all.foreach(_.processAllAvailable())
        } finally h.stopAll()
      }
      env.tracer.span("pipelines.reconcile")(
        DailyDriver.stepStreamReconcile(spark, bench, d, cfg, Some(emb)))
    }(_ => decisionsCount(n0 + streamRows.length))
    op("maintain", "maintain")(DailyDriver.maintain(spark, d, lexGcGraceMs = 0L,
      vecDeltaShare = 0.0, vecGcGraceMs = 0L, embeddings = Some(emb)))(_ => None)
    op("forget", "forget")(Digest.of(DailyDriver.forget(spark,
      victims.toDF("doc_id"), docs, d, cfg)))(env.ref.check(s"r$r/forget", _).orElse {
      val left = DailyDriver.openDecisions(spark, d).filter(col("doc_id").isin(victims: _*)).count()
      if (left == 0L) None else Some(s"$left victims still in the decision table")
    })
    op("snapshot", "snapshot")(DailyDriver.snapshot(spark, d))(v =>
      if (v >= 1L) None else Some(s"snapshot version $v"))
    op("search", "search")(Digest.of(DailyDriver.hybridSearch(spark, d, queries, probes)))(
      env.ref.check(s"r$r/search", _))
    op("search_pq", "search_pq")(
      Digest.of(DailyDriver.hybridSearch(spark, d, queries, probes, pqDepth = 40)))(
      env.ref.check(s"r$r/search_pq", _))

    // untimed: the final decision table against its reference, and its
    // ids against what was fed minus the victims
    val dec = DailyDriver.openDecisions(spark, d)
    val live = dec.select("doc_id").as[Long].collect().toSet
    passFailures ++= env.ref.check(s"r$r/decisions@end", Digest.of(dec)).toSeq ++
      (if (live == fed.toSet -- victims) None
       else Some(s"pass $pass: decision ids differ from fed minus victims")).toSeq
  }

  override def finalChecks(env: Env, dir: String): Seq[String] = {
    val spark = env.spark
    import spark.implicits._
    val status = DailyDriver.status(spark, lastDir, graceMs = 0L)
    val fedBytes = Tables.documents(spark, dir).filter(col("doc_id").isin(fedIds.toSeq: _*))
      .join(Tables.embeddings(spark, dir).select(col("vec_id").as("doc_id"), col("embedding")),
        Seq("doc_id"), "left")
      .select(sum(octet_length(col("text")) + coalesce(size(col("embedding")) * 4, lit(0)))
        .cast("double")).as[Double].head()
    fedMb = fedBytes / 1048576.0
    storeStats = stores(spark, lastDir, fedBytes)
    passFailures.toSeq ++ status.filterNot(s => s.live && s.aligned)
      .map(s => s"store ${s.store} unhealthy: $s")
  }

  /** Bytes and files of each store under the driver directory. */
  private def stores(spark: SparkSession, d: String, fedBytes: Double): Seq[M] = {
    val root = new Path(d)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var files = 0L
    val bytes = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toUri.getPath.stripPrefix(root.toUri.getPath).stripPrefix("/")
      bytes(rel.takeWhile(_ != '/')) += st.getLen
      files += 1
    }
    val total = bytes.values.sum
    Seq(M("operators.store_files", files.toDouble, "count"),
      M("pipelines.store_bytes_ratio", total / fedBytes, "ratio")) ++
      Seq("decisions", "sig_index", "lex_index", "vec_index", "pq_index", "fps", "snapshots")
        .map(s => M(s"operators.${s}_mb", bytes(s) / 1048576.0, "MB"))
  }

  override def layerMetrics(t: Loop): Seq[M] = {
    def med(kind: String) = Metrics.quantile(t.rec.latencies(kind), 0.5)
    val outMb = t.tracer.total(_.outBytes.get) / 1048576.0
    Seq(M("pipelines.init_s", med("init"), "s"),
      M("pipelines.stream_day_s", med("stream"), "s"),
      M("pipelines.search_p50_s", med("search"), "s"),
      M("pipelines.search_pq_p50_s", med("search_pq"), "s"),
      M("pipelines.maintain_s", med("maintain"), "s"),
      M("pipelines.forget_s", med("forget"), "s"),
      M("pipelines.snapshot_s", med("snapshot"), "s"),
      M("streaming.feed_s", t.tracer.seconds("streaming.feed") / t.passes, "s"),
      M("pipelines.reconcile_s", t.tracer.seconds("pipelines.reconcile") / t.passes, "s"),
      M("pipelines.write_amp", outMb / t.passes / fedMb, "ratio")) ++
      storeStats
  }

  private def delete(spark: SparkSession, p: String): Unit = {
    val path = new Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
  }
}
