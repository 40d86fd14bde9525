package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One closed-loop call. A failed call carries no time. */
final case class OpResult(name: String, kind: String, pass: Int,
                          seconds: Double, ok: Boolean, error: String) {
  def json: String = Json.obj(Seq(
    "name" -> Json.str(name), "kind" -> Json.str(kind), "pass" -> pass.toString,
    "s" -> Json.num(seconds), "ok" -> ok.toString, "error" -> Json.str(error)))
}

/** Times ops and counts failures. An op fails when its call throws or
  * when its check of the call's result (untimed) returns a reason; a
  * failed op is counted in `failed` and never enters a latency. */
final class Recorder {
  val results = ArrayBuffer.empty[OpResult]

  def op[T](name: String, kind: String, pass: Int)(call: => T)(check: T => Option[String]): Unit = {
    val t0 = System.nanoTime()
    val outcome: Either[String, T] =
      try Right(call)
      catch { case e: Throwable => Left(s"threw ${e.getClass.getName}: ${e.getMessage}".take(500)) }
    val dt = (System.nanoTime() - t0) / 1e9
    val failure = outcome.fold(Some(_), v =>
      try check(v) catch { case e: Throwable => Some(s"check threw ${e.getClass.getName}: ${e.getMessage}".take(500)) })
    results += OpResult(name, kind, pass, if (failure.isEmpty) dt else Double.NaN,
      failure.isEmpty, failure.getOrElse(""))
  }

  def ok: Seq[OpResult] = results.filter(_.ok).toSeq
  def latencies: Seq[Double] = ok.map(_.seconds)
  def latencies(kind: String): Seq[Double] = ok.filter(_.kind == kind).map(_.seconds)
}

object Recorder {
  /** Runs a throwing op, a wrong-digest op and a good op through a
    * fresh recorder; returns the reasons it misbehaved, if any. */
  def selfTest(spark: SparkSession): Seq[String] = {
    val r = new Recorder
    r.op("throws", "selftest", 0)((throw new IllegalStateException("planted")): Digest)(_ => None)
    r.op("wrong-digest", "selftest", 0)(Digest.of(spark.range(10).toDF()))(d =>
      if (d.all == 0L) None else Some("digest differs from reference"))
    r.op("good", "selftest", 0)(Digest.of(spark.range(10).toDF()))(d =>
      if (d.rows == 10L) None else Some(s"rows ${d.rows}"))
    val Seq(t, w, g) = r.results.toSeq
    Seq(
      (!t.ok && t.seconds.isNaN) -> "a throwing op was recorded as a time",
      (!w.ok && w.seconds.isNaN) -> "a wrong-digest op was recorded as a time",
      (g.ok && g.seconds > 0) -> "a good op was not recorded",
      (r.latencies == Seq(g.seconds)) -> "latencies hold a failed op"
    ).collect { case (false, why) => why }
  }
}

/** Reference digests recorded at a known-good commit, keyed by op. A
  * key marked inexact compares its row count and non-floating columns
  * only (its float bits differed between two recording runs). */
final class Reference(entries: Map[String, (Digest, Boolean)], recording: Boolean) {
  val recorded = mutable.LinkedHashMap.empty[String, (Digest, Boolean)]

  def check(key: String, d: Digest): Option[String] =
    if (recording) {
      recorded.get(key) match {
        case None => recorded(key) = (d, true); None
        case Some((d0, exact)) =>
          recorded(key) = (d0, exact && d0.all == d.all)
          if (d0.rows != d.rows || d0.stable != d.stable)
            Some(s"$key: non-floating columns differ between two recording runs")
          else None
      }
    } else entries.get(key) match {
      case None => Some(s"no reference digest for $key")
      case Some((e, exact)) =>
        if (e.rows != d.rows) Some(s"$key: ${d.rows} rows, reference ${e.rows}")
        else if (exact && e.all != d.all) Some(s"$key: digest ${d.json} != reference ${e.json}")
        else if (e.stable != d.stable) Some(s"$key: non-float digest ${d.json} != reference ${e.json}")
        else None
    }
}

object Reference {
  def empty: Reference = new Reference(Map.empty, recording = true)

  def load(path: String, workload: String): Reference = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    require(root.path("workload").asText == workload, s"$path is not the $workload reference")
    val m = root.path("entries").fields().asScala.map { e =>
      val v = e.getValue
      def hex(f: String) = java.lang.Long.parseUnsignedLong(v.path(f).asText, 16)
      e.getKey -> (Digest(v.path("rows").asLong, hex("all"), hex("stable")), v.path("exact").asBoolean)
    }.toMap
    new Reference(m, recording = false)
  }

  def save(path: String, workload: String, ref: Reference): Unit = {
    val body = ref.recorded.map { case (k, (d, exact)) =>
      s"    ${Json.str(k)}: ${d.json.dropRight(1)},\"exact\":$exact}"
    }.mkString(",\n")
    val json = s"""{"workload": ${Json.str(workload)},\n  "entries": {\n$body\n  }\n}\n"""
    java.nio.file.Files.write(java.nio.file.Paths.get(path), json.getBytes("UTF-8"))
  }
}
