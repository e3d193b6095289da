package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What a workload hands back: ops attempted, failed checks, and the
  * metrics it computed. `setup_s` is the session start plus the median
  * of the workload's repeated set-ups, which it adds to `setupRepsS`. */
final class Outcome {
  var attempted = 0L
  val setupRepsS = mutable.ArrayBuffer.empty[Double]
  val failures = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  /** Phase timings and sizes, reported beside the metrics for reading. */
  val info = mutable.LinkedHashMap.empty[String, Double]
  private val t0 = System.nanoTime()
  def phase(name: String): Unit = info(s"phase.$name.at_s") = (System.nanoTime() - t0) / 1e9
  def fail(msg: String): Unit = failures.synchronized { failures += msg }
}

/** One JSON object of `workloads.json`, read by key. */
final class Conf(node: JsonNode, where: String) {
  private def get(k: String): JsonNode = Option(node.get(k))
    .getOrElse(throw new IllegalArgumentException(s"$where: missing `$k`"))
  def str(k: String): String = get(k).asText()
  def int(k: String): Int = get(k).asInt()
  def dbl(k: String): Double = get(k).asDouble()
  def obj(k: String): Conf = new Conf(get(k), s"$where.$k")
  def keys: Seq[String] = node.fieldNames().asScala.toSeq
}

/** Shared run context: arguments, the workload's settings, the session,
  * the tracer. */
final class Ctx(args: Map[String, String], cfg: JsonNode, val spark: SparkSession,
    val tracer: Tracer) {
  val workload: String = args("workload")
  val conf = new Conf(cfg.get("workloads").get(workload), workload)
  val kernels = new Conf(cfg.get("kernels"), "kernels")
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val cores: Int = args("cores").toInt
  val traced: Boolean = tracer.enabled
  val work: String = args("work")
  val data: String = args("data")
}

/** Entry point of the benchmark JVM. Arguments arrive as `--key value`
  * pairs (run.py writes them), the sizes come from `workloads.json`, and
  * the result goes to `<outdir>/result.json`. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val t0Ms = args("t0ms").toLong
    val cfg = new ObjectMapper().readTree(Paths.get(args("config")).toFile)
    val cores = args("cores").toInt
    val spark = graft.core.Session.local(cores, cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - t0Ms) / 1000.0
    val tracer = new Tracer(spark, args("trace") == "1")
    val ctx = new Ctx(args, cfg, spark, tracer)
    val out = new Outcome
    out.info("session_s") = sessionS
    val status =
      try {
        ctx.workload match {
          case "cdc_poll" => CdcPoll.run(ctx, out)
          case "corpus_growth" => CorpusGrowth.run(ctx, out)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        if (ctx.traced) {
          Layers.kernels(ctx, out)
          out.phase("kernels")
          Layers.memory(out)
          tracer.writeSpans(s"${args("outdir")}/spans.jsonl")
        }
        "ok"
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          out.fail(s"run aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
          "aborted"
      }
    if (out.setupRepsS.nonEmpty) out.metrics("setup_s") = sessionS + Stats.median(out.setupRepsS)
    out.setupRepsS.zipWithIndex.foreach { case (s, i) => out.info(s"setup_rep_${i + 1}_s") = s }
    out.phase("done")
    val m = out.metrics.map { case (k, v) => s""""${Json.esc(k)}":${Stats.num(v)}""" }
      .mkString(",")
    val inf = out.info.map { case (k, v) => s""""${Json.esc(k)}":${Stats.num(v)}""" }
      .mkString(",")
    val f = out.failures.take(50).map(s => "\"" + Json.esc(s) + "\"").mkString(",")
    Files.writeString(Paths.get(args("outdir"), "result.json"),
      s"""{"status":"$status","attempted":${out.attempted},"failed":${out.failures.size},"failures":[$f],"metrics":{$m},"info":{$inf}}""")
    // the result is on disk; end without Spark's shutdown sequence, whose
    // temp files live in the run dir that the caller removes
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }

  /** Run a query into the noop sink: executes the whole plan and
    * materializes every output column, like graft.Bench. */
  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Order-independent digest of a frame: row count plus the sum of a
    * 64-bit hash over every column (columns sorted by name, the order
    * the oracle compare uses). One aggregate job. */
  def digest(df: DataFrame): String = {
    val cols = df.columns.sorted.map(c => col(s"`$c`")).toIndexedSeq
    val r = df.agg(count(lit(1)), coalesce(sum(xxhash64(cols: _*).cast("decimal(38,0)")),
      lit(0).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }
}

object Stats {
  /** Percentile by linear interpolation between order statistics
    * (numpy's default); NaN on an empty sample. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 0.5)
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).round(new java.math.MathContext(10)).toString
  def msSince(t0Ns: Long): Double = (System.nanoTime() - t0Ns) / 1e6
}
