package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** Per-layer metrics of the traced run. Every number is measured from the
  * benchmark side: spans around calls into graft, listener records, and
  * stand-alone probes of the codegen kernels and the row digest. */
object Layers {
  /** The graft.ops module declaring each query. */
  lazy val moduleOf: Map[String, String] = {
    import graft.ops._
    Seq("Analytic" -> Analytic.all, "Cdc" -> Cdc.all, "Curation" -> Curation.all,
      "Dedup" -> Dedup.all, "Graph" -> Graph.all, "Layout" -> Layout.all,
      "LlmPipeline" -> LlmPipeline.all, "Multimodal" -> Multimodal.all,
      "Pq" -> Pq.all, "Relational" -> Relational.all,
      "Similarity" -> Similarity.all, "Sketch" -> Sketch.all,
      "Statistical" -> Statistical.all, "Temporal" -> Temporal.all,
      "TextAnalysis" -> TextAnalysis.all)
      .flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap
  }

  /** Wall time of `[a, b]` not covered by any of `ivs`. */
  def uncovered(a: Long, b: Long, ivs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var cur = a
    ivs.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > cur) { covered += e - math.max(s, cur); cur = e }
      }
    (b - a) - covered
  }

  /** Planning and execution metrics per op, over a set of op windows and
    * the jobs attributed to each. */
  def opLayers(ctx: Ctx, out: Outcome, ops: Seq[(Long, Long, Seq[JobRec])]): Unit = {
    val n = math.max(1, ops.size).toDouble
    val plans = ops.flatMap { case (a, b, _) => ctx.tracer.plansIn(a, b) }
    out.metrics("plans.analysis_ms") = plans.map(_.analysisMs).sum / n
    out.metrics("plans.optimization_ms") = plans.map(_.optimizationMs).sum / n
    out.metrics("plans.planning_ms") = plans.map(_.planningMs).sum / n
    out.metrics("plans.queries_per_op") = plans.size / n
    val jobs = ops.flatMap(_._3)
    out.metrics("exec.jobs") = jobs.size / n
    out.metrics("exec.stages") = jobs.map(_.stages).sum / n
    out.metrics("exec.tasks") = jobs.map(_.tasks).sum / n
    out.metrics("exec.driver_gap_ms") = ops.map { case (a, b, js) =>
      uncovered(a, b, js.map(j => (j.startMs, j.endMs)))
    }.sum / n
    out.metrics("exec.shuffle_write_bytes") = jobs.map(_.shuffleWrite).sum / n
    out.metrics("exec.shuffle_read_bytes") = jobs.map(_.shuffleRead).sum / n
    out.metrics("exec.spill_bytes") = jobs.map(_.spill).sum / n
    out.metrics("exec.executor_run_ms") = jobs.map(_.runMs).sum / n
    out.metrics("exec.executor_cpu_ms") = jobs.map(_.cpuMs).sum / n
    out.metrics("exec.gc_ms") = jobs.map(_.gcMs).sum / n
    val wall = ops.map { case (a, b, _) => b - a }.sum.toDouble
    out.metrics("exec.slot_busy_ratio") =
      if (wall > 0) jobs.map(_.runMs).sum / (wall * ctx.cores) else 0.0
  }

  /** Stand-alone probes of the injected codegen kernels (through SQL) and
    * of the canonical row digest: rows per second over cached inputs,
    * median of several noop-sink passes. */
  def kernels(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val k = ctx.kernels
    val dir = s"${ctx.data}/${k.str("sf")}"
    val reps = k.int("reps")
    def replicated(table: String, n: Int) = spark.read.parquet(s"$dir/$table.parquet")
      .withColumn("__r", explode(sequence(lit(1), lit(n)))).drop("__r")
    val docs = replicated("documents", k.int("doc_replicas"))
      .select(col("text"), split(col("text"), " ").as("toks")).cache()
    // n-gram expansion costs ~30x a signature per row: fewer rows
    val ngramDocs = docs.limit(k.int("ngram_docs")).cache()
    val vecs = replicated("embeddings", k.int("vec_replicas"))
      .select(col("embedding")).cache()
    val orders = spark.read.parquet(s"$dir/orders.parquet").cache()
    val nDocs = docs.count().toDouble
    val nNgramDocs = ngramDocs.count().toDouble
    val nVecs = vecs.count().toDouble
    val nOrders = orders.count().toDouble
    def rate(name: String, rows: Double)(run: => Unit): Unit = {
      val ms = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        ctx.tracer.span(s"kernel:$name")(run)
        Stats.msSince(t0)
      }
      out.metrics(name) = rows / (Stats.median(ms) / 1000.0)
    }
    docs.createOrReplaceTempView("perfbench_docs")
    ngramDocs.createOrReplaceTempView("perfbench_ngram_docs")
    vecs.createOrReplaceTempView("perfbench_vecs")
    rate("functions.minhash_sig.rows_per_s", nDocs)(
      Main.noop(spark.sql("SELECT minhash_sig(toks, 64) FROM perfbench_docs")))
    rate("functions.simhash_sig.rows_per_s", nDocs)(
      Main.noop(spark.sql("SELECT simhash_sig(toks) FROM perfbench_docs")))
    rate("functions.fingerprint_sig.rows_per_s", nDocs)(
      Main.noop(spark.sql("SELECT fingerprint_sig(toks) FROM perfbench_docs")))
    rate("functions.char_ngrams.rows_per_s", nNgramDocs)(
      Main.noop(spark.sql("SELECT char_ngrams(text, 3) FROM perfbench_ngram_docs")))
    rate("functions.vec_dot.rows_per_s", nVecs)(
      Main.noop(spark.sql("SELECT vec_dot(embedding, embedding) FROM perfbench_vecs")))
    rate("core.canonical.digest_rows_per_s", nOrders)(
      orders.agg(sum(graft.core.Canonical.rowDigestExact(orders))).head())
    Seq(docs, ngramDocs, vecs, orders).foreach(_.unpersist())
  }

  /** JVM and process memory high-water marks, and total JVM GC time. */
  def memory(out: Outcome): Unit = {
    import java.lang.management.{ManagementFactory, MemoryType}
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    out.metrics("jvm.heap_peak_mb") = heapPeak / 1048576.0
    out.metrics("jvm.gc_ms") = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum.toDouble
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
    out.metrics("proc.peak_rss_mb") = hwm.getOrElse(0.0)
  }
}
