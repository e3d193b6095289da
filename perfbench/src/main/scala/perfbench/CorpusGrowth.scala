package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.core.ModelCache

/** `corpus_growth`: appends change what graft's frozen artifacts cover.
  *
  * Set-up replicates the source tables k× into a work dir (higher ids per
  * replica) and trains each artifact kind by running its query once.
  * Each generation appends one seeded new-id slice to every table as new
  * part files and runs each kind's query twice: the first answer after
  * the append is "fresh" (refresh plus serve), the repeat is "serve".
  * Each answer is a full evaluation ending in an order-independent
  * digest, so fresh and serve answers are checked against each other.
  * After the window, `ModelCache.clear()` and a cold retrain on the final
  * corpus run (setup_reps - 1) times: they are the repeated set-ups, and
  * their answers must equal the refreshed ones for every bit-parity kind. */
object CorpusGrowth {
  private final case class Gen(fresh: Seq[Double], serve: Seq[Double],
      refreshMs: Map[String, Double], events: Map[String, String])

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val c = ctx.conf
    val src = s"${ctx.data}/${c.str("sf")}"
    val work = s"${ctx.work}/corpus"
    val k = c.int("k")
    // kind -> (query, table), e.g. bm25-base -> (q_bm25_delta, documents)
    val kinds = c.obj("kinds").keys.map { kind =>
      val q = c.obj("kinds").obj(kind)
      (kind, q.str("query"), q.str("table"))
    }
    val fns = graft.SparkEntry.queries
    val idCols = Map("documents" -> Seq("doc_id"), "events" -> Seq("event_id", "user_id"))
    val tables = kinds.map(_._3).distinct

    // ---- inputs: k replicas with higher ids per replica --------------------
    // id offsets: replica r shifts every id column by r * span, where span
    // exceeds every id in the source; `top` bounds the corpus's ids, so an
    // append shifted by `top` lands above everything already there
    val span = tables.map { t =>
      val r = spark.read.parquet(s"$src/$t.parquet")
        .agg(max(col(idCols(t).head)), idCols(t).tail.map(c => max(col(c))): _*).head()
      t -> (idCols(t).indices.map(r.getLong).max + 1)
    }.toMap
    val top = mutable.Map.empty[String, Long]
    tables.foreach { t =>
      val base = spark.read.parquet(s"$src/$t.parquet")
      idCols(t).foldLeft(base.withColumn("__r", explode(sequence(lit(0), lit(k - 1))))) {
        (df, c) => df.withColumn(c, col(c) + col("__r") * lit(span(t)))
      }.drop("__r").write.mode("overwrite").parquet(s"$work/$t.parquet")
      top(t) = k * span(t)
    }
    out.phase("replicated")

    // one answer: a full evaluation of the kind's query, digested
    def answer(kind: String, q: String, phase: String): (Double, String) = {
      out.attempted += 1
      val a0 = System.nanoTime()
      val d = ctx.tracer.span(s"$phase:$kind", Map("query" -> q))(Main.digest(fns(q)(spark, work)))
      (Stats.msSince(a0), d)
    }
    // one set-up: every kind trained from an empty cache
    val trainMs = mutable.ArrayBuffer.empty[Map[String, Double]]
    def setUp(): Map[String, String] = {
      ModelCache.clear()
      val s0 = System.nanoTime()
      val answers = kinds.map { case (kind, q, _) => kind -> answer(kind, q, "train")._2 }.toMap
      out.setupRepsS += Stats.msSince(s0) / 1000
      trainMs += ModelCache.buildCosts.map { case (kd, s) => kd -> s * 1000 }
      answers
    }
    setUp()
    out.phase("trained")

    // ---- generations of append → fresh → serve ------------------------------
    val rnd = new scala.util.Random(ctx.seed)
    val lastServe = mutable.Map.empty[String, String]
    var g = 0
    def generation(): Gen = {
      g += 1
      tables.foreach { t =>
        // a seeded slice of the source, every id shifted above the corpus
        val slice = spark.read.parquet(s"$src/$t.parquet")
          .sample(false, c.dbl("slice_frac"), rnd.nextLong())
        idCols(t).foldLeft(slice)((df, c) => df.withColumn(c, col(c) + lit(top(t))))
          .coalesce(1).write.mode("append").parquet(s"$work/$t.parquet")
        top(t) += span(t)
      }
      val before = ModelCache.buildCosts
      val fresh = kinds.map { case (kind, q, _) => answer(kind, q, "fresh") }
      val refresh = ModelCache.buildCosts.map { case (kd, s) =>
        kd -> (s - before.getOrElse(kd, 0.0)) * 1000
      }
      val events = kinds.map { case (kind, _, t) =>
        kind -> ModelCache.lastEvent(kind, s"$work/$t.parquet").getOrElse("none")
      }.toMap
      val serve = kinds.map { case (kind, q, _) => answer(kind, q, "serve") }
      kinds.indices.foreach { i =>
        val kind = kinds(i)._1
        if (fresh(i)._2 != serve(i)._2)
          out.fail(s"generation $g $kind: fresh answer ${fresh(i)._2} != serve answer ${serve(i)._2}")
        lastServe(kind) = serve(i)._2
      }
      kinds.indices.foreach { i =>
        val kind = kinds(i)._1
        out.info(s"gen$g.fresh_ms.$kind") = fresh(i)._1
        out.info(s"gen$g.serve_ms.$kind") = serve(i)._1
        out.info(s"gen$g.refresh_ms.$kind") = refresh.getOrElse(kind, 0.0)
      }
      Gen(fresh.map(_._1), serve.map(_._1), refresh, events)
    }

    // ---- measured window: a generation starts only if it should end inside
    // the window; at least two run
    val t0 = System.nanoTime()
    val gens = mutable.ArrayBuffer.empty[Gen]
    def more: Boolean = gens.size < 2 ||
      Stats.msSince(t0) * (gens.size + 1) / gens.size <= ctx.seconds * 1000
    while (more) gens += generation()
    out.phase("measured")
    out.info("generations") = gens.size
    if (!ctx.tracer.settle(10000)(true))
      out.fail("the listeners missed events of the measured window")

    // ---- repeated set-ups: cold retrains on the final corpus, which must
    // answer as the refreshed artifacts did --------------------------------
    val retrains = (2 to c.int("setup_reps")).map(_ => setUp())
    out.phase("retrained")
    // a refreshed-warm generation promises quality parity only: no bit check
    val exact = kinds.map(_._1).filter(kind => gens.last.events(kind) != "refreshed-warm")
    for (cold <- retrains; kind <- exact if !lastServe.get(kind).contains(cold(kind)))
      out.fail(s"$kind: refreshed answer ${lastServe.get(kind)} != cold retrain ${cold(kind)}")

    // per generation, the mean answer over kinds; the median over generations
    out.metrics("changed_ms_p50") = Stats.median(gens.map(g => g.fresh.sum / g.fresh.size))
    out.metrics("unchanged_ms_p50") = Stats.median(gens.map(g => g.serve.sum / g.serve.size))
    val retrainS = Stats.median(out.setupRepsS.drop(1))
    out.info("retrain_s") = retrainS
    if (ctx.traced) {
      val spans = ctx.tracer.spans.toArray(Array.empty[Span]).toSeq
      Layers.opLayers(ctx, out, spans.filter(_.name.startsWith("fresh:"))
        .map(s => (s.startMs, s.endMs, ctx.tracer.jobsOf(s.id))))
      // ops.<module>.wall_s: wall per generation, by operator module
      val answers = spans.filter(s => s.name.startsWith("fresh:") || s.name.startsWith("serve:"))
      val byMod = answers.groupBy(s => Layers.moduleOf.getOrElse(s.attrs("query"), "other"))
      byMod.foreach { case (m, ss) =>
        out.metrics(s"ops.${m.toLowerCase}.wall_s") =
          ss.map(s => s.endMs - s.startMs).sum / 1000.0 / gens.size
      }
      // ModelCache build time per kind, as `buildCosts` reports it: the
      // median over the set-ups
      kinds.foreach { case (kind, _, _) =>
        out.metrics(s"core.modelcache.train_ms.$kind") =
          Stats.median(trainMs.map(_.getOrElse(kind, 0.0)))
        out.metrics(s"core.modelcache.refresh_ms.$kind") =
          Stats.median(gens.map(_.refreshMs.getOrElse(kind, 0.0)))
      }
      out.metrics("core.modelcache.train_ms") =
        kinds.map(kd => out.metrics(s"core.modelcache.train_ms.${kd._1}")).sum
      out.metrics("core.modelcache.retrain_s") = retrainS
      val freshJobs = spans.filter(_.name.startsWith("fresh:")).map(s => ctx.tracer.jobsOf(s.id).size)
      val serveJobs = spans.filter(_.name.startsWith("serve:")).map(s => ctx.tracer.jobsOf(s.id).size)
      out.metrics("core.modelcache.jobs_per_refresh") =
        (freshJobs.sum - serveJobs.sum).toDouble / math.max(1, freshJobs.size)
      val evs = gens.flatMap(_.events.values)
      out.metrics("core.modelcache.refreshed_ratio") =
        evs.count(_.startsWith("refreshed")).toDouble / math.max(1, evs.size)
    }
  }
}
