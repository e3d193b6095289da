package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.CdcPipeline

/** `cdc_poll`: graft's snapshot CDC stream (`CdcPipeline.start`, one drop
  * per micro-batch) fed by an open-loop generator.
  *
  * The inputs come first, outside the set-up time: a seeded chain of
  * snapshot drops of one table, where each changed drop is the previous
  * one with a seeded share of rows updated, inserted and deleted, and one
  * drop of each consecutive pair repeats the previous content unchanged.
  * The set-up runs `setup_reps` times, each on fresh directories: a new
  * stream bootstraps on drop 0 and takes the warm-up drops. The last one
  * stays up. In the measured window one generator thread moves the next
  * drop in atomically every `interval`, whatever the stream's progress.
  * A drop's lag runs from its due time to the commit of the micro-batch
  * that read it: capture lag for changed drops, probe lag for unchanged
  * ones. */
object CdcPoll {
  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val c = ctx.conf
    val table = c.str("table")
    val src = s"${ctx.data}/${c.str("sf")}/$table.parquet"
    val interval = c.int("interval_ms").toLong
    // drops 1..nWarm warm the stream up during set-up; nWarm+1..nAll are
    // measured. Both counts are even: one drop of each consecutive pair
    // (seeded) repeats the previous content, so the unchanged drops are
    // exactly half and spread evenly over the window.
    val nWarm = c.int("warmup_drops") / 2 * 2
    val nMeasured = math.max(2, math.ceil(ctx.seconds * 1000 / interval / 2).toInt * 2)
    val nAll = nWarm + nMeasured
    val measured = nWarm + 1 to nAll
    val work = Paths.get(ctx.work, "cdc")
    val stage = work.resolve("stage")
    Files.createDirectories(stage)

    // ---- stage drops 0..nAll: seeded mutations, half unchanged -----------
    val rnd = new scala.util.Random(ctx.seed)
    val unchanged: Set[Int] =
      (1 to nAll / 2).map(k => if (rnd.nextBoolean()) 2 * k - 1 else 2 * k).toSet
    // the chain of states is built in memory (the table is small):
    // state i = state i-1 with seeded deletes and updates, plus seeded
    // inserts copied from the source under fresh keys
    val base = spark.read.parquet(src)
    val schema = base.schema
    val src0 = base.collect().toVector
    val (iKey, iPrice, iStatus) = (schema.fieldIndex("o_orderkey"),
      schema.fieldIndex("o_totalprice"), schema.fieldIndex("o_orderstatus"))
    var nextKey = src0.map(_.getLong(iKey)).max + 1
    val (u, ins, del) = (c.dbl("update_frac"), c.dbl("insert_frac"), c.dbl("delete_frac"))
    def step(prev: Vector[Row]): Vector[Row] = {
      val kept = prev.flatMap { r =>
        val x = rnd.nextDouble()
        if (x < del) None
        else if (x < del + u) {
          val v = r.toSeq.toArray
          v(iPrice) = r.getDouble(iPrice) + rnd.nextInt(100000) / 100.0 + 0.01
          v(iStatus) = "U"
          Some(Row.fromSeq(v.toIndexedSeq))
        } else Some(r)
      }
      val added = (1 to math.round(src0.size * ins).toInt).map { _ =>
        val v = src0(rnd.nextInt(src0.size)).toSeq.toArray
        v(iKey) = nextKey; nextKey += 1
        Row.fromSeq(v.toIndexedSeq)
      }
      kept ++ added
    }
    val drops = (0 to nAll).map(i => stage.resolve(f"drop_$i%04d.parquet"))
    val changed = (0 to nAll).filterNot(unchanged)
    val states = changed.scanLeft(src0)((prev, _) => step(prev)).tail
    // every distinct state in one write, a partition (one file) per drop;
    // the repeats are copies
    val tagged = changed.zip(states).flatMap { case (i, rows) =>
      rows.map(r => Row.fromSeq(r.toSeq :+ i))
    }
    val tmp = stage.resolve("tmp")
    spark.createDataFrame(tagged.asJava, schema.add("drop", "int"))
      .repartition(col("drop")).write.partitionBy("drop").parquet(tmp.toString)
    changed.foreach { i =>
      val part = Using.resource(Files.list(tmp.resolve(s"drop=$i")))(_.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toList)
      require(part.size == 1, s"drop $i staged as ${part.size} files")
      Files.move(part.head, drops(i))
    }
    (1 to nAll).filter(unchanged).foreach(i => Files.copy(drops(i - 1), drops(i)))
    // the file source orders new files by modification time
    val mt0 = System.currentTimeMillis() - 3600 * 1000L
    drops.zipWithIndex.foreach { case (p, i) =>
      Files.setLastModifiedTime(p, FileTime.fromMillis(mt0 + i * 1000L))
    }
    out.phase("staged")

    // ---- set-up, repeated: a fresh stream bootstraps on drop 0 and takes
    // the warm-up drops; the last one stays up for the measured window ----
    val progress = mutable.Map.empty[Long, StreamingQueryProgress]
    def harvest(q: StreamingQuery): Unit =
      q.recentProgress.filter(_.numInputRows > 0).foreach(p => progress(p.batchId) = p)
    val reps = c.int("setup_reps")
    var q: StreamingQuery = null
    var dir: Path = null
    (1 to reps).foreach { r =>
      dir = work.resolve(s"rep$r")
      val in = Files.createDirectories(dir.resolve("in"))
      (0 to nWarm).foreach(i => Files.copy(drops(i), in.resolve(drops(i).getFileName),
        StandardCopyOption.COPY_ATTRIBUTES))
      val cfg = CdcPipeline.Config(
        inputDir = in.toString, outputDir = dir.resolve("out").toString,
        metadataDir = dir.resolve("meta").toString,
        checkpointDir = dir.resolve("ckpt").toString,
        tableName = table, triggerMs = c.int("trigger_ms").toLong)
      progress.clear()
      val s0 = System.nanoTime()
      q = CdcPipeline.start(spark, cfg, schema)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while ({ harvest(q); !progress.contains(nWarm.toLong) } && System.nanoTime() < deadline) {
        if (q.exception.isDefined) throw q.exception.get
        Thread.sleep(20)
      }
      require(progress.contains(nWarm.toLong), s"set-up $r: the warm-up drops were never committed")
      out.setupRepsS += Stats.msSince(s0) / 1000
      if (r < reps) { q.stop(); q.awaitTermination(30000) }
    }
    out.phase("booted")
    val in = dir.resolve("in")
    val outDir = dir.resolve("out")
    try {
      // ---- measured window: open-loop generator -------------------------
      val start = System.currentTimeMillis() + 50
      val due = measured.map(i => i -> (start + (i - nWarm - 1) * interval)).toMap
      val moved = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
      val gen = new Thread(() => {
        measured.foreach { i =>
          val wait = due(i) - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          Files.move(drops(i), in.resolve(drops(i).getFileName), StandardCopyOption.ATOMIC_MOVE)
          moved.put(i, System.currentTimeMillis())
        }
      }, "perfbench-generator")
      gen.setDaemon(true)
      gen.start()
      val drainDeadline = start + nMeasured * interval + c.int("drain_ms")
      while ({ harvest(q); progress.size < nAll + 1 } &&
          System.currentTimeMillis() < drainDeadline) {
        if (q.exception.isDefined) throw q.exception.get
        Thread.sleep(20)
      }
      gen.join(5000)
      out.phase("drained")
      out.attempted += nAll
      val runId = q.runId.toString
      if (!ctx.tracer.settle(10000)(measured.forall(i =>
          ctx.tracer.ticks.asScala.exists(t => t.runId == runId && t.batchId == i))))
        out.fail("the listeners missed events of the measured window")

      // ---- lags -----------------------------------------------------------
      def commitMs(p: StreamingQueryProgress): Long =
        java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution")
      val lags = measured.flatMap { i =>
        progress.get(i.toLong) match {
          case Some(p) => Some(i -> (commitMs(p) - due(i)).toDouble)
          case None => out.fail(s"drop $i: no committed batch before the drain deadline"); None
        }
      }.toMap
      val capture = lags.filter(l => !unchanged(l._1)).values.toSeq
      val probe = lags.filter(l => unchanged(l._1)).values.toSeq

      // ---- output checks --------------------------------------------------
      checkOutputs(ctx, out, in, unchanged, outDir, nAll)

      out.phase("checked")
      out.info("drops") = nMeasured
      val tickMs = progress.filter(_._1 > nWarm).values.map(_.durationMs.get("triggerExecution").toDouble)
      out.info("tick_ms_p50") = Stats.median(tickMs)
      out.info("tick_ms_p90") = Stats.pct(tickMs, 0.9)
      out.info("capture_lag_ms_p90") = Stats.pct(capture, 0.9)
      out.info("probe_lag_ms_p90") = Stats.pct(probe, 0.9)
      out.metrics("changed_ms_p50") = Stats.median(capture)
      out.metrics("unchanged_ms_p50") = Stats.median(probe)
      if (ctx.traced)
        layers(ctx, out, runId, progress.toMap,
          moved.asScala.map { case (k, v) => k -> v.longValue }.toMap, due, measured, outDir)
    } finally {
      q.stop()
      q.awaitTermination(30000)
    }
  }

  /** Each changed drop's envelopes must equal its rows (count plus an
    * order-independent digest of the JSON payload); an unchanged drop
    * must capture nothing. Batch i reads drop i. */
  private def checkOutputs(ctx: Ctx, out: Outcome, inDir: Path,
      unchanged: Set[Int], outDir: Path, n: Int): Unit = {
    val spark = ctx.spark
    def digests(df: DataFrame, key: org.apache.spark.sql.Column): Map[Int, (Long, BigDecimal)] =
      df.groupBy(key.as("k")).agg(count(lit(1)),
          sum(xxhash64(col("payload")).cast("decimal(38,0)")))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
    val rows = spark.read.parquet(inDir.toString)
    val want = digests(
      rows.select(input_file_name().as("f"),
        to_json(struct(rows.columns.map(col).toIndexedSeq: _*)).as("payload")),
      regexp_extract(col("f"), "drop_(\\d+)\\.parquet", 1).cast("int"))
    // the envelope shape, given up front so the read infers nothing
    val envSchema = new org.apache.spark.sql.types.StructType()
      .add("timestamp", "string").add("table", "string")
      .add("operation", "string").add("data", "string").add("batch", "int")
    val env = if (!Files.isDirectory(outDir)) None
      else Some(spark.read.schema(envSchema).json(outDir.toString))
    val got = env.map(e => digests(e.select(col("batch"), col("data").as("payload")),
      col("batch").cast("int"))).getOrElse(Map.empty)
    val kinds = env.map(_.select("operation", "table").distinct().collect()
      .map(r => s"${r.getString(0)}/${r.getString(1)}").toSet).getOrElse(Set.empty)
    if (kinds.exists(_ != s"SNAPSHOT/${ctx.conf.str("table")}"))
      out.fail(s"unexpected envelope kinds ${kinds.mkString(",")}")
    (1 to n).foreach { i =>
      (unchanged(i), got.get(i)) match {
        case (true, Some(_)) => out.fail(s"drop $i is unchanged but batch $i captured it")
        case (false, None) => out.fail(s"drop $i changed but batch $i captured nothing")
        case (false, Some(g)) if !want.get(i).contains(g) =>
          out.fail(s"drop $i: envelopes (rows, digest) $g != drop ${want.get(i)}")
        case _ =>
      }
    }
  }

  /** Which part of a tick a job belongs to. Every tick job runs under
    * the stream's call site, so the physical plan of its SQL execution
    * tells them apart: the file-name probe of the schema re-probe, the
    * checksum-history read and write under the metadata dir, the JSON
    * capture, and the scans of the drop itself (emptiness and checksum). */
  private def part(plans: java.util.Map[Long, String], metaDir: String)(j: JobRec): String =
    Option(plans.get(j.sqlExecId)) match {
      case None => "other"
      case Some(p) =>
        val write = p.contains("InsertIntoHadoopFsRelationCommand")
        if (p.contains("input_file_name")) "reprobe"
        else if (write && p.contains(metaDir)) "record"
        else if (write) "capture"
        else if (p.contains(metaDir)) "meta_read"
        else "checksum"
    }

  private def layers(ctx: Ctx, out: Outcome, runId: String,
      progress: Map[Long, StreamingQueryProgress], moved: Map[Int, Long],
      due: Map[Int, Long], measured: Range, outDir: Path): Unit = {
    val m = out.metrics
    val ticks = ctx.tracer.ticks.asScala.toSeq
      .filter(t => t.runId == runId && measured.contains(t.batchId.toInt)).sortBy(_.batchId)
    val nt = math.max(1, ticks.size).toDouble
    def dur(k: String) = ticks.map(_.durations.getOrElse(k, 0L).toDouble)
    m("streaming.cdc.tick_ms_p50") = Stats.median(dur("triggerExecution"))
    m("streaming.cdc.offset_ms") = dur("latestOffset").sum / nt
    m("streaming.cdc.plan_ms") = dur("queryPlanning").sum / nt
    m("streaming.cdc.addbatch_ms") = dur("addBatch").sum / nt
    m("streaming.cdc.walcommit_ms") = dur("walCommit").sum / nt
    val windows = ticks.map(t => (t.startMs, t.startMs + t.durations.getOrElse("triggerExecution", 0L)))
    val jobs = ctx.tracer.jobs.asScala.toSeq
    val tickJobs = windows.map { case (a, b) => (a, b, jobs.filter(j => j.startMs >= a && j.startMs <= b)) }
    m("streaming.cdc.jobs_per_tick") = tickJobs.map(_._3.size).sum / nt
    val byPart = tickJobs.flatMap(_._3)
      .groupBy(part(ctx.tracer.sqlPlans, outDir.resolveSibling("meta").toString))
    Seq("reprobe", "meta_read", "record", "checksum", "capture").foreach { k =>
      m(s"streaming.cdc.${k}_ms") =
        byPart.getOrElse(k, Nil).map(j => (j.endMs - j.startMs).toDouble).sum / nt
    }
    Layers.opLayers(ctx, out, tickJobs)
    // capture size: JSONL bytes per captured row, over every capture
    val files = Using.resource(Files.walk(outDir))(_.iterator().asScala.toList)
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".json"))
    val bytes = files.map(Files.size).sum.toDouble
    val rows = files.map(p => Using.resource(Files.lines(p))(_.count())).sum.toDouble
    m("streaming.cdc.capture_bytes_per_row") = if (rows > 0) bytes / rows else 0.0
    // health of the loop, over the whole measured window
    val window = progress.filter(p => measured.contains(p._1.toInt))
    m("streaming.cdc.changed_ratio") = measured
      .count(i => Files.isDirectory(outDir.resolve(s"batch=$i"))).toDouble / measured.size
    val all = window.toSeq.sortBy(_._1).map(_._2.durationMs.get("triggerExecution").toDouble)
    val q = math.max(1, all.size / 4)
    m("streaming.cdc.tick_growth") = Stats.median(all.takeRight(q)) / Stats.median(all.take(q))
    val commits = window.values.map(p =>
      java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution")).toSeq
    m("streaming.cdc.backlog_max") = moved.toSeq.map { case (i, t) =>
      (i - measured.head + 1 - commits.count(_ <= t)).toDouble
    }.maxOption.getOrElse(0.0)
    m("streaming.cdc.generator_late_ms_max") =
      moved.map { case (i, t) => (t - due(i)).toDouble }.maxOption.getOrElse(0.0)
  }
}
