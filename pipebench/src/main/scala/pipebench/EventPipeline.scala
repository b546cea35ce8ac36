package pipebench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import Main.median

/** The reference's own path: click JSONL in a drop-dir → `IngestJob.wire`
  * (parse, dead-letter split, gzip bronze + quarantine) → repeated
  * `BatchJob.main` over the latest bronze hour (quality gate, silver, gold,
  * processed events, warehouse).
  *
  * Phase 1 drains a backlog of several triggers' worth of files, moved into
  * the drop-dir once both queries are up and idle; phase 2 drops files on a
  * fixed schedule below capacity (open loop) and times each file from when
  * it was due to the commit of the micro-batch that wrote it; phase 3 runs
  * `BatchJob.main` as the hourly job would, one fresh SparkContext each. */
object EventPipeline {
  val PerFile = 100
  /** Backlog files: four full triggers of the source (it admits at most
    * 100 files per trigger). */
  val BacklogFiles = 400
  val WarmFiles = 10
  /** Paced phase: one file every `PaceMs`, for `PacedShare` of the run. */
  val PaceMs = 100
  val PacedShare = 0.3
  /** Timed BatchJob runs, after one untimed warm-up run. */
  val BatchRuns = 2

  /** The last run's checked inputs, kept for the self-test. */
  @volatile var checked: Option[(Seq[Clicks.Click], Seq[Clicks.Click], Outputs)] = None

  final case class Outputs(lines: Long, quarantined: Long,
    bronze: Seq[(String, Int, Int, Int, Int)], gold: Seq[(String, String, Long, Long)],
    silverRows: Long, warehouseRows: Long, processed: Seq[(String, Boolean, String)])

  def run(a: Main.Args): Main.Outcome = {
    val w = a.work
    val spark = Main.session()
    Main.log("session ready")
    val hourMs = 3600000L
    val hourStartMs = System.currentTimeMillis() / hourMs * hourMs
    val baseUs = (hourStartMs - 2 * hourMs) * 1000L
    val backlog = if (a.tiny) 4 else BacklogFiles
    val paced = if (a.tiny) 4 else math.max(10, (a.seconds * PacedShare * 1000 / PaceMs).toInt)
    val files = Clicks.generate(a.seed, backlog + paced, PerFile, baseUs)
    val drop = s"$w/drop"; val stage = s"$w/stage"
    Seq(drop, stage).foreach(d => new File(d).mkdirs())
    val backlogNames = files.take(backlog).zipWithIndex.map { case (f, i) =>
      writeFile(s"$stage/b$i.jsonl", f); s"b$i.jsonl"
    }

    Main.log("backlog written")
    // warm-up: the same wiring over a few files of another seed, untimed
    val warm = Clicks.generate(a.seed + 1, if (a.tiny) 2 else WarmFiles, PerFile, baseUs)
    new File(s"$w/warm/drop").mkdirs()
    warm.zipWithIndex.foreach { case (f, i) => writeFile(s"$w/warm/drop/w$i.jsonl", f) }
    val (wb, wq) = graft.app.IngestJob.wire(spark, s"$w/warm/drop", s"$w/warm/bronze",
      s"$w/warm/quarantine", s"$w/warm/ck", trigger = "0 seconds")
    wb.processAllAvailable(); wq.processAllAvailable(); wb.stop(); wq.stop()

    val progress = new ProgressLog
    spark.streams.addListener(progress)
    // the queries start on the empty drop-dir, so their start-up is set-up
    val bronze = s"$w/bronze"; val ck = s"$w/ck"
    val (bq, qq) = graft.app.IngestJob.wire(spark, drop, bronze, s"$w/quarantine", ck,
      trigger = "0 seconds")
    awaitIdle(Seq(bq, qq))
    Main.quiesce()
    val setupS = Main.setupSeconds()
    Main.log("set-up done")

    // phase 1: the backlog moved into the drop-dir and drained to
    // committed bronze + quarantine
    val (_, drainS) = Steal.timed {
      backlogNames.foreach(n => moveIn(s"$stage/$n", s"$drop/$n"))
      bq.processAllAvailable(); qq.processAllAvailable()
    }
    val backlogLines = files.take(backlog).map(_.size).sum
    Main.log(f"backlog drained in $drainS%.2f s")

    // phase 2: open-loop drops, one file every PaceMs
    val pacedFrom = Steal.mark()
    val t0 = System.currentTimeMillis() + PaceMs
    val dueAndLate = files.drop(backlog).zipWithIndex.map { case (f, i) =>
      val due = t0 + i.toLong * PaceMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      writeFile(s"$stage/p$i.jsonl", f)
      moveIn(s"$stage/p$i.jsonl", s"$drop/p$i.jsonl")
      (s"p$i.jsonl", due, System.currentTimeMillis() - due)
    }
    bq.processAllAvailable(); qq.processAllAvailable()
    bq.stop(); qq.stop()
    spark.streams.removeListener(progress)
    Main.log("paced phase done")
    val batchOf = fileBatches(s"$ck/bronze/sources/0")
    val notStolen = 1 - Steal.share(pacedFrom, Steal.mark())
    val latencyS = dueAndLate.map { case (name, due, _) =>
      (new File(s"$ck/bronze/commits/${batchOf(name)}").lastModified() - due) / 1000.0 * notStolen
    }
    val q = latencyS.sorted
    Main.log(f"paced latency s: p25 ${q(q.size / 4)}%.3f p50 ${median(q)}%.3f p75 ${q(q.size * 3 / 4)}%.3f")
    val bronzeFiles = listData(bronze)
    val validLines = files.flatten.count(_.click.isDefined)
    val bytesPerEvent = bronzeFiles.map(_.length).sum.toDouble / validLines

    // phase 3: the hourly batch job over the latest whole hour
    val (y, m, d, h) = Clicks.hourOf((hourStartMs - hourMs) * 1000L)
    val hourDir = s"$bronze/year=$y/month=$m/day=$d/hour=$h"
    val out = Seq("silver", "gold", "processed", "warehouse").map(n => s"$w/$n")
    val args = (hourDir +: out).toArray
    spark.stop()
    graft.app.BatchJob.main(args)
    Main.quiesce()
    Main.log("batch warm-up done")
    val batch = (1 to (if (a.tiny) 1 else BatchRuns)).map { _ =>
      val entry = System.currentTimeMillis()
      val (_, s) = Trace.scope("batch")(Steal.timed(graft.app.BatchJob.main(args)))
      val exit = System.currentTimeMillis()
      Main.quiesce()
      (s, entry, exit)
    }

    Main.log(s"batch runs: ${batch.map(_._1).mkString(", ")}")
    val check = Main.session()
    val outputs = collect(check, files.flatten.size, s"$w/quarantine", bronze, out)
    val lastHour = files.flatten.flatMap(_.click)
      .filter(c => Clicks.hourOf(c.tsUs) == ((y, m, d, h)))
    val valid = files.flatten.flatMap(_.click)
    val problems = checkOutputs(valid, lastHour, outputs)
    checked = Some((valid, lastHour, outputs))

    Main.log("checked")
    val perLayer = if (!a.trace) Nil else
      streamingLayers(progress, bronzeFiles.size, dueAndLate.map(_._3.toDouble)) ++
        batchLayers(batch.map(b => (b._2, b._3)), listData(hourDir).map(_.length).sum)
    Main.Outcome(
      endToEnd = Seq(
        ("setup_s", setupS, "s"),
        ("rate_per_s", backlogLines / drainS, "1/s"),
        ("op_p50_ms", median(latencyS) * 1000, "ms"),
        ("job_s", median(batch.map(_._1)), "s"),
        ("bytes_per_item", bytesPerEvent, "bytes")),
      perLayer = perLayer,
      attempted = files.size + batch.size, problems = problems)
  }

  def moveIn(from: String, to: String): Unit =
    Files.move(Paths.get(from), Paths.get(to), StandardCopyOption.ATOMIC_MOVE)

  /** Waits until every query has finished a trigger and found no new data. */
  def awaitIdle(qs: Seq[org.apache.spark.sql.streaming.StreamingQuery]): Unit = {
    val until = System.currentTimeMillis() + 60000
    while (qs.exists(q => q.status.isTriggerActive || !q.status.message.startsWith("Waiting"))) {
      qs.foreach(q => q.exception.foreach(e => throw e))
      require(System.currentTimeMillis() < until, "the ingest queries did not start within 60 s")
      Thread.sleep(5)
    }
  }

  def writeFile(path: String, lines: Seq[Clicks.Line]): Unit =
    Files.write(Paths.get(path), lines.map(_.text).mkString("", "\n", "\n").getBytes("UTF-8"))

  /** Data files under a file-sink directory (its metadata log excluded). */
  def listData(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory && !f.getName.startsWith("_")) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")) Seq(f)
      else Nil
    walk(new File(dir))
  }

  /** Drop-file name → micro-batch id, from the file source's own log. */
  def fileBatches(logDir: String): Map[String, Long] = {
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
    Option(new File(logDir).listFiles()).toSeq.flatten
      .filterNot(_.getName.startsWith("."))
      .flatMap(f => Files.readAllLines(f.toPath).asScala)
      .flatMap(l => entry.findFirstMatchIn(l))
      .map(m => m.group(1).split('/').last -> m.group(2).toLong).toMap
  }

  def collect(spark: SparkSession, lines: Long, quarantine: String, bronze: String,
      out: Seq[String]): Outputs = {
    import spark.implicits._
    val Seq(silver, gold, processed, warehouse) = out
    val b = spark.read.json(bronze)
      .select(col("event_id"), col("year").cast("int"), col("month").cast("int"),
        col("day").cast("int"), col("hour").cast("int"))
      .as[(String, Int, Int, Int, Int)].collect().toSeq
    val g = spark.read.parquet(gold)
      .select(col("date").cast("string"), col("click_type"), col("n_events"), col("n_users"))
      .as[(String, String, Long, Long)].collect().toSeq
    val p = spark.read.parquet(processed)
      .select("event_id", "is_bot", "user_segment").as[(String, Boolean, String)].collect().toSeq
    Outputs(lines, spark.read.json(quarantine).count(), b, g,
      spark.read.parquet(silver).count(), spark.read.parquet(warehouse).count(), p)
  }

  /** Every check of the event pipeline's outputs against the generator. */
  def checkOutputs(valid: Seq[Clicks.Click], lastHour: Seq[Clicks.Click],
      o: Outputs): Seq[String] = {
    val problems = Seq.newBuilder[String]
    def need(ok: Boolean, what: => String): Unit = if (!ok) problems += what
    need(o.bronze.size + o.quarantined == o.lines,
      s"bronze ${o.bronze.size} + quarantine ${o.quarantined} != ${o.lines} lines")
    val ids = o.bronze.map(_._1)
    need(ids.size == ids.distinct.size && ids.toSet == valid.map(_.id).toSet,
      "bronze event ids differ from the generated valid set")
    val hourOf = valid.map(c => c.id -> Clicks.hourOf(c.tsUs)).toMap
    val misplaced = o.bronze.count { case (id, y, m, d, h) => !hourOf.get(id).contains((y, m, d, h)) }
    need(misplaced == 0, s"$misplaced bronze rows outside their timestamp's hour partition")
    need(o.gold.map(_._3).sum == o.silverRows,
      s"sum of gold n_events ${o.gold.map(_._3).sum} != silver rows ${o.silverRows}")
    need(o.silverRows == lastHour.size, s"silver rows ${o.silverRows} != ${lastHour.size} clicks in the hour")
    val gold = o.gold.map { case (dt, ct, n, u) => (dt, ct) -> (n, u) }.toMap
    need(gold == Clicks.expectedGold(lastHour), "gold (n_events, n_users) differ from the generator's counts")
    val enr = Clicks.expectedEnrichment(lastHour)
    val wrong = o.processed.count { case (id, bot, seg) => !enr.get(id).contains((bot, seg)) }
    need(o.processed.size == enr.size && wrong == 0,
      s"processed events: ${o.processed.size} rows for ${enr.size} clicks, $wrong with wrong is_bot/user_segment")
    need(o.warehouseRows == o.gold.size, s"warehouse rows ${o.warehouseRows} != gold rows ${o.gold.size}")
    problems.result()
  }

  /** Streaming progress of every query, kept for the traced run. */
  final class ProgressLog extends StreamingQueryListener {
    val all = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = all.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def streamingLayers(log: ProgressLog, bronzeFiles: Int, latenessMs: Seq[Double]): Seq[(String, Double, String)] = {
    val ps = log.all.asScala.toSeq.filter(_.numInputRows > 0)
    // the bronze sink's triggers: the query whose sink path ends in /bronze
    val bronzeTriggers = ps.filter(_.sink.description.contains("/bronze"))
    def mean(key: String) = {
      val xs = bronzeTriggers.flatMap(p => Option(p.durationMs.get(key)).map(_.doubleValue))
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    Seq(
      ("streaming.latest_offset_ms", mean("latestOffset"), "ms"),
      ("streaming.get_batch_ms", mean("getBatch"), "ms"),
      ("streaming.query_planning_ms", mean("queryPlanning"), "ms"),
      ("streaming.add_batch_ms", mean("addBatch"), "ms"),
      ("streaming.wal_commit_ms", mean("walCommit"), "ms"),
      ("streaming.commit_offsets_ms", mean("commitOffsets"), "ms"),
      ("streaming.triggers", bronzeTriggers.size.toDouble, "count"),
      ("streaming.bronze_files_per_trigger",
        if (bronzeTriggers.isEmpty) 0.0 else bronzeFiles.toDouble / bronzeTriggers.size, "count"),
      ("loadgen.lateness_ms", if (latenessMs.isEmpty) 0.0 else latenessMs.max, "ms"))
  }

  /** BatchJob.main's phases, told apart by the call site and output path
    * of each root SQL execution it ran; its session phase runs from
    * `main`'s entry to its first execution. */
  def batchLayers(runs: Seq[(Long, Long)], hourBytes: Long): Seq[(String, Double, String)] = {
    val session = runs.map { case (entry, exit) =>
      EngineListener.sqlExecutions(entry, exit).headOption.map(e => (e._1 - entry) / 1000.0)
        .getOrElse(0.0)
    }
    val phases = Trace.phaseSeconds(runs, Seq("quality.gate_s", "ingest.silver_s",
        "analytics.gold_s", "analytics.processed_s", "quality.warehouse_s")) { text =>
      if (text.contains("Warehouse$.gatedLoad")) "quality.warehouse_s"
      else if (text.contains("SuiteCompiler$")) "quality.gate_s"
      else if (text.contains("/silver")) "ingest.silver_s"
      else if (text.contains("/processed")) "analytics.processed_s"
      else if (text.contains("/gold")) "analytics.gold_s"
      else "other"
    }
    val e = Trace.engine("batch"); val n = math.max(1, runs.size)
    Seq(("app.batch_session_s", if (session.isEmpty) 0.0 else median(session), "s")) ++
      phases ++ Seq(
      ("sources.bronze_read_ratio", e.inputBytes.toDouble / n / math.max(1L, hourBytes), "ratio"),
      ("engine.batch_jobs", e.jobs.toDouble / n, "count"),
      ("engine.batch_stages", e.stages.toDouble / n, "count"),
      ("engine.batch_task_s", e.taskS / n, "s"),
      ("engine.batch_shuffle_bytes", e.shuffleBytes.toDouble / n, "bytes"),
      ("engine.batch_spill_bytes", e.spillBytes.toDouble / n, "bytes"))
  }
}
