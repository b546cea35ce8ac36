package pipebench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *   Main --workload <event_pipeline|index_serving>
  *        --seed <n> --seconds <s> --trace <0|1> --work <dir> --data <dir> [--tiny]
  *   Main --selftest --work <dir> --data <dir>
  *
  * `--data` holds the serving workload's fixture tables (`Docs`). All
  * outputs go under `--work`. The last line of standard output is the
  * run's result object; the exit code is 1 when a correctness check fails. */
object Main {
  /** Spark cores of every session the benchmark builds (`local[Cores]`). */
  val Cores = 4

  final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: String, data: String, tiny: Boolean)

  /** What a workload hands back: end-to-end metrics (name, value, unit),
    * per-layer metrics, operations attempted, and the check failures (empty
    * when every output is correct). An operation that fails throws and
    * ends the run without a result, so a result's `failed` is always 0. */
  final case class Outcome(endToEnd: Seq[(String, Double, String)],
    perLayer: Seq[(String, Double, String)], attempted: Long, problems: Seq[String])

  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = kv.getOrElse("work", sys.error("--work <dir> is required"))
    val data = kv.getOrElse("data", sys.error("--data <dir> is required"))
    if (argv.contains("--selftest")) {
      val ok = SelfTest.run(work, data)
      println(s"""{"selftest": ${ok}}""")
      sys.exit(if (ok) 0 else 1)
    }
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.getOrElse("trace", "0") == "1", work, data, argv.contains("--tiny"))
    val o = runWorkload(a)
    o.problems.foreach(p => System.err.println(s"[pipebench] CHECK FAILED: $p"))
    val shown = if (!a.trace) o.endToEnd else {
      val got = o.perLayer.map(m => m._1 -> m).toMap
      PerLayer.map { case (n, u) => got.getOrElse(n, (n, 0.0, u)) }
    }
    val metrics = shown.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${o.problems.isEmpty}, "attempted": ${o.attempted}, """ +
      s""""failed": 0, "metrics": {$metrics}}""")
    sys.exit(if (o.problems.isEmpty) 0 else 1)
  }

  /** Every per-layer metric, in the order a traced run prints them; a
    * layer that does no work in a workload reads 0 there. */
  val PerLayer: Seq[(String, String)] = Seq(
    "streaming.latest_offset_ms" -> "ms", "streaming.get_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.triggers" -> "count", "streaming.bronze_files_per_trigger" -> "count",
    "loadgen.lateness_ms" -> "ms",
    "app.batch_session_s" -> "s", "quality.gate_s" -> "s", "ingest.silver_s" -> "s",
    "analytics.gold_s" -> "s", "analytics.processed_s" -> "s", "quality.warehouse_s" -> "s",
    "sources.bronze_read_ratio" -> "ratio", "engine.batch_jobs" -> "count",
    "engine.batch_stages" -> "count", "engine.batch_task_s" -> "s",
    "engine.batch_shuffle_bytes" -> "bytes", "engine.batch_spill_bytes" -> "bytes",
    "text.index_build_s" -> "s", "text.phrase_index_build_s" -> "s",
    "text.doc_store_build_s" -> "s", "vector.cell_index_build_s" -> "s",
    "text.phrase_ms" -> "ms", "text.bool_ms" -> "ms", "text.proximity_ms" -> "ms",
    "text.fetch_ms" -> "ms", "vector.ann_ms" -> "ms", "versions.resolve_ms" -> "ms",
    "engine.jobs_per_page" -> "count", "engine.stages_per_page" -> "count",
    "engine.input_bytes_per_page" -> "bytes", "engine.task_share" -> "ratio",
    "engine.fold_jobs" -> "count", "app.apply_batch_s" -> "s",
    "text.first_page_after_fold_ms" -> "ms", "engine.first_page_jobs" -> "count")

  def runWorkload(a: Args): Outcome = {
    Trace.on = a.trace
    if (a.trace) System.setProperty("spark.extraListeners", classOf[EngineListener].getName)
    a.workload match {
      case "event_pipeline"  => EventPipeline.run(a)
      case "index_serving"   => IndexServing.run(a)
      case w => sys.error(s"unknown workload '$w'")
    }
  }

  /** Seconds from this JVM's start to now. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  private val started = Steal.mark()

  /** The run's cold set-up time when read just before the first timed
    * operation: seconds since the JVM started, scaled to the CPU time not
    * stolen since. */
  def setupSeconds(): Double = sinceJvmStart() * (1 - Steal.share(started, Steal.mark()))

  def session(): SparkSession = graft.app.Jobs.session("pipebench", s"local[$Cores]")

  /** Every memo the program keeps per session, and the blocks they retain,
    * released the way `graft.Bench` releases them between passes (never a
    * blanket unpersist: memo-retained blocks have truncated lineage). */
  def evictAll(spark: SparkSession): Unit = {
    graft.text.Dedup.evictMemos(spark)
    graft.vector.Similarity.evictMemos(spark)
    graft.text.TextIndex.evictMemos(spark)
    graft.text.DocStore.evictMemos(spark)
    graft.vector.CellIndex.evictMemos(spark)
    graft.Checkpoints.evictSessionMemos(spark)
    graft.Checkpoints.sweepExceptRetained(spark.sparkContext)
  }

  /** A progress line on standard error, stamped with seconds since the
    * JVM started. */
  def log(msg: String): Unit = System.err.println(f"[pipebench ${sinceJvmStart()}%7.2f s] $msg")

  /** Settles the heap between timed regions. */
  def quiesce(): Unit = { System.gc(); Thread.sleep(50) }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L) else f.length()
    walk(new java.io.File(path))
  }
}
