package pipebench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** The traced run's in-memory record: named spans timed around calls into
  * the program, named scopes (wall-clock intervals) that engine events are
  * attributed to by their submission time, and the engine's own counts
  * from [[EngineListener]]. Nothing is recorded unless `on`; everything is
  * read once, at the end of the run. */
object Trace {
  @volatile var on = false

  private val spans = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val scopes = mutable.ArrayBuffer[(String, Long, Long)]()

  /** Times `f` as one sample of span `name` (seconds). */
  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val t0 = System.nanoTime()
      try f finally add(name, (System.nanoTime() - t0) / 1e9)
    }

  def add(name: String, v: Double): Unit = synchronized {
    spans.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
  }

  def samples(name: String): Seq[Double] = synchronized {
    spans.get(name).map(_.toSeq).getOrElse(Nil)
  }

  /** Runs `f` inside scope `name`: engine jobs submitted meanwhile count
    * towards it. Scopes of one name may repeat; they must not overlap
    * scopes of another name. */
  def scope[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val s = System.currentTimeMillis()
      try f finally synchronized { scopes += ((name, s, System.currentTimeMillis())) }
    }

  def scopeOf(timeMs: Long): Option[String] = synchronized {
    scopes.find { case (_, s, e) => timeMs >= s && timeMs <= e }.map(_._1)
  }

  /** Engine totals of one scope. */
  final case class Engine(jobs: Int, stages: Int, taskS: Double,
    shuffleBytes: Long, spillBytes: Long, inputBytes: Long)

  def engine(scopeName: String): Engine = EngineListener.totals(scopeOf)
    .getOrElse(scopeName, Engine(0, 0, 0.0, 0L, 0L, 0L))

  /** Seconds each phase of a call spent in SQL executions, median over
    * the calls: `runs` are the calls' (entry, exit) wall times, `phase`
    * names an execution's phase from its call site and plan text. */
  def phaseSeconds(runs: Seq[(Long, Long)], names: Seq[String])(
      phase: String => String): Seq[(String, Double, String)] = {
    val per = runs.map { case (entry, exit) =>
      EngineListener.sqlExecutions(entry, exit).groupBy(e => phase(e._3))
        .map { case (k, v) => k -> v.map(e => (e._2 - e._1) / 1000.0).sum }
    }
    names.map(k => (k, if (per.isEmpty) 0.0 else Main.median(per.map(_.getOrElse(k, 0.0))), "s"))
  }
}

/** Engine counts per job and stage. Registered through
  * `spark.extraListeners`, so every SparkContext of the run, including the
  * ones `BatchJob.main` builds and stops itself, reports into the same
  * global record. */
class EngineListener extends SparkListener {
  import EngineListener._

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += e.time
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(ctxKey(s), e.jobId -> e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages += StageRow(ctxKey(i.stageId),
      m.executorRunTime / 1000.0,
      m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart
        if s.rootExecutionId.forall(_ == s.executionId) => synchronized {
      sqlStart(ctxKey(s.executionId.toInt)) =
        (s.time, s.details + "\n" + s.physicalPlanDescription)
    }
    case x: SparkListenerSQLExecutionEnd => synchronized {
      sqlEnd(ctxKey(x.executionId.toInt)) = x.time
    }
    case _ =>
  }

  // stage, job and execution ids restart in every SparkContext
  private val context = EngineListener.synchronized { contexts += 1; contexts }
  private def ctxKey(id: Int): (Int, Int) = (context, id)
  private def synchronized[T](f: => T): T = EngineListener.synchronized(f)
}

object EngineListener {
  private final case class StageRow(key: (Int, Int), taskS: Double,
    shuffle: Long, spill: Long, input: Long)
  private val jobs = mutable.ArrayBuffer[Long]() // submission times
  private val stageJob = mutable.HashMap[(Int, Int), (Int, Long)]()
  private val stages = mutable.ArrayBuffer[StageRow]()
  private val sqlStart = mutable.HashMap[(Int, Int), (Long, String)]()
  private val sqlEnd = mutable.HashMap[(Int, Int), Long]()
  private var contexts = 0

  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    if (Trace.on && !spark.sparkContext.isStopped)
      org.apache.spark.PipebenchBus.drain(spark.sparkContext)

  /** Totals per scope name, jobs attributed by submission time. */
  def totals(scopeOf: Long => Option[String]): Map[String, Trace.Engine] =
    EngineListener.synchronized {
      val jobCount = jobs.flatMap(scopeOf)
        .groupBy(identity).map { case (k, v) => k -> v.size }
      val stagesBy = stages
        .flatMap(r => stageJob.get(r.key).flatMap(j => scopeOf(j._2)).map(_ -> r))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      (jobCount.keySet ++ stagesBy.keySet).map { name =>
        val xs = stagesBy.getOrElse(name, Nil)
        name -> Trace.Engine(jobCount.getOrElse(name, 0), xs.size,
          xs.map(_.taskS).sum, xs.map(_.shuffle).sum, xs.map(_.spill).sum,
          xs.map(_.input).sum)
      }.toMap
    }

  /** Root SQL executions that started inside `[fromMs, toMs]`: (start,
    * end, call site and physical plan text). */
  def sqlExecutions(fromMs: Long, toMs: Long): Seq[(Long, Long, String)] =
    EngineListener.synchronized {
      sqlStart.toSeq.collect {
        case (k, (s, text)) if s >= fromMs && s <= toMs && sqlEnd.contains(k) =>
          (s, sqlEnd(k), text)
      }.sortBy(_._1)
    }
}
