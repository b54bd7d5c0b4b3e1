package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** Layer totals of one step, summed over its public calls in one unit
  * (a cycle or a read round). Times in seconds.
  */
final case class StepStats(
    wall: Double = 0, job: Double = 0, plan: Double = 0, cpu: Double = 0,
    jobs: Long = 0, bytesRead: Long = 0, recordsRead: Long = 0,
    bytesWritten: Long = 0, recordsWritten: Long = 0, shuffle: Long = 0,
    spill: Long = 0, fsCalls: Long = 0, fsList: Long = 0, fsS: Double = 0,
    rowsIn: Long = 0, rowsOut: Long = 0) {
  def +(o: StepStats): StepStats = StepStats(wall + o.wall, job + o.job,
    plan + o.plan, cpu + o.cpu, jobs + o.jobs, bytesRead + o.bytesRead,
    recordsRead + o.recordsRead, bytesWritten + o.bytesWritten,
    recordsWritten + o.recordsWritten, shuffle + o.shuffle, spill + o.spill,
    fsCalls + o.fsCalls, fsList + o.fsList, fsS + o.fsS, rowsIn + o.rowsIn,
    rowsOut + o.rowsOut)
  def scale(f: Double): StepStats = StepStats(wall * f, job * f, plan * f,
    cpu * f, math.round(jobs * f), math.round(bytesRead * f),
    math.round(recordsRead * f), math.round(bytesWritten * f),
    math.round(recordsWritten * f), math.round(shuffle * f),
    math.round(spill * f), math.round(fsCalls * f), math.round(fsList * f),
    fsS * f, math.round(rowsIn * f), math.round(rowsOut * f))
}

/** A unit span (cycle or read round) and the step spans under it — one
  * per public call. Times are epoch milliseconds with sub-ms precision.
  */
final case class UnitSpan(index: Int, traced: Boolean, t0: Double, t1: Double) {
  def wall: Double = (t1 - t0) / 1000.0
}
final case class StepSpan(unit: Int, step: String, t0: Double, t1: Double,
    fsCalls: Long, fsList: Long, fsNanos: Long, rowsIn: Long, rowsOut: Long)

/** Spans are always recorded (they give the end-to-end timings); the
  * Spark listeners and file-system counting are attached only to traced
  * units of a traced run.
  */
final class Tracer(spark: SparkSession, tracedRun: Boolean) {
  private val ms0 = System.currentTimeMillis().toDouble
  private val ns0 = System.nanoTime()
  def nowMs(): Double = ms0 + (System.nanoTime() - ns0) / 1e6

  val units = ArrayBuffer[UnitSpan]()
  val steps = ArrayBuffer[StepSpan]()
  private var current: Option[Int] = None
  private val layers = new LayerListener

  /** In a traced run the `traceable` units are traced and the rest give
    * the untraced reference for `trace_overhead`; warm-up units
    * (`index` < 0) never are.
    */
  def unit[A](index: Int, traceable: Boolean)(body: => A): A = {
    val traced = tracedRun && traceable && index >= 0
    if (traced) {
      spark.sparkContext.addSparkListener(layers)
      spark.listenerManager.register(layers)
      CountingFs.enabled = true
    }
    current = Some(index)
    val t0 = nowMs()
    try body
    finally {
      units += UnitSpan(index, traced, t0, nowMs())
      current = None
      if (traced) {
        CountingFs.enabled = false
        org.apache.spark.perfbench.Drain(spark.sparkContext)
        spark.listenerManager.unregister(layers)
        spark.sparkContext.removeSparkListener(layers)
      }
    }
  }

  /** A span around one public call. `body` returns its result and the
    * rows it returned (read steps) — `rowsIn` is the rows it was given.
    */
  def step[A](name: String, rowsIn: Long = 0)(body: => (A, Long)): A = {
    val u = current.getOrElse(sys.error(s"step $name outside a unit"))
    val (c0, l0, n0) = CountingFs.snapshot()
    val t0 = nowMs()
    var out = 0L
    try { val (a, rows) = body; out = rows; a }
    finally {
      val t1 = nowMs()
      val (c1, l1, n1) = CountingFs.snapshot()
      steps += StepSpan(u, name, t0, t1, c1 - c0, l1 - l0, n1 - n0, rowsIn, out)
    }
  }

  /** Layer totals of each step over the traced units: one sample per
    * unit (the sum of the step's calls in it), or one per call for the
    * steps in `perCall`.
    */
  def stepStats(perCall: Set[String]): Map[String, Seq[StepStats]] = {
    val traced = units.filter(_.traced).map(_.index).toSet
    steps.zipWithIndex.filter(x => traced(x._1.unit)).toSeq
      .map { case (s, i) => ((s.unit, if (perCall(s.step)) i else -1), s.step, layers.statsOf(s)) }
      .groupBy(_._2).map { case (step, xs) =>
        step -> xs.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._3).reduce(_ + _))
      }
  }
}

/** Jobs, stages, task metrics and planning phases, attributed to step
  * spans by time after the listener bus has drained.
  */
final class LayerListener extends SparkListener with QueryExecutionListener {
  private final case class Job(start: Long, var end: Long)
  // cpu ns, bytes read, records read, bytes written, records written,
  // shuffle bytes, spill bytes
  private val jobs = scala.collection.mutable.Map[Int, Job]()
  private val stageJob = scala.collection.mutable.Map[Int, Int]()
  private val stageAgg = scala.collection.mutable.Map[Int, Array[Long]]()
  private val plans = ArrayBuffer[(Long, Long)]() // (last phase end, planning ms)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.time, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageAgg.getOrElseUpdate(e.stageId, new Array[Long](7))
      a(0) += m.executorCpuTime
      a(1) += m.inputMetrics.bytesRead
      a(2) += m.inputMetrics.recordsRead
      a(3) += m.outputMetrics.bytesWritten
      a(4) += m.outputMetrics.recordsWritten
      a(5) += m.shuffleWriteMetrics.bytesWritten
      a(6) += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty) synchronized {
      plans += ((ph.map(_.endTimeMs).max, ph.map(_.durationMs).sum))
    }
  }

  def statsOf(s: StepSpan): StepStats = synchronized {
    val in = jobs.filter { case (_, j) => j.start >= math.floor(s.t0) && j.start <= s.t1 }
    val agg = new Array[Long](7)
    stageJob.foreach { case (st, j) =>
      if (in.contains(j)) stageAgg.get(st).foreach(a => a.indices.foreach(i => agg(i) += a(i)))
    }
    // wall covered by any job, clipped to the span
    val iv = jobs.values.map(j => (math.max(j.start.toDouble, s.t0), math.min(j.end.toDouble, s.t1)))
      .filter(x => x._2 > x._1).toSeq.sortBy(_._1)
    var covered = 0.0
    var reach = s.t0
    iv.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    val plan = plans.filter(p => p._1 >= math.floor(s.t0) && p._1 <= s.t1).map(_._2).sum
    val wall = (s.t1 - s.t0) / 1000.0
    StepStats(wall = wall, job = covered / 1000.0, plan = plan / 1000.0,
      cpu = agg(0) / 1e9, jobs = in.size.toLong, bytesRead = agg(1),
      recordsRead = agg(2), bytesWritten = agg(3), recordsWritten = agg(4),
      shuffle = agg(5), spill = agg(6), fsCalls = s.fsCalls, fsList = s.fsList,
      fsS = s.fsNanos / 1e9, rowsIn = s.rowsIn, rowsOut = s.rowsOut)
  }
}
