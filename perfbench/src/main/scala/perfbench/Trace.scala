package perfbench

import scala.collection.mutable
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task metrics summed over every task of one job group. */
final class GroupTotals {
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** task durations (ms) per stage, for the skew of the dominant stage */
  val durations = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** max ÷ median task time of the stage with the largest summed task time */
  def taskSkew: Double =
    if (durations.isEmpty) 0.0
    else {
      val ds = durations.values.maxBy(_.sum).sorted
      val median = ds(ds.size / 2)
      if (median <= 0) 1.0 else ds.last.toDouble / median
    }
}

/**
 * Sums task metrics per `setJobGroup` label (the sparkMeasure StageMetrics
 * idea, kept to what the benchmark reports): CPU, shuffle write, disk spill
 * and task times per group, plus task attempts beyond the first over
 * the whole run.
 */
final class JobGroupMetrics extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val totals = mutable.Map.empty[String, GroupTotals]
  private var retries = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => e.stageIds.foreach(stageGroup(_) = g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo.attemptNumber > 0 || e.reason != Success) retries += 1
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val t = totals.getOrElseUpdate(g, new GroupTotals)
      t.cpuNs += m.executorCpuTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.diskBytesSpilled
      t.durations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) +=
        e.taskInfo.duration
    }
  }

  def group(name: String): GroupTotals = synchronized(totals.getOrElse(name, new GroupTotals))

  def taskRetries: Long = synchronized(retries)
}

/** One timed region of a run. `parent` names the enclosing span. */
final case class Span(name: String, runId: String, parent: Option[String],
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * In-memory span recorder. Each span runs under its own Spark job group, so
 * [[JobGroupMetrics]] attributes the span's tasks to it; spans are written
 * out once, at the end of the run.
 */
final class Tracer(sc: SparkContext, val runId: String) {
  val metrics = new JobGroupMetrics
  sc.addSparkListener(metrics)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[String]

  def span[T](name: String)(f: => T): T = {
    val parent = open.headOption
    open = name :: open
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      parent match {
        case Some(p) => sc.setJobGroup(p, p, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      spans += Span(name, runId, parent, t0, t1)
    }
  }

  def get(name: String): Span = spans.find(_.name == name)
    .getOrElse(throw new NoSuchElementException(s"no span $name"))

  /** A span's time minus the time of its direct children. */
  def selfSeconds(name: String): Double =
    get(name).seconds - spans.filter(_.parent.contains(name)).map(_.seconds).sum

  /** Task metrics of a span, once every task-end event has been delivered. */
  def totals(name: String): GroupTotals = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    metrics.group(name)
  }

  def write(path: java.nio.file.Path): Unit = {
    val rows = spans.map { s =>
      val parent = s.parent.map(p => "\"" + p + "\"").getOrElse("null")
      s"""{"name":"${s.name}","run_id":"${s.runId}","parent":$parent,""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s.name)}}"""
    }
    java.nio.file.Files.write(path, rows.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}
