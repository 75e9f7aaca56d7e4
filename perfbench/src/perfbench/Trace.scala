package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A timed interval of one operation: `parent` is the enclosing span's id,
  * or -1 for the operation's root span. Times are epoch milliseconds, the
  * clock Spark stamps its task events with. */
final case class Span(id: Int, name: String, op: Int, parent: Int, startMs: Double,
    var endMs: Double = Double.NaN) {
  def ms: Double = endMs - startMs
}

/** Spark's counters for the work one span caused. */
final class Counters {
  var jobs, tasks, inputBytes, outputBytes, outputRows = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes, gcMs, runMs = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def +=(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; inputBytes += o.inputBytes
    outputBytes += o.outputBytes; outputRows += o.outputRows
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; gcMs += o.gcMs; runMs += o.runMs
    taskIntervals ++= o.taskIntervals
  }

  /** Milliseconds of [from, to] during which at least one task ran. */
  def busyMs(from: Double, to: Double): Double = {
    var covered = 0.0
    var end = from
    taskIntervals.map { case (a, b) => (math.max(a.toDouble, from), math.min(b.toDouble, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    covered
  }
}

/** Records spans around the benchmark's calls into the program and, through
  * a SparkListener attached while a traced operation runs, the jobs, tasks
  * and bytes each span caused. A span's id
  * travels to Spark as a thread-local property, so jobs started from other
  * threads on the span's behalf (broadcasts, adaptive stages) are counted
  * against it too. Everything is kept in memory until the run ends. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Key = "perfbench.span"
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val counters = mutable.HashMap.empty[Int, Counters]

  def begin(name: String, op: Int): Span = {
    val s = Span(spans.size, name, op, open.headOption.map(_.id).getOrElse(-1), nowMs)
    spans += s
    open = s :: open
    sc.setLocalProperty(Key, s.id.toString)
    s
  }

  def end(): Unit = {
    open.head.endMs = nowMs
    open = open.tail
    sc.setLocalProperty(Key, open.headOption.map(_.id.toString).orNull)
  }

  def span[T](name: String, op: Int)(body: => T): T = {
    begin(name, op)
    try body finally end()
  }

  /** Ends the innermost span and opens a sibling named `name`. */
  def next(name: String, op: Int): Unit = { end(); begin(name, op) }

  def attach(): Unit = sc.addSparkListener(this)

  /** Delivers every pending listener event, then detaches the listener. */
  def detach(): Unit = {
    org.apache.spark.ListenerDrain(sc)
    sc.removeSparkListener(this)
  }

  /** Counters of `span` and everything nested in it. */
  def countersOf(span: Span): Counters = synchronized {
    val out = new Counters
    def add(id: Int): Unit = {
      counters.get(id).foreach(out += _)
      spans.iterator.filter(_.parent == id).foreach(c => add(c.id))
    }
    add(span.id)
    out
  }

  def children(span: Span): Seq[Span] = spans.filter(_.parent == span.id).toSeq

  /** Span duration minus the part its children cover. */
  def selfMs(span: Span): Double = span.ms - children(span).map(_.ms).sum

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Key))).map(_.toInt)

  private def acc(id: Int): Counters = counters.getOrElseUpdate(id, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { id =>
      acc(id).jobs += 1
      e.stageIds.foreach(stageSpan(_) = id)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    spanOf(e.properties).foreach(stageSpan(e.stageInfo.stageId) = _)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = acc(id)
      c.tasks += 1
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRows += m.outputMetrics.recordsWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.gcMs += m.jvmGCTime
      c.runMs += m.executorRunTime
      c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }

  /** Every span as a JSON-ready map, with its self time. */
  def spanRecords: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> selfMs(s))
  }
}
