package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work attributed to one span: the sums of the task metrics of
  * every job that ran while the span was the innermost open one. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var bytesRead = 0L
  var bytesWritten = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskNs += o.taskNs; gcMs += o.gcMs; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes; recordsRead += o.recordsRead
    bytesRead += o.bytesRead; bytesWritten += o.bytesWritten
  }
}

/** One timed region of the benchmark's own code. */
final case class Span(id: Int, name: String, parent: Int, request: Int,
    startNs: Long, var endNs: Long = -1L) {
  def ns: Long = endNs - startNs
}

/** In-memory span recorder for the traced run. Each span runs its body
  * under a Spark job group naming the span, and a listener adds the
  * work of that group's jobs to the span's [[Counts]]. A disabled
  * tracer runs bodies bare: no job group, no listener. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = new java.util.concurrent.ConcurrentHashMap[Int, Counts]()
  private var open: List[Int] = Nil
  private val GroupPrefix = "perfbench-span-"
  /** Spans are recorded only while set: during the traced operations. */
  var recording = false

  private object Listener extends SparkListener {
    private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    private def countsOf(span: Int): Counts =
      counts.computeIfAbsent(span, _ => new Counts)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      group.filter(_.startsWith(GroupPrefix)).foreach { g =>
        val span = g.stripPrefix(GroupPrefix).toInt
        e.stageIds.foreach(stageSpan.put(_, span))
        val c = countsOf(span)
        c.synchronized { c.jobs += 1 }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { span =>
        val c = countsOf(span)
        c.synchronized { c.stages += 1 }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { span =>
        val m = e.taskMetrics
        val c = countsOf(span)
        if (m != null) c.synchronized {
          c.tasks += 1
          c.taskNs += m.executorRunTime * 1000000L
          c.gcMs += m.jvmGCTime
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
          c.recordsRead += m.inputMetrics.recordsRead
          c.bytesRead += m.inputMetrics.bytesRead
          c.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
  }

  if (enabled) sc.addSparkListener(Listener)

  private def setGroup(span: Option[Int]): Unit = span match {
    case Some(id) => sc.setJobGroup(GroupPrefix + id, spans(id).name)
    case None => sc.clearJobGroup()
  }

  /** Run `body` as a span named `name`; `request` tags serve requests
    * (-1 elsewhere). */
  def span[T](name: String, request: Int = -1)(body: => T): T =
    if (!enabled || !recording) body
    else {
      val id = spans.size
      spans += Span(id, name, open.headOption.getOrElse(-1), request,
        System.nanoTime())
      open = id :: open
      setGroup(Some(id))
      try body
      finally {
        spans(id).endNs = System.nanoTime()
        open = open.tail
        setGroup(open.headOption)
      }
    }

  /** Deliver queued listener events; call before reading counts. */
  def drain(): Unit = if (enabled) org.apache.spark.ListenerBusDrain(sc)

  /** Work of span `id` itself (jobs that ran while it was innermost). */
  def selfCounts(id: Int): Counts = Option(counts.get(id)).getOrElse(new Counts)

  /** Work of span `id` and every span nested in it. */
  def totalCounts(id: Int): Counts = {
    val t = new Counts
    t.add(selfCounts(id))
    spans.iterator.filter(_.parent == id).foreach(c => t.add(totalCounts(c.id)))
    t
  }

  /** Duration minus the time covered by direct child spans. */
  def selfNs(id: Int): Long =
    spans(id).ns - spans.iterator.filter(_.parent == id).map(_.ns).sum

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Total seconds over every span named `name`. */
  def seconds(name: String): Double = named(name).map(_.ns).sum / 1e9

  /** Summed counts (span plus nested spans) over every span named `name`. */
  def countsOf(name: String): Counts = {
    val t = new Counts
    named(name).foreach(s => t.add(totalCounts(s.id)))
    t
  }

  /** All spans, one JSON object a line, with self time and own counts. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val c = selfCounts(s.id)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""request":${s.request},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"self_ns":${selfNs(s.id)},""" +
        s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        s""""task_ns":${c.taskNs},"gc_ms":${c.gcMs},""" +
        s""""shuffle_bytes":${c.shuffleBytes},"spill_bytes":${c.spillBytes},""" +
        s""""records_read":${c.recordsRead},"bytes_read":${c.bytesRead},""" +
        s""""bytes_written":${c.bytesWritten}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("\n").getBytes("UTF-8"))
  }
}
