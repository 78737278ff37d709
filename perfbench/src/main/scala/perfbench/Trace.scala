package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Spark work attributed to one span (its own jobs only, not its children's). */
final class SparkWork {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var cpuNs = 0L; var gcMs = 0L
  var fileInputBytes = 0L; var cacheReadBytes = 0L
  var shuffleWriteBytes = 0L; var spillBytes = 0L
  var outputBytes = 0L

  def add(o: SparkWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; gcMs += o.gcMs
    fileInputBytes += o.fileInputBytes; cacheReadBytes += o.cacheReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    outputBytes += o.outputBytes
  }
}

/** Attributes Spark jobs, stages and task metrics to spans through the job
  * group the tracer sets for each span (`span-<id>`). Jobs outside any span
  * are ignored. Input of a stage whose lineage holds a persisted RDD that an
  * earlier stage filled counts as cache reads; any other input as file bytes. */
final class SpanListener extends SparkListener {
  private val work = new ConcurrentHashMap[Int, SparkWork]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageReadsCache = new ConcurrentHashMap[Int, java.lang.Boolean]()
  private val materialized = ConcurrentHashMap.newKeySet[Int]() // persisted RDDs a stage has filled

  private def of(span: Int): SparkWork = work.computeIfAbsent(span, _ => new SparkWork)

  def workOf(span: Int): SparkWork = Option(work.get(span)).getOrElse(new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith("span-")).foreach { g =>
      val span = g.stripPrefix("span-").toInt
      e.stageInfos.foreach(si => stageSpan.put(si.stageId, span))
      val w = of(span)
      w.synchronized { w.jobs += 1 }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    stageReadsCache.put(id, e.stageInfo.rddInfos.exists(r => materialized.contains(r.id)))
    Option(stageSpan.get(id)).foreach { span =>
      val w = of(span)
      w.synchronized { w.stages += 1 }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    e.stageInfo.rddInfos.filter(_.storageLevel.isValid).foreach(r => materialized.add(r.id))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val m = e.taskMetrics
      val w = of(span)
      w.synchronized {
        w.tasks += 1
        if (m != null) {
          w.cpuNs += m.executorCpuTime
          w.gcMs += m.jvmGCTime
          if (java.lang.Boolean.TRUE == stageReadsCache.get(e.stageId))
            w.cacheReadBytes += m.inputMetrics.bytesRead
          else w.fileInputBytes += m.inputMetrics.bytesRead
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          w.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
}

final case class Span(id: Int, name: String, request: String, parent: Int,
                      startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. A span wraps one call into a layer from the
  * benchmark's own code; spans of one job or append share a request id.
  * Spark work under a span is attributed through [[SpanListener]]. */
final class Tracer(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  val listener = new SpanListener
  spark.sparkContext.addSparkListener(listener)

  def span[A](name: String, request: String)(f: => A): A = {
    val sc = spark.sparkContext
    val s = Span(spans.size, name, request, open.headOption.fold(-1)(_.id), System.nanoTime())
    spans += s
    open = s :: open
    sc.setJobGroup(s"span-${s.id}", name)
    try f
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Spark work of a span and all its descendants. */
  def inclusive(s: Span): SparkWork = {
    org.apache.spark.SparkInternals.drain(spark.sparkContext)
    val total = new SparkWork
    def walk(x: Span): Unit = {
      total.add(listener.workOf(x.id))
      spans.filter(_.parent == x.id).foreach(walk)
    }
    walk(s)
    total
  }

  /** Self time: the span's duration minus the time its children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)

  def toJson: String = {
    def esc(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
    val t0 = spans.headOption.fold(0L)(_.startNs)
    spans.map { s =>
      val w = inclusive(s)
      f"""{"id":${s.id},"name":"${esc(s.name)}","request":"${esc(s.request)}",""" +
        f""""parent":${s.parent},"start_s":${(s.startNs - t0) / 1e9}%.6f,""" +
        f""""end_s":${(s.endNs - t0) / 1e9}%.6f,"self_s":${selfSeconds(s)}%.6f,""" +
        s""""jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks},""" +
        s""""cpu_ns":${w.cpuNs},"file_input_bytes":${w.fileInputBytes},""" +
        s""""cache_read_bytes":${w.cacheReadBytes},"shuffle_write_bytes":${w.shuffleWriteBytes},""" +
        s""""spill_bytes":${w.spillBytes},"gc_ms":${w.gcMs},"output_bytes":${w.outputBytes}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
