package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.{ListenerBusAccess, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A timed interval. `tag` names the request kind the span belongs to
  * (`route`, `cycle`, `entry:<name>`), `req` the request. Times are
  * nanoseconds on the tracer's clock. */
final case class Span(id: Long, parent: Long, name: String, req: Long,
    tag: String, startNs: Long, endNs: Long)

/** Spark work attributed to one request tag. */
final class SparkWork {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, shuffleWrite, shuffleRead, spill, gcMs = 0L
  def add(o: SparkWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; gcMs += o.gcMs
  }
}

/** Streaming progress summed over every query of the run. */
final class StreamWork {
  var batches, commitMs, stateRows, stateMem = 0L
}

/** Spans around every benchmark-to-module call, plus the Spark and
  * streaming listeners that attribute jobs, stages and tasks to the
  * calling span. Spark jobs find their span through thread-local
  * properties set on the submitting thread. When off, `span` only runs
  * its body and nothing is recorded. Spans stay in memory until `dump`. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  @volatile private var on = false
  private val ids = new AtomicLong()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  private def sc: SparkContext = spark.sparkContext

  private val work = new java.util.concurrent.ConcurrentHashMap[String, SparkWork]()
  val streams = new StreamWork
  private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val jobOpen = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long, String, Long)]()

  private def workFor(tag: String): SparkWork = work.computeIfAbsent(tag, _ => new SparkWork)
  private def msToNs(ms: Long): Long = (ms - t0Ms) * 1000000L + t0Ns

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val parent = p.flatMap(x => Option(x.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
      val req = p.flatMap(x => Option(x.getProperty(ReqProp))).map(_.toLong).getOrElse(0L)
      val tag = p.flatMap(x => Option(x.getProperty(TagProp))).getOrElse("other")
      val id = ids.incrementAndGet()
      jobOpen.put(e.jobId, (id, parent, req, tag, msToNs(e.time)))
      e.stageIds.foreach(s => stageTag.put(s, (tag, id)))
      workFor(tag).synchronized { workFor(tag).jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobOpen.remove(e.jobId)).foreach { case (id, parent, req, tag, start) =>
        spans.add(Span(id, parent, "spark.job", req, tag, start, msToNs(e.time)))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val (tag, job) = Option(stageTag.get(info.stageId)).getOrElse(("other", 0L))
      val w = workFor(tag)
      w.synchronized { w.stages += 1 }
      for (s <- info.submissionTime; c <- info.completionTime)
        spans.add(Span(ids.incrementAndGet(), job, "spark.stage", 0L, tag, msToNs(s), msToNs(c)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val tag = Option(stageTag.get(e.stageId)).map(_._1).getOrElse("other")
      val w = workFor(tag)
      val m = e.taskMetrics
      w.synchronized {
        w.tasks += 1
        if (m != null) {
          w.runMs += m.executorRunTime
          w.cpuNs += m.executorCpuTime
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          w.gcMs += m.jvmGCTime
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      streams.synchronized {
        streams.batches += 1
        e.progress.stateOperators.foreach { s =>
          streams.commitMs += s.commitTimeMs
          streams.stateRows = math.max(streams.stateRows, s.numRowsTotal)
          streams.stateMem = math.max(streams.stateMem, s.memoryUsedBytes)
        }
      }
  }

  def start(): Unit = if (!on) {
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  /** Stops recording and waits until every queued listener event has
    * been delivered, so the counters are complete. */
  def stop(): Unit = if (on) {
    on = false
    ListenerBusAccess.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  /** Root span of one request of kind `tag`. */
  def request[A](name: String, tag: String)(body: => A): A =
    if (!on) body else run(name, tag, ids.incrementAndGet(), 0L)(body)

  /** Child span of the calling thread's current span. */
  def span[A](name: String)(body: => A): A =
    if (!on) body
    else stack.get match {
      case top :: _ => run(name, top.tag, top.req, top.id)(body)
      case Nil => run(name, "other", 0L, 0L)(body)
    }

  private def run[A](name: String, tag: String, req: Long, parent: Long)(body: => A): A = {
    val id = ids.incrementAndGet()
    val saved = stack.get
    val open = Span(id, parent, name, if (req == 0L) id else req, tag, System.nanoTime(), 0L)
    stack.set(open :: saved)
    setProps(open)
    try body
    finally {
      spans.add(open.copy(endNs = System.nanoTime()))
      stack.set(saved)
      saved.headOption match {
        case Some(s) => setProps(s)
        case None => Seq(SpanProp, ReqProp, TagProp).foreach(sc.setLocalProperty(_, null))
      }
    }
  }

  private def setProps(s: Span): Unit = {
    sc.setLocalProperty(SpanProp, s.id.toString)
    sc.setLocalProperty(ReqProp, s.req.toString)
    sc.setLocalProperty(TagProp, s.tag)
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Spark work of every tag accepted by `keep`, summed. */
  def sparkWork(keep: String => Boolean): SparkWork = {
    val out = new SparkWork
    work.asScala.foreach { case (t, w) => if (keep(t)) w.synchronized(out.add(w)) }
    out
  }

  /** Self time per layer: each span's duration minus the part of it its
    * children cover, summed by layer (the span name up to its first dot;
    * Spark jobs and stages are their own layers). */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(layerOf).map { case (layer, group) =>
      layer -> group.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a })
        (s.endNs - s.startNs - covered).toDouble / 1e9
      }.sum
    }
  }

  /** Writes every span as one JSON line. */
  def dump(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","req":${s.req},""" +
        s""""tag":"${s.tag}","start_us":${(s.startNs - t0Ns) / 1000},"end_us":${(s.endNs - t0Ns) / 1000}}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val ReqProp = "perfbench.req"
  val TagProp = "perfbench.tag"
  val Layers: Seq[String] = Seq("bench", "catalog", "analytics", "spark.job", "spark.stage")

  def layerOf(s: Span): String =
    if (s.name.startsWith("spark.")) s.name else s.name.takeWhile(_ != '.')

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
