package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded by the benchmark around its calls into the program's
  * layers, plus a `SparkListener` that turns Spark jobs into child
  * records of those spans.
  *
  * A span opens a job group (`pb-<span id>`) on its thread and restores
  * the caller's group when it closes, so every job a layer call submits
  * carries the span's id. Attribution is decided after the run, from the
  * job's group and start time (see metrics.py): a job whose group names
  * no span that was open when the job started is reported as
  * unattributed, never folded into a layer.
  *
  * With `enabled = false` no span is opened and no job group is set; the
  * listener still records jobs, because the untraced end-to-end metrics
  * need the run's shuffle bytes. */
final class Tracer(sc: SparkContext, val enabled: Boolean)
    extends SparkListener {
  import Tracer._

  private val t0 = System.nanoTime()
  def now(): Double = (System.nanoTime() - t0) / 1e9

  private val nextId = new AtomicInteger(1)
  private val spans = new ConcurrentHashMap[Int, Span]()
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageAcc = new ConcurrentHashMap[Int, StageAcc]()
  // bytes of every live persisted or checkpointed RDD block, as the
  // block manager reports them; the listener bus delivers on one thread
  private val blockBytes = mutable.Map.empty[String, Long]
  private var storageNow = 0L
  private var storagePeak = 0L

  sc.addSparkListener(this)

  /** The innermost open span on this thread (0 = none). */
  def current: Int = stack.get.headOption.getOrElse(0)

  /** Run `body` inside span `name`. `parent` overrides the thread's
    * current span: pool threads (`Overlap.both`) start with an empty
    * stack, so callers pass the span that caused the work. */
  def span[T](trace: String, name: String, parent: Int = -1)
             (body: Span => T): T = {
    if (!enabled) return body(null)
    val p = if (parent >= 0) parent else current
    val s = Span(nextId.getAndIncrement(), p, trace, name, now(),
      System.currentTimeMillis())
    spans.put(s.id, s)
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.jobGroup.id", s"pb-${s.id}")
    sc.setLocalProperty("spark.job.description", name)
    stack.set(s.id :: stack.get)
    try body(s)
    finally {
      s.end = now(); s.endMs = System.currentTimeMillis()
      stack.set(stack.get.drop(1))
      sc.setLocalProperty("spark.jobGroup.id", prevGroup)
      sc.setLocalProperty("spark.job.description", prevDesc)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    jobs.put(e.jobId, Job(e.jobId, group, e.time))
    e.stageIds.foreach(sid => stageJob.putIfAbsent(sid, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val acc = stageAcc.computeIfAbsent(e.stageId, _ => new StageAcc)
    acc.synchronized {
      acc.tasks += 1
      if (e.taskInfo != null && e.taskInfo.failed) acc.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        acc.cpuNs += m.executorCpuTime
        acc.runMs += m.executorRunTime
        acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        acc.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) synchronized {
      val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      storageNow += size - blockBytes.getOrElse(b.blockId.name, 0L)
      if (size == 0L) blockBytes.remove(b.blockId.name)
      else blockBytes(b.blockId.name) = size
      storagePeak = math.max(storagePeak, storageNow)
    }
  }

  /** Peak bytes of persisted and checkpointed RDD blocks since the last
    * call. A cache created and dropped inside one op still counts. */
  def takeStoragePeak(): Long = {
    drain()
    synchronized {
      val p = storagePeak
      storagePeak = storageNow
      p
    }
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Shuffle bytes written by every job recorded so far. */
  def shuffleBytes(): Long = {
    drain()
    stageAcc.values.asScala.map(a => a.synchronized(a.shuffleWrite)).sum
  }

  def spansJson: Seq[String] = spans.values.asScala.toSeq.sortBy(_.id).map {
    s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
        .mkString("{", ",", "}")
      s"""{"id":${s.id},"parent":${s.parent},"trace":${Json.str(s.trace)},""" +
        s""""name":${Json.str(s.name)},"start":${Json.num(s.start)},""" +
        s""""end":${Json.num(s.end)},"start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"attrs":$attrs}"""
  }

  def jobsJson: Seq[String] = {
    drain()
    val perJob = mutable.Map.empty[Int, StageAcc]
    stageAcc.asScala.foreach { case (sid, a) =>
      Option(stageJob.get(sid)).foreach { jid =>
        val t = perJob.getOrElseUpdate(jid, new StageAcc)
        a.synchronized {
          t.tasks += a.tasks; t.failed += a.failed; t.cpuNs += a.cpuNs
          t.runMs += a.runMs; t.shuffleWrite += a.shuffleWrite
          t.spill += a.spill; t.recordsRead += a.recordsRead
        }
      }
    }
    jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      val a = perJob.getOrElse(j.id, new StageAcc)
      s"""{"id":${j.id},"group":${Json.str(j.group)},""" +
        s""""start_ms":${j.startMs},"end_ms":${j.endMs},"ok":${j.ok},""" +
        s""""tasks":${a.tasks},"failed_tasks":${a.failed},""" +
        s""""cpu_s":${Json.num(a.cpuNs / 1e9)},""" +
        s""""run_s":${Json.num(a.runMs / 1e3)},""" +
        s""""shuffle_write_bytes":${a.shuffleWrite},""" +
        s""""spill_bytes":${a.spill},"records_read":${a.recordsRead}}"""
    }
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, trace: String, name: String,
                        start: Double, startMs: Long,
                        var end: Double = -1, var endMs: Long = -1,
                        attrs: mutable.Map[String, Double] =
                          mutable.Map.empty)

  final case class Job(id: Int, group: String, startMs: Long,
                       var endMs: Long = -1, var ok: Boolean = true)

  final class StageAcc {
    var tasks = 0L; var failed = 0L; var cpuNs = 0L; var runMs = 0L
    var shuffleWrite = 0L; var spill = 0L; var recordsRead = 0L
  }
}

/** Minimal JSON rendering for the harness's result file. */
object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
