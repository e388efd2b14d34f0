package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Per-job-group counters, gathered by a listener the benchmark
  * registers itself. Each traced request runs under its own job group,
  * so every job, stage and task is charged to exactly one request.
  */
final class Counters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskRunS = 0.0
  var taskCpuS = 0.0
  var maxTaskS = 0.0
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  /** (jobId, start ms, end ms) */
  val jobSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)]
}

final class Ledger extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, Counters]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]

  private def counters(g: String) = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).orNull
    if (g != null) {
      jobGroup(e.jobId) = g
      jobStart(e.jobId) = e.time
      val c = counters(g)
      c.jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.get(e.jobId).foreach { g =>
      counters(g).jobSpans += ((e.jobId, jobStart(e.jobId), e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(counters(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = counters(g)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        val run = m.executorRunTime / 1e3
        c.taskRunS += run
        c.taskCpuS += m.executorCpuTime / 1e9
        c.maxTaskS = math.max(c.maxTaskS, run)
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
      }
    }
  }

  def apply(group: String): Counters = synchronized(counters(group))
}

/** One span: a request, a layer call inside it, or a Spark job. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double,
    endMs: Double, attrs: Seq[(String, Any)])

/** Spans kept in memory and written out once, at the end of the run. */
final class Spans(val trace: String) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  /** Epoch milliseconds of a System.nanoTime reading. */
  def ms(nanos: Long): Double = wall0 + (nanos - nano0) / 1e6

  def add(parent: Int, name: String, startMs: Double, endMs: Double,
      attrs: (String, Any)*): Int = synchronized {
    val id = buf.size + 1
    buf += Span(id, parent, name, startMs, endMs, attrs)
    id
  }

  def jsonLines: Iterator[String] = buf.iterator.map { s =>
    val a = s.attrs.map { case (k, v) => Json.str(k) + ":" + Json.value(v) }
      .mkString("{", ",", "}")
    s"""{"trace":${Json.str(trace)},"id":${s.id},"parent":${if (s.parent == 0) "null" else s.parent},"name":${Json.str(s.name)},"start_ms":${s.startMs},"end_ms":${s.endMs},"attrs":$a}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }
}
