package kgbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work counted per job group: jobs, tasks, shuffle bytes written,
  * bytes spilled to disk, input bytes read, and every task's duration per
  * Spark stage (for the max/median task-time skew). */
final class GroupStats {
  var jobs = 0
  var tasks = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  def add(o: GroupStats): Unit = {
    jobs += o.jobs; tasks += o.tasks; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes
    o.taskMs.foreach { case (k, v) => taskMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
  }

  /** max/median task time of the Spark stage that ran longest in total. */
  def skew: Double =
    if (taskMs.isEmpty) 1.0
    else {
      val ts = taskMs.values.maxBy(_.sum).sorted
      ts.last.toDouble / math.max(1L, ts(ts.size / 2))
    }
}

/** Listener that files every task under the job group of the job that ran
  * it. Registered only in the traced run. */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  val groups = mutable.HashMap.empty[String, GroupStats]

  private def stats(g: String) = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    stats(g).jobs += 1
    e.stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stageGroup.getOrElse(e.stageId, ""))
    s.tasks += 1
    s.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.inputBytes += m.inputMetrics.bytesRead
    }
  }
}

final case class Span(id: Int, parent: Int, name: String, start: Long) {
  var end = 0L
  def seconds: Double = (end - start) / 1e9
}

/** Spans for the traced run: name, start, end and parent, kept in memory
  * and written out at the end. Each span is its own Spark job group, so
  * the listener's counts land on the innermost span that was open when a
  * job started. With `sc == null` (untraced run) `span` only runs its body. */
final class Tracer(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val listener = if (sc == null) null else new GroupListener
  if (sc != null) sc.addSparkListener(listener)
  private val t0 = System.nanoTime()

  def enabled: Boolean = sc != null

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, open.headOption.fold(-1)(_.id), name, System.nanoTime())
      spans += s
      open ::= s
      sc.setJobGroup(s.id.toString, name)
      try body
      finally {
        s.end = System.nanoTime()
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Finished spans named `name`, in start order. */
  def named(name: String): Seq[Span] = spans.filter(s => s.name == name && s.end > 0).toSeq

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Listener counts of `s` and every span below it. */
  def stats(s: Span): GroupStats = {
    org.apache.spark.BenchBus.drain(sc)
    val out = new GroupStats
    def walk(x: Span): Unit = {
      listener.synchronized(listener.groups.get(x.id.toString).foreach(out.add))
      children(x).foreach(walk)
    }
    walk(s)
    out
  }

  /** Duration minus the time covered by child spans. */
  def selfSeconds(s: Span): Double = {
    val kids = children(s).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L; var upTo = s.start
    kids.foreach { case (a, b) =>
      val from = math.max(a, upTo)
      if (b > from) { covered += b - from; upTo = b }
    }
    (s.end - s.start - covered) / 1e9
  }

  def toJson: String = spans.filter(_.end > 0).map { s =>
    val g = stats(s)
    f"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      f""""start_s":${(s.start - t0) / 1e9}%.6f,"end_s":${(s.end - t0) / 1e9}%.6f,""" +
      f""""self_s":${selfSeconds(s)}%.6f,"jobs":${g.jobs},"tasks":${g.tasks},""" +
      f""""shuffle_bytes":${g.shuffleBytes},"spill_bytes":${g.spillBytes},""" +
      f""""input_bytes":${g.inputBytes}}"""
  }.mkString("[", ",\n", "]")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
