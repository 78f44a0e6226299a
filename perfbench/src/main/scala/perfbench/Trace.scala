package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: name, start/end in `System.nanoTime` units, the
  * index of the enclosing span (-1 at top level) and the run it belongs to. */
final case class Span(name: String, start: Long, end: Long, parent: Int, run: String) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. Spans nest through a stack; nothing is written
  * until [[write]] at the end of the run. */
final class Tracer(val run: String) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def span[T](name: String)(body: => T): T = {
    val idx = buf.size
    val parent = stack.headOption.getOrElse(-1)
    val t0 = System.nanoTime()
    buf += Span(name, t0, t0, parent, run)
    stack = idx :: stack
    try body
    finally {
      stack = stack.tail
      buf(idx) = buf(idx).copy(end = System.nanoTime())
    }
  }

  def spans: Seq[Span] = buf.toSeq

  /** Tab-separated: run, index, parent, name, start_ns, end_ns. */
  def write(path: Path): Unit = {
    val lines = buf.zipWithIndex.map { case (s, i) =>
      s"${s.run}\t$i\t${s.parent}\t${s.name}\t${s.start}\t${s.end}"
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

object Trace {
  /** Self time per span: its duration minus the durations of its direct
    * children, summed by span name. */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val child = new Array[Double](spans.size)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.seconds)
    spans.indices.groupMapReduce(i => spans(i).name)(i => spans(i).seconds - child(i))(_ + _)
  }

  /** Self times of a chain of cumulative prefixes: prefix k re-executes
    * everything before it, so its own share is its time minus that of the
    * prefix it builds on (`base(k)`, or nothing when absent). */
  def prefixSelf(prefix: Map[String, Double], base: Map[String, Seq[String]]): Map[String, Double] =
    prefix.map { case (k, t) => k -> (t - base.getOrElse(k, Nil).map(prefix).sum) }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive values")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  val TailLadder: Seq[Int] = Seq(99, 95, 90, 75, 50)

  /** Nearest-rank percentile index into n sorted samples. */
  def rank(n: Int, p: Int): Int = math.max(0, math.ceil(p / 100.0 * n).toInt - 1)

  /** The highest percentile of [[TailLadder]] with at least ten samples
    * above it, and its value; the median when no percentile qualifies. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    require(xs.nonEmpty, "tail of nothing")
    val s = xs.sorted
    val n = s.size
    TailLadder.find(p => n - 1 - rank(n, p) >= 10) match {
      case Some(p) => (p, s(rank(n, p)))
      case None => (50, median(s))
    }
  }
}

object Hash {
  /** 64-bit hash of a canonical string. */
  def of(s: String): Long =
    (MurmurHash3.stringHash(s, 0x9747b28c).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)

  /** Order-insensitive hash of a collection of canonical strings. */
  def unordered(xs: Iterable[String]): Long = xs.foldLeft(0L)(_ + of(_))
}

/** Spark-side counters for the traced run: a `SparkListener` for jobs,
  * stages and task metrics, and a `QueryExecutionListener` for planning
  * time from `QueryExecution.tracker`. Only jobs started under a job group
  * with [[Probe.Group]] as prefix count, so untimed checks are excluded.
  * Listener events arrive asynchronously; [[drain]] waits for them. */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Probe._
  private val stageGroup = mutable.Map.empty[Int, String]
  private val acc = mutable.Map.empty[String, Counters]
  @volatile private var planGroup: Option[String] = None

  private def counters(g: String): Counters = acc.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.filter(_.startsWith(Group)).foreach { g =>
      counters(g).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => counters(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counters(g)
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      planGroup.foreach { g =>
        counters(g).planMs += qe.tracker.phases.values.map(_.durationMs).sum
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def drain(): Unit = org.apache.spark.PerfbenchShim.drainListeners(spark.sparkContext)

  /** Runs `body` with its jobs and query plans attributed to `group`. The
    * listener queue is drained after the body, outside the caller's span. */
  def attribute[T](group: String)(body: => T): T = {
    val g = Group + group
    planGroup = Some(g)
    spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)
    try body
    finally spark.sparkContext.clearJobGroup()
  }

  /** Call after the attributed body, outside every timed span. */
  def settle(): Unit = { drain(); planGroup = None }

  def get(group: String): Counters = synchronized(acc.getOrElse(Group + group, new Counters))
  def total: Counters = synchronized(acc.values.foldLeft(new Counters)(_ + _))
}

object Probe {
  val Group = "perfbench:"

  final class Counters {
    var jobs, stages, tasks, runMs, cpuNs, shuffleWrite, shuffleRead, spill = 0L
    var planMs = 0L
    def +(o: Counters): Counters = {
      val c = new Counters
      c.jobs = jobs + o.jobs; c.stages = stages + o.stages; c.tasks = tasks + o.tasks
      c.runMs = runMs + o.runMs; c.cpuNs = cpuNs + o.cpuNs
      c.shuffleWrite = shuffleWrite + o.shuffleWrite; c.shuffleRead = shuffleRead + o.shuffleRead
      c.spill = spill + o.spill; c.planMs = planMs + o.planMs
      c
    }
  }

  def install(spark: SparkSession): Probe = {
    val p = new Probe(spark)
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }
}

object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime)
      .filter(_ >= 0).sum / 1e3

  /** Peak resident set size of this process (VmHWM), in MB. */
  def rssPeakMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024
  }
}
