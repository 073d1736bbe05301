package wovedbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Order statistics over one run's samples. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value); None below 20 samples, where even the median
    * has fewer than ten beyond it.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.length < 20) None
    else {
      val pct = math.floor(100.0 * (xs.length - 10) / xs.length).toInt
      Some((pct, quantile(xs, pct / 100.0)))
    }
}

/** One span: a named interval on the client thread with the span that
  * caused it. Times are wall-clock milliseconds (the clock Spark's
  * listener events carry) plus a nanosecond duration.
  */
final case class Span(id: Int, parent: Int, name: String,
    startMs: Long, endMs: Long, durNs: Long) {
  def durMs: Double = durNs / 1e6
}

/** In-memory span recorder for the traced run; a no-op when disabled,
  * so untraced runs pay one branch per call.
  */
final class Tracer(val enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val ms0 = System.currentTimeMillis(); val ns0 = System.nanoTime()
      try f
      finally {
        done += Span(id, parent, name, ms0, System.currentTimeMillis(),
          System.nanoTime() - ns0)
        stack = stack.tail
      }
    }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)

  /** Self time per span: its duration minus the part its direct
    * children cover (children never overlap on one client thread).
    */
  def selfMs: Map[Int, Double] = {
    val childNs = done.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    done.map(s => s.id -> (s.durNs - childNs.getOrElse(s.id, 0L)) / 1e6).toMap
  }

  def toJson: String = {
    val self = selfMs
    spans.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs},"dur_ms":${s.durMs}%.3f,"self_ms":${self(s.id)}%.3f}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** The benchmark's own Spark listener: every job's wall interval and
  * its tasks' count and summed run time, to attribute Spark work to the
  * facade call whose span contains the job's submission.
  */
final class JobRecorder extends SparkListener {
  final class Job(val start: Long) {
    @volatile var end: Long = -1L
    val tasks = new java.util.concurrent.atomic.AtomicLong()
    val taskMs = new java.util.concurrent.atomic.AtomicLong()
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, new Job(e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      j.tasks.incrementAndGet()
      j.taskMs.addAndGet(e.taskInfo.duration)
    }

  /** (jobs, tasks, task ms, driver ms) of one span: jobs submitted inside
    * it, and its wall time not covered by any running job.
    */
  def attribute(s: Span): (Int, Long, Long, Double) = {
    val mine = jobs.values.asScala.filter(j => j.start >= s.startMs && j.start <= s.endMs).toSeq
    val ivs = mine.map(j => (j.start, if (j.end < 0) s.endMs else math.min(j.end, s.endMs)))
      .sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    ivs.foreach { case (a, b) =>
      if (a > curE) { covered += math.max(0L, curE - curS); curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += math.max(0L, curE - curS)
    val wallMs = s.durMs
    (mine.length, mine.map(_.tasks.get).sum, mine.map(_.taskMs.get).sum,
      math.max(0.0, wallMs - covered))
  }
}

/** Weather probes recorded next to every run's metrics; nothing is
  * rescaled by them.
  */
object Noise {
  /** Median wall time of an empty one-task job: the scheduler's
    * dispatch floor.
    */
  def dispatchFloorMs(sc: SparkContext, reps: Int = 5): Double =
    Stats.median((0 until reps).map { _ =>
      val t = System.nanoTime()
      sc.parallelize(Seq(1), 1).count()
      (System.nanoTime() - t) / 1e6
    })

  /** Median wall time of a fixed pure-CPU fold (2^24 mix steps). */
  def cpuFoldMs(reps: Int = 3): Double =
    Stats.median((0 until reps).map { _ =>
      val t = System.nanoTime()
      var h = 0x9E3779B97F4A7C15L; var i = 0
      while (i < (1 << 24)) {
        h ^= i.toLong; h *= 0xBF58476D1CE4E5B9L; h ^= (h >>> 31); i += 1
      }
      if (h == 42L) print("")
      (System.nanoTime() - t) / 1e6
    })
}

object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap used after full collections, in MB. The pause between them
    * lets Spark's context cleaner drop blocks of RDDs the first
    * collection found unreachable, so the reading does not depend on
    * when the cleaner last ran.
    */
  def heapAfterGcMb: Double = {
    System.gc(); Thread.sleep(300); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
}

object Disk {
  /** Bytes written through Hadoop's local filesystem by this JVM (every
    * segment, catalog, layout and codes-tree file; local mode runs the
    * executors in this JVM).
    */
  def hadoopBytesWritten: Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
      .map(_.getBytesWritten).sum

  def files(dir: File): Seq[File] =
    if (!dir.exists()) Nil
    else if (dir.isFile) Seq(dir)
    else Option(dir.listFiles()).toSeq.flatten.flatMap(files)

  def bytes(dir: File): Long = files(dir).map(_.length).sum

  def delete(dir: File): Unit = {
    if (dir.isDirectory) Option(dir.listFiles()).toSeq.flatten.foreach(delete)
    dir.delete()
  }
}
