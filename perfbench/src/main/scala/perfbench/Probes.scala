package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream,
  LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced run's probes. Each one records only while [[Probes.on]]
  * is set, so one traced run can alternate traced and untraced cycles
  * and report the difference as tracing overhead. The untraced
  * end-to-end run never installs the job or filesystem probes.
  */
object Probes {
  @volatile var on = false
}

/** Hadoop filesystem counters, by operation kind. Only the outermost
  * call on a thread counts: `create` calling `mkdirs` inside the
  * checksum layer is one operation for the caller.
  */
object FsCounters {
  val kinds = Seq("list", "status", "open", "create", "rename", "delete",
    "mkdirs")
  val ops: Map[String, LongAdder] = kinds.map(_ -> new LongAdder).toMap
  val opNanos = new LongAdder
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  def timed[A](kind: String)(f: => A): A = {
    val d = depth.get
    if (!Probes.on || d > 0) {
      depth.set(d + 1)
      try f finally depth.set(d)
    } else {
      ops(kind).increment()
      depth.set(1)
      val t = System.nanoTime()
      try f
      finally {
        opNanos.add(System.nanoTime() - t)
        depth.set(0)
      }
    }
  }

  /** Bytes moved through the `file` scheme, from Hadoop's own
    * per-scheme statistics. */
  def bytes: (Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }
}

/** A `LocalFileSystem` (checksums kept) that counts the driver's and
  * tasks' metadata operations. Installed with
  * `spark.hadoop.fs.file.impl`. */
class CountingLocalFileSystem extends LocalFileSystem {
  import FsCounters.timed

  override def listStatus(p: Path): Array[FileStatus] =
    timed("list")(super.listStatus(p))
  override def listLocatedStatus(p: Path): RemoteIterator[LocatedFileStatus] =
    timed("list")(super.listLocatedStatus(p))
  override def listStatusIterator(p: Path): RemoteIterator[FileStatus] =
    timed("list")(super.listStatusIterator(p))
  override def getFileStatus(p: Path): FileStatus =
    timed("status")(super.getFileStatus(p))
  override def open(p: Path, bufferSize: Int): FSDataInputStream =
    timed("open")(super.open(p, bufferSize))
  override def create(p: Path, perm: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    timed("create")(super.create(p, perm, overwrite, bufferSize,
      replication, blockSize, progress))
  override def createNonRecursive(p: Path, perm: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    timed("create")(super.createNonRecursive(p, perm, overwrite,
      bufferSize, replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean =
    timed("rename")(super.rename(src, dst))
  override def delete(p: Path, recursive: Boolean): Boolean =
    timed("delete")(super.delete(p, recursive))
  override def mkdirs(p: Path, perm: FsPermission): Boolean =
    timed("mkdirs")(super.mkdirs(p, perm))
  override def mkdirs(p: Path): Boolean =
    timed("mkdirs")(super.mkdirs(p))
}

/** One finished Spark job: its span (job group) and wall interval. */
final case class JobRec(group: String, start: Long, end: Long)

/** Spark engine counters, installed with `spark.extraListeners`. Jobs
  * are attributed to spans through the job group, which `Par.both`
  * carries across its thread hop. */
class JobProbe extends SparkListener {
  import JobProbe._

  override def onJobStart(e: SparkListenerJobStart): Unit = if (Probes.on) {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    open.put(e.jobId, (g, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach { case (g, t0) =>
      jobs.add(JobRec(g, t0, e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (Probes.on) stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (Probes.on) {
    tasks.increment()
    if (e.reason != org.apache.spark.Success) tasksFailed.increment()
    Option(e.taskMetrics).foreach { m =>
      taskMs.add(m.executorRunTime)
      taskCpuNs.add(m.executorCpuTime)
      inputBytes.add(m.inputMetrics.bytesRead)
      inputRows.add(m.inputMetrics.recordsRead)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

object JobProbe {
  private val open =
    new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages, tasks, tasksFailed, taskMs, taskCpuNs, inputBytes, inputRows,
    shuffleRead, shuffleWrite, spill = new LongAdder

  def counters: Map[String, Long] = Map(
    "spark.stages" -> stages.sum, "spark.tasks" -> tasks.sum,
    "spark.tasks_failed" -> tasksFailed.sum,
    "spark.task_ms" -> taskMs.sum, "spark.task_cpu_ns" -> taskCpuNs.sum,
    "spark.input_bytes" -> inputBytes.sum,
    "spark.input_rows" -> inputRows.sum,
    "spark.shuffle_read_bytes" -> shuffleRead.sum,
    "spark.shuffle_write_bytes" -> shuffleWrite.sum,
    "spark.spill_bytes" -> spill.sum)
}

/** One micro-batch's progress, as Structured Streaming reports it. */
final case class BatchRec(durations: Map[String, Long], inputRows: Long)

/** Micro-batch phases, installed with
  * `spark.sql.streaming.streamingQueryListeners` so every session the
  * engine derives with `newSession()` reports here too. It records in
  * both modes: the stream workload's end-to-end batch latency comes
  * from these events. */
class StreamProbe extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    StreamProbe.batches.add(BatchRec(d, p.numInputRows))
  }
}

object StreamProbe {
  val batches = new ConcurrentLinkedQueue[BatchRec]()
}

/** Spans recorded from the benchmark's own calls into each layer. A
  * span sets the Spark job group to its id for its duration, so the
  * jobs it starts (on any thread `Par.both` hops to) are attributed to
  * it. */
final case class SpanRec(id: Long, parent: Long, name: String, start: Long,
    end: Long)

object Tracer {
  private val nextId = new AtomicLong(1)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  val spans = new ConcurrentLinkedQueue[SpanRec]()

  def span[A](sc: org.apache.spark.SparkContext, name: String)(f: => A): A =
    if (!Probes.on) f
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(0L)
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      stack.set(id :: stack.get)
      sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
      val t0 = System.currentTimeMillis()
      try f
      finally {
        spans.add(SpanRec(id, parent, name, t0, System.currentTimeMillis()))
        stack.set(stack.get.tail)
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, "", interruptOnCancel = false)
      }
    }
}
