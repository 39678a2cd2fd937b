package perfbench

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Epoch microseconds on the monotonic clock, comparable with the epoch
  * milliseconds Spark stamps on listener events. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseMicros = System.currentTimeMillis() * 1000
  def micros(): Long = baseMicros + (System.nanoTime() - baseNano) / 1000
}

/** Bytes the program moves through Hadoop's `file` scheme (parquet, CSV,
  * sidecars, checksums; not Spark's own shuffle files), and the file-system
  * calls [[CountingFs]] counts. */
final case class Fs(written: Long, read: Long, readOps: Long, writeOps: Long) {
  def -(o: Fs): Fs = Fs(written - o.written, read - o.read, readOps - o.readOps, writeOps - o.writeOps)
}

object Fs {
  @annotation.nowarn("cat=deprecation")
  def now(): Fs = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Fs(st.map(_.getBytesWritten).sum, st.map(_.getBytesRead).sum,
      CountingFs.reads.get, CountingFs.writes.get)
  }
}

final case class Span(id: Long, parent: Long, op: Int, kind: String, name: String,
    start: Long, end: Long)

/** Everything the traced run learns about one op. Listener-side fields are
  * filled on Spark's listener bus and read after [[Tracer.endOp]] drains it. */
final class OpRecord(val op: Int) {
  var start = 0L
  var end = 0L
  var fs = Fs(0, 0, 0, 0)
  val calls = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long, String)] // id, start, end, execution id
  val qes = mutable.ArrayBuffer.empty[(Long, Long, Long)] // execution id, start, end
  var stages = 0
  var tasks = 0
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var queryExecutions = 0
  val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val writeNs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var writeCommands = 0
  val extra = mutable.Map.empty[String, Double].withDefaultValue(0.0)
}

/** Spans around the program's public calls, a SparkListener for jobs,
  * stages and tasks, and a QueryExecutionListener for Catalyst phases and
  * write commands. Attached only for traced ops; spans stay in memory and
  * are written out by [[writeSpans]] when the run ends. */
final class Tracer(spark: SparkSession, storeRoot: String, scratchRoot: String) {
  private val lock = new Object
  private var cur: Option[OpRecord] = None
  private val jobStart = mutable.Map.empty[Int, (Long, String)]
  private val qeStart = mutable.Map.empty[Long, Long]
  private var attached = false
  private var nextId = 0L
  val records = mutable.ArrayBuffer.empty[OpRecord]

  private def id(): Long = { nextId += 1; nextId }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      jobStart(e.jobId) = (e.time, exec.getOrElse(""))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, exec) =>
        cur.foreach(_.jobs += ((e.jobId, t0 * 1000, e.time * 1000, exec)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized(cur.foreach(_.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      cur.foreach { r =>
        r.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          r.taskRunMs += m.executorRunTime
          r.taskCpuNs += m.executorCpuTime
          r.gcMs += m.jvmGCTime
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = lock.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart => qeStart(s.executionId) = s.time
        case s: SparkListenerSQLExecutionEnd =>
          qeStart.remove(s.executionId).foreach { t0 =>
            cur.foreach(_.qes += ((s.executionId, t0 * 1000, s.time * 1000)))
          }
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      record(qe, 0L)
  }

  private def record(qe: QueryExecution, durationNs: Long): Unit = lock.synchronized {
    cur.foreach { r =>
      r.queryExecutions += 1
      qe.tracker.phases.foreach { case (k, v) => r.phaseMs(k) += v.durationMs }
      qe.logical.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString }
        .foreach { p =>
          r.writeCommands += 1
          r.writeNs(Tracer.targetClass(p, storeRoot, scratchRoot)) += durationNs
        }
    }
  }

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  def beginOp(op: Int): OpRecord = {
    Bus.drain(spark.sparkContext)
    val r = new OpRecord(op)
    lock.synchronized { cur = Some(r) }
    r.fs = Fs.now()
    r.start = Clock.micros()
    r
  }

  def endOp(r: OpRecord): Unit = {
    r.end = Clock.micros()
    r.fs = Fs.now() - r.fs
    Bus.drain(spark.sparkContext)
    lock.synchronized { cur = None }
    records += r
  }

  /** A span around one public call of the program, inside the current op. */
  def call[T](name: String)(body: => T): T = lock.synchronized(cur) match {
    case None => body
    case Some(r) =>
      val t0 = Clock.micros()
      try body finally r.calls += Span(0, 0, r.op, "call", name, t0, Clock.micros())
  }

  def writeSpans(f: java.io.File): Unit = {
    val spans = records.flatMap { r =>
      val opId = id()
      val calls = r.calls.map(c => c.copy(id = id(), parent = opId))
      def within(t: Long) = calls.filter(c => c.start <= t && t <= c.end)
        .sortBy(c => c.end - c.start).headOption.map(_.id).getOrElse(opId)
      val qes = r.qes.map { case (e, s, t) =>
        e -> Span(id(), within(s), r.op, "qe", s"execution $e", s, t) }.toMap
      val jobs = r.jobs.map { case (j, s, t, e) =>
        val parent = scala.util.Try(e.toLong).toOption.flatMap(qes.get).map(_.id).getOrElse(within(s))
        Span(id(), parent, r.op, "job", s"job $j", s, t)
      }
      Span(opId, 0, r.op, "op", "op", r.start, r.end) +: (calls ++ qes.values ++ jobs)
    }
    Gen.writeLines(f) { w =>
      w.write("[\n")
      w.write(spans.map(s =>
        s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"kind":"${s.kind}",""" +
          s""""name":"${s.name}","start_us":${s.start},"end_us":${s.end}}""").mkString(",\n"))
      w.write("\n]\n")
    }
  }
}

object Tracer {
  /** Which tier a write command targets, from its output path. */
  def targetClass(path: String, storeRoot: String, scratchRoot: String): String = {
    val p = path.stripPrefix("file:")
    if (p.startsWith(scratchRoot)) "scratch"
    else {
      val table = p.stripPrefix(storeRoot).stripPrefix("/").takeWhile(_ != '/')
        .replaceFirst("^\\.(staging|trash)_", "")
      if (table.startsWith("bronze_") || table.startsWith("staging_")) "bronze"
      else if (table.startsWith("silver_")) "silver"
      else if (table.startsWith("sb_") || table.startsWith("gold_")) "gold"
      else if (table.startsWith(Workloads.IndexName)) "index"
      else "other"
    }
  }

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._1 < x._2)
      .sortBy(_._1).foreach { case (a, b) =>
        val s = math.max(a, reach)
        if (b > s) { total += b - s; reach = b }
      }
    total
  }
}
