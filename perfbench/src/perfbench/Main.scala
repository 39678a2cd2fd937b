package perfbench

import graft.tables.TableStore
import java.io.File
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark run in a fresh JVM:
  * `Main <workload> <seed> <seconds> <trace 0|1> <run dir> <cores> <spans file>`.
  *
  * Sets up `Setups` times on fresh stores (set-up time is their median),
  * warms up, then runs ops as a closed loop with one client until `seconds`
  * have passed. Each op is timed alone; its output check runs after it,
  * untimed. With trace 1, half the ops run with the listeners attached,
  * and the per-layer numbers are means over those ops. Writes the result
  * JSON to `<run dir>/result.json`.
  */
object Main {
  val Setups = 3
  val WarmupOps = 2

  def main(args: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime(); phases(name) = (now - mark) / 1e9; mark = now
    }
    val Array(name, seedS, secondsS, traceS, runDirS, coresS, spansFile) = args
    val (seed, seconds, trace) = (seedS.toLong, secondsS.toDouble, traceS == "1")
    val runDir = new File(runDirS).getAbsoluteFile
    val cores = coresS.toInt
    val scratchDir = new File(runDir, "scratch").getPath
    // deployment settings only: tuning the session is the program's business
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(runDir, "local").getPath)
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getPath)
      .config("graft.scratch.dir", scratchDir)
    if (trace) builder.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    phases("session") = (System.currentTimeMillis() - jvmStart) / 1e3
    mark = System.nanoTime()

    val in = new File(runDir, "input")
    val w = Workloads(name, spark, seed, in)
    val setupInput = w.generate()
    var inputBytes = setupInput
    phase("generate")

    val setupS = (0 until Setups).map { k =>
      val store = new TableStore(spark, new File(runDir, s"store$k").getPath)
      val t0 = System.nanoTime()
      w.setup(store)
      (System.nanoTime() - t0) / 1e9
    }
    (0 until Setups - 1).foreach(k => delete(new File(runDir, s"store$k")))
    phase("setup")
    val storeRoot = new File(runDir, s"store${Setups - 1}").getPath
    val store = new TableStore(spark, storeRoot)
    val tracer = new Tracer(spark, storeRoot, scratchDir)

    val errors = mutable.ArrayBuffer.empty[String]
    val lat = mutable.ArrayBuffer.empty[(Boolean, Double)] // (traced, seconds)
    var attempted = 0
    var failed = 0
    var opInput = 0L
    var opWritten = 0L

    def runOp(i: Int, counted: Boolean): Unit = {
      val bytes = w.prepare(i)
      inputBytes += bytes
      // traced and untraced ops alternate in ABBA order, so a drift in op
      // time over the run biases neither side of trace.overhead_s
      val traced = trace && counted && Set(1, 2)((i - WarmupOps) % 4)
      if (traced) tracer.attach() else tracer.detach()
      val rec = if (traced) Some(tracer.beginOp(i)) else None
      val fs0 = Fs.now()
      val t0 = System.nanoTime()
      val outcome =
        try { w.op(i, store, tracer, rec); None }
        catch { case e: Exception => Some(s"op $i failed: $e") }
      val dt = (System.nanoTime() - t0) / 1e9
      val written = (Fs.now() - fs0).written
      rec.foreach(tracer.endOp)
      val errs = outcome.toSeq ++ (if (outcome.isEmpty) safeCheck(w, i, store) else Nil)
      errors ++= errs
      if (counted) {
        attempted += 1
        if (errs.nonEmpty) failed += 1
        else {
          lat += ((traced, dt))
          opInput += bytes
          opWritten += written
        }
      }
    }

    // warm-up: JIT and codegen for the op path, not measured
    (0 until WarmupOps).foreach(runOp(_, counted = false))
    phase("warmup")
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = WarmupOps
    while (System.nanoTime() < deadline) { runOp(i, counted = true); i += 1 }
    tracer.detach()
    phase("measure")

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val all = lat.map(_._2).toSeq
    if (!trace) {
      metrics("setup_s") = (Stats.median(setupS), "s")
      metrics("op_p50_s") = (Stats.median(all), "s")
      metrics("ops_per_s") = (if (all.isEmpty) 0.0 else all.size / all.sum, "1/s")
      metrics("write_amp") = (if (opInput == 0) 0.0 else opWritten.toDouble / opInput, "ratio")
      metrics("space_amp") =
        ((du(new File(storeRoot)) + du(new File(scratchDir))) / inputBytes.toDouble, "ratio")
      metrics("peak_rss_mb") = (peakRssMb(), "MB")
    } else {
      val traced = lat.filter(_._1).map(_._2)
      val untraced = lat.filterNot(_._1).map(_._2)
      Layers.metrics(tracer.records.toSeq, cores).foreach { case (k, v) => metrics(k) = v }
      metrics("trace.overhead_s") = (Stats.median(traced.toSeq) - Stats.median(untraced.toSeq), "s")
      metrics("index_build_s") = (if (name == "crawl_dedup") Stats.median(setupS) else 0.0, "s")
      tracer.writeSpans(new File(spansFile))
    }
    errors.take(20).foreach(e => System.err.println(s"check: $e"))
    val json = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Stats.num(v)}, "unit": "$u"}""" }.mkString(", ")
    val result = s"""{"correct": ${errors.isEmpty}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$json}}"""
    Gen.writeLines(new File(runDir, "result.json"))(_.write(result + "\n"))
    spark.stop()
    phase("stop")
    def fmt(xs: Iterable[Double]) = xs.map(x => f"$x%.2f").mkString(" ")
    println(s"info: input $setupInput B at set-up, ${opInput / math.max(1, lat.size)} B per op; " +
      s"set-ups ${fmt(setupS)} s; ops ${fmt(lat.map(_._2))} s; phases " +
      phases.map { case (k, v) => f"$k $v%.1f" }.mkString(", ") + " s")
  }

  private def safeCheck(w: Workload, i: Int, store: TableStore): Seq[String] =
    try w.check(i, store) catch { case e: Exception => Seq(s"op $i check failed: $e") }

  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(du).sum else f.length()

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(delete)
    f.delete()
  }

  /** The JVM's resident-set high-water mark. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Per-layer numbers from the traced ops: means per op unless named as a
  * ratio. Layers of one op partition its wall time: time inside Spark jobs,
  * query-execution time outside jobs (planning, AQE orchestration, commit),
  * public-call time outside query executions (TableStore metadata, plan
  * construction), and benchmark time outside public calls. */
object Layers {
  def metrics(rs: Seq[OpRecord], cores: Int): Seq[(String, (Double, String))] = {
    val n = math.max(1, rs.size).toDouble
    def mean(f: OpRecord => Double) = rs.map(f).sum / n
    def s(us: Long) = us / 1e6
    def cover(r: OpRecord, iv: Seq[(Long, Long)]) = Tracer.covered(iv, r.start, r.end)
    def jobsIv(r: OpRecord) = r.jobs.map(j => (j._2, j._3)).toSeq
    def qesIv(r: OpRecord) = r.qes.map(q => (q._2, q._3)).toSeq
    def callsIv(r: OpRecord) = r.calls.map(c => (c.start, c.end)).toSeq
    val wall = rs.map(r => s(r.end - r.start)).sum
    val inJob = rs.map(r => s(cover(r, jobsIv(r)))).sum
    val taskRun = rs.map(_.taskRunMs / 1e3).sum
    def callS(name: String) = mean(r => r.calls.filter(_.name == name).map(c => s(c.end - c.start)).sum)
    def writeS(k: String) = mean(_.writeNs(k) / 1e9)
    val scanRows = rs.map(_.extra("scan_rows")).sum
    val resultRows = rs.map(_.extra("result_rows")).sum
    Seq(
      "spark.jobs" -> (mean(_.jobs.size), "count/op"),
      "spark.stages" -> (mean(_.stages), "count/op"),
      "spark.tasks" -> (mean(_.tasks), "count/op"),
      "spark.in_job_s" -> (inJob / n, "s/op"),
      "spark.between_jobs_s" -> ((wall - inJob) / n, "s/op"),
      "spark.task_run_s" -> (taskRun / n, "s/op"),
      "spark.task_cpu_s" -> (mean(_.taskCpuNs / 1e9), "s/op"),
      "spark.core_use" -> (if (inJob == 0) 0.0 else taskRun / (inJob * cores), "ratio"),
      "spark.shuffle_write_bytes" -> (mean(_.shuffleWrite.toDouble), "B/op"),
      "spark.spill_bytes" -> (mean(_.spill.toDouble), "B/op"),
      "spark.gc_s" -> (mean(_.gcMs / 1e3), "s/op"),
      "catalyst.query_executions" -> (mean(_.queryExecutions), "count/op"),
      "catalyst.analysis_s" -> (mean(_.phaseMs("analysis") / 1e3), "s/op"),
      "catalyst.optimization_s" -> (mean(_.phaseMs("optimization") / 1e3), "s/op"),
      "catalyst.planning_s" -> (mean(_.phaseMs("planning") / 1e3), "s/op"),
      "tables.write_commands" -> (mean(_.writeCommands), "count/op"),
      "tables.bronze_write_s" -> (writeS("bronze"), "s/op"),
      "tables.silver_write_s" -> (writeS("silver"), "s/op"),
      "tables.gold_write_s" -> (writeS("gold"), "s/op"),
      "tables.index_write_s" -> (writeS("index"), "s/op"),
      "tables.scratch_write_s" -> (writeS("scratch"), "s/op"),
      "fs.bytes_written" -> (mean(_.fs.written.toDouble), "B/op"),
      "fs.bytes_read" -> (mean(_.fs.read.toDouble), "B/op"),
      "fs.read_ops" -> (mean(_.fs.readOps.toDouble), "count/op"),
      "fs.write_ops" -> (mean(_.fs.writeOps.toDouble), "count/op"),
      "serve.scan_rows_per_result_row" -> (if (resultRows == 0) 0.0 else scanRows / resultRows, "ratio"),
      "serve.fact_files_read" -> (mean(_.extra("fact_files")), "count/op"),
      "serve.build_s" -> (callS("serve.build"), "s/op"),
      "serve.collect_s" -> (callS("serve.collect"), "s/op"),
      "pipeline.runFactIncremental_s" -> (callS("pipeline.runFactIncremental"), "s/op"),
      "ext.knownIds_s" -> (callS("ext.knownIds"), "s/op"),
      "ext.probeIncrement_s" -> (callS("ext.probeIncrement"), "s/op"),
      "ext.pairs_upsert_s" -> (callS("ext.pairs_upsert"), "s/op"),
      "ext.commitIncrement_s" -> (callS("ext.commitIncrement"), "s/op"),
      "ext.maintainIfNeeded_s" -> (callS("ext.maintainIfNeeded"), "s/op"),
      "ext.compactions" -> (mean(_.extra("compactions")), "count/op"),
      "ext.compacted_bytes" -> (mean(_.extra("compacted_bytes")), "B/op"),
      "trace.qe_self_s" -> (mean(r => s(cover(r, qesIv(r) ++ jobsIv(r)) - cover(r, jobsIv(r)))), "s/op"),
      "trace.call_self_s" -> (mean(r => s(cover(r, callsIv(r) ++ qesIv(r) ++ jobsIv(r)) -
        cover(r, qesIv(r) ++ jobsIv(r)))), "s/op"),
      "trace.op_self_s" ->
        (mean(r => s(r.end - r.start - cover(r, callsIv(r) ++ qesIv(r) ++ jobsIv(r)))), "s/op")
    )
  }
}
