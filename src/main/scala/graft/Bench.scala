package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.{Failure, Success, Try}

/** Benchmark main, on the [[Harness]] session over the SPARK_GRAFT_SF_DIR
  * testdata at `local[SPARK_GRAFT_CPUS]` (default 4).
  *
  * `runMain graft.Bench` times the headline queries (Registry.benchMap),
  * writes `BENCH_FULL.json` and prints ONE compact JSON line last. A query
  * that fails contributes no time: it is printed on stderr and recorded under
  * the file's `"errors"` key.
  *
  * `runMain graft.Bench <query> [<query> ...]` is the single-query
  * optimization loop: it dumps each named declared query's
  * `explain("formatted")` (the plans/rNN/_before|_after evidence files) and
  * times it with the bench's methodology (same session, same `.count()`
  * action, min over passes), printing one `PLANDUMP` line per query. A
  * failing query fails the run.
  *   - SPARK_GRAFT_PLAN_DIR where to write `<query>_<tag>.txt` (default
  *                          plans/dev; set plans/r21 + tag before/after for
  *                          the committed artifacts)
  *   - SPARK_GRAFT_PLAN_TAG suffix tag (default "plan")
  *   - SPARK_GRAFT_TIME     timing passes (default 2; 0 = plan only)
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val qmap = graft.queries.Registry.queryMap
    val named = args.toSeq.map(name => name -> qmap.getOrElse(name,
      throw new IllegalArgumentException(s"no declared query named $name")))
    val spark = Harness.session("4")
    Harness.warm(spark, sfDir)
    val lines =
      if (named.isEmpty) bench(spark, sfDir)
      else { planDump(spark, sfDir, named); Nil }
    graft.tables.Scratch.cleanup(spark) // drop stage tables (all actions done)
    spark.stop()
    lines.foreach(println)
  }

  /** Per-query MIN of `passes` in-session passes over the whole suite: a
    * single loaded-box shot (the r8/r10 artifact noise) can inflate one
    * pass, but rarely the same query twice — the min is the reproducible
    * number. Each later pass runs after the full suite so its cache state
    * matches pass 1's (each query's tables are already warm), keeping the
    * samples comparable. A query that throws in any pass yields its error,
    * never a time. */
  def measure(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)],
      passes: Int = 2): Seq[(String, Try[Double])] = {
    val runs = Seq.fill(passes)(queries.map { case (_, fn) =>
      Harness.time(1)(fn(spark, sfDir).count()) })
    queries.map(_._1).zip(runs.transpose).map { case (name, rs) =>
      name -> Try(rs.map(_.get.sec).min)
    }
  }

  /** `{"metric":"total",…,"queries":{…},"sf":…}` over the timed queries
    * only, with `tail` spliced in before the closing brace. */
  def jsonLine(times: Seq[(String, Double)], f: Double => String, sf: String,
      tail: String = ""): String = {
    val qs = times.map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${f(times.map(_._2).sum)},"unit":"sec","queries":$qs,"sf":"$sf"$tail}"""
  }

  private def timesOf(results: Seq[(String, Try[Double])]) =
    results.collect { case (n, Success(s)) => n -> s }

  private def message(e: Throwable) =
    Option(e.getMessage).getOrElse(e.getClass.getName).take(500)

  /** The durable record: 4 decimals (0.1 ms) per query plus every failed
    * query's message under `"errors"`. */
  def fullRecord(results: Seq[(String, Try[Double])], sf: String): String = {
    val errors = results.collect { case (n, Failure(e)) => n -> message(e) }
    jsonLine(timesOf(results), v => "%.4f".formatLocal(java.util.Locale.ROOT, v),
      sf, s""","errors":${Harness.jsonObject(errors)}""")
  }

  /** Runs the suite and writes `BENCH_FULL.json`; returns the stdout lines,
    * printed after the session stops so they follow every Spark/log line. */
  private def bench(spark: SparkSession, sfDir: String): Seq[String] = {
    val results = measure(spark, sfDir,
      graft.queries.Registry.benchMap.toSeq.sortBy(_._1))
    for ((n, Failure(e)) <- results)
      System.err.println(s"bench: $n failed: ${message(e)}")
    val times = timesOf(results)
    // compact form for the stdout driver line: 2 decimals, trailing zeros
    // (and a bare trailing dot) stripped — "1.25", "0.2", "66.33". The
    // driver records only the LAST 2000 chars of stdout and sbt appends its
    // own "[success] Total time: …" line after ours, so the final JSON line
    // must stay comfortably under ~1900 bytes or its head gets clipped
    // (exactly what nulled BENCH_r07.json's `parsed`). 10 ms granularity is
    // ample for 0.1-6 s bench queries; full precision lives in the file.
    def f2(v: Double) = {
      val s = "%.2f".formatLocal(java.util.Locale.ROOT, v)
      val t = s.reverse.dropWhile(_ == '0').reverse
      if (t.endsWith(".")) t.dropRight(1) else t
    }
    val full = fullRecord(results, sfDir)
    // the self-sufficient artifact: full-precision JSON, durable on disk
    // next to the round records, so a truncated driver tail can't lose the
    // total/anchor. Best-effort: an unwritable path must not discard the
    // whole run's timings (the stdout line is the primary contract)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    try Files.write(Paths.get(out), (full + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"bench: could not write $out: $e") }
    // adaptive precision: if the 2-decimal rendering outgrows the budget
    // (the driver's 2000-char tail minus sbt's ~50-byte success trailer),
    // re-render values >= 1 s at 1 decimal — sub-second queries keep 10 ms
    // granularity, the handful of multi-second ones drop to 100 ms, and the
    // line sheds ~1 byte per >=1 s query. Full precision always lives in
    // the BENCH_FULL.json artifact above.
    def f1(v: Double) = {
      val s = "%.1f".formatLocal(java.util.Locale.ROOT, v)
      if (s.endsWith(".0")) s.dropRight(2) else s
    }
    def f2a(v: Double) = if (v < 1) f2(v) else f1(v)
    // last-resort tier: whole seconds above 1 s (sub-second keeps 100 ms) —
    // ~30 B under the f1 rendering at today's mix, so a loaded box's digit
    // inflation can't walk the line past the driver's ~1930 B tail budget
    def f0(v: Double) =
      if (v < 1) f1(v) else math.round(v).toString
    val sfName = new java.io.File(sfDir).getName
    // first rendering under budget wins: full 10 ms granularity, then
    // 100 ms for the multi-second queries only, then 100 ms everywhere,
    // then whole seconds
    val compact = Seq[Double => String](f2, f2a, f1, f0).iterator
      .map(jsonLine(times, _, sfName)).find(_.length <= 1870)
      .getOrElse(jsonLine(times, f0, sfName))
    if (compact.length > 1900) // each new bench query adds ~25 bytes; warn
      // BEFORE the silent head-clip regresses `parsed` to null again
      System.err.println(s"bench: compact line ${compact.length} B is near " +
        "the driver's 2000-char stdout tail — trim the benched set or keys")
    // full-precision line first (log readers), then a sentinel, then the
    // compact line a bounded stdout tail is guaranteed to contain in full
    Seq(full, "GRAFT_BENCH_JSON", compact)
  }

  private def planDump(spark: SparkSession, sfDir: String,
      named: Seq[(String, Query)]): Unit = {
    val planDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/dev")
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "plan")
    val passes = sys.env.getOrElse("SPARK_GRAFT_TIME", "2").toInt
    Files.createDirectories(Paths.get(planDir))
    named.foreach { case (name, fn) =>
      spark.sparkContext.setJobDescription(s"plandump: $name")
      // NOTE: for queries that mutate scratch/store state, building the
      // frame already ran the side-effecting part; the explain below is the
      // returned frame's plan (the same frame the bench counts)
      val plan = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(planDir, s"${name}_$tag.txt"), plan.getBytes("UTF-8"))
      if (passes > 0) {
        // a failing query must fail LOUDLY (this mode produces the
        // committed plans/rNN evidence); the exception propagates with the
        // query named
        val t = Harness.time(passes)(fn(spark, sfDir).count()) match {
          case Success(t) => t
          case Failure(e) => throw new RuntimeException(s"PLANDUMP $name FAILED", e)
        }
        println(f"PLANDUMP $name%-32s min=${t.sec}%.3f  passes=${t.runs.map(s => f"$s%.3f").mkString(",")}")
      } else println(s"PLANDUMP $name plan-only")
    }
  }
}
