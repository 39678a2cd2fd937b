package graft.tables

import org.apache.spark.sql.SparkSession

/** Shared-filesystem scratch space for intermediate stage tables.
  *
  * Multi-pass queries (e.g. c1_curation's thrice-referenced filtered corpus)
  * materialize intermediates through here instead of a driver-local temp dir:
  * `java.nio.file.Files.createTempDirectory` resolves to `file:/tmp/...`,
  * which on a real cluster means every executor writes its shards to its own
  * local disk and the read-back sees only the driver-local fragment. The
  * scratch root must be a filesystem all executors share.
  *
  * Resolution order:
  *   1. `graft.scratch.dir` (runtime conf) — set this on a cluster
  *   2. `spark.sql.warehouse.dir`/_graft_scratch — the warehouse is a
  *      shared path in any properly configured deployment, and local runs
  *      get a working default with zero configuration
  *
  * Concurrency: the root is namespaced by Spark application id (two driver
  * processes sharing one warehouse never collide), and each stage is a
  * fresh generation dir `.publish/<base>/<application id>_g<n>` from
  * [[TableStore.stage]]'s per-family counter (two interleaved runs of the
  * same query in one session never clobber each other — no wall clock
  * involved, so replays stay deterministic). A stage is written once, in
  * place.
  *
  * Lifecycle: [[TableStore.stage]]'s sweep bounds the in-app leak
  * (generations of a family more than `graft.scratch.keepLast` behind its
  * counter are dropped at the family's next stage); the first [[stage]]
  * call registers a SparkListener that removes this app's whole
  * namespace, `.publish/` included, at application end, so normal exits
  * leave nothing behind; [[cleanup]] additionally reclaims crashed sibling
  * apps' namespaces — but ONLY directories that look like Spark application
  * ids AND whose `_heartbeat` file (touched on every stage write) has been
  * stale for over an hour. A live-but-paused app keeps its heartbeat's
  * mtime from its last write — if that is over an hour old it can still be
  * reclaimed, which is the documented residual risk of crash recovery
  * without a lease service; directory mtimes (unreliable on object stores)
  * are never consulted for liveness.
  */
object Scratch {

  private val ScratchSubdir = "_graft_scratch"
  private val HeartbeatFile = "_heartbeat"
  // sibling reclamation only ever touches directories we could have
  // created: Spark application-id shapes (local-*, app-*, application_*,
  // spark-*). A user-configured graft.scratch.dir containing unrelated
  // subdirectories never loses them to housekeeping.
  private val AppDirPattern = "^(local-|app-|application_|spark-).*".r

  // app ids whose end-of-application cleanup listener is already registered
  private val endHooks = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def root(spark: SparkSession): String =
    spark.conf.getOption("graft.scratch.dir")
      .getOrElse(s"${spark.conf.get("spark.sql.warehouse.dir")}/$ScratchSubdir") +
      "/" + spark.sparkContext.applicationId

  def store(spark: SparkSession): TableStore = new TableStore(spark, root(spark))

  /** Materialize `df` as a fresh generation of stage family `base` and
    * return a reader over it: one write, then every downstream reference
    * scans columnar parquet instead of re-evaluating the producing plan —
    * and the stage is a hard optimizer barrier (no predicate-pushdown
    * substitution of big projected expressions into filters). Optionally
    * hive-partitioned for downstream partition pruning.
    *
    * Every stage write refreshes this app's `_heartbeat` (the liveness
    * signal sibling reclamation checks) and — once per app — registers the
    * end-of-application cleanup listener.
    */
  def stage(df: org.apache.spark.sql.DataFrame, base: String,
      partitionBy: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    // heartbeat BEFORE the write too: the namespace must never exist
    // without a liveness marker (a sibling's cleanup() during a long first
    // write would otherwise see an unmarked directory)
    touchHeartbeat(spark)
    registerEndHook(spark)
    val rows = store(spark).stage(base, df, partitionBy).rows
    touchHeartbeat(spark)
    rows
  }

  /** Refresh this app's liveness marker (an empty `_heartbeat` file whose
    * mtime is the last stage write). File mtimes are the upload time on
    * object stores too — unlike directory mtimes, which S3A synthesizes.
    */
  private def touchHeartbeat(spark: SparkSession): Unit = {
    val p = new org.apache.hadoop.fs.Path(root(spark), HeartbeatFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(p, true).close()
  }

  /** Once per app: remove this app's namespace when the application ends —
    * normal exits (benches, test suites, notebooks) clean up after
    * themselves, making sibling reclamation a crash-recovery last resort.
    * Root and Hadoop conf are captured eagerly: at onApplicationEnd the
    * session is tearing down and conf lookups are no longer safe.
    */
  private def registerEndHook(spark: SparkSession): Unit = {
    val appId = spark.sparkContext.applicationId
    if (endHooks.add(appId)) {
      val rootPath = new org.apache.hadoop.fs.Path(root(spark))
      val hconf = new org.apache.hadoop.conf.Configuration(
        spark.sparkContext.hadoopConfiguration)
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          try rootPath.getFileSystem(hconf).delete(rootPath, true)
          catch { // best-effort: the app is ending, so say what was left
            case scala.util.control.NonFatal(ex) =>
              System.err.println(s"graft: could not remove scratch root $rootPath: $ex")
          }
      })
    }
  }

  /** Drop this application's entire scratch tree, and reclaim crashed
    * sibling app namespaces: directories that (a) are named like a Spark
    * application id and (b) have a `_heartbeat` stale for over an hour.
    * A namespace WITHOUT a heartbeat is never reaped (see
    * [[heartbeatStaleSince]]) — foreign or mid-first-write directories are
    * left alone, at the cost of never reclaiming a namespace from an app
    * that crashed before its first marker; remove those by hand. Live apps
    * refresh their heartbeat on every stage write, and normal exits remove
    * their namespace via the end-of-application listener — this reap only
    * ever fires for crashed JVMs. (Wall-clock here is housekeeping only —
    * never in a query path, so determinism/replay are unaffected.)
    */
  def cleanup(spark: SparkSession): Unit = {
    val mine = new org.apache.hadoop.fs.Path(root(spark))
    val fs = mine.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(mine, true)
    val parent = mine.getParent
    if (parent != null && fs.exists(parent)) {
      val idleMs = 60L * 60 * 1000
      val now = System.currentTimeMillis()
      fs.listStatus(parent)
        .filter { st =>
          st.isDirectory &&
          AppDirPattern.matches(st.getPath.getName) &&
          heartbeatStaleSince(fs, st, now) > idleMs
        }
        .foreach { st => fs.delete(st.getPath, true); () }
    }
  }

  /** Millis since the sibling's last liveness signal: its `_heartbeat`
    * mtime. A namespace WITHOUT a heartbeat is never considered stale
    * (returns 0): every stage() writes the marker before its first byte of
    * data, so an unmarked directory is either another tool's, or an app
    * caught in the instant before its first marker — and directory mtimes
    * (synthesized on object stores, epoch-zero on S3A) must not stand in
    * as a liveness signal.
    */
  private def heartbeatStaleSince(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.FileStatus, now: Long): Long = {
    val hb = new org.apache.hadoop.fs.Path(dir.getPath, HeartbeatFile)
    if (fs.exists(hb)) now - fs.getFileStatus(hb).getModificationTime else 0L
  }
}
