package graft.tables

import graft.SparkSpec
import org.apache.hadoop.fs.Path

/** Scratch lifecycle: heartbeat-gated sibling reclamation (a live-but-idle
  * app must survive another app's cleanup — ADVICE r4 high), app-id-shaped
  * names only, and the configurable generation bound.
  */
class ScratchSpec extends SparkSpec {
  import spark.implicits._

  private def fs = new Path(Scratch.root(spark))
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("stage writes refresh the app heartbeat") {
    Scratch.stage(Seq((1, "a")).toDF("id", "v"), "hb_probe")
    val hb = new Path(Scratch.root(spark), "_heartbeat")
    assert(fs.exists(hb))
    val t0 = fs.getFileStatus(hb).getModificationTime
    Thread.sleep(1100) // local-FS mtime granularity is 1s
    Scratch.stage(Seq((2, "b")).toDF("id", "v"), "hb_probe")
    assert(fs.getFileStatus(hb).getModificationTime > t0)
  }

  test("cleanup reaps only stale-heartbeat app-id siblings") {
    Scratch.stage(Seq((1, "a")).toDF("id", "v"), "cl_probe")
    val parent = new Path(Scratch.root(spark)).getParent
    val twoHoursAgo = System.currentTimeMillis() - 2L * 60 * 60 * 1000

    // crashed sibling: app-id name, heartbeat stale for 2h → reaped
    val dead = new Path(parent, "local-111-dead")
    fs.mkdirs(dead)
    fs.create(new Path(dead, "_heartbeat"), true).close()
    fs.setTimes(new Path(dead, "_heartbeat"), twoHoursAgo, -1)

    // live-but-paused sibling: fresh heartbeat, dir mtime artificially old
    // (mtime is NOT a liveness signal — the r4 failure mode) → survives
    val alive = new Path(parent, "local-222-alive")
    fs.mkdirs(alive)
    fs.create(new Path(alive, "_heartbeat"), true).close()
    fs.setTimes(alive, twoHoursAgo, -1)

    // non-app-shaped directory under a shared root: NEVER touched, however
    // stale it looks
    val foreign = new Path(parent, "userdata")
    fs.mkdirs(foreign)
    fs.setTimes(foreign, twoHoursAgo, -1)

    // app-id-shaped but NO heartbeat (mid-first-write, or another tool):
    // dir mtime must not stand in as a liveness signal → survives
    val unmarked = new Path(parent, "local-333-nomark")
    fs.mkdirs(unmarked)
    fs.setTimes(unmarked, twoHoursAgo, -1)

    try {
      Scratch.cleanup(spark)
      assert(!fs.exists(dead), "stale-heartbeat app dir must be reclaimed")
      assert(fs.exists(alive), "fresh-heartbeat app dir must survive")
      assert(fs.exists(foreign), "non-app-id dir must never be touched")
      assert(fs.exists(unmarked), "heartbeat-less app dir must survive (dir mtime is not liveness)")
      assert(!fs.exists(new Path(Scratch.root(spark))), "own namespace removed")
    } finally {
      fs.delete(alive, true)
      fs.delete(foreign, true)
      fs.delete(unmarked, true)
      ()
    }
  }

  test("gc honors graft.scratch.keepLast") {
    spark.conf.set("graft.scratch.keepLast", "2")
    try {
      val dfs = (1 to 4).map { i =>
        Scratch.stage(Seq((i, s"v$i")).toDF("id", "v"), "keep_probe")
      }
      val family = new Path(Scratch.root(spark), ".publish/keep_probe")
      val left = fs.listStatus(family).map(_.getPath.getName)
        .collect { case n if n.matches(".*_g[0-9]+") => n.replaceAll(".*_g", "").toInt }
      // 4 generations written, keepLast=2 → only the newest two remain
      assert(left.sorted.toSeq === Seq(3, 4))
      // and the survivors still read back
      assert(dfs.last.collect().map(_.getInt(0)).toSeq === Seq(4))
    } finally spark.conf.unset("graft.scratch.keepLast")
  }

  test("gc refuses keepLast <= 0 (would delete the generation just staged)") {
    // conf-supplied zero: must fail fast naming the key, not silently
    // delete the generation stage() just wrote
    spark.conf.set("graft.scratch.keepLast", "0")
    try {
      val ex = intercept[IllegalArgumentException] {
        Scratch.stage(Seq((1, "a")).toDF("id", "v"), "keep_zero_probe")
      }
      assert(ex.getMessage.contains("graft.scratch.keepLast"))
    } finally spark.conf.unset("graft.scratch.keepLast")
    // and a staged frame written under a VALID bound still reads back
    val df = Scratch.stage(Seq((7, "ok")).toDF("id", "v"), "keep_zero_probe")
    assert(df.collect().map(_.getInt(0)).toSeq === Seq(7))
  }

  test("a partitioned stage reads back as overwrite + read would, written once: no swap dir, no sidecar") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_scratch_once").toString
    spark.conf.set("graft.scratch.dir", tmp)
    try {
      val df = Seq((1L, "a", 7, 1.5), (2L, "b", 8, 2.5), (3L, "c", 7, 3.5), (4L, "d", 9, 4.5))
        .toDF("id", "v", "p", "x")
      val staged = Scratch.stage(df, "once_probe", Seq("p"))
      val ref = new TableStore(spark,
        java.nio.file.Files.createTempDirectory("graft_scratch_ref").toString)
      ref.overwrite("once_probe", df, Seq("p"))
      val want = ref.read("once_probe")
      assert(staged.columns.toSeq === want.columns.toSeq)
      assert(staged.columns.last === "p", "partition column comes back last")
      def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq).sortBy(_.head.toString)
      assert(rows(staged).toSeq === rows(want).toSeq)
      val root = new Path(Scratch.root(spark))
      val it = fs.listFiles(root, true)
      val names = Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString).toSeq
      assert(names.exists(_.contains("/.publish/once_probe/")), s"stage not found: $names")
      assert(!names.exists(n => n.contains("/.staging_") || n.contains("/.trash_") ||
        n.endsWith("/_graft_schema.json")), s"a swap dir or sidecar under the root: $names")
    } finally {
      spark.conf.unset("graft.scratch.dir")
      fs.delete(new Path(tmp), true)
      ()
    }
  }
}
