package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The session's local file system keeps Hadoop's semantics (modes,
  * symlinks, missing paths) while starting no process. */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def mode(p: NioPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("writes and mkdirs leave Hadoop's umasked modes; a missing path is " +
       "FileNotFoundException; no process is started") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(new URI("file:///"), conf)
    val fc = FileContext.getFileContext(conf)
    val umask = FsPermission.getUMask(conf)
    val fileMode = FsPermission.getFileDefault.applyUMask(umask).toString
    val dirMode = FsPermission.getDirDefault.applyUMask(umask).toString
    val base = Files.createTempDirectory("graft_localfs")
    try {
      val spawns = ProcessStarts.fromHadoop(ProcessStarts.during {
        val out = base.resolve("lake")
        spark.range(20).repartition(2).write.parquet(out.toString)
        val parts = out.toFile.listFiles.filter(_.getName.startsWith("part-"))
        assert(parts.length == 2)
        parts.foreach(p => assert(mode(p.toPath) == fileMode, p))

        val viaFs = base.resolve("fs_dir")
        assert(fs.mkdirs(new Path(viaFs.toUri), FsPermission.getDirDefault.applyUMask(umask)))
        assert(mode(viaFs) == dirMode)
        val viaFc = base.resolve("fc_dir")
        fc.mkdir(new Path(viaFc.toUri), FsPermission.getDirDefault, true)
        assert(mode(viaFc) == dirMode)

        val f = new Path(base.resolve("f").toUri)
        fs.create(f).close()
        assert(mode(base.resolve("f")) == fileMode)
        fs.setPermission(f, new FsPermission("640"))
        assert(mode(base.resolve("f")) == "rw-r-----")
        assert(!fs.getFileLinkStatus(f).isSymlink)

        val missing = new Path(base.resolve("missing").toUri)
        intercept[FileNotFoundException](fs.setPermission(missing, new FsPermission("644")))
        intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
        intercept[FileNotFoundException](fc.getFileLinkStatus(missing))
      })
      assert(spawns.isEmpty, ProcessStarts.describe(spawns))
    } finally LocalFs.deleteTree(base)
  }

  private def checkpoints(): Set[File] =
    Seq(ops.StarJoins.scratchRoot, new File(sys.props("java.io.tmpdir")))
      .flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .filter(_.getName.startsWith("graft_ckpt")).toSet

  /** `drain` into a rollup dir that already holds a pre-upgrade
    * partial block (`old`'s columns only) must fail, name the missing
    * partial columns, and leave no checkpoint dir behind. */
  private def refusedDrain(old: Seq[String], missing: String)(
      drain: String => Unit): Unit = {
    val before = checkpoints()
    val rollup = Files.createTempDirectory("graft_localfs_mv").resolve("rollup")
    try {
      spark.range(1).select(old.map(col("id").as(_)): _*)
        .write.parquet(rollup.toString)
      val e = intercept[Exception](drain(rollup.toString))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage)
          .contains(s"lacks the spec's partial columns $missing")), e)
      assert(checkpoints().subsetOf(before), checkpoints() -- before)
    } finally LocalFs.deleteTree(rollup.getParent)
  }

  test("a failed stream drain leaves no checkpoint dir behind") {
    // a daily rollup without the mn/mx partials: the drain's first
    // batch refuses it
    refusedDrain(Seq("day", "user_id", "v_partial", "c_partial"),
                 "mn_partial, mx_partial, vn_partial") { dir =>
      streaming.Live.maintainRollup(
        Tables.normalizeTs(TestSpark.fileStream(TestSpark.sf, "events.parquet")),
        plans.RollupRouting.Spec("events.parquet", dir))
    }
  }

  test("a failed join-MV drain leaves no checkpoint dir behind") {
    // a revenue rollup from before the coverage column was added
    refusedDrain(Seq("o_orderkey", "c_mktsegment", "rev_partial", "n_lines_partial"),
                 "o_orderdate") { dir =>
      streaming.Live.maintainJoinRollup(
        TestSpark.fileStream(TestSpark.sf, "lineitem.parquet"), "lineitem",
        Map("orders" -> Tables.orders(spark, TestSpark.sf),
            "customer" -> Tables.customer(spark, TestSpark.sf)),
        plans.RollupRouting.JoinSpec.revenueSegmentDated(dir))
    }
  }

  test("getFileLinkStatus still reports a symlink and its target") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(new URI("file:///"), conf)
    val base = Files.createTempDirectory("graft_localfs_link")
    try {
      val target = Files.createFile(base.resolve("target"))
      val link = Files.createSymbolicLink(base.resolve("link"), target)
      // Hadoop's own readlink path sees a link only under a scheme-less
      // path (it runs `readlink file:/...` otherwise), so ask as it would
      val linkPath = new Path(link.toString)
      val st = fs.getFileLinkStatus(linkPath)
      assert(st.isSymlink)
      assert(st.getSymlink == new Path(target.toUri))
      val viaFc = FileContext.getFileContext(conf).getFileLinkStatus(linkPath)
      assert(viaFc.isSymlink)
      assert(viaFc.getSymlink == new Path(target.toUri))
    } finally LocalFs.deleteTree(base)
  }

  test("scratch paths sit under this process's root; deleteTree removes a " +
       "symlink without following it") {
    val root = new File(sys.props("java.io.tmpdir"),
      s"graft_run_${ProcessHandle.current.pid}").getAbsolutePath
    assert(ops.StarJoins.scratchRoot.getAbsolutePath == root)
    Seq(TestSpark.sf, "/elsewhere/sf1").foreach { sf =>
      Seq("daily_rollup", "advised_orders").foreach { name =>
        val dir = ops.StarJoins.scratch(sf, name)
        assert(new File(dir).getParent == root, dir)
      }
    }
    // q157's per-run refresh dir is scratch too, so the exit hook removes it
    val refreshed = ops.Rollups.refreshedDailyRollup(spark, TestSpark.sf).inputFiles
    assert(refreshed.nonEmpty)
    refreshed.foreach(f => assert(new URI(f).getPath.startsWith(root + File.separator), f))
    // so are a stream drain's result sink and a stream-maintained MV (q32)
    Seq(streaming.Live.streamingDedup(spark, TestSpark.sf),
        streaming.Live.streamingDaily(spark, TestSpark.sf)).foreach { df =>
      assert(df.inputFiles.nonEmpty)
      df.inputFiles.foreach(f => assert(new URI(f).getPath.startsWith(root + File.separator), f))
    }
    // and the TTL lifecycles' lakes and rollups (q160, q173)
    Seq(ops.Lifecycle.ttlAggregatedDaily(spark, TestSpark.sf),
        ops.Lifecycle.ttlAggregatedOrders(spark, TestSpark.sf)).foreach { df =>
      assert(df.inputFiles.nonEmpty)
      df.inputFiles.foreach(f => assert(new URI(f).getPath.startsWith(root + File.separator), f))
    }
    val base = Files.createTempDirectory("graft_localfs_tree")
    val outside = Files.createTempDirectory("graft_localfs_kept")
    try {
      Files.createFile(outside.resolve("kept"))
      Files.createDirectories(base.resolve("a/b"))
      Files.createFile(base.resolve("a/b/c"))
      Files.createSymbolicLink(base.resolve("a/out"), outside)
      LocalFs.deleteTree(base)
      assert(!Files.exists(base))
      assert(Files.exists(outside.resolve("kept")))
    } finally LocalFs.deleteTree(outside)
  }
}
