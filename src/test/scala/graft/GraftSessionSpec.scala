package graft

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftSession
import graft.plans.LearnedPlanStrategy

/** The session factory is the only way a graft session is built, so
  * its conf is pinned here once instead of drifting across mains. */
class GraftSessionSpec extends AnyFunSuite {
  import SparkTestSession._

  private def hasLearnedStrategy(s: org.apache.spark.sql.SparkSession): Boolean =
    s.sessionState.planner.extraPlanningStrategies
      .exists(_.isInstanceOf[LearnedPlanStrategy])

  test("factory conf: local[cpus], one partition per core, UTC, no UI, codegen cache, blocking cleanup") {
    val conf = spark.sparkContext.getConf
    assert(spark.sparkContext.master == s"local[$cpus]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == cpus.toString)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(conf.get("spark.cleaner.referenceTracking.blocking.shuffle") == "true")
    assert(!hasLearnedStrategy(spark), "the base session must not route")
  }

  test("routed = true installs LearnedPlanStrategy and turns AQE off") {
    withRoutedSession { routed =>
      assert(routed ne spark, "routed must be a fresh session")
      assert(hasLearnedStrategy(routed))
      assert(routed.conf.get("spark.sql.adaptive.enabled") == "false")
      assert(routed.conf.get("spark.sql.shuffle.partitions") == cpus.toString)
    }
    assert(org.apache.spark.sql.SparkSession.active eq spark,
      "the base session is restored after a routed one")
  }

  private def tempRoot(): File =
    Files.createTempDirectory("graft_scratch").toFile

  private def plant(root: File, pid: Long): File = {
    val d = new File(root, s"graft-shuffle-$pid")
    assert(new File(d, "blockmgr-x").mkdirs())
    Files.writeString(new File(d, "blockmgr-x/shuffle_0.data").toPath, "x")
    d
  }

  private def exitedPid(): Long = {
    val p = new ProcessBuilder("true").start()
    p.waitFor()
    p.pid()
  }

  test("scratch sweep removes only the dirs of exited processes, never a live JVM's") {
    val root = tempRoot()
    val live = new ProcessBuilder("sleep", "60").start()
    try {
      val liveDir = plant(root, live.pid())
      val deadDir = plant(root, exitedPid())
      val other = new File(root, "graft-shuffle-notapid")
      assert(other.mkdirs())
      val self = ProcessHandle.current.pid
      val s = GraftSession.resolveScratch(Map.empty[String, String].get, root,
        self, minHeadroom = 0L)
      val own = new File(root, s"graft-shuffle-$self")
      assert(s == GraftSession.Scratch(Some(own.getPath), own.getPath))
      assert(own.isDirectory, "the per-process dir is created")
      assert(!deadDir.exists, "an exited process's dir is removed")
      assert(new File(liveDir, "blockmgr-x/shuffle_0.data").isFile,
        "a live process's shuffle files are untouched")
      assert(other.isDirectory, "names that carry no pid are untouched")
    } finally {
      live.destroyForcibly().waitFor()
    }
  }

  test("SPARK_LOCAL_DIRS set: no shm dir created, nothing deleted, env value stamped") {
    val root = tempRoot()
    val deadDir = plant(root, exitedPid())
    def listing(): Set[Path] = Files.walk(root.toPath).iterator().asScala.toSet
    val before = listing()
    val env = Map("SPARK_LOCAL_DIRS" -> "/tmp/spark-local",
      "SPARK_GRAFT_LOCAL_DIR" -> "/ignored/because/spark/reads/env/first")
    val s = GraftSession.resolveScratch(env.get, root,
      ProcessHandle.current.pid, minHeadroom = 0L)
    assert(s == GraftSession.Scratch(None, "/tmp/spark-local"))
    assert(listing() == before, "the scratch root must be left exactly as it was")
    assert(deadDir.isDirectory)
  }

  test("SPARK_GRAFT_LOCAL_DIR and the headroom fallback pick the scratch without touching shm") {
    val root = tempRoot()
    val pid = ProcessHandle.current.pid
    assert(GraftSession.resolveScratch(Map("SPARK_GRAFT_LOCAL_DIR" -> "stock").get,
      root, pid, minHeadroom = 0L) == GraftSession.Scratch(None, "stock"))
    assert(GraftSession.resolveScratch(Map("SPARK_GRAFT_LOCAL_DIR" -> "/x/y").get,
      root, pid, minHeadroom = 0L) == GraftSession.Scratch(Some("/x/y"), "/x/y"))
    assert(GraftSession.resolveScratch(Map.empty[String, String].get,
      root, pid, minHeadroom = Long.MaxValue) == GraftSession.Scratch(None, "stock"))
    assert(root.list().isEmpty)
  }

  test("GraftSession is the only SparkSession builder in src/") {
    val src = Paths.get("src")
    assert(Files.isDirectory(src.resolve("main/scala/graft")), s"run from the repo root, not ${src.toAbsolutePath}")
    // split so this file does not match its own pattern
    val builder = ("SparkSession" + """\s*\.\s*builder\b""").r
    val offenders = Files.walk(src).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "GraftSession.scala")
      .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
      .map(_.toString).toSeq.sorted
    assert(offenders.isEmpty, s"build sessions through graft.engine.GraftSession: $offenders")
  }
}
