package graft.engine

import java.io.File

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is built (every main and spec
  * goes through [[GraftSession.apply]]), so the session policy cannot
  * drift between entry points. Callers pass only what really differs:
  * an explicit `cpus`, a few extra confs, or `routed = true`.
  */
object GraftSession {
  /** Worker threads: `SPARK_GRAFT_CPUS`, else every core of the host. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim)
    .filter(_.nonEmpty).map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Builds (or joins) the session: `local[cpus]` with one shuffle
    * partition per core, UTC, no UI, log level ERROR.
    *
    * `routed = true` builds a FRESH active/default session on the
    * shared SparkContext, wired with [[GraftExtensions]] so the
    * planner's learned strategy picks the physical plan, and with AQE
    * off so the chosen plan is the one that runs. The caller owns
    * restoring any previous active/default session. */
  def apply(cpus: Int = defaultCpus,
            extra: Seq[(String, String)] = Nil,
            routed: Boolean = false): SparkSession = {
    if (routed) {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // 51 queries × 2 passes blow through the default 100-entry
      // generated-class cache, so the "warm" pass was recompiling
      // every stage (warm ≈ cold on codegen-heavy queries, and the
      // tail of the run measured compilation, not execution)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // Synchronous shuffle-file cleanup: the ContextCleaner's async
      // queue lagged behind a 51-query suite, so dead shuffle files
      // from early queries accumulated on local disk and the heaviest
      // late queries (dd2/dd3) paid for it (r4: 28.9s in-suite vs 5.5s
      // isolated). Blocking cleanup bounds that backlog at one query.
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
    scratch.dir.foreach(d => b.config("spark.local.dir", d))
    if (routed)
      b.config("spark.sql.adaptive.enabled", "false")
        .withExtensions(new GraftExtensions)
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Per-query isolation, outside any timed region: drop cached
    * relations and the RDD-level persists `clearCache` cannot see (the
    * localCheckpoint blocks of dd6/dd8's CC loop), blocking so the
    * removal cannot overlap the next query, then nudge GC so the
    * ContextCleaner reclaims dead broadcast blocks (it runs off GC of
    * weak refs). */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Where this JVM's shuffle/spill scratch lives: `dir` is what the
    * factory sets as `spark.local.dir` (None = leave Spark's choice),
    * `stamp` is what Spark really uses, for provenance in artifacts. */
  final case class Scratch(dir: Option[String], stamp: String)

  /** Resolved once per JVM; every session of the process shares it. */
  lazy val scratch: Scratch =
    resolveScratch(sys.env.get, new File("/dev/shm"), ProcessHandle.current.pid)

  private val ShmPrefix = "graft-shuffle-"

  /** Scratch placement (r18, guide §2.1: local disk bandwidth for
    * shuffle files is often the binding limit — measured here, a tiny
    * one-exchange action went 0.385 s → 0.234 s median moving scratch
    * off the VM's disk). Placement changes where temp bytes live,
    * never what is computed. In order:
    *  - `SPARK_LOCAL_DIRS` set: Spark reads it before `spark.local.dir`
    *    (`Utils.getConfiguredLocalDirs`), so create and delete nothing
    *    and stamp the env value — the dirs Spark actually uses;
    *  - `SPARK_GRAFT_LOCAL_DIR`: `stock` keeps Spark's default dir,
    *    anything else is used as given;
    *  - otherwise a per-process `graft-shuffle-<pid>` under the RAM
    *    disk when it has `minHeadroom` free (bench-scale shuffles are
    *    MBs; the slack keeps an unexpectedly large spill from
    *    ENOSPC-ing mid-suite), after sweeping the dirs of runs whose
    *    process is gone; Spark's default dir when not. */
  def resolveScratch(env: String => Option[String], shm: File, pid: Long,
                     minHeadroom: Long = 8L << 30): Scratch =
    env("SPARK_LOCAL_DIRS") match {
      case Some(dirs) => Scratch(None, dirs)
      case None => env("SPARK_GRAFT_LOCAL_DIR").filter(_.nonEmpty) match {
        case Some("stock") => Scratch(None, "stock")
        case Some(d) => Scratch(Some(d), d)
        case None if shm.isDirectory && shm.canWrite =>
          sweepStale(shm)
          if (shm.getUsableSpace > minHeadroom) {
            val dir = new File(shm, s"$ShmPrefix$pid")
            dir.mkdirs()
            // Spark's shutdown hook removes its blockmgr-*/spark-* dirs
            // inside; this removes the then-empty parent after it
            dir.deleteOnExit()
            Scratch(Some(dir.getPath), dir.getPath)
          } else Scratch(None, "stock")
        case None => Scratch(None, "stock")
      }
    }

  /** Removes the `graft-shuffle-<pid>` dirs under `root` whose process
    * is no longer running (a crashed run's dead shuffle files would
    * otherwise hold RAM across sessions). A live process's dir — a
    * concurrent JVM on the same host — is never touched. */
  private def sweepStale(root: File): Unit = {
    val Owned = s"$ShmPrefix(\\d+)".r
    Option(root.listFiles()).toSeq.flatten.filter { f =>
      f.getName match {
        case Owned(p) => f.isDirectory &&
          scala.util.Try(p.toLong).toOption.exists(ProcessHandle.of(_).isEmpty)
        case _ => false
      }
    }.foreach(rm)
  }

  private def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(); ()
  }
}
