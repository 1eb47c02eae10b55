package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.graftbench.BusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.engine.{GraftExtensions, Tables}
import graft.pipeline.{CorpusIO, Similarity}
import graft.plans.{PlanChoice, RoutingProbe}

/** Closed-loop benchmark program: one client, one query at a time, in
  * a single JVM. Writes the raw samples of one run to
  * `<out>/run.json` (and, traced, the spans to `<out>/spans.json`);
  * `run.py` turns them into metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --data DIR --out DIR --repo DIR
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, out: String, repo: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("out"), need("repo"))
  }

  /** Set-up repetitions per run; `setup_s` is their median. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val clock = mutable.LinkedHashMap[String, Any](
      "jvm_start" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "main" -> System.currentTimeMillis())
    val wl = Workloads.byName(a.workload)
    val slots = math.min(4, Runtime.getRuntime.availableProcessors)
    val sfDir = new File(a.data, wl.sf).getAbsolutePath
    val indexDir = sys.env.getOrElse("GRAFT_INDEX_DIR",
      throw new IllegalStateException("GRAFT_INDEX_DIR must name this run's own index directory"))
    val localDir = new File(a.out, "spark-local").getAbsolutePath
    val routing = wl.isInstanceOf[Routing]

    val b = SparkSession.builder()
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", new File(a.out, "warehouse").getAbsolutePath)
      // the repo bench's session settings: a codegen cache that holds a
      // whole suite, and blocking shuffle cleanup between queries
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
    if (routing) {
      b.withExtensions(new GraftExtensions)
        .config("spark.sql.adaptive.enabled", "false")
        .config(PlanChoice.MinInputBytesKey, "0")
    }
    val base = b.getOrCreate()
    clock("session") = System.currentTimeMillis()
    base.sparkContext.setLogLevel("ERROR")

    val ledger = if (a.trace) Some(new Ledger(slots)) else None
    ledger.foreach(base.sparkContext.addSparkListener)

    // ---- set-up: registration (and on routing the model install),
    // repeated on fresh sessions
    val setup = (1 to SetupReps).map { _ =>
      val r = setUp(base, wl, sfDir, a.repo)
      System.err.println(s"[perfbench] setup ${r._2}")
      r
    }
    val spark = setup.last._1
    clock("setup") = System.currentTimeMillis()
    ledger.foreach(spark.listenerManager.register)
    ledger.foreach(_.clear())
    heapPools.foreach(_.resetPeakUsage())

    val runner = new Runner(spark, ledger, slots)
    val t0 = System.nanoTime()
    var paused = 0L
    def elapsed = (System.nanoTime() - t0 - paused) / 1e9
    // The output check runs between the first pass and the steady
    // passes: untimed and outside the --seconds window, and the steady
    // passes then start from settled JIT and codegen caches.
    var check = Map.empty[String, Any]
    def checkNow(body: => Map[String, Any]): Unit = {
      val c0 = System.nanoTime()
      runner.detach()
      check = body
      paused += System.nanoTime() - c0
    }
    // A fixed number of steady passes, so that per-query medians do
    // not shift with how many passes a slower or faster run fits in;
    // --seconds caps the window on a slow machine (at least one pass).
    // Traced, each query runs traced in one of the first two steady
    // passes and untraced in the other, traced first for every other
    // query, so the run measures its own tracing overhead; those two
    // passes always run.
    var steady = 0
    val minPasses = if (a.trace) 2 else 1
    val passes = math.max(minPasses, wl.steadyPasses)
    def another: Boolean = steady < passes && (steady < minPasses || elapsed <= a.seconds)
    def tracedAt(i: Int): Boolean = ledger.isDefined && (i + steady) % 2 == 0
    val queries = wl match {
      case s: Suite =>
        val qs = Workloads.suiteQueries(s, sfDir, a.seed)
        runner.pass("cold", qs)
        checkNow(writeResults(spark, qs, new File(a.out, "results")))
        while (another) {
          runner.pass("warm", qs, tracedAt)
          steady += 1
        }
        qs
      case r: Routing =>
        val qs = Workloads.routingQueries(r,
          new File(a.repo, "results/r14_pool/train_pool.txt").getPath, sfDir, a.seed)
        def side(on: Boolean) = spark.conf.set(PlanChoice.EnabledKey, on.toString)
        side(false); runner.pass("native_warmup", qs)
        // routed joins outside the set first, so the first measured
        // queries do not also pay the JVM's first runs of the strategy
        side(true); runner.pass("routed_warmup", Workloads.routingWarmup(sfDir))
        (1 to r.coldPasses).foreach { _ =>
          RoutingProbe.clearChoices()
          runner.pass("routed_cold", qs)
        }
        checkNow(compareRouted(spark, qs))
        while (another) {
          side(false); runner.pass("native", qs, tracedAt)
          side(true); runner.pass("routed", qs, tracedAt)
          steady += 1
        }
        qs
    }
    val measuredS = elapsed
    clock("measured") = System.currentTimeMillis()
    val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum
    runner.detach()

    val scoring = if (a.trace && routing) scoreTimes(spark, queries) else Nil
    // The ANN-index and bucketed-layout pre-warm: no suite query reads
    // them, so it is timed once, traced, outside the measured window.
    val prewarmMs = if (a.trace && !routing) prewarm(spark, sfDir, indexDir) else 0.0
    clock("finished") = System.currentTimeMillis()

    val art = Map[String, Any](
      "workload" -> wl.name, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "measured_s" -> measuredS,
      "provenance" -> provenance(spark, slots, localDir, sfDir),
      "setup" -> setup.map(_._2),
      "prewarm_ms" -> prewarmMs,
      "samples" -> runner.samples,
      "check" -> check,
      "score" -> scoring,
      "heap_peak_bytes" -> heapPeak,
      "clock_ms" -> clock)
    write(new File(a.out, "run.json"), toJson(art))
    if (a.trace) write(new File(a.out, "spans.json"), toJson(runner.spans))
    spark.stop()
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def toJson(v: Any): String = mapper.writeValueAsString(v)

  /** Writes a file or throws: a lost artifact must fail the run. */
  def write(f: File, text: String): Unit = {
    Files.writeString(f.toPath, text + "\n")
    if (!f.isFile || f.length == 0) throw new java.io.IOException(s"artifact not written: $f")
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
      !p.getName.toLowerCase.contains("eden"))

  /** One set-up: a fresh session over the shared context, table
    * registration, and on routing the model install. */
  def setUp(base: SparkSession, wl: Workload, sfDir: String,
            repo: String): (SparkSession, Map[String, Any]) = {
    val s = base.newSession()
    val t0 = System.nanoTime()
    Tables.registerAll(s, sfDir)
    val t1 = System.nanoTime()
    val parts = mutable.LinkedHashMap[String, Any]("register_ms" -> (t1 - t0) / 1e6)
    wl match {
      case _: Routing =>
        PlanChoice.installFrom(new File(repo, "results/r18_stable_1000/stable_model").getPath)
        if (PlanChoice.current.isEmpty || PlanChoice.gate.isEmpty)
          throw new IllegalStateException("model or margin gate did not install")
        parts("install_ms") = (System.nanoTime() - t1) / 1e6
      case _ =>
    }
    parts("total_ms") = (System.nanoTime() - t0) / 1e6
    (s, parts.toMap)
  }

  /** Builds the ANN indexes and the bucketed layout into this run's
    * empty index directory; fails unless all three landed. */
  def prewarm(spark: SparkSession, sfDir: String, indexDir: String): Double = {
    val idx = new File(indexDir)
    val t0 = System.nanoTime()
    Similarity.ensureAnnIndexes(spark, sfDir)
    CorpusIO.prewarmBucketLayout(spark, sfDir)
    val ms = (System.nanoTime() - t0) / 1e6
    val built = Option(idx.list).map(_.toSeq).getOrElse(Nil)
    Seq("ivf_", "lsh_", "bkt_").foreach { p =>
      if (!built.exists(_.startsWith(p)))
        throw new IllegalStateException(s"pre-warm left no $p* index under $idx: $built")
    }
    ms
  }

  /** Runs every query once more and writes its result as parquet for
    * the digest check. */
  def writeResults(spark: SparkSession, qs: Seq[Query], dir: File): Map[String, Any] = {
    val errors = mutable.LinkedHashMap[String, String]()
    qs.sortBy(_.name).foreach { q =>
      try q.build(spark).write.mode("overwrite")
        .parquet(new File(dir, q.name).getPath)
      catch { case NonFatal(e) => errors(q.name) = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      Runner.reset(spark)
    }
    Map("kind" -> "digest", "dir" -> dir.getPath, "errors" -> errors)
  }

  /** Each routed result must equal the native result. */
  def compareRouted(spark: SparkSession, qs: Seq[Query]): Map[String, Any] = {
    val errors = mutable.LinkedHashMap[String, String]()
    def rows(on: Boolean, q: Query): Seq[String] = {
      spark.conf.set(PlanChoice.EnabledKey, on.toString)
      q.build(spark).collect().toSeq.map(_.toString).sorted
    }
    qs.foreach { q =>
      try {
        val (n, r) = (rows(on = false, q), rows(on = true, q))
        if (n != r) errors(q.name) = s"routed ${r.take(3)} != native ${n.take(3)}"
      } catch { case NonFatal(e) => errors(q.name) = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    }
    Map("kind" -> "routed_equals_native", "checked" -> qs.size, "errors" -> errors)
  }

  /** Time to score each query's candidate plans: featurize the
    * enumerated candidates and run the comparator over them. */
  def scoreTimes(spark: SparkSession, qs: Seq[Query]): Seq[Map[String, Any]] = {
    val (model, gen) = PlanChoice.current.get
    spark.conf.set(PlanChoice.EnabledKey, "false")
    qs.map { q =>
      val cands = graft.planopt.Candidates.enumerate(spark, q.build)
      val t0 = System.nanoTime()
      model.predict(cands.map(c => gen.transform(c.plan)))
      Map("query" -> q.name, "candidates" -> cands.size,
        "score_ms" -> (System.nanoTime() - t0) / 1e6)
    }
  }

  def provenance(spark: SparkSession, slots: Int, localDir: String,
                 sfDir: String): Map[String, Any] = {
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(x => x.startsWith("-X") || x.startsWith("-XX"))
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "adaptive" -> spark.conf.get("spark.sql.adaptive.enabled"),
      "jvm_flags" -> jvmArgs,
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName),
      "scratch" -> localDir,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "data_dir" -> sfDir)
  }
}

/** Times queries and keeps every raw sample. */
final class Runner(spark: SparkSession, ledger: Option[Ledger], slots: Int) {
  val samples = mutable.ArrayBuffer[Map[String, Any]]()
  val spans = mutable.ArrayBuffer[Map[String, Any]]()
  private var attached = ledger.isDefined
  private var passNo = 0

  def detach(): Unit = attach(false)

  private def attach(on: Boolean): Unit = ledger.foreach { l =>
    if (on && !attached) {
      spark.sparkContext.addSparkListener(l); spark.listenerManager.register(l)
    } else if (!on && attached) {
      spark.listenerManager.unregister(l); spark.sparkContext.removeSparkListener(l)
    }
    attached = on
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Runs `qs` once each. Traced runs trace the i-th query when
    * `tracedAt(i)`; its untraced samples go under `<name>_untraced`. */
  def pass(name: String, qs: Seq[Query], tracedAt: Int => Boolean = _ => true): Unit = {
    qs.zipWithIndex.foreach { case (q, i) =>
      val traced = ledger.isDefined && tracedAt(i)
      attach(traced)
      one(if (traced || ledger.isEmpty) name else name + "_untraced", q, traced)
    }
    passNo += 1
  }

  private def one(pass: String, q: Query, traced: Boolean): Unit = {
    Runner.reset(spark)
    if (traced) { BusDrain(spark.sparkContext); ledger.foreach(_.clear()) }
    val gc0 = gcMs
    val cg0 = CodeGenerator.compileTime
    val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val cache0 = RoutingProbe.choiceCacheSize
    val byp0 = PlanChoice.bypassCount.get
    val dec0 = PlanChoice.gateDeclineCount.get
    PlanChoice.lastChoice.set(None)

    var error: String = null
    val e0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    var n1 = n0
    var e1 = e0
    var df: DataFrame = null
    try {
      df = q.build(spark)
      n1 = System.nanoTime(); e1 = System.currentTimeMillis()
      df.write.format("noop").mode("overwrite").save()
    } catch { case NonFatal(e) =>
      error = s"${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    val n2 = System.nanoTime()
    val e2 = System.currentTimeMillis()
    if (n1 == n0) n1 = n2

    val choice = PlanChoice.lastChoice.get
    val row = mutable.LinkedHashMap[String, Any](
      "pass" -> pass, "pass_no" -> passNo, "query" -> q.name, "module" -> q.module,
      "wall_ms" -> (n2 - n0) / 1e6, "build_ms" -> (n1 - n0) / 1e6,
      "ok" -> (error == null), "error" -> error,
      "routed" -> choice.isDefined,
      "candidates" -> choice.map(_.nCandidates).getOrElse(0),
      "declines" -> (PlanChoice.gateDeclineCount.get - dec0),
      "bypasses" -> (PlanChoice.bypassCount.get - byp0),
      "cache_growth" -> (RoutingProbe.choiceCacheSize - cache0))
    if (traced) ledger.foreach { l =>
      BusDrain(spark.sparkContext)
      val analyzed = Option(df).flatMap(_.queryExecution.tracker.phases.get("analysis"))
        .map(_.endTimeMs).getOrElse(e1)
      val (split, sp) = l.take(q.name, e0, e1, e2, analyzed)
      row ++= split
      row("gc_jvm_ms") = gcMs - gc0
      row("codegen_compile_ms") = (CodeGenerator.compileTime - cg0) / 1e6
      row("codegen_classes") = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0
      spans ++= sp.map(_ + ("pass" -> pass))
    }
    samples += row.toMap
    System.err.println(f"[perfbench] $pass%-16s ${q.name}%-32s ${(n2 - n0) / 1e6}%10.1f ms")
  }
}

object Runner {
  /** Per-query isolation, outside the timed window: drop cached
    * relations and persisted RDDs. No forced GC: a full collection of
    * the pre-touched heap costs about 0.2 s per query, and young
    * collections are part of a query's cost. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
