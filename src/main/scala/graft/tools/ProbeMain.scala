package graft.tools

import org.apache.spark.sql.execution.FormattedMode

import graft.engine.GraftSession

/** Investigation probe; not part of any gate. Two modes:
  *
  *  - timing: median-of-N single-JVM repetitions per named query (the
  *    r18 protocol — isolated single-run timings are noise-bound
  *    ±30-50% on this box; contention is additive so the MEDIAN of
  *    many same-JVM reps is the stable estimator).
  *    Usage: ProbeMain [sfDir] [reps] q1,q2,...
  *  - plans: dump `explain("formatted")` per named query into
  *    `<outDir>/<query>_<suffix>.txt` — the before/after plan evidence
  *    the optimization rounds commit under `plans/r<N>/`. Iterative
  *    queries (pr2, dd6…) execute their driver loop during plan
  *    construction; the dumped plan is the returned frame's.
  *    Usage: ProbeMain plans <sfDir> <outDir> <suffix> q1,q2,...
  */
object ProbeMain {
  def main(args: Array[String]): Unit =
    if (args.headOption.contains("plans")) plans(args.tail)
    else timing(args)

  private def names(arg: String): Seq[String] =
    arg.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  private def timing(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(11)
    val queries = args.lift(2).map(names).getOrElse(Seq("pr2_pagerank_converged"))
    val spark = GraftSession()
    graft.engine.Tables.registerAll(spark, sfDir)
    queries.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val times = (1 to reps).map { i =>
        GraftSession.reset(spark)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"  $name rep$i $s%.3f")
        s
      }
      val sorted = times.sorted
      println(f"MEDIAN $name ${sorted(reps / 2)}%.3f s  " +
        f"(min ${sorted.head}%.3f max ${sorted.last}%.3f, first ${times.head}%.3f)")
    }
    spark.stop()
  }

  private def plans(args: Array[String]): Unit = {
    require(args.length == 4, "usage: ProbeMain plans <sfDir> <outDir> <suffix> q1,q2,...")
    val Array(sfDir, outDir, suffix, list) = args
    val spark = GraftSession(
      extra = Seq("spark.sql.maxMetadataStringLength" -> "10000"))
    graft.engine.Tables.registerAll(spark, sfDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names(list).foreach { name =>
      GraftSession.reset(spark)
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
        s"== $name @ $sfDir ==\n${df.queryExecution.explainString(FormattedMode)}")
      println(s"dumped $name")
    }
    spark.stop()
  }
}
