package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.{Clustering, CorpusIO, Dedup, EntityResolution, Graph, Multimodal, Similarity, TextAnalysis}
import graft.planopt.HeldOut
import graft.queries.{Extended, JoinVariants, Relational}
import graft.streaming.EventStreams

/** One benchmark query: the module that defines it, its name, and the
  * call into that module's builder. */
final case class Query(module: String, name: String, build: SparkSession => DataFrame)

/** The workloads. The suite runs a fixed set of queries, one per
  * module, in a seed-permuted order; the routing workload runs a fixed
  * spread of the learned chooser's held-out pool queries, also in a
  * seed-permuted order. */
sealed trait Workload { def name: String; def sf: String; def steadyPasses: Int }
final case class Suite(name: String, sf: String, steadyPasses: Int,
                       modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame], String)])
  extends Workload
final case class Routing(name: String, sf: String, steadyPasses: Int, coldPasses: Int,
                         size: Int, maxRelations: Int)
  extends Workload

object Workloads {
  val all: Seq[Workload] = Seq(
    // Per module, the query nearest the module's median warm time
    // among its queries that take at most 1 s cold at sf0.01. Graph and
    // Clustering use their median query: no Clustering query is that
    // cheap, and Graph's, pr1_pagerank, is the build-heavy query (its
    // builder runs 18 jobs). README.md lists the measurements. Two
    // warm passes: with one, host slowdowns of a few seconds spread
    // warm_total_s by 23% across ten seeds on a 4-core box.
    Suite("suite_sf0.01", "sf0.01", steadyPasses = 2, modules = Seq(
      ("queries.Relational", Relational.defs, "j1_join_2way"),
      ("queries.JoinVariants", JoinVariants.defs, "j2_variant_broadcast"),
      ("queries.Extended", Extended.defs, "x15_except"),
      ("streaming.EventStreams", EventStreams.defs, "evt5_attribution"),
      ("pipeline.Dedup", Dedup.defs, "dd4_simhash"),
      ("pipeline.Similarity", Similarity.defs, "sim4_knn_join"),
      ("pipeline.TextAnalysis", TextAnalysis.defs, "txt6_ngram_topk"),
      ("pipeline.Multimodal", Multimodal.defs, "mm6_mixed_resize"),
      ("pipeline.CorpusIO", CorpusIO.defs, "io8_upsert_merge"),
      ("pipeline.Graph", Graph.defs, "pr1_pagerank"),
      ("pipeline.Clustering", Clustering.defs, "sdd1_semantic_dedup"),
      ("pipeline.EntityResolution", EntityResolution.defs, "er1_entity_resolution"))),
    // two first routed passes, each from an empty choice cache: one
    // sweep per query left cold_total_s spread 17% across ten seeds
    // on a 4-core box
    Routing("routing_sf0.001", "sf0.001", steadyPasses = 2, coldPasses = 2, size = 6,
      maxRelations = 6))

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name'; expected one of ${all.map(_.name).mkString(", ")}"))

  def suiteQueries(s: Suite, sfDir: String, seed: Long): Seq[Query] = {
    val qs = s.modules.map { case (module, defs, name) =>
      val f = defs.getOrElse(name, throw new NoSuchElementException(s"$module has no query $name"))
      Query(module, name, (spark: SparkSession) => f(spark, sfDir))
    }
    new scala.util.Random(seed).shuffle(qs)
  }

  /** Joins outside the held-out set (two of the chooser's fixed seed
    * queries, a small and a large one) that warm up the routing code
    * path. */
  def routingWarmup(sfDir: String): Seq[Query] =
    Seq("j1_join_2way", "j1_join_7way").map { n =>
      Query("routing", n, (spark: SparkSession) => Relational.defs(n)(spark, sfDir))
    }

  /** `r.size` held-out queries of at most `r.maxRelations` relations,
    * spread evenly over that range of join sizes, in a seed-permuted
    * order. The set is fixed, so totals compare across seeds. */
  def routingQueries(r: Routing, poolFile: String, sfDir: String, seed: Long): Seq[Query] = {
    def relations(sql: String) = " AS ".r.findAllMatchIn(sql.toUpperCase).size
    val held = HeldOut.queries(poolFile, sfDir).zipWithIndex
      .filter { case ((_, sql), _) => relations(sql) <= r.maxRelations }
      .sortBy { case ((_, sql), i) => (relations(sql), i) }
      .map(_._1)
    val picked = (0 until r.size).map(k => held(((2 * k + 1) * held.size) / (2 * r.size)))
    new scala.util.Random(seed).shuffle(picked).map { case (name, sql) =>
      Query("routing", name, (spark: SparkSession) => spark.sql(sql.stripSuffix(";")))
    }
  }
}
