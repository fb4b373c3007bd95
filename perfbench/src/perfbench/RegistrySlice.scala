package perfbench

import scala.collection.mutable
import graft.SparkEntry
import graft.core.Tables
import Harness._

/** Registry queries through `SparkEntry.queries`, each written to the
  * `noop` sink, one client in a closed loop over whole passes, on a corpus
  * the launcher derives from the seed.
  *
  * The slice keeps a query from each family the ROADMAP items target,
  * sized so a set-up pass and a measured pass fit one run: the cosine pair
  * join (d9), PageRank (g1), the changelog scan (s24), a sketch with no
  * oracle (d11) and sub-second relational queries that expose the
  * per-query fixed cost. */
object RegistrySlice {

  val Families: Seq[(String, Seq[String])] = Seq(
    "sim" -> Seq("d9_dedup_embedding_cosine"),
    "graph" -> Seq("g1_pagerank"),
    "table" -> Seq("s24_changelog_scan"),
    "sketch" -> Seq("d11_sketch_stats"),
    "rel" -> Seq("s2_star_projection", "p2_cast", "j1_inner_equijoin", "a1_groupby_aggregates"))

  val Queries: Seq[String] = Families.flatMap(_._2)
  private val familyOf: Map[String, String] =
    Families.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap

  def run(a: Args): Unit = {
    val spark = session(a)
    val o = new Outcome
    val corpus = a.data
    val results = s"${a.work}/results"
    // set-up pass: JIT, codegen and every scratch artifact the slice reads
    // are built here; its results are what the oracle check compares
    Queries.foreach { q =>
      o.op(s"$q (set-up pass)")(SparkEntry.queries(q)(spark, corpus)
        .coalesce(1).write.mode("overwrite").parquet(s"$results/$q"))
      spark.catalog.clearCache()
    }
    writeJson(s"$results/oracle_sql.json", SparkEntry.oracleSql.filter(kv => Queries.contains(kv._1)))
    val artifacts = Tables.artifactReport
    val setupS = uptimeS

    val t = new Trace(spark, a.trace)
    val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val gc0 = gcS
    val start = System.nanoTime()
    var passes = 0
    while (passes == 0 || (System.nanoTime() - start) / 1e9 < a.seconds) {
      passes += 1
      val cpu0 = cpuS
      Queries.foreach { q =>
        val (ok, s) = timed(t.span(q, s"queries.${familyOf(q)}.$q")(o.op(q)(
          SparkEntry.queries(q)(spark, corpus).write.format("noop").mode("overwrite").save())))
        spark.catalog.clearCache()
        if (ok.isDefined) samples.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += s
      }
      passCpu += cpuS - cpu0
    }
    val measuredS = (System.nanoTime() - start) / 1e9
    val gc = gcS - gc0
    t.stop()

    val med = samples.map { case (q, v) => q -> median(v.toSeq) }.toMap
    val all = samples.values.flatten.toSeq
    val n = passes.toDouble
    def perPass(prefix: String, key: String) = t.sum(prefix, key) / n
    val layers = med.map { case (q, v) => s"queries.${q}_s" -> v } ++
      Families.map(_._1).flatMap { f =>
        val p = s"queries.$f."
        Seq(
          s"$p" + "plan_s" -> (perPass(p, "analysis_s") + perPass(p, "optimization_s") +
            perPass(p, "planning_s")),
          s"$p" + "exec_s" -> perPass(p, "qe_s"),
          s"$p" + "jobs" -> perPass(p, "jobs"),
          s"$p" + "shuffle_bytes" -> perPass(p, "shuffle_bytes"),
          s"$p" + "exchanges" -> (perPass(p, "shuffle_exchanges") +
            perPass(p, "broadcast_exchanges")))
      } ++ Map(
        "core.artifacts_built" -> artifacts.count(_._2.isDefined).toDouble,
        "core.artifact_build_s" -> artifacts.values.flatten.sum,
        "process.gc_s" -> gc / n)

    val suite = med.values.sum
    val metrics = Map(
      "setup_s" -> setupS,
      "unit_s" -> suite,
      "unit_cpu_s" -> median(passCpu.toSeq),
      "op_geomean_ms" -> geomean(all) * 1e3,
      "peak_rss_mb" -> peakRssMb,
      "suite_s" -> suite,
      "query_geomean_ms" -> (if (med.isEmpty) 0.0 else geomean(med.values.toSeq) * 1e3),
      "suite_cpu_s" -> median(passCpu.toSeq),
      "passes" -> n,
      "measured_s" -> measuredS)
    finish(a, spark, o, metrics, layers, t, Map(
      "workload" -> "registry_slice",
      "queries" -> Queries, "loop" -> "closed", "clients" -> 1))
    spark.stop()
  }
}
