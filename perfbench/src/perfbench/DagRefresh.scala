package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, concat_ws, lit, sum}
import graft.pipeline.{DagRunner, LeagueFormat, Materialization, Model, Pipeline}
import graft.sources.{TableService, VersionedHiddenTable => VHT}
import Harness._

/** The paper's workload: the 40-model source → stage → main DAG on
  * reference-size feeds, materialized as `VersionedHiddenDir` snapshots and
  * refreshed day by day, with the draft app reading the fresh marts.
  *
  * Set-up starts the session, writes the ×10 feeds and builds all 40
  * models (day 0). Each measured refresh day lands a new dated partition of
  * two feeds, rebuilds the models downstream of them, reads `changes()` on
  * the 4 marts, runs `TableService.maintain` on all 40 tables and serves
  * one app session. One client, closed loop. */
object DagRefresh {

  val Scale = 10
  val Marts: Seq[String] = Seq("mart_preseason_overall_rankings_oc",
    "mart_preseason_overall_rankings_50s", "mart_sgp_factors", "mart_sgp_percentiles")
  val DraftPicks = 2
  /** The sources each refresh day lands a new partition of. */
  val ChangedSources: Seq[String] =
    Seq("src_fangraphs_projections_preseason_hitting", "src_nfbc_adp")

  /** Wraps `m` so its `build` is a span, and the write, stats and commit
    * work `runAs` does for it afterwards counts toward its layer. */
  private def traced(m: Model, t: Trace): Model = new Model {
    val name = m.name
    val deps = m.deps
    def build(s: SparkSession, in: String => DataFrame): DataFrame = {
      val layer = Materialization.layerSchema(name)
      val df = t.span(s"build:$name", s"pipeline.build.$layer")(m.build(s, in))
      t.add("pipeline.count|models_materialized", 1)
      t.switchTo(s"pipeline.exec.$layer")
      df
    }
  }

  /** A frame's rows as a multiset of strings over `cols`. */
  private def bag(df: DataFrame, cols: Seq[String]): Map[String, Int] =
    df.select(concat_ws("\u0001", cols.map(c =>
        coalesce(col(c).cast("string"), lit("\u0000"))): _*))
      .collect().toSeq.map(_.getString(0)).groupBy(identity).view.mapValues(_.size).toMap

  /** `prev` with a change feed applied: deletes removed, inserts added. */
  private def fold(prev: Map[String, Int], changes: DataFrame, cols: Seq[String]): Map[String, Int] = {
    val m = mutable.Map(prev.toSeq: _*)
    Seq("insert" -> 1, "delete" -> -1).foreach { case (kind, d) =>
      bag(changes.filter(col("_change_type") === kind), cols).foreach { case (k, n) =>
        m(k) = m.getOrElse(k, 0) + d * n
      }
    }
    m.filter(_._2 != 0).toMap
  }

  def run(a: Args): Unit = {
    val spark = session(a)
    val o = new Outcome
    val feeds = s"${a.work}/feeds"
    val tables = s"${a.work}/tables"
    val rawRows = FeedScaler.generate(feeds, Scale, (a.seed % 1000).toInt)
    val rawBytes = FeedScaler.bytesUnder(feeds)
    val models = Pipeline.models(feeds)
    def dirOf(n: String) = s"$tables/${Materialization.layerSchema(n)}/$n"
    val mat = Materialization.VersionedHiddenDir(tables)
    val (_, initialS) = timed(o.op("build day 0")(new DagRunner(models).runAs(spark, mat)))
    val setupS = uptimeS

    val t = new Trace(spark, a.trace)
    // a refresh day rebuilds the models downstream of the feeds that
    // landed and reads every other model from its current snapshot, as
    // dbt's `build --select source+ --defer` does
    val refreshed = new DagRunner(models).selectNodes(ChangedSources.map(_ + "+")).toSet
    val refreshModels = models.filter(m => refreshed(m.name))
      .map(m => if (a.trace) traced(m, t) else m)
    def deferred(): Map[String, DataFrame] = models.map(_.name).filterNot(refreshed)
      .map(n => n -> VHT.read(spark, dirOf(n))).toMap

    val buildS, buildCpuS, cdcS, maintainS, readS, serveMs, filesW, bytesW =
      mutable.ArrayBuffer.empty[Double]
    val martRows = mutable.Map.empty[String, Int]
    val serveByKind = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var compactions, vacuumed, liveEras = 0.0
    val gc0 = gcS
    val start = System.nanoTime()
    var day = 0
    while (day == 0 || (System.nanoTime() - start) / 1e9 < a.seconds) {
      day += 1
      FeedScaler.landDay(feeds, a.seed, day)
      val before = Marts.map(m => m -> VHT.mainVersions(spark, dirOf(m)).max).toMap
      val stored0 = FeedScaler.bytesUnder(tables)
      val files0 = java.nio.file.Files.walk(java.nio.file.Paths.get(tables)).count()
      val cpu0 = cpuS
      buildS += timed(t.span("runAs", "pipeline.runas")(o.op(s"refresh day $day")(
        new DagRunner(refreshModels, deferred()).runAs(spark, mat))))._2
      buildCpuS += cpuS - cpu0
      filesW += java.nio.file.Files.walk(java.nio.file.Paths.get(tables)).count() - files0
      bytesW += FeedScaler.bytesUnder(tables) - stored0

      cdcS += timed(t.span("changes", "sources.changes")(Marts.foreach(m =>
        o.op(s"changes $m")(VHT.changes(spark, dirOf(m), before(m))
          .write.format("noop").mode("overwrite").save()))))._2

      // untimed check: each mart's previous snapshot with the day's change
      // feed applied equals the rebuilt mart, as a multiset of rows
      Marts.foreach { m =>
        o.check(s"fold(previous, changes) == rebuilt for $m on day $day") {
          val now = VHT.read(spark, dirOf(m))
          val cols = now.columns.toSeq.sorted
          val rebuilt = bag(now, cols)
          martRows(m) = rebuilt.values.sum
          fold(bag(VHT.read(spark, dirOf(m), Some(before(m))), cols),
            VHT.changes(spark, dirOf(m), before(m)), cols) == rebuilt
        }
      }

      maintainS += timed(t.span("maintain", "sources.maintain") {
        val reports = models.flatMap(m => o.op(s"maintain ${m.name}")(
          TableService.maintain(spark, dirOf(m.name))))
        compactions = reports.count(_.compacted).toDouble
        vacuumed = reports.map(_.droppedSnapshots.size).sum.toDouble
        liveEras = reports.map(_.liveEras).sum.toDouble
      })._2

      // the app session against the fresh marts
      val (marts, r) = timed(t.span("read", "sources.read")(
        Marts.map(m => m -> VHT.read(spark, dirOf(m))).toMap))
      readS += r
      def request(kind: String)(f: => Any): Unit = {
        val (_, s) = timed(t.span(kind, s"serve.$kind")(o.op(kind)(f)))
        serveMs += s * 1e3
        serveByKind.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += s * 1e3
      }
      val oc = marts("mart_preseason_overall_rankings_oc")
      Seq(oc, marts("mart_preseason_overall_rankings_50s")).foreach(m =>
        request("rankings")(Pipeline.servingRankings(m).collect()))
      LeagueFormat.all.foreach(f =>
        request("percentiles")(Pipeline.servingPercentiles(spark,
          marts("mart_sgp_percentiles"), f).collect()))
      val drafted = mutable.LinkedHashSet.empty[String]
      Seq[DataFrame => DataFrame](
        Pipeline.filterRankings(_, positions = Seq("OF", "C")),
        Pipeline.filterRankings(_, teams = Seq("TM1", "TM3")),
        Pipeline.filterRankings(_, statuses = Seq("IL")),
        Pipeline.filterRankings(_, nameSearch = Some("last1"), draftedOnly = Some(false))
      ).foreach(f => request("filter")(f(Pipeline.withDraftedFlag(oc, drafted.toSet)).collect()))
      (1 to DraftPicks).foreach { pick =>
        request("pick") {
          val avail = Pipeline.withDraftedFlag(oc, drafted.toSet).filter(!col("drafted"))
          val probs = Pipeline.draftPickProbabilities(avail, pick)
          drafted += Pipeline.sampleDraftPick(probs, a.seed * 1000 + day * 10 + pick)
            .select("id").first().getString(0)
        }
      }
      o.check(s"mock draft on day $day picks $DraftPicks distinct players")(
        drafted.size == DraftPicks)
    }
    val measuredS = (System.nanoTime() - start) / 1e9
    val gc = gcS - gc0
    t.stop()

    // untimed checks on the last day's outputs, for both formats
    LeagueFormat.all.foreach { f =>
      Seq("hitting" -> f.hitBudget, "pitching" -> f.pitBudget).foreach { case (kind, budget) =>
        val v = s"stg_proj_preseason_${kind}_values_${f.key}"
        o.check(s"$v conserves the $budget dollar budget") {
          val total = VHT.read(spark, dirOf(v)).filter(col("sgpar") > 0)
            .agg(sum(col("value") - 1)).first().getDouble(0)
          math.abs(total - budget) < 1e-6 * budget
        }
      }
      val m = s"mart_preseason_overall_rankings_${f.key}"
      o.check(s"$m ranks are 1..N") {
        val ranks = VHT.read(spark, dirOf(m)).select("rank").collect().map(_.getInt(0)).sorted
        ranks.nonEmpty && ranks.toSeq == (1 to ranks.length)
      }
    }
    val stored = FeedScaler.bytesUnder(tables).toDouble
    val live = models.map(m => VHT.liveDataBytes(spark, dirOf(m.name)).toDouble).sum
    val snapshots = models.map(m => VHT.versions(spark, dirOf(m.name)).size.toDouble).sum

    val days = day.toDouble
    val cores = a.cores.toDouble
    def perDay(prefix: String, key: String) = t.sum(prefix, key) / days
    val buildWall = t.sum("pipeline.build.", "wall_s")
    val writeWall = t.sum("pipeline.exec.", "write_s")
    val layers = Map(
      "pipeline.optimization_s" -> perDay("pipeline.", "optimization_s"),
      "pipeline.planning_s" -> perDay("pipeline.", "planning_s"),
      "pipeline.plan_nodes" -> perDay("pipeline.", "plan_nodes"),
      "pipeline.self_s" -> (t.sum("pipeline.runas", "wall_s") - buildWall - writeWall) / days,
      "pipeline.initial_build_s" -> initialS,
      "pipeline.models_materialized" -> perDay("pipeline.count", "models_materialized"),
      "pipeline.jobs" -> perDay("pipeline.", "jobs"),
      "pipeline.stages" -> perDay("pipeline.", "stages"),
      "pipeline.tasks" -> perDay("pipeline.", "tasks"),
      "pipeline.shuffle_exchanges" -> perDay("pipeline.", "shuffle_exchanges"),
      "pipeline.broadcast_exchanges" -> perDay("pipeline.", "broadcast_exchanges"),
      "pipeline.reused_exchanges" -> perDay("pipeline.", "reused_exchanges"),
      "pipeline.shuffle_bytes" -> perDay("pipeline.", "shuffle_bytes"),
      "pipeline.executor_cpu_s" -> perDay("pipeline.", "executor_cpu_s"),
      "pipeline.slot_busy" -> t.sum("pipeline.", "executor_run_s") /
        (t.sum("pipeline.runas", "wall_s") * cores).max(1e-9),
      "pipeline.serve_jobs" -> perDay("serve.", "jobs"),
      "sources.files_written" -> median(filesW.toSeq),
      "sources.bytes_written" -> median(bytesW.toSeq),
      "sources.snapshots" -> snapshots,
      "sources.live_eras" -> liveEras,
      "sources.live_bytes" -> live,
      "sources.stored_bytes" -> stored,
      "sources.maintain_s" -> median(maintainS.toSeq),
      "sources.compactions" -> compactions,
      "sources.vacuumed_snapshots" -> vacuumed,
      "sources.changes_s" -> median(cdcS.toSeq),
      "sources.changes_jobs" -> perDay("sources.changes", "jobs"),
      "sources.changes_shuffle_bytes" -> perDay("sources.changes", "shuffle_bytes"),
      "sources.read_s" -> median(readS.toSeq),
      "sources.jobs" -> perDay("sources.", "jobs"),
      "process.gc_s" -> gc / days
    ) ++ Seq("source", "stage", "main").flatMap(l => Seq(
      s"pipeline.build_s.$l" -> perDay(s"pipeline.build.$l", "wall_s"),
      s"pipeline.exec_s.$l" -> perDay(s"pipeline.exec.$l", "write_s"))) ++
      serveByKind.map { case (k, v) => s"pipeline.serve_${k}_ms" -> median(v.toSeq) }

    val metrics = Map(
      "setup_s" -> setupS,
      "unit_s" -> median(buildS.toSeq),
      "unit_cpu_s" -> median(buildCpuS.toSeq),
      "op_geomean_ms" -> geomean(serveMs.toSeq),
      "peak_rss_mb" -> peakRssMb,
      // the same numbers under this workload's own names, for the detail line
      "dag_build_s" -> median(buildS.toSeq),
      "dag_cpu_s" -> median(buildCpuS.toSeq),
      "cdc_s" -> median(cdcS.toSeq),
      "serve_p50_ms" -> median(serveMs.toSeq),
      "serve_p90_ms" -> quantile(serveMs.toSeq, 0.9),
      "serve_requests" -> serveMs.size.toDouble,
      "space_amp" -> stored / live,
      "initial_build_s" -> initialS,
      "refreshed_models" -> refreshed.size.toDouble,
      "days" -> days,
      "measured_s" -> measuredS)
    finish(a, spark, o, metrics, layers, t, Map(
      "workload" -> "dag_refresh", "scale" -> Scale, "raw_rows" -> rawRows,
      "raw_bytes" -> rawBytes, "mart_rows" -> martRows.toMap,
      "loop" -> "closed", "clients" -> 1))
    spark.stop()
  }
}
