package perfbench

import java.nio.file.{Files, Paths}
import graft.pipeline.{Checks => ModelChecks, FixtureGen, GoldenGen, Pipeline}
import Harness._

/** Checks that do not depend on the seed: the golden digests, run once per
  * build of a checkout and counted in every run's result, and the feed
  * scaler's own test, run by `--selftest`. */
object Checks {

  /** The content digests `PipelineSpec` pins for all 40 models, built
    * materialized from the unscaled fixture. */
  val Digests: Map[String, String] = Map(
    "mart_preseason_overall_rankings_50s" -> "9047755f5e7757e31627934f10a72619",
    "mart_preseason_overall_rankings_oc" -> "7e03c13e22364e8733cea8355b27ed2c",
    "mart_sgp_factors" -> "1ebb116d35257adf1684659bfd5b949c",
    "mart_sgp_percentiles" -> "8c54b0439f0c56618abd911b40c392b4",
    "src_fangraphs_opening_day_rosters" -> "05f062d76f3075827799f98b75b1db34",
    "src_fangraphs_projections_preseason_hitting" -> "609d4c9cab47b24f70a9c954030e4776",
    "src_fangraphs_projections_preseason_pitching" -> "46334b97bd1942e4b6ce4ed075ffe410",
    "src_mpd_player_id_map" -> "6671f8dd911d4370e42fa53d2b14aad5",
    "src_nfbc_adp" -> "cd42f76eee1327c546ff7b57705cdd56",
    "src_nfbc_players" -> "d716aa531c849efe960c7c7341300e75",
    "src_nfbc_standings" -> "4f5f3bad7953390a8047e66b8152ff9a",
    "src_razzball_projections_preseason_hitting" -> "a9fa94ca16560e8c14bcda498c91e075",
    "src_razzball_projections_preseason_pitching" -> "945e15a1508e94d5a4029e5dc959c8d0",
    "src_underdog_adp" -> "823685c92e567734ef5f85223ecfff7c",
    "stg_fg_proj_preseason_hitting_per_pa" -> "213ce43dd9179e8093ba21b64f6c9c4e",
    "stg_fg_proj_preseason_pitching_per_ip" -> "71d8e91efe7bb99403f0a7d5bc960f4c",
    "stg_mpd_player_id_map" -> "67ab260daf200db9928d817b200441cf",
    "stg_nfbc_ranked_standings" -> "b92f615769bef9a1989a8481fefd626b",
    "stg_nfbc_sgp_factors" -> "2e388e2275d46c766e4686940eab97e5",
    "stg_nfbc_sgp_inputs" -> "5304425ddbac28ad46930346a76fb902",
    "stg_proj_preseason_hitting_agg" -> "0e9316fa29715008b0f273a76d53a16d",
    "stg_proj_preseason_hitting_pt" -> "a733c91171ddc3efd8128fe38360c989",
    "stg_proj_preseason_hitting_rep_lvl_50s" -> "ecc77d38302bb39b8ed24dfe1784b1d8",
    "stg_proj_preseason_hitting_rep_lvl_oc" -> "f5688b386992e685d55babd0a076bc5d",
    "stg_proj_preseason_hitting_sgp_50s" -> "8ba6d4df9079e9e743c76fccd98545a9",
    "stg_proj_preseason_hitting_sgp_oc" -> "2999df3abf34400cbf30f68e89eab1ce",
    "stg_proj_preseason_hitting_skills" -> "979c94cc5d226be8237d6b585df891d6",
    "stg_proj_preseason_hitting_values_50s" -> "25a2f2733b25f403ac1209f570518e23",
    "stg_proj_preseason_hitting_values_oc" -> "f87f89bf3d4d501a02652093c091b395",
    "stg_proj_preseason_pitching_agg" -> "e0244aa0778a1456f7c3de3897d7cb3f",
    "stg_proj_preseason_pitching_pt" -> "58ee6b8aee0284fd714d974364ba0c25",
    "stg_proj_preseason_pitching_rep_lvl_50s" -> "a6f3f9b507dbdda232d7803b7828112a",
    "stg_proj_preseason_pitching_rep_lvl_oc" -> "3b7cfe61c7e0d2231971564036493a41",
    "stg_proj_preseason_pitching_sgp_50s" -> "d8c10cbf5c2f56cd827b33c31a62f5e6",
    "stg_proj_preseason_pitching_sgp_oc" -> "dd9491de6f640a19896fae3540bedfba",
    "stg_proj_preseason_pitching_skills" -> "91379442e92c76d87569379c62040a4c",
    "stg_proj_preseason_pitching_values_50s" -> "c9c3b77ba148dd358f7813377d4763be",
    "stg_proj_preseason_pitching_values_oc" -> "2b01cfd16350e300042c9418d20e6793",
    "stg_razzball_proj_preseason_hitting_per_pa" -> "888f33ce69c2dde828db4829c296dd97",
    "stg_razzball_proj_preseason_pitching_per_ip" -> "acf58f9a6fe3fdc158e4817a3303392f")

  /** Builds the unscaled fixture materialized and checks every model's
    * digest; run once per build, after a workload's measured window. */
  def golden(spark: org.apache.spark.sql.SparkSession, work: String): Outcome = {
    val o = new Outcome
    val feeds = s"$work/golden-fixture"
    FixtureGen.generate(feeds)
    val out = o.op("build the unscaled fixture")(
      Pipeline.run(spark, feeds, materializeDir = Some(s"$work/golden-models")))
    o.check("the golden map names every model")(GoldenGen.gated.toSet == Digests.keySet)
    out.foreach(models => Digests.toSeq.sorted.foreach { case (n, want) =>
      o.check(s"$n matches its golden digest")(ModelChecks.contentDigest(models(n)) == want)
    })
    o
  }

  /** The feed scaler's own test: marts scale as the ×1 fixture's do, and
    * every scaled projection id resolves in the scaled id map. */
  def scaler(a: Args): Unit = {
    val spark = session(a)
    val o = new Outcome
    val k = 50
    def rows(scale: Int): Map[String, Long] = {
      val feeds = s"${a.work}/feeds_x$scale"
      FeedScaler.generate(feeds, scale, 0)
      val out = Pipeline.run(spark, feeds, materializeDir = Some(s"${a.work}/models_x$scale"))
      DagRefresh.Marts.map(m => m -> out(m).count()).toMap
    }
    val (one, many) = (rows(1), rows(k))
    // each copy but copy 0 escapes the one player the marts exclude by a
    // literal id, so a ranking mart of n rows at x1 has k*(n+1)-1 at xk;
    // the factor and percentile marts are per format and do not grow
    DagRefresh.Marts.foreach { m =>
      val want = if (m.startsWith("mart_preseason_overall_rankings")) k * (one(m) + 1) - 1 else one(m)
      o.check(s"$m: ${one(m)} rows at x1, ${many(m)} at x$k, want $want")(many(m) == want)
    }
    o.check("89 ranked players at x1")(one("mart_preseason_overall_rankings_oc") == 89)

    val feeds = s"${a.work}/feeds_x$k"
    def col(rel: String, sep: Char, i: Int): Seq[String] = {
      val dir = Paths.get(feeds, rel)
      import scala.jdk.CollectionConverters._
      Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq.flatMap(p =>
        Files.readAllLines(p).asScala.drop(1).filter(_.nonEmpty).map(FeedScaler.split(_, sep)(i)))
    }
    val fg = col("mapping", ',', 2).toSet
    val razz = col("mapping", ',', 4).toSet
    Seq("fangraphs/projections" -> fg, "razzball/projections" -> razz).foreach { case (feed, ids) =>
      val unresolved = col(feed, ',', 0).filterNot(ids)
      o.check(s"every $feed id resolves in the scaled id map (${unresolved.take(3)})")(
        unresolved.isEmpty)
    }
    writeJson(a.out, Map("attempted" -> o.attempted, "failed" -> o.failures.size,
      "failures" -> o.failures.toSeq))
    spark.stop()
  }
}
