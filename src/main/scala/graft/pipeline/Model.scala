package graft.pipeline

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One pipeline model — the Spark equivalent of a dbt model: a named,
  * dependency-declaring `DataFrame` transformation.
  *
  * The reference engine (danolen/dbt-lakehouse-aws) is exactly a DAG scheduler
  * over CTAS statements (SURVEY.md §3.1); `Model` + [[DagRunner]] is that
  * engine re-expressed in Scala. `build` receives a resolver for upstream
  * models/sources, mirroring dbt's `ref()`/`source()`.
  */
trait Model {
  def name: String
  def deps: Seq[String]
  def build(spark: SparkSession, in: String => DataFrame): DataFrame
}

/** Convenience constructor for inline models. */
object Model {
  def apply(n: String, d: Seq[String])(
      f: (SparkSession, String => DataFrame) => DataFrame): Model = new Model {
    val name = n
    val deps = d
    def build(spark: SparkSession, in: String => DataFrame): DataFrame = f(spark, in)
  }
}

/** How [[DagRunner]] persists each built model. */
sealed trait Materialization
object Materialization {
  /** Lazy composed DataFrames — Catalyst optimizes ACROSS model boundaries
    * (column pruning through the whole DAG), the fused mode the reference
    * engine cannot do. Same results, but not less work: on this DAG the
    * fused build of the 4 marts measured 2.2x the wall time of the
    * materialized build of all 40 models (`perfbench/BENCHMARK.md`,
    * "Findings"). */
  case object Compose extends Materialization

  /** dbt's `materialized='table'` pipeline-breaker semantics to bare parquet
    * paths: every model optimizes in isolation, intermediates inspectable. */
  final case class ParquetDir(dir: String) extends Materialization

  /** Catalog tables via `saveAsTable` into the reference's three schemas
    * (`dbt_project.yml:38-51`: source / stage / main), so downstream users
    * address models as `spark.table("main.mart_...")` exactly as the
    * reference's Athena/Iceberg consumers do. */
  final case class Catalog(schemaOf: String => String = Materialization.layerSchema)
    extends Materialization

  /** The FULL table contract for every materialized model: each lands as an
    * `op=overwrite` snapshot of a [[graft.sources.VersionedHiddenTable]]
    * under `root/<schema>/<model>/` — time travel across pipeline runs,
    * `changes()` CDC between runs (the incremental-consumer feed: fold a
    * run's net diff forward instead of rebuilding downstream), DML and
    * scheduled maintenance via [[graft.sources.TableService]], SQL access
    * via the `graft_table` TVF. `transformsOf` gives a model its hidden
    * partition spec on FIRST creation (default unpartitioned — right for
    * the reference's serving-scale marts). */
  final case class VersionedHiddenDir(root: String,
      transformsOf: String => Seq[graft.sources.HiddenPartitioning.Transform] =
        _ => Nil,
      schemaOf: String => String = Materialization.layerSchema)
    extends Materialization

  /** Reference layer mapping: `src_*` → source, `mart_*` → main (the
    * reference keeps marts in `models/main/`), everything else → stage. */
  val layerSchema: String => String = n =>
    if (n.startsWith("src_")) "source"
    else if (n.startsWith("mart_")) "main"
    else "stage"
}

/** Topologically sorts and executes a model DAG.
  *
  * Ordering follows TRUE dependencies, not layer names — the reference has a
  * mart→stage back-edge (`mart_sgp_factors` feeds stage models,
  * models/stage/projections/preseason/hitting/stg_proj_preseason_hitting_sgp_oc.sql:39-41)
  * so a layer-ordered runner would deadlock (SURVEY.md §7.4).
  */
final class DagRunner(models: Seq[Model], sources: Map[String, DataFrame] = Map.empty) {

  private val byName: Map[String, Model] = models.map(m => m.name -> m).toMap
  require(byName.size == models.size, "duplicate model names")

  /** Dependency-closure topological order (deterministic: insertion DFS). */
  lazy val topoOrder: Seq[String] = {
    val visiting = mutable.LinkedHashSet[String]()
    val done = mutable.LinkedHashSet[String]()
    def visit(n: String): Unit = {
      if (!done.contains(n) && byName.contains(n)) {
        require(!visiting.contains(n), s"dependency cycle at $n: ${visiting.mkString(" -> ")}")
        visiting += n
        byName(n).deps.foreach(visit)
        visiting -= n
        done += n
      }
    }
    models.map(_.name).foreach(visit)
    done.toSeq
  }

  /** Upstream closure (transitive in-graph dependencies, excluding `n`). */
  private def ancestorsOf(n: String): Set[String] = {
    val seen = mutable.Set[String]()
    def walk(m: String): Unit =
      byName.get(m).foreach(_.deps.foreach { d =>
        if (byName.contains(d) && seen.add(d)) walk(d)
      })
    walk(n)
    seen.toSet
  }

  private lazy val childrenOf: Map[String, Seq[String]] =
    models.flatMap(m => m.deps.filter(byName.contains).map(_ -> m.name))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  /** Downstream closure (transitive dependents, excluding `n`). */
  private def descendantsOf(n: String): Set[String] = {
    val seen = mutable.Set[String]()
    def walk(m: String): Unit =
      childrenOf.getOrElse(m, Nil).foreach(c => if (seen.add(c)) walk(c))
    walk(n)
    seen.toSet
  }

  /** dbt-style node selection (the `--select` face the reference operates
    * by, `app/app.py:448`): each selector is a model name or `*` glob,
    * optionally wrapped in the graph operators `+name` (the model plus its
    * upstream closure) and `name+` (plus its downstream dependents; both
    * may combine as `+name+`). Selectors union. A selector matching nothing
    * fails fast — a typo must break the run, not silently build nothing.
    * Returns the selected set in topological order. */
  def selectNodes(selectors: Seq[String]): Seq[String] = {
    require(selectors.nonEmpty, "empty selector list")
    val names = models.map(_.name)
    val picked = selectors.flatMap { raw =>
      val up = raw.startsWith("+")
      val down = raw.length > 1 && raw.endsWith("+")
      val pat = raw.stripPrefix("+").stripSuffix("+")
      require(pat.nonEmpty, s"selector '$raw' names no model")
      val rx = pat.split("\\*", -1)
        .map(java.util.regex.Pattern.quote).mkString(".*")
      val base = names.filter(_.matches(rx))
      require(base.nonEmpty, s"selector '$raw' matches no model")
      base.flatMap(b => Set(b) ++
        (if (up) ancestorsOf(b) else Set.empty) ++
        (if (down) descendantsOf(b) else Set.empty))
    }.toSet
    topoOrder.filter(picked)
  }

  /** Builds every model; returns the materialized (or composed) frames. */
  def run(spark: SparkSession, materializeDir: Option[String] = None): Map[String, DataFrame] =
    runAs(spark, materializeDir.fold[Materialization](Materialization.Compose)(
      Materialization.ParquetDir))

  /** Builds the models matched by `select` (all of them when empty) under
    * the given materialization mode; returns only the selected frames.
    *
    * dbt semantics, mapped to one engine: a selected model's unselected
    * ancestors are not skipped — refs must resolve — but they are only
    * COMPOSED (lazy frames Catalyst fuses into the selected builds), never
    * materialized; in dbt they would be pre-existing warehouse tables.
    * Models outside every selected model's upstream closure are not even
    * built. `+model` pulls the ancestors INTO the selection, materializing
    * the full lineage — the reference's `dbt build --select` workflow. */
  def runAs(spark: SparkSession, mat: Materialization,
      select: Seq[String] = Nil): Map[String, DataFrame] = {
    val selected: Set[String] =
      if (select.isEmpty) topoOrder.toSet else selectNodes(select).toSet
    val needed: Set[String] = selected ++ selected.flatMap(ancestorsOf)
    val built = mutable.LinkedHashMap[String, DataFrame]()
    def resolve(n: String): DataFrame =
      built.getOrElse(n, sources.getOrElse(n,
        throw new NoSuchElementException(s"unknown ref/source: $n")))
    val schemaOfOpt = mat match {
      case Materialization.Catalog(schemaOf) => Some(schemaOf)
      // VersionedHiddenDir is path-addressed (composite multi-era reads
      // cannot be a single-LOCATION catalog table; the graft_table TVF is
      // the SQL face) — no databases to create
      case _ => None
    }
    schemaOfOpt.foreach(schemaOf =>
      topoOrder.filter(selected).map(schemaOf).distinct.foreach(db =>
        spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")))
    topoOrder.filter(needed).foreach { n =>
      val df = byName(n).build(spark, resolve)
      built(n) = if (!selected(n)) df else mat match {
        case Materialization.ParquetDir(dir) =>
          val path = s"$dir/$n"
          df.write.mode("overwrite").parquet(path)
          // every materialized model carries per-file stats: bare counts
          // fold to metadata and key predicates skip files on mart reads,
          // the same storage contract the registry's s18-s21 tables get
          graft.sources.FileStats.write(spark, path)
          // stats-advised read-back: dimension-sized models return hinted
          // broadcast, so downstream mart joins take the advised strategy
          // automatically (the j13 ladder's byte rung; content unchanged —
          // the golden digests gate that)
          graft.sources.JoinAdvisor.autoHinted(spark, path,
            spark.read.parquet(path))
        case Materialization.Catalog(schemaOf) =>
          val fqn = s"${schemaOf(n)}.$n"
          df.write.mode("overwrite").format("parquet").saveAsTable(fqn)
          graft.sources.FileStats.write(spark,
            spark.sessionState.catalog.getTableMetadata(
              org.apache.spark.sql.catalyst.TableIdentifier(n, Some(schemaOf(n))))
              .location.toString)
          graft.sources.JoinAdvisor.autoHinted(spark,
            spark.sessionState.catalog.getTableMetadata(
              org.apache.spark.sql.catalyst.TableIdentifier(n, Some(schemaOf(n))))
              .location.toString, spark.table(fqn))
        case Materialization.VersionedHiddenDir(root, transformsOf, schemaOf) =>
          val tableDir = s"$root/${schemaOf(n)}/$n"
          // one op=overwrite snapshot per run: prior runs stay readable
          // (time travel), changes() nets the run-over-run diff for
          // incremental consumers, stats manifests land with every era
          graft.sources.VersionedHiddenTable.overwrite(
            spark, tableDir, df, transformsOf(n)): Unit
          // price the hint at the LIVE snapshot's bytes — data/ accumulates
          // one retired era per run, so measuring the whole tree would cost
          // a dimension-sized model its broadcast after enough runs
          graft.sources.JoinAdvisor.autoHintedBytes(
            graft.sources.VersionedHiddenTable.read(spark, tableDir),
            graft.sources.VersionedHiddenTable.liveDataBytes(spark, tableDir))
        case Materialization.Compose => df
      }
    }
    built.filter { case (n, _) => selected(n) }.toMap
  }
}
