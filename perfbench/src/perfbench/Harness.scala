package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What every workload shares: arguments, the Spark session, process
  * counters, order statistics, output checks and the result file. */
object Harness {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, out: String, cores: Int, data: String,
      golden: Boolean)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("out"), need("cores").toInt,
      m.getOrElse("data", ""), m.get("golden").contains("1"))
  }

  /** The session `graft.Bench` builds, sized to the machine's cores, with
    * every local directory inside the run's own work directory. */
  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.extensions", "graft.sources.GraftSqlExtensions")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The Spark settings a result records, so runs are compared like with like. */
  def sparkConf(spark: SparkSession): Map[String, String] =
    Seq("spark.master", "spark.sql.shuffle.partitions", "spark.sql.extensions",
      "spark.sql.parquet.outputTimestampType", "spark.sql.session.timeZone",
      "spark.sql.adaptive.enabled")
      .map(k => k -> spark.conf.getOption(k).getOrElse("")).toMap

  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def cpuS: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def gcS: Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  }

  /** Peak resident set of this process (`VmHWM`), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Operations attempted and failed. An operation that throws, and an
    * output check that does not hold, both count as failed. */
  final class Outcome {
    var attempted = 0L
    val failures = mutable.ArrayBuffer.empty[String]

    def op[A](name: String)(f: => A): Option[A] = {
      attempted += 1
      try Some(f)
      catch { case e: Throwable =>
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        None
      }
    }

    def check(name: String)(cond: => Boolean): Unit =
      op(name)(cond).foreach(ok => if (!ok) failures += s"$name: check failed")
  }

  def writeJson(path: String, value: Any): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      mapper.writeValueAsString(value))
  }

  /** The result file the launcher reads: every number the run measured,
    * the operations it attempted and failed, and what it ran on. With
    * `--golden 1` the seed-independent golden-digest check runs here,
    * after everything is measured. */
  def finish(a: Args, spark: SparkSession, o: Outcome, metrics: Map[String, Double],
      layers: Map[String, Double], trace: Trace, info: Map[String, Any]): Unit = {
    val golden = if (a.golden) Some(Checks.golden(spark, a.work)) else None
    writeJson(a.out, Map(
      "golden" -> golden.map(g => Map("attempted" -> g.attempted,
        "failed" -> g.failures.size, "failures" -> g.failures.toSeq)),
      "metrics" -> metrics,
      "layers" -> layers,
      "attempted" -> o.attempted,
      "failed" -> o.failures.size,
      "failures" -> o.failures.toSeq,
      "spans" -> trace.spanRows,
      "env" -> (info ++ Map(
        "cores" -> a.cores, "seed" -> a.seed, "spark_conf" -> sparkConf(spark),
        "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "spark" -> spark.version))))
  }
}
