package perfbench

/** JVM entry point; `perfbench/run.py` launches it once per run. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = Harness.parse(args)
    a.workload match {
      case "dag_refresh" => DagRefresh.run(a)
      case "registry_slice" => RegistrySlice.run(a)
      case "scaler_test" => Checks.scaler(a)
      case w => sys.error(s"unknown workload $w")
    }
  }
}
