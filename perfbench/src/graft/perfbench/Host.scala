package graft.perfbench

/** The host block printed with every result: numbers are only comparable
  * between runs on the same host. */
object Host {
  /** Cores below which the N to 4N scaling check is not measurable. */
  val ScalingMinCores = 16

  def block(): Map[String, Any] = {
    val nproc = Runtime.getRuntime.availableProcessors
    val memGb = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getTotalMemorySize / 1e9
      case _ => 0.0
    }
    Map(
      "nproc" -> nproc,
      "memory_gb" -> memGb,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "scaling_n_to_4n" -> None,
      "scaling_reason" -> (
        if (nproc < ScalingMinCores)
          s"not measured: nproc=$nproc < $ScalingMinCores, so 4N workers would share cores"
        else "not measured by this benchmark"),
      "baseline" -> "the parent commit run on this host; BENCH_r01-r06 are history from another host")
  }
}
