package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap

/** Benchmark entry point: one workload, one seed, one measuring window.
  *
  * {{{
  * perfbench.Main --workload serve|replay --seed N --seconds S --trace 0|1
  *   --defs perfbench/workloads.json --work DIR --result FILE [--trace-out FILE]
  * }}}
  *
  * `--defs` is the definitions file: corpus, index parameters, pools, mixes.
  *
  * Writes one JSON object to `--result`: the end-to-end metrics with
  * `--trace 0`, the per-layer metrics with `--trace 1` (which also writes
  * every span, with its self time and Spark work, to `--trace-out`).
  * Human-readable lines, the environment among them, go to stdout.
  */
object Main {
  val workloads = Seq("serve", "replay")
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val name = req("workload")
    if (!workloads.contains(name)) { System.err.println(s"unknown workload $name"); sys.exit(2) }
    val seed = req("seed").toLong
    val seconds = req("seconds").toInt
    val trace = req("trace") == "1"
    val work = req("work")
    val fx = Fixture.load(req("defs"))
    val cpus = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val env = environment(spark, cpus)
      println(s"perfbench $name seed=$seed seconds=$seconds trace=${if (trace) 1 else 0}")
      println(s"env ${json.writeValueAsString(env)}")
      println(f"session start: $sessionS%.3f s")
      val tracer = new Tracer(spark.sparkContext, trace)
      val w = new Workload(spark, fx, name, seed, seconds, tracer, work, println(_))
      val r = Report.run(w)
      val metrics = if (trace) Report.perLayer(w, r) else Report.endToEnd(w, r)
      Report.summary(w, r).foreach(println)
      w.failures.foreach(f => println(s"FAILED: $f"))
      Files.write(Paths.get(req("result")), json.writeValueAsBytes(ListMap(
        "correct" -> (w.failed == 0), "attempted" -> w.attempted, "failed" -> w.failed,
        "metrics" -> ListMap(metrics.map { case (m, (v, u)) =>
          m -> ListMap("value" -> v, "unit" -> u) }: _*))))
      if (trace) opts.get("trace-out").foreach { f =>
        Files.write(Paths.get(f), json.writeValueAsBytes(Report.trace(w, env, metrics)))
        println(s"trace written to $f")
      }
    } finally spark.stop()
  }

  /** What distinguishes one host's results from another's. */
  def environment(spark: SparkSession, cpus: Int): ListMap[String, Any] = {
    val hostMb = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getTotalMemorySize / (1L << 20)
      case _ => -1L
    }
    ListMap(
      "nproc" -> cpus,
      "master" -> spark.sparkContext.master,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "host_memory_mb" -> hostMb,
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.version")} ${System.getProperty("os.arch")}",
      "host" -> java.net.InetAddress.getLocalHost.getHostName)
  }
}
