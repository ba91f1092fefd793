package lshbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point (normally started by `run.py`):
  *
  * {{{
  *   Main --workload <lsh-serve|exact-scan|lsh-churn> --seed <n>
  *        --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Prints one `metric <name> <value> <unit>` line per metric, a
  * `detail {...}` line with everything the run recorded, and, as the last
  * line, the result object. Exits 1 when any output check failed. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.Names.contains(workload),
      s"--workload must be one of ${Workloads.Names.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = loadAvg()
    val cpu0 = procCpuSeconds()
    val wall0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors
    val master = s"local[$cpus]"
    val spark = SparkSession.builder()
      .master(master)
      .appName("lshbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val readyS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val tracer = new Tracer(spark.sparkContext, trace)
    val w = new Workloads(spark, seed, seconds, tracer, work, readyS)
    val out = workload match {
      case "lsh-serve" => w.lshServe()
      case "exact-scan" => w.exactScan()
      case "lsh-churn" => w.lshChurn()
    }
    tracer.drain()
    val spans = tracer.all
    spark.stop()

    val wallS = (System.nanoTime() - wall0) / 1e9
    val stamp = Seq(
      "nproc" -> cpus, "spark_master" -> master,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "load_1m_before" -> load0, "load_1m_after" -> loadAvg(),
      "proc_cpu_s" -> (procCpuSeconds() - cpu0), "wall_s" -> wallS,
      "cpu_per_wall" -> (procCpuSeconds() - cpu0) / wallS)
    val correct = out.violations.isEmpty && out.failed == 0

    out.violations.take(20).foreach(v => println(s"violation $v"))
    val shown = if (trace) out.layers else out.metrics
    shown.foreach { case (n, v, u) => println(s"metric $n ${Json.num(v)} $u") }
    out.extra.foreach { case (n, v) => println(s"extra $n ${Json.value(v)}") }
    val tag = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
    if (trace) writeSpans(work.resolve(s"spans-$tag.json"), spans)
    val detail = Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "stamp" -> stamp.toMap,
      "inputs" -> out.properties.toMap,
      "metrics" -> out.metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "layers" -> out.layers.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "extra" -> out.extra.toMap,
      "attempted" -> out.attempted, "failed" -> out.failed,
      "violations" -> out.violations.take(50)))
    Files.write(work.resolve(s"result-$tag.json"), detail.getBytes("UTF-8"))
    println(s"detail $detail")
    println(Json.obj(Seq(
      "correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> shown.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)))
    System.out.flush()
    if (!correct) sys.exit(1)
  }

  private def writeSpans(p: java.nio.file.Path, spans: Seq[Span]): Unit = {
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    val body = spans.sortBy(_.startNs).map(s => Json.obj(Seq(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "batch" -> s.batch,
      "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9)))
    Files.write(p, body.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }

  private def loadAvg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8")
      .trim.split(" ").head.toDouble
    catch { case _: Exception => -1.0 }

  private def procCpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => -1.0
    }
}
