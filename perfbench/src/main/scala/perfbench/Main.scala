package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark driver: one JVM, one workload per invocation.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --expected <expected.json>
  * }}}
  *
  * Prints human-readable detail lines, then, as the last line of standard
  * output, one JSON object with `correct`, `attempted`, `failed` and
  * `metrics` (end-to-end metrics without trace, per-layer metrics with it).
  * Exits 1 when any output is wrong or any operation failed. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path, expected: Path)

  /** Metric value with its unit. */
  final case class M(value: Double, unit: String)

  final case class Outcome(
      e2e: Seq[(String, M)],
      layers: Seq[(String, M)],
      attempted: Int,
      failed: Int,
      mismatches: Seq[String],
      detail: Seq[(String, Any)])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath, Paths.get(need("expected")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val wl = Workloads.byName.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}; " +
        s"known: ${Workloads.byName.keys.toSeq.sorted.mkString(", ")}"))
    Files.createDirectories(args.work)
    Expected.path = args.expected
    val tSession0 = System.nanoTime()
    val spark = wl.session(args)
    val sessionS = (System.nanoTime() - tSession0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (args.trace) {
      val t = new Trace(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None
    val out = try wl.run(spark, args, sessionS, trace)
    finally {
      trace.foreach { t =>
        t.drain()
        val f = args.work.resolve(s"trace/${args.workload}_seed${args.seed}.jsonl")
        Files.createDirectories(f.getParent)
        Files.write(f, t.jsonl.toSeq.mkString("", "\n", "\n").getBytes("UTF-8"))
        System.out.println(s"[perfbench] trace spans written to $f")
      }
      spark.stop()
    }
    out.detail.foreach { case (k, v) => System.out.println(s"[perfbench] $k = ${Json.value(v)}${unitOf(k)}") }
    out.mismatches.foreach(m => System.out.println(s"[perfbench] MISMATCH $m"))
    val metrics = (if (args.trace) out.layers else out.e2e)
      .map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) }
    val correct = out.mismatches.isEmpty
    System.out.println(Json.obj("correct" -> correct, "attempted" -> out.attempted,
      "failed" -> out.failed, "metrics" -> scala.collection.immutable.ListMap(metrics: _*)))
    System.out.flush()
    if (!correct || out.failed > 0) sys.exit(1)
  }

  /** Unit of a detail line, from its name's suffix. */
  def unitOf(name: String): String =
    Seq("_per_s" -> " 1/s", "_ms" -> " ms", "_s" -> " s", "_mb" -> " MB", "_ratio" -> " ratio")
      .collectFirst { case (suffix, u) if name.endsWith(suffix) => u }.getOrElse("")

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** Total collector time of this JVM so far, in ms. */
  def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum
  }

  def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete(); ()
  }

  def cores: Int = Runtime.getRuntime.availableProcessors()

  /** Spark session shared settings: every scratch file under the work dir. */
  def builder(args: Args): SparkSession.Builder =
    SparkSession.builder().master(s"local[$cores]").appName(s"perfbench-${args.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .config("spark.sql.shuffle.partitions", cores.toString)
}
