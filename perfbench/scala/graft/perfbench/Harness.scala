package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** key=value inputs manifest written by the runner (lists are `|`-joined). */
final class Manifest(path: String) {
  private val p = new java.util.Properties()
  locally {
    val in = new java.io.FileInputStream(path)
    try p.load(in) finally in.close()
  }
  def str(k: String): String = Option(p.getProperty(k)).getOrElse(sys.error(s"manifest: no $k"))
  def long(k: String): Long = str(k).toLong
  def list(k: String): Seq[String] = str(k).split('|').toSeq.filter(_.nonEmpty)
}

/** One benchmark run in one JVM:
  *
  *   Harness <workload> <manifest> <workDir> <resultJson> <seconds> <trace 0|1> <cores> <seed>
  *           [<queries> <queries to persist>]   (query_mix: comma-separated names)
  *
  * Set-up (JVM, session, one trivial Spark job, program init and
  * warm-up: [[Workload.prepare]]) is timed
  * from JVM start; then the workload runs rounds for `seconds` (at least
  * one), or one traced round, and every operation's output is checked.
  * The result file is one JSON object the runner turns into metrics.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val Array(workload, manifest, work, result, secondsS, traceS, coresS, seedS) = args.take(8)
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = coresS.toInt
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new Counters(cores)
    spark.sparkContext.addSparkListener(counters)

    // Spark's own first-job cost (scheduler, codegen compiler, task
    // launch) belongs to set-up, not to the first measured operation
    spark.range(0L, 100000L, 1L, cores).selectExpr("id % 7 AS k").groupBy("k").count().collect()

    val inputs = new Manifest(manifest)
    val w: Workload = workload match {
      case "bicis_forecast" => new BicisForecast(spark, inputs, s"$work/bicis")
      case "query_mix" =>
        new QueryMix(spark, inputs, s"$work/qm", seedS.toLong, args(8).split(',').toSeq,
          args(9).split(',').toSet)
      case other => sys.error(s"unknown workload $other")
    }
    w.prepare()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    val r = new Report
    val tr = if (trace) Some(new Tracer(spark.sparkContext, counters, cores)) else None
    tr match {
      case Some(t) => w.traced(r, t)
      case None => w.measure(seconds, r)
    }
    w.verifyOnce(r)

    tr.foreach(t => java.nio.file.Files.writeString(new File(s"$work/spans.json").toPath, t.toJson))
    def arr(xs: Iterable[Double]) = xs.map(Json.num).mkString("[", ", ", "]")
    val layers = r.layers.map { case (k, v) => s"${Json.str(k)}: ${arr(v)}" }.mkString("{", ", ", "}")
    java.nio.file.Files.writeString(new File(result).toPath,
      s"""{"setup_s": $setupS, "cold": ${arr(r.cold)}, "warm": ${arr(r.warm)}, """ +
        s""""items": ${r.items}, "op_s": ${r.opS}, "rounds": ${r.rounds}, "peak_heap_mb": ${r.peakHeapMb}, """ +
        s""""attempted": ${r.attempted}, "failures": ${r.failures.map(Json.str).mkString("[", ", ", "]")}, """ +
        s""""layers": $layers}""")
    spark.stop()
  }
}
