package graftbench

import org.apache.spark.sql.SparkSession

/** One run's measurements: e2e metrics always, per-layer ones when traced. */
final case class Result(attempted: Long, failed: Long, endToEnd: Map[String, Double],
                        perLayer: Map[String, Double])

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
}

/** Benchmark entry, launched by `perfbench/run.py`:
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *                   --work DIR --result FILE --traces TDIR
  *
  * DIR holds the catalog tables (`sf0.1`, `sf0.001`) and receives catalog
  * outputs; FILE receives one JSON object; a traced run writes its spans
  * to TDIR. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(s"$workload-$seed-${if (traced) "traced" else "untraced"}", traced)
    val result =
      try workload match {
        case "lens-ref" | "lens-cluster" => Lens.run(spark, workload, seed, seconds, traced, trace)
        case "catalog-core" =>
          Catalog.run(spark, s"$work/sf0.1", s"$work/sf0.001", s"$work/out", seconds, traced, trace)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally {
        if (traced) trace.write(java.nio.file.Paths.get(opts("traces"), s"${trace.runId}.jsonl"))
      }
    val metrics = (if (traced) result.perLayer else result.endToEnd)
      .toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opts("result")),
      s"""{"attempted":${result.attempted},"failed":${result.failed},"metrics":$metrics}""")
    spark.stop()
  }
}
