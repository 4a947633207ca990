package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The JVM half of the benchmark. It runs one workload and writes the raw
  * measurements (samples, progress events, listener totals, check results)
  * as one JSON document; `perfbench/run.py` turns them into metrics.
  *
  * Usage:
  *   Main --workload <pipeline_live|pipeline_catchup|registry|generator_check>
  *        --seed N --seconds S --trace 0|1 --work DIR --out FILE
  *        [--smtp-port P] [--data DIR] [--queries a,b]
  */
object Main {

  private val started = System.nanoTime()

  /** A phase marker in the JVM log, which `run.py` shows when a run fails. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.2f s $what")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt.getOrElse("seconds", "10").toInt
    val work = opt("work")
    val spans = new Spans(opt.getOrElse("trace", "0") == "1")
    System.setProperty("derby.system.home", work)
    System.setProperty("derby.stream.error.file", s"$work/derby.log")
    def list(k: String): Seq[String] =
      opt.get(k).map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)

    val result: Map[String, Any] = workload match {
      case "pipeline_live" | "pipeline_catchup" =>
        val spark = session(work)
        try new PipelineBench(spark, workload == "pipeline_live", seed, seconds,
          spans, opt("smtp-port").toInt, work).run()
        finally spark.stop()
      case "registry" =>
        var last: SparkSession = null
        val bench = new RegistryBench(() => { last = session(work); last },
          opt("data"), list("queries"), seed, seconds, spans,
          s"$work/dump")
        try bench.run() finally if (last != null) last.stop()
      case "generator_check" =>
        val spark = session(work)
        try GeneratorCheck.run(spark, seed, opt.getOrElse("readings", "240000").toLong)
        finally spark.stop()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Files.writeString(Paths.get(opt("out")), Json.render(result))
    if (spans.on) spans.write(Paths.get(opt("out") + ".spans.jsonl"))
  }

  /** `local[<cores>]` with every scratch directory inside `work`. */
  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/ckpt-default")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    mark("session ready")
    spark
  }
}

/** JVM-wide garbage-collection time and heap peaks. */
object Jvm {
  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).filter(_ >= 0).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peaks since the last reset, in MiB. */
  def heapPeakMb(): Double =
    heapPools.map(_.getPeakUsage.getUsed.toDouble).sum / (1024.0 * 1024.0)
}

/** One-off comparison of this benchmark's generator with
  * `graft.sim.Generator`: the share of readings that raise a mailable
  * (critical or warning) alert under `AlertRules.detect`.
  */
object GeneratorCheck {
  import org.apache.spark.sql.functions.col
  import graft.ops.{AlertRules, Parse}

  def run(spark: SparkSession, seed: Long, n: Long): Map[String, Any] = {
    def rate(readings: org.apache.spark.sql.DataFrame): Double =
      AlertRules.detect(readings)
        .where(col("severity").isin("critical", "warning")).count().toDouble / n
    val gen = new Readings(seed)
    val ours = Parse.fromKafka(spark.range(n)
      .map(i => gen.json(i))(org.apache.spark.sql.Encoders.STRING).toDF("value"))
    val theirs = graft.sim.Generator.batch(spark, n, seed)
    Map("readings" -> n, "perfbench_mailable_rate" -> rate(ours),
      "generator_mailable_rate" -> rate(theirs))
  }
}
