package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one workload run hands back to [[Main]]. `attempted`/`failed`
  * count checked outputs (deploy: expected output rows; catalog:
  * queries). `metrics` are the end-to-end metrics of an untraced run;
  * `extra` are workload facts that only the traced run's report needs
  * (they land in the span-file header). */
final case class Outcome(attempted: Long, failed: Long,
    metrics: Map[String, Double], extra: Map[String, Any] = Map.empty,
    valid: Boolean = true, notes: Seq[String] = Nil)

final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: File, corpus: String, cpus: Int,
    plant: Boolean, smoke: Boolean, writeGoldens: Option[String], goldens: Option[String],
    fixture: String, queries: String, spans: Option[String])

/** Benchmark entry point, run once per workload invocation:
  *
  * {{{
  * perfbench.Main --workload live_deploy|catalog
  *   --seed N --seconds S --trace 0|1 --work DIR [--corpus DIR]
  *   [--fixture FILE] [--queries FILE] [--goldens FILE] [--spans FILE]
  *   [--plant] [--smoke] [--write-goldens FILE]
  * }}}
  *
  * Prints run metadata, one line per measured item, and as its last
  * stdout line one JSON object with the outcome. `perfbench/run.py`
  * builds the classpath, launches this and reshapes the result. */
object Main {
  /** Wall clock at entry to main: the origin of `setup_s`. */
  val mainStartMs: Double = Tracer.nowMs
  private val marks = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  /** Mark the end of a run phase (setup, measure, check); the phase
    * durations go into the run metadata. */
  def mark(phase: String): Unit = synchronized {
    marks(phase) = Tracer.nowMs
  }
  private def phaseSeconds: Map[String, Double] = {
    val ends = marks.toSeq
    ends.zip(("main", mainStartMs) +: ends).map { case ((n, t), (_, t0)) =>
      n -> (t - t0) / 1000.0 }.toMap
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val loadStart = loadAvg()
    val tracer = new Tracer(a.trace)
    val out = a.workload match {
      case "live_deploy" => Deploy.live(a, tracer)
      case "catalog" => Catalog.run(a, tracer)
      case w => sys.error(s"unknown workload '$w'")
    }
    val meta = Map[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cpus" -> a.cpus,
      "available_processors" -> Runtime.getRuntime.availableProcessors,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadAvg(),
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments
        .asScala.toSeq,
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "corpus" -> a.corpus,
      "corpus_mtime_ms" -> Option(new File(a.corpus)).filter(_.exists)
        .map(_.lastModified),
      "phase_s" -> phaseSeconds, "valid" -> out.valid, "notes" -> out.notes)
    println("meta " + Json.obj(meta))
    a.spans.foreach { p =>
      tracer.write(p, meta ++ out.extra ++ Map(
        "metrics" -> out.metrics, "attempted" -> out.attempted,
        "failed" -> out.failed))
    }
    println(Json.obj(Map("correct" -> (out.failed == 0),
      "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> out.metrics, "valid" -> out.valid)))
    System.out.flush()
  }

  private def parse(argv: Array[String]): Args = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var flags = Set.empty[String]
    var i = 0
    while (i < argv.length) {
      val k = argv(i).stripPrefix("--")
      if (k == "plant" || k == "smoke") { flags += k; i += 1 }
      else {
        require(i + 1 < argv.length, s"--$k needs a value")
        m(k) = argv(i + 1); i += 2
      }
    }
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work")),
      m.getOrElse("corpus", ""),
      m.get("cpus").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors),
      flags("plant"), flags("smoke"), m.get("write-goldens"), m.get("goldens"),
      m.getOrElse("fixture", "src/test/resources/reference_export_fixture.json"),
      m.getOrElse("queries", "perfbench/catalog_queries.txt"), m.get("spans"))
  }

  def loadAvg(): String =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").trim
    catch { case _: Exception => "" }

  /** The session a workload runs in. `extraConf` carries the settings
    * that differ between the product's entry points (Bench excludes
    * InferFiltersFromGenerate; RunDeployment does not). */
  def session(cpus: Int, extraConf: Map[String, String]): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
    extraConf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Driver heap in use after a full collection, in MB: the least of
    * three collections 300 ms apart, so blocks whose asynchronous release
    * (Resources' non-blocking unpersist) is still in flight are not
    * counted as retained. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).map { i =>
      if (i > 1) Thread.sleep(300)
      System.gc()
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (p in 0..100). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val r = (s.length - 1) * p / 100.0
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  /** The value at percentile `p` and how many distinct groups
    * (micro-batches) the samples beyond it come from. */
  def tail(samples: Seq[(Double, Any)], p: Double): (Double, Int) = {
    val cut = percentile(samples.map(_._1), p)
    (cut, samples.filter(_._1 > cut).map(_._2).distinct.size)
  }

  /** Order-independent digest of a frame: row count and the sum of the
    * rows' xxhash64. Floating-point columns are rounded to 9 significant
    * digits first, so partition-order differences in the last bits of a
    * double sum do not read as a wrong result; maps hash as JSON. */
  def digest(df: DataFrame): (Long, String) = {
    import org.apache.spark.sql.functions.{col, count, format_string, lit, sum, to_json, xxhash64}
    import org.apache.spark.sql.types.{DoubleType, FloatType, MapType}
    val cols = df.schema.fields.toSeq.map { f =>
      val c = df.col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => format_string("%.9g", c)
        case _: MapType => to_json(c)
        case _ => c
      }
    }
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }
}
