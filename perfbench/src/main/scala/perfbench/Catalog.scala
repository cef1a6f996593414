package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import graft.{Resources, SparkEntry}
import org.apache.spark.sql.SparkSession

/** The `catalog` workload: a fixed, checked-in list of registered batch
  * queries (perfbench/catalog_queries.txt), closed loop with one client,
  * each query run the way graft.Bench runs it — `SparkEntry.queries(name)`
  * then a noop write inside `Resources.withScope`, then `clearCache`.
  * Each query's result digest is computed in an unmeasured pass and
  * compared with goldens stored with the benchmark; timed passes over
  * the whole list, each in an order permuted by the seed, then fill the
  * measured time, and the timings are the pooled query runs. */
object Catalog {
  /** Bench's session: the InferFiltersFromGenerate exclusion on top of
    * the shared engine settings. */
  val BenchConf = Map("spark.sql.optimizer.excludedRules" ->
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")

  /** The unmeasured warm-up query: scan, join, aggregate, codegen. */
  val WarmUp = "q01_pricing_summary"

  def queryNames(path: String): Seq[String] =
    new String(Files.readAllBytes(new File(path).toPath), UTF_8)
      .split("\n").map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq

  final case class Timing(name: String, traced: Boolean, buildMs: Double,
      actionMs: Double, error: Option[String]) {
    def totalMs: Double = buildMs + actionMs
  }

  /** One query the way Bench forces it: build, noop write, release. */
  def timeQuery(spark: SparkSession, name: String, dir: String,
      tracer: Tracer): Timing = {
    val trace = s"q:$name"
    val attrs = Map[String, Any]("query" -> name, "family" -> name.take(1))
    var t1 = 0.0
    val t0 = Tracer.nowMs
    val err = try {
      tracer.span("catalog.query", trace, attrs) {
        Resources.withScope {
          val df = tracer.span("op.build", trace, attrs)(SparkEntry.queries(name)(spark, dir))
          t1 = Tracer.nowMs
          tracer.span("action", trace, attrs)(
            df.write.format("noop").mode("overwrite").save())
        }
      }
      None
    } catch { case e: Throwable =>
      System.err.println(s"[perfbench] $name failed: $e")
      Some(e.toString)
    }
    val t2 = Tracer.nowMs
    spark.catalog.clearCache()
    if (t1 == 0.0) t1 = t2
    Timing(name, tracer.active, t1 - t0, t2 - t1, err)
  }

  /** A query's result digest ("rows:hashsum"); with `plant`, one extra row. */
  def digest(spark: SparkSession, name: String, dir: String,
      plant: Boolean): String = Resources.withScope {
    val df = SparkEntry.queries(name)(spark, dir)
    val (n, h) = Main.digest(if (plant) df.union(df.limit(1)) else df)
    s"$n:$h"
  }

  /** Set-ups per run: each builds a fresh session and runs the warm-up
    * query; `setup_s` is their median. */
  val Setups = 3
  /** Complete timed passes over the list at least, however short
    * `--seconds`: two passes leave ten samples beyond the tail
    * percentile. */
  val MinPasses = 2
  /** The tail percentile over timed query runs: fixed, so every run
    * reports the same statistic; each run records how many samples it
    * left beyond it. */
  val TailPercentile = 75.0

  /** One set-up: a session configured as Bench configures it, then the
    * unmeasured warm-up query (a fixed one, so every seed pays the same). */
  private def setUp(a: Args, tracer: Tracer): SparkSession =
    tracer.span("setup", "setup") {
      val s = Main.session(a.cpus, BenchConf)
      Listeners.install(s, tracer)
      tracer.active = false
      timeQuery(s, WarmUp, a.corpus, tracer)
      tracer.active = tracer.enabled
      s
    }

  def run(a: Args, tracer: Tracer): Outcome = {
    val names = queryNames(a.queries)
    val registered = SparkEntry.queries.keySet
    val unknown = names.filterNot(registered)
    require(unknown.isEmpty, s"unregistered catalog queries: ${unknown.mkString(", ")}")
    val rnd = new scala.util.Random(a.seed)
    // Set up several times, each a fresh session; every session but the
    // last is stopped again.
    val setupTimes = new ArrayBuffer[Double]
    var spark: SparkSession = null
    for (i <- 1 to Setups) {
      if (spark != null) spark.stop()
      val t0 = Tracer.nowMs
      spark = setUp(a, tracer)
      setupTimes += (Tracer.nowMs - t0) / 1000.0
    }
    Main.mark("setup")
    // The output check, unmeasured, in the seed's order: each query's
    // result digest. It also warms every query's plan and code, as the
    // first of Bench's two runs does.
    tracer.active = false
    val digests = rnd.shuffle(names).map { n =>
      val d = try digest(spark, n, a.corpus, a.plant && n == names.min)
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] $n digest failed: $e")
          s"error: ${e.getClass.getName}"
        }
      n -> d
    }.sortBy(_._1)
    Main.mark("check")
    // An unmeasured warm-up pass: the engine keeps getting faster over
    // its first runs of each query.
    rnd.shuffle(names).foreach(n => timeQuery(spark, n, a.corpus, tracer))
    Main.mark("warmup")
    // Timed passes, each over the whole list in a fresh seeded order,
    // until `--seconds` have gone by and at least MinPasses are complete;
    // the last may be partial. A traced run times every query twice,
    // tracing off and on in alternating order, for the tracing overhead.
    val timings = new ArrayBuffer[(Int, Timing)]
    val deadline = Tracer.nowMs + a.seconds * 1000.0
    var pass = 0
    var order = rnd.shuffle(names)
    var i = 0
    while (pass < MinPasses || Tracer.nowMs < deadline) {
      val modes = if (!tracer.enabled) Seq(false)
        else if (i % 2 == 0) Seq(false, true) else Seq(true, false)
      modes.foreach { traced =>
        tracer.active = traced
        timings += pass -> timeQuery(spark, order(i), a.corpus, tracer)
      }
      i += 1
      if (i == order.size) { pass += 1; i = 0; order = rnd.shuffle(names) }
    }
    tracer.active = tracer.enabled
    Listeners.drain(spark)
    val heap = Main.retainedHeapMb()
    Main.mark("measure")
    spark.stop()
    val measured = timings.filter(_._2.traced == tracer.enabled).toSeq
    measured.foreach { case (k, t) =>
      println(f"query ${t.name} pass=$k total_s=${t.totalMs / 1000}%.4f " +
        f"build_s=${t.buildMs / 1000}%.4f action_s=${t.actionMs / 1000}%.4f" +
        t.error.fold("")(e => s" error=$e"))
    }
    a.writeGoldens.foreach { p =>
      Files.write(new File(p).toPath, (digests.map { case (n, d) => s"$n $d" }
        .mkString("\n") + "\n").getBytes(UTF_8))
    }
    val goldens = a.goldens.filter(p => new File(p).exists).map(p => queryNames(p).map { l =>
      val Array(n, d) = l.split(" ", 2); n -> d }.toMap).getOrElse(Map.empty)
    val wrong = digests.filter { case (n, d) => a.writeGoldens.isEmpty && !goldens.get(n).contains(d) }
    wrong.foreach { case (n, d) =>
      println(s"digest-mismatch $n got=$d want=${goldens.getOrElse(n, "none")}") }
    val failedQ = (measured.map(_._2).filter(_.error.isDefined).map(_.name) ++ wrong.map(_._1)).distinct
    val ok = measured.map(_._2).filter(_.error.isEmpty)
    val ms = ok.map(_.totalMs)
    val total = ms.sum / 1000
    // a median pass: every query at the median of its timed runs
    val medianPassS = ok.groupBy(_.name).values.map(ts => Main.median(ts.map(_.totalMs))).sum / 1000
    val p50 = Main.median(ms)
    val tailV = Main.percentile(ms, TailPercentile)
    val beyond = ms.count(_ > tailV)
    val sumOf = (traced: Boolean) =>
      timings.map(_._2).filter(t => t.traced == traced && t.error.isEmpty).map(_.totalMs).sum
    val setupS = Main.median(setupTimes.toSeq)
    println(f"catalog queries=${names.size} passes=$pass runs=${ms.size} total_s=$total%.3f " +
      f"median_pass_s=$medianPassS%.3f " +
      f"query_p50_s=${p50 / 1000}%.4f query_tail_s=${tailV / 1000}%.4f (p$TailPercentile%.0f, " +
      f"$beyond beyond) setups_s=${setupTimes.map(t => f"$t%.3f").mkString(",")}")
    Outcome(names.size, failedQ.size,
      Map("setup_s" -> setupS,
        "latency_p50_ms" -> p50,
        "latency_tail_ms" -> tailV,
        "throughput_per_s" -> ok.map(_.name).distinct.size / medianPassS,
        "retained_heap_mb" -> heap),
      extra = Map("latency_tail_percentile" -> TailPercentile, "total_s" -> total,
        "queries" -> names.size, "passes" -> pass, "median_pass_s" -> medianPassS, "query_runs" -> ms.size,
        "runs_beyond_tail" -> beyond,
        "setup_times_s" -> setupTimes.toSeq,
        "untraced_primary" -> sumOf(false), "traced_primary" -> sumOf(true)))
  }
}
