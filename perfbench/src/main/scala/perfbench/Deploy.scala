package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.plans.{DeploymentJson, Pipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

/** The `live_deploy` workload: the reference UI export "Office monitor"
  * (three named inputs → synchronizer → calculator → gate → two named
  * outputs) run on the Structured Streaming branch the way
  * `RunDeployment --streaming` runs it: one unified file source, one
  * checkpointed parquet file sink per named output, every sink started
  * before any is awaited. Open loop: a generator thread writes one
  * envelope file per tick on a fixed schedule while the sinks run on the
  * default processing-time trigger; latency is per delivered row of the
  * measured window, which opens once the deployment has run for a while.
  * A staged log drained with `AvailableNow` (one file per micro-batch)
  * is the traced run's one-core baseline.
  */
object Deploy {
  /** Live shape: 8 pipes × (clicks + views) every 100 ms, plus one ctrl
    * toggle per pipe every 20 ticks = 164 events/s. At this rate per-row
    * work is a small share of a micro-batch, so latency is set by the
    * fixed cost per batch; since a longer batch gathers more rows, a
    * higher rate would also amplify host-speed differences in latency. */
  val LivePipes = 8; val LiveTickMs = 100L; val CtrlEvery = 20
  /** One-core baseline shape: 2000 pipes × 4 ticks staged as 2 files,
    * then one file of pause markers: 3 micro-batches per drain. */
  val BaselinePipes = 2000; val BaselineTicks = 4; val BaselineFiles = 2

  private val Node = "office-pc"

  /** The unified source's row: the envelope plus the pipe (pipeline
    * instance) and the named input it belongs to. */
  val Schema: StructType = StructType(Seq(
    StructField("__input", StringType), StructField("pipe", StringType),
    StructField("ts", LongType), StructField("value", DoubleType),
    StructField("text", StringType), StructField("paused", BooleanType),
    StructField("seq", LongType)))
  private val OutCols = Seq("pipe", "ts", "value", "text", "paused", "seq")

  /** Seeded envelope generator. Tick k carries, for every pipe, one
    * clicks and one views row and, every `CtrlEvery` ticks at a seeded
    * per-pipe phase, a ctrl row that toggles that pipe's gate. Files
    * are plain JSON lines written by JVM IO under a hidden name and
    * renamed into place, so the file source never sees a partial file. */
  final class Generator(seed: Long, pipes: Int) {
    private val rnd = new java.util.Random(seed)
    private val phase = Array.fill(pipes)(rnd.nextInt(CtrlEvery))
    private val open = Array.fill(pipes)(false)
    private var seq = 0L
    private val crc = new java.util.zip.CRC32
    var events = 0L
    var files = 0L
    /** CRC-32 of every byte written: shows that the seed changes the content. */
    def contentCrc: Long = crc.getValue

    private def row(b: StringBuilder, input: String, pipe: Int, ts: Long,
        value: Double, paused: Boolean): Unit = {
      b ++= "{\"__input\":\"" ++= input ++= "\",\"pipe\":\"p" ++= pipe.toString ++=
        "\",\"ts\":" ++= ts.toString ++= ",\"value\":" ++= value.toString ++=
        ",\"paused\":" ++= paused.toString ++= ",\"seq\":" ++= seq.toString ++= "}\n"
      seq += 1; events += 1
    }

    def tick(b: StringBuilder, k: Long, ts: Long): Unit =
      for (p <- 0 until pipes) {
        row(b, "clicks", p, ts, rnd.nextInt(10000) / 10.0, paused = false)
        row(b, "views", p, ts, rnd.nextInt(10000) / 10.0, paused = false)
        if ((k + phase(p)) % CtrlEvery == 0) {
          open(p) = !open(p)
          row(b, "ctrl", p, ts, if (open(p)) 1.0 else 0.0, paused = false)
        }
      }

    /** In-band pause markers on every input of every pipe: the
      * synchronizer releases what it buffered, so nothing stays held. */
    def pauses(b: StringBuilder, ts: Long): Unit =
      for (p <- 0 until pipes; in <- Seq("clicks", "views", "ctrl"))
        row(b, in, p, ts, 1.0, paused = true)

    def write(dir: File, name: String, body: CharSequence,
        mtime: Option[Long] = None): Unit = {
      val tmp = new File(dir, s".$name.tmp")
      val bytes = body.toString.getBytes(UTF_8)
      crc.update(bytes)
      Files.write(tmp.toPath, bytes)
      mtime.foreach(tmp.setLastModified)
      Files.move(tmp.toPath, new File(dir, name).toPath,
        StandardCopyOption.ATOMIC_MOVE)
      files += 1
    }
  }

  /** Stage a whole log: `ticks` ticks in `nFiles` files plus a final
    * pause-marker file, modification times ascending so the file source
    * replays them in order. */
  def stage(dir: File, gen: Generator, ticks: Int, nFiles: Int): Unit = {
    dir.mkdirs()
    val base = 1700000000000L
    val t0 = System.currentTimeMillis() - 600000L
    val perFile = math.max(1, ticks / nFiles)
    for (f <- 0 until nFiles) {
      val b = new StringBuilder
      for (k <- f * perFile until (f + 1) * perFile) gen.tick(b, k, base + k * 100L)
      gen.write(dir, f"log-$f%05d.json", b, Some(t0 + f * 1000L))
    }
    val b = new StringBuilder
    gen.pauses(b, base + ticks * 100L)
    gen.write(dir, f"log-$nFiles%05d.json", b, Some(t0 + nFiles * 1000L))
  }

  /** One micro-batch's progress. `endMs` is the progress timestamp plus
    * triggerExecution: when the batch's output was committed. */
  final case class Batch(query: String, run: String, id: Long, startMs: Double,
      endMs: Double, rows: Long, phases: Map[String, Long],
      state: Map[String, Long])

  /** Collects every micro-batch's progress; in a traced run also
    * records it as a `stream.batch` span with one child per phase,
    * rebuilt from `durationMs` in execution order. */
  final class Progress(tracer: Tracer) extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[Batch]
    private val order = Seq("latestOffset", "walCommit", "getBatch",
      "queryPlanning", "addBatch", "commitOffsets")

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val ops = p.stateOperators.toSeq
      val state = Map(
        "rows_total" -> ops.map(_.numRowsTotal).sum,
        "rows_updated" -> ops.map(_.numRowsUpdated).sum,
        "memory_bytes" -> ops.map(_.memoryUsedBytes).sum,
        "update_ms" -> ops.map(_.allUpdatesTimeMs).sum,
        "commit_ms" -> ops.map(_.commitTimeMs).sum)
      val b = Batch(p.name, p.runId.toString, p.batchId, t0,
        t0 + d.getOrElse("triggerExecution", 0L), p.numInputRows, d, state)
      batches.add(b)
      val trace = s"batch:${p.id}:${p.batchId}"
      val id = tracer.record("stream.batch", trace,
        b.startMs, b.endMs, Map("query" -> p.name,
          "query_id" -> p.id.toString, "batch_id" -> p.batchId,
          "rows" -> p.numInputRows) ++ state.map { case (k, v) => s"state_$k" -> v })
      var at = b.startMs
      order.foreach { ph =>
        d.get(ph).foreach { ms =>
          tracer.record(s"stream.$ph", trace, at,
            at + ms, parent = id)
          at += ms
        }
      }
    }

    /** The batches of one started query (one run id). */
    def of(run: String): Map[Long, Batch] =
      batches.asScala.filter(_.run == run).map(b => b.id -> b).toMap
  }

  private def load(a: Args, tracer: Tracer): DeploymentJson.Loaded = {
    val json = new String(Files.readAllBytes(new File(a.fixture).toPath), UTF_8)
    tracer.span("plans.load", "setup")(DeploymentJson.load(json, nodeName = Some(Node)))
  }

  private def inputs(loaded: DeploymentJson.Loaded, df: DataFrame): Map[String, DataFrame] =
    loaded.namedInputs.map { case (name, stream) =>
      stream -> df.filter(col("__input") === name).drop("__input")
    }

  /** Compile on the streaming branch over the unified file source. */
  def compileStreaming(spark: SparkSession, loaded: DeploymentJson.Loaded,
      src: File, maxFiles: Option[Int], tracer: Tracer, trace: String): Map[String, DataFrame] = {
    val r = spark.readStream.schema(Schema)
    maxFiles.foreach(n => r.option("maxFilesPerTrigger", n.toLong))
    val df = r.json(src.getPath)
    tracer.span("plans.compile", trace)(Pipeline.compile(loaded.deployment, inputs(loaded, df)))
  }

  /** Start one checkpointed parquet file sink per named output (all
    * started before any is awaited, like RunDeployment). */
  def startSinks(streams: Map[String, DataFrame], loaded: DeploymentJson.Loaded,
      out: File, trigger: Trigger): Seq[StreamingQuery] =
    loaded.namedOutputs.toSeq.sortBy(_._1).map { case (name, stream) =>
      streams(stream).writeStream.format("parquet").queryName(name)
        .option("path", new File(out, s"$name.parquet").getPath)
        .option("checkpointLocation", new File(out, s"_checkpoints/$name").getPath)
        .outputMode("append").trigger(trigger).start()
    }

  /** The same deployment compiled on the batch branch over the same
    * input files: the reference every streaming output must equal. */
  def reference(spark: SparkSession, loaded: DeploymentJson.Loaded,
      src: File): Map[String, DataFrame] = {
    val streams = Pipeline.compile(loaded.deployment,
      inputs(loaded, spark.read.schema(Schema).json(src.getPath)))
    loaded.namedOutputs.map { case (name, stream) => name -> streams(stream) }
  }

  /** Paths listed in a Spark metadata log directory (file-sink
    * `_spark_metadata` or file-source `sources/0`), by batch id: each
    * path is attributed to the first batch whose log names it, which
    * recovers per-batch sets across compacted log files. */
  def logPaths(dir: File): Map[String, Long] = {
    val PathRe = "\"path\":\"([^\"]+)\"".r
    val logs = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.matches("\\d+(\\.compact)?"))
      .sortBy(_.getName.takeWhile(_.isDigit).toLong)
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    logs.foreach { f =>
      val id = f.getName.takeWhile(_.isDigit).toLong
      PathRe.findAllMatchIn(new String(Files.readAllBytes(f.toPath), UTF_8))
        .foreach { m =>
          val name = m.group(1).substring(m.group(1).lastIndexOf('/') + 1)
          if (!seen.contains(name)) seen(name) = id
        }
    }
    seen.toMap
  }

  /** Delivered data rows of one sink as (ts, batch id, row count). */
  def deliveredRows(spark: SparkSession, sink: File): Seq[(Long, Long, Long)] = {
    val fileBatch = logPaths(new File(sink, "_spark_metadata"))
    spark.read.parquet(sink.getPath).filter(!col("paused"))
      .groupBy(input_file_name().as("f"), col("ts")).count().collect().toSeq
      .map { r =>
        val f = r.getString(0)
        val batch = fileBatch.getOrElse(f.substring(f.lastIndexOf('/') + 1),
          sys.error(s"sink file $f is in no _spark_metadata batch"))
        (r.getLong(1), batch, r.getLong(2))
      }
  }

  /** Run a staged log to completion: AvailableNow, one file per
    * micro-batch (the streams were compiled with maxFilesPerTrigger 1).
    * Returns the first `start()` time, the wall ms from it to the last
    * sink's termination, and each output's run id. */
  def drain(streams: Map[String, DataFrame], loaded: DeploymentJson.Loaded,
      out: File, tracer: Tracer, trace: String): (Double, Double, Map[String, String]) =
    tracer.span("deploy.run", trace) {
      val t0 = Tracer.nowMs
      val qs = tracer.span("action", trace)(
        startSinks(streams, loaded, out, Trigger.AvailableNow()))
      qs.foreach(_.awaitTermination())
      (t0, Tracer.nowMs - t0, qs.map(q => q.name -> q.runId.toString).toMap)
    }

  private def newSession(a: Args, cpus: Int, tracer: Tracer): (SparkSession, Progress) = {
    val spark = Main.session(cpus, Map.empty)
    Listeners.install(spark, tracer)
    val progress = new Progress(tracer)
    spark.streams.addListener(progress)
    (spark, progress)
  }

  /** Checks sink outputs against the batch reference of the same input
    * (computed once, cached). Returns (expected rows, rows missing from
    * plus rows extra to the expected output); the rows are compared one
    * by one only when the digests differ. With `plant`, one delivered
    * row is dropped first, so the check must report a failure. */
  final class Checker(spark: SparkSession, loaded: DeploymentJson.Loaded,
      src: File, plant: Boolean) {
    private lazy val ref = reference(spark, loaded, src).map { case (n, df) =>
      val want = df.select(OutCols.map(col): _*).cache()
      n -> (want, Main.digest(want))
    }
    def apply(out: File): (Long, Long) =
      ref.toSeq.map { case (name, (want, wantDigest)) =>
        val got0 = spark.read.parquet(new File(out, s"$name.parquet").getPath)
          .select(OutCols.map(col): _*)
        val got = if (plant) got0.exceptAll(got0.limit(1)) else got0
        val bad = if (Main.digest(got) == wantDigest) 0L
          else want.exceptAll(got).count() + got.exceptAll(want).count()
        (wantDigest._1, bad)
      }.foldLeft((0L, 0L)) { case ((a, f), (x, y)) => (a + x, f + y) }
  }

  /** The smoke test's tiny shapes: a handful of pipes. */
  private def pipes(a: Args, full: Int): Int = if (a.smoke) 2 else full

  /** The live tail percentile: fixed, so every run reports the same
    * statistic. It is the highest percentile that leaves at least ten
    * micro-batches beyond it at the benchmark's run length; each run
    * records how many it actually left. */
  val TailPercentile = 75.0

  // ------------------------------------------------------------ live

  /** One deployment, set up and running: its session, sinks and
    * directories. */
  private final case class Live(spark: SparkSession, progress: Progress,
      loaded: DeploymentJson.Loaded, qs: Seq[StreamingQuery], src: File, out: File)

  /** Set up one deployment from scratch: a fresh session, the export
    * loaded and compiled, every sink started, in fresh directories. */
  private def setUp(a: Args, tracer: Tracer, i: Int): Live =
    tracer.span("setup", "setup") {
      val (spark, progress) = newSession(a, a.cpus, tracer)
      val loaded = load(a, tracer)
      val dir = new File(a.work, s"live$i")
      val src = new File(dir, "src"); src.mkdirs()
      val out = new File(dir, "out")
      val streams = compileStreaming(spark, loaded, src, None, tracer, "live")
      Live(spark, progress, loaded, startSinks(streams, loaded, out,
        Trigger.ProcessingTime(0L)), src, out)
    }

  /** Write `ticks` ticks on the live schedule from `t0` (tick k is due at
    * t0 + k × LiveTickMs and its rows carry that time as `ts`), calling
    * `onTick(k)` before each. Returns the generator's lag per tick. */
  private def generate(gen: Generator, src: File, t0: Long, ticks: Int,
      onTick: Int => Unit = _ => ()): Seq[Double] = {
    val lags = new ArrayBuffer[Double]
    @volatile var error: Option[Throwable] = None
    val thread = new Thread(() => {
      try for (k <- 0 until ticks) {
        onTick(k)
        val due = t0 + k * LiveTickMs
        val wait = due - Tracer.nowMs
        if (wait > 0) Thread.sleep(wait.toLong)
        val b = new StringBuilder
        gen.tick(b, k, due)
        gen.write(src, f"tick-$k%06d.json", b)
        lags += Tracer.nowMs - due
      } catch { case e: Throwable => error = Some(e) }
    }, "perfbench-generator")
    thread.start(); thread.join()
    error.foreach(e => throw new IllegalStateException("generator failed", e))
    lags.toSeq
  }

  /** Set-ups per run, each a fresh session and deployment; `setup_s` is
    * their median. Every deployment but the last is torn down again,
    * the first `WarmRuns` after running live for `WarmRunS` seconds: the engine
    * keeps getting faster over its first live seconds, and a
    * deployment's first micro-batches are slow and carry the backlog
    * they leave. */
  val Setups = 5
  val WarmRuns = 2
  val WarmRunS = 5
  /** The measured deployment runs live this long before its measured
    * window opens. */
  val WarmS = 8

  def live(a: Args, tracer: Tracer): Outcome = {
    val setupTimes = new ArrayBuffer[Double]
    var d: Live = null
    for (i <- 0 until Setups) {
      val last = i == Setups - 1
      // a traced run traces the measured deployment's set-up only
      tracer.active = tracer.enabled && last
      val t0 = Tracer.nowMs
      d = setUp(a, tracer, i)
      setupTimes += (Tracer.nowMs - t0) / 1000.0
      if (!last) {
        tracer.active = false
        if (i < WarmRuns) generate(new Generator(a.seed, pipes(a, LivePipes)), d.src,
          math.ceil(Tracer.nowMs).toLong + 500L, (WarmRunS * 1000L / LiveTickMs).toInt)
        d.qs.foreach(_.stop())
        d.spark.stop()
      }
    }
    Main.mark("setup")
    tracer.active = false
    val spark = d.spark
    // The measured deployment: WarmS live seconds, then the measured
    // window of `--seconds`. A traced run traces the second half of the
    // window only; the first half, untraced, gives the tracing overhead.
    val gen = new Generator(a.seed, pipes(a, LivePipes))
    val t0 = math.ceil(Tracer.nowMs).toLong + 500L
    val warmTicks = (WarmS * 1000L / LiveTickMs).toInt
    val windowTicks = (a.seconds * 1000L / LiveTickMs).toInt
    val halfTick = warmTicks + windowTicks / 2
    val winStart = t0 + warmTicks * LiveTickMs
    val winEnd = t0 + (warmTicks + windowTicks) * LiveTickMs
    val half = t0 + halfTick * LiveTickMs
    val lags = generate(gen, d.src, t0, warmTicks + windowTicks, k =>
      if (tracer.enabled && k == halfTick) tracer.active = true)
    // files written but not yet read by the slowest sink
    val backlog = gen.files - d.qs.map(q =>
      logPaths(new File(d.out, s"_checkpoints/${q.name}/sources/0")).size).min
    val b = new StringBuilder
    gen.pauses(b, winEnd)
    gen.write(d.src, f"tick-${warmTicks + windowTicks}%06d.json", b)
    d.qs.foreach(_.processAllAvailable())
    d.qs.foreach(_.stop())
    if (tracer.enabled) tracer.record("deploy.run", "live", half, Tracer.nowMs)
    tracer.active = false
    Listeners.drain(spark)
    val heap = Main.retainedHeapMb()
    Main.mark("measure")
    // Delivered rows of the window as (scheduled creation ms, batch end
    // ms, micro-batch), one per row.
    val rows = d.qs.flatMap { q =>
      val batches = d.progress.of(q.runId.toString)
      batches.values.toSeq.filter(_.rows > 0).sortBy(_.id).foreach { b =>
        println(f"batch ${q.name} ${b.id} rows=${b.rows} trigger_ms=${b.endMs - b.startMs}%.0f")
      }
      deliveredRows(spark, new File(d.out, s"${q.name}.parquet")).flatMap { case (ts, id, n) =>
        val end = batches.getOrElse(id,
          sys.error(s"${q.name} batch $id has no progress record")).endMs
        Seq.fill(n.toInt)((ts, end, (q.name, id)))
      }
    }.filter { case (ts, _, _) => ts >= winStart && ts < winEnd }
    val (attempted, failed) = new Checker(spark, d.loaded, d.src, a.plant)(d.out)
    val tracedRow = (ts: Long) => tracer.enabled && ts >= half
    val pick = rows.filter(r => tracedRow(r._1) == tracer.enabled)
    val samples = pick.map { case (ts, end, key) => (end - ts, key: Any) }
    // delivered rows per second, from the window's opening to the
    // output commit of the last of its rows
    val from = if (tracer.enabled) half else winStart
    val throughput = pick.size * 1000.0 / (pick.map(_._2).max - from)
    val baseline = if (tracer.enabled) Some(oneCore(spark, d.loaded, a, tracer)) else None
    if (!spark.sparkContext.isStopped) spark.stop()
    Main.mark("check")
    val p50 = Main.median(samples.map(_._1))
    val (tailV, beyond) = Main.tail(samples, TailPercentile)
    val lagP50 = Main.median(lags)
    val lagMax = lags.max
    // Valid when the generator kept its schedule (lag well below the
    // latency it is measuring) and the unread backlog at the end of
    // generation is no more than two median latencies' worth of ticks.
    val notes = (if (lagP50 >= 0.1 * p50 || lagMax >= p50)
      Seq(f"generator lagged: p50 $lagP50%.1f ms, max $lagMax%.1f ms") else Nil) ++
      (if (backlog * LiveTickMs > 2 * p50)
        Seq(s"live backlog grew to $backlog files") else Nil) ++
      (if (beyond < 10) Seq(s"only $beyond micro-batches beyond the tail percentile") else Nil)
    val halfP50 = (traced: Boolean) => {
      val xs = rows.filter(r => tracedRow(r._1) == traced).map(r => r._2 - r._1)
      if (xs.isEmpty) p50 else Main.median(xs)
    }
    println(f"gen content_crc=${gen.contentCrc}%08x events=${gen.events}")
    println(f"live rows=${samples.size} p50_ms=$p50%.3f tail_p$TailPercentile%.0f=$tailV%.3f " +
      f"batches_beyond_tail=$beyond delivered_per_s=$throughput%.2f " +
      f"lag_p50_ms=$lagP50%.3f lag_max_ms=$lagMax%.3f backlog_files=$backlog " +
      f"setups_s=${setupTimes.map(t => f"$t%.3f").mkString(",")}")
    Outcome(attempted, failed,
      Map("latency_p50_ms" -> p50, "latency_tail_ms" -> tailV,
        "setup_s" -> Main.median(setupTimes.toSeq),
        "throughput_per_s" -> throughput, "retained_heap_mb" -> heap),
      extra = Map("latency_tail_percentile" -> TailPercentile,
        "batches_beyond_tail" -> beyond, "rows" -> samples.size,
        "gen_events" -> gen.events, "gen_files" -> gen.files,
        "gen_lag_p50_ms" -> lagP50, "gen_lag_max_ms" -> lagMax,
        "source_backlog_files" -> backlog, "setup_times_s" -> setupTimes.toSeq,
        "untraced_primary" -> halfP50(false), "traced_primary" -> halfP50(true)) ++
        baseline.map { case (many, one) =>
          Map("baseline_drain_ms" -> many, "onecore_drain_ms" -> one) }.getOrElse(Map.empty),
      valid = notes.isEmpty, notes = notes)
  }

  /** The one-core baseline of a traced run: the same staged log drained
    * on the run's warm `local[cpus]` session, then on a fresh `local[1]`
    * session in the same JVM. Returns (cpus drain ms, one-core drain ms). */
  private def oneCore(spark: SparkSession, loaded: DeploymentJson.Loaded,
      a: Args, tracer: Tracer): (Double, Double) = {
    val src = new File(a.work, "onecore/src")
    stage(src, new Generator(a.seed, pipes(a, BaselinePipes)), BaselineTicks, BaselineFiles)
    val time = (s: SparkSession, out: String) => drain(
      compileStreaming(s, loaded, src, Some(1), tracer, "onecore"), loaded,
      new File(a.work, s"onecore/$out"), tracer, "onecore")._2
    val many = time(spark, "out-many")
    spark.stop()
    val (s1, _) = newSession(a, 1, tracer)
    val one = time(s1, "out-one")
    s1.stop()
    println(f"baseline drain local[${a.cpus}] wall_ms=$many%.1f local[1] wall_ms=$one%.1f")
    (many, one)
  }
}
