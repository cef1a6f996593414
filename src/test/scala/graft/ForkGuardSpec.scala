package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.plans.{DeploymentJson, Pipeline}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The streaming commit path starts no operating-system process.
  *
  * Hadoop's stock local file system, without `libhadoop`, runs `chmod`
  * for every file it creates and `readlink` for both ends of every
  * rename; the offset and commit logs, the HDFS-backed state store and
  * the file sink do both on every micro-batch. `graft.io` serves
  * `file:` without those forks. JFR records every process start
  * (`jdk.ProcessStart`) while the reference export runs on the
  * streaming branch: 3 micro-batches from a file source into
  * checkpointed parquet sinks, state on the default state store.
  */
class ForkGuardSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .appName("fork-guard-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val schema = StructType(Seq(
    StructField("__input", StringType), StructField("ts", LongType),
    StructField("value", DoubleType), StructField("text", StringType),
    StructField("paused", BooleanType), StructField("seq", LongType)))

  /** One JSON-lines envelope file per micro-batch, (input, ts, value)
    * rows, modification times ascending so the source replays in order. */
  private def stage(dir: File, files: Seq[Seq[(String, Long, Double)]]): Unit = {
    val t0 = System.currentTimeMillis() - 600000L
    var seq = 0L
    files.zipWithIndex.foreach { case (rows, i) =>
      val body = rows.map { case (in, ts, v) =>
        seq += 1
        s"""{"__input":"$in","ts":$ts,"value":$v,"paused":false,"seq":$seq}"""
      }.mkString("", "\n", "\n")
      val f = new File(dir, f"part-$i%05d.json")
      Files.write(f.toPath, body.getBytes(UTF_8))
      f.setLastModified(t0 + i * 1000L)
    }
  }

  /** Commands of the processes started while `body` ran, except those
    * of Spark's cleanup of garbage-collected sessions: a JDK Cleaner
    * deletes a collected session's artifact directory with `rm -rf`
    * (`ArtifactManager` → `JavaUtils.deleteRecursively`). When that
    * runs depends on the heap, not on the deployment, and it is no
    * step of a micro-batch. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val dump = Files.createTempFile("fork-guard", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filterNot(e => Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.spark.sql.artifact.ArtifactManager"))))
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(dump); () }
  }

  test("the reference export on the streaming branch starts no process: " +
      "offset and commit logs, state-store deltas, parquet file sink") {
    val json = new String(Files.readAllBytes(new File(
      getClass.getResource("/reference_export_fixture.json").toURI).toPath), UTF_8)
    val loaded = DeploymentJson.load(json, nodeName = Some("office-pc"))
    val base = Files.createTempDirectory("fork-guard").toFile
    val src = new File(base, "src"); src.mkdirs()
    stage(src, Seq(
      Seq(("clicks", 0L, 1.0), ("views", 0L, 10.0), ("clicks", 1L, 2.0), ("views", 1L, 20.0)),
      Seq(("ctrl", 2L, 1.0), ("clicks", 3L, 3.0), ("views", 3L, 30.0)),
      Seq(("clicks", 5L, 4.0), ("views", 5L, 40.0))))
    val out = new File(base, "out")
    spark.sparkContext // the session starts outside the recording
    val starts = processStarts {
      val df = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1L).json(src.getPath)
      val streams = Pipeline.compile(loaded.deployment,
        loaded.namedInputs.map { case (name, stream) =>
          stream -> df.filter(col("__input") === name).drop("__input")
        })
      loaded.namedOutputs.toSeq.sortBy(_._1).map { case (name, stream) =>
        streams(stream).writeStream.format("parquet")
          .option("path", new File(out, s"$name.parquet").getPath)
          .option("checkpointLocation", new File(out, s"_checkpoints/$name").getPath)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
      }.foreach(_.awaitTermination())
    }
    loaded.namedOutputs.keys.foreach { name =>
      val commits = Option(new File(out, s"_checkpoints/$name/commits").list())
        .getOrElse(Array.empty[String]).count(_.matches("\\d+"))
      assert(commits == 3, s"$name committed $commits micro-batches, expected 3")
    }
    assert(spark.read.parquet(new File(out, "views_sync.parquet").getPath)
      .filter(!col("paused")).count() > 0)
    assert(starts.isEmpty, s"${starts.size} processes started: " +
      starts.groupBy(_.takeWhile(_ != ' ')).map { case (c, s) => s"$c ×${s.size}" }
        .mkString(", "))
  }
}
