package graft

import graft.streaming.StateMachines._
import graft.streaming.StatefulRunner
import graft.streaming.StatefulRunner.{KEv, KOut}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** End-to-end Structured Streaming over the real test parquet:
  * readStream → event-time watermark → windowed aggregation → sink,
  * checked against the equivalent batch aggregation (micro-batch
  * results must converge to batch semantics on bounded input), plus
  * the stateful family on the RocksDB state store provider (the
  * scale-path configuration: state spills to disk instead of heap,
  * SURVEY §7.4 "state growth").
  */
class StreamingE2ESpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .appName("streaming-e2e")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  test("file stream -> watermark -> 1h window agg == batch window agg") {
    // the file stream source watches a directory
    // materialize through Tables.events so the stream sees the engine's
    // normalized nanos-Long ts regardless of the fixture's physical type
    val dir = java.nio.file.Files.createTempDirectory("events-stream")
    Tables.events(spark, sf).coalesce(1)
      .write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream
      .schema(eventsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
      .withColumn("event_time", timestamp_millis(expr("ts DIV 1000000")))
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(DecimalType(12, 2)))
        .cast(DoubleType).as("sum_v"))
    val q = stream.writeStream.format("memory").queryName("win_agg")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("win_agg")
        .select(col("window.start").cast(LongType).as("w"), col("event_type"),
          col("n"), col("sum_v"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
      val want = Tables.eventsMs(spark, sf)
        .withColumn("event_time", timestamp_millis(col("ts_ms")))
        .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value").cast(DecimalType(12, 2)))
          .cast(DoubleType).as("sum_v"))
        .select(col("window.start").cast(LongType).as("w"), col("event_type"),
          col("n"), col("sum_v"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
      assert(got == want)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  /** Session settings that serve `file:` with stock Hadoop's classes
    * instead of the engine's `graft.io` ones (uncached, so the engine
    * FileSystem already cached for `file:` is not reused). A session's
    * Hadoop conf takes its keys verbatim, so they carry no
    * `spark.hadoop.` prefix. */
  private val stockLocalFs = Map(
    "fs.file.impl" -> "org.apache.hadoop.fs.LocalFileSystem",
    "fs.AbstractFileSystem.file.impl" -> "org.apache.hadoop.fs.local.LocalFs",
    "fs.file.impl.disable.cache" -> "true")

  // the first run writes its checkpoint on the engine's file system, or
  // on stock Hadoop's (a checkpoint from before the engine had its
  // own); the restart always reads it on the engine's
  for ((suffix, firstRun) <- Seq("" -> Map.empty[String, String],
      ", first run on stock Hadoop's file system" -> stockLocalFs))
  test("state survives a query restart from checkpoint" + suffix) {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("gate-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("gate-out").toString
    val mem = MemoryStream[KEv]
    // memory sinks don't support recovery; the parquet file sink does
    def start() = StatefulRunner
      .runStreaming(new Gate(failOpen = false), mem.toDS())
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val engineFs = ("graft.io.NioLocalFileSystem", "graft.io.NioLocalFs")
    val stockFs = ("org.apache.hadoop.fs.LocalFileSystem", "org.apache.hadoop.fs.local.LocalFs")
    def checkpointFs() = {
      val conf = spark.sessionState.newHadoopConf()
      (new org.apache.hadoop.fs.Path(ckpt).getFileSystem(conf).getClass.getName,
        org.apache.hadoop.fs.FileContext.getFileContext(
          new java.net.URI("file:///"), conf).getDefaultFileSystem.getClass.getName)
    }
    firstRun.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      assert(checkpointFs() == (if (firstRun.isEmpty) engineFs else stockFs))
      val q1 = start()
      try {
        mem.addData(KEv("k", 1, 10, 1.0, null, false, 0), // open the gate
          KEv("k", 0, 20, 1.5, null, false, 1))
        q1.processAllAvailable()
      } finally q1.stop()
    } finally firstRun.keys.foreach(spark.conf.unset)
    assert(checkpointFs() == engineFs)
    // restart from the checkpoint: the open-gate state must be restored
    val q2 = start()
    try {
      mem.addData(KEv("k", 0, 30, 2.5, null, false, 2))
      q2.processAllAvailable()
      val got = spark.read.parquet(outDir).as[KOut]
        .collect().filter(!_.paused).map(_.value).sorted.toSeq
      // 2.5 only flows if the restarted query remembers the gate is open
      assert(got == Seq(1.5, 2.5))
    } finally q2.stop()
  }

  test("file-source mount: restart from checkpoint resumes file " +
      "discovery with state intact (exactly-once sink)") {
    // The round-9 parity harness shape (file source → runStreaming →
    // file sink) through a mid-stream outage: chunk files LAND WHILE
    // THE QUERY IS DOWN, the restart must resume discovery from the
    // checkpointed offsets without reprocessing chunk 0 (exactly-once
    // via the sink's _spark_metadata) and with the gate's open state
    // restored from the state store.
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("fsrc").toString
    val srcDir = new java.io.File(base, "src"); srcDir.mkdirs()
    val ckpt = s"$base/ckpt"
    val outDir = s"$base/out"
    def writeChunk(name: String, rows: Seq[KEv], mtime: Long): Unit = {
      val tmp = new java.io.File(base, s"stage-$name")
      spark.createDataset(rows)(StatefulRunner.kevEnc)
        .coalesce(1).write.parquet(tmp.toString)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(srcDir, name)
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mtime); ()
    }
    val t0 = System.currentTimeMillis() - 100000
    writeChunk("c0.parquet", Seq(
      KEv("k", 1, 10, 1.0, null, paused = false, 0), // open the gate
      KEv("k", 0, 20, 1.5, null, paused = false, 1)), t0)
    def start() = StatefulRunner
      .runStreaming(new Gate(failOpen = false),
        spark.readStream.schema(StatefulRunner.kevEnc.schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
          .as[KEv](StatefulRunner.kevEnc))
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    writeChunk("c1.parquet",
      Seq(KEv("k", 0, 30, 2.5, null, paused = false, 2)), t0 + 1000)
    writeChunk("c2.parquet", Seq(
      KEv("k", 1, 40, 0.0, null, paused = false, 3), // close the gate
      KEv("k", 0, 50, 9.9, null, paused = false, 4)), t0 + 2000)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(outDir).as[KOut](StatefulRunner.koutEnc)
      .collect().filter(!_.paused).map(_.value).sorted.toSeq
    // 1.5 pre-outage; 2.5 only if the open state crossed the restart;
    // 9.9 blocked only if the close in c2 was seen exactly once
    assert(got == Seq(1.5, 2.5))
  }

  test("streaming MinHash-LSH near-dup flags copies across batches " +
      "(bucket owners in the state store)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingDedup
    val txt = "the quick brown fox jumps over the lazy dog again and again"
    val other = "completely different words that share no shingles at all here"
    val mem = MemoryStream[(Long, String)]
    val q = StreamingDedup.nearDupStream(mem.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("lsh_dups")
      .outputMode("append").start()
    try {
      mem.addData((1L, txt), (2L, other))
      q.processAllAvailable()
      assert(spark.table("lsh_dups").count() == 0) // both are novel
      // batch 2: an exact copy of doc 1 (all bands collide) and a
      // fresh doc — the copy is flagged against the batch-1 owner
      mem.addData((3L, txt), (4L, "yet more unrelated text with plenty of fresh tokens inside"))
      q.processAllAvailable()
      val dups = spark.table("lsh_dups")
        .select("docId", "dupOf").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(dups == Set((3L, 1L)))
    } finally q.stop()
  }

  test("streaming exact dedup with watermark drops duplicates across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Long, Double)] // (event_id, ts_ms, value)
    val deduped = mem.toDS().toDF("event_id", "ts_ms", "value")
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
      .withWatermark("event_time", "10 minutes")
      .dropDuplicates("event_id")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      mem.addData((1L, 1000L, 1.0), (2L, 2000L, 2.0), (1L, 1000L, 1.0))
      q.processAllAvailable()
      mem.addData((2L, 2000L, 2.0), (3L, 3000L, 3.0)) // dup of 2 across batches
      q.processAllAvailable()
      val got = spark.table("dedup_out").select("event_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("stateful gate on the RocksDB state store provider") {
    val rocks = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .appName("rocksdb-spec")
      .getOrCreate()
    try {
      implicit val sqlCtx = rocks.sqlContext
      import rocks.implicits._
      val mem = MemoryStream[KEv]
      val q = StatefulRunner.runStreaming(new Gate(failOpen = false), mem.toDS())
        .writeStream.format("memory").queryName("rocks_gate")
        .outputMode("append").start()
      try {
        mem.addData(KEv("k", 1, 10, 1.0, null, false, 0),
          KEv("k", 0, 20, 1.5, null, false, 1))
        q.processAllAvailable()
        mem.addData(KEv("k", 0, 30, 2.5, null, false, 2))
        q.processAllAvailable()
        val got = rocks.table("rocks_gate").as[KOut].collect()
          .filter(!_.paused).map(_.value).sorted.toSeq
        assert(got == Seq(1.5, 2.5))
        // confirm RocksDB provider actually ran
        assert(q.lastProgress.stateOperators.nonEmpty)
      } finally q.stop()
    } finally rocks.stop()
  }

  test("transformWithState mount == flatMapGroupsWithState mount: gate " +
      "state crosses micro-batches on both (SURVEY §7.4 modern API)") {
    val rocks = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .appName("tws-spec")
      .getOrCreate()
    rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = rocks.sqlContext
      import rocks.implicits._
      val batches = Seq(
        Seq(KEv("k", 1, 10, 1.0, null, false, 0),
          KEv("k", 0, 20, 1.5, null, false, 1)),
        Seq(KEv("k", 0, 30, 2.5, null, false, 2), // open from batch 1
          KEv("k", 1, 40, 0.0, null, false, 3),
          KEv("k", 0, 50, 3.5, null, false, 4)))
      def run(name: String,
          mount: org.apache.spark.sql.Dataset[KEv] => org.apache.spark.sql.Dataset[KOut]) = {
        val mem = MemoryStream[KEv]
        val q = mount(mem.toDS()).writeStream.format("memory")
          .queryName(name).outputMode("append").start()
        try {
          batches.foreach { b => mem.addData(b); q.processAllAvailable() }
          rocks.table(name).as[KOut].collect()
            .map(o => (o.ts, o.value, o.paused)).sortBy(t => (t._1, t._2)).toSeq
        } finally q.stop()
      }
      val tws = run("tws_gate",
        ds => graft.streaming.TwsRunner.runStreaming(new Gate(failOpen = false), ds))
      val fmgws = run("fmgws_gate",
        ds => StatefulRunner.runStreaming(new Gate(failOpen = false), ds))
      assert(tws == fmgws)
      assert(tws.collect { case (ts, v, false) => (ts, v) } ==
        Seq((20L, 1.5), (30L, 2.5)))
    } finally rocks.stop()
  }

  test("transformWithState carries COMPOSITE machine state (switch: " +
      "insertion-ordered control vector + pause sets) across batches") {
    val rocks = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .appName("tws-switch-spec")
      .getOrCreate()
    rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = rocks.sqlContext
      import rocks.implicits._
      val mem = MemoryStream[KEv]
      val q = graft.streaming.TwsRunner
        .runStreaming(new Switch(2), mem.toDS())
        .writeStream.format("memory").queryName("tws_switch")
        .outputMode("append").start()
      try {
        // batch 1: tie between the pairs → insertion order (pair 0
        // first) must survive serialization into the state store
        mem.addData(KEv("k", 1, 10, 5.0, null, false, 0),
          KEv("k", 3, 11, 5.0, null, false, 1))
        q.processAllAvailable()
        // batch 2: the tie-break decided in batch 1 picks pair 0
        mem.addData(KEv("k", 0, 20, 1.0, null, false, 2),
          KEv("k", 2, 21, 2.0, null, false, 3))
        q.processAllAvailable()
        // batch 3: control pause POPS pair 0 → pair 1 takes over
        mem.addData(KEv("k", 1, 30, Double.NaN, null, true, 4),
          KEv("k", 2, 40, 3.0, null, false, 5))
        q.processAllAvailable()
        val got = rocks.table("tws_switch").as[KOut].collect()
          .filter(!_.paused).map(o => (o.ts, o.value)).sorted.toSeq
        assert(got == Seq((20L, 1.0), (40L, 3.0)))
      } finally q.stop()
    } finally rocks.stop()
  }

  test("detector trailing 0 via transformWithState processing-time timer " +
      "(messagedetector.py timeout path on the modern API)") {
    val rocks = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .appName("tws-timer-spec")
      .getOrCreate()
    rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = rocks.sqlContext
      import rocks.implicits._
      val mem = MemoryStream[KEv]
      val q = graft.streaming.TwsRunner
        .runStreaming(new MessageDetector(100), mem.toDS(), timeoutMs = 50)
        .writeStream.format("memory").queryName("tws_det")
        .outputMode("append").start()
      try {
        mem.addData(KEv("k", 0, 10, 1.0, null, false, 0))
        // ProcessingTime keeps the micro-batch loop ticking on its own
        // (that's how the timer fires) — processAllAvailable never
        // settles, so poll the sink with a deadline instead
        def rows() = rocks.table("tws_det").as[KOut]
          .collect().map(o => (o.ts, o.value)).sorted.toSeq
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        var got = rows()
        while (got.size < 2 && System.nanoTime() < deadline) {
          Thread.sleep(200); got = rows()
        }
        // 1 at the message, trailing 0 at lastTs + timeout (110)
        assert(got == Seq((10L, 1.0), (110L, 0.0)))
      } finally q.stop()
    } finally rocks.stop()
  }

  // ---- RtmpSocketSource: the live-socket ingest path (e52) ----------------

  private def rtmpFixture(): Seq[graft.sources.Rtmp.RtmpMessage] = {
    import graft.sources.Rtmp
    // two interleaved chunk streams; payloads straddle the 128-byte
    // chunk size to force continuation chunks over the wire
    (0 until 10).map { i =>
      val csid = 4 + (i % 2)
      Rtmp.RtmpMessage(csid, (i % 2).toLong, Rtmp.TypeAudio, 40L * i,
        Array.tabulate(if (i % 3 == 0) 300 else 50)(j => (i * 7 + j).toByte))
    }
  }

  private def serveLoopback(bytes: Array[Byte], slice: Int)
      : java.net.ServerSocket = {
    import graft.sources.Rtmp
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getLoopbackAddress)
    server.setSoTimeout(60000)
    val t = new Thread(() => {
      try {
        val sk = server.accept()
        try {
          Rtmp.serverHandshake(sk.getInputStream, sk.getOutputStream)
          val os = sk.getOutputStream
          var off = 0
          while (off < bytes.length) {
            val n = math.min(slice, bytes.length - off)
            os.write(bytes, off, n); os.flush(); off += n
          }
        } finally sk.close()
      } finally server.close()
    }, "loopback-replay")
    t.setDaemon(true); t.start()
    server
  }

  /** Fresh session per socket test: the RocksDB tests above stop the
    * shared SparkContext, so the suite-level lazy `spark` is dead by
    * the time these run. */
  private def socketSession(): SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .appName("rtmp-socket-spec")
    .getOrCreate()

  test("RtmpSocketSource drain mode: TCP handshake + incremental " +
      "dechunk over tiny reads, message identity, and the admission " +
      "control cap shaping ceil(n/max) micro-batches") {
    import graft.sources.Rtmp
    val ss = socketSession()
    val msgs = rtmpFixture()
    // 41-byte slices: every chunk header and body straddles reads
    val server = serveLoopback(Rtmp.mux(msgs), slice = 41)
    val src = ss.readStream
      .format(classOf[graft.sources.RtmpSocketSource].getName)
      .option("host", "127.0.0.1")
      .option("port", server.getLocalPort.toString)
      .option("maxMsgsPerBatch", "3")
      .option("drainOnStart", "true")
      .load()
    val q = src.writeStream.format("memory").queryName("rtmp_drain")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = ss.table("rtmp_drain")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getLong(4), r.getAs[Array[Byte]](5).toSeq))
      .sortBy(_._1)
    assert(got.length == msgs.length)
    got.zip(msgs).foreach { case (g, m) =>
      assert(g._2 == m.csid && g._3 == m.streamId && g._4 == m.typeId &&
        g._5 == m.tsMs && g._6 == m.payload.toSeq,
        s"message ${g._1} drifted through the socket")
    }
    // rate limit: 10 messages at maxMsgsPerBatch=3 -> 4 data batches
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches == 4,
      s"expected ceil(10/3)=4 rate-limited batches, saw $dataBatches")
  }

  test("RtmpSocketSource fan-out: THREE sockets unioned into one " +
      "streaming query — the documented scale-out path (one source " +
      "per ingest point) delivers every stream's messages") {
    import graft.sources.Rtmp
    val ss = socketSession()
    // three independent captures on distinct message stream ids
    val caps = (0 until 3).map { c =>
      (0 until 6).map { i =>
        Rtmp.RtmpMessage(4 + c, c.toLong, Rtmp.TypeAudio, 40L * i,
          Array.tabulate(60)(j => (c * 100 + i * 7 + j).toByte))
      }
    }
    val servers = caps.map(ms => serveLoopback(Rtmp.mux(ms), slice = 53))
    val srcs = servers.map { server =>
      ss.readStream
        .format(classOf[graft.sources.RtmpSocketSource].getName)
        .option("host", "127.0.0.1")
        .option("port", server.getLocalPort.toString)
        .option("maxMsgsPerBatch", "4")
        .option("drainOnStart", "true")
        .load()
    }
    val q = srcs.reduce(_ unionByName _)
      .writeStream.format("memory").queryName("rtmp_fanout")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = ss.table("rtmp_fanout")
      .collect()
      .map(r => (r.getLong(2), r.getLong(4), r.getAs[Array[Byte]](5).toSeq))
      .sortBy(g => (g._1, g._2))
    val want = caps.flatten
      .map(m => (m.streamId, m.tsMs, m.payload.toSeq))
      .sortBy(w => (w._1, w._2))
    assert(got.toSeq == want.toSeq,
      s"fan-out lost or corrupted messages: got ${got.length}/${want.length}")
  }

  test("RtmpSocketSource live mode (no drain): messages flow as they " +
      "arrive and the stream converges to the full capture") {
    import graft.sources.Rtmp
    val ss = socketSession()
    val msgs = rtmpFixture()
    val server = serveLoopback(Rtmp.mux(msgs), slice = 97)
    val src = ss.readStream
      .format(classOf[graft.sources.RtmpSocketSource].getName)
      .option("host", "127.0.0.1")
      .option("port", server.getLocalPort.toString)
      .option("maxMsgsPerBatch", "4")
      .load()
    val q = src.writeStream.format("memory").queryName("rtmp_live")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50))
      .start()
    try {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      def count() = ss.table("rtmp_live").count()
      while (count() < msgs.length && System.nanoTime() < deadline)
        Thread.sleep(100)
      val got = ss.table("rtmp_live")
        .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](5).toSeq))
        .sortBy(_._1)
      assert(got.length == msgs.length)
      got.zip(msgs).foreach { case (g, m) =>
        assert(g._2 == m.payload.toSeq)
      }
    } finally q.stop()
  }
}
