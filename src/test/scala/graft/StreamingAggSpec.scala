package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Event-time streaming analytics (the capability the reference lacks —
  * SURVEY §2.5 "no event-time, no watermarks"): tumbling windows with a
  * watermark over a file stream, and late data beyond the watermark
  * dropped, via a real writeStream query.
  */
class StreamingAggSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("windowed aggregation with watermark over a stream") {
    val srcDir = Files.createTempDirectory("agg-src").toString
    val ckpt = Files.createTempDirectory("agg-ckpt").toString
    Files.write(Paths.get(srcDir, "batch1.json"),
      """{"ts": "2024-01-01T00:01:00", "event_type": "click", "value": 1.0}
        |{"ts": "2024-01-01T00:02:00", "event_type": "click", "value": 2.0}
        |{"ts": "2024-01-01T00:07:00", "event_type": "click", "value": 4.0}
        |{"ts": "2024-01-01T00:06:30", "event_type": "view",  "value": 8.0}
        |""".stripMargin.getBytes)

    val schema = StructType.fromDDL("ts timestamp_ntz, event_type string, value double")
    val stream = spark.readStream.schema(schema).json(srcDir)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))

    val q = stream.writeStream
      .format("memory").queryName("agg_out")
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      val rows = spark.sql(
        """SELECT date_format(window.start, 'HH:mm') AS w, event_type, n, total
          |FROM agg_out ORDER BY w, event_type""".stripMargin).collect()
      val got = rows.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(got == Seq(
        ("00:00", "click", 2L, 3.0),
        ("00:05", "click", 1L, 4.0),
        ("00:05", "view", 1L, 8.0)), s"got $got")
    } finally q.stop()
  }

  test("late data beyond the watermark is dropped; append emits finalized windows") {
    val srcDir = Files.createTempDirectory("late-src").toString
    val ckpt = Files.createTempDirectory("late-ckpt").toString
    val schema = StructType.fromDDL("ts timestamp_ntz, value double")
    val stream = spark.readStream.schema(schema).json(srcDir)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n"))

    // batch 1: two events in window 00:00 plus one at 00:20 that advances
    // the watermark to 00:15, sealing window 00:00.
    Files.write(Paths.get(srcDir, "b1.json"),
      """{"ts": "2024-01-01T00:01:00", "value": 1.0}
        |{"ts": "2024-01-01T00:02:00", "value": 2.0}
        |{"ts": "2024-01-01T00:20:00", "value": 3.0}
        |""".stripMargin.getBytes)

    val q = stream.writeStream
      .format("memory").queryName("late_out")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      // batch 2: an event for the sealed 00:00 window (late, must be
      // dropped) and an on-time one at 00:21.
      Files.write(Paths.get(srcDir, "b2.json"),
        """{"ts": "2024-01-01T00:02:30", "value": 100.0}
          |{"ts": "2024-01-01T00:21:00", "value": 4.0}
          |""".stripMargin.getBytes)
      q.processAllAvailable()
      // batch 3: advance the watermark past 00:25 so window 00:20 emits.
      Files.write(Paths.get(srcDir, "b3.json"),
        """{"ts": "2024-01-01T00:40:00", "value": 5.0}
          |""".stripMargin.getBytes)
      q.processAllAvailable()

      val got = spark.sql(
        """SELECT date_format(window.start, 'HH:mm') AS w, n
          |FROM late_out ORDER BY w""".stripMargin)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      // 00:00 holds 2, NOT 3 — the late 00:02:30 event was dropped; 00:20
      // holds the on-time pair; 00:40's window is still open (not emitted).
      assert(got == Seq(("00:00", 2L), ("00:20", 2L)), s"got $got")
    } finally q.stop()
  }

  test("session_window aggregation closes sessions on the gap, streaming") {
    val srcDir = Files.createTempDirectory("sess-src").toString
    val ckpt = Files.createTempDirectory("sess-ckpt").toString
    // user a: two events 2min apart (one session), then one 20min later
    // (second session); user b: a single event.
    Files.write(Paths.get(srcDir, "batch1.json"),
      """{"ts": "2024-01-01T00:01:00", "user": "a"}
        |{"ts": "2024-01-01T00:03:00", "user": "a"}
        |{"ts": "2024-01-01T00:23:00", "user": "a"}
        |{"ts": "2024-01-01T00:02:00", "user": "b"}
        |""".stripMargin.getBytes)

    val schema = StructType.fromDDL("ts timestamp_ntz, user string")
    val stream = spark.readStream.schema(schema).json(srcDir)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "10 minutes"), col("user"))
      .agg(count(lit(1)).as("n"))

    val q = stream.writeStream
      .format("memory").queryName("sess_out")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT user, date_format(session_window.start, 'HH:mm') AS s, n
          |FROM sess_out ORDER BY user, s""".stripMargin)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      assert(got == Seq(("a", "00:01", 2L), ("a", "00:23", 1L), ("b", "00:02", 1L)),
        s"got $got")
    } finally q.stop()
  }

  test("sql surface exposes the engine functions") {
    val r = spark.sql(
      "SELECT ip_display(ip_canonical('::ffff:10.0.0.1')) AS ip, porter_stem('running') AS st, " +
        "cosine_similarity(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS cos").collect()(0)
    assert(r.getString(0) == "10.0.0.1")
    assert(r.getString(1) == "run")
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
  }

  test("spark.sql.extensions injects functions into forked sessions") {
    // temp functions (register) do NOT survive newSession(); functions
    // visible there can only come from the injected GraftExtensions.
    val forked = spark.newSession()
    val r = forked.sql(
      "SELECT porter_stem('indexing') AS st, ip_display(ip_canonical('10.0.0.7')) AS ip")
      .collect()(0)
    assert(r.getString(0) == "index")
    assert(r.getString(1) == "10.0.0.7")
  }
  test("GraftExtensions applied twice to one builder injects each function once") {
    // the class named twice in spark.sql.extensions (or also passed to
    // withExtensions) must not register every function over itself
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions()(ext)
    new GraftExtensions()(ext)
    val field = classOf[org.apache.spark.sql.SparkSessionExtensions]
      .getDeclaredField("injectedFunctions")
    field.setAccessible(true)
    val injected = field.get(ext).asInstanceOf[scala.collection.mutable.Buffer[
      (org.apache.spark.sql.catalyst.FunctionIdentifier, _, _)]]
    assert(injected.map(_._1.funcName).toList == GraftExtensions.functions.map(_._1).toList)
  }
  test("streaming HLL: per-batch register merges equal the batch sketch") {
    // The sketch merge law under foreachBatch: each micro-batch builds its
    // own register table and max-merges into persistent state -- the
    // streaming form of approximate distinct counting whose state is 256
    // rows per group forever, no matter how many events stream through.
    import java.nio.file.Files
    val srcDir = Files.createTempDirectory("hll-src").toString
    val ckpt = Files.createTempDirectory("hll-ckpt").toString
    val stateDir = Files.createTempDirectory("hll-state").toString + "/regs"
    // enough distinct keys per group (1020 > 2.5m = 640) that the RAW
    // HLL estimate is in its valid regime -- below that, linear counting
    // over the reported v_empty is the documented consumer-side step
    val rows = (0 until 2040).map(i => s"""{"grp": "g${i % 2}", "k": "k$i"}""")
    // three files -> micro-batches (maxFilesPerTrigger = 1)
    rows.grouped(680).zipWithIndex.foreach { case (chunk, i) =>
      Files.write(java.nio.file.Paths.get(srcDir, s"b$i.json"),
        chunk.mkString("\n").getBytes)
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL("grp string, k string")
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").json(srcDir)
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val newRegs = graft.ops.Sketch.hllRegisters(batch, col("grp"), col("k"))
        val merged =
          if (Files.exists(java.nio.file.Paths.get(stateDir)))
            spark.read.parquet(stateDir).unionByName(newRegs)
              .groupBy(col("grp"), col("bucket")).agg(max(col("m")).as("m"))
          else newRegs
        // rewrite-then-swap would be the production form; overwrite is
        // fine for the law being tested here
        val tmp = stateDir + ".tmp"
        merged.write.mode("overwrite").parquet(tmp)
        spark.read.parquet(tmp).write.mode("overwrite").parquet(stateDir)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(stateDir)
    val batchRegs = graft.ops.Sketch.hllRegisters(
      spark.read.schema(schema).json(srcDir), col("grp"), col("k"))
    assert(streamed.exceptAll(batchRegs).isEmpty &&
      batchRegs.exceptAll(streamed).isEmpty,
      "incrementally merged registers must equal the one-shot batch sketch")
    // and the estimates agree with exact distinct within 3 sigma
    val est = graft.ops.Sketch.hllEstimate(streamed).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("est_distinct")).toMap
    assert(est.keySet == Set("g0", "g1"))
    est.values.foreach(e => assert(math.abs(e - 1020.0) / 1020.0 < 0.2, est))
  }
}
