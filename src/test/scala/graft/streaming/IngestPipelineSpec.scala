package graft.streaming

import com.fasterxml.jackson.databind.ObjectMapper
import graft.util.StreamParallelism
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.jdk.CollectionConverters._

class IngestPipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val mapper = new ObjectMapper()

  private def goldenBodies: Vector[String] = {
    val corpus = mapper.readTree(getClass.getResourceAsStream("/golden_test_data.json"))
    corpus.fields.asScala
      .filter(_.getValue.get("type").asText == "EventHubEvent")
      .map(_.getValue.get("properties").get("body").asText).toVector
  }

  test("mqtt streaming pipeline: golden corpus end-to-end through a file source") {
    val in = Files.createTempDirectory("stream_in").toString
    val out = Files.createTempDirectory("stream_out").toString
    val ckpt = Files.createTempDirectory("stream_ckpt").toString
    Files.write(java.nio.file.Paths.get(s"$in/events.txt"),
      (goldenBodies :+ "malformed junk").mkString("\n").getBytes)

    val q = IngestPipeline.startMqtt(spark, in, out, ckpt)
    q.awaitTermination(60000)

    val back = spark.read.parquet(out)
    // 8 golden events -> 36 records (glow 7+10, homie 2, emon 17), junk dropped
    assert(back.count() == 36)
    assert(back.filter("measurement_publisher = 'glow'").count() == 17)
    assert(back.filter("date IS NOT NULL").count() == 36)
  }

  test("two-hop pipeline (convert → wire topic → storage) equals the fused pipeline") {
    val in = Files.createTempDirectory("hop_in").toString
    val wire = Files.createTempDirectory("hop_wire").toString
    val out = Files.createTempDirectory("hop_out").toString
    val ck1 = Files.createTempDirectory("hop_ck1").toString
    val ck2 = Files.createTempDirectory("hop_ck2").toString
    Files.write(java.nio.file.Paths.get(s"$in/events.txt"),
      (goldenBodies :+ "malformed junk").mkString("\n").getBytes)

    IngestPipeline.startConvertToWire(spark, in, wire, ck1).awaitTermination(60000)
    // the intermediate topic is real wire JSON, replayable
    val wireMsgs = spark.read.text(wire).count()
    assert(wireMsgs == 36, s"wire topic has $wireMsgs messages")
    IngestPipeline.startWire(spark, wire, out, ck2).awaitTermination(60000)

    val back = spark.read.parquet(out)
    assert(back.count() == 36)
    assert(back.filter("measurement_publisher = 'glow'").count() == 17)
    // value fidelity through serialize→parse: every typed column round-trips
    val viaBatch = graft.sources.ConditionsTable.toStorage(
      graft.sources.ConditionsTable.normalize(spark, spark.createDataset(goldenBodies)(
        org.apache.spark.sql.Encoders.STRING)))
    val cols = Seq("timestamp", "measurement_subject", "measurement_of",
      "measurement_number", "measurement_string", "measurement_bool",
      "measurement_location")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr(cols: _*).collect().map(_.toSeq).toSet
    assert(key(back) == key(viaBatch.toDF()))
  }

  /** The instants the golden corpus's expected records name, in µs. */
  private def goldenInstantsUs: Seq[Long] =
    mapper.readTree(getClass.getResourceAsStream("/golden_test_data.json")).fields.asScala
      .filter(e => e.getValue.get("type").asText == "EventHubEvent" &&
        e.getValue.hasNonNull("expected"))
      .flatMap { e =>
        mapper.readTree(e.getValue.get("expected").asText).elements.asScala
          // the corpus predates emon.py:48's ignore_keys=["time"]
          .filterNot(r => e.getKey == "emontx4_json" && r.get("measurement_of").asText == "time")
          .map { r =>
            val t = java.time.Instant.parse(r.get("timestamp").asText)
            t.getEpochSecond * 1000000L + t.getNano / 1000L
          }
      }.toSeq.sorted

  private def inZone[T](zone: String)(body: => T): T = {
    val before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try body finally spark.conf.set("spark.sql.session.timeZone", before)
  }

  private def storedUs(path: String): Seq[Long] =
    spark.read.parquet(path).selectExpr("unix_micros(timestamp)")
      .collect().map(_.getLong(0)).toSeq.sorted

  test("golden corpus store built in a Los Angeles session equals the UTC-built store") {
    import graft.sources.ConditionsTable
    def build(zone: String): String = inZone(zone) {
      val dir = Files.createTempDirectory("zone_store").toString + "/store"
      ConditionsTable.write(ConditionsTable.toStorage(ConditionsTable.normalize(spark,
        spark.createDataset(goldenBodies)(org.apache.spark.sql.Encoders.STRING))), dir)
      dir
    }
    def dates(dir: String): Seq[String] =
      new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("date=")).toSeq.sorted
    val la = build("America/Los_Angeles")
    val utc = build("UTC")
    assert(storedUs(la) == storedUs(utc))
    assert(storedUs(utc) == goldenInstantsUs)
    assert(dates(la) == dates(utc))
  }

  test("mqtt drain in a Los Angeles session stores the instants its envelopes name") {
    val in = Files.createTempDirectory("la_in").toString
    val out = Files.createTempDirectory("la_out").toString
    val ckpt = Files.createTempDirectory("la_ckpt").toString
    Files.write(java.nio.file.Paths.get(s"$in/events.txt"), goldenBodies.mkString("\n").getBytes)
    inZone("America/Los_Angeles") {
      IngestPipeline.startMqtt(spark, in, out, ckpt).awaitTermination(60000)
    }
    assert(storedUs(out) == goldenInstantsUs)
  }

  test("streaming windowed aggregation matches the batch computation") {
    import graft.queries.TimeseriesQueries
    import graft.sources.EventsAsConditions
    import org.apache.spark.sql.functions._
    // two ordered arrivals on one checkpoint (days 1-24, then the rest):
    // the watermark advances between runs, so closed windows flush in
    // append mode with COMPLETE values — and aggregation state provably
    // survives the restart
    val dir = Files.createTempDirectory("cond_stream").toString
    val ckpt = Files.createTempDirectory("cond_ckpt").toString
    val batch = EventsAsConditions.load(spark, "/root/testdata/sf0.001")
    val cut = org.apache.spark.sql.functions.lit("2024-01-25").cast("timestamp")

    val outDir = Files.createTempDirectory("win_out").toString
    def run(): Unit = {
      val stream = spark.readStream.schema(batch.schema).parquet(dir)
      val q = TimeseriesQueries.streamingAggregatedByInterval(stream, 86400)
        .writeStream.format("parquet")
        .option("path", outDir)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }

    batch.filter(col("timestamp") < cut).coalesce(1)
      .write.mode("append").parquet(dir)
    run()
    batch.filter(col("timestamp") >= cut).coalesce(1)
      .write.mode("append").parquet(dir)
    run()

    val streamed = spark.read.parquet(outDir)
      .withColumn("avg_measurement_number", round(col("avg_measurement_number"), 9))
      .collect().map(_.toSeq).toSet
    val expected = batch
      .groupBy(window(col("timestamp"), "86400 seconds"),
        col("measurement_subject"), col("measurement_of"))
      .agg(avg("measurement_number").as("avg_measurement_number"))
      .select(unix_micros(col("window.start")).as("time_us"),
        col("measurement_subject"), col("measurement_of"),
        round(col("avg_measurement_number"), 9).as("avg_measurement_number"))
      .collect().map(_.toSeq).toSet
    // every emitted window must match its batch counterpart exactly, and
    // all windows closed by the phase-1 watermark (≈ through Jan 23) must
    // have been emitted
    assert(streamed.nonEmpty && streamed.subsetOf(expected),
      s"streamed=${streamed.size} expected=${expected.size} bad=${(streamed -- expected).take(3)}")
    assert(streamed.size > expected.size / 2,
      s"too few windows flushed: ${streamed.size}/${expected.size}")
  }

  test("bmw poller: fixture client + VIN filter feeds the streaming input") {
    import graft.sources.BmwPoller
    val fixture = java.nio.file.Files.createTempFile("bmw", ".json")
    java.nio.file.Files.copy(getClass.getResourceAsStream("/bmw_topic_messages.json"),
      fixture, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val client = new BmwPoller.FixtureClient(fixture.toString)
    val in = Files.createTempDirectory("poll_in").toString

    assert(BmwPoller.poll(client, Set("WBY0FINGERPRINT01"), in, tick = 1) == 3)
    assert(BmwPoller.poll(client, Set("OTHERVIN"), in, tick = 2) == 0)
    assert(BmwPoller.poll(client, Set.empty, in, tick = 3) == 3)
    val files = new java.io.File(in).listFiles().map(_.getName).sorted
    assert(files.toSeq == Seq("poll_1.txt", "poll_3.txt"))
  }

  test("bmw event-time parses offset-suffixed and long-fraction timestamps") {
    import spark.implicits._
    val stamps = Seq(
      "2023-10-27T21:55:00.0000000Z",      // 7 digits + Z (the BMW shape)
      "2023-10-27T21:55:00.1234567+01:00", // 7 digits + positive offset
      "2023-10-27T19:55:00.1234567-0100",  // compact negative offset
      "2023-10-27T21:55:00.123456Z",       // already µs
      "2023-10-27T21:55:00Z",              // no fraction at all
      "2023-10-27T21:55:00.1234567+01",    // hour-only offset
      "2023-10-27T20:55:00.1234567z"       // lowercase z
    )
    // one poll per stamp, each its own vin: the dedup keeps them all, and
    // each poll's one record is stored at the instant of its event time
    val polls = stamps.zipWithIndex.map { case (at, i) =>
      s"""{"vin": "V$i", "state": {"lastUpdatedAt": "$at", "currentMileage": $i}}"""
    }
    val in = Files.createTempDirectory("bmw_time_in").toString
    val out = Files.createTempDirectory("bmw_time_out").toString
    val mon = Files.createTempDirectory("bmw_time_mon").toString
    val ckpt = Files.createTempDirectory("bmw_time_ckpt").toString
    Files.write(java.nio.file.Paths.get(s"$in/polls.txt"), polls.mkString("\n").getBytes)
    IngestPipeline.startBmw(spark, in, out, mon, ckpt).awaitTermination(60000)
    val got = spark.read.parquet(out)
      .selectExpr("measurement_subject", "unix_micros(timestamp)").as[(String, Long)]
      .collect().toMap
    assert(got.size == stamps.size, s"dropped polls: ${got.keys.toSeq.sorted}")
    def micros(iso: String): Long = {
      val t = java.time.Instant.parse(iso)
      t.getEpochSecond * 1000000L + t.getNano / 1000L
    }
    // the offset rows are all the same instant, rounded like PG
    Seq(1, 2, 5, 6).foreach(i =>
      assert(got(s"V$i") == micros("2023-10-27T20:55:00.123457Z"), stamps(i)))
    assert(got("V0") == micros("2023-10-27T21:55:00Z"))
    assert(got("V3") == micros("2023-10-27T21:55:00.123456Z"))
    assert(got("V4") == got("V0"))
  }

  test("bmw streaming dedup: 3 messages, 1 duplicate skipped, dual sink") {
    val msgs = mapper.readTree(getClass.getResourceAsStream("/bmw_topic_messages.json"))
      .elements.asScala.map(_.toString).toVector
    assert(msgs.size == 3)

    val in = Files.createTempDirectory("bmw_in").toString
    val out = Files.createTempDirectory("bmw_out").toString
    val mon = Files.createTempDirectory("bmw_mon").toString
    val ckpt = Files.createTempDirectory("bmw_ckpt").toString
    Files.write(java.nio.file.Paths.get(s"$in/msgs.txt"), msgs.mkString("\n").getBytes)

    val q = IngestPipeline.startBmw(spark, in, out, mon, ckpt)
    q.awaitTermination(60000)

    // 2 unique (vin, lastUpdatedAt) keys x 6 fields = 12 records, both sinks
    val main = spark.read.parquet(out)
    val monitor = spark.read.parquet(mon)
    assert(main.count() == 12, s"main sink: ${main.count()}")
    assert(monitor.count() == 12)
    assert(main.filter("timestamp IS NULL").count() == 0)
    assert(main.select("correlation_id").distinct().count() == 2)

    // restart on the same checkpoint with the same input: nothing new emitted
    val q2 = IngestPipeline.startBmw(spark, in, out, mon, ckpt)
    q2.awaitTermination(60000)
    assert(spark.read.parquet(out).count() == 12)
  }

  /** `start` with `graft.stream.shufflePartitions` set to `n`. */
  private def withForcedPartitions[T](n: Int)(start: => T): T = {
    spark.conf.set(StreamParallelism.ForcedKey, n.toString)
    try start finally spark.conf.unset(StreamParallelism.ForcedKey)
  }

  /** The progress of each micro-batch of `q` that read rows. */
  private def dataBatches(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)

  /** A BMW poll carrying all six fields the converter stores. */
  private def fullPoll(vin: String, at: String, i: Int): String =
    s"""{"vin": "$vin", "state": {"lastUpdatedAt": "$at", "currentMileage": $i,
       |"electricChargingState": {"chargingLevelPercent": ${i % 100}, "range": ${100 + i},
       |"isChargerConnected": ${i % 2 == 0}, "chargingStatus": "S${i % 3}"},
       |"location": {"coordinates": {"latitude": 48.${i}, "longitude": 11.${i}}}}}"""
      .stripMargin.replace("\n", " ")

  test("bmw dedup state is sized from its input; the override pins it; a restart stores nothing new") {
    val msgs = mapper.readTree(getClass.getResourceAsStream("/bmw_topic_messages.json"))
      .elements.asScala.map(_.toString).toVector
    def drain(tag: String)(start: (String, String, String, String) => StreamingQuery) = {
      val dirs = Seq("in", "out", "mon", "ckpt").map(d => Files.createTempDirectory(s"bmw_${tag}_$d").toString)
      Files.write(java.nio.file.Paths.get(s"${dirs(0)}/msgs.txt"), msgs.mkString("\n").getBytes)
      val q = start(dirs(0), dirs(1), dirs(2), dirs(3))
      q.awaitTermination(60000)
      (q, dirs)
    }
    // a few hundred bytes sized against a 64 MB target: one state partition
    // where the session's shuffle partitions would give four
    val (sized, Seq(in, out, mon, ckpt)) = drain("sized")(IngestPipeline.startBmw(spark, _, _, _, _))
    assert(dataBatches(sized).map(_.stateOperators(0).numShufflePartitions) == Seq(1))
    assert(spark.read.parquet(out).count() == 12)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4", "the session's count is restored")
    // a restart on that checkpoint, even under another pinned count, keeps
    // the checkpoint's dedup state and stores nothing new
    withForcedPartitions(3)(IngestPipeline.startBmw(spark, in, out, mon, ckpt)).awaitTermination(60000)
    assert(spark.read.parquet(out).count() == 12)
    assert(spark.read.parquet(mon).count() == 12)

    val (pinned, _) = drain("pinned")((i, o, m, c) =>
      withForcedPartitions(3)(IngestPipeline.startBmw(spark, i, o, m, c)))
    assert(dataBatches(pinned).map(_.stateOperators(0).numShufflePartitions) == Seq(3))
  }

  test("an empty bmw micro-batch writes no file to either store") {
    val in = Files.createTempDirectory("bmw_empty_in").toString
    val out = Files.createTempDirectory("bmw_empty_out").toString
    val mon = Files.createTempDirectory("bmw_empty_mon").toString
    val ckpt = Files.createTempDirectory("bmw_empty_ckpt").toString
    val polls = (0 until 30).map(i => fullPoll(s"V$i", f"2024-01-0${3 + i % 3}T${i % 24}%02d:00:00Z", i))
    Files.write(java.nio.file.Paths.get(s"$in/polls.txt"), polls.mkString("\n").getBytes)
    val q = IngestPipeline.startBmw(spark, in, out, mon, ckpt)
    q.awaitTermination(60000)
    // the data batch moves the watermark, so a no-data batch follows it
    assert(q.recentProgress.map(_.numInputRows).toSeq == Seq(30L, 0L))
    def parquetFiles(dir: String): Seq[String] = {
      val files = Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .map(_.toString).filter(_.endsWith(".parquet")).toVector
      files.foreach(f => assert(spark.read.parquet(f).count() > 0, s"zero-row file $f"))
      files
    }
    assert(parquetFiles(mon).size == 1)
    assert(parquetFiles(out).size == 3)
    assert(spark.read.parquet(mon).count() == 180)
  }

  test("three bmw drains on one checkpoint: later drains drop the polls below the watermark") {
    import spark.implicits._
    val in = Files.createTempDirectory("bmw_replay_in").toString
    val out = Files.createTempDirectory("bmw_replay_out").toString
    val mon = Files.createTempDirectory("bmw_replay_mon").toString
    val ckpt = Files.createTempDirectory("bmw_replay_ckpt").toString
    // each drain adds one file of 90 new-keyed polls over 2024-01-03..05
    // (newest 2024-01-05T23:00), so from the second drain on the watermark
    // stands at 2024-01-04T23:00
    val drains = (0 until 3).map(d => (0 until 90).map { i =>
      val at = f"2024-01-0${3 + i % 3}T${i % 24}%02d:00:00Z"
      (at, fullPoll(s"D${d}V$i", at, i))
    })
    drains.zipWithIndex.foreach { case (polls, d) =>
      Files.write(java.nio.file.Paths.get(s"$in/drain_$d.txt"), polls.map(_._2).mkString("\n").getBytes)
      IngestPipeline.startBmw(spark, in, out, mon, ckpt).awaitTermination(60000)
    }
    // the late-poll loss as it stands (the reference would store every
    // poll): the first drain stores all its polls, the later two only
    // those of 2024-01-05 — 90 + 30 + 30 polls of 6 records
    val kept = drains.head.map(_._2) ++
      drains.tail.flatMap(_.filter(_._1.startsWith("2024-01-05")).map(_._2))
    val expectedDir = Files.createTempDirectory("bmw_replay_expected").toString
    graft.sources.ConditionsTable.write(graft.sources.ConditionsTable.toStorage(
      kept.toDS().flatMap(graft.convert.Bmw.convertMessage(_).get)), expectedDir)
    def rows(dir: String) = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    val stored = rows(out)
    assert(stored.size == 900)
    assert(stored == rows(expectedDir))
    assert(rows(mon) == stored)
  }

  /** Parquet files per `date=` directory of the store at `dir`. */
  private def filesPerDate(dir: String): Map[String, Int] =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("date="))
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap

  test("bmw dead letters are exactly the bad polls; the store keeps only the good ones") {
    import spark.implicits._
    val good = mapper.readTree(getClass.getResourceAsStream("/bmw_topic_messages.json"))
      .elements.asScala.map(_.toString).toVector
    val bad = Seq(
      "not json at all",
      """{"vin": "NOTIME", "state": {"currentMileage": 5}}""",
      """{"vin": "BADTIME", "state": {"lastUpdatedAt": "yesterday", "currentMileage": 5}}""")
    val corpus = good.take(2) ++ bad ++ good.drop(2)
    assert(IngestPipeline.bmwDeadLetters(corpus.toDS()).collect().toSeq == bad)
    val in = Files.createTempDirectory("bmw_dl_in").toString
    val out = Files.createTempDirectory("bmw_dl_out").toString
    val mon = Files.createTempDirectory("bmw_dl_mon").toString
    val ckpt = Files.createTempDirectory("bmw_dl_ckpt").toString
    Files.write(java.nio.file.Paths.get(s"$in/polls.txt"), corpus.mkString("\n").getBytes)
    IngestPipeline.startBmw(spark, in, out, mon, ckpt).awaitTermination(60000)
    // the 3 good polls hold 2 unique keys x 6 fields; no bad vin is stored
    val stored = spark.read.parquet(out)
    assert(stored.count() == 12)
    assert(stored.filter($"measurement_subject".isin("NOTIME", "BADTIME")).count() == 0)
  }

  test("bmw drain over 3 days appends one parquet file per date per batch") {
    val in = Files.createTempDirectory("bmw_days_in").toString
    val out = Files.createTempDirectory("bmw_days_out").toString
    val mon = Files.createTempDirectory("bmw_days_mon").toString
    val ckpt = Files.createTempDirectory("bmw_days_ckpt").toString
    // 120 polls over 2024-01-03..05; the pinned count makes the dedup
    // shuffle them across 4 partitions (sized from this input it would
    // use 1), so the append must cluster several tasks' rows per date
    val polls = (0 until 120).map { i =>
      val at = f"2024-01-0${3 + i % 3}T${i % 24}%02d:00:00Z"
      s"""{"vin": "V$i", "state": {"lastUpdatedAt": "$at", "currentMileage": $i}}"""
    }
    Files.write(java.nio.file.Paths.get(s"$in/polls.txt"), polls.mkString("\n").getBytes)
    val q = withForcedPartitions(4)(IngestPipeline.startBmw(spark, in, out, mon, ckpt))
    q.awaitTermination(60000)
    assert(dataBatches(q).map(_.stateOperators(0).numShufflePartitions) == Seq(4))
    assert(q.recentProgress.count(_.numInputRows > 0) == 1, "one batch expected")
    assert(filesPerDate(out) == Map("date=2024-01-03" -> 1, "date=2024-01-04" -> 1,
      "date=2024-01-05" -> 1), filesPerDate(out))
    assert(spark.read.parquet(out).count() == 120)
  }

  test("source seam: explicit Files config is the exact path the string API takes; kafka branch translates options") {
    import IngestPipeline.SourceConfig
    // the file branch through the EXPLICIT SourceConfig must behave
    // identically to the string overload that drives q_ingest_wire —
    // i.e. adding the kafka branch changed nothing about the tested path
    val in = Files.createTempDirectory("seam_in").toString
    val out = Files.createTempDirectory("seam_out").toString
    val ckpt = Files.createTempDirectory("seam_ckpt").toString
    Files.write(java.nio.file.Paths.get(s"$in/events.txt"),
      goldenBodies.mkString("\n").getBytes)
    val q = IngestPipeline.startMqtt(spark, SourceConfig.Files(in), out, ckpt,
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination(60000)
    assert(spark.read.parquet(out).count() == 36)

    // kafka branch: pure option translation (no broker in this container —
    // format("kafka") wiring is deployable config, asserted here so a
    // config typo fails a spec, not a production launch)
    val k = SourceConfig.Kafka("hub.servicebus.windows.net:9093", "telemetry",
      options = Map("kafka.security.protocol" -> "SASL_SSL"))
    val src = IngestPipeline.kafkaSourceOptions(k)
    assert(src("kafka.bootstrap.servers") == "hub.servicebus.windows.net:9093")
    assert(src("subscribe") == "telemetry")
    assert(src("startingOffsets") == "earliest")
    assert(src("kafka.security.protocol") == "SASL_SSL")
    val sink = IngestPipeline.kafkaSinkOptions(k)
    assert(sink("topic") == "telemetry")
    assert(sink("kafka.bootstrap.servers") == "hub.servicebus.windows.net:9093")
    assert(!sink.contains("subscribe"), "sink must not carry source-only options")
  }

  test("kafka branch end-to-end against the in-process provider: options reach the plan, golden corpus flows") {
    import IngestPipeline.SourceConfig
    // the test classpath registers FakeKafka under the short name
    // "kafka" (META-INF/services), so format(\"kafka\") resolves and the
    // REAL branch code — option wiring, value projection, normalize,
    // sink — executes without a broker. The staged payload rides in as
    // a passthrough option, like any kafka.* client setting would.
    // guard: the short name "kafka" must resolve to OUR test provider —
    // if the real spark-sql-kafka connector ever lands on the test
    // classpath, resolution turns ambiguous and every kafka-branch test
    // breaks; fail HERE with a message naming the collision
    val resolved = org.apache.spark.sql.execution.datasources.DataSource
      .lookupDataSource("kafka", spark.sessionState.conf).getName
    assert(resolved == classOf[FakeKafkaProvider].getName,
      s"format(\"kafka\") resolved to $resolved, not FakeKafkaProvider — " +
        "a real kafka connector is on the test classpath; remove the " +
        "META-INF/services registration (see the comment there)")
    FakeKafka.reset()
    val out = Files.createTempDirectory("fk_out").toString
    val ckpt = Files.createTempDirectory("fk_ckpt").toString
    val src = SourceConfig.Kafka("hub.servicebus.windows.net:9093", "telemetry",
      options = Map(
        "kafka.security.protocol" -> "SASL_SSL",
        "kafka.sasl.mechanism" -> "PLAIN",
        "kafka.sasl.jaas.config" ->
          "org.apache.kafka.common.security.plain.PlainLoginModule required username=\"$ConnectionString\" password=\"Endpoint=sb://...\";",
        "graft.test.data" -> (goldenBodies :+ "malformed junk").mkString("\n")))
    IngestPipeline.startMqtt(spark, src, out, ckpt,
      org.apache.spark.sql.streaming.Trigger.AvailableNow()).awaitTermination(60000)
    // 8 golden events -> 36 records, junk dropped — identical to the
    // file-source run above: the transforms can't tell the source apart
    assert(spark.read.parquet(out).count() == 36)
    // the FULL option set reached the provider (CaseInsensitiveStringMap
    // lowercases keys), including the Event Hubs SASL passthrough
    val got = FakeKafka.lastSourceOptions
    assert(got("kafka.bootstrap.servers") == "hub.servicebus.windows.net:9093")
    assert(got("subscribe") == "telemetry")
    assert(got("startingoffsets") == "earliest")
    assert(got("kafka.security.protocol") == "SASL_SSL")
    assert(got("kafka.sasl.mechanism") == "PLAIN")
    assert(got("kafka.sasl.jaas.config").contains("$ConnectionString"))

    // the SINK branch: convert-to-wire writes its records to "kafka" —
    // the fake collects the value column and the sink options
    FakeKafka.reset()
    val in2 = Files.createTempDirectory("fk_in2").toString
    val ck2 = Files.createTempDirectory("fk_ck2").toString
    Files.write(java.nio.file.Paths.get(s"$in2/events.txt"),
      goldenBodies.mkString("\n").getBytes)
    IngestPipeline.startConvertToWire(spark, SourceConfig.Files(in2),
      SourceConfig.Kafka("hub.servicebus.windows.net:9093", "wire-topic"),
      ck2, org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .awaitTermination(60000)
    assert(FakeKafka.written.size() == 36,
      s"all wire records must reach the kafka sink: ${FakeKafka.written.size()}")
    assert(FakeKafka.lastSinkOptions("topic") == "wire-topic")
    assert(FakeKafka.lastSinkOptions("kafka.bootstrap.servers") ==
      "hub.servicebus.windows.net:9093")
    import scala.jdk.CollectionConverters._
    // wire records round-trip: what the sink received decodes back
    val wired = graft.sources.WireRecords.decode(
      spark.createDataset(FakeKafka.written.asScala.toSeq)(
        org.apache.spark.sql.Encoders.STRING))
    assert(wired.count() == 36)
  }
}
