package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TableFormat
import graft.streaming.StreamOps

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  /** file-source streams need a DIRECTORY; stage the single parquet file */
  lazy val eventsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("TableFormat.jsonEscape: quote/backslash/control-safe, identity otherwise") {
    assert(TableFormat.jsonEscape("k=v;x.y=2") == "k=v;x.y=2")
    assert(TableFormat.jsonEscape("a\"b\\c") == "a\\\"b\\\\c")
    assert(TableFormat.jsonEscape("a\nb\tc") == "a\\u000ab\\u0009c")
    // the escaped value must parse back as legal JSON string content
    val v = TableFormat.jsonEscape("he said \"x=\\1\"\n")
    assert(!v.contains("\n") && !v.matches(""".*(?<!\\)".*"""))
  }

  test("streaming windowed counts equal the batch computation") {
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
    val q = StreamOps.windowedCounts(stream)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("win_out")
      .start()
    try {
      q.processAllAvailable()
      // append mode only emits windows the watermark has passed; run the
      // same agg in batch and compare the emitted subset row-for-row
      val got = spark.table("win_out")
        .select(col("w_start").cast("long"), col("event_type"), col("n"),
          round(col("total"), 4))
        .as[(Long, String, Long, Double)].collect().toSet
      val want = StreamOps.windowedCounts(spark.read.parquet(s"$sf/events.parquet"))
        .select(col("w_start").cast("long"), col("event_type"), col("n"),
          round(col("total"), 4))
        .as[(Long, String, Long, Double)].collect().toSet
      assert(got.nonEmpty)
      assert(got.subsetOf(want))
      // everything except the watermark tail must have been emitted
      assert(got.size >= want.size - 10)
    } finally q.stop()
  }

  test("streaming triple extraction equals the batch extraction") {
    import graft.fixtures.Fixtures
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-pages").toString
    val pages = Fixtures.pages(spark, Fixtures.tiny).toDF()
    pages.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(pages.schema).parquet(dir)
    val q = graft.extract.TripleExtract.assertions(stream)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("assert_out")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("assert_out")
        .select("url", "sent_idx", "predicate").as[(String, Int, String)]
        .collect().toSet
      val want = graft.extract.TripleExtract.assertions(pages)
        .select("url", "sent_idx", "predicate").as[(String, Int, String)]
        .collect().toSet
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("stateful sessionize accumulates per-user state") {
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[StreamOps.Event]
    val q = StreamOps.sessionize(stream)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("sess_out")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("sess_out")
        .groupBy("user_id").agg(max("n_events").as("n"))
        .as[(Long, Long)].collect().toMap
      val want = spark.read.parquet(s"$sf/events.parquet")
        .groupBy("user_id").agg(count(lit(1)))
        .as[(Long, Long)].collect().toMap
      assert(got == want)
    } finally q.stop()
  }

  /** Stage events as 2 time-ordered micro-batch files (sessions straddle
    * the boundary) + a far-future sentinel that advances the watermark
    * past every real session's end so they all finalize. Returns the
    * watched dir; feed with maxFilesPerTrigger=1.
    */
  /** Write df as ONE parquet part file named `name` in `dir` — the
    * micro-batch staging primitive every streaming test here uses (the
    * file source lists by mtime, so staging order == replay order).
    * Closes the directory listing stream (it holds an fd).
    */
  private def stageBatchFile(dir: java.nio.file.Path, name: String,
      df: org.apache.spark.sql.DataFrame): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stage-batch")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val s = java.nio.file.Files.list(tmp)
    val part =
      try s.filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      finally s.close()
    java.nio.file.Files.move(part, dir.resolve(name))
  }

  private def stagedSessionFeed(): (String, org.apache.spark.sql.DataFrame) = {
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    val cut = ev.selectExpr("percentile(cast(ts as double), 0.5)").first().getDouble(0)
    val maxTs = ev.selectExpr("max(cast(ts as double))").first().getDouble(0)
    val sentinel = spark.range(1).select(
      lit(-1L).as("event_id"),
      lit(maxTs + 30 * 86400).cast("timestamp").as("ts"),
      lit(-1L).as("user_id"), lit("flush").as("event_type"),
      lit(0.0).as("value"))
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-sess")
    stageBatchFile(dir, "b1.parquet", ev.filter(col("ts").cast("double") <= cut))
    stageBatchFile(dir, "b2.parquet", ev.filter(col("ts").cast("double") > cut))
    stageBatchFile(dir, "b3.parquet", sentinel)
    (dir.toString, ev)
  }

  /** (user, s_start, s_end, n_events, n_types) -> total, sentinel user
    * excluded — the comparison key for both session equality tests.
    */
  private def sessionMap(df: org.apache.spark.sql.DataFrame)
      : Map[(Long, Long, Long, Long, Long), Double] =
    df.filter(col("user_id") =!= -1L)
      .select(col("user_id"), col("s_start"), col("s_end"),
        col("n_events").cast("long"), col("n_types").cast("long"), col("total"))
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(t => (t._1, t._2, t._3, t._4, t._5) -> t._6).toMap

  private def assertSessionsEqual(
      got: Map[(Long, Long, Long, Long, Long), Double],
      want: Map[(Long, Long, Long, Long, Long), Double]): Unit = {
    assert(got.nonEmpty && got.keySet == want.keySet,
      s"session keys differ: stream ${got.size} vs batch ${want.size}; " +
        s"only-stream=${(got.keySet -- want.keySet).take(3)} " +
        s"only-batch=${(want.keySet -- got.keySet).take(3)}")
    // totals: stream accumulates in arrival order, batch in partition
    // order — compare at 1e-6, not bit-exact
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-6, s"$k") }
  }

  test("streaming session_window gap sessions equal the batch run") {
    import graft.streaming.Sessions
    val (dir, ev) = stagedSessionFeed()
    val schema = ev.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = Sessions.gapSessionsStream(stream, "8 hours", "1 hour")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("gap_sess_out")
      .start()
    try {
      q.processAllAvailable()
      assertSessionsEqual(
        sessionMap(spark.table("gap_sess_out")),
        sessionMap(Sessions.gapSessions(ev, "8 hours")))
    } finally q.stop()
  }

  test("stateful event-time-timeout gap sessions equal the batch run") {
    import graft.streaming.Sessions
    val (dir, ev) = stagedSessionFeed()
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .withWatermark("ts", "1 hour")
      .as[StreamOps.Event]
    val q = Sessions.gapSessionsState(stream)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("gap_state_out")
      .start()
    try {
      q.processAllAvailable()
      assertSessionsEqual(
        sessionMap(spark.table("gap_state_out").toDF()),
        sessionMap(Sessions.gapSessions(ev, "8 hours")))
    } finally q.stop()
  }

  test("stateful gap sessions equal the batch run under seeded out-of-order replays") {
    // Property: ANY arrival order realizable under the watermark gives
    // the batch result. Arrival order = ts + jitter with jitter drawn
    // in [0, delay): when an event arrives, every earlier arrival has
    // ts' <= ts + jitter < ts + delay, so the watermark (max seen - 1h)
    // sits strictly below the event's ts — an adversarial but legal
    // in-watermark shuffle. Three seeds, five micro-batches each.
    import graft.streaming.Sessions
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    val want = sessionMap(Sessions.gapSessions(ev, "8 hours"))
    val rows = ev.as[(Long, java.sql.Timestamp, Long, String, Double)]
      .collect().toSeq
    val delayMs = 3600 * 1000L
    val maxTs = rows.map(_._2.getTime).max
    for (seed <- Seq(7, 23, 31)) {
      val rnd = new scala.util.Random(seed)
      val arrival = rows
        .map(r => (r, r._2.getTime + rnd.between(0L, delayMs)))
        .sortBy(_._2).map(_._1)
      val dir = java.nio.file.Files.createTempDirectory(s"graft-ooo-sess-$seed")
      def stage(name: String,
          batch: Seq[(Long, java.sql.Timestamp, Long, String, Double)]): Unit =
        stageBatchFile(dir, name,
          batch.toDF("event_id", "ts", "user_id", "event_type", "value"))
      val perBatch = math.max(1, arrival.length / 5 + 1)
      arrival.grouped(perBatch).zipWithIndex.foreach { case (g, i) =>
        stage(f"b$i%03d.parquet", g)
      }
      val sentinel = (-1L,
        new java.sql.Timestamp(maxTs + 30L * 86400 * 1000), -1L, "flush", 0.0)
      stage("b999.parquet", Seq(sentinel))
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(dir.toString)
        .withWatermark("ts", "1 hour")
        .as[StreamOps.Event]
      val q = Sessions.gapSessionsState(stream)
        .writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName(s"ooo_sess_$seed")
        .start()
      try {
        q.processAllAvailable()
        assertSessionsEqual(
          sessionMap(spark.table(s"ooo_sess_$seed").toDF()), want)
      } finally q.stop()
    }
  }

  test("stateful gap sessions merge an in-watermark late event backwards") {
    import graft.streaming.Sessions
    val dir = java.nio.file.Files.createTempDirectory("graft-late-sess")
    def ev(id: Long, hhmm: String, user: Long = 1L) =
      (id, java.sql.Timestamp.valueOf(s"2026-01-01 $hhmm:00"), user, "click", 1.0)
    def stage(name: String,
        rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]): Unit =
      stageBatchFile(dir, name,
        rows.toDF("event_id", "ts", "user_id", "event_type", "value"))
    // batch 1: 10:10, 10:20 -> watermark 09:20. batch 2: LATE 10:00
    // (allowed) — must extend the open session BACKWARDS to 10:00.
    stage("b1.parquet", Seq(ev(1, "10:10"), ev(2, "10:20")))
    val schema = Seq(ev(0, "00:00")).toDF(
      "event_id", "ts", "user_id", "event_type", "value").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
      .withWatermark("ts", "1 hour")
      .as[StreamOps.Event]
    val q = Sessions.gapSessionsState(stream)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("late_sess_out")
      .start()
    try {
      q.processAllAvailable()
      stage("b2.parquet", Seq(ev(3, "10:00")))
      q.processAllAvailable()
      stage("b3.parquet", Seq(ev(4, "12:00", user = -1L))) // flush sentinel... far enough? needs +8h+1h past 10:20
      q.processAllAvailable()
      stage("b4.parquet", Seq(ev(5, "23:50", user = -1L)))
      q.processAllAvailable()
      val rows = spark.table("late_sess_out")
        .filter(col("user_id") === 1L)
        .select(col("s_start"), col("s_end"), col("n_events"))
        .as[(Long, Long, Long)].collect().toSeq
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00").getTime / 1000
      val tEnd = java.sql.Timestamp.valueOf("2026-01-01 10:20:00").getTime / 1000 + 8 * 3600
      assert(rows == Seq((t0, tEnd, 3L)), s"got $rows")
    } finally q.stop()
  }

  test("streaming dedup keeps first-seen per fingerprint across micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-dedup")
    // the file source lists leaf files: write each batch elsewhere, then
    // move its single part file into the watched dir under a stable name
    def write(name: String, rows: Seq[(String, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-dedup-batch")
      rows.toDF("url", "text").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, dir.resolve(name))
    }
    write("b1.parquet", Seq(
      ("u1", "alpha beta gamma"),
      ("u2", "alpha beta gamma"), // in-batch dup of u1
      ("u3", "delta epsilon")))
    val schema = Seq(("u", "t")).toDF("url", "text").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val q = StreamOps.dedupStream(stream)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_out")
      .start()
    try {
      q.processAllAvailable()
      // cross-batch dup of b1 content + one new text
      write("b2.parquet", Seq(
        ("u4", "alpha beta gamma"),
        ("u5", "zeta eta theta")))
      q.processAllAvailable()
      val got = spark.table("dedup_out")
        .as[StreamOps.Keyed].collect().map(_.url).toSet
      // u1 beats u2 (min url in batch), u4 dropped (fp seen in batch 1)
      assert(got == Set("u1", "u3", "u5"), s"got $got")
    } finally q.stop()
  }

  test("incremental dedup+extract+link stream equals batch over deduped union") {
    import graft.fixtures.Fixtures
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-kg")
    val pages = Fixtures.pages(spark, Fixtures.tiny).toDF()
      .select("url", "text", "lang")
    // stage as two micro-batch files, duplicating a page across batches
    // (cross-batch dedup must drop the re-crawl)
    def stage(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      stageBatchFile(dir, name, df)
    val firstHalf = pages.filter(xxhash64(col("url")) % 2 === 0)
    val recrawl = firstHalf.limit(20) // same (url, text): dup fingerprints
    stage("b1.parquet", firstHalf)
    val inputs = graft.pipeline.KgPipeline.fixtureInputs(spark, Fixtures.tiny)
    val stream = spark.readStream.schema(pages.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val q = StreamOps.incrementalLinked(stream, inputs.aliasDict, inputs.entityKeywords)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("kg_out")
      .start()
    try {
      q.processAllAvailable()
      stage("b2.parquet", pages.filter(xxhash64(col("url")) % 2 =!= 0).union(recrawl))
      q.processAllAvailable()
      val got = spark.table("kg_out")
        .select("url", "subject", "predicate", "object")
        .as[(String, String, String, String)].collect().toSet
      // batch equivalent replicating first-seen-BATCH-then-min-url
      // keeper semantics (the fixture plants true duplicate texts that
      // can straddle the two micro-batches)
      val keepers = pages
        .withColumn("fp", xxhash64(col("text")))
        .withColumn("batch",
          when(xxhash64(col("url")) % 2 === 0, 0).otherwise(1))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("fp")
            .orderBy(col("batch"), col("url"))))
        .filter(col("rn") === 1).drop("fp", "rn", "batch")
      val want = graft.link.EntityLink.link(
        graft.extract.TripleExtract.assertions(keepers),
        inputs.aliasDict, inputs.entityKeywords)
        .select("url", "subject", "predicate", "object")
        .as[(String, String, String, String)].collect().toSet
      assert(got == want && got.nonEmpty, s"stream ${got.size} vs batch ${want.size}")
    } finally q.stop()
  }
}
