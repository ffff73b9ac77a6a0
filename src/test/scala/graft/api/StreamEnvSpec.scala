package graft.api

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout
import java.sql.Timestamp

/** Tagged element for the stream-coGroup composition test. */
case class CoEv(k: String, ts: Timestamp, v: Double, side: String)

class StreamEnvSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("keyed process function accumulates state across micro-batches") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val counted = new StreamOps(input.toDS())
      .keyBy(_._1)
      .process[Int, (String, Int)]() { (k, it, state) =>
        val total = state.getOption.getOrElse(0) + it.map(_._2).sum
        state.update(total)
        Iterator((k, total))
      }
    val query = counted.writeStream.format("memory")
      .queryName("graft_test_process").outputMode("append").start()
    input.addData(("a", 1), ("b", 2))
    query.processAllAvailable()
    input.addData(("a", 3))
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("graft_test_process").as[(String, Int)].collect().toSet
    assert(rows == Set(("a", 1), ("b", 2), ("a", 4)))
  }

  test("stream iterate drains the feedback edge within and across batches") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Int)]
    // countdown loop: n > 0 feeds (k, ts, n-1) back; n == 0 exits
    val out = new StreamOps(
      input.toDF().toDF("k", "ts", "n")
        .withWatermark("ts", "0 seconds")
        .as[(String, Timestamp, Int)])
      .keyBy(_._1)
      .iterate[(String, Int)](maxStepsPerBatch = 3) { case (k, t, n) =>
        if (n <= 0) Iterator(Right((k, n)))
        else Iterator(Left((k, t, n - 1)))
      }
    val q = out.writeStream.format("memory")
      .queryName("graft_test_iter").outputMode("append").start()
    def emitted() = spark.table("graft_test_iter").as[(String, Int)].collect().toSet
    try {
      // a:2 exits within one activation (3 rounds); b:9 stays in flight
      input.addData(("a", ts(0), 2), ("b", ts(0), 9))
      q.processAllAvailable()
      assert(emitted()(("a", 0)) && !emitted()(("b", 0)))
      // each watermark advance re-fires the pending key until it drains
      var i = 1
      while (!emitted()(("b", 0)) && i < 10) {
        input.addData(("z", ts(i), 0))
        q.processAllAvailable()
        i += 1
      }
      assert(emitted()(("b", 0)), "feedback frontier never drained")
    } finally q.stop()
  }

  test("punctuated markers seal buffered rows ahead of the delay watermark") {
    implicit val sc = spark.sqlContext
    // (key, ts, typ, id); a 1-HOUR delay watermark would hold
    // everything back — only the in-band markers advance sealing
    val input = MemoryStream[(Long, Timestamp, String, Long)]
    val sealed_ = new StreamOps(
      input.toDF().toDF("k", "ts", "typ", "id")
        .withWatermark("ts", "1 hour")
        .as[(Long, Timestamp, String, Long)])
      .keyBy(_._1)
      .punctuatedSeal(_._2.getTime, _._4)(_._3 == "wm")
      .map(e => (e._1, e._4))
    val q = sealed_.writeStream.format("memory")
      .queryName("graft_test_punct").outputMode("append").start()
    def ids() = spark.table("graft_test_punct")
      .as[(Long, Long)].collect().toSet
    try {
      // data but no marker → nothing seals (engine wm is useless here)
      input.addData((1L, ts(0), "ev", 1L), (1L, ts(1), "ev", 2L), (2L, ts(0), "ev", 9L))
      q.processAllAvailable()
      assert(ids().isEmpty)
      // marker at 10:01 on key 1 seals its rows ≤ 10:01; key 2 (no
      // marker) stays buffered
      input.addData((1L, ts(1), "wm", 100L))
      q.processAllAvailable()
      assert(ids() == Set((1L, 1L), (1L, 2L)))
      // a late-arriving element at-or-under the key's marker clock
      // seals immediately on arrival
      input.addData((1L, ts(1), "ev", 3L))
      q.processAllAvailable()
      assert(ids() == Set((1L, 1L), (1L, 2L), (1L, 3L)))
    } finally q.stop()
  }

  test("punctuatedSeal cross-key markers: upstream flatMap fan-out routes one marker to all keys") {
    implicit val sc = spark.sqlContext
    // The COVERAGE.md documented-negative workaround: a marker that
    // must seal EVERY key's buffer (the reference's engine-global
    // punctuated watermark) is fanned out to each key upstream — a
    // plain flatMap over the known key domain — because per-key
    // punctuation clocks are the only clocks markers can advance.
    val input = MemoryStream[(Long, Timestamp, String, Long)]
    val keys = Seq(1L, 2L)
    val sealed_ = new StreamOps(
      input.toDF().toDF("k", "ts", "typ", "id")
        .withWatermark("ts", "1 hour")
        .as[(Long, Timestamp, String, Long)])
      .flatMap(e => if (e._3 == "wm") keys.map(k => e.copy(_1 = k))
                    else Seq(e))
      .keyBy(_._1)
      .punctuatedSeal(_._2.getTime, _._4)(_._3 == "wm")
      .map(e => (e._1, e._4))
    val q = sealed_.writeStream.format("memory")
      .queryName("graft_test_punct_fan").outputMode("append").start()
    def ids() = spark.table("graft_test_punct_fan")
      .as[(Long, Long)].collect().toSet
    try {
      input.addData((1L, ts(0), "ev", 1L), (2L, ts(0), "ev", 9L))
      q.processAllAvailable()
      assert(ids().isEmpty)
      // ONE global marker (sent on any key) seals BOTH keys' buffers
      input.addData((1L, ts(1), "wm", 100L))
      q.processAllAvailable()
      assert(ids() == Set((1L, 1L), (2L, 9L)))
    } finally q.stop()
  }

  test("punctuatedSeal engine fallback bounds state for marker-less keys") {
    implicit val sc = spark.sqlContext
    // short 1-minute delay watermark + fallback: key 2 never sees a
    // marker but still seals once the delay clock passes its rows
    val input = MemoryStream[(Long, Timestamp, String, Long)]
    val sealed_ = new StreamOps(
      input.toDF().toDF("k", "ts", "typ", "id")
        .withWatermark("ts", "1 minute")
        .as[(Long, Timestamp, String, Long)])
      .keyBy(_._1)
      .punctuatedSeal(_._2.getTime, _._4, engineFallback = true)(_._3 == "wm")
      .map(e => (e._1, e._4))
    val q = sealed_.writeStream.format("memory")
      .queryName("graft_test_punct_fb").outputMode("append").start()
    def ids() = spark.table("graft_test_punct_fb").as[(Long, Long)].collect().toSet
    try {
      input.addData((2L, ts(0), "ev", 9L))
      q.processAllAvailable()
      assert(ids().isEmpty)
      // advance the engine watermark well past 10:00 via another key
      input.addData((3L, ts(5), "ev", 50L))
      q.processAllAvailable()
      input.addData((3L, ts(6), "ev", 51L))
      q.processAllAvailable()
      assert(ids()((2L, 9L)), "fallback clock never sealed the marker-less key")
    } finally q.stop()
  }

  test("tumbling window agg over a memory stream") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val env = StreamEnv(spark)
    val agg = env.fromDataFrame(input.toDF().toDF("ts", "k", "v"))
      .assignWatermark("ts", "10 minutes")
      .timeWindowAgg("ts", "15 minutes", None, Seq(col("k")),
        count(lit(1)).as("n"), sum(col("v")).as("s"))
      .select(col("window.start").as("w"), col("k"), col("n"), col("s"))
    input.addData((ts(1), "a", 1.0), (ts(5), "a", 2.0), (ts(20), "a", 4.0))
    val q = agg.writeStream.format("memory")
      .queryName("graft_test_window").outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("graft_test_window")
      .select(col("k"), col("n"), col("s")).as[(String, Long, Double)].collect().toSet
    assert(rows == Set(("a", 2L, 3.0), ("a", 1L, 4.0)))
  }

  test("side outputs split one stream into filtered views") {
    val df = Seq((1, "ok"), (2, "err"), (3, "ok")).toDF("id", "kind")
    val outs = new StreamOpsRow(df).sideOutputs(
      "good" -> (col("kind") === "ok"),
      "bad" -> (col("kind") === "err"))
    assert(outs("good").count() == 2 && outs("bad").count() == 1)
  }

  test("tagLateData marks events behind the watermark as late") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val tagged = new StreamOpsRow(
      input.toDF().toDF("ts", "k", "v").withWatermark("ts", "0 seconds"))
      .tagLateData(tsCol = "ts", keyCol = "k")
    val query = tagged.writeStream.format("memory")
      .queryName("graft_test_late").outputMode("append").start()
    try {
      input.addData((ts(30), "a", 1.0)) // advances the watermark to 10:30
      query.processAllAvailable()
      // next batch sees wm=10:30: the 10:05 event is LATE, 10:40 is not
      input.addData((ts(5), "a", 2.0), (ts(40), "a", 3.0))
      query.processAllAvailable()
      val byV = spark.table("graft_test_late")
        .select(col("v"), col("is_late")).as[(Double, Boolean)].collect().toMap
      assert(byV(1.0) == false && byV(2.0) == true && byV(3.0) == false)
    } finally query.stop()
  }

  test("windowApply fires once per sealed window with the full element list") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Double)]
    val applied = new StreamOps(
      input.toDF().toDF("k", "ts", "v")
        .withWatermark("ts", "0 seconds")
        .as[(String, Timestamp, Double)])
      .keyBy(_._1)
      .windowApply[(String, Long, String)](
        windowMillis = 10 * 60 * 1000L, tsMillis = _._2.getTime) {
        (k, ws, elems) => Iterator((k, ws, elems.map(_._3).mkString(",")))
      }
    val query = applied.toDF("k", "win", "vals").writeStream.format("memory")
      .queryName("graft_test_winapply").outputMode("append").start()
    try {
      // out-of-order inside the window: apply must see them time-sorted
      input.addData(("a", ts(7), 3.0), ("a", ts(2), 1.0), ("a", ts(5), 2.0))
      query.processAllAvailable()
      assert(spark.table("graft_test_winapply").count() == 0) // not sealed yet
      input.addData(("z", ts(30), 0.0))
      query.processAllAvailable()
      input.addData(("z", ts(45), 0.0))
      query.processAllAvailable()
      val rows = spark.table("graft_test_winapply").where("k = 'a'")
        .as[(String, Long, String)].collect().toSet
      assert(rows == Set(("a", ts(0).getTime, "1.0,2.0,3.0")))
    } finally query.stop()
  }

  test("stream coGroup = tagged union + keyBy + windowApply") {
    implicit val sc = spark.sqlContext
    val left = MemoryStream[(String, Timestamp, Double)]
    val right = MemoryStream[(String, Timestamp, Double)]
    def ops(m: MemoryStream[(String, Timestamp, Double)], side: String) =
      new StreamOps(m.toDF().toDF("k", "ts", "v")
        .as[(String, Timestamp, Double)])
        .map(t => CoEv(t._1, t._2, t._3, side))
    // watermark re-assigned on the UNION's top-level ts (struct-
    // wrapping in connect() drops event-time metadata — same reason
    // Flink requires timestamps assigned before windowing)
    val union = new StreamOps(
      ops(left, "L").union(ops(right, "R")).ds.withWatermark("ts", "0 seconds"))
    val cogrouped = union
      .keyBy(_.k)
      .windowApply[(String, Long, String, String)](
        windowMillis = 10 * 60 * 1000L, tsMillis = _.ts.getTime) { (k, ws, elems) =>
        val (ls, rs) = elems.partition(_.side == "L")
        Iterator((k, ws, ls.map(_.v).mkString(","), rs.map(_.v).mkString(",")))
      }
    val query = cogrouped.toDF("k", "win", "lefts", "rights")
      .writeStream.format("memory").queryName("graft_test_cogroup")
      .outputMode("append").start()
    try {
      left.addData(("a", ts(2), 1.0), ("a", ts(5), 2.0))
      right.addData(("a", ts(3), 9.0))
      query.processAllAvailable()
      // push both side's watermarks past the window
      left.addData(("z", ts(30), 0.0)); right.addData(("z", ts(30), 0.0))
      query.processAllAvailable()
      left.addData(("z", ts(45), 0.0)); right.addData(("z", ts(45), 0.0))
      query.processAllAvailable()
      val rows = spark.table("graft_test_cogroup").where("k = 'a'")
        .as[(String, Long, String, String)].collect().toSet
      assert(rows == Set(("a", ts(0).getTime, "1.0,2.0", "9.0")))
    } finally query.stop()
  }

  test("countWindowAll fires once per full window of n elements") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Int]
    val windows = new StreamOps(in.toDS())
      .countWindowAll[(Long, String)](3)((id, elems) =>
        Iterator((id, elems.mkString("+"))))
    val query = windows.toDF("win", "elems")
      .writeStream.format("memory").queryName("graft_test_cwa")
      .outputMode("append").start()
    try {
      in.addData(1, 2, 3, 4)
      query.processAllAvailable()
      in.addData(5, 6, 7)
      query.processAllAvailable()
      val rows = spark.table("graft_test_cwa")
        .as[(Long, String)].collect().sortBy(_._1).toList
      // 7 elements → two full windows fire, the 7th stays buffered
      assert(rows == List((0L, "1+2+3"), (1L, "4+5+6")))
    } finally query.stop()
  }

  test("dropDuplicatesWithinWatermark bounds dedup state by the watermark") {
    // the idle-state-retention analog (StreamQueryConfig
    // .withIdleStateRetentionTime): dedup keys are forgotten once the
    // watermark passes their TTL, so state never grows unboundedly —
    // and a key recurring AFTER expiry is emitted again
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, Timestamp)]
    val deduped = in.toDF().toDF("k", "ts")
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("k")
    val query = deduped.writeStream.format("memory")
      .queryName("graft_test_dedup_ttl").outputMode("append").start()
    def emitted() = spark.table("graft_test_dedup_ttl")
      .selectExpr("k", "cast(ts as string)").as[(String, String)]
      .collect().toSeq
    try {
      in.addData(("a", ts(0)), ("a", ts(1)))
      query.processAllAvailable()
      // duplicate inside the watermark window: one survivor
      assert(emitted().count(_._1 == "a") == 1)
      // advance the watermark far past a's TTL, then replay the key
      // AHEAD of the watermark (a behind-watermark row would just be
      // dropped as late)
      in.addData(("z", ts(30)))
      query.processAllAvailable()
      in.addData(("a", ts(40)))
      query.processAllAvailable()
      // expired state ⇒ the late recurrence is a fresh emission
      assert(emitted().count(_._1 == "a") == 2)
    } finally query.stop()
  }

  test("connect merges two typed streams via a tagged union") {
    val a = new StreamOps(Seq(1, 2).toDS())
    val b = new StreamOps(Seq("x").toDS())
    val r = a.connect(b).ds.collect()
    assert(r.count(_.isLeft) == 2 && r.count(_.isRight) == 1)
    assert(r.filter(_.isRight).map(_.fold(_.toString)(identity)).toSeq == Seq("x"))
  }

  // ---- StreamRun: the end-of-input guard ----------------------------

  /** Spark jobs started while `body` runs. A marker job after `body`
    * flushes the listener queue: events arrive in posting order, so
    * once the marker is seen every earlier job has been counted. */
  private def jobsRunBy(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val markers = new java.util.concurrent.atomic.AtomicInteger
    val sc = spark.sparkContext
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.job.description") == "graft-marker")
          markers.incrementAndGet()
        else jobs.incrementAndGet()
    }
    def flush(n: Int): Unit = {
      sc.setJobDescription("graft-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (markers.get < n && System.nanoTime() < deadline) Thread.sleep(20)
      assert(markers.get == n, "listener queue did not drain")
    }
    sc.addSparkListener(listener)
    try {
      flush(1)
      jobs.set(0)
      body
      flush(2)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  /** Messages of `e` and its causes — a guard that fires inside a
    * task surfaces wrapped in the stream's and the job's exceptions. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")

  test("StreamRun fails loudly when a pushed-down filter drops the end-of-input row") {
    implicit val sc = spark.sqlContext
    def windows(name: String, dropEnd: Boolean) = {
      val input = MemoryStream[(Timestamp, Long)]
      input.addData((ts(1), 1L), (ts(20), 2L))
      val run = StreamRun(spark, name)
      val sealedIn = run.endOfInput(input.toDF().toDF("ts", "k"), "ts", "k" -> lit(-1L))
        .withWatermark("ts", "0 seconds")
      // k >= 0 does not touch the event time, so Catalyst pushes it
      // below the watermark node, where it removes the end-of-input row
      (run, (if (dropEnd) sealedIn.filter(col("k") >= 0) else sealedIn)
        .groupBy(window(col("ts"), "15 minutes")).agg(count(lit(1)).as("n"))
        .select(col("window.start").as("w"), col("n")))
    }
    // control: the end-of-input row seals BOTH windows, its own never
    val (okRun, ok) = windows("graft_test_eoi_kept", dropEnd = false)
    val rows = okRun.toMemory(ok).df.as[(Timestamp, Long)].collect().toSet
    assert(rows == Set((ts(0), 1L), (ts(15), 1L)))
    // dropped: the watermark stops at 10:20 and the 10:15 window would
    // be missing without a word — the guard names the run instead
    val (badRun, bad) = windows("graft_test_eoi_dropped", dropEnd = true)
    val e = intercept[IllegalStateException](badRun.toMemory(bad))
    assert(e.getMessage.contains("graft_test_eoi_dropped"), e.getMessage)
    assert(e.getMessage.contains("dropped the end-of-input row"), e.getMessage)
  }

  test("StreamRun fails loudly on a real row at or past end-of-input") {
    implicit val sc = spark.sqlContext
    val end = StreamRun.EndOfInput
    def ids(name: String, last: Long) = {
      val input = MemoryStream[(Long, String)]
      input.addData((1L, "a"), (last, "b"))
      val run = StreamRun(spark, name)
      run.toMemory(run.idClock(input.toDF().toDF("doc_id", "text"), "doc_id")
        .groupBy(window(col("ts"), "1 second"), col("doc_id")).count()
        .select(col("doc_id"))).df.as[Long].collect().toSet
    }
    // the last id before end-of-input still seals (ts = end s, the
    // end-of-input row's ts = end + 1 s)
    assert(ids("graft_test_eoi_last_ok", end - 1) == Set(1L, end - 1))
    // every id at or past end-of-input is rejected — the same inputs a
    // max(id) pre-scan rejects, with no scan of its own
    Seq(end, end + 1, Long.MaxValue / 2).zipWithIndex.foreach { case (id, i) =>
      val e = intercept[Exception](ids(s"graft_test_eoi_real_$i", id))
      assert(messages(e).contains(s"stream run 'graft_test_eoi_real_$i': " +
        "a real row has doc_id at or past end-of-input"), messages(e))
    }
    // the event-time clock: a real event stamped at end-of-input
    val ev = MemoryStream[(Timestamp, Long)]
    ev.addData((ts(1), 1L), (new Timestamp(end * 1000L), 2L))
    val run = StreamRun(spark, "graft_test_eoi_real_event")
    val e = intercept[Exception](run.toMemory(
      run.endOfInput(ev.toDF().toDF("ts", "k"), "ts").withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "15 minutes")).count()))
    assert(messages(e).contains("a real row has ts at or past end-of-input"), messages(e))
  }

  test("StreamRun guards a q126-shaped event stream without adding a Spark job") {
    import graft.cep.CEP
    implicit val sc = spark.sqlContext
    type Ev = (Long, Timestamp, Long, String)
    val events = Seq[Ev]((1L, ts(0), 7L, "view"), (2L, ts(10), 7L, "purchase"),
      (3L, ts(20), 8L, "view"), (4L, ts(30), 9L, "view"),
      (5L, ts(50), 9L, "purchase"))
    // views with no purchase inside 1h: q126's timed-out side
    def timeouts(ev: DataFrame): DataFrame = {
      val p = CEP.Pattern.begin[Ev]("view").where(_._4 == "view")
        .followedBy("purchase").where(_._4 == "purchase")
        .within(scala.concurrent.duration.Duration(1, "hour"))
      implicit val bufEnc: org.apache.spark.sql.Encoder[Seq[Ev]] =
        org.apache.spark.sql.Encoders.kryo[Seq[Ev]]
      CEP.patternStreamWithTimeouts(ev.withWatermark("ts", "0 seconds").as[(Long, Timestamp, Long, String)], p,
        (e: Ev) => e._3, (e: Ev) => e._2.getTime, (e: Ev) => e._1) {
        (uid, m) => (uid, m.stages("view").head._1, false)
      } { (uid, partial) => (uid, partial.stages("view").head._1, true) }
        .toDF("user_id", "view_id", "timed_out")
    }
    def input() = {
      val in = MemoryStream[(Long, Timestamp, Long, String)]
      in.addData(events)
      in.toDF().toDF("event_id", "ts", "user_id", "event_type")
    }
    // before: a bare far-future row unioned in, no guard
    var bare: Set[(Long, Long)] = Set.empty
    val bareJobs = jobsRunBy {
      val end = MemoryStream[(Long, Timestamp, Long, String)]
      end.addData((-1L, new Timestamp(StreamRun.EndOfInput * 1000L), -1L, "noise"))
      val in = input()
      val q = timeouts(in.union(end.toDF().toDF(in.columns: _*)))
        .writeStream.format("memory").queryName("graft_test_eoi_bare").start()
      try q.processAllAvailable() finally q.stop()
      bare = spark.table("graft_test_eoi_bare").filter(col("timed_out") && col("user_id") >= 0)
        .select(col("user_id"), col("view_id")).as[(Long, Long)].collect().toSet
    }
    // after: the harness row with both guards
    var guarded: Set[(Long, Long)] = Set.empty
    val guardedJobs = jobsRunBy {
      val run = StreamRun(spark, "graft_test_eoi_guarded")
      guarded = run.toMemory(timeouts(run.endOfInput(input(), "ts",
          "event_id" -> lit(-1L), "user_id" -> lit(-1L), "event_type" -> lit("noise"))))
        .df.filter(col("timed_out") && col("user_id") >= 0)
        .select(col("user_id"), col("view_id")).as[(Long, Long)].collect().toSet
    }
    assert(bare == Set((8L, 3L)) && guarded == bare)
    assert(bareJobs > 0, "no jobs counted")
    assert(guardedJobs == bareJobs,
      s"the guard changed the run's Spark jobs: $bareJobs -> $guardedJobs")
  }
}
