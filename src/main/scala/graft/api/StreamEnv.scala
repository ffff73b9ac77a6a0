package graft.api

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** DataStream-like unbounded façade (reference flink-streaming-java/
  * .../DataStream.java:1, KeyedStream.java, WindowedStream.java) over
  * streaming Datasets.
  *
  * Time semantics: event time is a real TimestampType column +
  * `assignWatermark` (the periodic bounded-out-of-orderness model);
  * punctuated watermarks = `KeyedStream.punctuatedSeal` (in-band
  * marker events drive per-key sealing); processing time ≈
  * current_timestamp() per micro-batch. Keyed state/timers lower to
  * flatMapGroupsWithState (GroupState + GroupStateTimeout), windows
  * to window()/session_window aggregations.
  *
  * DOCUMENTED NEGATIVE (COVERAGE.md §2.10 — the full statement):
  * there is deliberately NO engine-global punctuated watermark
  * assigner (AssignerWithPunctuatedWatermarks.java:56). Structured
  * Streaming's watermark is periodic-by-engine-design, computed
  * between micro-batches, with no surface to advance it from inside
  * a batch; punctuatedSeal reproduces the operator-level behavior
  * with a per-KEY punctuation clock (+ optional engine fallback),
  * and a job-wide marker is expressed by fanning the marker out to
  * every key upstream (StreamEnvSpec "cross-key markers").
  *
  * Bounded file sources, end of input and run-to-completion sinks
  * live in [[StreamRun]].
  */
final class StreamEnv(val spark: SparkSession) {

  def socketTextStream(host: String, port: Int): StreamOps[String] = {
    implicit val e: Encoder[String] = org.apache.spark.sql.Encoders.STRING
    new StreamOps(spark.readStream.format("socket")
      .option("host", host).option("port", port).load()
      .as[String])
  }

  def rateStream(rowsPerSecond: Long): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()

  /** Kafka source (reference FlinkKafkaConsumer, flink-connectors/
    * flink-connector-kafka-base/.../FlinkKafkaConsumerBase.java):
    * standard key/value/topic/partition/offset/timestamp columns,
    * offsets managed by the engine's checkpoint like the reference's
    * state-backed offsets. Compile-level in this environment — the
    * spark-sql-kafka connector jar and a broker are absent. */
  def kafkaSource(bootstrapServers: String, topics: String,
      startingOffsets: String = "latest"): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topics)
      .option("startingOffsets", startingOffsets)
      .load()

  def fromDataFrame(df: DataFrame): StreamOpsRow = new StreamOpsRow(df)
}

/** Untyped (Row) stream ops — the Table-ish surface. */
final class StreamOpsRow(val df: DataFrame) {
  def assignWatermark(tsCol: String, delay: String): StreamOpsRow =
    new StreamOpsRow(df.withWatermark(tsCol, delay))
  def filter(c: Column): StreamOpsRow = new StreamOpsRow(df.filter(c))
  def select(cols: Column*): StreamOpsRow = new StreamOpsRow(df.select(cols: _*))
  def union(o: StreamOpsRow): StreamOpsRow = new StreamOpsRow(df.union(o.df))

  /** Tumbling/sliding event-time window agg (TumblingEventTimeWindows,
    * SlidingEventTimeWindows). */
  def timeWindowAgg(tsCol: String, size: String, slide: Option[String],
      keys: Seq[Column], aggs: Column*): DataFrame = {
    val w = slide.fold(window(col(tsCol), size))(sl => window(col(tsCol), size, sl))
    df.groupBy((w +: keys): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Session windows (EventTimeSessionWindows.java:59). */
  def sessionWindowAgg(tsCol: String, gap: String,
      keys: Seq[Column], aggs: Column*): DataFrame =
    df.groupBy((session_window(col(tsCol), gap) +: keys): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Interval join (KeyedStream.java:414): equi-key + time-bounded. */
  def intervalJoin(other: StreamOpsRow, keyCond: Column,
      leftTs: String, rightTs: String,
      lowerBound: String, upperBound: String): DataFrame =
    df.join(other.df, keyCond
      && col(rightTs) >= col(leftTs) - expr(s"INTERVAL $lowerBound")
      && col(rightTs) <= col(leftTs) + expr(s"INTERVAL $upperBound"))

  /** Side outputs (OutputTag analog): tag once, fan out by predicate;
    * each returned stream shares the single upstream plan. */
  def sideOutputs(tags: (String, Column)*): Map[String, DataFrame] =
    tags.toMap.map { case (name, pred) => name -> df.filter(pred) }

  /** sideOutputLateData analog (WindowedStream.java sideOutputLateData
    * + allowedLateness): tag each event against the CURRENT watermark
    * — `is_late` is true when the event time is more than
    * `allowanceMillis` behind it. Runs as a keyed state op because the
    * watermark is only observable there; flatMapGroupsWithState input
    * is not watermark-filtered, so late rows still arrive to be
    * tagged. Downstream: route is_late to the late sink, the rest to
    * the main pipeline. */
  def tagLateData(tsCol: String, keyCol: String,
      allowanceMillis: Long = 0L): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{BooleanType, StructField, StructType}
    val outSchema = StructType(df.schema.fields :+
      StructField("is_late", BooleanType, nullable = false))
    implicit val rowEnc = Encoders.row(outSchema)
    implicit val keyEnc = Encoders.STRING
    implicit val stateEnc = Encoders.scalaLong
    val tsIdx = df.schema.fieldIndex(tsCol)
    val keyIdx = df.schema.fieldIndex(keyCol)
    val allowance = allowanceMillis // plain locals: the lambdas must
    // not capture `this` (a DataFrame-holding wrapper is not
    // serializable)
    df.groupByKey((r: Row) => String.valueOf(r.get(keyIdx)))(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, it: Iterator[Row], state: GroupState[Long]) => {
          val wm = state.getCurrentWatermarkMs()
          it.map { r =>
            val ts = r.getTimestamp(tsIdx).getTime
            Row.fromSeq(r.toSeq :+ (wm > 0 && ts < wm - allowance))
          }
        })
  }

  def printSink(): StreamingQuery =
    df.writeStream.format("console").outputMode("append").start()

  def foreachBatchSink(f: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.foreachBatch(f)

  /** Kafka sink (reference FlinkKafkaProducer): expects key/value
    * columns; delivery is at-least-once against the checkpoint (the
    * reference's EXACTLY_ONCE transactional mode has no Spark-sink
    * analog — documented gap). Compile-level in this environment. */
  def kafkaSink(bootstrapServers: String, topic: String,
      checkpointDir: String): StreamingQuery =
    df.writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .option("checkpointLocation", checkpointDir)
      .start()
}

/** Typed stream ops — map/flatMap/keyBy surface of DataStream<T>. */
final class StreamOps[T](val ds: Dataset[T]) {
  private implicit def enc: Encoder[T] = ds.encoder

  def map[R: Encoder](f: T => R): StreamOps[R] = new StreamOps(ds.map(f))
  def flatMap[R: Encoder](f: T => IterableOnce[R]): StreamOps[R] =
    new StreamOps(ds.flatMap(f))
  def filter(f: T => Boolean): StreamOps[T] = new StreamOps(ds.filter(f))
  def union(o: StreamOps[T]): StreamOps[T] = new StreamOps(ds.union(o.ds))

  def keyBy[K: Encoder](key: T => K): KeyedStream[K, T] =
    new KeyedStream(ds.groupByKey(key))

  /** connect (ConnectedStreams.java): two typed streams into one
    * keyed operator via a tagged union (Either itself is abstract and
    * cannot round-trip through an Encoder). */
  def connect[U](other: StreamOps[U])(implicit
      e: Encoder[Tagged[T, U]]): StreamOps[Tagged[T, U]] =
    new StreamOps(ds.map(l => Tagged[T, U](Some(l), None))
      .union(other.ds.map(r => Tagged[T, U](None, Some(r)))))

  /** Windowed stream coGroup (CoGroupedStreams.java — a.coGroup(b)
    * .where(kA).equalTo(kB).window(...).apply(f)): per (key, tumbling
    * window) the function receives BOTH sides' complete time-ordered
    * element lists — including windows where one side is empty, the
    * outer behavior that distinguishes coGroup from a windowed join.
    * Internally the tagged union re-exposes event time as a top-level
    * column and re-assigns the watermark (connect's struct-wrapping
    * drops event-time metadata — the same reason the reference
    * requires timestamps assigned before windowing). */
  def coGroup[U, K: Encoder, R: Encoder](other: StreamOps[U],
      delay: String = "0 seconds")(
      thisKey: T => K, otherKey: U => K)(
      windowMillis: Long, thisTs: T => Long, otherTs: U => Long)(
      f: (K, Long, Seq[T], Seq[U]) => IterableOnce[R])(implicit
      te: Encoder[Tagged[T, U]]): Dataset[R] = {
    implicit val pairE: Encoder[(java.sql.Timestamp, Tagged[T, U])] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.TIMESTAMP, te)
    implicit val stE: Encoder[Seq[(Long, (java.sql.Timestamp, Tagged[T, U]))]] =
      org.apache.spark.sql.Encoders.kryo[
        Seq[(Long, (java.sql.Timestamp, Tagged[T, U]))]]
    val tagged = connect(other).ds
      .map(tg => (new java.sql.Timestamp(tg.fold(thisTs)(otherTs)), tg))
      .withWatermark("_1", delay)
    new StreamOps(tagged)
      .keyBy(p => p._2.fold(thisKey)(otherKey))
      .windowApply(windowMillis, _._1.getTime) { (k, ws, elems) =>
        val (ls, rs) = elems.map(_._2).partition(_.isLeft)
        f(k, ws, ls.flatMap(_.left), rs.flatMap(_.right))
      }
  }

  /** countWindowAll (DataStream.java:757): NON-keyed tumbling count
    * windows. Like the reference's AllWindowedStream this is
    * inherently parallelism-1 (all elements route to one key); each
    * full window of `size` elements fires `f(windowIndex, elements)`
    * once, elements in arrival order. Keyed count windows with real
    * parallelism are `keyBy(...).process` (q46 shape). */
  def countWindowAll[R: Encoder](size: Int)(
      f: (Long, Seq[T]) => IterableOnce[R]): Dataset[R] = {
    require(size > 0, "size must be positive")
    implicit val stEnc: Encoder[(Long, Seq[T])] =
      org.apache.spark.sql.Encoders.kryo[(Long, Seq[T])]
    implicit val unitEnc: Encoder[Int] = org.apache.spark.sql.Encoders.scalaInt
    ds.groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Int, it: Iterator[T], state: GroupState[(Long, Seq[T])]) => {
          var (nextId, buf) = state.getOption.getOrElse((0L, Seq.empty[T]))
          buf = buf ++ it
          val out = scala.collection.mutable.ArrayBuffer.empty[R]
          while (buf.size >= size) {
            out ++= f(nextId, buf.take(size))
            buf = buf.drop(size)
            nextId += 1
          }
          if (buf.isEmpty && nextId == 0) state.remove()
          else state.update((nextId, buf))
          out.iterator
        })
  }
}

/** Encodable Either: exactly one side is defined. */
final case class Tagged[A, B](left: Option[A], right: Option[B]) {
  def isLeft: Boolean = left.isDefined
  def isRight: Boolean = right.isDefined
  def fold[C](fl: A => C)(fr: B => C): C = left.map(fl).getOrElse(fr(right.get))
}

/** KeyedStream<T,K> analog: keyed state + timers via GroupState. */
final class KeyedStream[K, T](val kv: org.apache.spark.sql.KeyValueGroupedDataset[K, T]) {

  /** KeyedProcessFunction analog (KeyedStream.java:301): per-key
    * iterator + mutable state; event/proc-time timers map to
    * GroupStateTimeout timeouts. */
  def process[S: Encoder, R: Encoder](
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout)(
      f: (K, Iterator[T], GroupState[S]) => Iterator[R]): Dataset[R] =
    kv.flatMapGroupsWithState(OutputMode.Append, timeout)(f)

  /** Running per-key reduce (KeyedStream.java:690) — per-trigger
    * cadence, not per-record (documented difference). */
  def reduce(f: (T, T) => T)(implicit e: Encoder[(K, T)]): Dataset[(K, T)] =
    kv.reduceGroups(f)

  def mapWithState[S: Encoder, R: Encoder](
      f: (K, Iterator[T], GroupState[S]) => R): Dataset[R] =
    kv.mapGroupsWithState(GroupStateTimeout.NoTimeout)(f)

  /** ProcessWindowFunction analog (WindowedStream.java process /
    * apply): the user function receives the window's COMPLETE,
    * time-ordered element list, firing exactly once per window when
    * the watermark passes its end. `tsMillis` must be epoch millis of
    * the column carrying the stream's watermark; per-key state holds
    * only the open windows, each purged at its final fire — the same
    * assign→state→fire→purge cycle as the reference WindowOperator.
    * (Incremental reduce/agg + process = pre-aggregate in the stream
    * before keyBy, then apply here.) */
  /** Streaming iteration analog (DataStream.iterate,
    * DataStream.java:548; IterativeStream.java): a feedback edge in
    * the dataflow — elements loop through the step function until
    * they route to the output side. Spark's dataflow is acyclic, so
    * the feedback edge lives in keyed state instead of a back-edge
    * channel: each activation drains (carried-over ++ new) elements
    * through `step` up to `maxStepsPerBatch` rounds; Right results
    * emit, Left results re-enter — immediately while rounds remain,
    * otherwise at the key's next activation (the analog of the
    * reference's loop latency; its iterations also give no progress
    * guarantee and likewise starve without a timeout). State per key
    * is the in-flight feedback frontier only.
    *
    * Re-activation rides the event-time watermark: a key holding
    * feedback re-fires whenever the watermark advances (the stream
    * must carry one — `withWatermark` upstream). A processing-time
    * timer would be closer to the reference's wall-clock loop but
    * forces Structured Streaming into a permanent no-data-batch spin
    * (FlatMapGroupsWithStateExec.shouldRunAnotherBatch is
    * unconditionally true under ProcessingTimeTimeout), so progress
    * here is tied to stream progress instead.
    */
  def iterate[R: Encoder](maxStepsPerBatch: Int = 100)(
      step: T => IterableOnce[Either[T, R]])(
      implicit stEnc: Encoder[Seq[T]]): Dataset[R] = {
    require(maxStepsPerBatch >= 1, "need at least one step per batch")
    kv.flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
      (_: K, it: Iterator[T], state: GroupState[Seq[T]]) => {
        var frontier = state.getOption.getOrElse(Seq.empty) ++ it
        val out = scala.collection.mutable.ArrayBuffer.empty[R]
        var rounds = 0
        while (frontier.nonEmpty && rounds < maxStepsPerBatch) {
          val next = scala.collection.mutable.ArrayBuffer.empty[T]
          frontier.foreach(t => step(t).iterator.foreach {
            case Left(fb) => next += fb
            case Right(r) => out += r
          })
          frontier = next.toSeq
          rounds += 1
        }
        if (frontier.isEmpty) state.remove()
        else {
          state.update(frontier)
          // wake on the next watermark advance to keep the loop turning
          state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
        }
        out.iterator
      })
  }

  /** AssignerWithPunctuatedWatermarks analog (DataStream.java:926;
    * flink-streaming-java AssignerWithPunctuatedWatermarks.java):
    * event-time progress driven by MARKER EVENTS in the data instead
    * of a fixed delay — buffered elements seal the moment a
    * punctuation arrives whose timestamp passes them, no matter how
    * far the delay-based engine watermark lags. Emits each sealed
    * element exactly once, in (ts, tie) order per batch; state per key
    * is the unsealed tail plus the marker high-water mark.
    *
    * Scope difference, documented: the reference's punctuated
    * watermark is per source partition; keyed state gives this one a
    * per-KEY punctuation clock. A key no marker ever reaches would
    * buffer forever — `engineFallback = true` adds the stream's delay
    * watermark as a second sealing clock (whichever is ahead wins),
    * bounding state for marker-sparse keys the way a Flink job
    * combines punctuated and periodic assigners. */
  def punctuatedSeal(tsMillis: T => Long, tie: T => Long,
      engineFallback: Boolean = false)(isMarker: T => Boolean)(
      implicit te: Encoder[T], stEnc: Encoder[(Long, Seq[T])]): Dataset[T] =
    kv.flatMapGroupsWithState(OutputMode.Append,
      if (engineFallback) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout)(
      (_: K, it: Iterator[T], state: GroupState[(Long, Seq[T])]) => {
        var (hwm, kept) = state.getOption.getOrElse((Long.MinValue, Seq.empty[T]))
        val fresh = scala.collection.mutable.ArrayBuffer.empty[T]
        it.foreach { t =>
          if (isMarker(t)) hwm = math.max(hwm, tsMillis(t))
          else fresh += t
        }
        val clock =
          if (engineFallback) math.max(hwm, state.getCurrentWatermarkMs())
          else hwm
        val (sealed_, open) = (kept ++ fresh).partition(t => tsMillis(t) <= clock)
        // the high-water mark must survive even with an empty buffer:
        // it is the key's clock
        state.update((hwm, open))
        if (engineFallback && open.nonEmpty)
          // idle keys must re-fire when the delay clock passes their
          // oldest buffered row, or the fallback never seals them
          state.setTimeoutTimestamp(math.max(open.map(tsMillis).min + 1,
            state.getCurrentWatermarkMs() + 1))
        sealed_.sortBy(t => (tsMillis(t), tie(t))).iterator
      })

  def windowApply[R: Encoder](windowMillis: Long, tsMillis: T => Long)(
      f: (K, Long, Seq[T]) => IterableOnce[R]): Dataset[R] = {
    require(windowMillis > 0, "windowMillis must be positive")
    implicit val stEnc: Encoder[Seq[(Long, T)]] =
      org.apache.spark.sql.Encoders.kryo[Seq[(Long, T)]]
    kv.flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
      (key: K, it: Iterator[T], state: GroupState[Seq[(Long, T)]]) => {
        val wm = state.getCurrentWatermarkMs()
        val buf = state.getOption.getOrElse(Seq.empty) ++
          it.map(t => (tsMillis(t), t))
        val (closed, open) = buf.partition { case (ts, _) =>
          Math.floorDiv(ts, windowMillis) * windowMillis + windowMillis <= wm
        }
        val fired = closed
          .groupBy { case (ts, _) => Math.floorDiv(ts, windowMillis) * windowMillis }
          .toSeq.sortBy(_._1)
          .iterator.flatMap { case (ws, elems) =>
            f(key, ws, elems.sortBy(_._1).map(_._2))
          }
        if (open.isEmpty) state.remove()
        else {
          state.update(open)
          state.setTimeoutTimestamp(
            Math.floorDiv(open.map(_._1).min, windowMillis) * windowMillis + windowMillis)
        }
        fired
      })
  }
}

object StreamEnv {
  def apply(spark: SparkSession): StreamEnv = new StreamEnv(spark)
}
