package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryProgress}

/** One bounded streaming run, driven to completion: the harness every
  * registry stream query builds on.
  *
  * Flink 1.8 ends a bounded file source by emitting
  * `Watermark.MAX_WATERMARK`, which seals every event-time window and
  * fires every timer. Structured Streaming has no such signal, so a
  * run that needs its last windows sealed unions ONE end-of-input row
  * whose event time is [[StreamRun.EndOfInput]] into the input, below
  * the watermark node ([[endOfInput]] for event streams, [[idClock]]
  * for streams whose ids double as event-time seconds). The contract,
  * checked by one guard that names the run when it fails:
  *
  *  - every real row lies strictly before end-of-input — checked per
  *    row inside the stream's own scan, so it costs no Spark job;
  *  - the end-of-input row reaches the watermark node — a filter that
  *    Catalyst pushes below the node and that drops the row would
  *    leave the watermark at the last real row and the last windows
  *    silently unsealed. Checked on the run's final progress: the
  *    watermark must have reached end-of-input minus the largest
  *    watermark delay in the plan.
  *
  * Sinks: [[toMemory]] (append or complete mode; the sink table is the
  * run's final state), [[foreachBatch]] (checkpointed), or [[drain]]
  * for any other configured writer. Every sink returns the run's
  * progress list (Structured Streaming's monitoring surface), so
  * callers read state sizes from the run that produced them. A
  * `StreamRun` is single-use: one `name`, one sink.
  */
final class StreamRun(val spark: SparkSession, val name: String) {
  import StreamRun._

  /** Event time (ms) of the end-of-input rows attached to this run —
    * the lowest one if several inputs carry one. */
  private var endOfInputMs: Option[Long] = None

  /** `real` plus the end-of-input row on the timestamp column
    * `eventTime`; the caller then applies the watermark. The row's
    * other columns take their `fill` value, or null. */
  def endOfInput(real: DataFrame, eventTime: String,
      fill: (String, Column)*): DataFrame =
    attach(real, eventTime, timestamp_seconds(lit(EndOfInput)),
      EndOfInput * 1000L, fill)

  /** An id-clocked stream sealed by end-of-input: `real` plus the
    * end-of-input row (id = [[StreamRun.EndOfInput]]), with the
    * synthetic arrival time `ts` = id + 1 seconds — one row per
    * second in id order, shifted so that no row's time equals the
    * initial watermark (epoch 0), which would drop it as late — and a
    * zero-delay watermark on `ts`. */
  def idClock(real: DataFrame, id: String, fill: (String, Column)*): DataFrame =
    attach(real, id, lit(EndOfInput), (EndOfInput + 1) * 1000L, fill)
      .withColumn("ts", timestamp_seconds(col(id) + 1))
      .withWatermark("ts", "0 seconds")

  private def attach(real: DataFrame, key: String, endKey: Column,
      atMs: Long, fill: Seq[(String, Column)]): DataFrame = {
    endOfInputMs = Some(endOfInputMs.fold(atMs)(math.min(_, atMs)))
    val byName = fill.toMap
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val one = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    one.addData(0)
    val row = one.toDF().select(real.schema.fields.toSeq.map { f =>
      (if (f.name == key) endKey else byName.getOrElse(f.name, lit(null)))
        .cast(f.dataType).as(f.name)
    }: _*)
    real.filter(when(col(key) >= endKey, raise_error(lit(
      violation(s"a real row has $key at or past end-of-input")))).isNull)
      .union(row)
  }

  private def violation(what: String): String =
    s"stream run '$name': $what (${StreamRun.EndOfInput} s)"

  /** Runs `df` to completion into the memory sink `name` and returns
    * the sink table with the run's progress. */
  def toMemory(df: DataFrame, mode: String = "append"): Result = {
    spark.catalog.dropTempView(name)
    val progress = complete(df, df.writeStream.format("memory").outputMode(mode))
    Result(spark.table(name), progress)
  }

  /** Runs `df` to completion through `f`, one call per micro-batch,
    * with the run's offsets committed under `checkpoint`. */
  def foreachBatch(df: DataFrame, checkpoint: String)(
      f: DataFrame => Unit): Seq[StreamingQueryProgress] =
    complete(df, df.writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch((batch: DataFrame, _: Long) => f(batch)))

  /** Runs `writer` (built on `df`) to completion — the sink for any
    * writer the two above do not cover, such as a file sink. */
  def drain(df: DataFrame, writer: DataStreamWriter[Row]): Seq[StreamingQueryProgress] =
    complete(df, writer)

  private def complete(df: DataFrame,
      writer: DataStreamWriter[Row]): Seq[StreamingQueryProgress] = {
    val query = writer.queryName(name).start()
    val progress =
      try { query.processAllAvailable(); query.recentProgress.toSeq }
      finally query.stop()
    endOfInputMs.foreach { at =>
      val delays = df.queryExecution.analyzed.collect {
        case w: EventTimeWatermark => EventTimeWatermark.getDelayMs(w.delay)
      }
      val watermark = progress.lastOption
        .flatMap(p => Option(p.eventTime.get("watermark")))
        .map(java.time.Instant.parse(_).toEpochMilli)
      if (delays.isEmpty || watermark.forall(_ < at - delays.max))
        throw new IllegalStateException(violation(
          s"the watermark stopped at ${watermark.getOrElse("none")} ms, short " +
            "of end-of-input — a filter below the watermark node dropped the " +
            "end-of-input row, or the run has no watermark"))
    }
    progress
  }
}

object StreamRun {

  /** End of input: 2100-01-01T00:00:09Z in epoch seconds, the event
    * time of every end-of-input row (id-clocked streams use it as the
    * id). Filters that Catalyst pushes below a watermark node must
    * let the end-of-input row through, so the value carries the
    * residues the stream-side filters select on: q246's delta slice
    * (`vec_id % 10 = 9`) and the non-eval split of q158/q243
    * (`doc_id % 97 <> 0`). */
  val EndOfInput: Long = 4102444809L
  require(EndOfInput % 10 == 9 && EndOfInput % 97 != 0)

  def apply(spark: SparkSession, name: String): StreamRun = new StreamRun(spark, name)

  /** Monitored-directory file source on `<dir>/<table>.parquet`
    * (StreamExecutionEnvironment.java:940 readFile +
    * PROCESS_CONTINUOUSLY), with the schema of the batch table. The
    * registry's test data ships each table as a single FILE, which the
    * file source reads through its parent directory and a glob;
    * rewritten copies (tools.Scale) are parquet DIRECTORIES, read
    * directly. Session options that change the parquet schema (the
    * events table's nanosAsLong) must be set before the call. */
  def fileSource(spark: SparkSession, dir: String, table: String): DataFrame = {
    val path = s"$dir/$table.parquet"
    val reader = spark.readStream.schema(spark.read.parquet(path).schema)
    if (new java.io.File(path).isDirectory) reader.parquet(path)
    else reader.option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** A finished run: its output and its progress list. */
  final case class Result(df: DataFrame, progress: Seq[StreamingQueryProgress]) {
    def map(f: DataFrame => DataFrame): Result = copy(df = f(df))

    /** Rows held by each stateful operator at the end of the run. */
    def stateRows: Seq[Long] =
      progress.lastOption.toSeq.flatMap(_.stateOperators.map(_.numRowsTotal))
  }
}
