package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.{QueryDef, Registry}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** Benchmark JVM: runs a fixed list of registry queries for a time
  * window and writes the raw timings as JSON for `run.py`.
  *
  *  1. Session: local[cores], shuffle partitions = cores, AQE on.
  *  2. Verify pass: every query is written once to parquet under
  *     `--verify` so `run.py` can hash it against the oracle digest.
  *     This pass is also the queries' warm-up. Untimed runs of the
  *     reference job follow.
  *  3. Timed passes through the `noop` sink until `--seconds` have
  *     passed, each in a fresh order drawn from `--seed`. Before
  *     each query a fixed plain-Spark reference job runs (see
  *     `reference`); `run.py` divides query times by it. With
  *     `--trace 1` half of the passes run with the listeners of
  *     [[Tracer]] installed; the others stay untraced, so the traced
  *     and untraced pass times give the tracing overhead.
  *
  * Between queries, outside the timed window, the streaming state is
  * reset and a GC runs, as `graft.Bench` does.
  */
object Harness {

  /** Untimed reference-job runs before the window: its first runs are
    * slow, and the window should see it warm like the queries. */
  private val RefWarmup = 3

  private def now: Long = System.nanoTime()
  private def secs(from: Long, to: Long): Double = (to - from) / 1e9

  private def moduleOf: Map[String, String] =
    Registry.modules.flatMap { m =>
      val name = m.getClass.getSimpleName.stripSuffix("$")
      m.queries.map(_.name -> name)
    }.toMap

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val names = opt("queries").split(",").toSeq
    val byName = Registry.all.map(d => d.name -> d).toMap
    val defs: Seq[QueryDef] = names.map(n =>
      byName.getOrElse(n, throw new IllegalArgumentException(s"unknown query $n")))
    val out = Paths.get(opt("out"))

    if (opt.get("mode").contains("oracle")) {
      val sql = defs.map(d => d.name -> d.oracle.getOrElse(
        throw new IllegalArgumentException(s"${d.name} has no oracle SQL")))
      Files.writeString(out, Json(sql.toMap))
      return
    }

    val data = opt("data")
    val cores = opt("cores")
    val seconds = opt("seconds").toDouble
    val deadline = opt("deadline").toDouble
    val trace = opt("trace") == "1"
    val rng = new scala.util.Random(opt("seed").toLong)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opt("work") + "/local")
      .config("spark.sql.warehouse.dir", opt("work") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReadyMs = System.currentTimeMillis()
    // an elapsed-time deadline counted from JVM start keeps the whole
    // run inside its time limit even when a pass is slow
    def pastDeadline(margin: Double): Boolean =
      (System.currentTimeMillis() - jvmStart) / 1e3 + margin > deadline

    def settle(): Unit = { Bridge.resetStreamingState(spark); System.gc() }
    val tracer = new Tracer(spark)

    /** One pass in the given order; returns per-query records and the
      * summed query wall time. `sink` evaluates the built frame. With
      * `ref`, the reference job runs (untimed by the pass) right before
      * each query. */
    def pass(order: Seq[QueryDef], ref: Boolean)(
        sink: (QueryDef, org.apache.spark.sql.DataFrame) => Unit)
        : (Seq[Map[String, Any]], Double) = {
      var wall = 0.0
      val recs = order.map { d =>
        val refS = if (ref) reference() else 0.0
        val t0 = now
        var t1 = t0
        val err = try {
          val df = d.fn(spark, data)
          t1 = now
          sink(d, df)
          None
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] ${d.name}: $e")
          Some(e.toString)
        }
        val t2 = now
        settle()
        wall += secs(t0, t2)
        Map("name" -> d.name, "build_s" -> secs(t0, t1), "action_s" -> secs(t1, t2),
          "wall_s" -> secs(t0, t2), "ref_s" -> refS, "error" -> err.orNull)
      }
      (recs, wall)
    }

    /** Reference job: a fixed scan, shuffle join and aggregate over the
      * same data in plain Spark, no graft code. Timed next to each
      * query, it samples how fast the machine runs Spark at that moment.
      * A traced pass stops recording for it. */
    def reference(): Double = {
      val recording = tracer.current
      tracer.current = null
      val t0 = now
      val l = spark.read.parquet(s"$data/lineitem.parquet")
      val o = spark.read.parquet(s"$data/orders.parquet")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority").count()
        .write.format("noop").mode("overwrite").save()
      val t = secs(t0, now)
      settle()
      tracer.drain()
      tracer.current = recording
      t
    }

    val noop: (QueryDef, org.apache.spark.sql.DataFrame) => Unit =
      (_, df) => df.write.format("noop").mode("overwrite").save()

    val verifyDir = opt("verify")
    val (verifyRecs, _) = pass(rng.shuffle(defs), ref = false) { (d, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$verifyDir/${d.name}")
    }
    (1 to RefWarmup).foreach(_ => reference())

    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val windowStartMs = System.currentTimeMillis()
    val window0 = now
    var lastWall = 0.0
    def want(traced: Boolean): Boolean = trace && !passes.exists(_("traced") == traced)
    while (passes.isEmpty || want(true) || want(false) ||
           (secs(window0, now) < seconds && !pastDeadline(lastWall))) {
      // untraced, traced, traced, untraced, ...: a warm-up trend
      // across the window cancels out of the traced/untraced means
      val traced = trace && (passes.size % 4 == 1 || passes.size % 4 == 2)
      val order = rng.shuffle(defs)
      val pt = if (traced) { tracer.install(); val t = new PassTrace; tracer.current = t; t } else null
      val (recs, wall) = pass(order, ref = true)(noop)
      val layers = if (traced) {
        tracer.drain()
        tracer.current = null
        tracer.remove()
        pt.totals(wall)
      } else Map.empty[String, Double]
      lastWall = secs(window0, now) / (passes.size + 1)
      passes += Map("traced" -> traced, "wall_s" -> wall, "queries" -> recs,
        "layers" -> layers)
    }

    // GC, then give Spark's ContextCleaner time to drop the blocks of
    // collected RDDs and broadcasts, and GC again
    settle()
    (1 to 3).foreach { _ => Thread.sleep(300); System.gc() }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    Files.writeString(out, Json(Map(
      "jvm_start_ms" -> jvmStart,
      "session_ready_ms" -> sessionReadyMs,
      "window_start_ms" -> windowStartMs,
      "modules" -> moduleOf.filter(kv => names.contains(kv._1)),
      "verify" -> verifyRecs,
      "passes" -> passes.toSeq,
      "heap_live_mb" -> heapMb)))
    spark.stop()
  }
}

/** Minimal JSON writer for the harness's own records. */
object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
