package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One timed operation: an ETL run, a dashboard query, a corpus-prep
  * run or one event file. `check` names the output the correctness
  * oracle compares; `traced` marks operations run with listeners on. */
final case class Op(kind: String, startMs: Double, latMs: Double, ok: Boolean,
    items: Long, check: String, traced: Boolean, error: String = "")

/** Settings shared by every workload, from the command line. */
final case class Ctx(spark: SparkSession, inputs: String, work: String,
    seconds: Double, trace: Boolean, seed: Long, cores: Int, items: Long) {
  def out(name: String): String = s"$work/out/$name"
}

/** What a workload hands back: its operations, the epoch-ms at which
  * timing started, and workload-specific extras for the report. */
final case class Outcome(ops: Seq[Op], timedStartMs: Long, extra: Map[String, Any])

object Main {
  private val jvmStart = System.currentTimeMillis()
  private val marks = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
  /** Record how far set-up has got (seconds since JVM start), for the log. */
  def mark(name: String): Unit = marks.add(name -> (System.currentTimeMillis() - jvmStart) / 1e3)

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      // the status store keeps every job, stage, task and SQL execution
      // up to these limits; kept small so that heap_mb measures the
      // program's own state, not how many jobs the warm-up happened to run
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Drift probe: a fixed CPU loop and a tiny Spark job, each the median
    * of three timings in ms. Run right before and right after the timed
    * section; a change between the two shows the box drifted. */
  def calibrate(spark: SparkSession, cores: Int): (Double, Double) = {
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    def cpuOnce(): Double = {
      val t0 = System.nanoTime()
      var x = 88172645463325252L
      var i = 0
      while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42L) println("")
      (System.nanoTime() - t0) / 1e6
    }
    def sparkOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 200000, 1, cores).selectExpr("sum(id % 7)").collect()
      (System.nanoTime() - t0) / 1e6
    }
    (med(Seq.fill(3)(cpuOnce())), med(Seq.fill(3)(sparkOnce())))
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.currentTimeMillis()
    val workload = arg(args, "workload")
    val work = arg(args, "work")
    val cores = arg(args, "cores").toInt
    val spark = session(work, cores)
    val sessionS = (System.currentTimeMillis() - t0) / 1e3
    // the harness generates the inputs while the session starts, then
    // writes the items per operation into the ready file
    val inputs = arg(args, "inputs")
    val ready = Paths.get(inputs, ".ready")
    while (!Files.exists(ready)) Thread.sleep(10)
    mark("inputs_ready")
    val items = new String(Files.readAllBytes(ready), StandardCharsets.UTF_8).trim.toLong
    val ctx = Ctx(spark, inputs, work, arg(args, "seconds").toDouble,
      arg(args, "trace") == "1", arg(args, "seed").toLong, cores, items)
    val tracer = new Tracer(spark)
    val outcome = workload match {
      case "etl_batch" => Workloads.etlBatch(ctx, tracer)
      case "dashboard_mix" => Workloads.dashboardMix(ctx, tracer)
      case "corpus_prep" => Workloads.corpusPrep(ctx, tracer)
      case "event_stream" =>
        Workloads.eventStream(ctx, tracer, arg(args, "rate").toDouble, arg(args, "warm").toDouble)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val calib = outcome.extra("calib").asInstanceOf[Seq[Double]]
    Files.write(Paths.get(s"$work/oracle_sql.json"),
      Json(Workloads.oracleSql).getBytes(StandardCharsets.UTF_8))
    val report = Map[String, Any](
      "session_s" -> sessionS,
      "marks" -> marks.toArray(Array.empty[(String, Double)]).map { case (k, v) => Map(k -> v) }.toSeq,
      "timed_start_ms" -> outcome.timedStartMs,
      "ops" -> outcome.ops.map(o => Map(
        "kind" -> o.kind, "start_ms" -> o.startMs, "lat_ms" -> o.latMs, "ok" -> o.ok,
        "items" -> o.items, "check" -> o.check, "traced" -> o.traced, "error" -> o.error)),
      "calib" -> Map("cpu_ms_start" -> calib(0), "spark_ms_start" -> calib(1),
        "heap_mb_start" -> calib(2), "cpu_ms_end" -> calib(3), "spark_ms_end" -> calib(4))
    ) ++ (outcome.extra - "calib")
    // written whole, then renamed: the harness checks outputs while
    // this JVM shuts down
    Files.write(Paths.get(s"$work/result.tmp"), Json(report).getBytes(StandardCharsets.UTF_8))
    Files.move(Paths.get(s"$work/result.tmp"), Paths.get(s"$work/result.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    PerfbenchBus.drain(spark.sparkContext)
    spark.stop()
  }
}

/** Minimal JSON writer for the report (maps, sequences, numbers,
  * strings, booleans, null). */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case RawJson(text) => text
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: java.math.BigDecimal => n.toPlainString
    case n: Number => n.toString
    case t: java.sql.Timestamp => str(t.toString)
    case d: java.sql.Date => str(d.toString)
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case r: Row => apply(r.toSeq)
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => str(other.toString)
  }

  /** Rows as a canonical JSON table: columns sorted by name, rows
    * sorted by their encoding, so equal results encode equally. */
  def table(df: DataFrame, rows: Array[Row]): (String, String) = {
    val names = df.columns.toIndexedSeq
    val order = names.indices.sortBy(names(_))
    val enc = rows.map(r => apply(order.map(i => r.get(i)))).sorted
    (apply(order.map(names)), enc.mkString("[", ",", "]"))
  }
}

/** Closed-loop runner shared by the batch workloads. */
object Loop {
  def now(): Double = System.nanoTime() / 1e6

  /** `clients` threads each run operations back to back until `seconds`
    * have passed. `op(client, i)` names the operation and returns its
    * body, which returns the key of the output the oracle checks. In a
    * traced run the first half runs untraced and the second half with
    * the tracer on, so both halves time the same work. */
  def closed(ctx: Ctx, tracer: Tracer, clients: Int, items: Long)(
      op: (Int, Int) => (String, () => String)): (Seq[Op], Long) = {
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
    val startMs = System.currentTimeMillis()
    val t0 = now()
    val half = if (ctx.trace) t0 + ctx.seconds * 500 else Double.MaxValue
    val end = t0 + ctx.seconds * 1000
    val tracing = new java.util.concurrent.atomic.AtomicBoolean(false)
    def client(c: Int): Unit = {
      var i = 0
      var tracedOps = 0
      // a traced run times at least one operation in each half
      while (now() < end || (ctx.trace && tracedOps == 0)) {
        if ((now() >= half || (i > 0 && now() >= end)) && tracing.compareAndSet(false, true))
          tracer.start()
        val traced = tracing.get
        if (traced) tracedOps += 1
        val (kind, body) = op(c, i)
        val wall = System.currentTimeMillis().toDouble
        val s = now()
        val (ok, check, err) =
          try (true, body(), "")
          catch { case scala.util.control.NonFatal(e) => (false, "", e.toString) }
        ops.add(Op(kind, wall, now() - s, ok, items, check, traced, err))
        i += 1
      }
    }
    val threads = (0 until clients).map(c => new Thread(() => client(c), s"perfbench-client-$c"))
    threads.foreach(_.start())
    threads.foreach(_.join())
    (ops.toArray(Array.empty[Op]).toSeq.sortBy(_.startMs), startMs)
  }
}
