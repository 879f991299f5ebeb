package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.{ExtQueries, ParityQueries, PipelineQueries, Tables}
import graft.ext.{AnnIndex, CorpusPipeline, Sampling}
import graft.ops.{Aggregates, Sink}
import graft.pipeline.{Dashboard, HeartFailureEtl}
import graft.streaming.EventStream

/** Verbatim JSON text embedded in a report. */
final case class RawJson(text: String)

/** The four workloads. Each builds its set-up (warm JVM, caches,
  * indexes), times its operations, then leaves outputs where the
  * correctness oracle can compare them. */
object Workloads {

  // Parameters of the registry queries whose DuckDB oracles the checks
  // reuse: `e3_ivf_saved` (k-means k and iterations, 32 query vectors,
  // top-3) and `e6_full_prep` (gate, cluster threshold, overlap).
  val IvfK = 8
  val IvfIters = 2
  val AnnQueryIds = 32
  val AnnTopK = 3
  val AnnSubsets = 8
  val MinTokens = 5
  val ClusterMinEst = 0.5
  val ContamMinOverlap = 5
  val HeldOutMod = 20

  val ParityKinds: Seq[String] =
    Seq("a1_count", "a2_count_distinct", "a3_mean", "a4_group_mean", "a5_group_mean_sort", "o3_topk")

  /** Registry oracle SQL the checks run in DuckDB on the same inputs. */
  def oracleSql: Map[String, String] =
    Map("pipeline_e2e" -> PipelineQueries.sql("pipeline_e2e"),
      "pipeline_dashboard" -> PipelineQueries.sql("pipeline_dashboard"),
      "pipeline_topn" -> PipelineQueries.sql("pipeline_topn"),
      "e3_ivf_saved" -> ExtQueries.sql("e3_ivf_saved"),
      "e6_full_prep" -> ExtQueries.sql("e6_full_prep")) ++
      ParityKinds.map(k => k -> ParityQueries.sql(k))

  /** Live heap (MB, after a full GC) and the drift probe's two timings,
    * taken right before timing starts. */
  private def calib(ctx: Ctx): Seq[Double] = {
    Main.mark("calib")
    val heapMb = liveHeapMb()
    val (c, s) = Main.calibrate(ctx.spark, ctx.cores)
    Seq(c, s, heapMb)
  }

  /** Live heap right after a full GC. The context cleaner drops blocks
    * of collected broadcasts and frames asynchronously after a GC, so it
    * collects again once the cleaner has run. */
  private def liveHeapMb(): Double = {
    System.gc()
    for (_ <- 0 until 2) { Thread.sleep(200); System.gc() }
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    // what the last full collection left, whatever was allocated since
    val afterFullGc = ManagementFactory.getGarbageCollectorMXBeans.asScala.collectFirst {
      case b: com.sun.management.GarbageCollectorMXBean if b.getName == "G1 Old Generation" => b
    }.flatMap(b => Option(b.getLastGcInfo))
      .map(_.getMemoryUsageAfterGc.asScala.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum)
    afterFullGc.getOrElse { val rt = Runtime.getRuntime; rt.totalMemory - rt.freeMemory } / 1048576.0
  }

  /** The drift probe again, right after timing ends. */
  private def calibEnd(ctx: Ctx): Seq[Double] = {
    val (c, s) = Main.calibrate(ctx.spark, ctx.cores)
    Seq(c, s)
  }

  private def layers(ctx: Ctx, tracer: Tracer): Map[String, Any] =
    if (!ctx.trace) Map.empty
    else {
      val (sums, progress) = tracer.stop()
      Map("layers" -> sums, "progress" -> progress.map(p => RawJson(p.json)))
    }

  private def fileCount(path: String): Int =
    Option(new File(path).listFiles).map(_.count(_.getName.startsWith("part-"))).getOrElse(0)

  // ---- etl_batch ------------------------------------------------------

  def etlBatch(ctx: Ctx, tracer: Tracer): Outcome = {
    val readm = s"${ctx.inputs}/readmissions"
    val hosp = s"${ctx.inputs}/hospital_info"
    def run(path: String): String = {
      tracer.span("pipeline.etl_run_s") { HeartFailureEtl.run(ctx.spark, readm, hosp, path) }
      tracer.count("sink.files", fileCount(path).toDouble)
      path
    }
    (0 until 3).foreach { i => run(ctx.out(s"warm_$i")); Main.mark(s"warm_$i") }
    val c0 = calib(ctx)
    val (ops, start) = Loop.closed(ctx, tracer, 1, ctx.items) { (_, i) =>
      ("etl_run", () => run(ctx.out(f"etl_$i%03d")))
    }
    val traced = layers(ctx, tracer)
    val c1 = calibEnd(ctx)
    Outcome(ops, start, Map("calib" -> (c0 ++ c1)) ++ traced)
  }

  // ---- dashboard_mix --------------------------------------------------

  private def dashboardKinds(spark: SparkSession, etl: DataFrame, tables: String,
      ix: String): Seq[(String, Int => DataFrame)] = {
    val tb = Seq(col("facility_id").asc, col("facility_name").asc)
    def top(which: String, highest: Boolean) =
      Dashboard.topHospitals(etl, highest, 5, tb).select(lit(which).as("which"),
        col("facility_id"), col("facility_name"), col("state"), col("excess_readmission_ratio"))
    def metric(which: String, df: DataFrame, k: org.apache.spark.sql.Column, m: String) =
      df.select(lit(which).as("which"), k.as("k"), col(m).cast("double").as("metric"))
    val emb = Tables.embeddings(spark, tables)
    Seq[(String, Int => DataFrame)](
      "n_hospitals" -> (_ => metric("n_hospitals", Dashboard.totalHospitals(etl), lit(""), "n_facility_id")),
      "avg_ratio" -> (_ => metric("avg_ratio", Dashboard.averageRatio(etl), lit(""), "avg_excess_readmission_ratio")),
      "by_state" -> (_ => metric("by_state", Dashboard.ratioByState(etl), col("state"), "avg_excess_readmission_ratio")),
      "by_ownership" -> (_ => metric("by_ownership", Dashboard.ratioByOwnership(etl),
        col("hospital_ownership"), "avg_excess_readmission_ratio")),
      "highest" -> (_ => top("highest", highest = true)),
      "lowest" -> (_ => top("lowest", highest = false))
    ) ++ ParityKinds.map(k => k -> ((_: Int) => ParityQueries.all(k)(spark, tables))) :+
      ("ann_probe" -> ((j: Int) => AnnIndex.probeIvf(
        emb.filter(col("vec_id").isin(annQueryIds(j).map(i => Long.box(i.toLong)): _*)),
        ix, AnnTopK).select(col("query_id"), col("vec_id"), col("cos_sim"), col("rk"))))
  }

  /** The `e3_ivf_saved` query vectors probed by subset `j`. */
  def annQueryIds(j: Int): Seq[Int] = j until AnnQueryIds by AnnSubsets

  val DashboardWarmS = 20.0

  val DashboardCalls: Set[String] =
    Set("n_hospitals", "avg_ratio", "by_state", "by_ownership", "highest", "lowest")

  def dashboardMix(ctx: Ctx, tracer: Tracer): Outcome = {
    val spark = ctx.spark
    val tables = s"${ctx.inputs}/tables"
    val etlPath = ctx.out("dashboard_etl")
    val ix = ctx.out("ivf_index")
    // the ETL result (cached by Dashboard.load) and the IVF index build
    // concurrently; both are set-up
    val index = new Thread(() => AnnIndex.writeIvf(Tables.embeddings(spark, tables), IvfK, IvfIters, ix))
    index.start()
    HeartFailureEtl.run(spark, s"${ctx.inputs}/readmissions", s"${ctx.inputs}/hospital_info", etlPath)
    val tc = System.nanoTime()
    val etl = Dashboard.load(spark, etlPath)
    etl.count()
    val cacheBuildS = (System.nanoTime() - tc) / 1e9
    index.join()
    Main.mark("etl_and_index")
    val cacheMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    val kinds = dashboardKinds(spark, etl, tables, ix)
    val results = new ConcurrentHashMap[String, Map[String, Any]]()
    // a query's wall time splits into building the DataFrame (the module
    // call: table reads, analysis), its action, and encoding the result
    // for the oracle, which is harness work
    def execute(kind: String, arg: Int, f: Int => DataFrame): String = {
      val df = tracer.span("pipeline.df_build_s")(f(arg))
      val call = () => tracer.span("pipeline.collect_s")(df.collect())
      val rows = if (DashboardCalls(kind)) tracer.span("pipeline.dashboard_call_s")(call()) else call()
      if (kind == "ann_probe") tracer.count("ann.queries", annQueryIds(arg).size.toDouble)
      tracer.span("harness.encode_s") {
        val (cols, enc) = Json.table(df, rows)
        val key = s"$kind#$arg#${java.util.Arrays.hashCode(enc.getBytes("UTF-8"))}"
        results.putIfAbsent(key, Map("kind" -> kind, "cols" -> RawJson(cols),
          "rows" -> RawJson(enc), "query_ids" -> (if (kind == "ann_probe") annQueryIds(arg) else Nil)))
        key
      }
    }
    // each client deals kinds from its own shuffled deck, so every run
    // issues the mix in the same proportions whatever the seed
    def decks(n: Int, salt: Long) = Array.tabulate(n)(c => new Deck(kinds.size, ctx.seed * 1000003L + salt + c))
    def mix(ds: Array[Deck])(c: Int, i: Int): (String, () => String) = {
      val (kind, f) = kinds(ds(c).next())
      val arg = if (kind == "ann_probe") ds(c).rng.nextInt(AnnSubsets) else 0
      (kind, () => execute(kind, arg, f))
    }
    // warm up with the same mix on every core, so the JIT has compiled
    // the hot paths before timing; the warm-up deals from decks of its
    // own, so the timed sequence does not depend on how far it got
    Loop.closed(ctx.copy(seconds = DashboardWarmS, trace = false), tracer, ctx.cores, 1L)(mix(decks(ctx.cores, 500L)))
    Main.mark("warm")
    val c0 = calib(ctx)
    val (ops, start) = Loop.closed(ctx, tracer, 2, 1L)(mix(decks(2, 0L)))
    val traced = layers(ctx, tracer)
    val c1 = calibEnd(ctx)
    Outcome(ops, start, Map("calib" -> (c0 ++ c1), "cache_mb" -> cacheMb,
      "cache_build_s" -> cacheBuildS, "results" -> results.asScala.toMap) ++ traced)
  }

  /** Deals 0 until n in seeded shuffled rounds. */
  final class Deck(n: Int, seed: Long) {
    val rng = new scala.util.Random(seed)
    private var cards = List.empty[Int]
    def next(): Int = {
      if (cards.isEmpty) cards = rng.shuffle((0 until n).toList)
      val c = cards.head
      cards = cards.tail
      c
    }
  }

  // ---- corpus_prep ----------------------------------------------------

  def corpusPrep(ctx: Ctx, tracer: Tracer): Outcome = {
    val spark = ctx.spark
    val tables = s"${ctx.inputs}/tables"
    def prep(path: String): String = {
      val docs = Tables.documents(spark, tables)
      val cleaned = tracer.span("ext.clean_s") {
        CorpusPipeline.clean(docs, MinTokens, Seq("en"), ClusterMinEst)
      }.filter(col("doc_id") % HeldOutMod =!= 0)
        .select(col("doc_id"), col("n_tokens"), col("lang_guess"))
      val withText = cleaned.join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      val contam = tracer.span("ext.contam_s") {
        Sink.cachedEager(CorpusPipeline.contaminated(withText, "doc_id", "text",
          docs.filter(col("doc_id") % HeldOutMod === 0), minOverlap = ContamMinOverlap)
          .select(col("doc_id")))
      }
      Sink.writeParquet(cleaned.join(contam, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("n_tokens"), col("lang_guess"),
          Sampling.assignSplit(col("doc_id")).as("split")), path)
      tracer.count("sink.files", fileCount(path).toDouble)
      spark.catalog.clearCache()
      path
    }
    prep(ctx.out("warm_0"))
    val c0 = calib(ctx)
    val (ops, start) = Loop.closed(ctx, tracer, 1, ctx.items) { (_, i) =>
      ("corpus_run", () => prep(ctx.out(f"corpus_$i%03d")))
    }
    val traced = layers(ctx, tracer)
    val c1 = calibEnd(ctx)
    Outcome(ops, start, Map("calib" -> (c0 ++ c1)) ++ traced)
  }

  // ---- event_stream ---------------------------------------------------

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))
  val Lateness = "5 seconds"
  val WindowLen = "10 seconds"
  val TriggerMs = 1000L
  val StreamWarmFiles = 40
  val StreamWarmFilesPerBatch = 5

  /** dedup → enrich → windowed count and exact mean. `windowedStats`
    * cannot follow `streamingDedup` in one query: it defines its own
    * watermark, and Spark rejects a watermark downstream of a stateful
    * operator. So the window aggregate here is `windowedStats`'s own
    * (window + `Aggregates.exactMean`) on the dedup's watermark. The
    * batch twin dedups with `dropDuplicates`, since within-watermark
    * dedup exists only for streams; duplicates are full-row copies, so
    * both keep the same rows. */
  private def composeStream(deduped: DataFrame, dim: DataFrame): DataFrame =
    EventStream.enrich(deduped, dim, Seq("user_id"))
      .groupBy(window(col("ts"), WindowLen).as("w"))
      .agg(count(lit(1)).as("n"), Aggregates.exactMean(col("value")).as("avg_value"))
      .select(col("w.start").as("bucket"), col("n"), col("avg_value"))

  /** Open loop: file j (after the first, which warms the query) is due
    * at `feed0 + (j - 1) / rate`. Each file's latency
    * runs from its due time to the commit of the micro-batch that holds
    * it; files enter the source whole (atomic rename) and in order, so
    * file j is committed by the first batch whose cumulative input rows
    * reach the rows of files 0..j. */
  def eventStream(ctx: Ctx, tracer: Tracer, rate: Double, warmS: Double): Outcome = {
    val spark = ctx.spark
    val src = new File(s"${ctx.work}/stream/main/src"); src.mkdirs()
    val sink = s"${ctx.work}/stream/main/sink"
    val staged = Option(new File(s"${ctx.inputs}/staged").listFiles).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val dim = spark.read.parquet(s"${ctx.inputs}/tables/users.parquet")
    def start(name: String, filesPerBatch: Option[Int]): org.apache.spark.sql.streaming.StreamingQuery = {
      val dir = s"${ctx.work}/stream/$name"
      val reader = filesPerBatch.foldLeft(spark.readStream.schema(EventSchema))(
        (r, n) => r.option("maxFilesPerTrigger", n.toLong))
      composeStream(EventStream.streamingDedup(reader.parquet(s"$dir/src"), Seq("event_id"), Lateness), dim)
        .writeStream.format("parquet")
        .option("path", s"$dir/sink").option("checkpointLocation", s"$dir/ck")
        .outputMode("append").trigger(Trigger.ProcessingTime(TriggerMs)).start()
    }
    // JIT warm-up: copies of the query, one per core but one, each
    // draining copies of the first staged files a few per batch, back
    // to back; a single query at the offered rate runs too few batches
    // to warm the JVM within set-up
    val warm = (0 until math.max(1, ctx.cores - 1)).map { k =>
      val wsrc = new File(s"${ctx.work}/stream/warm$k/src"); wsrc.mkdirs()
      staged.take(StreamWarmFiles).foreach(f => Files.copy(f.toPath, Paths.get(wsrc.getPath, f.getName)))
      start(s"warm$k", Some(StreamWarmFilesPerBatch))
    }
    val warmEnd = System.currentTimeMillis() + 90000
    while (warm.exists(w => w.recentProgress.map(_.numInputRows).sum < StreamWarmFiles * ctx.items) &&
      System.currentTimeMillis() < warmEnd) Thread.sleep(50)
    warm.foreach(_.stop())
    Main.mark("warm")
    val q = start("main", None)
    val nWarm = (rate * warmS).round.toInt
    val nTimed = (rate * ctx.seconds).round.toInt
    require(staged.length >= nWarm + nTimed, s"need ${nWarm + nTimed} staged files, have ${staged.length}")
    val perFile = ctx.items
    def committedRows(): Long = q.recentProgress.map(_.numInputRows).sum
    def awaitRows(n: Long, timeoutMs: Long): Boolean = {
      val end = System.currentTimeMillis() + timeoutMs
      while (committedRows() < n && System.currentTimeMillis() < end && q.isActive) Thread.sleep(20)
      committedRows() >= n
    }
    def drop(f: File): Unit =
      Files.move(f.toPath, Paths.get(src.getPath, f.getName), StandardCopyOption.ATOMIC_MOVE)
    // first batch plans and compiles the whole query before timing starts
    drop(staged(0))
    awaitRows(perFile, 60000)
    val c0 = calib(ctx)
    val interval = 1000.0 / rate
    val feed0 = System.currentTimeMillis() + 100.0
    val fed = 1 until nWarm + nTimed
    val due = mutable.Map.empty[Int, Double]
    var late = 0.0
    val tracedFrom = if (ctx.trace) nWarm + nTimed / 2 else Int.MaxValue
    for (j <- fed) {
      val d = feed0 + (j - 1) * interval
      val wait = d - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      if (j == tracedFrom) tracer.start()
      drop(staged(j))
      due(j) = d
      if (j >= nWarm) late = math.max(late, System.currentTimeMillis() - d)
    }
    val total = (nWarm + nTimed) * perFile
    val allIn = awaitRows(total, 60000)
    val extra = layers(ctx, tracer)
    val c1 = calibEnd(ctx)
    // flush: a far-future sentinel advances the watermark; the no-data
    // batch after it emits every remaining window
    val sentinel = new File(s"${ctx.inputs}/sentinel.parquet")
    Files.move(sentinel.toPath, Paths.get(src.getPath, "zz-sentinel.parquet"),
      StandardCopyOption.ATOMIC_MOVE)
    awaitRows(total + 1, 60000)
    val sentinelBatch = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).max
    val flushEnd = System.currentTimeMillis() + 30000
    while (q.recentProgress.map(_.batchId).max <= sentinelBatch &&
      System.currentTimeMillis() < flushEnd && q.isActive) Thread.sleep(20)
    val progress = q.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId)
    q.stop()
    // the live heap once the query has stopped: it still holds the
    // stream's state stores but no running batch's rows, which made a
    // reading taken before timing vary by a sixth from run to run
    val heapMb = liveHeapMb()
    val commits = {
      var cum = 0L
      progress.map { p =>
        cum += p.numInputRows
        (cum, java.time.Instant.parse(p.timestamp).toEpochMilli +
          p.durationMs.getOrDefault("triggerExecution", 0L).toLong)
      }
    }
    val batchTwin = composeStream(
      spark.read.schema(EventSchema).parquet(staged.take(nWarm + nTimed)
        .map(f => s"${src.getPath}/${f.getName}").toIndexedSeq: _*).dropDuplicates("event_id"), dim)
    val sinkDf = spark.read.parquet(sink)
    val twinRows = batchTwin.count()
    val sinkMatches = twinRows > 0 && sinkDf.count() == twinRows &&
      sinkDf.exceptAll(batchTwin).isEmpty && batchTwin.exceptAll(sinkDf).isEmpty
    val ops = (nWarm until nWarm + nTimed).map { j =>
      val need = (j + 1) * perFile
      val commit = commits.find(_._1 >= need).map(_._2.toDouble)
      val d = due(j)
      Op("event_file", d, commit.map(_ - d).getOrElse(Double.NaN),
        ok = commit.isDefined && sinkMatches, perFile, "stream", j >= tracedFrom,
        if (commit.isEmpty) "never committed" else if (!sinkMatches) "sink differs from batch twin" else "")
    }
    Outcome(ops, feed0.toLong + ((nWarm - 1) * interval).toLong,
      Map("calib" -> (c0.updated(2, heapMb) ++ c1), "gen_late_ms" -> late, "all_committed" -> allIn,
        "sink_windows" -> twinRows, "sink_matches" -> sinkMatches) ++ extra)
  }
}
