package sinkbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.functions.StrictConvert
import graft.sink.{QuarantineLedger, SinkConfig, TwoPhaseParquetSink, WriteMode}
import graft.streaming.StreamPipeline

/** One run of one workload in this JVM (see README.md in this directory).
  *
  *   Main --workload W --work DIR --seconds N --trace 0|1 --launch-ms T
  *        [--corpus DIR]
  *
  * Reads the generator's `DIR/input/plan.json`, sets up (five times, the
  * first from JVM launch), measures for about N seconds (on the backlog
  * workloads, the number of drains the plan names), and writes
  * `DIR/result.json`: end-to-end metrics measured here, plus what the
  * checker needs (drain directories, due times). With `--trace 1` it also
  * records spans and listener counters and writes `DIR/trace.json`.
  */
object Main {
  val mapper = new ObjectMapper()
  val Cores: Int = Runtime.getRuntime.availableProcessors()

  /** FIXTURES F1 / F2 value schemas (as parsed) and destination schemas. */
  val F1Target: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("int_value", LongType, nullable = false)))
  val F2Target: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("int_value", LongType, nullable = false),
    StructField("double_value", DoubleType, nullable = false),
    StructField("boolean_value", BooleanType, nullable = false),
    StructField("array_value", ArrayType(StringType), nullable = false),
    StructField("map_value", MapType(StringType, IntegerType), nullable = false),
    StructField("struct_value", StructType(Seq(
      StructField("inner1", StringType, nullable = false),
      StructField("inner2", BooleanType, nullable = false))), nullable = false),
    StructField("optional_array_value", ArrayType(StringType), nullable = true)))
  def relaxed(t: StructType): StructType =
    StructType(t.fields.map(_.copy(nullable = true)))

  /** The curation query set, run in this order, once each. */
  val CurateQueries: Seq[String] = Seq(
    "q95_incremental_dedup", "q26_minhash_lsh", "q27_simhash",
    "q118_prefix_filter_join", "q210_source_sketch_jaccard", "q37_lang_id",
    "q42_ivf_ann", "q428_seed_bfs")
  val WarmupQuery = "q02_revenue_by_nation"

  final case class Args(workload: String, work: Path, seconds: Int, trace: Boolean,
                        launchMs: Long, corpus: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), Paths.get(m("work")).toAbsolutePath, m("seconds").toInt,
         m.get("trace").contains("1"), m("launch-ms").toLong, m.getOrElse("corpus", ""))
  }

  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("sinkbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val plan = mapper.readTree(args.work.resolve("input/plan.json").toFile)
    val run = new Run(args, plan)
    val code = try { run.execute(); 0 }
    catch { case e: Throwable => e.printStackTrace(); 1 }
    finally SparkSession.getActiveSession.foreach(_.stop())
    System.exit(code)
  }

  def listDir(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else Using.resource(Files.list(p))(_.iterator().asScala.toSeq.sortBy(_.toString))

  /** Parquet files under `dir`: how many, and their bytes. */
  def parquetFiles(dir: Path): (Long, Long) =
    if (!Files.isDirectory(dir)) (0L, 0L)
    else Using.resource(Files.walk(dir)) { s =>
      val fs = s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    }

  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
}

/** Directories of one backlog drain (or of the whole trickle run). */
final case class Drain(root: Path) {
  val out: Path = root.resolve("out")
  val dlq: Path = root.resolve("dlq")
  val ckpt: Path = root.resolve("ckpt")
  val ledger: Path = root.resolve("ledger")
}

final class Run(args: Main.Args, plan: JsonNode) {
  import Main._
  import Stats._

  private val tracer = new Tracer(args.trace)
  private val listener = new LayerListener
  private var spark: SparkSession = _
  private val input = args.work.resolve("input")
  private val kind = plan.get("kind").asText
  private val filesPerTrigger =
    if (plan.has("files_per_trigger")) plan.get("files_per_trigger").asInt else 1000
  private val target = if (kind == "f2") F2Target else F1Target
  private val valueSchema = relaxed(target)
  private val poison: Set[(Int, Long)] = plan.get("poison").elements().asScala
    .map(n => (n.get("partition").asInt, n.get("offset").asLong)).toSet
  private val poisonError = plan.get("poison_error").asText

  // end-to-end figures, written to result.json
  private val e2e = mutable.LinkedHashMap.empty[String, Double]
  private val result = mapper.createObjectNode()
  private val layers = mutable.LinkedHashMap.empty[String, Double]

  private var seq = 0
  private def fresh(name: String): Drain = {
    seq += 1
    val d = Drain(args.work.resolve(f"$name-$seq%03d"))
    Files.createDirectories(d.root)
    d
  }

  private def newSession(): Unit = {
    spark = session()
    if (args.trace) spark.sparkContext.addSparkListener(listener)
  }

  def execute(): Unit = {
    val phases = result.putObject("phases_s")
    phases.put("setup", sec(timed(setup())._2))
    phases.put("workload", sec(timed(args.workload match {
      case "bulk_rich" | "dirty_replay" => backlog()
      case "trickle_pending" => trickle()
      case "curate_batch" => curate()
    })._2))
    e2e("peak_rss_mb") = vmHwmMb() // before the traced run's layer sweep
    if (args.trace) phases.put("traced", sec(timed(traced())._2))
    val m = result.putObject("metrics")
    e2e.foreach { case (k, v) => m.put(k, v) }
    mapper.writerWithDefaultPrettyPrinter()
      .writeValue(args.work.resolve("result.json").toFile, result)
  }

  // ---------------------------------------------------------------- setup

  /** Five set-ups: JVM launch → first warm-up done, then four times a
    * fresh session with a fresh warm-up. `setup_s` is their median. With
    * three, the median was the slower of two warm set-ups, and it spread
    * 0.25 over five trickle_pending runs. */
  private def setup(): Unit = {
    val times = mutable.ArrayBuffer.empty[Double]
    val restarts = mutable.ArrayBuffer.empty[Double]
    tracer.trace = s"${args.workload}/setup"
    tracer.span("setup") { newSession(); warmup() }
    times += (nowMs() - args.launchMs) / 1000.0
    for (_ <- 1 to 4) {
      spark.stop()
      val (_, ns) = timed(tracer.span("setup") { newSession(); warmup() })
      times += sec(ns); restarts += sec(ns)
    }
    e2e("setup_s") = median(times.toSeq)
    val samples = result.putArray("setup_samples_s")
    times.foreach(t => samples.add(t))
    if (args.workload == "curate_batch") e2e("recovery_s_p50") = median(restarts.toSeq)
  }

  private def warmup(): Unit =
    if (args.workload == "curate_batch") {
      SparkEntry.queries(WarmupQuery)(spark, args.corpus).write.format("noop").mode("overwrite").save()
      graft.ops.Caches.clear()
    } else {
      // one input file through the same pipeline shape, in its own dirs
      val d = fresh("warmup")
      val src = d.root.resolve("src")
      Files.createDirectories(src)
      val first = plan.get("file_names").get(0).asText
      val from = if (args.workload == "trickle_pending") input.resolve("staged") else input.resolve("backlog")
      Files.copy(from.resolve(first), src.resolve(first))
      val mode = if (args.workload == "trickle_pending") WriteMode.Pending else WriteMode.Committed
      val (q, sink, _) = startQuery(src, d, mode, _ => Seq.empty)
      q.awaitTermination()
      sink.commit()
      sink.read(spark).write.format("noop").mode("overwrite").save()
    }

  // ------------------------------------------------------------- pipeline

  private def source(dir: Path): DataFrame =
    spark.readStream.schema(StreamPipeline.EnvelopeSchema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .json(dir.toString)

  private val startCalls = mutable.Map.empty[java.util.UUID, Long] // by runId
  private def startQuery(src: Path, d: Drain, mode: WriteMode,
                         check: DataFrame => Seq[(String, Int, Long, String)])
      : (StreamingQuery, TwoPhaseParquetSink, TwoPhaseParquetSink) = {
    val t = nowMs()
    val started = tracer.span("pipeline.start") {
      StreamPipeline.start(source(src), valueSchema, target,
        SinkConfig(d.out.toString, mode), d.dlq.toString, d.ckpt.toString,
        Some(d.ledger.toString), check)
    }
    startCalls(started._1.runId) = t
    loopQueries += started._1
    started
  }

  /** Listener counters and wall time of the measured loop. */
  private var window: (Map[String, Long], Long) = (Map.empty, 0L)
  private val loopQueries = mutable.ArrayBuffer.empty[StreamingQuery]
  /** Envelope rows the measured loop consumed. (A batch's numInputRows
    * counts its source rows once per Spark action on the batch, so it
    * over-counts under foreachBatch.) */
  private var loopRows = 0L
  private def measured[T](body: => T): T = {
    loopQueries.clear()
    val before = listener.snapshot()
    val (r, ns) = timed(body)
    val after = listener.snapshot()
    window = (after.map { case (k, v) => k -> (v - before(k)) }, ns)
    r
  }

  /** The remote append's row-level response: rejects the seeded poison
    * rows that reach an append. Quarantined rows never reach it again. */
  private val rejections = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  @volatile private var drainSpan = -1
  private def appendCheck(df: DataFrame): Seq[(String, Int, Long, String)] =
    if (poison.isEmpty) Seq.empty
    else tracer.span("pipeline.appendCheck", drainSpan) {
      val hit = df.filter(col("offset").isin(poison.map(_._2).toSeq.distinct: _*))
        .select("topic", "partition", "offset").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
        .filter { case (_, p, o) => poison.contains((p, o)) }
        .map { case (t, p, o) => (t, p, o, poisonError) }.toSeq
      if (hit.nonEmpty) rejections.add(nowMs())
      hit
    }

  /** Drains `src` into `d` until the query ends, restarting it on the same
    * checkpoint after each injected rejection; returns every query run. */
  private def drain(src: Path, d: Drain): Seq[StreamingQuery] = {
    val queries = mutable.ArrayBuffer.empty[StreamingQuery]
    tracer.span("drain") {
      drainSpan = tracer.current
      var q = startQuery(src, d, WriteMode.Committed, appendCheck)._1
      queries += q
      var done = false
      while (!done) {
        try { tracer.span("pipeline.awaitTermination")(q.awaitTermination()); done = true }
        catch {
          // only the injected rejection restarts the query; anything
          // else is a failure of the program and ends the run
          case e: StreamingQueryException if rejectedRows(e) && queries.size <= poison.size =>
            q = startQuery(src, d, WriteMode.Committed, appendCheck)._1
            queries += q
        }
      }
    }
    queries.toSeq
  }

  /** Untimed drains of the whole backlog before the measured loop, each in
    * directories of its own. A JVM's first drains run slower while the JIT
    * compiles, and how long that lasts varies from JVM to JVM (bulk_rich
    * with a 24-file backlog, 4 cores: 7.7, 7.4, then 6.6-6.9 s a drain in
    * one JVM; 6.9-7.0 s from the first drain on in another). After a
    * warm-up of half a drain, the first measured drain set the run-to-run
    * spread. */
  private def warmDrains(src: Path): Unit =
    for (_ <- 1 to plan.get("warm_drains").asInt) {
      tracer.trace = s"${args.workload}/warm"
      drain(src, fresh("warm"))
    }

  private def rejectedRows(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[graft.sink.AppendRowsException])

  private def commitMarkers(sinkRoot: Path): Map[Long, Long] =
    listDir(sinkRoot.resolve("_commits")).map(p =>
      p.getFileName.toString.toLong -> Files.getLastModifiedTime(p).toMillis).toMap

  /** Closed loop: drain the whole backlog in fresh directories, a planned
    * number of times. */
  private def backlog(): Unit = {
    val src = input.resolve("backlog")
    val totalRows = plan.get("files").asLong * plan.get("rows_per_file").asLong
    val drains = mutable.ArrayBuffer.empty[ObjectNode]
    val drainDirs = mutable.ArrayBuffer.empty[Drain]
    val drainS, rate, batch, recovery, startToCommit = mutable.ArrayBuffer.empty[Double]
    var restarts, replayed = 0L
    var lastDrain: Drain = null
    var gapMs = 0.0
    warmDrains(src)
    var lastEnd = System.nanoTime()
    // a fixed number of drains, planned from --seconds (see gen.py)
    measured { for (k <- 1 to plan.get("drains").asInt) {
      tracer.trace = s"${args.workload}/drain-$k"
      val d = fresh("drain")
      gapMs = math.max(gapMs, ms(System.nanoTime() - lastEnd))
      rejections.clear()
      val t0Ms = nowMs()
      val t0 = System.nanoTime()
      val queries = drain(src, d)
      restarts += queries.size - 1
      val wall = System.nanoTime() - t0
      lastEnd = System.nanoTime()
      // off the clock: batch durations, recovery times, due/commit times
      val progress = queries.flatMap(_.recentProgress).filter(_.numInputRows > 0)
      // per drain, then the median over drains: a dirty_replay drain has
      // one plain and one replayed batch, and a median over all batches
      // of the run would jump between the two kinds
      batch += median(progress.map(_.durationMs.get("triggerExecution").toDouble / 1000.0))
      val dataCommits = commitMarkers(d.out)
      val dlqCommits = commitMarkers(d.dlq)
      if (rejections.isEmpty)
        dataCommits.values.minOption.foreach(c => startToCommit += (c - t0Ms) / 1000.0)
      // each rejection is followed by exactly one restart whose first batch
      // replays the rejected one: ledger file batch-<id>.csv names it
      val rejected = listDir(d.ledger).map(_.getFileName.toString)
        .filter(_.endsWith(".csv")).map(_.stripPrefix("batch-").stripSuffix(".csv").toLong).sorted
      replayed += rejected.size
      rejected.zip(rejections.asScala.toSeq.map(_.longValue)).foreach { case (id, tRej) =>
        dlqCommits.get(id).foreach(c => recovery += (c - tRej) / 1000.0)
      }
      drainS += sec(wall)
      rate += totalRows / sec(wall)
      val dn = mapper.createObjectNode()
      dn.put("dir", args.work.relativize(d.root).toString)
      dn.put("due_ms", t0Ms)
      dn.put("wall_s", sec(wall))
      drains += dn
      drainDirs += d
      lastDrain = d
    }}
    val arr = result.putArray("drains")
    drains.foreach(arr.add)
    loopRows = drains.size * totalRows
    e2e("job_s") = median(drainS.toSeq)
    e2e("ingest_rows_per_s") = median(rate.toSeq)
    e2e("batch_s_p50") = median(batch.toSeq)
    e2e("recovery_s_p50") =
      if (recovery.nonEmpty) median(recovery.toSeq) else median(startToCommit.toSeq)
    readback(lastDrain)
    layoutOf(drainDirs.flatMap(d => Seq(d.out.resolve("data"), d.dlq.resolve("data"))).toSeq,
             loopRows)
    layers("stream.restarts") = restarts.toDouble
    layers("stream.replayed_batches") = replayed.toDouble
    layers("gen.lag_ms_max") = gapMs
    sampleFiles = plan.get("file_names").elements().asScala.take(filesPerTrigger)
      .map(n => src.resolve(n.asText)).toSeq
    sampleDrain = lastDrain
  }

  /** Open loop: a generator thread publishes one staged file every
    * `interval_ms`; the pipeline drains back to back in pending mode and
    * commits after each drain. */
  private def trickle(): Unit = {
    val staged = input.resolve("staged")
    val names = plan.get("file_names").elements().asScala.map(_.asText).toIndexedSeq
    val intervalMs = plan.get("interval_ms").asLong
    val rowsPerFile = plan.get("rows_per_file").asLong
    val d = fresh("trickle")
    val src = d.root.resolve("src")
    Files.createDirectories(src)
    warmCycles(staged, names.take(3))
    tracer.trace = s"${args.workload}/run"
    val g0 = nowMs() + 50
    val endMs = g0 + args.seconds * 1000L
    @volatile var moved = 0
    @volatile var lagMax = 0L
    val gen = new Thread(() => {
      var i = 0
      while (i < names.size && g0 + i * intervalMs < endMs) {
        val due = g0 + i * intervalMs
        val wait = due - nowMs()
        if (wait > 0) Thread.sleep(wait)
        val to = src.resolve(names(i))
        Files.move(staged.resolve(names(i)), to, StandardCopyOption.ATOMIC_MOVE)
        Files.setLastModifiedTime(to, FileTime.fromMillis(nowMs()))
        lagMax = math.max(lagMax, nowMs() - due)
        i += 1
        moved = i
      }
    }, "sinkbench-generator")
    gen.setDaemon(true)
    gen.start()
    val cycles, startToCommit = mutable.ArrayBuffer.empty[Double]
    var earlyVisible = 0
    var visible = listDir(d.out.resolve("data")).map(_.getFileName.toString)
    var lastEnd = System.nanoTime()
    var gapMs = 0.0
    def cycle(): Unit = {
      gapMs = math.max(gapMs, ms(System.nanoTime() - lastEnd))
      val t0 = System.nanoTime()
      val (q, sink, _) = startQuery(src, d, WriteMode.Pending, _ => Seq.empty)
      tracer.span("pipeline.awaitTermination")(q.awaitTermination())
      // pending mode: nothing new may be visible before commit()
      if (listDir(d.out.resolve("data")).map(_.getFileName.toString) != visible) earlyVisible += 1
      tracer.span("sink.commit")(sink.commit())
      visible = listDir(d.out.resolve("data")).map(_.getFileName.toString)
      lastEnd = System.nanoTime()
      cycles += sec(lastEnd - t0)
      if (q.recentProgress.exists(_.numInputRows > 0)) startToCommit += sec(lastEnd - t0)
    }
    val t0 = System.nanoTime()
    measured {
      while (nowMs() < endMs) tracer.span("cycle")(cycle())
      gen.join()
      tracer.span("cycle")(cycle()) // publish what arrived during the last cycle
    }
    val wall = System.nanoTime() - t0
    val rows = moved * rowsPerFile
    loopRows = rows
    val batch = loopQueries.flatMap(_.recentProgress).filter(_.numInputRows > 0)
      .map(_.durationMs.get("triggerExecution").toDouble / 1000.0)
    e2e("job_s") = median(cycles.toSeq)
    e2e("ingest_rows_per_s") = rows / sec(wall)
    e2e("batch_s_p50") = median(batch.toSeq)
    e2e("recovery_s_p50") = median(startToCommit.toSeq)
    result.put("interval_ms", intervalMs)
    result.put("files_offered", moved)
    result.put("early_visible", earlyVisible)
    val arr = result.putArray("drains")
    arr.addObject().put("dir", args.work.relativize(d.root).toString).put("due_ms", g0)
    readback(d)
    layoutOf(Seq(d.out.resolve("data"), d.dlq.resolve("data")), rows)
    layers("stream.restarts") = 0
    layers("stream.replayed_batches") = 0
    layers("gen.lag_ms_max") = lagMax.toDouble
    sampleFiles = names.take(math.min(moved, 8)).map(src.resolve)
    sampleDrain = d
  }

  /** Three untimed pending-mode cycles of one file each, in directories
    * of their own, before the measured loop (see [[warmDrains]]). */
  private def warmCycles(staged: Path, files: Seq[String]): Unit = {
    tracer.trace = s"${args.workload}/warm"
    val d = fresh("warm")
    val src = d.root.resolve("src")
    Files.createDirectories(src)
    files.foreach { n =>
      Files.copy(staged.resolve(n), src.resolve(n))
      val (q, sink, _) = startQuery(src, d, WriteMode.Pending, _ => Seq.empty)
      q.awaitTermination()
      sink.commit()
    }
  }

  /** Both legs read back and materialised: one untimed read, then one
    * timed read. The heap is collected first, so the loop's garbage does
    * not land its GC pauses on these short reads. (`readback_s` is not
    * gated, so it gets no median: a run's time goes to the gated figures.) */
  private def readback(d: Drain): Unit = {
    def once(): Long = timed(tracer.span("readback") {
      val data = new TwoPhaseParquetSink(SinkConfig(d.out.toString))
      val dlq = new TwoPhaseParquetSink(SinkConfig(d.dlq.toString))
      tracer.span("sink.read")(data.read(spark)).write.format("noop").mode("overwrite").save()
      tracer.span("sink.read")(dlq.read(spark)).write.format("noop").mode("overwrite").save()
    })._2
    System.gc()
    once()
    e2e("readback_s") = sec(once())
  }

  /** The landed layout: parquet files and bytes under `dirs`, per row. */
  private def layoutOf(dirs: Seq[Path], rows: Long): Unit = {
    val (files, bytes) = dirs.map(parquetFiles)
      .foldLeft((0L, 0L)) { case ((f, b), (f2, b2)) => (f + f2, b + b2) }
    e2e("files_per_mrow") = files * 1e6 / rows
    e2e("bytes_per_row") = bytes.toDouble / rows
    layers("sink.files_written") = files.toDouble
    layers("sink.bytes_written") = bytes.toDouble
  }

  // --------------------------------------------------------------- curate

  /** The curation query set, once each, materialised through `noop`;
    * returns per-query seconds and completion times since the start (ms). */
  private def opsQueries(): (Seq[Double], Seq[Double], Double) = {
    val per, done = mutable.ArrayBuffer.empty[Double]
    var gapMs = 0.0
    val t0 = System.nanoTime()
    var lastEnd = t0
    tracer.span("job") {
      CurateQueries.foreach { q =>
        gapMs = math.max(gapMs, ms(System.nanoTime() - lastEnd))
        listener.resetCachedPeak()
        spark.sparkContext.setJobGroup(q, q)
        val (_, ns) = timed(tracer.span(s"ops.$q") {
          SparkEntry.queries(q)(spark, args.corpus).write.format("noop").mode("overwrite").save()
        })
        spark.sparkContext.clearJobGroup()
        graft.ops.Caches.clear()
        lastEnd = System.nanoTime()
        per += sec(ns)
        done += ms(lastEnd - t0)
        layers(s"ops.$q.s") = sec(ns)
        layers("ops.cached_bytes_peak") =
          math.max(layers.getOrElse("ops.cached_bytes_peak", 0.0), listener.cachedPeak.get.toDouble)
      }
    }
    (per.toSeq, done.toSeq, gapMs)
  }

  private def curate(): Unit = {
    tracer.trace = s"${args.workload}/job"
    val t0 = System.nanoTime()
    val (per, done, gapMs) = measured(opsQueries())
    val wall = System.nanoTime() - t0
    e2e("job_s") = sec(wall)
    // corpus rows the query set runs over, per second of the job
    val corpusRows = listDir(Paths.get(args.corpus)).filter(_.toString.endsWith(".parquet"))
      .map(t => spark.read.parquet(t.toString).count()).sum
    e2e("ingest_rows_per_s") = corpusRows / sec(wall)
    e2e("batch_s_p50") = median(per)
    e2e("freshness_ms_p50") = median(done)
    e2e("freshness_ms_p99") = quantile(done, 0.99)
    // off the clock: results for the oracle compare, then their read-back
    val res = args.work.resolve("results")
    CurateQueries.foreach { q =>
      SparkEntry.queries(q)(spark, args.corpus).coalesce(1).write.mode("overwrite")
        .parquet(res.resolve(q).toString)
      graft.ops.Caches.clear()
    }
    val oracle = result.putObject("oracle_sql")
    CurateQueries.foreach(q => oracle.put(q, SparkEntry.oracleSql(q)))
    val reads = (1 to 3).map(_ => sec(timed(CurateQueries.foreach(q =>
      spark.read.parquet(res.resolve(q).toString).write.format("noop").mode("overwrite").save()))._2))
    e2e("readback_s") = median(reads)
    layoutOf(Seq(res), CurateQueries.map(q => spark.read.parquet(res.resolve(q).toString).count()).sum)
    layers("stream.restarts") = 0
    layers("stream.replayed_batches") = 0
    layers("gen.lag_ms_max") = gapMs
  }

  // --------------------------------------------------------------- traced

  /** Envelope files of one micro-batch, for the static per-layer replays. */
  private var sampleFiles: Seq[Path] = Nil
  private var sampleDrain: Drain = _

  /** Per-layer metrics of a traced run; writes them with the spans. */
  private def traced(): Unit = {
    tracer.trace = s"${args.workload}/layers"
    val (counts, wallNs) = window
    val streamCounts =
      if (args.workload != "curate_batch") {
        opsQueries() // the ops layer, which the pipeline never enters
        counts
      } else {
        // the job runs no stream: drain the sample batch once instead
        val d = fresh("sweep")
        val files = plan.get("file_names").elements().asScala.map(n => input.resolve("backlog").resolve(n.asText)).toSeq
        sampleFiles = files.take(filesPerTrigger)
        measured(startQuery(input.resolve("backlog"), d, WriteMode.Committed, _ => Seq.empty)._1.awaitTermination())
        loopRows = plan.get("files").asLong * plan.get("rows_per_file").asLong
        sampleDrain = d
        window._1
      }
    streamLayers(streamCounts)
    layers("spark.core_busy_share") = counts("run_ms") * 1e6 / (wallNs.toDouble * Cores)
    layers("spark.gc_s") = counts("gc_ms") / 1000.0
    layers("spark.shuffle_bytes") = counts("shuffle").toDouble
    layers("spark.spill_bytes") = counts("spill").toDouble
    CurateQueries.foreach(q => layers(s"ops.$q.shuffle_bytes") =
      Option(listener.groupShuffle.get(q)).map(_.get.toDouble).getOrElse(0.0))
    staticReplays()

    val out = mapper.createObjectNode()
    out.put("workload", args.workload)
    val pl = out.putObject("per_layer")
    layers.foreach { case (k, v) => pl.putArray(k).add(v).add(unitOf(k)) }
    val self = out.putArray("self_time")
    tracer.summary.foreach { case (n, c, total, selfS) =>
      self.addObject().put("name", n).put("count", c).put("total_s", total).put("self_s", selfS)
    }
    val spans = out.putArray("spans")
    tracer.spanList.foreach { sp =>
      spans.addObject().put("id", sp.id).put("parent", sp.parent).put("trace", sp.trace)
        .put("name", sp.name).put("start_ns", sp.startNs).put("end_ns", sp.endNs)
    }
    mapper.writeValue(args.work.resolve("trace.json").toFile, out)
  }

  private def unitOf(k: String): String =
    if (k.endsWith("_ms") || k.endsWith("_ms_max")) "ms"
    else if (k.endsWith(".s") || k.endsWith("_s")) "s"
    else if (k.endsWith("bytes") || k.endsWith("bytes_written") || k.endsWith("_peak")) "B"
    else if (k.endsWith("share") || k.endsWith("passes") || k.endsWith("per_batch")) "ratio"
    else "count"

  /** stream.* from the progress of every query of the measured loop. */
  private def streamLayers(counts: Map[String, Long]): Unit = {
    val progress = loopQueries.toSeq.flatMap(_.recentProgress)
    val data = progress.filter(_.numInputRows > 0)
    def dur(key: String) = median(data.map(p => Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)))
    layers("stream.query_start_ms") = median(loopQueries.toSeq.flatMap { q =>
      q.recentProgress.headOption.map(p =>
        (java.time.Instant.parse(p.timestamp).toEpochMilli - startCalls(q.runId)).toDouble)
    })
    layers("stream.latest_offset_ms") = dur("latestOffset")
    layers("stream.planning_ms") = dur("queryPlanning")
    layers("stream.wal_commit_ms") = dur("walCommit")
    layers("stream.commit_offsets_ms") = dur("commitOffsets")
    layers("stream.add_batch_ms") = dur("addBatch")
    val batches = data.size.toDouble
    val rows = loopRows.toDouble
    layers("stream.batches") = batches
    layers("stream.input_rows") = rows
    layers("stream.scan_passes") = counts("records") / math.max(1.0, rows)
    layers("spark.jobs_per_batch") = counts("jobs") / math.max(1.0, batches)
    layers("spark.tasks_per_batch") = counts("tasks") / math.max(1.0, batches)
  }

  /** Each layer timed alone on a static copy of one sampled micro-batch
    * (median of three), plus the sink and ledger calls on scratch dirs. */
  private def staticReplays(): Unit = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def med3(name: String)(body: => Unit): Double =
      median((1 to 3).map(_ => sec(timed(tracer.span(name)(body))._2)))
    val raw = spark.read.schema(StreamPipeline.EnvelopeSchema)
      .json(sampleFiles.map(_.toString): _*).persist()
    raw.count()
    layers("decode.s") = med3("decode")(noop(StreamPipeline.decode(raw, valueSchema)))
    val decoded = StreamPipeline.decode(raw, valueSchema).persist()
    decoded.count()
    val payload = struct(target.fields.map(f => col(s"payload.${f.name}")).toIndexedSeq: _*)
    layers("convert.s") = med3("convert")(
      noop(decoded.select(StrictConvert.convert_error_as(payload, target))))
    val (good, dlq) = StreamPipeline.validationSplit(decoded, target)
    layers("validate.good_leg_s") = med3("validate.good_leg")(noop(good))
    layers("validate.dlq_leg_s") = med3("validate.dlq_leg")(noop(dlq))
    val flat = good.select((Seq(col("topic"), col("partition"), col("offset")) ++
      target.fields.map(f => col(s"payload.${f.name}").as(f.name))): _*).persist()
    flat.count()
    val d = fresh("static")
    val sink = new TwoPhaseParquetSink(SinkConfig(d.out.toString, WriteMode.Pending))
    layers("sink.write_batch_s") = median((0 until 3).map(i =>
      sec(timed(tracer.span("sink.writeBatch")(sink.writeBatch(flat, i)))._2)))
    layers("sink.commit_s") = sec(timed(tracer.span("sink.commit")(sink.commit()))._2)
    layers("sink.read_s") = med3("sink.read")(noop(sink.read(spark)))
    // the ledger: the run's own quarantine entries (none without rejections)
    // are loaded; appends go to a scratch ledger
    val real = new QuarantineLedger(sampleDrain.ledger.toString)
    layers("ledger.load_s") = med3("ledger.load")(real.load())
    layers("ledger.entries") = real.load().size.toDouble
    val entries = flat.select("topic", "partition", "offset").limit(64).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), poisonError)).toSeq
    val scratch = new QuarantineLedger(d.ledger.toString)
    layers("ledger.append_s") = median((0 until 3).map(i =>
      sec(timed(tracer.span("ledger.append")(scratch.append(i, entries)))._2)))
    Seq(flat, decoded, raw).foreach(_.unpersist())
  }
}
