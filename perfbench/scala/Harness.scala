package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.Registry
import graft.sources.Tables
import graft.streaming.StreamingOps

/** The JVM side of the benchmark. It times calls into the engine's public
  * entry points -- `Registry.queries`, `Tables` and `StreamingOps` -- and
  * writes every sample, failure and (when tracing) span to one JSON file.
  * Statistics and the correctness verdict are computed by `run.py`.
  *
  * Usage: `perfbench.Harness <plan.json> <result.json>`; run.py writes the
  * plan. One timed query operation is `fn(spark, dir)` (the builder, with
  * its eager probe and checkpoint jobs) followed by `collect()` of the full
  * result; the collected rows are digested after the clock stops. Nothing
  * is retried and every sample is written.
  */
object Harness {

  /** Untimed set-up query: the last step of graft.Bench's warm-up, so the
    * first timed operation does not absorb the input's first file listing. */
  val WarmupQuery = "q01_pricing_summary"

  private val epochBaseUs = System.currentTimeMillis() * 1000L
  private val nanoBase = System.nanoTime()
  /** Epoch microseconds on the monotonic clock, comparable with listener
    * timestamps (epoch milliseconds). */
  def nowUs(): Long = epochBaseUs + (System.nanoTime() - nanoBase) / 1000L

  /** Exits 0 after writing the result. A throwable that escapes the timed
    * operations' own failure accounting -- a failed warm-up, a fatal JVM
    * error -- ends the JVM with exit code 1 and no result file. */
  def main(args: Array[String]): Unit =
    try { run(args); System.exit(0) }
    catch { case t: Throwable =>
      t.printStackTrace()
      System.err.flush()
      Runtime.getRuntime.halt(1)
    }

  private def run(args: Array[String]): Unit = {
    val plan = new ObjectMapper().readTree(new String(
      Files.readAllBytes(Paths.get(args(0))), StandardCharsets.UTF_8))
    val cores = plan.get("cores").asInt()
    val trace = plan.get("trace").asBoolean()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", plan.get("tmp_dir").asText())
      .config("spark.sql.warehouse.dir", plan.get("tmp_dir").asText() + "/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", plan.get("tmp_dir").asText() + "/hadoop")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(trace)
    if (trace) rec.attach(spark)
    val out = scala.collection.mutable.LinkedHashMap[String, Any]()
    val wl = plan.get("workload").asText()
    val inputs = plan.get("inputs").asText()

    Registry.queries(WarmupQuery)(spark, inputs).collect()
    val setupS = (nowUs() - ManagementFactory.getRuntimeMXBean.getStartTime * 1000L) / 1e6
    out("setup_s") = setupS
    rec.resetPeaks()

    if (wl == "speed_layer") new SpeedLayer(spark, plan, rec, out).run()
    else new Passes(spark, plan, rec, out).run()

    if (trace) rec.drain()
    out("jvm") = Map(
      "java_version" -> System.getProperty("java.version"),
      "java_vm" -> System.getProperty("java.vm.name"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "available_processors" -> Runtime.getRuntime.availableProcessors,
      "spark_version" -> spark.version,
      "master" -> spark.sparkContext.master)
    out("trace") = rec.toJson
    spark.stop()
    out("peak_rss_mb") = Proc.vmHwmMb()
    Files.write(Paths.get(args(1)), Json.write(out).getBytes(StandardCharsets.UTF_8))
  }
}

/** Batch workloads: closed-loop passes over the planned queries, one
  * client. The first pass in the fresh JVM is cold; exactly `units` passes
  * run. */
final class Passes(spark: SparkSession, plan: JsonNode, rec: Recorder,
    out: scala.collection.mutable.Map[String, Any]) {
  private val dir = plan.get("inputs").asText()
  private val queries = plan.get("queries").elements().asScala.map(_.asText()).toSeq
  private val units = math.max(plan.get("units").asInt(), rec.minUnits)

  def run(): Unit = {
    val samples = Seq.newBuilder[Map[String, Any]]
    val passes = Seq.newBuilder[Map[String, Any]]
    for (pass <- 0 until units) {
      val traced = rec.tracedUnit(pass)
      rec.setActive(traced)
      val p0 = Harness.nowUs()
      val counters0 = rec.counters()
      val ss = queries.zipWithIndex.map { case (q, i) =>
        runQuery(q, s"p$pass-$i", pass)
      }
      val p1 = Harness.nowUs()
      samples ++= ss
      passes += Map("pass" -> pass, "cold" -> (pass == 0), "traced" -> traced,
        "start_us" -> p0, "end_us" -> p1,
        "wall_s" -> ss.map(_("wall_s").asInstanceOf[Double]).sum,
        "counters" -> rec.counters().delta(counters0))
    }
    rec.setActive(false)
    out("oracle_sql") = queries.flatMap(q => Registry.oracleSql.get(q).map(q -> _)).toMap
    out("passes") = passes.result()
    out("samples") = samples.result()
  }

  private def runQuery(name: String, id: String, pass: Int): Map[String, Any] = {
    val sc = spark.sparkContext
    sc.setJobGroup(id, name, interruptOnCancel = false)
    val t0 = Harness.nowUs()
    var t1 = t0
    val base = Map[String, Any]("id" -> id, "query" -> name, "pass" -> pass,
      "family" -> Families.of(name), "start_us" -> t0)
    try {
      val df = Registry.queries(name)(spark, dir)
      t1 = Harness.nowUs()
      val rows = df.collect()
      val t2 = Harness.nowUs()
      base ++ Map("ok" -> true, "build_end_us" -> t1, "end_us" -> t2,
        "wall_s" -> (t2 - t0) / 1e6, "rows" -> rows.length,
        "digest" -> Digest.of(df.schema.fieldNames.toSeq, rows))
    } catch {
      case NonFatal(e) =>
        val t2 = Harness.nowUs()
        base ++ Map("ok" -> false, "build_end_us" -> t1, "end_us" -> t2,
          "wall_s" -> (t2 - t0) / 1e6, "error_class" -> e.getClass.getName,
          "error" -> String.valueOf(e.getMessage).take(2000))
    } finally sc.clearJobGroup()
  }
}

/** Operator family (the `graft.operators.*Queries` module) of each query. */
object Families {
  private lazy val byName: Map[String, String] = {
    import graft.operators._
    Seq(RelationalQueries.defs -> "Relational", WindowQueries.defs -> "Window",
      EventQueries.defs -> "Event", TextQueries.defs -> "Text",
      VectorQueries.defs -> "Vector", ServingQueries.defs -> "Serving",
      SketchQueries.defs -> "Sketch", AnalyticsQueries.defs -> "Analytics",
      SketchJoinQueries.defs -> "SketchJoin", CurationQueries.defs -> "Curation",
      PretrainQueries.defs -> "Pretrain", DataloaderQueries.defs -> "Dataloader",
      RetentionQueries.defs -> "Retention")
      .flatMap { case (defs, fam) => defs.map(_.name -> fam) }.toMap
  }
  def of(query: String): String = byName.getOrElse(query, "unknown")
}

/** The speed layer: the event log, pre-split into small files in arrival
  * order, is replayed by two streams under `AvailableNow` with
  * `maxFilesPerTrigger` -- `StreamingOps.upsertSink` keyed per user and
  * `StreamingOps.tumblingCounts`. Each round moves the next
  * `files_per_round` files into the source directory and restarts both
  * streams from their checkpoints, which drain that backlog and stop; then
  * one client reads the served table `reads_per_round` times in a closed
  * loop. The first round runs in the fresh JVM and is cold; exactly `units`
  * rounds run. Every read's rows and, after every round, the accumulated
  * hourly counts are digested outside the timing for the output check.
  *
  * Reads run between rounds, not beside the streams: `upsertBatch` renames
  * the table directory under a reader that has already listed it, so a
  * read that overlaps a swap can fail, and how many do depends on timing.
  *
  * The stream source is composed exactly as `StreamingOps.fileReplay`
  * composes it (the footer schema from `StreamingOps.eventsRawSchema`, then
  * `Tables.normalizeEventTs`); fileReplay itself stages a single file, and
  * this replay needs a directory that grows. */
final class SpeedLayer(spark: SparkSession, plan: JsonNode, rec: Recorder,
    out: scala.collection.mutable.Map[String, Any]) {
  private val inputs = plan.get("inputs").asText()
  private val parts = Option(new java.io.File(plan.get("split_dir").asText()).listFiles())
    .getOrElse(Array.empty[java.io.File]).map(_.getPath).filter(_.endsWith(".parquet")).toSeq.sorted
  private val perRound = plan.get("files_per_round").asInt()
  private val units = math.max(plan.get("units").asInt(), rec.minUnits)
  private val perTrigger = plan.get("files_per_trigger").asInt()
  private val readsPerRound = plan.get("reads_per_round").asInt()
  private val work = plan.get("work_dir").asText()
  private val source = Paths.get(work, "source")
  private val target = s"$work/served"
  private val counts = new java.util.concurrent.ConcurrentHashMap[(Long, String), (Long, Long)]()

  def run(): Unit = {
    require(units * perRound <= parts.size,
      s"$units rounds of $perRound files need more than the ${parts.size} split files")
    Files.createDirectories(source)
    val rounds = Seq.newBuilder[Map[String, Any]]
    for (r <- 0 until units) {
      val traced = rec.tracedUnit(r)
      rec.setActive(traced)
      rounds += round(r, traced)
    }
    rec.setActive(false)
    out("rounds") = rounds.result()
  }

  private def round(r: Int, traced: Boolean): Map[String, Any] = {
    val files = parts.slice(r * perRound, (r + 1) * perRound)
    files.foreach { f =>
      val p = Paths.get(f)
      Files.copy(p, source.resolve(p.getFileName),
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }
    val raw = StreamingOps.eventsRawSchema(spark, inputs)
    val src = Tables.normalizeEventTs(spark.readStream.schema(raw)
      .option("maxFilesPerTrigger", perTrigger.toLong).parquet(source.toString))
    val counters0 = rec.counters()
    val t0 = Harness.nowUs()
    val upsert = StreamingOps.upsertSink(src, target, s"$work/ckpt-upsert",
      "user_id", "ts", "event_id")
    val tumble = StreamingOps.tumblingCounts(src).writeStream
      .outputMode("update")
      .option("checkpointLocation", s"$work/ckpt-tumble")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach { row =>
          counts.put((Digest.micros(row.get(0)), row.getString(1)),
            (row.getLong(2), row.getLong(3)))
        }
      }
      .start()
    val error =
      try { upsert.awaitTermination(); tumble.awaitTermination(); None }
      catch { case NonFatal(e) => Some(e) }
    val t1 = Harness.nowUs()
    val counters1 = rec.counters()
    val reads = (0 until readsPerRound).map(i => read(s"r$r-read-$i"))
    val progress = (upsert.recentProgress.map(p => "upsert" -> p) ++
      tumble.recentProgress.map(p => "tumble" -> p)).map { case (s, p) =>
      Map[String, Any]("stream" -> s, "batch" -> p.batchId,
        "rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum)
    }.toSeq
    val countRows = counts.asScala.toSeq.map { case ((w, t), (n, c)) =>
      Row(java.time.Instant.EPOCH.plusNanos(w * 1000L), t, n, c)
    }
    Map[String, Any]("round" -> r, "cold" -> (r == 0), "traced" -> traced,
      "start_us" -> t0, "end_us" -> t1, "wall_s" -> (t1 - t0) / 1e6,
      "files" -> files.map(f => Paths.get(f).getFileName.toString),
      "input_bytes" -> files.map(f => Files.size(Paths.get(f))).sum,
      "upsert_run_id" -> upsert.runId.toString,
      "tumble_run_id" -> tumble.runId.toString,
      "error_class" -> error.map(_.getClass.getName).orNull,
      "error" -> error.map(e => String.valueOf(e.getMessage).take(2000)).orNull,
      "progress" -> progress,
      "reads" -> reads,
      "counts_digest" -> Digest.of(Seq("win_start", "event_type", "n", "cents"), countRows),
      "counters" -> counters1.delta(counters0))
  }

  /** One timed read of the whole served table; its rows are digested after
    * the clock stops. */
  private def read(id: String): Map[String, Any] = {
    val sc = spark.sparkContext
    sc.setJobGroup(id, "served-table read", interruptOnCancel = false)
    val t0 = Harness.nowUs()
    try {
      val df = spark.read.parquet(target)
      val rows = df.collect()
      val t1 = Harness.nowUs()
      Map("start_us" -> t0, "end_us" -> t1, "ok" -> true, "rows" -> rows.length,
        "digest" -> Digest.of(df.schema.fieldNames.toSeq, rows))
    } catch {
      case NonFatal(e) => Map("start_us" -> t0, "end_us" -> Harness.nowUs(), "ok" -> false,
        "error_class" -> e.getClass.getName, "error" -> String.valueOf(e.getMessage).take(500))
    } finally sc.clearJobGroup()
  }
}
