package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-wide counters read at unit (pass or round) boundaries. They are
  * cheap reads, so untraced runs record them too. */
final case class Counters(compiles: Long, compileNs: Long, gcCount: Long, gcMs: Long,
    cpuTicks: Array[Long]) {
  def delta(o: Counters): Map[String, Any] = {
    val ticks = cpuTicks.zip(o.cpuTicks).map { case (a, b) => a - b }
    Map(
      "compiles" -> (compiles - o.compiles),
      "compile_s" -> (compileNs - o.compileNs) / 1e9,
      "gc_count" -> (gcCount - o.gcCount),
      "gc_s" -> (gcMs - o.gcMs) / 1e3,
      // Share of the host's processor time the hypervisor gave to other
      // guests (the steal column of /proc/stat): wall times inflate with it.
      "steal_frac" -> (if (ticks.sum > 0) ticks.lift(7).getOrElse(0L).toDouble / ticks.sum else 0.0))
  }
}

/** Spans and counters of the traced run. Listener events arrive
  * asynchronously, so an event is kept when its own timestamp falls inside
  * a window in which recording was active, not when it is delivered. */
final class Recorder(val enabled: Boolean) {
  private val windows = new ConcurrentLinkedQueue[(Long, Long)]()
  @volatile private var openSince: Long = -1L
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Boolean)]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val phases = new ConcurrentLinkedQueue[Map[String, Any]]()

  /** Units (passes or rounds) a traced run needs: it alternates traced and
    * untraced warm units, so it needs a cold, a traced warm and an untraced
    * warm unit. */
  def minUnits: Int = if (enabled) 3 else 2
  def tracedUnit(i: Int): Boolean = enabled && i % 2 == 0

  def setActive(on: Boolean): Unit = synchronized {
    if (on && openSince < 0) openSince = Harness.nowUs()
    else if (!on && openSince >= 0) { windows.add((openSince, Harness.nowUs())); openSince = -1L }
  }

  private def recorded(us: Long): Boolean = {
    val open = openSince
    (open >= 0 && us >= open) || windows.asScala.exists { case (a, b) => us >= a && us <= b }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (recorded(e.time * 1000L)) jobs.add(Map(
          "job" -> e.jobId, "start_us" -> e.time * 1000L,
          "group" -> Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull,
          "stages" -> e.stageIds))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobEnds.put(e.jobId, (e.time * 1000L, e.jobResult == JobSucceeded))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val start = si.submissionTime.getOrElse(0L) * 1000L
        if (recorded(start)) {
          val m = si.taskMetrics
          stages.add(Map("stage" -> si.stageId, "attempt" -> si.attemptNumber(),
            "start_us" -> start, "end_us" -> si.completionTime.getOrElse(0L) * 1000L,
            "tasks" -> si.numTasks,
            "run_ms" -> Option(m).map(_.executorRunTime).getOrElse(0L),
            "cpu_ns" -> Option(m).map(_.executorCpuTime).getOrElse(0L),
            "shuffle_read_bytes" -> Option(m).map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
            "shuffle_write_bytes" -> Option(m).map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
            "spill_disk_bytes" -> Option(m).map(_.diskBytesSpilled).getOrElse(0L),
            "input_records" -> Option(m).map(_.inputMetrics.recordsRead).getOrElse(0L),
            "output_bytes" -> Option(m).map(_.outputMetrics.bytesWritten).getOrElse(0L)))
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(funcName, qe, ok = true)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        record(funcName, qe, ok = false)
    })
  }

  private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = {
    val ps = qe.tracker.phases
    if (ps.values.exists(p => recorded(p.startTimeMs * 1000L)))
      phases.add(Map("func" -> func, "ok" -> ok) ++ ps.map { case (name, p) =>
        name -> Seq(p.startTimeMs * 1000L, p.endTimeMs * 1000L)
      })
  }

  def counters(): Counters = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Counters(CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime,
      gcs.map(_.getCollectionCount).sum, gcs.map(_.getCollectionTime).sum, Proc.cpuTicks())
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Waits until every recorded job has ended and the listener queues have
    * been quiet for a moment, so late events are not lost. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    var last = -1
    var quiet = 0
    while (quiet < 5 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val n = jobs.size + jobEnds.size + stages.size + phases.size
      val open = jobs.asScala.count(j => !jobEnds.containsKey(j("job").asInstanceOf[Int]))
      quiet = if (n == last && open == 0) quiet + 1 else 0
      last = n
    }
  }

  def toJson: Map[String, Any] = Map(
    "enabled" -> enabled,
    "windows" -> windows.asScala.toSeq.map { case (a, b) => Seq(a, b) },
    "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
    "jobs" -> jobs.asScala.toSeq.map { j =>
      val end = Option(jobEnds.get(j("job").asInstanceOf[Int]))
      j ++ Map("end_us" -> end.map(_._1).getOrElse(-1L), "ok" -> end.exists(_._2))
    },
    "stages" -> stages.asScala.toSeq,
    "phases" -> phases.asScala.toSeq)
}

/** Order-independent digest of a result, shared with `oracle.py`.
  *
  * Columns are taken in name order and every cell is written in a
  * canonical form that follows the oracle compare's representation rules:
  * integers of any width and integral doubles print alike, other doubles
  * by their IEEE bits, dates as the timestamp of their midnight, NaN as
  * null, and decimals or nested values in a form DuckDB's side never
  * produces (the compare rejects them). Each row's SHA-256 prefix is summed
  * modulo 2^64, so row order does not matter but multiplicity does.
  */
object Digest {
  private val TwoTo53 = 9007199254740992.0

  def micros(v: Any): Long = v match {
    case t: java.sql.Timestamp => Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000L
    case l: java.time.LocalDateTime =>
      l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + l.getNano / 1000L
    case d: java.sql.Date => d.toLocalDate.toEpochDay * 86400000000L
    case d: java.time.LocalDate => d.toEpochDay * 86400000000L
  }

  def cell(v: Any): String = v match {
    case null => "N"
    case b: java.lang.Boolean => if (b) "b1" else "b0"
    case n: java.lang.Byte => "i" + n
    case n: java.lang.Short => "i" + n
    case n: java.lang.Integer => "i" + n
    case n: java.lang.Long => "i" + n
    case f: java.lang.Float => real(f.doubleValue)
    case d: java.lang.Double => real(d)
    case d: java.math.BigDecimal => "d" + d.toPlainString
    case s: String => "s" + s
    case _: java.sql.Timestamp | _: java.time.Instant | _: java.time.LocalDateTime |
         _: java.sql.Date | _: java.time.LocalDate => "t" + micros(v)
    case other => "X" + other.toString
  }

  private def real(d: Double): String =
    if (d.isNaN) "N"
    else if (!d.isInfinite && d == Math.rint(d) && Math.abs(d) < TwoTo53) "i" + d.toLong
    else "f%016x".format(java.lang.Double.doubleToRawLongBits(d))

  def of(columns: Seq[String], rows: Iterable[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("SHA-256")
    var sum = 0L
    var n = 0L
    rows.foreach { r =>
      val line = order.map(i => cell(r.get(i))).mkString("\u001f")
      val h = md.digest(line.getBytes(StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
      n += 1
    }
    s"$n:${"%016x".format(sum)}:${columns.sorted.mkString(",")}"
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case c if c < ' ' => sb ++= "\\u%04x".format(c.toInt)
        case c => sb += c
      }
      sb += '"'
    }
    def go(x: Any): Unit = x match {
      case null | None => sb ++= "null"
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case f: Float => go(f.toDouble)
      case n: Number => sb ++= n.toString
      case m: scala.collection.Map[_, _] =>
        sb += '{'
        m.zipWithIndex.foreach { case ((k, y), i) =>
          if (i > 0) sb += ','
          str(k.toString); sb += ':'; go(y)
        }
        sb += '}'
      case a: Array[_] => go(a.toSeq)
      case s: Iterable[_] =>
        sb += '['
        s.zipWithIndex.foreach { case (y, i) => if (i > 0) sb += ','; go(y) }
        sb += ']'
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}

object Proc {
  /** The aggregate `cpu` line of /proc/stat: user, nice, system, idle,
    * iowait, irq, softirq, steal, ... in clock ticks. */
  def cpuTicks(): Array[Long] =
    Files.readAllLines(Paths.get("/proc/stat")).asScala.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).map(_.toLong))
      .getOrElse(Array.empty[Long])

  /** Peak resident set size of this JVM (VmHWM), in MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0)
      .getOrElse(throw new IllegalStateException("VmHWM missing from /proc/self/status"))
}
