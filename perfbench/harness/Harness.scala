package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.math.MathContext
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

import graft.core.{Catalog, PlanWalk, SessionFactory}

/** Closed-loop benchmark client: one JVM, one thread, one query at a time.
  *
  * Sets the session up once, timed from JVM start, then runs the given
  * query list in whole passes for about `seconds`. Every query is timed from the
  * call into its `QueryDef.run` until its last row has been digested, in
  * three contiguous parts: build (the `run` call), Catalyst (forcing
  * `queryExecution.executedPlan`) and execution (`toRdd`, digesting every
  * row). With `trace=1` a Spark listener and a streaming-query listener
  * attribute jobs, stages, tasks and stream batches to each query, and the
  * record carries spans.
  *
  * Arguments are `key=value`: data, queries (comma-separated), seconds,
  * trace (0|1), warmup (queries run untimed during set-up), cpus, out (the
  * JSON record to write).
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val kv = args.map { a =>
      val Array(k, v) = a.stripPrefix("--").split("=", 2)
      k -> v
    }.toMap
    val data = kv("data")
    val queries = kv("queries").split(',').toSeq.filter(_.nonEmpty)
    val seconds = kv("seconds").toDouble
    val trace = kv.get("trace").contains("1")
    val warmQueries = kv.getOrElse("warmup", "").split(',').toSeq.filter(_.nonEmpty)
    val cpus = kv.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString)
    val registry = graft.SparkEntry.queries
    val unknown = (queries ++ warmQueries).filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    // set-up, timed from JVM start: session, warm-up, catalog, then the
    // workload's warm-up queries; the host canaries between the last two
    // are not part of it
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val boot = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val t0 = System.nanoTime()
    val spark = SessionFactory.local("perfbench", cpus)
    val t1 = System.nanoTime()
    warmUp(spark, data)
    val t2 = System.nanoTime()
    Catalog.registerAnalyzed(spark, data)
    val t3 = System.nanoTime()
    // host stamp, outside every timed region
    val host = Json.obj(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "cpus" -> cpus,
      "java" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "canary_st" -> Canary.singleThread(),
      "canary_mt" -> Canary.spark(spark))
    val t3c = System.nanoTime()
    // first use of a query family fills per-session caches (the TPC-DS
    // adapter views, the SQL front door) and JIT-compiles its code paths;
    // users pay that once per session. After the catalog: registering it
    // invalidates those caches. Last, so the measured pass starts right
    // after them
    warmQueries.foreach(q => registry(q)(spark, data).queryExecution.toRdd.count())
    val t4 = System.nanoTime()
    val setup = Json.obj("jvm_boot_s" -> boot, "session_s" -> (t1 - t0) / 1e9,
      "warmup_s" -> (t2 - t1 + t4 - t3c) / 1e9, "catalog_s" -> (t3 - t2) / 1e9,
      "total_s" -> (boot + (t3 - t0 + t4 - t3c) / 1e9))
    val sc = spark.sparkContext

    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach { t =>
      sc.addSparkListener(t)
      spark.streams.addListener(t.streams)
    }
    val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getType == MemoryType.HEAP && p.getName.contains("Old"))
    var peakLive = 0L
    def liveHeap(): Unit = {
      System.gc()
      oldGen.foreach(p => peakLive = math.max(peakLive, p.getCollectionUsage.getUsed))
    }

    val records = mutable.ArrayBuffer.empty[String]
    val spans = mutable.ArrayBuffer.empty[String]
    // whole passes only, so every query has the same number of executions:
    // a pass starts if the previous one's duration still fits before the
    // deadline; the first pass always runs
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    var pass = 0
    var last = 0L
    while (pass == 0 || System.nanoTime() + last <= deadline) {
      pass += 1
      val p0 = System.nanoTime()
      queries.foreach { name =>
        // a full collection before each query, as graft.Bench does, keeps
        // one query's garbage out of the next one's time and leaves the
        // old generation holding only live data for the heap reading
        liveHeap()
        val qid = s"p$pass-$name"
        tracer.foreach(_.current = qid)
        sc.setLocalProperty(Tracer.QidKey, if (trace) qid else null)
        records += runOne(spark, data, name, registry(name), pass, qid, tracer, spans)
        sc.setLocalProperty(Tracer.QidKey, null)
        sc.setLocalProperty(Tracer.PhaseKey, null)
      }
      last = System.nanoTime() - p0
    }
    liveHeap()
    val out = Json.obj(
      "host" -> Json.Raw(host),
      "trace" -> trace,
      "passes" -> pass,
      "setup" -> Json.Raw(setup),
      "peak_live_heap_mb" -> peakLive / (1024.0 * 1024.0),
      "queries" -> Json.Raw(records.mkString("[\n", ",\n", "\n]")),
      "spans" -> Json.Raw(spans.mkString("[\n", ",\n", "\n]")))
    Files.write(Paths.get(kv("out")), out.getBytes(StandardCharsets.UTF_8))
    spark.stop()
    sys.exit(0)
  }

  /** Same warm-up as graft.Bench: JIT, codegen, the vectorized parquet
    * reader and both decimal aggregation paths, before anything is timed. */
  private def warmUp(spark: SparkSession, dir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$dir/region.parquet").count()
    Catalog.load(spark, dir, "lineitem")
      .selectExpr("sum(l_quantity)", "count(distinct l_returnflag)",
        "sum(cast(l_extendedprice as decimal(18,2)))",
        "sum(cast(l_extendedprice as decimal(12,2)))").collect()
  }

  private def runOne(spark: SparkSession, data: String, name: String,
      fn: (SparkSession, String) => DataFrame, pass: Int, qid: String,
      tracer: Option[Tracer], spans: mutable.ArrayBuffer[String]): String = {
    val sc = spark.sparkContext
    def phase(p: String): Unit = if (tracer.isDefined) sc.setLocalProperty(Tracer.PhaseKey, p)
    val epoch0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    def ms(t: Long): Double = epoch0 + (t - t0) / 1e6
    phase("build")
    try {
      val df = fn(spark, data)
      val t1 = System.nanoTime()
      phase("catalyst")
      val qe = df.queryExecution
      val plan = qe.executedPlan
      val t2 = System.nanoTime()
      phase("exec")
      val types = plan.schema.fields.map(_.dataType)
      val parts = qe.toRdd.mapPartitions(it => Iterator(Digest.of(it, types))).collect()
      val t3 = System.nanoTime()
      val rows = parts.map(_._1).sum
      val digest = java.lang.Long.toHexString(parts.map(_._2).sum)
      val base = Seq[(String, Any)]("q" -> name, "pass" -> pass, "ok" -> true,
        "wall_s" -> (t3 - t0) / 1e9, "build_s" -> (t1 - t0) / 1e9,
        "catalyst_s" -> (t2 - t1) / 1e9, "exec_s" -> (t3 - t2) / 1e9,
        "rows" -> rows, "digest" -> digest)
      val traced = tracer.map { tr =>
        PerfbenchBus.drain(sc)
        val phases = qe.tracker.phases
        def phaseS(p: String) = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
        val rules = qe.tracker.rules.values
        val invocations = rules.map(_.numInvocations).sum
        val effective = rules.map(_.numEffectiveInvocations).sum
        val facts = PlanWalk.facts(plan)
        val reused = PlanWalk.distinctNodes(plan).count(_.isInstanceOf[ReusedExchangeExec])
        val span = Span(qid, spans) _
        span("query", ms(t0), ms(t3), "")
        span("build", ms(t0), ms(t1), "query")
        span("catalyst", ms(t1), ms(t2), "query")
        span("exec", ms(t2), ms(t3), "query")
        Seq(("analysis", "build"), ("optimization", "catalyst"), ("planning", "catalyst"))
          .foreach { case (p, parent) =>
            phases.get(p).foreach { s =>
              span(s"catalyst.$p", s.startTimeMs.toDouble, s.endTimeMs.toDouble, parent)
            }
          }
        tr.take(qid, spans)
        Seq[(String, Any)](
          "catalyst_analysis_s" -> phaseS("analysis"),
          "catalyst_optimization_s" -> phaseS("optimization"),
          "catalyst_planning_s" -> phaseS("planning"),
          "rule_invocations" -> invocations,
          "rule_effective" -> effective,
          "plan_broadcast_joins" -> facts.bhj,
          "plan_sort_merge_joins" -> facts.smj,
          "plan_shuffles" -> facts.shuffles,
          "plan_reused_exchanges" -> reused,
          "plan_aqe_coalesced_reads" -> facts.aqeCoalescedReads) ++ tr.stats(qid)
      }.getOrElse(Nil)
      Json.obj(base ++ traced: _*)
    } catch {
      case e: Throwable =>
        val t3 = System.nanoTime()
        Json.obj("q" -> name, "pass" -> pass, "ok" -> false,
          "wall_s" -> (t3 - t0) / 1e9,
          "error_class" -> e.getClass.getName,
          "error" -> String.valueOf(e.getMessage).take(500))
    }
  }
}

/** Spans are kept in memory and written with the run record. */
object Span {
  def apply(qid: String, out: mutable.ArrayBuffer[String])(
      name: String, startMs: Double, endMs: Double, parent: String): Unit =
    out += Json.obj("id" -> qid, "name" -> name, "start_ms" -> startMs,
      "end_ms" -> endMs, "parent" -> parent)
}

/** Order-insensitive digest of a query's output: the 64-bit sum of one
  * hash per row. Doubles are rounded to 9 significant digits, so a
  * last-digit difference from the order in which partial sums were
  * combined does not change the digest. */
object Digest {
  private val mc = new MathContext(9)

  def of(it: Iterator[InternalRow], types: Array[DataType]): (Long, Long) = {
    var n = 0L
    var sum = 0L
    val sb = new java.lang.StringBuilder
    while (it.hasNext) {
      sb.setLength(0)
      row(sb, it.next(), types)
      val s = sb.toString
      sum += (MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) |
        (MurmurHash3.stringHash(s, 0x7f4a7c15) & 0xffffffffL)
      n += 1
    }
    (n, sum)
  }

  private def row(sb: java.lang.StringBuilder, r: InternalRow, types: Array[DataType]): Unit = {
    var i = 0
    while (i < types.length) {
      sb.append('\u0001')
      if (r.isNullAt(i)) sb.append("\u0000N") else value(sb, r.get(i, types(i)), types(i))
      i += 1
    }
  }

  private def array(a: ArrayData, t: DataType): Seq[String] = (0 until a.numElements).map { j =>
    val sb = new java.lang.StringBuilder
    if (a.isNullAt(j)) sb.append("\u0000N") else value(sb, a.get(j, t), t)
    sb.toString
  }

  private def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toString

  private def value(sb: java.lang.StringBuilder, v: Any, t: DataType): Unit = (v, t) match {
    case (d: Double, _) => sb.append(double(d))
    case (f: Float, _) => sb.append(double(f.toDouble))
    case (d: Decimal, _) => sb.append(d.toJavaBigDecimal.stripTrailingZeros.toPlainString)
    case (r: InternalRow, s: StructType) =>
      sb.append('{'); row(sb, r, s.fields.map(_.dataType)); sb.append('}')
    case (a: ArrayData, ArrayType(et, _)) =>
      sb.append(array(a, et).mkString("[", "\u0002", "]"))
    case (m: MapData, MapType(kt, vt, _)) =>
      sb.append(array(m.keyArray, kt).zip(array(m.valueArray, vt))
        .map { case (k, x) => k + "\u0003" + x }.sorted.mkString("<", "\u0002", ">"))
    case (b: Array[Byte], _) => b.foreach(x => sb.append(Integer.toHexString(x & 0xff)).append(':'))
    case (x, _) => sb.append(x.toString)
  }
}

/** Fixed-work host canaries, taken outside the timed region (graft.Bench
  * takes the same two): a round-to-round shift that the canaries share is
  * the host, not the program. */
object Canary {
  @volatile private var sink = 0L

  def singleThread(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 400000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x
      i += 1
    }
    sink = acc
    (System.nanoTime() - t0) / 1e9
  }

  def spark(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(400000000L).selectExpr("sum(id % 7)").collect()
    (System.nanoTime() - t0) / 1e9
  }
}

object Tracer {
  val QidKey = "perfbench.qid"
  val PhaseKey = "perfbench.phase"
}

/** Attributes scheduler and streaming events to the query that caused
  * them. Jobs carry the query id and phase as local properties, so the
  * attribution holds however late the listener bus delivers; stream
  * progress carries no properties and goes to `current`, which is only
  * moved on after the bus has been drained. */
final class Tracer extends SparkListener {
  import Tracer._

  @volatile var current: String = ""

  private final class Q {
    val jobs = mutable.Map("build" -> 0L, "catalyst" -> 0L, "exec" -> 0L)
    var stages, tasks, runMs, cpuNs, gcMs, inputRecords = 0L
    var shuffleWrite, shuffleRead, spill, outputBytes = 0L
    var batches, stateRows, stateBytes, lateRows = 0L
    val spans = mutable.ArrayBuffer.empty[(String, Double, Double, String)]
  }
  private val qs = mutable.HashMap.empty[String, Q]
  private val stageQid = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, String, Long)]

  private def q(id: String) = qs.getOrElseUpdate(id, new Q)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    for (p <- Option(e.properties); qid <- Option(p.getProperty(QidKey))) {
      val phase = Option(p.getProperty(PhaseKey)).getOrElse("exec")
      e.stageIds.foreach(stageQid(_) = qid)
      jobStart(e.jobId) = (qid, phase, e.time)
      q(qid).jobs(phase) += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (qid, phase, start) =>
      q(qid).spans += (("job", start.toDouble, e.time.toDouble, phase))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    stageQid.get(s.stageId).foreach { qid =>
      val r = q(qid)
      r.stages += 1
      for (a <- s.submissionTime; b <- s.completionTime)
        r.spans += (("stage", a.toDouble, b.toDouble, "job"))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageQid.get(e.stageId).foreach { qid =>
      val r = q(qid)
      r.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.inputRecords += m.inputMetrics.recordsRead
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        r.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val r = q(current)
        r.batches += 1
        r.stateRows = math.max(r.stateRows, p.stateOperators.map(_.numRowsTotal).sum)
        r.stateBytes = math.max(r.stateBytes, p.stateOperators.map(_.memoryUsedBytes).sum)
        r.lateRows += p.stateOperators.map(_.numRowsDroppedByWatermark).sum
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        r.spans += (("stream.batch", start, start + p.batchDuration, "build"))
      }
  }

  /** Moves the query's listener spans into the run's span list. */
  def take(qid: String, out: mutable.ArrayBuffer[String]): Unit = synchronized {
    qs.get(qid).foreach { r =>
      r.spans.foreach { case (n, a, b, parent) => Span(qid, out)(n, a, b, parent) }
      r.spans.clear()
    }
  }

  def stats(qid: String): Seq[(String, Any)] = synchronized {
    val r = q(qid)
    Seq("build_jobs" -> r.jobs("build"), "catalyst_jobs" -> r.jobs("catalyst"),
      "exec_jobs" -> r.jobs("exec"), "stages" -> r.stages, "tasks" -> r.tasks,
      "task_run_s" -> r.runMs / 1e3, "task_cpu_s" -> r.cpuNs / 1e9,
      "gc_s" -> r.gcMs / 1e3, "input_records" -> r.inputRecords,
      "shuffle_write_bytes" -> r.shuffleWrite, "shuffle_read_bytes" -> r.shuffleRead,
      "spill_bytes" -> r.spill, "sink_bytes_written" -> r.outputBytes,
      "stream_batches" -> r.batches, "stream_state_rows" -> r.stateRows,
      "stream_state_bytes" -> r.stateBytes, "stream_late_rows_dropped" -> r.lateRows)
  }
}

/** Minimal JSON writer; numbers go through Double.toString and
  * Long.toString, which do not depend on the default locale. */
object Json {
  final case class Raw(s: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def any(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + any(v) }.mkString("{", ",", "}")
}
