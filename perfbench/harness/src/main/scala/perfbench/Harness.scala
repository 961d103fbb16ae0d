package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.BusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import graft.model.Schemas
import graft.ops.{Dedup, Model, MovingAverage, Q, Similarity, TextOps}
import graft.streaming.MaPipeline

/** The JVM side of the benchmark. It calls the program's public
  * functions and reads Spark's public hooks; it changes nothing in the
  * program. `run.py` launches it once per run:
  *
  *   Harness probe  out=F
  *   Harness batch  out=F data=DIR queries=q1,q2 seconds=N trace=0|1
  *   Harness stream out=F replay_src=DIR live_src=DIR work=DIR max_files=K trace=0|1
  *
  * Each mode writes one JSON document to `out` with raw measurements;
  * `run.py` turns them into metrics. `ready_ms` marks the end of set-up
  * (session started, listeners attached). */
object Harness {

  def main(argv: Array[String]): Unit = {
    val mode = argv(0)
    val a = argv.drop(1).map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the scan-partition sizing graft.Bench uses for small tables
      .config("spark.sql.files.maxPartitionBytes", "256k")
      .config("spark.sql.files.openCostInBytes", "64k")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(a.get("trace").contains("1"))
    val meter = new Meter(tracer)
    spark.sparkContext.addSparkListener(meter)
    val ready = System.currentTimeMillis()
    println(s"READY $ready")
    val out = ArrayBuffer[(String, Any)]("ready_ms" -> ready, "cores" -> cores)
    mode match {
      case "probe" => ()
      case "batch" => out ++= Batch.run(spark, a, meter, tracer)
      case "stream" => out ++= Stream.run(spark, a, meter, tracer)
    }
    BusDrain(spark.sparkContext)
    out += "rss_peak_kb" -> peakRssKb()
    out += "trace_cost_ms" -> tracer.costNs / 1e6
    if (tracer.on) out += "spans" -> tracer.spans.toSeq
    Files.writeString(Paths.get(a("out")), Json(out.toSeq))
    spark.stop()
  }

  /** VmHWM of this process: the peak resident set. */
  def peakRssKb(): Long = {
    val l = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    l.split("\\s+")(1).toLong
  }
}

/** A span: a named interval on the epoch-millisecond clock, with the
  * operation it belongs to. Parents are resolved by run.py from
  * interval containment (listener events arrive on another thread, so
  * the harness cannot know the open span when a job starts). */
final case class Span(name: String, op: String, startMs: Double, endMs: Double)

/** In-memory span recorder; the spans are written out at exit. Its own
  * cost is accumulated so the traced run can report its overhead. */
final class Tracer(val on: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  @volatile var costNs = 0L
  private val base = (System.currentTimeMillis().toDouble, System.nanoTime())
  def nowMs: Double = base._1 + (System.nanoTime() - base._2) / 1e6

  def add(name: String, op: String, startMs: Double, endMs: Double): Unit =
    if (on) {
      val t = System.nanoTime()
      synchronized { spans += Span(name, op, startMs, endMs) }
      costNs += System.nanoTime() - t
    }

  def span[T](name: String, op: String)(body: => T): T = {
    val s = nowMs
    try body finally add(name, op, s, nowMs)
  }
}

/** Task-metric totals of one phase of a run. */
final class Tally {
  var jobs, stages, tasks, taskFailures = 0L
  var runMs, cpuNs, gcMs, shuffleWrite, spill, scanBytes = 0L
  // per stage kind: "parse" = stages that only write shuffle (scan +
  // parse + partial aggregation), "state" = stages that read it
  var parseCpuNs, stateCpuNs = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]

  def toMap: Seq[(String, Any)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_failures" -> taskFailures, "run_ms" -> runMs, "cpu_ns" -> cpuNs,
    "gc_ms" -> gcMs, "shuffle_write" -> shuffleWrite, "spill" -> spill,
    "scan_bytes" -> scanBytes, "parse_cpu_ns" -> parseCpuNs,
    "state_cpu_ns" -> stateCpuNs,
    "job_union_ms" -> unionMs(jobIntervals.toSeq))

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total, end = 0L
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s >= end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }
}

/** SparkListener that sums task metrics into the current phase's tally
  * and, when tracing, records a span per job. */
final class Meter(tracer: Tracer) extends SparkListener {
  @volatile var cur = new Tally
  private val jobStart = scala.collection.concurrent.TrieMap.empty[Int, Long]

  /** Starts a new phase; the caller drains the bus first. */
  def phase(): Tally = { val t = cur; cur = new Tally; t }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStart(e.jobId) = e.time
    cur.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { s =>
      cur.jobIntervals += ((s, e.time))
      tracer.add("spark.job", e.jobId.toString, s.toDouble, e.time.toDouble)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val t = cur
    t.stages += 1
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      val read = m.shuffleReadMetrics.remoteBlocksFetched + m.shuffleReadMetrics.localBlocksFetched
      if (read > 0) t.stateCpuNs += m.executorCpuTime
      else if (m.shuffleWriteMetrics.bytesWritten > 0) t.parseCpuNs += m.executorCpuTime
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = cur
    t.tasks += 1
    if (e.reason != org.apache.spark.Success) t.taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.scanBytes += m.inputMetrics.bytesRead
    }
  }
}

/** Codegen counters from Spark's CodegenMetrics source. Its histograms
  * keep every sample while fewer than 1028 have been taken, which holds
  * for one run; a phase's samples are the multiset difference. */
object Codegen {
  def samples(): (Seq[Long], Seq[Long]) = (
    CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.toSeq,
    CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE.getSnapshot.getValues.toSeq)

  def phase(before: (Seq[Long], Seq[Long])): Seq[(String, Any)] = {
    val (c1, m1) = samples()
    val compile = c1.diff(before._1)
    val methods = m1.diff(before._2)
    Seq("compile_ms" -> compile.sum, "compiles" -> compile.size,
      "max_method_bytes" -> (if (methods.isEmpty) 0L else methods.max))
  }
}

object Batch {
  val families: Map[String, Seq[Q]] = Map("Dedup" -> Dedup.queries,
    "MovingAverage" -> MovingAverage.queries, "Similarity" -> Similarity.queries,
    "TextOps" -> TextOps.queries)

  /** The graft.Bench consumer: xxhash64 of every full row, folded with
    * bit_xor, so no output column is pruned away. Returns the fold (or
    * "null" for an empty result) and the consuming query's execution. */
  def consume(df: DataFrame): (String, QueryExecution) = {
    val agg = df.select(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)).as("h"))
      .agg(bit_xor(col("h")))
    val r = agg.collect()
    (if (r.isEmpty || r(0).isNullAt(0)) "null" else r(0).getLong(0).toString, agg.queryExecution)
  }

  def planMs(qe: QueryExecution): Long =
    qe.tracker.phases.values.map(p => p.durationMs).sum

  def run(spark: SparkSession, a: Map[String, String], meter: Meter,
      tracer: Tracer): Seq[(String, Any)] = {
    val dir = a("data")
    val byName = for ((f, fqs) <- families; q <- fqs) yield q.name -> (f, q)
    val qs = a("queries").split(",").toSeq.map(byName).sortBy(_._2.name)
    val seconds = a("seconds").toDouble
    val sc = spark.sparkContext
    val rows = ArrayBuffer.empty[Seq[(String, Any)]]

    def one(phase: String, rep: Int, fam: String, q: Q): Unit = {
      val op = s"${q.name}#$rep"
      BusDrain(sc)
      val cpu0 = meter.cur.cpuNs
      val t0 = System.nanoTime()
      val q0 = tracer.nowMs
      var construct = 0.0
      var fold = "error"
      var plan = 0L
      var err = ""
      try {
        val df = tracer.span("construct", op)(q.fn(spark, dir))
        construct = (System.nanoTime() - t0) / 1e9
        val (f, qe) = tracer.span("consume", op)(consume(df))
        fold = f
        plan = planMs(qe)
      } catch { case e: Throwable => err = String.valueOf(e.getMessage).take(300) }
      val run = (System.nanoTime() - t0) / 1e9
      tracer.add("query", op, q0, tracer.nowMs)
      Model.release()
      BusDrain(sc)
      rows += Seq("phase" -> phase, "rep" -> rep, "family" -> fam, "name" -> q.name,
        "construct_s" -> construct, "run_s" -> run, "cpu_s" -> (meter.cur.cpuNs - cpu0) / 1e9,
        "plan_ms" -> plan, "fold" -> fold, "error" -> err)
    }

    val cg0 = Codegen.samples()
    meter.phase()
    val coldStart = System.nanoTime()
    qs.foreach { case (f, q) => one("cold", 0, f, q) }
    val coldWall = (System.nanoTime() - coldStart) / 1e9
    BusDrain(sc)
    val cold = meter.phase().toMap ++ Codegen.phase(cg0) :+ ("wall_s" -> coldWall)

    // warm: whole rounds over every query until the time is used, at
    // least two; each query's warm figure is its median over rounds
    val cg1 = Codegen.samples()
    val warmStart = System.nanoTime()
    var rounds = 0
    while (rounds < 2 || (System.nanoTime() - warmStart) / 1e9 < seconds) {
      rounds += 1
      qs.foreach { case (f, q) => one("warm", rounds, f, q) }
    }
    val warmWall = (System.nanoTime() - warmStart) / 1e9
    BusDrain(sc)
    val warm = meter.phase().toMap ++ Codegen.phase(cg1) :+ ("wall_s" -> warmWall)
    Seq("queries" -> rows.toSeq, "rounds" -> rounds,
      "phases" -> Seq("cold" -> cold, "warm" -> warm))
  }
}

/** The reference job, `MaPipeline.run`'s V1 shape: file source →
  * parse → windowedSma (5 s / 1 s, exactly-5 gate) → update mode → 1 s
  * trigger, with a foreachBatch body that serialises with
  * Schemas.toWireJson and writes the rows with one action. Kafka is not
  * on the classpath; a directory of JSON-lines files stands in for the
  * source topic and a directory of text files for the sink topic.
  *
  * Two legs run in one session, each its own query:
  *  - `replay` drains a staged backlog (closed loop, `maxFilesPerTrigger`);
  *  - `live` then takes open-loop traffic that run.py's generator
  *    process writes while the query runs (started on `LIVE`, ended by
  *    a line on stdin). */
object Stream {

  def run(spark: SparkSession, a: Map[String, String], meter: Meter,
      tracer: Tracer): Seq[(String, Any)] = {
    val work = a("work")
    val sc = spark.sparkContext
    val sinkTimes = ArrayBuffer.empty[(String, Long, Double, Double)]
    val progress = ArrayBuffer.empty[(String, Seq[(String, Any)])]
    val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
      "addBatch", "commitOffsets")

    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val st = p.stateOperators.headOption
        val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
        def dur(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        progress.synchronized {
          progress += p.name -> Seq(
            "batch" -> p.batchId, "start_ms" -> startMs, "rows" -> p.numInputRows,
            "durations" -> (phases :+ "triggerExecution").map(k => k -> dur(k)),
            "state_total" -> st.map(_.numRowsTotal).getOrElse(0L),
            "state_updated" -> st.map(_.numRowsUpdated).getOrElse(0L),
            "state_removed" -> st.map(_.numRowsRemoved).getOrElse(0L),
            "state_mem" -> st.map(_.memoryUsedBytes).getOrElse(0L),
            "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L),
            "state_update_ms" -> st.map(_.allUpdatesTimeMs).getOrElse(0L),
            "late_dropped" -> st.map(_.numRowsDroppedByWatermark).getOrElse(0L))
        }
        // the trigger's phases, laid out in MicroBatchExecution's order
        val op = s"${p.name}#${p.batchId}"
        var t = startMs.toDouble
        for (k <- phases) { tracer.add(s"trigger.$k", op, t, t + dur(k)); t += dur(k) }
        tracer.add("trigger", op, startMs.toDouble, startMs.toDouble + dur("triggerExecution"))
      }
    })

    def start(leg: String, src: String, maxFiles: Option[String]) = {
      val source = maxFiles.fold(MaPipeline.fromJsonFiles(spark, src))(k =>
        spark.readStream.option("maxFilesPerTrigger", k).text(src))
      val writeBatch = (df: DataFrame, id: Long) => {
        val t0 = tracer.nowMs
        Schemas.toWireJson(df).write.text(s"$work/$leg-sink/batch=$id")
        val t1 = tracer.nowMs
        tracer.add("sink.write", s"$leg#$id", t0, t1)
        sinkTimes.synchronized { sinkTimes += ((leg, id, t0, t1)) }
        ()
      }
      MaPipeline.windowedSma(MaPipeline.parse(source)).writeStream
        .queryName(leg)
        .outputMode("update")
        .trigger(Trigger.ProcessingTime("1 second"))
        .option("checkpointLocation", s"$work/$leg-checkpoint")
        .foreachBatch(writeBatch)
        .start()
    }

    meter.phase()
    val replay = start("replay", a("replay_src"), Some(a("max_files")))
    val replayStart = System.currentTimeMillis()
    replay.processAllAvailable()
    val replayEnd = System.currentTimeMillis()
    replay.stop()
    BusDrain(sc)
    val replayTally = meter.phase()

    val live = start("live", a("live_src"), None)
    val liveStart = System.currentTimeMillis()
    println(s"LIVE $liveStart")
    scala.io.StdIn.readLine() // run.py: the generator has finished
    live.processAllAvailable()
    val liveEnd = System.currentTimeMillis()
    live.stop()
    BusDrain(sc)
    val liveTally = meter.phase()

    // run.py checks the sinks' contents against the ticks once this
    // JVM has exited
    def leg(name: String, t0: Long, t1: Long, tally: Tally): Seq[(String, Any)] = Seq(
      "started_ms" -> t0, "drained_ms" -> t1,
      "progress" -> progress.filter(_._1 == name).map(_._2).toSeq,
      "sink" -> sinkTimes.filter(_._1 == name).map { case (_, b, s, e) =>
        Seq("batch" -> b, "t0_ms" -> s, "t1_ms" -> e) }.toSeq,
      "tally" -> tally.toMap)
    Seq("replay" -> leg("replay", replayStart, replayEnd, replayTally),
      "live" -> leg("live", liveStart, liveEnd, liveTally))
  }
}

/** Minimal JSON writer for the harness's result documents. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)] ) &&
        kv.forall(_.asInstanceOf[(Any, Any)]._1.isInstanceOf[String]) =>
      kv.map { case (k, x) => apply(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case Span(n, op, s, e) => apply(Seq("name" -> n, "op" -> op, "start_ms" -> s, "end_ms" -> e))
    case o => apply(o.toString)
  }
}
