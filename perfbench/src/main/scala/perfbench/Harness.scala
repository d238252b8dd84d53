package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}

/** The benchmark's JVM side: one closed-loop client in one `local[cores]`
  * session. It runs an untimed warm pass over the given queries, then
  * timed passes until `--seconds` have elapsed, and writes what it
  * measured as one JSON file. Each query execution is timed in three
  * phases, each one a call into the program's public surface:
  * construct (`SparkEntry.queries(q)(spark, dir)`, including the eager
  * jobs and micro-batches that run while the frame is built), plan
  * (`queryExecution.executedPlan`) and exec (a full pass over
  * `queryExecution.toRdd` that also digests the output).
  *
  * With `--trace 1` it registers a [[Recorder]], times one
  * `Tables.load` call per table, and records spans (run, pass, query,
  * phase) in memory; timed passes alternate between traced and untraced
  * so the tracing overhead is measured in the same JVM. The spans are
  * written out with the result when the run ends.
  *
  * Usage: `Harness --dir D --queries q1,q2 --seconds S --trace 0|1
  *   --cores N --out FILE [--dump DIR]` */
object Harness {
  private final case class Span(name: String, parent: Int, start: Double, end: Double,
                                attrs: Map[String, Any])

  private val t0Nanos = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis().toDouble
  /** Epoch milliseconds on the monotonic clock, so spans line up with the
    * listener's job timestamps. */
  private def nowMs(): Double = t0EpochMs + (System.nanoTime() - t0Nanos) / 1e6

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds of the JIT compiler threads, from /proc (the JVM reports
    * compilation as elapsed time only, which on a busy host exceeds the
    * CPU it took). The launcher pins the compiler thread count so that no
    * compiler thread exits and takes its CPU time with it. */
  private def jitCpuSeconds(): Double =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten.map { t =>
      try {
        val comm = Files.readString(t.toPath.resolve("comm")).trim
        if (!comm.matches("C[12] CompilerThre.*")) 0.0
        else {
          val stat = Files.readString(t.toPath.resolve("stat"))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          (f(11).toLong + f(12).toLong) / 100.0 // utime + stime, in clock ticks
        }
      } catch { case _: java.io.IOException => 0.0 }
    }.sum

  /** Process CPU seconds less the JIT compiler's: a run this short is
    * still compiling, a cost a long-lived deployment does not pay per
    * query, and its amount varies from one JVM to the next. */
  private def workCpuSeconds(): Double = cpuBean.getProcessCpuTime / 1e9 - jitCpuSeconds()
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  /** Largest heap occupancy right after any collection since the last
    * reset, in bytes. An occupancy read after a collection counts what
    * the program held at that moment rather than garbage not yet
    * collected; a pool's own peak, which records the latter, read
    * 1.6-2.6 GB on identical runs. */
  private val heapAfterGcPeak = new AtomicLong(0L)
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case emitter: NotificationEmitter =>
      emitter.addNotificationListener((n: Notification, _: AnyRef) => {
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, usage) if heapPools(pool) => usage.getUsed
          }.sum
          heapAfterGcPeak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
        }
      }, null, null)
    case _ =>
  }
  /** Collects the heap and returns the largest occupancy after any
    * collection since the last call, this one included, so that a query
    * no collection fell into still has a sample: what it left live. */
  private def settleHeapMb(): Double = {
    System.gc()
    // notifications arrive on another thread
    Thread.sleep(100)
    heapAfterGcPeak.getAndSet(0L) / 1048576.0
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** `GuardStats` is package-private to the program; its detection clock
    * is read through its public bytecode accessor. */
  private def detectionSeconds(): Double =
    try {
      val cls = Class.forName("graft.GuardStats$")
      val inst = cls.getField("MODULE$").get(null)
      cls.getMethod("detectionSeconds").invoke(inst).asInstanceOf[Double]
    } catch { case _: ReflectiveOperationException => 0.0 }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = args("dir")
    val all = graft.SparkEntry.queries
    // "q1" names the query registered as "q01_<name>"
    def number(q: String): Int = q.stripPrefix("q").takeWhile(_.isDigit).toInt
    val queries = args("queries").split(",").toSeq.map(n =>
      all.keys.find(k => number(k) == number(n)).getOrElse(sys.error(s"no query $n")))
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val cores = args("cores")
    val dump = args.get("dump")

    val spark = graft.Tuning.tune(SparkSession.builder())
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get("spark-local").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val sessionReadyMs = nowMs()

    val recorder = new Recorder
    val spans = mutable.ArrayBuffer.empty[Span]
    def span(name: String, parent: Int, attrs: Map[String, Any])(body: Int => Unit): Unit = {
      val id = spans.size
      spans += Span(name, parent, nowMs(), Double.NaN, attrs)
      try body(id) finally spans(id) = spans(id).copy(end = nowMs())
    }

    /** One query execution: its three phase times, its output digest, or
      * the error it threw. With `traced`, each phase is a span and its
      * jobs carry the phase's tag. */
    def execute(q: String, pass: Int, traced: Boolean, parent: Int): Map[String, Any] = {
      val r = mutable.LinkedHashMap[String, Any]("query" -> q)
      var df: DataFrame = null
      var querySpan = -1
      val dumping = pass == 0 && dump.isDefined
      var collected: Array[InternalRow] = null
      def phase(name: String)(body: => Unit): Unit = {
        if (traced) sc.setLocalProperty(Recorder.SpanKey, s"$pass/$q/$name")
        val t = System.nanoTime()
        try {
          if (traced) span(name, querySpan, Map("pass" -> pass, "query" -> q, "phase" -> name))(_ => body)
          else body
        } finally r(s"${name}_s") = (System.nanoTime() - t) / 1e9
      }
      if (traced) {
        querySpan = spans.size
        spans += Span("query", parent, nowMs(), Double.NaN, Map("pass" -> pass, "query" -> q))
      }
      val start = System.nanoTime()
      try {
        phase("construct") { df = all(q)(spark, dir) }
        phase("plan") { df.queryExecution.executedPlan }
        phase("exec") {
          if (dumping) {
            // the verification copy is the output this pass consumed, so
            // writing it needs no second execution of the plan
            collected = df.queryExecution.toRdd.map(_.copy()).collect()
            r("digest") = Digest.local(collected.iterator, df.queryExecution.executedPlan.schema).hex
          } else r("digest") = Digest.of(df).hex
        }
        if (traced) {
          val (scans, exchanges) = Recorder.planCounts(df.queryExecution.executedPlan)
          r("scans") = scans
          r("exchanges") = exchanges
        }
      } catch {
        case e: Throwable => r("error") = s"${e.getClass.getName}: ${e.getMessage}".take(500)
      } finally {
        r("latency_s") = (System.nanoTime() - start) / 1e9
        sc.setLocalProperty(Recorder.SpanKey, null)
        if (traced) spans(querySpan) = spans(querySpan).copy(end = nowMs())
      }
      if (dumping && collected != null) {
        val t = System.nanoTime()
        val schema = df.queryExecution.executedPlan.schema
        val toRow = CatalystTypeConverters.createToScalaConverter(schema)
        val rows = collected.map(toRow(_).asInstanceOf[Row]).toSeq.asJava
        try spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite")
          .parquet(s"${dump.get}/$q")
        catch { case e: Throwable => r("dump_error") = String.valueOf(e.getMessage).take(500) }
        r("dump_s") = (System.nanoTime() - t) / 1e9
      }
      spark.catalog.clearCache()
      r.toMap
    }

    /** One pass over the queries. Between two queries, and outside their
      * figures, the heap is collected: each query starts from the heap
      * the previous ones left live, and the collections that fall inside
      * a query show what that query held. A pass's wall, CPU and GC time
      * are the sums over its queries. */
    def runPass(pass: Int, traced: Boolean, runSpan: Int): Map[String, Any] = {
      settleHeapMb()
      var wall, cpu, gc, heapPeak = 0.0
      val det0 = detectionSeconds()
      val startMs = nowMs()
      val execs = mutable.ArrayBuffer.empty[Map[String, Any]]
      def body(parent: Int): Unit = queries.foreach { q =>
        val cpu0 = workCpuSeconds()
        val gc0 = gcMs()
        val t = System.nanoTime()
        execs += execute(q, pass, traced, parent)
        wall += (System.nanoTime() - t) / 1e9
        cpu += workCpuSeconds() - cpu0
        gc += (gcMs() - gc0) / 1e3
        heapPeak = math.max(heapPeak, settleHeapMb())
      }
      if (traced) span("pass", runSpan, Map("pass" -> pass))(body)
      else body(-1)
      Map("pass" -> pass, "traced" -> traced, "start_ms" -> startMs, "wall_s" -> wall,
        "cpu_s" -> cpu, "gc_s" -> gc,
        "detection_s" -> (detectionSeconds() - det0),
        "heap_peak_mb" -> heapPeak,
        "executions" -> execs.toSeq)
    }

    val warm = runPass(0, traced = false, -1)
    val setupEndMs = nowMs()

    val tables = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    if (trace) {
      sc.addSparkListener(recorder)
      spark.listenerManager.register(recorder)
      graft.Tables.names.foreach { name =>
        sc.setLocalProperty(Recorder.SpanKey, s"tables/$name/load")
        val t = System.nanoTime()
        graft.Tables.load(spark, dir, name)
        tables += Map("table" -> name, "load_s" -> (System.nanoTime() - t) / 1e9)
      }
      sc.setLocalProperty(Recorder.SpanKey, null)
    }
    val runSpan = spans.size
    spans += Span("run", -1, nowMs(), Double.NaN, Map.empty)
    val timedStart = System.nanoTime()
    var pass = 1
    // a traced run needs an untraced pass between two traced ones
    while ((System.nanoTime() - timedStart) / 1e9 < seconds || (trace && pass <= 3)) {
      passes += runPass(pass, trace && pass % 2 == 1, runSpan)
      pass += 1
    }
    spans(runSpan) = spans(runSpan).copy(end = nowMs())
    if (trace) Recorder.drain(recorder)

    val out = Map(
      "spark_version" -> spark.version,
      "cores" -> cores.toInt,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ready_ms" -> sessionReadyMs,
      "setup_end_ms" -> setupEndMs,
      "app_id" -> sc.applicationId,
      "warm" -> warm,
      "passes" -> passes.toSeq,
      "tables" -> tables.toSeq,
      "oracle_sql" -> graft.SparkEntry.oracleSql.filter { case (q, _) => queries.contains(q) },
      "spans" -> spans.zipWithIndex.map { case (s, i) =>
        Map("id" -> i, "name" -> s.name, "parent" -> s.parent, "start" -> s.start,
          "end" -> s.end) ++ s.attrs
      }.toSeq) ++ (if (trace) recorder.snapshot() else Map.empty)
    Files.writeString(Paths.get(args("out")), Json.encode(out))
    spark.stop()
  }
}

/** Minimal JSON encoder for the harness's result maps. */
object Json {
  def encode(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => encode(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + encode(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(encode).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
