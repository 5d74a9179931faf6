package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkEntry, Tables}
import graft.ops._

/** One measured JVM of the benchmark.
  *
  *   Runner --ops FILE --sf DIR[,DIR...] --out FILE
  *          [--warm DIR[,DIR...]] [--trace FILE --tables DIR]
  *
  * Builds a session configured like graft.Bench, makes one untimed
  * warm-up pass on each directory of `--warm`, prints READY, then makes one
  * pass over the operators of `--ops` (one name a line, in run order)
  * on each directory of `--sf`. Each is a copy of the same corpus read
  * by no earlier pass, so every pass meets its tables at a path no
  * cache has seen. A call is timed as `fn(spark, sfDir)` (build) plus an
  * action that reads every output column and returns an
  * order-independent checksum. Results go to `--out` as JSON; with
  * `--trace`, spans go to that file and each call carries its layer
  * counters, read from a SparkListener and a QueryExecutionListener
  * registered here; the tables the passes read are then loaded once
  * more, each on its own, from `--tables`. */
object Runner {
  val cores = 4

  val families: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "ScanOps" -> ScanOps.queries, "FilterOps" -> FilterOps.queries,
    "JoinOps" -> JoinOps.queries, "AggOps" -> AggOps.queries,
    "WindowOps" -> WindowOps.queries, "SortOps" -> SortOps.queries,
    "SetOpsFamily" -> SetOpsFamily.queries, "ScalarOps" -> ScalarOps.queries,
    "StreamOps" -> StreamOps.queries, "TextOps" -> TextOps.queries,
    "LlmOps" -> LlmOps.queries, "CorpusOps" -> CorpusOps.queries,
    "GraphOps" -> GraphOps.queries, "EtlOps" -> EtlOps.queries,
    "VecOps" -> VecOps.queries)

  val loaders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "region" -> Tables.region, "nation" -> Tables.nation,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", System.getProperty("java.io.tmpdir"))
      .config("spark.sql.warehouse.dir", System.getProperty("java.io.tmpdir") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Hashable form of a column. A map hashes in insertion order, so it
    * is hashed as its entries sorted; variants as their JSON text. */
  private def canon(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case VariantType => c.cast(StringType)
    case _ => c
  }

  /** The timed action: row count and the exact sum of one 64-bit hash
    * per row over every output column. The sum is order-independent
    * and, unlike `count()`, keeps every column in the plan. */
  def checksum(df: DataFrame): (Long, String, QueryExecution) = {
    val cols = df.schema.fields.toSeq.map(f => canon(df.col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val q = df.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)).as("n"), coalesce(sum("h"), lit(BigDecimal(0))).as("s"))
    val r = q.collect()(0)
    (r.getLong(0), r.getDecimal(1).toPlainString, q.queryExecution)
  }

  /** Host speed probe: a fixed loop over a 16 MB array, single-threaded
    * like the planning and scheduling that dominate these workloads. Its time
    * moves with the host (steal, co-tenants, frequency), never with
    * graft's code; timings are reported scaled by it. */
  private val probe = new Array[Long](1 << 21)
  @volatile private var probeSink = 0L
  def hostProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    for (_ <- 0 until 24) {
      var i = 0
      while (i < probe.length) { x = x * 6364136223846793005L + probe(i); probe(i) = x; i += 1 }
    }
    probeSink = x
    (System.nanoTime() - t0) / 1e9
  }

  // ---- host and process counters (/proc) ----

  private def readFile(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p)), UTF_8) catch { case _: Throwable => "" }

  /** (steal ticks, all ticks) from the aggregate cpu line of /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val f = readFile("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.fill(8)(0L))
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }

  def load1(): Double =
    readFile("/proc/loadavg").trim.split("\\s+").headOption.map(_.toDouble).getOrElse(0.0)

  /** (rchar, wchar) of this process from /proc/self/io. */
  def procIo(): (Long, Long) = {
    val kv = readFile("/proc/self/io").linesIterator.map(_.split(":\\s*"))
      .collect { case Array(k, v) => k -> v.trim.toLong }.toMap
    (kv.getOrElse("rchar", 0L), kv.getOrElse("wchar", 0L))
  }

  // ---- trace recorder ----

  final case class JobRec(id: Int, phase: String, start: Long, var end: Long)
  final case class QeRec(qe: QueryExecution, phases: Map[String, (Long, Long)])

  /** Collects listener events between two drains. Closed loop: one call
    * runs at a time and the bus is drained after it, so everything
    * taken at a drain belongs to the call that just ended. */
  final class Recorder extends SparkListener with QueryExecutionListener {
    val jobs = new ConcurrentLinkedQueue[JobRec]()
    val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val stagesDone = new ConcurrentLinkedQueue[Int]()
    val tasks = new ConcurrentLinkedQueue[(Int, org.apache.spark.executor.TaskMetrics)]()
    val qes = new ConcurrentLinkedQueue[QeRec]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val phase = Option(e.properties).flatMap(p => Option(p.getProperty("graftbench.phase"))).getOrElse("")
      jobs.add(JobRec(e.jobId, phase, e.time, -1L))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobEnds.put(e.jobId, e.time); () }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stagesDone.add(e.stageInfo.stageId); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) { tasks.add(e.stageId -> e.taskMetrics); () }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases.map { case (k, s) => k -> (s.startTimeMs, s.endTimeMs) }
      qes.add(QeRec(qe, ph)); ()
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

    /** Drops what the benchmark's own probes between calls recorded. */
    def clear(sc: org.apache.spark.SparkContext): Unit = {
      ListenerBusDrain(sc)
      Seq(jobs, stagesDone, tasks, qes).foreach(_.clear())
      jobEnds.clear()
    }

    def take[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
      val b = Seq.newBuilder[T]
      var x = q.poll()
      while (x != null) { b += x; x = q.poll() }
      b.result()
    }
  }

  /** JSON writer for the few shapes used here. */
  def js(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(js).mkString("[", ",", "]")
    case x => js(x.toString)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val sfDirs = opt("--sf").split(",").toSeq
    val names = Files.readAllLines(Paths.get(opt("--ops"))).asScala.map(_.trim).filter(_.nonEmpty).toSeq
    val tracePath = opt.get("--trace")
    val qs = SparkEntry.queries
    val familyOf = families.flatMap { case (f, m) => m.keys.map(_ -> f) }.toMap

    val spark = session()
    opt.get("--warm").toSeq.flatMap(_.split(",")).foreach { warm =>
      names.filter(qs.contains).foreach { n =>
        try checksum(qs(n)(spark, warm)) catch { case _: Throwable => () }
      }
    }
    (1 to 5).foreach(_ => hostProbe())
    println("READY")
    System.out.flush()

    val sc = spark.sparkContext
    val rec = tracePath.map { _ =>
      val r = new Recorder
      sc.addSparkListener(r)
      spark.listenerManager.register(r)
      r
    }
    val epoch0 = System.currentTimeMillis(); val nano0 = System.nanoTime()
    def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
    val spans = mutable.ArrayBuffer[String]()
    val tablesRead = mutable.LinkedHashSet[String]()
    var callId = 0

    def runCall(name: String, sfDir: String): mutable.LinkedHashMap[String, Any] = {
      callId += 1
      val out = mutable.LinkedHashMap[String, Any]("op" -> name, "call" -> callId)
      val fn = qs.get(name)
      rec.foreach(_.clear(sc))
      val io0 = procIo()
      sc.setLocalProperty("graftbench.phase", "build")
      val t0 = nowMs()
      var t1 = t0
      var actionQe: QueryExecution = null
      try {
        val df = fn.getOrElse(throw new NoSuchElementException(s"operator $name is not registered"))(spark, sfDir)
        t1 = nowMs()
        sc.setLocalProperty("graftbench.phase", "action")
        val (rows, sum, qe) = checksum(df)
        actionQe = qe
        out("rows") = rows; out("checksum") = sum; out("ok") = true
        if (rec.nonEmpty)
          df.inputFiles.foreach { f =>
            val p = Paths.get(new java.net.URI(f).getPath)
            if (p.getParent != null && p.getParent.toString == Paths.get(sfDir).toAbsolutePath.toString)
              tablesRead += p.getFileName.toString.stripSuffix(".parquet")
          }
      } catch { case e: Throwable =>
        if (t1 == t0) t1 = nowMs()
        out("ok") = false
        out("error") = (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)
      }
      val t2 = nowMs()
      sc.setLocalProperty("graftbench.phase", null)
      out("build_s") = (t1 - t0) / 1e3
      out("action_s") = (t2 - t1) / 1e3
      out("wall_s") = (t2 - t0) / 1e3
      rec.foreach { r =>
        ListenerBusDrain(sc)
        val io1 = procIo()
        val jobs = r.take(r.jobs).map { j =>
          j.end = Option(r.jobEnds.remove(j.id)).map(_.longValue).getOrElse(t2.toLong)
          if (j.phase.isEmpty) j.copy(phase = if (j.start < t1) "build" else "action") else j
        }
        val stages = r.take(r.stagesDone)
        val tasks = r.take(r.tasks)
        val qes = r.take(r.qes)
        def sumT(f: org.apache.spark.executor.TaskMetrics => Long) = tasks.map(t => f(t._2)).sum
        out("build_jobs") = jobs.count(_.phase == "build")
        out("jobs") = jobs.size
        out("stages") = stages.size
        out("tasks") = tasks.size
        out("empty_tasks") = tasks.count { case (_, m) =>
          m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0 }
        out("task_run_s") = sumT(_.executorRunTime) / 1e3
        out("task_cpu_s") = sumT(_.executorCpuTime) / 1e9
        out("gc_s") = sumT(_.jvmGCTime) / 1e3
        out("shuffle_read_bytes") = sumT(m => m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        out("shuffle_write_bytes") = sumT(_.shuffleWriteMetrics.bytesWritten)
        out("spill_bytes") = sumT(m => m.memoryBytesSpilled + m.diskBytesSpilled)
        out("input_bytes") = sumT(_.inputMetrics.bytesRead)
        out("output_bytes") = sumT(_.outputMetrics.bytesWritten)
        out("io_read_bytes") = io1._1 - io0._1
        out("io_write_bytes") = io1._2 - io0._2
        val cat = mutable.LinkedHashMap("analysis" -> 0.0, "optimization" -> 0.0, "planning" -> 0.0)
        def span(kind: String, parent: String, s: Double, e: Double, extra: (String, Any)*): Unit =
          spans += js(mutable.LinkedHashMap[String, Any]("call" -> callId, "op" -> name, "span" -> kind, "parent" -> parent, "start_ms" -> s, "end_ms" -> e) ++ extra)
        span("op", "", t0, t2)
        span("build", "op", t0, t1)
        span("action", "op", t1, t2)
        jobs.foreach(j => span("job", j.phase, j.start.toDouble, j.end.toDouble, "job" -> j.id))
        qes.foreach { q =>
          val parent = if (q.qe eq actionQe) "action"
            else if (q.phases.values.map(_._1).minOption.exists(_ < t1)) "build" else "action"
          Seq("analysis", "optimization", "planning").foreach { p =>
            q.phases.get(p).foreach { case (s, e) =>
              if (q.qe eq actionQe) cat(p) += (e - s) / 1e3
              span(p, parent, s.toDouble, e.toDouble)
            }
          }
        }
        cat.foreach { case (k, v) => out(s"catalyst_${k}_s") = v }
        out("persisted_rdds") = sc.getPersistentRDDs.size
        out("temp_views") = spark.catalog.listTables().collect().count(_.isTemporary)
        out("threads") = Thread.getAllStackTraces.keySet.asScala.count(t => t.isAlive && !t.isDaemon)
        out("family") = familyOf.getOrElse(name, "")
      }
      out
    }

    val passes = sfDirs.map { sfDir =>
      val probe_s = Seq.fill(3)(hostProbe()).min
      val (st0, all0) = cpuTicks(); val io0 = procIo()
      val p0 = System.nanoTime()
      val calls = names.map(runCall(_, sfDir))
      val wall = (System.nanoTime() - p0) / 1e9
      val (st1, all1) = cpuTicks(); val io1 = procIo()
      mutable.LinkedHashMap[String, Any](
        "wall_s" -> wall,
        "probe_s" -> probe_s,
        "steal_pct" -> (if (all1 > all0) 100.0 * (st1 - st0) / (all1 - all0) else 0.0),
        "load1" -> load1(),
        "io_read_bytes" -> (io1._1 - io0._1), "io_write_bytes" -> (io1._2 - io0._2),
        "calls" -> calls)
    }

    val tables = mutable.LinkedHashMap[String, Any]()
    for (r <- rec; dir <- opt.get("--tables")) {
      tablesRead.toSeq.sorted.filter(loaders.contains).foreach { t =>
        r.clear(sc)
        val t0 = System.nanoTime()
        loaders(t)(spark, dir)
        val s = (System.nanoTime() - t0) / 1e9
        ListenerBusDrain(sc)
        tables(t) = mutable.LinkedHashMap("s" -> s, "jobs" -> r.take(r.jobs).size)
      }
    }

    // Spark's ContextCleaner releases shuffles and broadcasts from its
    // own thread once their references are collected, so collect until
    // the live heap stops shrinking.
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def liveHeap(): Long = { System.gc(); Thread.sleep(200); System.gc(); mem.getHeapMemoryUsage.getUsed }
    var (prev, heap, rounds) = (Long.MaxValue, liveHeap(), 1)
    while (heap < prev * 0.99 && rounds < 10) { prev = heap; heap = liveHeap(); rounds += 1 }
    val result = mutable.LinkedHashMap[String, Any](
      "registered" -> qs.keys.toSeq.sorted,
      "boot_id" -> readFile("/proc/sys/kernel/random/boot_id").trim,
      "heap_live_mb" -> heap / 1048576.0,
      "tables" -> tables,
      "passes" -> passes)
    Files.write(Paths.get(opt("--out")), js(result).getBytes(UTF_8))
    tracePath.foreach(p => Files.write(Paths.get(p), spans.mkString("", "\n", "\n").getBytes(UTF_8)))
    spark.stop()
    sys.exit(0) // a thread an operator left running must not keep the JVM up
  }
}
