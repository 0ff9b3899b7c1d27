package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

import org.apache.spark.perfbench.Drain

import graft.{BuildLog, SparkEntry}

/** JVM side of the benchmark. It calls only public entry points of the
  * program (`SparkEntry.queries`, `BuildLog.snapshot`) and measures from
  * outside: its own clocks around each call, a `SparkListener` and a
  * `StreamingQueryListener` it registers itself. It writes raw
  * measurements as JSON; `perfbench/run.py` turns them into metrics.
  *
  * Modes (first argument):
  *   run      --sf D --rows a,b --warmup K --warm W --seed N --seconds S --trace 0|1 --out F
  *   classify --sf D --rows a,b --out F
  *   dump     --sf D --rows a,b --dir OUT --out F
  *   list     --sf D --out F
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val jvmUpS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val sf = opts("sf")
    val out = new File(opts("out"))
    val json = args(0) match {
      case "run" => run(sf, opts("rows").split(",").toSeq, opts("seed").toLong,
        opts("seconds").toDouble, opts("trace") == "1", opts("warmup").toInt, opts("warm").toInt,
        jvmUpS)
      case "classify" => classify(sf, opts("rows").split(",").toSeq)
      case "dump" => dump(sf, opts("rows").split(",").toSeq, opts("dir"))
      case "list" =>
        def names(ks: Iterable[String]) = ks.toSeq.sorted.map(Json.str).mkString("[", ",", "]")
        val oracles = SparkEntry.oracleSql.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
        s"""{"rows":${names(SparkEntry.queries.keys)},"oracle_sql":$oracles}"""
    }
    Files.write(out.toPath, json.getBytes(UTF_8))
    // Streaming and pool threads must not keep the JVM alive.
    System.exit(0)
  }

  // ---- session -----------------------------------------------------------

  val cpus: Int = Runtime.getRuntime.availableProcessors()
  private def tmpDir = new File(sys.props("java.io.tmpdir"))

  /** Built the way `graft.Bench` builds its session. */
  def session(extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .config(extra)
      .config("spark.sql.extensions",
        classOf[graft.plans.GraftSparkSessionExtensions].getName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The warm-up `graft.Bench` runs before its first timed query: one
    * parquet read and one micro-batch, so class loading is set-up. */
  def warmup(spark: SparkSession, sf: String): Unit = {
    graft.Tables.region(spark, sf).count()
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sqlContext
    import spark.implicits._
    val ms = MemoryStream[Long]
    ms.addData(1L)
    val q = ms.toDS().groupBy().count().writeStream
      .outputMode("complete").format("memory").queryName("perfbench_warmup")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.catalog.dropTempView("perfbench_warmup")
  }

  // ---- measurements taken from outside the program -----------------------

  @volatile private var probeSink = 0L

  /** JVM port of the 1e8-add busy loop in tools/throttle_watch.sh. The
    * shift-xor chain keeps the JIT from folding or vectorising it. A
    * run condition for the reader; no metric is divided by it. */
  def probe(): Double = {
    val t0 = System.nanoTime()
    var s = 0L
    var i = 0L
    while (i < 100000000L) { s += i ^ (s >>> 7); i += 1 }
    probeSink = s
    (System.nanoTime() - t0) / 1e9
  }

  def bytesUnder(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)

  def buildCount(): Int = BuildLog.snapshot().valuesIterator.map(_.size).sum

  /** Classes Spark's whole-stage code generator has compiled so far. */
  def codegenCount(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Row count and an order-insensitive digest of the rows, columns in
    * name order: the sum and xor of a 64-bit hash of every row. */
  def digest(df: DataFrame): (Long, String) = {
    val names = df.columns
    val renamed = df.toDF(names.indices.map(i => s"c$i"): _*)
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case ArrayType(e, _) => hasMap(e)
      case StructType(fs) => fs.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val cols = names.indices.sortBy(i => (names(i), i)).map { i =>
      val c = col(s"c$i")
      // xxhash64 rejects maps; their string form is deterministic
      if (hasMap(renamed.schema(i).dataType)) c.cast("string") else c
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = renamed.select(h.as("h")).agg(
      count(lit(1)),
      sum(col("h").bitwiseAND(0xffffffffL)),
      sum(shiftrightunsigned(col("h"), 32)),
      bit_xor(col("h"))).head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    (l(0), f"${l(0)}%x-${l(1)}%x-${l(2)}%x-${l(3)}%016x")
  }

  /** Task counters, attributed to (pass, statement, phase, graft phase)
    * through local properties the harness sets on its own thread; Spark
    * copies them to the threads a statement starts. */
  final class Tracer extends SparkListener {
    private val jobKey = mutable.Map.empty[Int, Key]
    private val stageKey = mutable.Map.empty[Int, Key]
    val counters = mutable.LinkedHashMap.empty[Key, Array[Long]]
    val jobs = mutable.ArrayBuffer.empty[String]

    private def add(k: Key, i: Int, v: Long): Unit =
      counters.getOrElseUpdate(k, new Array[Long](Tracer.Fields.size))(i) += v

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = e.properties
      val seq = Option(p).flatMap(x => Option(x.getProperty("perfbench.seq")))
      seq.foreach { s =>
        val desc = Option(p.getProperty("spark.job.description")).getOrElse("")
        val graftPhase =
          if (desc.startsWith("graft: ")) desc.stripPrefix("graft: ").replace(' ', '_') else ""
        val k = Key(p.getProperty("perfbench.pass").toInt, s.toInt,
          p.getProperty("perfbench.phase"), graftPhase)
        jobKey(e.jobId) = k
        e.stageIds.foreach(stageKey(_) = k)
        add(k, 0, 1)
        jobs += s"""{"job":${e.jobId},"pass":${k.pass},"seq":${k.seq},"phase":"${k.phase}","desc":${Json.str(desc)},"start_ms":${e.time}}"""
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobKey.remove(e.jobId).foreach(_ =>
        jobs += s"""{"job":${e.jobId},"end_ms":${e.time}}""")
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageKey.get(e.stageInfo.stageId).foreach(add(_, 1, 1))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageKey.get(e.stageId).foreach { k =>
        add(k, 2, 1)
        val m = e.taskMetrics
        if (m != null) {
          add(k, 3, m.executorRunTime)
          add(k, 4, m.executorCpuTime)
          add(k, 5, m.jvmGCTime)
          add(k, 6, m.shuffleWriteMetrics.bytesWritten)
          add(k, 7, m.shuffleReadMetrics.totalBytesRead)
          add(k, 8, m.shuffleReadMetrics.fetchWaitTime)
          add(k, 9, m.diskBytesSpilled)
          add(k, 10, m.inputMetrics.bytesRead)
          add(k, 11, m.outputMetrics.bytesWritten)
          add(k, 12, m.outputMetrics.recordsWritten)
        }
      }
    }
  }
  final case class Key(pass: Int, seq: Int, phase: String, graft: String)
  object Tracer {
    val Fields = Seq("jobs", "stages", "tasks", "task_ms", "cpu_ns", "gc_ms",
      "shuffle_write_b", "shuffle_read_b", "fetch_wait_ms", "spill_disk_b",
      "input_b", "output_b", "output_records")
  }

  /** Micro-batch progress; attributed to statements by time in run.py. */
  final class Batches extends StreamingQueryListener {
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var started = 0
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = started += 1
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      val ops = Option(p.stateOperators).getOrElse(Array.empty)
      val durations = d.keySet.toArray.map(_.toString).sorted
        .map(k => s""""$k":${d.get(k)}""").mkString("{", ",", "}")
      batches.add(s"""{"start_ms":${java.time.Instant.parse(p.timestamp).toEpochMilli},""" +
        s""""input_rows":${p.numInputRows},"durations":$durations,""" +
        s""""state_rows":${ops.map(_.numRowsTotal).sum},""" +
        s""""state_b":${ops.map(_.memoryUsedBytes).sum},""" +
        s""""state_commit_ms":${ops.map(_.commitTimeMs).sum}}""")
    }
  }

  // ---- modes ---------------------------------------------------------------

  private val epoch0Ms = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** Monotonic clock on the epoch scale listener events use. */
  def nowMs(): Double = epoch0Ms + (System.nanoTime() - nano0) / 1e6

  def run(sf: String, rows: Seq[String], seed: Long, seconds: Double,
      trace: Boolean, warmupPasses: Int, warm: Int, jvmUpS: Double): String = {
    val fns = rows.map(n => n -> SparkEntry.queries(n))
    val probeStart = probe()
    val setupJson = mutable.ArrayBuffer.empty[String]
    var spark: SparkSession = null
    for (_ <- 1 to 3) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session()
      val t1 = System.nanoTime()
      warmup(spark, sf)
      val t2 = System.nanoTime()
      setupJson += s"""{"session_s":${(t1 - t0) / 1e9},"warmup_s":${(t2 - t1) / 1e9}}"""
    }
    val sc = spark.sparkContext
    val tracer = new Tracer
    val batches = new Batches
    val rnd = new scala.util.Random(seed)
    val passes = mutable.ArrayBuffer.empty[String]
    // pass 0 is cold; passes 1..warmupPasses let the JIT settle; the passes
    // after them are measured, at least `warm` of them and for at least
    // `seconds` seconds
    val minWarm = if (trace) math.max(warm, 4) else warm
    val deadline = 60.0
    var seq = 0
    var measuredStart = 0L
    def measuredS = (System.nanoTime() - measuredStart) / 1e9
    var p = 0
    while (p <= warmupPasses + minWarm || (measuredS < seconds && measuredS < deadline)) {
      if (p == warmupPasses + 1) measuredStart = System.nanoTime()
      // traced runs trace the cold pass, then run the measured passes
      // untraced, traced, traced, untraced, ...: the tracing overhead is
      // measured inside one JVM, and a drift across passes cancels out
      val measured = p - warmupPasses - 1
      val traced = trace && (p == 0 || (measured >= 0 && (measured % 4 == 1 || measured % 4 == 2)))
      if (traced) { sc.addSparkListener(tracer); spark.streams.addListener(batches) }
      val builds0 = buildCount()
      val codegen0 = codegenCount()
      val passStart = System.nanoTime()
      val stmts = rnd.shuffle(fns).map { case (name, fn) =>
        seq += 1
        def phase(ph: String): Unit = if (traced) {
          sc.setLocalProperty("perfbench.pass", p.toString)
          sc.setLocalProperty("perfbench.seq", seq.toString)
          sc.setLocalProperty("perfbench.phase", ph)
        }
        BuildLog.setCurrent(name)
        val t = Array.fill(4)(Double.NaN)
        var rowsOut = -1L
        var dig = ""
        var err = ""
        try {
          phase("fn"); t(0) = nowMs()
          val df = fn(spark, sf)
          phase("plan"); t(1) = nowMs()
          df.queryExecution.executedPlan
          phase("exec"); t(2) = nowMs()
          df.count()
          t(3) = nowMs()
          phase("check")
          val (n, d) = digest(df)
          rowsOut = n; dig = d
        } catch { case e: Throwable =>
          err = String.valueOf(e.getMessage).take(300)
          // a failed statement's latency runs until it failed
          val now = nowMs()
          for (i <- t.indices if t(i).isNaN) t(i) = now
        }
        if (traced) Seq("perfbench.pass", "perfbench.seq", "perfbench.phase")
          .foreach(sc.setLocalProperty(_, null))
        BuildLog.setCurrent("")
        s"""{"seq":$seq,"name":"$name","t_ms":[${t.mkString(",")}],""" +
          s""""rows":$rowsOut,"digest":"$dig","error":${Json.str(err)}}"""
      }
      val passWall = (System.nanoTime() - passStart) / 1e9
      if (traced) {
        Drain(sc)
        sc.removeSparkListener(tracer); spark.streams.removeListener(batches)
      }
      val storageB = sc.getRDDStorageInfo.map(_.memSize).sum
      // directories only: files directly in tmpdir are native libraries
      // the JVM unpacks, not data the program left behind
      val diskB = Option(tmpDir.listFiles()).toSeq.flatten.filter(_.isDirectory)
        .map(bytesUnder).sum
      passes += s"""{"pass":$p,"traced":$traced,"elapsed_s":$passWall,""" +
        s""""builds_before":$builds0,"builds_after":${buildCount()},"storage_b":$storageB,""" +
        s""""codegen_before":$codegen0,"codegen_after":${codegenCount()},""" +
        s""""tier_b":${bytesUnder(new File(tmpDir, "graft_shared"))},""" +
        s""""disk_b":$diskB,"stmts":${stmts.mkString("[", ",", "]")}}"""
      p += 1
    }
    val probeEnd = probe()
    val counters = tracer.counters.map { case (k, v) =>
      s"""{"pass":${k.pass},"seq":${k.seq},"phase":"${k.phase}","graft":"${k.graft}",""" +
        Tracer.Fields.zip(v).map { case (f, x) => s""""$f":$x""" }.mkString(",") + "}"
    }
    spark.stop()
    s"""{"jvm_up_s":$jvmUpS,"probe_start_s":$probeStart,"probe_end_s":$probeEnd,""" +
      s""""cpus":$cpus,"xmx_b":${Runtime.getRuntime.maxMemory},"warmup":$warmupPasses,""" +
      s""""setups":${setupJson.mkString("[", ",", "]")},""" +
      s""""passes":${passes.mkString("[", ",", "]")},""" +
      s""""counters":${counters.mkString("[", ",", "]")},""" +
      s""""jobs":${tracer.jobs.mkString("[", ",", "]")},""" +
      s""""batches":${batches.batches.toArray.mkString("[", ",", "]")}}"""
  }

  /** For each row, run alone the way a fresh JVM with an empty artifact
    * tier would run it: a new session (so `Memo` is cold) and empty
    * tier, scratch and warehouse directories. Does it start a streaming
    * query, create files (seen through [[CountingLocalFileSystem]], so
    * files a row writes and deletes again count), or record a
    * `BuildLog` build? */
  def classify(sf: String, rows: Seq[String]): String = {
    val base = session(Map("spark.hadoop.fs.file.impl" -> classOf[CountingLocalFileSystem].getName))
    warmup(base, sf)
    val warehouse = new File(base.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    def empty(f: File): Unit = Option(f.listFiles()).toSeq.flatten.foreach { k =>
      if (k.isDirectory) { empty(k); k.delete() } else k.delete()
    }
    // the artifact tier and checkpoints are caches, not the row's output
    def cache(path: String) = path.contains("/graft_shared/") || path.contains("/graft_ckpt/")
    rows.map { row =>
      Option(tmpDir.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && (f.getName == "graft_shared" ||
          f.getName.startsWith("graft_scratch_"))).foreach(empty)
      empty(warehouse)
      val spark = base.newSession()
      val batches = new Batches
      spark.streams.addListener(batches)
      CountingLocalFileSystem.created.clear()
      val builds0 = BuildLog.snapshot().getOrElse(row, Nil).size
      BuildLog.setCurrent(row)
      val t0 = System.nanoTime()
      val err = try { SparkEntry.queries(row)(spark, sf).count(); "" }
        catch { case e: Throwable => String.valueOf(e.getMessage).take(300) }
      val latency = (System.nanoTime() - t0) / 1e9
      BuildLog.setCurrent("")
      Drain(spark.sparkContext)
      spark.streams.active.foreach(_.stop())
      spark.streams.removeListener(batches)
      val written = CountingLocalFileSystem.created.toArray.map(_.toString)
        .filterNot(cache).distinct.sorted
      val builds = BuildLog.snapshot().getOrElse(row, Nil).drop(builds0)
      System.err.println(s"[perfbench] classified $row")
      s"""{"name":"$row","streaming":${batches.started > 0},"written":${written.length},""" +
        s""""written_sample":${written.take(3).map(Json.str).mkString("[", ",", "]")},""" +
        s""""builds":${builds.map(Json.str).mkString("[", ",", "]")},""" +
        s""""latency_s":$latency,"error":${Json.str(err)}}"""
    }.mkString("[", ",", "]")
  }

  /** Count, digest and a parquet copy of each row's output, for the
    * expected values and the DuckDB oracle compare. */
  def dump(sf: String, rows: Seq[String], dir: String): String = {
    val spark = session()
    warmup(spark, sf)
    rows.map { name =>
      val r = try {
        val df = SparkEntry.queries(name)(spark, sf)
        df.queryExecution.executedPlan
        df.count()
        val (n, d) = digest(df)
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
        s"""{"rows":$n,"digest":"$d","error":""}"""
      } catch { case e: Throwable =>
        s"""{"rows":-1,"digest":"","error":${Json.str(String.valueOf(e.getMessage).take(300))}}"""
      }
      s"${Json.str(name)}:$r"
    }.mkString("{", ",", "}")
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
