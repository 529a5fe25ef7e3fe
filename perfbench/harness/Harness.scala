// The benchmark's closed-loop client. It runs inside the program's JVM,
// calls the public query functions one at a time, and records raw
// timings, result hashes and (when traced) spans plus Spark listener
// events into one JSON file. perfbench/run.py turns that file into
// metrics. Nothing here changes the program: every call goes through
// the same entry points `graft.Bench` uses, and the traced run only
// wraps them.
package org.apache.spark {
  /** Drains the listener bus so per-pass listener totals are complete
    * before they are read (`waitUntilEmpty` is private to Spark). */
  object PerfbenchBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package graft.perfbench {

  import java.io.File
  import java.lang.management.ManagementFactory
  import java.util.concurrent.ConcurrentLinkedQueue

  import scala.collection.mutable.ArrayBuffer
  import scala.jdk.CollectionConverters._

  import com.fasterxml.jackson.databind.ObjectMapper
  import org.apache.spark.PerfbenchBus
  import org.apache.spark.scheduler._
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.streaming.StreamingQueryListener
  import org.apache.spark.storage.RDDBlockId

  import graft.{Queries, Tables}
  import graft.functions.NativeText
  import graft.operators.SimilarityOps

  /** One timed interval. Spans of one query invocation share `trace`. */
  final case class Span(id: Int, parent: Int, name: String, trace: String,
                        pass: Int, startMs: Double, var endMs: Double = 0,
                        attrs: scala.collection.mutable.Map[String, Any] =
                          scala.collection.mutable.LinkedHashMap())

  /** Listener: in an untraced pass it only sums shuffle bytes written
    * (a count, no timing); in a traced pass it also keeps every job,
    * per-stage task aggregates and RDD block stores. */
  final class Recorder extends SparkListener {
    @volatile var traced = false
    val shuffleWritten = new java.util.concurrent.atomic.AtomicLong()
    val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()
    val stageInfo = new ConcurrentLinkedQueue[Map[String, Any]]()
    val blocks = new ConcurrentLinkedQueue[Array[Double]]()
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Seq[Int])]()

    // per-stage task aggregates, in this order
    val Fields = Seq("tasks", "cpu_s", "run_s", "gc_s", "max_task_s",
      "shuffle_write_b", "shuffle_write_rec", "shuffle_write_s",
      "shuffle_read_b", "shuffle_read_rec", "fetch_wait_s",
      "input_b", "input_rec", "input_tasks", "output_b",
      "spill_mem_b", "spill_disk_b", "peak_exec_mem_b")
    // unit conversion of the raw task metrics to seconds (ns / ms fields)
    private val Scale = Seq(1, 1e-9, 1e-3, 1e-3, 1e-3, 1, 1, 1e-9, 1, 1, 1e-3,
      1, 1, 1, 1, 1, 1, 1)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      shuffleWritten.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      if (!traced) return
      val a = stages.computeIfAbsent(e.stageId, _ => new Array[Double](Fields.size))
      a.synchronized {
        val v = Seq[Long](1, m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
          e.taskInfo.duration, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleWriteMetrics.recordsWritten, m.shuffleWriteMetrics.writeTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
          m.shuffleReadMetrics.fetchWaitTime, m.inputMetrics.bytesRead,
          m.inputMetrics.recordsRead, if (m.inputMetrics.bytesRead > 0) 1 else 0,
          m.outputMetrics.bytesWritten, m.memoryBytesSpilled, m.diskBytesSpilled,
          m.peakExecutionMemory).map(_.toDouble).zip(Scale).map { case (x, k) => x * k }
        v.indices.foreach { i =>
          if (Fields(i) == "max_task_s" || Fields(i) == "peak_exec_mem_b")
            a(i) = math.max(a(i), v(i))
          else a(i) += v(i)
        }
      }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Harness.SpanProp))).getOrElse("")
      jobStart.put(e.jobId, (e.time, span, e.stageIds))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced) {
      Option(jobStart.remove(e.jobId)).foreach { case (t0, span, stageIds) =>
        jobs.add(Map("id" -> e.jobId, "start_ms" -> t0.toDouble,
          "end_ms" -> e.time.toDouble, "span" -> span,
          "stages" -> stageIds.asJava))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (traced) {
      val s = e.stageInfo
      stageInfo.add(Map("id" -> s.stageId, "num_tasks" -> s.numTasks,
        "submit_ms" -> s.submissionTime.getOrElse(0L).toDouble,
        "complete_ms" -> s.completionTime.getOrElse(0L).toDouble))
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (traced) {
      val b = e.blockUpdatedInfo
      if (b.blockId.isInstanceOf[RDDBlockId] && b.storageLevel.isValid)
        blocks.add(Array(System.currentTimeMillis().toDouble,
          (b.memSize + b.diskSize).toDouble))
    }

    def stageTable: java.util.List[java.util.Map[String, Any]] =
      stageInfo.asScala.toSeq.map { s =>
        val agg = Option(stages.get(s("id").asInstanceOf[Int]))
          .getOrElse(new Array[Double](Fields.size))
        (s ++ Fields.zip(agg.toSeq)).asJava
      }.asJava
  }

  /** Streaming listener: in a traced pass it keeps each micro-batch's
    * trigger start (epoch ms), trigger wall time (ms) and input rows. */
  final class StreamRecorder(recorder: Recorder) extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[Array[Double]]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (recorder.traced) {
        val p = e.progress
        batches.add(Array(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0),
          p.numInputRows.toDouble))
      }
  }

  /** One persisted index family: the query that builds and probes it,
    * the index dir (through the program's public accessor), its
    * compaction, and a re-probe of the compacted index that must answer
    * exactly as the query did. */
  final case class Family(name: String, query: String,
                          dir: (SparkSession, String) => String,
                          compact: (SparkSession, String) => Unit,
                          reprobe: (SparkSession, String, String) => DataFrame)

  /** A workload: the queries of one pass, the tables its set-up warms,
    * the write-once fixtures its set-up builds through the program's
    * public accessors, and the index families compacted and re-probed
    * after the queries of every pass (their fixture dirs are wiped
    * before every pass, so each pass builds the index anew). */
  final case class Workload(queries: Seq[String], tables: Seq[String],
                            fixtures: Seq[(SparkSession, String) => Any],
                            families: Seq[Family] = Nil)

  object Harness {
    val SpanProp = "perfbench.span"

    private def emb(s: SparkSession, d: String) = Tables.embeddings(s, d)

    val Workloads: Map[String, Workload] = Map(
      "wordcount" -> Workload(
        Seq("wordcount", "wordcount_per_source", "distinct_words", "packets_baseline",
          "wordcount_textscan"),
        Seq("documents"),
        // the raw-text fixture is written by the query function itself
        Seq((s, d) => Queries.queries("wordcount_textscan")(s, d))),
      // driver-bound loops next to index maintenance and a stream: the
      // trade-graph BFS fixpoint, the IVF index built, upserted,
      // tombstoned, compacted and re-probed, and the events streamed
      // into a day-partitioned sink, from wiped fixture dirs every pass
      "iterative" -> Workload(
        Seq("bfs_hops_fixpoint", "ann_ivf_delete", "streamed_day_counts"),
        Seq("orders", "lineitem", "embeddings", "events"), Nil,
        Seq(Family("ivf", "ann_ivf_delete",
          (s, d) => SimilarityOps.ivfDeleteIndexDir(emb(s, d), d, 98, 16, 1, 0.0),
          SimilarityOps.compactIvfLists,
          (s, d, dir) => SimilarityOps.indexedSearch(emb(s, d),
            s.read.parquet(SimilarityOps.upsertCentroidsDir(emb(s, d), d, 98, 16, 1, 0.0)),
            s.read.parquet(dir), nprobe = 3, nProbes = 10, k = 10)))))

    // ---- state ------------------------------------------------------
    private val mapper = new ObjectMapper()
    private val spans = ArrayBuffer[Span]()
    private var spark: SparkSession = _
    private var recorder: Recorder = _
    private var streams: StreamRecorder = _
    private val wallAnchorMs = System.currentTimeMillis().toDouble
    private val nanoAnchor = System.nanoTime()
    private def nowMs: Double = wallAnchorMs + (System.nanoTime() - nanoAnchor) / 1e6
    private val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    private def cpuS: Double = osBean.getProcessCpuTime / 1e9
    // time the JIT compiler threads spent compiling, summed over threads
    private val jitBean = ManagementFactory.getCompilationMXBean
    private def jitS: Double = jitBean.getTotalCompilationTime / 1e3
    // time the collectors spent collecting, summed over collectors
    private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    private def gcS: Double = gcBeans.map(_.getCollectionTime).sum / 1e3

    private var tracing = false

    /** Run `body` inside a span; jobs it starts carry the span id.
      * Untraced, no span is kept. */
    private def span[T](name: String, parent: Int, trace: String, pass: Int)
                       (body: Span => T): T = if (!tracing) body(Span(-1, parent, name, trace, pass, 0)) else {
      val s = Span(spans.size, parent, name, trace, pass, nowMs)
      spans += s
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body(s) finally {
        s.endMs = nowMs
        sc.setLocalProperty(SpanProp, prev)
      }
    }

    /** Order-independent digest of every row and column: row count
      * plus the decimal sum of per-row xxhash64 values. */
    def resultHash(df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n"),
        sum(xxhash64(df.columns.map(c => df.col(s"`$c`")).toSeq: _*)
          .cast("decimal(20,0)")).as("h"))

    def hashString(hashed: DataFrame): String = {
      val r = hashed.collect()(0)
      s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("null")}"
    }

    /** build -> plan -> action for one query function. */
    private def timedQuery(trace: String, pass: Int, parent: Int)
                          (build: => DataFrame): String =
      span("query", parent, trace, pass) { q =>
        val df = span("build", q.id, trace, pass)(_ => build)
        val hashed = span("plan", q.id, trace, pass) { p =>
          val h = resultHash(df)
          h.queryExecution.executedPlan
          if (tracing) p.attrs("nodes") = h.queryExecution.optimizedPlan.collect { case n => n }.size
          h
        }
        span("action", q.id, trace, pass)(_ => hashString(hashed))
      }

    private def session(cores: Int): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    private def tmpDir = new File(sys.props("java.io.tmpdir"))

    private def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array()).foreach(rm)
      f.delete(); ()
    }

    /** Every write-once fixture and scratch dir the program keeps
      * under java.io.tmpdir (`graft_*`). */
    private def fixtureDirs: Seq[File] =
      Option(tmpDir.listFiles()).getOrElse(Array()).toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("graft_"))

    private def treeStats(fs: Seq[File]): (Long, Long) = {
      def one(f: File): (Long, Long) =
        if (f.isDirectory) treeStats(Option(f.listFiles()).getOrElse(Array()).toSeq)
        else if (f.exists()) (1L, f.length) else (0L, 0L)
      fs.map(one).foldLeft((0L, 0L)) { case (a, b) => (a._1 + b._1, a._2 + b._2) }
    }

    private def cleanBetweenQueries(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
    }

    /** One pass: every query of the workload, then compaction and
      * re-probe of every index family. Returns the pass record and the
      * result hash of each query. With `dump` set (the first, untimed
      * pass), each result is written there for the oracle comparison
      * and hashed from the written files. */
    private def runPass(w: Workload, sf: String, pass: Int, traced: Boolean,
                        dump: Option[String], reference: Map[String, String],
                        failures: ArrayBuffer[String]): (java.util.Map[String, Any], Map[String, String]) = {
      if (w.families.nonEmpty) fixtureDirs.foreach(rm)
      PerfbenchBus.drain(spark.sparkContext)
      recorder.traced = traced
      tracing = traced
      val passSpan = Span(if (traced) spans.size else -1, -1, "pass", s"p$pass", pass, nowMs)
      if (traced) spans += passSpan
      val samples = new java.util.ArrayList[java.util.Map[String, Any]]()
      val hashes = scala.collection.mutable.LinkedHashMap[String, String]()
      var wall = 0.0
      var cpu = 0.0
      var jit = 0.0
      var gc = 0.0
      // cleanup between queries is not timed
      def timed[T](body: => T): T = {
        cleanBetweenQueries()
        val (w0, c0, j0, g0) = (nowMs, cpuS, jitS, gcS)
        try body finally {
          wall += (nowMs - w0) / 1e3; cpu += cpuS - c0; jit += jitS - j0; gc += gcS - g0
        }
      }
      def check(what: String, h: String, expected: Option[String]): Unit =
        if (expected.exists(_ != h))
          failures += s"pass $pass $what: result hash $h differs from ${expected.get}"
      val shuffle0 = recorder.shuffleWritten.get()
      w.queries.foreach { q =>
        var t0 = 0.0
        val res = timed {
          t0 = nowMs
          try Right(dump match {
            case None => timedQuery(s"p$pass/$q", pass, passSpan.id)(Queries.queries(q)(spark, sf))
            case Some(d) =>
              // the warm pass writes each result once and hashes what it wrote
              Queries.queries(q)(spark, sf).write.mode("overwrite").parquet(s"$d/$q")
              hashString(resultHash(spark.read.parquet(s"$d/$q")))
          })
          catch { case e: Throwable => Left(e) }
        }
        val latency = (nowMs - t0) / 1e3
        res match {
          case Right(h) =>
            hashes(q) = h
            check(q, h, reference.get(q))
            samples.add(Map[String, Any]("query" -> q, "latency_s" -> latency,
              "hash" -> h).asJava)
          case Left(e) =>
            failures += s"pass $pass $q: ${e.getClass.getSimpleName}: ${e.getMessage}"
            samples.add(Map[String, Any]("query" -> q, "latency_s" -> latency,
              "error" -> String.valueOf(e.getMessage).take(300)).asJava)
        }
      }
      val index = new java.util.ArrayList[java.util.Map[String, Any]]()
      w.families.foreach { f =>
        val trace = s"p$pass/${f.name}.maintenance"
        timed {
          try {
            val dir = f.dir(spark, sf)
            span("compact", passSpan.id, trace, pass)(_ => f.compact(spark, dir))
            val h = span("reprobe", passSpan.id, trace, pass) { r =>
              timedQuery(trace, pass, r.id)(f.reprobe(spark, sf, dir))
            }
            val (files, bytes) = treeStats(Seq(new File(dir)))
            index.add(Map[String, Any]("family" -> f.name, "files" -> files,
              "bytes" -> bytes, "hash" -> h).asJava)
            check(s"${f.name} re-probe after compaction", h, hashes.get(f.query))
          } catch {
            case e: Throwable =>
              failures += s"pass $pass ${f.name} maintenance: ${e.getClass.getSimpleName}: ${e.getMessage}"
          }
        }
      }
      passSpan.endMs = nowMs
      PerfbenchBus.drain(spark.sparkContext)
      val (scratch, fixtures) = fixtureDirs.partition(_.getName.startsWith("graft_scratch_"))
      val (scratchFiles, scratchBytes) = treeStats(scratch)
      val (fixFiles, fixBytes) = treeStats(fixtures)
      val out = new java.util.LinkedHashMap[String, Any]()
      out.put("pass", pass)
      out.put("traced", traced)
      out.put("span", passSpan.id)
      out.put("wall_s", wall)
      out.put("cpu_s", cpu)
      out.put("jit_s", jit)
      out.put("gc_s", gc)
      out.put("shuffle_write_b", recorder.shuffleWritten.get() - shuffle0)
      out.put("samples", samples)
      out.put("index", index)
      out.put("fixture_files", fixFiles)
      out.put("fixture_b", fixBytes)
      out.put("scratch_files", scratchFiles)
      out.put("scratch_b", scratchBytes)
      (out, hashes.toMap)
    }

    /** Direct public-call probe of the native tokenizer over the
      * workload's corpus: the `functions` layer timed on its own. */
    private def tokenizeProbe(sf: String, pass: Int): java.util.Map[String, Any] = {
      NativeText.register(spark)
      val d = Tables.documents(spark, sf)
      val t0 = nowMs
      val tokens = span("tokenize", -1, s"p$pass/tokenize", pass) { _ =>
        d.agg(sum(size(NativeText.tokens(col("text"))).cast("long"))).collect()(0).getLong(0)
      }
      Map[String, Any]("pass" -> pass, "tokens" -> tokens,
        "seconds" -> (nowMs - t0) / 1e3).asJava
    }

    def main(args: Array[String]): Unit = {
      val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
      if (opts.get("mode").contains("selftest")) { selfTest(opts); return }
      val w = Workloads(opts("workload"))
      val sf = opts("sf")
      val passes = opts("passes").toInt
      val warmPasses = opts("warm-passes").toInt
      val traced = opts("trace") == "1"
      val setups = opts("setups").toInt
      val cores = opts("cores").toInt
      val dump = opts("dump")
      val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
      val failures = ArrayBuffer[String]()

      recorder = new Recorder
      streams = new StreamRecorder(recorder)
      // set-up: a fresh session with the listeners, the workload's
      // tables read once, and its write-once fixtures built
      val setupPhases = new java.util.ArrayList[java.util.Map[String, Double]]()
      def setUp(t0: Double): Double = {
        if (spark != null) { spark.stop(); fixtureDirs.foreach(rm) }
        spark = session(cores)
        spark.sparkContext.addSparkListener(recorder)
        spark.streams.addListener(streams)
        val t1 = nowMs
        w.tables.foreach(t => Tables.load(spark, sf, t).count())
        val t2 = nowMs
        w.fixtures.foreach(_(spark, sf))
        setupPhases.add(Map("session_s" -> (t1 - t0) / 1e3, "tables_s" -> (t2 - t1) / 1e3,
          "fixtures_s" -> (nowMs - t2) / 1e3).asJava)
        (nowMs - t0) / 1e3
      }

      // the cold path, from JVM start to the first timed pass: set-up,
      // then untimed passes. The first writes the results the oracle is
      // compared with, and its hashes are the reference; the others let
      // JIT compilation settle
      setUp(jvmStartMs)
      val warm0 = nowMs
      val (_, reference) = runPass(w, sf, -1, traced = false, Some(dump), Map.empty, failures)
      (1 to warmPasses).foreach(i => runPass(w, sf, -1 - i, traced = false, None, reference, failures))
      val warmS = (nowMs - warm0) / 1e3
      val coldS = (nowMs - jvmStartMs) / 1e3
      val oracle = new java.util.TreeMap[String, String]()
      w.queries.filter(q => Queries.oracleSql.contains(q) && reference.contains(q))
        .foreach(q => oracle.put(q, Queries.oracleSql(q)))
      new File(dump).mkdirs()
      mapper.writeValue(new File(dump, "oracle_sql.json"), oracle)

      val passOut = new java.util.ArrayList[java.util.Map[String, Any]]()
      val tokenize = new java.util.ArrayList[java.util.Map[String, Any]]()
      (0 until passes).foreach { p =>
        // a traced run alternates untraced and traced passes, so the
        // difference of their medians is the tracing overhead
        val tracedPass = traced && p % 2 == 1
        val (out, _) = runPass(w, sf, p, tracedPass, None, reference, failures)
        passOut.add(out)
        if (tracedPass && w.tables.contains("documents")) tokenize.add(tokenizeProbe(sf, p))
      }
      recorder.traced = false
      tracing = false

      // heap still live after a full GC, with whatever the passes left
      System.gc(); System.gc()
      val heapLive = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

      val out = new java.util.LinkedHashMap[String, Any]()
      if (traced) {
        if (w.queries.contains("wordcount")) {
          // the simulated counterpart of shuffle_mb, read from its row
          val df = Queries.queries("coded_shuffle_sim")(spark, sf)
          df.write.mode("overwrite").parquet(s"$dump/coded_shuffle_sim")
          oracle.put("coded_shuffle_sim", Queries.oracleSql("coded_shuffle_sim"))
          mapper.writeValue(new File(dump, "oracle_sql.json"), oracle)
          val coded = df.collect()(0)
          out.put("coded", Map[String, Any](
            "naive_packets" -> coded.getAs[Long]("naive_packets"),
            "packets_sent" -> coded.getAs[Long]("packets_sent"),
            "load_ratio" -> coded.getAs[Double]("load_ratio")).asJava)
        }
        out.put("spans", spans.map(s => (Map[String, Any]("id" -> s.id,
          "parent" -> s.parent, "name" -> s.name, "trace" -> s.trace,
          "pass" -> s.pass, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++
          s.attrs).asJava).asJava)
        out.put("jobs", recorder.jobs.asScala.toSeq.map(_.asJava).asJava)
        out.put("stages", recorder.stageTable)
        out.put("blocks", recorder.blocks.asScala.map(_.toSeq.asJava).toSeq.asJava)
        out.put("stream_batches", streams.batches.asScala.map(_.toSeq.asJava).toSeq.asJava)
        out.put("tokenize", tokenize)
      }
      out.put("spark", spark.version)

      // set-up repeated last, in the fully warmed JVM, each from a
      // stopped session and wiped fixtures; setup_s is their median
      val setupS = (0 until setups).map(_ => setUp(nowMs))

      out.put("cores", cores)
      out.put("heap_max_b", Runtime.getRuntime.maxMemory)
      out.put("jvm", s"${sys.props("java.vm.name")} ${sys.props("java.version")}")
      out.put("setup_s", setupS.asJava)
      out.put("setup_cold_s", coldS)
      out.put("setup_phases", setupPhases)
      out.put("warm_pass_s", warmS)
      out.put("heap_live_b", heapLive)
      out.put("input_b", treeStats(w.tables.map(t => new File(s"$sf/$t.parquet")))._2)
      out.put("passes", passOut)
      out.put("failures", failures.asJava)
      out.put("attempted", (passes + 1 + warmPasses) * (w.queries.size + w.families.size))
      mapper.writerWithDefaultPrettyPrinter().writeValue(new File(opts("out")), out)
      spark.stop()
    }

    /** The result hash must not depend on row order or partitioning.
      * With `--sf`, also reports how many splits the program's scan of
      * that dataset's `documents` has on `--cores` cores. */
    private def selfTest(opts: Map[String, String]): Unit = {
      spark = session(opts.get("cores").map(_.toInt).getOrElse(2))
      val df = spark.range(0, 5000).select(col("id"), (col("id") % 7).as("k"),
        concat(lit("w"), (col("id") * 31 % 101).cast("string")).as("s"),
        array(col("id").cast("float"), lit(1.5f)).as("v"))
      val a = hashString(resultHash(df))
      val b = hashString(resultHash(df.orderBy(rand(3)).repartition(7)))
      val c = hashString(resultHash(df.where(col("id") =!= 17)))
      val splits = opts.get("sf").map(Tables.documents(spark, _).rdd.getNumPartitions).getOrElse(0)
      println(s"""{"ordered":"$a","shuffled":"$b","one_row_less":"$c","scan_splits":$splits}""")
      spark.stop()
    }
  }
}
