package kgbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in one JVM at `local[cores]`:
  *
  *  1. set-up, [[SetupRepeats]] times: session start, seeded input
  *     generation and one warm-up iteration. The first set-up runs in
  *     the cold JVM without the metrics listener, so the warm-up job
  *     counts with the listener off and on can be compared; the second
  *     also warms the JVM for the timed loop;
  *  2. a closed loop with one client: iterations back to back until
  *     their timed walls add up to `seconds`, at least [[MinIters]]. An
  *     iteration's wall ends once its outputs are forced; their
  *     checksums are taken after it. With `trace = 1` untraced and traced
  *     iterations alternate;
  *  3. the correctness gate, outside the timed region.
  *
  * Writes a JSON summary to `out`; `kgbench/run.py` turns it into the
  * result line.
  */
object Main {
  val SetupRepeats = 2
  val MinIters = 1
  /** with `trace = 1`: two untraced and two traced, in ABBA order */
  val MinItersTraced = 4
  val MaxIters = 200

  final case class Iter(i: Int, traced: Boolean, wallS: Double, out: Out,
      error: String, tracer: Tracer, liveHeapBytes: Long, jobs: Int)

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("kgbench")
      // one shuffle partition per core, as graft.Bench's query and open
      // pipeline sessions run
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.hadoop.parquet.hadoop.vectored.io.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)

  /** JSON string literal */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Heap in use after full collections (untimed). Spark's context
    * cleaner releases blocks only after a collection has dropped their
    * references, and it lags when the host is busy, so collections repeat
    * until the reading stops falling.
    */
  private def liveHeap(): Long = {
    def collect(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var prev = collect()
    var next = prev
    var rounds = 0
    do {
      prev = next
      Thread.sleep(100)
      next = collect()
      rounds += 1
    } while (next < prev - (1L << 20) && rounds < 10)
    math.min(prev, next)
  }

  private def errorOf(e: Throwable): String =
    (e.getClass.getSimpleName + ": " +
      String.valueOf(e.getMessage).linesIterator.take(1).mkString).take(300)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val wname = opt("workload")
    val seed = opt("seed").toInt
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = opt("work")
    val runId = s"$wname-seed$seed-trace${if (trace) 1 else 0}"
    val w = Workload(wname, cores, work, opt("fixture"))

    // ---- set-up, repeated
    val setupS = ArrayBuffer[Double]()
    val warmJobs = ArrayBuffer[Int]()
    var spark: SparkSession = null
    for (k <- 1 to SetupRepeats) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, work)
      if (k > 1) GroupListener.setup(spark.sparkContext)
      w.prepare(spark, seed, s"$work/input")
      val g = s"warmup#$k"
      spark.sparkContext.setJobGroup(g, "warm-up", interruptOnCancel = false)
      w.warmUp(spark, s"w$k")
      spark.sparkContext.clearJobGroup()
      setupS += (System.nanoTime() - t0) / 1e9
      w.cleanup(spark, s"w$k")
      GroupListener.drain(spark.sparkContext)
      warmJobs += spark.sparkContext.statusTracker.getJobIdsForGroup(g).length
    }
    val sc = spark.sparkContext
    val listener = GroupListener.setup(sc)
    val spans = new Spans(runId)

    // ---- timed closed loop
    val iters = ArrayBuffer[Iter]()
    // the latest untraced iteration keeps its outputs for the gate
    var kept: Option[String] = None
    var timedS = 0.0
    var i = 0
    while ((i < (if (trace) MinItersTraced else MinIters) ||
        timedS < seconds) && i < MaxIters) {
      // untraced and traced iterations in ABBA order (untraced first), so
      // a warm-up trend over the run weighs on both sides alike
      val traced = trace && (i % 4 == 1 || i % 4 == 2)
      val tracer = if (traced) new Tracer(spark, spans, i) else null
      val tag = if (traced) s"t$i" else s"$i"
      if (!traced) sc.setJobGroup(s"iter#$i", "iteration",
        interruptOnCancel = false)
      var err = ""
      val t0 = System.nanoTime()
      val outputs =
        try spans(s"iter#$tag", "run") {
          if (traced) w.traced(spark, tracer) else w.iterate(spark, tag)
        } catch { case e: Exception => err = errorOf(e); () => Out(Map.empty) }
      val wall = (System.nanoTime() - t0) / 1e9
      timedS += wall
      sc.clearJobGroup()
      // checksums, outside the timed region and every job group
      val out =
        try outputs()
        catch { case e: Exception =>
          if (err.isEmpty) err = errorOf(e)
          Out(Map.empty)
        }
      if (traced) {
        tracer.release()
        w.cleanup(spark, tag)
      } else {
        kept.foreach(w.cleanup(spark, _))
        kept = Some(tag)
      }
      // read now: the status store keeps a bounded number of jobs
      GroupListener.drain(sc)
      val jobs = sc.statusTracker.getJobIdsForGroup(s"iter#$i").length
      val heap = if (traced) 0L else liveHeap()
      iters += Iter(i, traced, wall, out, err, tracer, heap, jobs)
      i += 1
    }
    GroupListener.drain(sc)

    // ---- correctness gate (untimed)
    val untraced = iters.filter(!_.traced)
    val tracedIters = iters.filter(_.traced)
    val ref = untraced.find(_.error.isEmpty).map(_.out.sums)
      .getOrElse(Map.empty)
    val failures = ArrayBuffer[String]()
    // outputs found wrong by a gate check: every execution that produced
    // them counts as failed
    val wrongOutputs = scala.collection.mutable.Set[String]()
    var checks = 0
    var failedChecks = 0
    def check(name: String, outputs: Seq[String], msg: String): Unit = {
      checks += 1
      if (msg.nonEmpty) {
        failedChecks += 1
        failures += s"$name: $msg"
        wrongOutputs ++= outputs
      }
    }
    iters.filter(_.error.nonEmpty).foreach(it =>
      failures += s"iteration ${it.i}: ${it.error}")
    // the listener-off warm-up against the listener-on warm-up (the same
    // work), and the untraced iterations against each other
    val onJobs = warmJobs.tail
    val iterJobs = untraced.map(_.jobs).distinct
    check("listener_adds_no_jobs", Nil,
      if (onJobs.forall(_ == warmJobs.head) && iterJobs.size <= 1) ""
      else s"warm-up jobs with listener off ${warmJobs.head}, on " +
        s"${onJobs.mkString(",")}; iteration jobs ${iterJobs.mkString(",")}")
    if (wname.startsWith("kg_"))
      check("seed0_reproduces_TranscriptGen", Nil, Gen.selfCheck(spark))
    val gateRuns =
      try w.gate(spark, seed)
      catch { case e: Exception =>
        Seq(("gate", ref.keys.toSeq, errorOf(e))) }
    gateRuns.foreach { case (n, outs, msg) => check(n, outs, msg) }
    kept.foreach(w.cleanup(spark, _))
    // layer counts taken once per traced run, under a group of their own
    // so they stay out of every layer's metrics
    val extraStats =
      if (!trace) Map.empty[String, Double]
      else {
        sc.setJobGroup("stats", "stats", interruptOnCancel = false)
        try w.traceStats(spark) finally sc.clearJobGroup()
      }

    // an execution fails if it threw, if its checksums differ from the
    // first untraced iteration's, or if a gate check found its output
    // wrong; query_suite counts each query execution on its own
    def outputsOf(o: String): Seq[String] =
      if (o.isEmpty) ref.keys.toSeq else Seq(o)
    def sumsOk(it: Iter, o: String): Boolean = it.error.isEmpty &&
      outputsOf(o).forall(k => it.out.sums.get(k) == ref.get(k))
    val execs = (w match {
      case _: QuerySuite => QuerySuite.headline
      case _ => Seq("")
    }).map { o =>
      val wrong = outputsOf(o).exists(wrongOutputs.contains)
      o -> (iters.size, iters.count(it => wrong || !sumsOk(it, o)))
    }
    untraced.filter(it => it.error.isEmpty && !sumsOk(it, ""))
      .foreach(it => failures += s"iteration ${it.i}: checksums differ")
    if (trace) check("trace_parity", Nil,
      if (tracedIters.forall(sumsOk(_, ""))) ""
      else "traced composition differs from the untraced outputs")
    val attempted = execs.map(_._2._1).sum + checks
    val failed = execs.map(_._2._2).sum + failedChecks

    // ---- metrics
    def statsOf(it: Iter): GroupStats = listener.stats(s"iter#${it.i}")
    val okU = untraced.filter(_.error.isEmpty)
    val wallU = okU.map(_.wallS)
    val wallS = median(wallU.toSeq)
    val e2e = Seq(
      ("setup_s", median(setupS.toSeq), "s"),
      ("wall_s", wallS, "s"),
      ("cpu_s", median(okU.map(statsOf(_).cpuNs / 1e9).toSeq), "s"),
      ("core_util", median(okU.map(it =>
        statsOf(it).runMs / 1000.0 / (it.wallS * cores)).toSeq), "ratio"),
      ("shuffle_mb", median(okU.map(statsOf(_).shuffleWrite / 1e6).toSeq),
        "MB"),
      // the lowest reading: a context-cleaner pass that lags behind the
      // collections only ever adds to it
      ("live_heap_mb", okU.map(_.liveHeapBytes).minOption.getOrElse(0L) / 1e6,
        "MB"))

    val allLayers = Seq("mention", "extract", "canon", "graph", "ckpt", "io",
      "dedup", "similarity", "ml", "queries")
    val okT = tracedIters.filter(_.error.isEmpty)
    def layerMed(f: (Iter, String) => Double, layer: String): Double =
      median(okT.map(f(_, layer)).toSeq)
    def lstats(it: Iter, layer: String): GroupStats =
      listener.stats(it.tracer.group(layer))
    def lwall(it: Iter, layer: String): Double =
      spans.all.filter(s => s.name == layer &&
        s.parent == s"iter#t${it.i}").map(_.seconds).sum
    val perLayer = allLayers.flatMap { l =>
      Seq(
        (s"$l.wall_s", layerMed(lwall, l), "s"),
        (s"$l.cpu_s", layerMed((it, x) => lstats(it, x).cpuNs / 1e9, l), "s"),
        (s"$l.util", layerMed((it, x) => {
          val wl = lwall(it, x)
          if (wl > 0) lstats(it, x).runMs / 1000.0 / (wl * cores) else 0.0
        }, l), "ratio"),
        (s"$l.jobs", layerMed((it, x) => lstats(it, x).jobs, l), "count"),
        (s"$l.tasks", layerMed((it, x) => lstats(it, x).tasks, l), "count"),
        (s"$l.task_skew", layerMed((it, x) => lstats(it, x).skew, l),
          "ratio"),
        (s"$l.shuffle_write_mb", layerMed((it, x) =>
          lstats(it, x).shuffleWrite / 1e6, l), "MB"),
        (s"$l.shuffle_read_mb", layerMed((it, x) =>
          lstats(it, x).shuffleRead / 1e6, l), "MB"),
        (s"$l.spill_mb", layerMed((it, x) => lstats(it, x).spill / 1e6, l),
          "MB"),
        (s"$l.rows_out", layerMed((it, x) => it.tracer.rows(x).toDouble, l),
          "rows"))
    }
    def extraMed(k: String): Double =
      extraStats.getOrElse(k,
        median(okT.flatMap(_.tracer.extra.get(k)).toSeq))
    val specific = Seq(
      ("extract.mentions_per_s", "1/s"), ("extract.partition_skew", "ratio"),
      ("canon.entities", "count"), ("canon.edges", "count"),
      ("dedup.candidates", "count"), ("dedup.verified", "count"),
      ("dedup.verify_ratio", "ratio"), ("ckpt.bytes_written", "bytes"),
      ("io.bytes_written", "bytes")).map { case (k, u) => (k, extraMed(k), u) }
    val perQuery = QuerySuite.headline.map(q =>
      (s"queries.${q}_s", extraMed(s"queries.${q}_s"), "s"))
    val tracedTotal = median(okT.map(_.wallS).toSeq)
    val untracedTotal = wallS
    val layerMetrics = perLayer ++ specific ++ perQuery ++ Seq(
      ("ckpt.resume_s", median(okT.map(_.out.resumeS).toSeq), "s"),
      ("trace_overhead_s", tracedTotal - untracedTotal, "s"))

    spans.write(s"$work/spans.jsonl")

    // ---- summary for run.py
    val resumeS = median(okU.map(_.out.resumeS).toSeq)
    val items = okU.headOption.map(it => w.items(it.out)).getOrElse(0L)
    def metricsJson(ms: Seq[(String, Double, String)]): String =
      ms.map { case (n, v, u) =>
        s"${str(n)}:{${str("value")}:${num(v)},${str("unit")}:${str(u)}}"
      }.mkString("{", ",", "}")
    val report = Seq(
      "workload" -> str(wname), "seed" -> seed.toString,
      "trace" -> (if (trace) "1" else "0"), "cores" -> cores.toString,
      "spark" -> str(spark.version),
      "max_heap_mb" -> num(Runtime.getRuntime.maxMemory / 1e6),
      "setup_samples_s" -> setupS.map(num).mkString("[", ",", "]"),
      "iterations_untraced" -> untraced.size.toString,
      "iterations_traced" -> tracedIters.size.toString,
      "wall_samples_s" -> wallU.map(num).mkString("[", ",", "]"),
      "items" -> items.toString,
      "triples_per_s" -> num(if (wallS > 0 && wname.startsWith("kg_"))
        items / wallS else 0.0),
      "resume_s" -> num(resumeS),
      "jobs_listener_off" -> warmJobs.head.toString,
      "jobs_listener_on" -> onJobs.mkString("[", ",", "]"),
      "jobs_per_iteration" -> untraced.map(_.jobs).mkString("[", ",", "]"),
      "sums" -> ref.toSeq.sortBy(_._1).map { case (k, v) =>
        s"${str(k)}:[${v.rows},${v.hash}]" }.mkString("{", ",", "}"),
      "executions" -> execs.map { case (o, (n, f)) =>
        s"${str(o)}:[$n,$f]" }.mkString("{", ",", "}"),
      "failures" -> failures.map(str).mkString("[", ",", "]"),
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "end_to_end" -> metricsJson(e2e),
      "per_layer" -> metricsJson(layerMetrics))
    val json = report.map { case (k, v) => s"${str(k)}:$v" }
      .mkString("{", ",", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(opt("out")),
      json.getBytes("UTF-8"))
    spark.stop()
  }
}
