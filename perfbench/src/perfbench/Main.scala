package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.io.Tables
import graft.jobs.{CorpusPipeline, TestpilotDaily}
import graft.llm.PortableSeededHash
import graft.queries.PipelineQueries
import graft.sources.AuditSink

/** One benchmark run of one workload in a fresh JVM. A workload is one
  * job or several run back to back (`paper_daily`: the paper's E1 job,
  * then E2), so an iteration is one call of each; job `j` reads its inputs
  * from `<inputDir>/<j>`.
  *
  * 1. Cold set-up: session build + the first iteration, in this fresh JVM
  *    (`setup_cold_s`, one sample, printed but not gated).
  * 2. [[SetupReps]] warm re-setups: stop the session, build a new one, run
  *    its first iteration (`setup_s` is their median).
  * 3. Untimed, in the last set-up's session: the capture (each job runs
  *    once more and its frame is written as parquet for the oracle
  *    compare; `testpilot_daily`'s set-up sinks serve instead).
  *    `oracle.json` is written before it, and the DuckDB oracle runs
  *    outside the JVM meanwhile; warm-up iterations follow, at least one
  *    and until `oracle.done` appears, so the oracle never competes with
  *    timed work. Set-ups, capture and warm-up are the JIT's warm-up for
  *    step 4, which starts from a collected heap.
  * 4. Iterations back to back, one closed-loop client, for about
  *    `seconds`: the next one starts while it would end less than half
  *    an iteration past them.
  * Every output's digest must equal the cold set-up's. With `trace` = 1
  * iterations alternate untraced / traced and the traced ones yield
  * per-layer metrics.
  *
  * Usage: Main <job>[,<job>...] <inputDir> <workDir> <seconds> <trace> <cpus>
  * Writes `<workDir>/result.json`, `<workDir>/oracle.json` and, traced,
  * `<workDir>/spans.json`. */
object Main {

  final case class Result(digest: Option[String],
                          outFiles: Long = 0L,
                          outBytes: Long = 0L)

  /** Warm re-setups per run; `setup_s` is their median. */
  val SetupReps = 3
  /** How long the warm-up waits at most for the oracle to finish. */
  val OracleWaitS = 120

  /** A workload's iteration: the timed call, returning the untimed check
    * that yields the output digest. */
  type Iteration = (SparkSession, Int) => () => Result

  val Oracles = Map(
    "testpilot_daily" -> "q26_e1_multi_sink",
    "profile_daily" -> "q23_e2_profile_daily",
    "corpus_pipeline" -> "q79_corpus_pipeline")

  private val sinks = new AtomicLong()

  /** Materialize `df` into the program's auditing sink, which stores
    * nothing and keeps (rows, order-independent checksum); returns that
    * digest. */
  def sink(df: DataFrame): String = {
    val name = s"perfbench-${sinks.incrementAndGet()}"
    df.write.format("graft.sources.AuditSink").mode("append")
      .option("name", name).save()
    val digest = AuditSink.result(name).fold("0:0") { case (n, c) => s"$n:$c" }
    AuditSink.clear(name)
    digest
  }

  /** The job writes its three sinks to a fresh directory per iteration;
    * they are kept until the run ends and read back and checked outside
    * the JVM (gate.py), so the digest here is empty. */
  def testpilot(in: String, work: String): Iteration = (spark, it) => {
    val out = s"$work/out/it$it"
    TestpilotDaily.run(spark, Tables.table(spark, in, "events"),
      Tables.csv(spark, s"$in/search.csv"),
      TestpilotDaily.Sinks(s"$out/testpilot", s"$out/testpilottest",
        s"$out/search"), save = true)
    () => {
      val files = listFiles(new File(out))
      Result(None, files.size.toLong, files.map(_.length).sum)
    }
  }

  def profileFrame(spark: SparkSession, in: String): DataFrame =
    PipelineQueries.e2ProfileDaily(spark, in)

  def profile(in: String): Iteration = (spark, _) => {
    val df = Trace.span("queries.profile.plan") {
      val df = profileFrame(spark, in)
      if (Trace.enabled) df.queryExecution.executedPlan
      df
    }
    val d = Trace.span("queries.profile.exec")(sink(df))
    () => Result(Some(d))
  }

  def corpusFrame(spark: SparkSession, in: String): DataFrame =
    CorpusPipeline.run(Tables.table(spark, in, "documents"),
      hasher = PortableSeededHash)

  def corpus(in: String): Iteration = (spark, _) => {
    val d = sink(corpusFrame(spark, in))
    () => Result(Some(d))
  }

  def job(name: String, in: String, work: String): Iteration = name match {
    case "testpilot_daily" => testpilot(in, work)
    case "profile_daily" => profile(in)
    case "corpus_pipeline" => corpus(in)
  }

  /** One call of each job in turn; the digest joins the jobs' digests. */
  def sequence(jobs: Seq[Iteration]): Iteration = (spark, it) => {
    val checks = jobs.map(_(spark, it))
    () => {
      val rs = checks.map(_())
      val ds = rs.flatMap(_.digest)
      Result(if (ds.isEmpty) None else Some(ds.mkString("|")),
        rs.map(_.outFiles).sum, rs.map(_.outBytes).sum)
    }
  }

  /** Run the job once more, untimed, and write its frame as parquet to
    * `dir` for the oracle compare; returns the digest of the frame read
    * back, which must equal the timed runs'. */
  def capture(spark: SparkSession, job: String, in: String,
              dir: String): Option[String] = {
    val frame = job match {
      case "profile_daily" => profileFrame _
      case "corpus_pipeline" => corpusFrame _
      case _ => return None
    }
    frame(spark, in).write.mode("overwrite").parquet(dir)
    Some(sink(spark.read.parquet(dir)))
  }

  def main(args: Array[String]): Unit = {
    val Array(jobsArg, in, work, secondsArg, traceArg, cpusArg) = args
    val jobs = jobsArg.split(",").toSeq
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cpus = cpusArg.toInt
    val iteration = sequence(jobs.map(j => job(j, s"$in/$j", work)))
    val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    val probe = new Trace.Probe

    def newSession(): SparkSession = {
      val spark = GraftSession.build(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString))
      Trace.sc = spark.sparkContext
      if (traced) {
        spark.sparkContext.addSparkListener(probe)
        spark.listenerManager.register(probe)
      }
      spark
    }

    val failures = ArrayBuffer[String]()
    var attempted = 0
    var expected: Option[String] = None
    /** Run the check; count a throw or a digest that differs from the
      * first one as a failure. */
    def checked(what: String, check: => Result): Option[Result] = {
      attempted += 1
      try {
        val r = check
        r.digest.foreach { d =>
          expected match {
            case None => expected = Some(d)
            case Some(e) if e != d =>
              failures += s"$what: output digest $d != $e"
            case _ => ()
          }
        }
        Some(r)
      } catch { case e: Throwable =>
        Trace.closeOpen()
        failures += s"$what: $e"
        e.printStackTrace()
        None
      }
    }

    /** Session build + the first iteration, timed; returns seconds. */
    var spark: SparkSession = null
    def setup(what: String, it: Int): Double = {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      System.gc() // each set-up starts from a clean heap, as a fresh JVM does
      val t0 = System.nanoTime()
      var dt = 0.0
      val res = checked(what, {
        spark = newSession()
        val check = iteration(spark, it)
        dt = (System.nanoTime() - t0) / 1e9
        check()
      })
      if (res.isEmpty && spark == null) sys.exit(3)
      dt
    }

    // ---- cold set-up, warm re-setups ----
    val setupColdS = setup("cold setup", -1)
    val setupS = (2 to SetupReps + 1).map(r => setup(s"setup $r", -r))

    // ---- the untimed capture and warm-up while the oracle runs ----
    val oracle0 = System.nanoTime()
    write(s"$work/oracle.json",
      json(jobs.map(j => j -> SparkEntry.oracleSql(Oracles(j))).toMap))
    try {
      val ds = jobs.flatMap(j =>
        capture(spark, j, s"$in/$j", s"$work/capture/$j"))
      val d = ds.mkString("|")
      if (ds.nonEmpty && !expected.contains(d))
        failures += s"capture: output digest $d != ${expected.getOrElse("none")}"
    } catch { case e: Throwable =>
      failures += s"capture: $e"
      e.printStackTrace()
    }
    val oracleDone = new File(work, "oracle.done")
    var warmups = 0
    while ((warmups == 0 || !oracleDone.exists()) && failures.size < 3) {
      if (System.nanoTime() - oracle0 > OracleWaitS * 1e9)
        sys.error(s"oracle not done after $OracleWaitS s")
      warmups += 1
      checked(s"warm-up $warmups", iteration(spark, -100 - warmups)())
    }

    // ---- measured iterations ----
    val jobS = ArrayBuffer[Double]()
    val tracedS = ArrayBuffer[Double]()
    val retained = ArrayBuffer[Double]()
    val outFiles = ArrayBuffer[Long]()
    val outBytes = ArrayBuffer[Long]()
    val gcS = mutable.HashMap[Int, Double]()
    val extra = mutable.HashMap[Int, Map[String, Double]]()
    System.gc()
    // start iterations while they would end less than half an iteration
    // past `seconds`
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var it = 0
    var last = 0.0
    while ((System.nanoTime() + last * 5e8 < deadline || jobS.size < 2 ||
            (traced && tracedS.size < 2)) && failures.size < 3) {
      it += 1
      val on = traced && it % 2 == 0
      Trace.iter = it
      if (on) {
        // the untraced period's plans only advance the counted baseline
        PerfbenchBridge.drainListeners(spark.sparkContext)
        Trace.planMetrics(probe.takePlans())
      }
      Trace.enabled = on
      val gc0 = Trace.gcSeconds()
      val t0 = System.nanoTime()
      val res = checked(s"iteration $it", {
        val check = Trace.span("iteration")(iteration(spark, it))
        val dt = (System.nanoTime() - t0) / 1e9
        last = dt
        if (on) {
          gcS(it) = Trace.gcSeconds() - gc0
          tracedS += dt
        } else jobS += dt
        Trace.enabled = false
        check()
      })
      Trace.enabled = false
      res.foreach { r =>
        retained += Trace.storageMb()
        outFiles += r.outFiles
        outBytes += r.outBytes
        if (on) {
          PerfbenchBridge.drainListeners(spark.sparkContext)
          extra(it) = Trace.planMetrics(probe.takePlans()) ++ Map(
            "io.write.files" -> r.outFiles.toDouble,
            "io.write.mb" -> r.outBytes / 1e6)
        }
      }
    }

    // ---- per-layer metrics of the traced iterations ----
    val layers = mutable.LinkedHashMap[String, Double]()
    if (traced && extra.nonEmpty) {
      PerfbenchBridge.drainListeners(spark.sparkContext)
      val jobs = probe.synchronized(probe.jobs.values.toVector)
      val spanIter = Trace.spans.map(s => s.id -> s.iter).toMap
      val perIter = extra.keys.toSeq.sorted.map { i =>
        val js = jobs.filter(j => spanIter.get(j.span).contains(i))
        val m = Trace.spanMetrics(i, js, n => n / 1e6 + offsetMs)
        m ++ extra(i) ++ Map(
          "etl.apply.plan_s" -> m.getOrElse("etl.apply.probe.s", 0.0),
          "jvm.gc_s" -> gcS.getOrElse(i, 0.0))
      }
      for (k <- perIter.flatMap(_.keys).distinct.sorted)
        layers(k) = median(perIter.map(_.getOrElse(k, 0.0)))
      // useful-outcome ratios, counted once on the last traced iteration's
      // frames (untimed)
      val last = Trace.spans.filter(s => s.iter == extra.keys.max)
      def rows(x: AnyRef): Long = x match {
        case d: DataFrame => d.count()
        case _ => 0L
      }
      def ratio(name: String): Unit = {
        val ss = last.filter(_.name == name)
        val (out, in) = (ss.map(s => rows(s.ret)).sum, ss.map(s => rows(s.arg)).sum)
        if (in > 0) layers(s"$name.keep_ratio") = out.toDouble / in
      }
      Seq("etl.apply", "llm.exact", "jobs.corpus").foreach(ratio)
      last.filter(_.name == "llm.lsh").foreach(s =>
        layers("llm.lsh.pairs") = rows(s.ret).toDouble)
      layers("trace_overhead") = median(tracedS.toSeq) / median(jobS.toSeq) - 1
      writeSpans(s"$work/spans.json", offsetMs)
    }
    spark.stop()

    write(s"$work/result.json", json(Map(
      "setup_cold_s" -> setupColdS, "setup_s" -> setupS, "warmups" -> warmups,
      "job_s" -> jobS.toSeq,
      "traced_job_s" -> tracedS.toSeq, "attempted" -> attempted,
      "failures" -> failures.toSeq, "retained_mb" -> retained.toSeq,
      "out_files" -> outFiles.toSeq, "out_bytes" -> outBytes.toSeq,
      "digest" -> expected.getOrElse(""), "layers" -> layers.toMap)))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def writeSpans(path: String, offsetMs: Double): Unit = {
    val ss = Trace.spans.synchronized(Trace.spans.toVector)
    write(path, ss.map { s =>
      json(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "iter" -> s.iter, "start_ms" -> (s.start / 1e6 + offsetMs),
        "end_ms" -> (s.end / 1e6 + offsetMs)))
    }.mkString("[\n", ",\n", "\n]\n"))
  }

  private def listFiles(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) listFiles(f)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    }

  /** Write whole or not at all: readers poll for these files. */
  private def write(path: String, s: String): Unit = {
    val p = Paths.get(path)
    val tmp = Paths.get(path + ".tmp")
    Files.createDirectories(p.getParent)
    Files.write(tmp, s.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
  }

  private def json(v: Any): String = v match {
    case m: Map[_, _] => m.toSeq.map { case (k, x) => s"${json(k.toString)}: ${json(x)}" }
      .mkString("{", ", ", "}")
    case s: Seq[_] => s.map(json).mkString("[", ", ", "]")
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case x => x.toString
  }
}
