package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, max, xxhash64}

/** Benchmark harness entry point. Runs ONE workload against graft's public
  * entry points and writes the raw observations (operation samples, set-up
  * repetitions, output-check verdicts, trace records) as one JSON document;
  * `perfbench/run.py` turns that into the reported metrics.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --cpus <n> --work <dir> --out <file>
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, cpus: Int, work: File, out: File)

  /** Set-up repetitions per run; `setup_s` is their median. */
  val SetupReps = 3
  /** Unrecorded load before the measured phase, so JIT compilation has
    * settled when measuring starts. */
  val WarmSeconds = 3.0

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cpus").toInt, new File(need("work")),
      new File(need("out")))
  }

  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "spark-warehouse")
      // Spark's status store keeps every recent job/stage/execution for the
      // (disabled) UI; bounded small, the live heap measures graft's state
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The fixed CPU calibration job of `graft.Bench`'s probe: 4M xxhash64
    * over an in-memory range, partitions pinned to the core count. Run with
    * no load right before and right after the measured phase, so a
    * contended host shows in the output. Min of two runs, as `graft.Bench`
    * takes it. */
  def probe(spark: SparkSession, cpus: Int): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 4L << 20, 1, cpus).agg(max(xxhash64(col("id")))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    math.min(once(), once())
  }

  /** Live heap after a forced full collection, in MB. Spark frees
    * unreferenced broadcasts, cached blocks and shuffles asynchronously
    * after a GC finds them, so collect three times, giving its cleaner a
    * moment before each, and take the least reading. */
  def heapLiveMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      Thread.sleep(500); System.gc()
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  private val start = System.nanoTime()

  /** Progress line on the harness log. */
  def log(msg: String): Unit =
    println(f"[perfbench ${(System.nanoTime() - start) / 1e9}%7.2fs] $msg")

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val t0 = System.nanoTime()
    opts.work.mkdirs()
    val spark = session(opts.cpus)
    val res = new Result
    res.put("workload", opts.workload)
    res.put("seed", opts.seed)
    res.put("cpus", opts.cpus)
    res.put("trace", if (opts.trace) 1 else 0)
    res.put("session_s", (System.nanoTime() - t0) / 1e9)
    val trace = new Trace(spark, opts.trace)
    try {
      val workload: Workload = opts.workload match {
        case "crunch_ingest" => new CrunchIngest(spark, opts, trace, res)
        case "serve_mixed"   => new ServeMixed(spark, opts, trace, res)
        case other           => sys.error(s"unknown workload '$other'")
      }
      val g0 = System.nanoTime()
      log("generating inputs")
      workload.generate()
      res.put("gen_s", (System.nanoTime() - g0) / 1e9)
      val setups = (1 to SetupReps).map { rep =>
        val s0 = System.nanoTime()
        log(s"set-up repetition $rep")
        workload.setup(last = rep == SetupReps)
        (System.nanoTime() - s0) / 1e9
      }
      res.put("setup_reps_s", setups)
      log("warming up")
      workload.measure((WarmSeconds * 1e9).toLong, record = false)
      res.put("probe_before_s", probe(spark, opts.cpus))
      val m0 = System.nanoTime()
      log("measuring")
      val w0 = workload.measure((opts.seconds * 1e9).toLong, record = true)
      res.put("measure_s", (System.nanoTime() - m0) / 1e9)
      res.put("window_ms", Seq(w0, w0 + opts.seconds * 1000))
      trace.stop()
      res.put("heap_live_mb", heapLiveMb())
      res.put("probe_after_s", probe(spark, opts.cpus))
      log("checking outputs")
      workload.finalCheck()
      workload.close()
      trace.export(res)
      res.put("complete", true)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.fail("harness", s"${e.getClass.getName}: ${e.getMessage}", count = true)
        res.put("complete", false)
    } finally {
      Files.write(Paths.get(opts.out.getPath), res.json.getBytes("UTF-8"))
      spark.stop()
    }
    // graft's QueryServer.stop leaves its request executor's (non-daemon)
    // threads running, so the JVM would not end on its own
    sys.exit(0)
  }
}

/** One benchmark workload: inputs generated from the seed, a repeatable
  * set-up (the last repetition leaves the fixture the measured phase
  * uses), a closed-loop load phase (run once unrecorded to warm up, then
  * recorded), and an end-of-run output check. `measure` sends requests for
  * `budgetNs` and returns when the last reply is in; it returns when that
  * window began (epoch ms, as `Clock`). */
trait Workload {
  def generate(): Unit
  def setup(last: Boolean): Unit
  def measure(budgetNs: Long, record: Boolean): Double
  def finalCheck(): Unit
  def close(): Unit = ()
}
