package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.sources.PointStore
import graft.streaming.StreamingPointStore

/** `crunch_ingest`: the reference's worker loop, one caller.
  *
  * Inputs: participant drops of about 1,000 matches each (`lineitem ⋈
  * orders` rows carrying the player key), matches assigned to drops by a
  * seeded hash of the order key. Each operation renames one drop into the
  * watched directory, runs one `StreamingPointStore.run` cycle
  * (`Trigger.AvailableNow`, persistent checkpoint) that folds it into a
  * player × game_mode × role `PointStore`, and waits for
  * `PointStore.versionOf` to show the commit. Its latency is the drop's
  * ingest lag. Auto-compaction stays at the library default. */
final class CrunchIngest(spark: SparkSession, opts: Main.Opts, trace: Trace,
                         res: Result) extends Workload {

  /** The first 90 of sf0.1's 150 drops (a run lands about 20), with
    * sf0.1's player and hero key spaces (TPC-H customer and part). */
  val Drops = 90
  val OrdersPerDrop = 1000L
  val Customers = 15000L
  val Parts = 20000L
  /** Drops folded by each set-up repetition (untimed warm-up cycles). */
  val WarmDrops = 2
  val CycleTimeoutMs = 60000L

  private val root = new File(opts.work, "ingest")
  private val staged = new File(root, "staged")
  private var schema: StructType = _
  private var dropRows: Map[Int, Long] = Map.empty
  private val queue = scala.collection.mutable.Queue.empty[Int]

  // state of the current set-up repetition
  private var rep = 0
  private var landing: File = _
  private var storeDir: File = _
  private var ckpt: File = _
  private var store: PointStore = _

  def generate(): Unit = {
    val rows = Gen.participants(spark, opts.seed, 0, Drops * OrdersPerDrop, Customers, Parts)
      .withColumn("drop", Gen.pick(opts.seed, 20, col("l_orderkey"), Drops).cast("int"))
    rows.repartition(col("drop")).write.partitionBy("drop").parquet(staged.getPath)
    val written = spark.read.parquet(staged.getPath)
    dropRows = written.groupBy("drop").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    schema = written.drop("drop").schema
    queue ++= (0 until Drops).filter(dropRows.contains)
  }

  private def dropFile(d: Int): File =
    new File(staged, s"drop=$d").listFiles().filter(_.getName.endsWith(".parquet")).head

  def setup(last: Boolean): Unit = {
    rep += 1
    val dir = new File(root, s"rep$rep")
    landing = new File(dir, "landing"); landing.mkdirs()
    storeDir = new File(dir, "store")
    ckpt = new File(dir, "checkpoint")
    store = Gen.playerStore(spark, storeDir.getPath)
    (1 to WarmDrops).foreach(_ => cycle(-1))
  }

  /** Land the next drop, fold it, and record the operation (a set-up or
    * warm-up one when op < 0). */
  private def cycle(op: Long): Unit = {
    val d = queue.dequeue()
    val src = dropFile(d)
    val bytes = src.length()
    val before = PointStore.versionOf(storeDir.getPath).getOrElse(0L)
    val deltasBefore = if (trace.active) store.deltaCount else 0
    val storeBytesBefore = if (trace.active) Measure.bytesUnder(storeDir) else 0L
    val t0 = Clock.nowMs
    Files.move(src.toPath, new File(landing, f"drop-$d%04d.parquet").toPath,
      StandardCopyOption.ATOMIC_MOVE)
    val problem: Option[String] = try {
      val q = trace.span("streaming.cycle", op) {
        val q = StreamingPointStore.run(store,
          spark.readStream.schema(schema).parquet(landing.getPath),
          Gen.playerPartial, ckpt.getPath)
        if (!q.awaitTermination(CycleTimeoutMs)) {
          q.stop()
          throw new java.util.concurrent.TimeoutException(
            s"ingest cycle exceeded ${CycleTimeoutMs / 1000}s")
        }
        q
      }
      q.exception.foreach(e => throw e)
      var after = before
      val deadline = System.nanoTime() + CycleTimeoutMs * 1000000L
      while (after <= before && System.nanoTime() < deadline) {
        after = trace.span("sources.version", op) {
          PointStore.versionOf(storeDir.getPath).getOrElse(0L)
        }
        if (after <= before) Thread.sleep(5)
      }
      val progress = q.recentProgress.toSeq
      val read = progress.map(_.numInputRows).sum
      val t1 = Clock.nowMs
      if (trace.active) {
        def ms(k: String) = progress.flatMap(p => Option(p.durationMs.get(k))).map(_.toDouble).sum
        trace.progress(Seq(op, ms("addBatch"), ms("queryPlanning"), ms("walCommit"),
          ms("latestOffset") + ms("commitOffsets"), progress.size))
        // a fold that compacted leaves no more deltas than it found
        if (store.deltaCount <= deltasBefore) {
          trace.sample("sources.compactions", 1.0)
          trace.sample("sources.compact_cycle_ms", t1 - t0)
        }
        trace.sample("sources.delta_width", deltasBefore.toDouble)
        trace.sample("sources.write_amp",
          (Measure.bytesUnder(storeDir) - storeBytesBefore).toDouble / bytes)
      }
      Checks.dropFolded(dropRows(d), read, before, after).map(p => s"drop $d: $p")
    } catch {
      case e: Throwable => Some(s"drop $d: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val t1 = Clock.nowMs
    problem.foreach(p => res.fail("ingest", p))
    res.op(if (op >= 0) "ingest" else Result.Warmup, t0, t1, trace.active, problem.isEmpty,
      dropRows(d))
  }

  /** Cycles per traced or untraced slice of a `--trace 1` run. The on/off
    * pattern (period 6) does not divide the auto-compaction period of 16
    * drops, so compacting folds fall in traced and untraced slices alike. */
  val SliceCycles = 3

  def measure(budgetNs: Long, record: Boolean): Double = {
    val start = Clock.nowMs
    val end = System.nanoTime() + budgetNs
    var i = 0L
    while (System.nanoTime() < end && queue.nonEmpty) {
      trace.set(record && i / SliceCycles % 2 == 0)
      cycle(if (record) i else -1)
      i += 1
    }
    trace.set(false)
    if (queue.isEmpty) Main.log("all pre-generated drops landed before the time was up")
    start
  }

  def finalCheck(): Unit = {
    def rows(df: DataFrame): Seq[String] =
      Gen.comparable(df).collect()
        .map((r: Row) => Checks.canon(r.toSeq)).toSeq
    val expected = rows(Gen.playerPartial(spark.read.schema(schema).parquet(landing.getPath)))
    val actual = rows(PointStore.open(spark, storeDir.getPath).snapshot)
    res.check("final_snapshot_equals_one_shot_aggregate",
      Checks.sameRows("store snapshot", expected, actual))
    trace.scalar("sources.store_bytes", Measure.bytesUnder(storeDir).toDouble)
    trace.scalar("sources.store_files", Measure.filesUnder(storeDir).toDouble)
  }
}

object Measure {
  private def files(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
  def bytesUnder(d: File): Long = files(d).map(_.length()).sum
  def filesUnder(d: File): Long = files(d).count(f => !f.getName.startsWith("."))
}
