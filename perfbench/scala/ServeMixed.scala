package perfbench

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.Duration
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, struct, to_json}

import graft.SparkEntry
import graft.server.QueryServer
import graft.sources.PointStore

/** `serve_mixed`: 3 closed-loop clients against one in-process
  * `QueryServer` whose store root holds a player-grain `PointStore` seeded
  * in set-up. Request mix per client:
  *  - 80% `GET /store/players?limit=<10|100|1000>`,
  *  - 10% `GET /query/crunch_global` (the flagship dimensional rollup),
  *  - 10% `POST /ingest/point` of a pre-generated partial under a fresh
  *    tag; every 8th write is followed by `POST /compact`.
  * The warm-up and the measured phase each start with a `POST /compact`.
  * A client sends its next request when the previous one has completed.
  * Every response is checked as it arrives; the final store must equal
  * the seed plus every committed write. */
final class ServeMixed(spark: SparkSession, opts: Main.Opts, trace: Trace,
                       res: Result) extends Workload {

  /** sf0.01 cardinalities (TPC-H orders, customer, part). At sf0.1 one
    * `crunch_global` takes seconds on 4 cores and a run completes too few
    * requests for steady percentiles (see perfbench/README.md). */
  val Orders = 15000L
  val Customers = 1500L
  val Parts = 2000L
  val SeedDeltas = 4
  val Writes = 400
  val OrdersPerWrite = 40L
  val Clients = 3
  val CompactEvery = 8
  /** Page sizes taken in turn: QueryServer's default page (1000) down to
    * about one player's rows (10). */
  val Limits = Seq(10, 100, 1000)
  val Query = "crunch_global"
  val QueryLimit = 1000
  val StoreName = "players"
  val RequestTimeout: Duration = Duration.ofSeconds(60)
  /** Length of one traced or untraced slice in a `--trace 1` run. */
  val SliceMs = 2000L

  private val root = new File(opts.work, "serve")
  private val sfDir = new File(root, "sf").getPath
  private val seedDir = new File(root, "seed").getPath
  private var bodies: IndexedSeq[String] = IndexedSeq.empty
  private var expectedQuery: Seq[String] = Nil

  private var rep = 0
  private var storeDir: File = _
  private var server: QueryServer = _
  private var base: String = _
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).connectTimeout(RequestTimeout).build()

  private val nextWrite = new AtomicInteger()
  /** Writes since the phase began; every `CompactEvery`-th is compacted. */
  private val phaseWrites = new AtomicInteger()
  private val committed = new ConcurrentLinkedQueue[Integer]()

  def generate(): Unit = {
    Gen.writeStar(spark, opts.seed, sfDir, Orders, Customers, Parts)
    Gen.participants(spark, opts.seed, 0, Orders, Customers, Parts)
      .withColumn("slice", Gen.pick(opts.seed, 22, col("l_orderkey"), SeedDeltas).cast("int"))
      .write.partitionBy("slice").parquet(seedDir)
    // write bodies: participants of orders beyond the seeded ones, one
    // partial (JSON lines in the store's schema) per write
    val w = Gen.participants(spark, opts.seed, Orders, Writes * OrdersPerWrite, Customers, Parts)
    val cols = (Gen.Keys ++ Gen.Sums ++ Gen.Maxes ++ Gen.Sketches).map(col)
    val lines = Gen.playerPartialBy(w, Seq(((col("l_orderkey") - Orders) / OrdersPerWrite)
        .cast("int").as("w")))
      .select(col("w"), to_json(struct(cols: _*)).as("line"))
      .collect().groupBy(_.getInt(0)).map { case (i, rs) => i -> rs.map(_.getString(1)).sorted }
    bodies = (0 until Writes).map(i => lines(i).mkString("\n"))
    val bodyDir = new File(root, "bodies"); bodyDir.mkdirs()
    bodies.zipWithIndex.foreach { case (b, i) =>
      Files.write(new File(bodyDir, f"w-$i%04d.jsonl").toPath, b.getBytes(StandardCharsets.UTF_8))
    }
    // the reference rows every /query response must equal, computed once
    // through the library
    expectedQuery = Checks.jsonRows(SparkEntry.queries(Query)(spark, sfDir)
      .limit(QueryLimit).toJSON.collect().mkString("[", ",", "]")).toOption.get
  }

  private def seedSlice(k: Int): DataFrame = spark.read.parquet(s"$seedDir/slice=$k")

  def setup(last: Boolean): Unit = {
    rep += 1
    val storeRoot = new File(root, s"rep$rep/stores")
    storeDir = new File(storeRoot, StoreName)
    val store = Gen.playerStore(spark, storeDir.getPath)
    (0 until SeedDeltas).foreach(k => store.appendTagged(s"seed$k", Gen.playerPartial(seedSlice(k))))
    server = new QueryServer(spark, sfDir, 0, storeRoot = Some(storeRoot.getPath))
    server.start()
    base = s"http://127.0.0.1:${server.boundPort}"
    // first read through the server, checked
    request(-1, "store", get(s"/store/$StoreName?limit=100"), Checks.storeBody(_, 100, Gen.Keys))
    if (!last) server.stop()
  }

  private def get(path: String) = HttpRequest.newBuilder(URI.create(base + path))
    .timeout(RequestTimeout).GET().build()
  private def post(path: String, body: String) = HttpRequest.newBuilder(URI.create(base + path))
    .timeout(RequestTimeout).POST(HttpRequest.BodyPublishers.ofString(body)).build()

  /** Send one request, check its response, and record it as an operation
    * of `kind` (a set-up or warm-up one when op < 0). */
  private def request(op: Long, kind: String, req: HttpRequest,
                      check: String => Option[String]): Unit = {
    val traced = trace.active
    val t0 = Clock.nowMs
    val outcome: Either[String, (Int, String)] =
      try {
        val r = http.send(req, HttpResponse.BodyHandlers.ofString())
        Right(r.statusCode() -> r.body())
      } catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val t1 = Clock.nowMs
    val problem = outcome match {
      case Left(p) => Some(p)
      case Right((code, body)) =>
        if (traced) {
          trace.record(s"server.$kind", op, t0, t1)
          trace.sample("server.status", code.toDouble)
          trace.sample("server.resp_bytes", body.length.toDouble)
        }
        if (code / 100 != 2) Some(s"HTTP $code: ${body.take(200)}") else check(body)
    }
    problem.foreach(p => res.fail(s"$kind ${req.uri().getPath}", p))
    res.op(if (op >= 0) kind else Result.Warmup, t0, t1, traced, problem.isEmpty)
  }

  /** Library-side counterparts of a traced read, for the per-layer split:
    * the same store read without the HTTP tier, on the same version. */
  private def libraryRead(op: Long, limit: Int): Unit = {
    trace.span("sources.version", op, traced = true)(PointStore.versionOf(storeDir.getPath))
    val store = trace.span("sources.open", op, traced = true) {
      PointStore.open(spark, storeDir.getPath)
    }
    trace.sample("sources.delta_width", store.deltaCount.toDouble)
    trace.span("sources.read", op, traced = true) {
      store.snapshot.orderBy(Gen.Keys.map(col): _*).limit(limit).toJSON.collect()
    }
  }

  private def compacted(body: String): Option[String] =
    if (body.contains("\"compacted\":true")) None else Some(s"compact said ${body.take(120)}")

  /** The request kinds of one client: blocks of ten that each hold exactly
    * the mix (8 reads, 1 rollup, 1 write) in a fixed order, rotated per
    * client so the clients' rollups fall apart. A seeded order would vary
    * how many multi-second rollups a run completes, and with it every
    * figure of the run; the seed sets the data instead. */
  private def kinds(c: Int): Iterator[Int] = {
    val block = Seq(0, 0, 0, 0, 1, 0, 0, 0, 0, 2)
    val r = c * 3 % block.size
    Iterator.continually(block.drop(r) ++ block.take(r)).flatten
  }

  private def client(c: Int, end: Long, record: Boolean): Unit = {
    val mix = kinds(c)
    var i, reads = 0L
    while (System.nanoTime() < end) {
      val op = if (record) c * 1000000L + i else -1L
      val kind = mix.next()
      if (kind == 0) {
        // limits taken in turn, so each run reads the same mix of sizes
        val limit = Limits(((reads + c) % Limits.size).toInt)
        reads += 1
        val traced = trace.active
        request(op, "store", get(s"/store/$StoreName?limit=$limit"),
          Checks.storeBody(_, limit, Gen.Keys))
        if (traced) libraryRead(op, limit)
      } else if (kind == 1) {
        val traced = trace.active
        request(op, "query", get(s"/query/$Query"), Checks.queryBody(_, expectedQuery))
        if (traced) trace.span("operators.query", op, traced = true) {
          SparkEntry.queries(Query)(spark, sfDir).limit(QueryLimit).toJSON.collect()
        }
      } else {
        val w = nextWrite.getAndIncrement()
        if (w >= bodies.size) res.fail("write", "ran out of pre-generated write bodies")
        else {
          request(op, "write", post(s"/ingest/point?store=$StoreName&tag=w$w&wait=30s", bodies(w)),
            b => Checks.writeBody(b) match {
              case Left(p) => Some(p)
              case Right(false) => Some(s"fresh tag w$w reported committed=false")
              case Right(true) => committed.add(w); None
            })
          if (phaseWrites.incrementAndGet() % CompactEvery == 0) {
            if (trace.active) trace.sample("sources.compactions", 1.0)
            request(op, "compact", post(s"/compact?store=$StoreName", ""), compacted)
          }
        }
      }
      i += 1
    }
  }

  def measure(budgetNs: Long, record: Boolean): Double = {
    // every phase starts from a compacted store, so each run reads through
    // the same sequence of delta counts whatever the phase before it left
    request(-1, "compact", post(s"/compact?store=$StoreName", ""), compacted)
    phaseWrites.set(0)
    val start = Clock.nowMs
    val end = System.nanoTime() + budgetNs
    val threads = (0 until Clients).map { c =>
      val t = new Thread(() => client(c, end, record), s"perfbench-client-$c")
      t.start(); t
    }
    if (record && trace.enabled) {
      var slice = 0L
      while (threads.exists(_.isAlive)) {
        trace.set(slice % 2 == 1)
        slice += 1
        val sliceEnd = System.nanoTime() + SliceMs * 1000000L
        while (threads.exists(_.isAlive) && System.nanoTime() < sliceEnd) Thread.sleep(10)
      }
      trace.set(false)
    }
    threads.foreach(_.join())
    start
  }

  def finalCheck(): Unit = {
    def rows(df: DataFrame): Seq[String] =
      Gen.comparable(df).collect()
        .map((r: Row) => Checks.canon(r.toSeq)).toSeq
    val snap = PointStore.open(spark, storeDir.getPath).snapshot
    import spark.implicits._
    val posted = committed.asScala.toSeq.flatMap(i => bodies(i).split("\n"))
    val parts = (0 until SeedDeltas).map(k => Gen.playerPartial(seedSlice(k))) :+
      spark.read.schema(snap.schema).json(posted.toDS())
    val expected = rows(Gen.fold(parts.reduce(_ unionByName _)))
    res.check("final_store_equals_seed_plus_committed_writes",
      Checks.sameRows("store snapshot", expected, rows(snap)))
    trace.scalar("sources.store_bytes", Measure.bytesUnder(storeDir).toDouble)
    trace.scalar("sources.store_files", Measure.filesUnder(storeDir).toDouble)
    res.put("writes_committed", committed.size)
  }

  override def close(): Unit = if (server != null) server.stop()
}
