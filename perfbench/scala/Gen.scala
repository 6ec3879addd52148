package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.SketchOps
import graft.sources.PointStore

/** Seeded generator of the star-schema tables graft reads (the TPC-H-shaped
  * `lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region`, `part`), with the
  * column names and types of graft's test data. Every value is a hash of
  * (seed, column salt, row key), so the same seed gives the same rows on
  * any partitioning. */
object Gen {

  /** Uniform integer in [0, n) keyed by (seed, salt, key). */
  def pick(seed: Long, salt: Int, key: Column, n: Long): Column =
    pmod(xxhash64(lit(seed), lit(salt), key), lit(n))

  private def unit(seed: Long, salt: Int, key: Column): Column =
    pick(seed, salt, key, 1000000L) / 1e6

  private def oneOf(seed: Long, salt: Int, key: Column, xs: String*): Column =
    element_at(array(xs.map(lit): _*), (pick(seed, salt, key, xs.size) + 1).cast("int"))

  private def day(seed: Long, salt: Int, key: Column): Column =
    timestamp_seconds(lit(1577836800L) + pick(seed, salt, key, 730L) * 86400L)
      .cast("timestamp_ntz")

  val Nations = 25
  val Regions = 5

  def orders(spark: SparkSession, seed: Long, from: Long, n: Long,
             customers: Long): DataFrame = {
    val k = col("id")
    spark.range(from, from + n).select(
      k.as("o_orderkey"),
      (pick(seed, 1, k, customers) + 1).as("o_custkey"),
      oneOf(seed, 2, k, "F", "O", "P").as("o_orderstatus"),
      round(lit(1000.0) + unit(seed, 3, k) * 300000.0, 2).as("o_totalprice"),
      day(seed, 4, k).as("o_orderdate"),
      concat(lit("PRIO-"), (pick(seed, 5, k, 5) + 1).cast("string")).as("o_orderpriority"))
  }

  /** 1 to 7 lines per order, orders `[from, from + n)`. */
  def lineitem(spark: SparkSession, seed: Long, from: Long, n: Long,
               parts: Long): DataFrame = {
    val k = col("l_orderkey") * 8 + col("l_linenumber")
    val qty = (pick(seed, 13, k, 50) + 1).cast("double")
    spark.range(from, from + n)
      .select(col("id").as("l_orderkey"),
        explode(sequence(lit(1), (pick(seed, 10, col("id"), 7) + 1).cast("int")))
          .as("l_linenumber"))
      .select(
        col("l_orderkey"),
        (pick(seed, 11, k, parts) + 1).as("l_partkey"),
        (pick(seed, 12, k, 100) + 1).as("l_suppkey"),
        col("l_linenumber"),
        qty.as("l_quantity"),
        round(qty * (lit(900.0) + unit(seed, 14, k) * 1100.0), 2).as("l_extendedprice"),
        (pick(seed, 15, k, 11).cast("double") / 100.0).as("l_discount"),
        (pick(seed, 16, k, 9).cast("double") / 100.0).as("l_tax"),
        oneOf(seed, 17, k, "A", "N", "R").as("l_returnflag"),
        oneOf(seed, 18, k, "O", "F").as("l_linestatus"),
        day(seed, 19, k).as("l_shipdate"))
  }

  /** Participant rows: lineitem joined to its order, carrying the player
    * key `o_custkey` — the unit a drop or a posted write is made of. */
  def participants(spark: SparkSession, seed: Long, from: Long, n: Long,
                   customers: Long, parts: Long): DataFrame =
    lineitem(spark, seed, from, n, parts)
      .join(orders(spark, seed, from, n, customers)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"),
        col("l_orderkey") === col("o_orderkey"))
      .drop("o_orderkey")

  /** Write the tables `crunch_global` reads into `dir` (one parquet
    * directory per table, as graft's `Tables` loaders expect). */
  def writeStar(spark: SparkSession, seed: Long, dir: String, nOrders: Long,
                customers: Long, parts: Long): Unit = {
    def out(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    out(lineitem(spark, seed, 0, nOrders, parts), "lineitem")
    out(orders(spark, seed, 0, nOrders, customers), "orders")
    val c = col("id")
    out(spark.range(1, customers + 1).select(
      c.as("c_custkey"),
      concat(lit("Customer#"), c.cast("string")).as("c_name"),
      pick(seed, 30, c, Nations).cast("int").as("c_nationkey"),
      round(unit(seed, 31, c) * 10000.0 - 1000.0, 2).as("c_acctbal"),
      oneOf(seed, 32, c, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY").as("c_mktsegment")), "customer")
    out(spark.range(0, Nations).select(
      c.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), c.cast("string")).as("n_name"),
      (c % Regions).cast("int").as("n_regionkey")), "nation")
    out(spark.range(0, Regions).select(
      c.cast("int").as("r_regionkey"),
      concat(lit("REGION_"), c.cast("string")).as("r_name")), "region")
    out(spark.range(1, parts + 1).select(
      c.as("p_partkey"),
      concat(lit("part "), c.cast("string")).as("p_name"),
      concat(lit("Brand#"), (pick(seed, 40, c, 25) + 11).cast("string")).as("p_brand"),
      oneOf(seed, 41, c, "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO").as("p_type"),
      (pick(seed, 42, c, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + unit(seed, 43, c) * 1100.0, 2).as("p_retailprice")), "part")
  }

  /** The player point store layout: player × game_mode × role, with the
    * `graft.operators.Merge.pointAgg` measures and one non-additive
    * measure, the distinct heroes (parts) played as a
    * `graft.functions.DistinctSketch`, so every fold, compaction and
    * merge-on-read runs graft's sketch kernels. */
  val Keys = Seq("player", "game_mode", "role")
  val Sums = Seq("played", "wins", "time_spent_d", "gold_d")
  val Maxes = Seq("last_match")
  val Sketches = Seq("heroes")
  /** Sketch precision and sparse capacity: a key sees far fewer distinct
    * heroes than the capacity, so its sketch stays exact. */
  val SketchP = 12
  val SketchSparseCap = 256

  /** The store's columns with the sketch read as its estimate: the
    * comparable form of a snapshot for the output checks. */
  def comparable(df: DataFrame): DataFrame =
    df.select((Keys ++ Sums ++ Maxes).map(col) ++
      Sketches.map(c => SketchOps.sketchEst(col(c)).as(c)): _*)

  /** A player store at `path` with this layout. */
  def playerStore(spark: SparkSession, path: String): PointStore =
    new PointStore(spark, path, Keys, Sums, Maxes, sketches = Sketches)

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Participant rows → the store's key-grain partial. */
  def playerPartial(rows: DataFrame): DataFrame = playerPartialBy(rows, Nil)

  /** The same partial, one per value of the `extra` grouping columns. */
  def playerPartialBy(rows: DataFrame, extra: Seq[Column]): DataFrame =
    rows.groupBy(extra ++ Seq(col("o_custkey").as("player"),
        col("l_returnflag").as("game_mode"), col("l_linestatus").as("role")): _*)
      .agg(
        count(lit(1)).as("played"),
        sum(when(col("l_quantity") > 25, 1L).otherwise(0L)).as("wins"),
        sum(dec(col("l_quantity"))).as("time_spent_d"),
        sum(dec(col("l_extendedprice"))).as("gold_d"),
        max(col("l_orderkey")).as("last_match"),
        SketchOps.distinctSketch(col("l_partkey"), SketchP, SketchSparseCap).as("heroes"))

  /** Fold partials (or a snapshot plus partials) to the key grain with the
    * store's merge rules: the one-shot reference the checks compare to. */
  def fold(partials: DataFrame): DataFrame =
    partials.groupBy(Keys.map(col): _*)
      .agg(sum("played").as("played"), sum("wins").as("wins"),
        sum("time_spent_d").as("time_spent_d"), sum("gold_d").as("gold_d"),
        max("last_match").as("last_match"),
        SketchOps.sketchMerge(col("heroes")).as("heroes"))
}
