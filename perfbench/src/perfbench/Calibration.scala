package perfbench

import java.io.File
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The `graft.queries` layer and the machine's drift record.
  *
  * [[Gates]] run through `graft.SparkEntry.queries`, materialized to
  * `noop` as `graft.Bench` does, on small `orders`, `documents`,
  * `embeddings` and `lineitem` tables in the testdata schemas. The tables
  * come from a fixed seed, not the run's, so every gate's result is known:
  * [[Expected]] pins an order-insensitive hash of each, confirmed against
  * the gate's DuckDB oracle (`SparkEntry.oracleSql`).
  *
  * The three `graft.Bench` calibration probes ([[Probes]]) are also timed
  * at the end of every traced run, so that a shift of the machine shows in
  * its record. */
object Calibration {

  val Probes = Seq("q16_scalar_exprs", "t01_token_stats", "s01_ann_bruteforce")
  /** The probes plus the gates of the `gate_mix` list (README) that run
    * on these tables: d24 and t15 on `documents`, g10 on `lineitem`. */
  val Gates = Probes ++ Seq("d24_soft_dedup", "t15_familiarity_tiers", "g10_hyperball")

  /** [[resultHash]] of each gate on the tables [[tables]] writes. */
  val Expected: Map[String, String] = Map(
    "q16_scalar_exprs" ->
      "19b8fdb0f444e214b8cabd422425858750cb506dbaf351c0cd75c507cbbdb493",
    "t01_token_stats" ->
      "0ac777f002a5afc685254ec016b2568ea98fb1fe4a196f5d9ef0aa93f8ef8eb6",
    "s01_ann_bruteforce" ->
      "86d0a0b1a762982161c4dc88a5e2030dae6bd81110d9fd8bd4ffebc76b50656a",
    "d24_soft_dedup" ->
      "facae60987da75d92d373a0be9743ad1a8067b472482eb72f27995aeef0d3144",
    "t15_familiarity_tiers" ->
      "9e9b8a76fa2b6a73625bda8f46a9c61ad0f4f5f03eb2792c781d4d19346eed63",
    "g10_hyperball" ->
      "f90627f1be521b5c4fe8ced52c28587e49933dcf9a86062292f7bf7cef679012")

  private val TableSeed = 7L

  /** Writes the tables once per work directory. Every table is built in
    * one partition, so `rand` gives the same rows on any core count. */
  def tables(spark: SparkSession, dir: File): Unit = {
    if (new File(dir, "_done").exists()) return
    Harness.deleteTree(dir)
    val p = dir.getPath
    val seed = TableSeed
    val words = array(Seq("batch", "part", "spark", "line", "column", "order", "small",
      "sort", "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
      "query", "big", "key", "window", "row", "table", "stream", "merge", "data").map(lit): _*)
    def pick(salt: Int, n: Int) = (rand(seed + salt) * n).cast("int")
    def range(n: Long) = spark.range(0, n, 1, 1)
    range(15000).select(col("id").as("o_orderkey"),
        (pick(1, 1500) + 1).cast("long").as("o_custkey"),
        element_at(array(lit("O"), lit("F"), lit("P")), pick(2, 3) + 1).as("o_orderstatus"),
        round(rand(seed + 3) * 400000 + 900, 2).as("o_totalprice"),
        timestamp_seconds(lit(694224000L) + pick(4, 2400) * 86400).as("o_orderdate"),
        element_at(array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"),
          lit("4-NOT SPECIFIED"), lit("5-LOW")), pick(5, 5) + 1).as("o_orderpriority"))
      .write.parquet(s"$p/orders.parquet")
    range(500).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), pick(6, 40) + 20),
          i => element_at(words, (abs(hash(col("id"), i, lit(seed))) % 25 + 1).cast("int"))))
          .as("text"),
        element_at(array(Seq("zh", "en", "fr", "es", "de").map(lit): _*), pick(7, 5) + 1).as("lang"),
        concat(lit("src"), pick(8, 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$p/documents.parquet")
    range(500).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(64)),
          i => (abs(hash(col("id"), i, lit(seed))) % 2000 / 1000.0 - 1.0).cast("float"))
          .as("embedding"),
        pick(9, 10).as("label"))
      .write.parquet(s"$p/embeddings.parquet")
    // orders of 2–5 parts from a pool of 300, so part pairs repeat
    range(1500).select(col("id").as("l_orderkey"),
        explode(transform(sequence(lit(1), pick(10, 4) + 2),
          i => (abs(hash(col("id"), i, lit(seed))) % 300).cast("long"))).as("l_partkey"))
      .write.parquet(s"$p/lineitem.parquet")
    new File(dir, "_done").createNewFile()
  }

  /** SHA-256 of a result, independent of row and column order: columns
    * sorted by name, doubles to 9 significant digits, rows sorted. */
  def resultHash(df: DataFrame): String = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    def cell(v: Any): String = v match {
      case null => "NULL"
      case d: Double => if (d.isNaN) "NaN" else f"$d%.9g"
      case f: Float => cell(f.toDouble)
      case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
      case o => o.toString
    }
    val rows = df.collect().map(r => order.map(i => cell(r.get(i))).mkString("|")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(df.columns(_)).mkString("|").getBytes("UTF-8"))
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xFF}%02x").mkString
  }

  /** The tables' directory; written on first use. */
  def tableDir(o: Harness.Opts, spark: SparkSession): File = {
    val dir = new File(o.work, "queries")
    tables(spark, dir)
    dir
  }

  /** Seconds per gate, timed inside a span `queries.<gate>` of `t`. With
    * `check`, each gate first runs once untimed: its result is collected
    * and its hash compared to [[Expected]] through `tally`, and the timed
    * run is the second, warm one. */
  def run(o: Harness.Opts, gates: Seq[String], t: Tracer, tally: Harness.Tally,
      check: Boolean): String = {
    val spark = Harness.session()
    try {
      val dir = tableDir(o, spark).getPath
      val sc = Some(spark.sparkContext)
      t.newInvocation("queries")
      gates.map { name =>
        val q = graft.SparkEntry.queries(name)
        if (check) tally {
          val h = resultHash(q(spark, dir))
          if (h != Expected(name)) throw new Harness.Mismatch(s"$name result hash $h")
        }
        val s = Harness.timed(t.span(s"queries.$name", sc)(
          q(spark, dir).write.format("noop").mode("overwrite").save()))._2
        f""""$name":$s%.4f"""
      }.mkString("{", ",", "}")
    } finally spark.stop()
  }

  /** Writes each gate's result as parquet under `out`, with the gates'
    * DuckDB oracle SQL in `oracle_sql.json`, and prints each
    * [[resultHash]]: `perfbench/confirm_gates.py` compares the two and
    * re-pins [[Expected]]. */
  def main(argv: Array[String]): Unit = {
    val Array(work, out) = argv
    val o = Harness.Opts("queries", 0L, 0.0, trace = false, new File(work), new File(work))
    val spark = Harness.session()
    try {
      val dir = tableDir(o, spark).getPath
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      Gates.foreach { name =>
        val df = graft.SparkEntry.queries(name)(spark, dir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
        println(s"$name ${resultHash(df)}")
      }
      val sql = Gates.map(g => mapper.writeValueAsString(g) + ":" +
        mapper.writeValueAsString(graft.SparkEntry.oracleSql(g))).mkString("{", ",", "}")
      java.nio.file.Files.writeString(new File(out, "oracle_sql.json").toPath, sql)
      println(s"tables $dir")
    } finally spark.stop()
  }
}
