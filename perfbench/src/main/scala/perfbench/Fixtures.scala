package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic fixtures, shaped like the engine's test tables
  * (FIXTURES.md) and always generated from the same fixed seed: the
  * benchmark's `--seed` drives only the requests, never the data. Every
  * column is a pure function of the row id, so two runs write identical
  * rows. */
object Fixtures {
  val DataSeed = 42L
  val Days = 30
  val EventRows = 100000L
  val LineitemRows = 100000L
  val OrderRows = 25000L
  val DocRows = 3000L
  val VecRows = 2000L
  val EventTypes = Seq("click", "view", "signup", "purchase", "error")
  val FirstDay: java.time.LocalDate = java.time.LocalDate.parse("2024-01-01")

  /** The `k`-th independent pseudo-random long of a row. */
  private def h(id: Column, k: Int): Column = xxhash64(id, lit(DataSeed * 31 + k))
  private def uniform(id: Column, k: Int, n: Long): Column = pmod(h(id, k), lit(n))

  def events(spark: SparkSession): DataFrame = {
    val id = col("id")
    val spanUs = Days * 86400L * 1000000L
    val startUs = FirstDay.atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli * 1000L
    spark.range(0, EventRows, 1, 4).select(
      id.as("event_id"),
      timestamp_micros(lit(startUs) + id * (spanUs / EventRows) +
        uniform(id, 1, spanUs / EventRows)).as("ts"),
      uniform(id, 2, 1500).as("user_id"),
      element_at(typedLit(EventTypes), (uniform(id, 3, EventTypes.size) + 1).cast("int"))
        .as("event_type"),
      (uniform(id, 4, 56021) / 100.0).as("value"),
      concat(lit("{\"k\": "), uniform(id, 5, 100).cast("string"), lit("}")).as("props"))
  }

  private def dateFrom(id: Column, k: Int, base: String, spanDays: Long): Column =
    to_timestamp(date_add(to_date(lit(base)), uniform(id, k, spanDays).cast("int")))

  def lineitem(spark: SparkSession): DataFrame = {
    val id = col("id")
    val qty = (uniform(id, 13, 50) + 1).cast("double")
    spark.range(0, LineitemRows, 1, 4).select(
      uniform(id, 11, OrderRows).as("l_orderkey"),
      uniform(id, 12, 20000).as("l_partkey"),
      uniform(id, 14, 1000).as("l_suppkey"),
      (uniform(id, 15, 7) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + uniform(id, 16, 100000) / 100.0), 2).as("l_extendedprice"),
      (uniform(id, 17, 11) / 100.0).as("l_discount"),
      (uniform(id, 18, 9) / 100.0).as("l_tax"),
      element_at(typedLit(Seq("A", "N", "R")), (uniform(id, 19, 3) + 1).cast("int"))
        .as("l_returnflag"),
      element_at(typedLit(Seq("O", "F")), (uniform(id, 20, 2) + 1).cast("int"))
        .as("l_linestatus"),
      dateFrom(id, 21, "1992-01-01", 2526).as("l_shipdate"))
  }

  def orders(spark: SparkSession): DataFrame = {
    val id = col("id")
    spark.range(0, OrderRows, 1, 4).select(
      id.as("o_orderkey"),
      uniform(id, 31, 15000).as("o_custkey"),
      element_at(typedLit(Seq("O", "F", "P")), (uniform(id, 32, 3) + 1).cast("int"))
        .as("o_orderstatus"),
      (uniform(id, 33, 50000000) / 100.0).as("o_totalprice"),
      dateFrom(id, 34, "1992-01-01", 2400).as("o_orderdate"),
      element_at(typedLit(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")), (uniform(id, 35, 5) + 1).cast("int")).as("o_orderpriority"))
  }

  private val Vocab = Seq("a", "the", "spark", "query", "scan", "sort", "hash", "join",
    "group", "filter", "value", "key", "row", "column", "table", "part", "line",
    "order", "data", "stream", "window", "batch", "merge", "vector", "fast", "slow",
    "big", "small", "agg", "customer", "error", "index", "segment", "cache", "druid",
    "time", "chunk", "plan", "task", "shard")

  /** Word-soup documents with planted near duplicates: every 20th document
    * repeats the text of the document seven ids earlier with one token
    * replaced, so the dedup operators have real pairs to find. A `ts`
    * column places each document on one of the fixture days, so the corpus
    * can also be ingested as a time-chunked datasource. */
  def documents(spark: SparkSession): DataFrame = {
    val id = col("id")
    val src = when(pmod(id, lit(20)) === 7, id - 7).otherwise(id)
    val len = (uniform(src, 41, 70) + 10).cast("int")
    val vocab = typedLit(Vocab)
    val tokens = transform(sequence(lit(1), len), i =>
      element_at(vocab, (pmod(xxhash64(src, i, lit(DataSeed)), lit(Vocab.size.toLong)) + 1)
        .cast("int")))
    val text = array_join(when(src =!= id,
      concat(slice(tokens, 1, 2), array(lit("planted")), slice(tokens, 4, 1000)))
      .otherwise(tokens), " ")
    spark.range(0, DocRows, 1, 4).select(
      id.as("doc_id"),
      text.as("text"),
      element_at(typedLit(Seq("en", "en", "en", "de", "fr", "es", "zh")),
        (uniform(id, 42, 7) + 1).cast("int")).as("lang"),
      concat(lit("src"), uniform(id, 43, 20).cast("string")).as("source"),
      length(text).cast("long").as("n_chars"),
      to_timestamp(date_add(lit(FirstDay.toString).cast("date"),
        uniform(id, 44, Days).cast("int"))).as("ts"))
  }

  /** Clustered unit-ish vectors: ten label centres plus per-row noise. */
  def embeddings(spark: SparkSession): DataFrame = {
    val id = col("id")
    val label = uniform(id, 51, 10)
    val dim = transform(sequence(lit(0), lit(63)), j =>
      ((pmod(xxhash64(label, j, lit(DataSeed)), lit(2000L)) - 1000) / 1000.0 +
        (pmod(xxhash64(id, j, lit(DataSeed + 1)), lit(400L)) - 200) / 1000.0).cast("float"))
    spark.range(0, VecRows, 1, 4).select(
      id.as("vec_id"), dim.as("embedding"), label.cast("int").as("label"))
  }

  /** The `index` write tasks re-ingest spans of `SpanDays` fixture days:
    * big enough that row work, not per-task overhead, sets their time. */
  val SpanDays = 5
  val Spans: Int = Days / SpanDays
  def spanDays(k: Int): Range = k * SpanDays until (k + 1) * SpanDays
  def spanInput(input: Path, k: Int): Path = input.resolve("by_span").resolve(s"span=$k")

  /** The file the set-up ingests into the workload's datasource. */
  def ingestInput(workload: String, data: Path, input: Path): Path =
    if (workload == "curation") data.resolve("documents.parquet")
    else input.resolve("events.parquet")

  /** Generate a workload's fixtures as parquet: the static tables under
    * `data`, the ingest input (whole and split by span) under `input`. */
  def materialize(spark: SparkSession, workload: String, data: Path, input: Path): Unit = {
    java.nio.file.Files.createDirectories(data)
    java.nio.file.Files.createDirectories(input)
    val src = workload match {
      case "curation" =>
        write(embeddings(spark), data, "embeddings")
        write(documents(spark), data, "documents")
      case w =>
        if (w == "adhoc") {
          write(lineitem(spark), data, "lineitem")
          write(orders(spark), data, "orders")
        }
        write(events(spark), input, "events")
    }
    val day = datediff(to_date(col("ts")), lit(FirstDay.toString).cast("date"))
    spark.read.parquet(src.toString).withColumn("span", floor(day / SpanDays).cast("int"))
      .repartition(col("span")).write.partitionBy("span")
      .parquet(input.resolve("by_span").toString)
  }

  /** Write one table as a single-file parquet directory `<dir>/<name>.parquet`
    * (the fixture layout the engine's catalogs read). */
  def write(df: DataFrame, dir: java.nio.file.Path, name: String): java.nio.file.Path = {
    val out = dir.resolve(s"$name.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(out.toString)
    out
  }

  /** Bytes of every regular file under `p`. */
  def bytesUnder(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val walk = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .filter(f => f.getFileName.toString.endsWith(".parquet"))
          .map(java.nio.file.Files.size).sum
      } finally walk.close()
    }
}
