package perfbench

import scala.util.Random

/** One generated request. `key` identifies the distinct request (the
  * answer check keys on it); `days` lists the fixture day indexes its
  * intervals cover (empty = the whole datasource). Native bodies carry no
  * context and are sent byte-identical on every repeat, as a dashboard
  * re-sends its widgets' queries: the engine assigns the queryId, and the
  * whole-query result cache, which keys on the body, can serve a repeat. */
final case class Req(key: String, shape: String, body: String, sql: String,
    datasources: Seq[String], days: Seq[Int]) {
  def native: Boolean = sql.isEmpty
}

object Requests {
  private val Day0 = Fixtures.FirstDay

  private def iso(day: Int): String = s"${Day0.plusDays(day.toLong)}T00:00:00Z"
  private def interval(from: Int, to: Int): String = s""""intervals":["${iso(from)}/${iso(to)}"]"""

  /** `body` with a `context` object holding `ctx` appended. */
  def withContext(body: String, ctx: Seq[(String, String)]): String =
    body.stripSuffix("}") + ctx.map { case (k, v) => s""""$k":"$v"""" }
      .mkString(""","context":{""", ",", "}}")

  private def native(shape: String, days: Seq[Int], body: String): Req =
    Req(s"$shape|$body", shape, body, "", Seq("events"), days)

  private def sql(shape: String, ds: Seq[String], stmt: String): Req =
    Req(s"$shape|$stmt", shape, "", stmt, ds, Seq.empty)

  // --- dashboard -----------------------------------------------------------

  val DashWindow = 7
  /** Dashboard shapes with their share of the traffic, in 1/40ths. The class
    * shares follow the production query mix the Druid paper reports (Yang
    * et al., "Druid: A Real-time Analytical Data Store", SIGMOD 2014, §6.1):
    * about 30% standard aggregates (timeseries), 60% ordered group-bys and
    * topNs, 10% search and metadata queries. How each class splits over its
    * shapes is an assumption (even splits), and so is counting the raw-row
    * scan with the 10%. The first six shapes decompose per chunk and can be
    * served from cached fragments; the last four always run whole. */
  private val dashWeights = Seq("ts_hour" -> 4, "ts_day" -> 4, "ts_day_purchase" -> 4,
    "topn_type" -> 8, "groupby_type_day" -> 8, "groupby_value_bucket" -> 8,
    "search_type" -> 1, "segment_metadata" -> 1, "time_boundary" -> 1, "scan_user" -> 1)
  private val dashShapes = dashWeights.map(_._1)
  val dashCacheable: Seq[String] = dashShapes.take(6)

  /** One dashboard widget over the `DashWindow`-day window ending at day `end`. */
  def dashboard(shape: String, end: Int): Req = dashboardOver(shape, end - DashWindow, end)

  /** One dashboard widget over the days `[from, end)`. */
  def dashboardOver(shape: String, from: Int, end: Int): Req = {
    val days = from until end
    val iv = interval(from, end)
    val ts = """{"queryType":"timeseries","dataSource":"events","""
    shape match {
      case "ts_hour" => native(shape, days, ts + iv +
        ""","granularity":"hour","aggregations":[{"type":"count","name":"cnt"},""" +
        """{"type":"doubleSum","name":"sum_val","fieldName":"value"}]}""")
      case "ts_day" => native(shape, days, ts + iv +
        ""","granularity":"day","aggregations":[{"type":"count","name":"cnt"},""" +
        """{"type":"doubleSum","name":"sum_val","fieldName":"value"},""" +
        """{"type":"longMax","name":"max_user","fieldName":"user_id"}]}""")
      case "ts_day_purchase" => native(shape, days, ts + iv +
        ""","granularity":"day","filter":{"type":"selector","dimension":"event_type",""" +
        """"value":"purchase"},"aggregations":[{"type":"count","name":"cnt"},""" +
        """{"type":"doubleSum","name":"revenue","fieldName":"value"}]}""")
      case "topn_type" => native(shape, days,
        """{"queryType":"topN","dataSource":"events",""" + iv +
        ""","granularity":"all","dimension":"event_type","metric":"sum_val",""" +
        """"threshold":3,"aggregations":[{"type":"doubleSum","name":"sum_val",""" +
        """"fieldName":"value"},{"type":"count","name":"cnt"}]}""")
      case "groupby_type_day" => native(shape, days,
        """{"queryType":"groupBy","dataSource":"events",""" + iv +
        ""","granularity":"day","dimensions":["event_type"],""" +
        """"aggregations":[{"type":"count","name":"cnt"}]}""")
      case "groupby_value_bucket" => native(shape, days,
        """{"queryType":"groupBy","dataSource":"events",""" + iv +
        ""","granularity":"all","dimensions":[{"type":"extraction",""" +
        """"dimension":"value","outputName":"bucket","extractionFn":""" +
        """{"type":"bucket","size":100,"offset":0}}],""" +
        """"aggregations":[{"type":"count","name":"cnt"}],"limitSpec":{"type":"default",""" +
        """"columns":[{"dimension":"bucket","direction":"ascending",""" +
        """"dimensionOrder":"numeric"}]}}""")
      case "search_type" => native(shape, days,
        """{"queryType":"search","dataSource":"events",""" + iv +
        ""","searchDimensions":["event_type"],"query":{"type":"contains",""" +
        """"value":"i"},"sort":"lexicographic","limit":10}""")
      case "scan_user" => native(shape, Seq(end - 1),
        """{"queryType":"scan","dataSource":"events",""" + interval(end - 1, end) +
        ""","columns":["__time","event_id","user_id","value"],"filter":{"type":"bound",""" +
        """"dimension":"user_id","lower":"100","upper":"109","ordering":"numeric"},""" +
        """"limit":1000}""")
      case "time_boundary" => native(shape, Seq.empty,
        """{"queryType":"timeBoundary","dataSource":"events"}""")
      case "segment_metadata" => native(shape, days,
        """{"queryType":"segmentMetadata","dataSource":"events",""" + iv +
        ""","merge":false}""")
    }
  }

  /** Endless cycles through `bag`, each cycle in a fresh seeded order: the
    * mix is exact per cycle, only the order varies with the seed. */
  private def cycles[T](bag: IndexedSeq[T], r: Random): Iterator[T] =
    Iterator.continually(r.shuffle(bag)).flatten

  /** Window positions (end days): every fifth day, so the distinct request
    * set stays small enough to check every answer after each run. */
  val windowEnds: IndexedSeq[Int] = (10 to Fixtures.Days by 5).toIndexedSeq

  /** Popularity of each window position: Zipf(1.1) by recency — the latest
    * window is viewed most — rounded to whole requests per cycle (4, 2, 1,
    * 1, 1). */
  private val windowWeights: IndexedSeq[Int] = windowEnds.indices.reverse
    .map(rank => math.round(4.0 / math.pow(rank + 1, 1.1)).toInt.max(1))

  /** The run's dashboard traffic, shared by all clients: cycles through
    * every (shape, window) pair at shape weight × window popularity, each
    * cycle in seeded order. The mix is exact per cycle, so a seed changes
    * which request comes when, never how much of each there is. */
  def dashboardStream(seed: Long): Iterator[Req] = {
    val bag = for ((s, w) <- dashWeights; (e, p) <- windowEnds.zip(windowWeights);
      _ <- 0 until w * p) yield if (s == "time_boundary") dashboard(s, Fixtures.Days)
      else dashboard(s, e)
    cycles(bag.toIndexedSeq, new Random(seed * 1000003L))
  }

  /** Fixture days that some dashboard window covers. */
  val coveredDays: Range = windowEnds.head - DashWindow until windowEnds.last

  /** The dashboard request of `shape` over a window position that covers
    * `day`, chosen by `r` among those that do. */
  def covering(shape: String, day: Int, r: Random): Req = {
    val ends = windowEnds.filter(e => e - DashWindow <= day && day < e)
    dashboard(shape, ends(r.nextInt(ends.size)))
  }

  /** One request per cacheable shape over every day any window touches:
    * fills each shape's per-chunk fragments (the warm-up). The window then
    * meets each distinct request for the first time in its first cycle,
    * served from those fragments (or run whole, for the shapes that do not
    * decompose), and its repeats from the whole-query result cache. */
  def cover: Seq[Req] =
    dashCacheable.map(dashboardOver(_, windowEnds.head - DashWindow, windowEnds.last))

  // --- adhoc -----------------------------------------------------------------

  val adhocShapes = Seq("groupby_filtered", "topn_user", "ts_user_range", "scan_user",
    "groupby_lineitem", "sql_pricing_summary", "sql_order_priority", "sql_revenue")

  private def dec(r: Random, lo: Double, hi: Double): String =
    f"${lo + r.nextDouble() * (hi - lo)}%.4f"

  private def sqlTs(r: Random, fromYear: Int, years: Int): String = {
    val d = java.time.LocalDate.of(fromYear, 1, 1).plusDays(r.nextInt(years * 365).toLong)
    f"$d ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"
  }

  /** One unique ad-hoc request of `shape`: seeded intervals, filter values
    * and thresholds (continuous parameters, so no two requests repeat). */
  def adhoc(shape: String, r: Random): Req = {
    val from = r.nextInt(Fixtures.Days - 5)
    val to = from + 1 + r.nextInt(5)
    val days = from until to
    shape match {
      case "groupby_filtered" => native(shape, days,
        """{"queryType":"groupBy","dataSource":"events",""" + interval(from, to) +
        ""","granularity":"all","dimensions":["event_type"],"filter":{"type":"bound",""" +
        s""""dimension":"value","lower":"${dec(r, 0, 500)}","ordering":"numeric"},""" +
        """"aggregations":[{"type":"count","name":"cnt"},{"type":"doubleSum",""" +
        """"name":"sum_val","fieldName":"value"},{"type":"longMax","name":"max_user",""" +
        """"fieldName":"user_id"}]}""")
      case "topn_user" => native(shape, days,
        """{"queryType":"topN","dataSource":"events",""" + interval(from, to) +
        s""","granularity":"all","dimension":"user_id","threshold":${5 + r.nextInt(25)},""" +
        s""""metric":"total","filter":{"type":"and","fields":[{"type":"selector",""" +
        s""""dimension":"event_type","value":"${Fixtures.EventTypes(r.nextInt(5))}"},""" +
        s"""{"type":"bound","dimension":"value","lower":"${dec(r, 0, 50)}",""" +
        """"ordering":"numeric"}]},"aggregations":[{"type":"doubleSum","name":"total",""" +
        """"fieldName":"value"}]}""")
      case "ts_user_range" =>
        val u = r.nextInt(1400)
        native(shape, days,
          """{"queryType":"timeseries","dataSource":"events",""" + interval(from, to) +
          s""","granularity":"hour","filter":{"type":"bound","dimension":"user_id",""" +
          s""""lower":"$u","upper":"${u + 10 + r.nextInt(90)}","ordering":"numeric"},""" +
          s""""aggregations":[{"type":"count","name":"cnt"},{"type":"doubleSum",""" +
          s""""name":"sum_val","fieldName":"value"}],"postAggregations":[{"type":""" +
          s""""arithmetic","name":"scaled","fn":"*","fields":[{"type":"fieldAccess",""" +
          s""""fieldName":"sum_val"},{"type":"constant","name":"k","value":${dec(r, 0.5, 2)}}]}]}""")
      case "scan_user" =>
        val u = r.nextInt(1500)
        native(shape, days,
          """{"queryType":"scan","dataSource":"events",""" + interval(from, to) +
          s""","columns":["__time","event_id","event_type","value"],"filter":{"type":""" +
          s""""bound","dimension":"user_id","lower":"$u","upper":"$u","ordering":""" +
          s""""numeric"},"limit":${500 + r.nextInt(500)}}""")
      case "groupby_lineitem" =>
        val y = 1992 + r.nextInt(6)
        val body = """{"queryType":"groupBy","dataSource":"lineitem","intervals":[""" +
          s""""$y-01-01T00:00:00Z/${y + 1 + r.nextInt(2)}-01-01T00:00:00Z"],""" +
          """"granularity":"all","dimensions":["l_returnflag","l_linestatus"],""" +
          s""""filter":{"type":"bound","dimension":"l_quantity","lower":"${dec(r, 1, 45)}",""" +
          """"ordering":"numeric"},"aggregations":[{"type":"count","name":"cnt"},""" +
          """{"type":"doubleSum","name":"price","fieldName":"l_extendedprice"}]}"""
        Req(s"$shape|$body", shape, body, "", Seq("lineitem"), Seq.empty)
      case "sql_pricing_summary" => sql(shape, Seq("lineitem"),
        "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
          "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, " +
          "round(avg(l_discount), 6) AS avg_disc, count(*) AS n FROM lineitem " +
          s"WHERE l_shipdate <= TIMESTAMP '${sqlTs(r, 1995, 4)}' " +
          "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")
      case "sql_order_priority" =>
        val t = sqlTs(r, 1993, 5)
        sql(shape, Seq("orders", "lineitem"),
          "SELECT o_orderpriority, count(*) AS n, round(sum(l_extendedprice), 2) AS price " +
            "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
            s"WHERE o_orderdate >= TIMESTAMP '$t' AND o_orderdate < TIMESTAMP '$t' + " +
            s"INTERVAL 90 DAYS AND l_discount >= ${dec(r, 0, 0.08)} " +
            "GROUP BY o_orderpriority ORDER BY o_orderpriority")
      case "sql_revenue" =>
        val t = sqlTs(r, 1993, 5)
        val d = dec(r, 0.02, 0.08)
        sql(shape, Seq("lineitem"),
          "SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue, count(*) AS n " +
            s"FROM lineitem WHERE l_shipdate >= TIMESTAMP '$t' AND l_shipdate < " +
            s"TIMESTAMP '$t' + INTERVAL 365 DAYS AND l_discount BETWEEN $d AND $d + 0.02 " +
            s"AND l_quantity < ${dec(r, 10, 40)}")
    }
  }

  /** The run's ad-hoc traffic, shared by all clients: every shape once per
    * cycle in seeded order, every request unique. */
  def adhocStream(seed: Long): Iterator[Req] = {
    val r = new Random(seed * 7919L)
    cycles(adhocShapes.toIndexedSeq, r).map(adhoc(_, r))
  }


  // --- curation --------------------------------------------------------------

  /** The curation operator set, as (metric name, SparkEntry query name). */
  val curationOps: Seq[(String, String)] = Seq(
    "minhash_dedup" -> "q22_minhash_dups",
    "simhash_dedup" -> "q23_simhash_dups",
    "markup_strip" -> "q66_markup_strip",
    "blocklist" -> "q86_blocklist",
    "repetition_stats" -> "q68_repetition_stats",
    "knn_join" -> "q85_knn_join")
}
