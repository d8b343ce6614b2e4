package graft

import java.time.LocalDate
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipelines._

class PipelinesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.session
  import spark.implicits._

  test("ENSO: DEL columns dropped, month map + date derivation") {
    val parsed = Seq(
      ("12JAN2026", "23.1", "0.2", "x", "24.0", "0.1", "x", "25.0", "0.0", "x", "26.0", "-0.1", "x"))
      .toDF(EnsoPipeline.layout.map(_._1): _*)
    val out = EnsoPipeline.transform(parsed)
    assert(!out.columns.contains("DEL1"))
    val r = out.select("DAY", "MONTH", "YEAR", "DATE").as[(String, String, String, String)].head()
    assert(r == (("12", "01", "2026", "2026-01-12")))
    assert(out.columns.contains("actualizacion"))
  }

  test("Inflation: melt + dash repair + end-of-month + watermark") {
    val wide = Seq(("2026", "3.1", "–", "3.3", "3.4", "3.5", "3.6", "3.7", "3.8", "3.9", "4.0", "4.1", "4.2"))
      .toDF("Year" +: InflationPipeline.monthCols: _*)
    val long = InflationPipeline.transform(wide)
    assert(long.count() == 12)
    val feb = long.filter(col("Month") === "02").head()
    assert(feb.getAs[Any]("Inflation") == null) // '–' → null
    assert(feb.getAs[java.sql.Date]("date").toString == "2026-02-28")
    val inc = InflationPipeline.incremental(long, java.sql.Date.valueOf("2026-06-30"))
    assert(inc.count() == 6) // Jul..Dec
  }

  test("Yahoo: null-Close drop + per-symbol watermark") {
    val prices = Seq(
      ("AAA", "2026-01-02", Some(10.0)), ("AAA", "2026-01-03", None),
      ("AAA", "2026-01-04", Some(11.0)), ("BBB", "2026-01-02", Some(5.0)))
      .toDF("Symbol", "Date", "Close")
    val wm = Seq(("AAA", "2026-01-02")).toDF("Symbol", "max_date")
    val out = MarketPipelines.yahoo(prices, wm)
    val got = out.select("Symbol", "Date").as[(String, String)].collect().toSet
    assert(got == Set(("AAA", "2026-01-04"), ("BBB", "2026-01-02")))
  }

  test("SNP500: nested chart payload flatten + range filter") {
    val json =
      """{"chart":{"result":[{"timestamp":[1767225600,1767312000,1767398400],
        |"indicators":{"quote":[{"close":[100.5,101.5,102.5]}]}}]}}""".stripMargin
    val payload = spark.read.json(Seq(json).toDS)
    val out = MarketPipelines.snp500(payload,
      java.sql.Timestamp.valueOf("2025-12-31 00:00:00"),
      java.sql.Timestamp.valueOf("2026-01-10 00:00:00"))
    // 2026-01-01..03 epochs; Date > wm+1d keeps 01-02, 01-03 (strict >)
    val got = out.select("Close").as[Double].collect().toSet
    assert(got == Set(101.5, 102.5))
    // TIMESTAMP window, not midnight-truncated (r14 review): a 14:30
    // market bar exactly one day before `now` is INSIDE (.., now − 1d] —
    // date_add would have truncated now to midnight and dropped it
    val intraday = """{"chart":{"result":[{"timestamp":[1767364200],
      |"indicators":{"quote":[{"close":[103.5]}]}}]}}""".stripMargin
    val outI = MarketPipelines.snp500(spark.read.json(Seq(intraday).toDS),
      java.sql.Timestamp.valueOf("2025-12-31 00:00:00"),
      java.sql.Timestamp.valueOf("2026-01-03 15:00:00"))
    assert(outI.select("Close").as[Double].collect().toSeq == Seq(103.5))
  }

  test("OilWti: watermark filter + empty guard") {
    val pairs = Seq(("2026-01-05", 70.0), ("2026-01-06", 71.0)).toDF("Date", "Close")
    val some = MarketPipelines.oilWti(pairs, java.sql.Date.valueOf("2026-01-05"))
    assert(some.isDefined && some.get.count() == 1)
    val none = MarketPipelines.oilWti(pairs, java.sql.Date.valueOf("2026-01-07"))
    assert(none.isEmpty)
  }

  test("CFTC: net managed-money position + year + fill") {
    val rep = Seq((java.sql.Date.valueOf("2026-03-03"), Option(100.0), Option.empty[Double]))
      .toDF("Report_Date_as_MM_DD_YYYY", "M_Money_Positions_Long_ALL",
        "M_Money_Positions_Short_ALL")
    val out = MarketPipelines.cftc(rep, java.sql.Date.valueOf("2026-01-01"))
    val r = out.head()
    assert(r.getAs[Double]("calculo") == 100.0)
    assert(r.getAs[Int]("año") == 2026)
  }

  test("Prophedex calendar: rollover, allowed months, range compression") {
    // Corn (H,K,N,U,Z). On 2026-01-10 next two = H26, K26.
    assert(ProphedexCalendar.expirationSymbols(
      LocalDate.of(2026, 1, 10), "C", 2) == Seq("CH26", "CK26"))
    // On 2026-03-25 (≥20th of expiration month H) → K26, N26.
    assert(ProphedexCalendar.expirationSymbols(
      LocalDate.of(2026, 3, 25), "C", 2) == Seq("CK26", "CN26"))
    // Year wrap: 2026-12-21 → H27, K27.
    assert(ProphedexCalendar.expirationSymbols(
      LocalDate.of(2026, 12, 21), "C", 2) == Seq("CH27", "CK27"))
    val ranges = ProphedexCalendar.symbolRanges(
      LocalDate.of(2026, 3, 15), LocalDate.of(2026, 3, 25), "C", 2)
    // one range up to Mar 19, one from Mar 20 (rollover day)
    assert(ranges.size == 2)
    assert(ranges(0)._1 == LocalDate.of(2026, 3, 15) &&
      ranges(0)._2 == LocalDate.of(2026, 3, 19) &&
      ranges(0)._3 == Seq("CH26", "CK26"))
    assert(ranges(1)._1 == LocalDate.of(2026, 3, 20) &&
      ranges(1)._3 == Seq("CK26", "CN26"))
    assert(ProphedexCalendar.symbolRanges(
      LocalDate.of(2026, 3, 25), LocalDate.of(2026, 3, 15), "C", 2).isEmpty)
  }

  test("WASDE: groups, carry-forward geography, NA repair, stocks-to-use") {
    val rows = Seq(
      ("p18", 0L, "2025/26 (Est.) 2/", "", "", "", "", "", "", ""),
      ("p18", 1L, "World 3/", "", "", "", "", "", "", ""),
      ("p18", 2L, "Major Exporters", "", "", "", "", "", "", ""),
      ("p18", 3L, "Brazil", "1", "2", "3", "4", "5", "6", "7"),
      ("p18", 4L, "", "9", "9", "NA", "", "2", "1", "4"),
      ("p18", 5L, "Selected Other", "0", "0", "0", "0", "0", "0", "0"),
      ("p18", 6L, "2025/26 (Proj.)", "", "", "", "", "", "", ""),
      ("p18", 7L, "Argentina", "2", "4", "0", "1", "2", "2", "8"))
      .toDF("sheet", "rowIdx", "geo", "beginning", "production", "imports",
        "dom_feed", "dom_total", "exports", "ending")
    val out = WasdeTransforms.parseSupplyUse(rows).orderBy("rowIdx")
    // the columns, their order, types and nullability (as built in ~18 steps)
    assert(out.schema.toDDL == "sheet STRING,rowIdx BIGINT NOT NULL," +
      "grupo STRING,tipo STRING,harvest STRING,geography STRING," +
      "orden INT NOT NULL,beginning DOUBLE NOT NULL," +
      "production DOUBLE NOT NULL,imports DOUBLE NOT NULL," +
      "dom_feed DOUBLE NOT NULL,dom_total DOUBLE NOT NULL," +
      "exports DOUBLE NOT NULL,ending DOUBLE NOT NULL," +
      "total_use DOUBLE NOT NULL,stocks_to_use DOUBLE")
    val got = out.collect()
    assert(got.length == 3) // Brazil, continuation, Argentina
    val brazil = got(0)
    assert(brazil.getAs[String]("grupo") == "Major Exporters")
    assert(brazil.getAs[String]("tipo") == "EST")
    assert(brazil.getAs[String]("harvest") == "2025/26")
    assert(brazil.getAs[Double]("total_use") == 11.0) // 5 + 6
    assert(math.abs(brazil.getAs[Double]("stocks_to_use") - 7.0 / 11.0 * 100) < 1e-12)
    val cont = got(1)
    assert(cont.getAs[String]("geography") == "Brazil") // carry-forward
    assert(cont.getAs[Double]("imports") == 0.0) // NA → 0
    assert(cont.getAs[Double]("dom_feed") == 0.0) // '' → 0
    val arg = got(2)
    assert(arg.getAs[String]("tipo") == "PROJ")
    assert(arg.getAs[Int]("orden") == 1)
  }

  test("WASDE p11 transpose: attribute rows become columns per year") {
    val block = Seq(
      ("Area Planted", "90.7", "92.0"),
      ("Yield", "51.9", "52.5"),
      ("Production", "4465", "4600"))
      .toDF("attr", "2024/25", "2025/26")
    val t = WasdeTransforms.transposeBlock(block, "attr",
      Seq("2024/25", "2025/26"))
    assert(t.columns.toSeq == Seq("year", "Area Planted", "Yield", "Production"))
    val rows = t.orderBy("year").as[(String, String, String, String)].collect().toSeq
    assert(rows == Seq(("2024/25", "90.7", "51.9", "4465"),
      ("2025/26", "92.0", "52.5", "4600")))
  }

  test("Site scoring: clean, categorize (last rule wins), features, close points") {
    val pois = Seq(
      ("S1", 19.4326, -99.1332, "p1", "Tacos 'El Güero'", 19.4327, -99.1333),
      ("S1", 19.4326, -99.1332, "p1", "Tacos 'El Güero'", 19.4327, -99.1333), // dup
      ("S1", 19.4326, -99.1332, "p2", "KFC Restaurant", 19.4426, -99.1433),
      ("S1", 19.4326, -99.1332, "p3", "Café María", 19.4330, -99.1340))
      .toDF("rst_cd", "rst_lat", "rst_lon", "poi_id", "poi_name", "poi_lat", "poi_lon")
    val prep = SiteScoringPipeline.preparePois(pois)
    assert(prep.count() == 3) // dedup on (rst_cd, poi_id)
    val cats = prep.select("poi_id", "poi_category").as[(String, String)].collect().toMap
    assert(cats("p1") == "RESTAURANTE") // TACOS rule
    assert(cats("p2") == "CADENA QSR") // matches RESTAURANT too — last rule wins
    assert(cats("p3") == "OTROS SIN CLASIFICACION")
    // accent folding applied
    val names = prep.select("poi_name").as[String].collect().toSet
    assert(names.contains("TACOS EL GUERO") && names.contains("CAFE MARIA"))

    val fv = SiteScoringPipeline.featureVector(prep,
      Seq("RESTAURANTE", "CADENA QSR", "BANCO"))
    val row = fv.head()
    assert(row.getAs[Long]("RESTAURANTE_300M_CNT") == 1L)
    assert(row.getAs[Long]("RESTAURANTE_100M_CNT") == 1L) // ~15 m away
    assert(row.getAs[Long]("BANCO_300M_CNT") == 0L) // fill 0
    assert(row.getAs[Double]("BANCO_MIN_DIST") == 10000.0) // fill 10000

    val sites = Seq(("S1", 19.4326, -99.1332)).toDF("rst_cd", "rst_lat", "rst_lon")
    val pos = Seq(("A", 19.4330, -99.1335), ("B", 19.5000, -99.2000),
      ("C", 19.4327, -99.1333), ("D", 20.0, -100.0))
      .toDF("POS_NM", "LTT", "LGT")
    val cp = SiteScoringPipeline.closePoints(sites, pos)
    val ranked = cp.orderBy("POS_RANK").select("POS_NM").as[String].collect().toSeq
    assert(ranked == Seq("C", "A", "B"))

    val forecast = Seq(("S1", 0.87)).toDF("rst_cd", "forecast")
    val resp = SiteScoringPipeline.assembleResponse(prep, cp, forecast)
    val js = resp.select("response").as[String].head()
    assert(js.contains("\"forecast\":0.87") && js.contains("close_points"))
  }

  test("Full categorizer: 47-rule parity, totality, last-writer-wins") {
    import SiteScoringPipeline._
    // rule-count parity with the reference table (PGSITE/__init__.py:
    // 144-281 = 47 `output.loc` rule applications incl. the duplicated
    // TIENDA DE CONVENIENCIA block)
    assert(fullRules.size == 47)
    assert(ruleProbes.size == fullRules.size + 1) // + the default probe
    val probed = ruleProbes.zipWithIndex
      .map { case ((n, t), i) => (i.toLong, n, t) }
      .toDF("i", "poi_name", "poi_type")
      .withColumn("cat", categorizePoi(col("poi_name"), col("poi_type")))
    val got = probed.select("i", "cat").as[(Long, String)].collect()
      .toMap
    // TOTALITY: every probe lands in ITS OWN rule's category — so every
    // reference category is reachable AND no later rule shadows a probe
    fullRules.zipWithIndex.foreach { case ((_, _, cat), i) =>
      assert(got(i.toLong) == cat, s"probe $i (${ruleProbes(i)})")
    }
    assert(got(fullRules.size.toLong) == defaultCategory)
    // the reachable category set is the full reference inventory
    assert(fullRules.map(_._3).toSet.size == 40)
    // LAST-writer-wins order: PARQUEO (rule 10) also matches the later
    // PARQUE rule (24) → PARQUE wins; the reference's concatenation-only
    // ACADEMIA regex beats the earlier ESCUELA→COLEGIO rule
    val lw = Seq(("PARQUEO CENTRAL", "X"), ("ESCUELAFUTBOL", "X"),
        ("TIENDA DE CONVENIENCIA LOCAL", "X"))
      .toDF("poi_name", "poi_type")
      .withColumn("cat", categorizePoi(col("poi_name"), col("poi_type")))
      .select("cat").as[String].collect().toSeq
    assert(lw(0) == "PARQUE")
    assert(lw(1) == "ACADEMIA")
    // name says CONVENIENCIA (rule 17/18) but the later TIENDA-substring
    // rule (37) rewrites it — faithful to the reference's ordering
    assert(lw(2) == "TIENDA DE BARRIO")
  }

  test("Site variants: NEX/PL/PLCR category lists, countries, serving contract") {
    import SiteScoringPipeline._
    val nex = variants("NEX"); val pl = variants("PL"); val cr = variants("PLCR")

    // list provenance — sizes and set relationships exactly as in the
    // reference files (HTIPNEXSITE:315 / HTIPPLSITE:324 / HTIPPLSITECR:324)
    assert(nex.featureCategories.size == 42)
    assert(nex.featureCategories.distinct.size == 40)
    // the two NEX repeats the dict-overwrite quirk collapses
    assert(nex.featureCategories.count(_ == "OFICINAS GUBERNAMENTALES") == 2)
    assert(nex.featureCategories.count(_ == "OTROS RESTAURANTE") == 2)
    assert(pl.featureCategories.size == 39 &&
      pl.featureCategories.distinct.size == 39)
    assert(cr.featureCategories.size == 38 &&
      cr.featureCategories.distinct.size == 38)
    // CR = the PL program minus the fire-station category
    assert(pl.featureCategories.toSet -- cr.featureCategories.toSet ==
      Set("ESTACION DE BOMBEROS"))
    assert(cr.featureCategories.toSet.subsetOf(pl.featureCategories.toSet))
    // GT-only categories, and the NEX-only unaccented BARBERIA spelling
    assert(nex.featureCategories.toSet -- pl.featureCategories.toSet ==
      Set("ESTADIO", "TIENDA DE CONVENIENCIA", "BARBERIA BELLEZA"))
    assert(pl.featureCategories.toSet -- nex.featureCategories.toSet ==
      Set("TIENDA MOTOCICLETAS", "BARBERÍA/BELLEZA"))
    // country constants + the close_points chain collapse
    assert(nex.country == "GUATEMALA" && pl.country == "HONDURAS" &&
      cr.country == "COSTA RICA")
    assert(closePointsChain("Casa_Del_Pollo") == "CASA DEL POLLO")
    assert(closePointsChain("Pollolandia") == "POLLOLANDIA")
    assert(closePointsChain("anything else") == "POLLOLANDIA")

    // one shared fixture through each variant's serving contract
    val prep = Seq(
      ("S1", "BANCO", 50.0),
      ("S1", "BANCO", 250.0),
      ("S1", "ESTACION DE BOMBEROS", 120.0),
      ("S1", "ACADEMIA", 90.0), // categorizer output OUTSIDE every list
      ("S1", "HOTEL", 0.0), // zero distance: the `> 0` fill quirk
      ("S1", "PARQUE", 450.0), // beyond 300 m: NEX global-count filter
      ("S2", "FARMACIA", 80.0))
      .toDF("rst_cd", "poi_category", "distance_mtrs")

    val plFv = featureVectorFor(prep, pl)
    assert(plFv.columns.length == 1 + 39 * 5)
    assert(plFv.columns.contains("GEO_ESTACION_DE_BOMBEROS_300M_CNT"))
    assert(plFv.columns.contains("GEO_BARBERÍA/BELLEZA_MEAN_DIST"))
    val s1 = plFv.filter(col("rst_cd") === "S1").head()
    assert(s1.getAs[Long]("GEO_BANCO_300M_CNT") == 2L)
    assert(s1.getAs[Long]("GEO_BANCO_100M_CNT") == 1L)
    assert(s1.getAs[Double]("GEO_BANCO_MAX_DIST") == 250.0)
    assert(s1.getAs[Double]("GEO_BANCO_MIN_DIST") == 50.0)
    assert(s1.getAs[Double]("GEO_BANCO_MEAN_DIST") == 150.0)
    // missing category under PL: EVERY metric fills to 0 — not 10000
    assert(s1.getAs[Long]("GEO_CAJERO_300M_CNT") == 0L)
    assert(s1.getAs[Double]("GEO_CAJERO_MIN_DIST") == 0.0)
    assert(s1.getAs[Double]("GEO_CAJERO_MEAN_DIST") == 0.0)
    // a 0.0 min fails the reference's `> 0` check → fill, even when the
    // category IS present
    assert(s1.getAs[Long]("GEO_HOTEL_300M_CNT") == 1L)
    assert(s1.getAs[Double]("GEO_HOTEL_MIN_DIST") == 0.0)

    val crFv = featureVectorFor(prep, cr)
    assert(crFv.columns.length == 1 + 38 * 5)
    assert(!crFv.columns.exists(_.contains("BOMBEROS"))) // dropped in CR
    // otherwise byte-identical contract to PL on the shared fixture
    val c1 = crFv.filter(col("rst_cd") === "S1").head()
    assert(c1.getAs[Long]("GEO_BANCO_300M_CNT") == 2L)
    assert(c1.getAs[Double]("GEO_BANCO_MEAN_DIST") == 150.0)

    val nexFv = featureVectorFor(prep, nex)
    // 40 DISTINCT categories × 3 metrics, CANT count suffix, no MAX/MEAN
    assert(nexFv.columns.length == 1 + 40 * 3)
    assert(nexFv.columns.contains("GEO_BANCO_300M_CANT"))
    assert(!nexFv.columns.exists(_.endsWith("_MAX_DIST")))
    assert(!nexFv.columns.exists(_.endsWith("_MEAN_DIST")))
    val n1 = nexFv.filter(col("rst_cd") === "S1").head()
    assert(n1.getAs[Long]("GEO_BANCO_300M_CANT") == 2L)
    assert(n1.getAs[Double]("GEO_BANCO_MIN_DIST") == 50.0)
    // NEX fills missing AND zero-distance MIN_DIST with 10000
    assert(n1.getAs[Double]("GEO_CAJERO_MIN_DIST") == 10000.0)
    assert(n1.getAs[Double]("GEO_HOTEL_MIN_DIST") == 10000.0)

    // global counts run over EVERY prepared row — the ACADEMIA row that
    // no variant's feature list carries still counts here
    val g = globalCounts(prep.filter(col("rst_cd") === "S1")).head()
    assert(g.getAs[Long]("GEO_POI_300M_CNT") == 6L)
    assert(g.getAs[Long]("GEO_POI_100M_CNT") == 3L)
    // a suffix naming a distance-filtered variant contract (NEX's CANT)
    // cannot be minted through the unfiltered helper (r14 review)
    intercept[IllegalArgumentException] {
      globalCounts(prep, suffix = "CANT")
    }

    // variant-dispatched global counts (r13 ADVICE): NEX filters the 300M
    // count by distance <= 300 (`HTIPNEXSITE/__init__.py:318`) — the
    // 450 m PARQUE row counts for PL/CR but NOT for NEX
    val gn = globalCountsFor(prep.filter(col("rst_cd") === "S1"), nex).head()
    assert(gn.getAs[Long]("GEO_POI_300M_CANT") == 5L)
    assert(gn.getAs[Long]("GEO_POI_100M_CANT") == 3L)
    val gp = globalCountsFor(prep.filter(col("rst_cd") === "S1"), pl).head()
    assert(gp.getAs[Long]("GEO_POI_300M_CNT") == 6L)
    assert(gp.getAs[Long]("GEO_POI_100M_CNT") == 3L)
  }

  test("p22 world parser maps columns by header NAME, not position") {
    import graft.pipelines.WasdeTransforms
    // two sheets, same measures, deliberately different column orders —
    // the positional map must be detected per header row, per sheet
    val rows: Seq[(String, Long, Seq[String])] = Seq(
      ("a", 0L, Seq("WASDE-700")),
      ("a", 1L, Seq("World Wheat Supply and Use")),
      ("a", 2L, Seq("Million Metric Tons")),
      ("a", 3L, Seq("2026/27 (Proj.)", "Beginning\nStocks", "Production",
        "Imports", "Domestic\nFeed", "Domestic\nTotal", "Exports",
        "Ending\nStocks")),
      ("a", 4L, Seq("World", "1", "2", "3", "4", "5", "6", "7")),
      ("b", 0L, Seq("WASDE-700")),
      ("b", 1L, Seq("World Wheat Supply and Use")),
      ("b", 2L, Seq("Million Metric Tons")),
      // reversed-ish layout: Production BEFORE Beginning, Exports early
      ("b", 3L, Seq("2026/27 (Proj.)", "Production", "Beginning\nStocks",
        "Exports", "Imports", "Domestic\nFeed", "Domestic\nTotal",
        "Ending\nStocks")),
      ("b", 4L, Seq("World", "100", "1", "6", "2", "3", "5", "9")))
    val out = WasdeTransforms.parseWorldSupplyUse(
      rows.toDF("sheet", "rowIdx", "cells"))
      .select("sheet", "beginning", "production", "imports", "dom_feed",
        "dom_total", "exports", "ending", "total_use")
      .collect().map(r => r.getString(0) ->
        (1 to 8).map(r.getDouble)).toMap
    assert(out("a") == Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 11.0))
    // same logical values despite the permuted physical layout
    assert(out("b") == Seq(1.0, 100.0, 2.0, 3.0, 5.0, 6.0, 9.0, 11.0))
  }

  test("p30-shaped page: two-word commodity, absent Domestic Feed column") {
    import graft.pipelines.WasdeTransforms
    val rows: Seq[(String, Long, Seq[String])] = Seq(
      ("p30", 0L, Seq("WASDE-672", "World Soybean Oil Supply and Use 1/")),
      ("p30", 1L, Seq("Million Metric Tons")),
      // p30 has no Domestic\nFeed column (HTGPIWASDE/__init__.py:1078-1110)
      ("p30", 2L, Seq("2025/26 (Est.)", "Beginning\nStocks", "Production",
        "Imports", "Domestic\nTotal", "Exports", "Ending\nStocks")),
      ("p30", 3L, Seq("World", "1", "50", "2", "40", "9", "4")))
    val out = WasdeTransforms.parseWorldSupplyUse(
      rows.toDF("sheet", "rowIdx", "cells")).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[String]("commodity") == "SOYBEAN OIL")
    assert(r.getAs[Double]("dom_feed") == 0.0) // absent column reads as 0
    assert(r.getAs[Double]("dom_total") == 40.0)
    assert(r.getAs[Double]("exports") == 9.0)
    assert(r.getAs[Double]("total_use") == 49.0)
    assert(r.getAs[String]("tipo") == "EST")
  }

  test("agricensus: drop junk col, watermark filter, stamp (HTGPIAGRICENSUS)") {
    import java.sql.Date
    val feed = Seq(
      ("x", Date.valueOf("2024-01-01"), 10.0),
      ("x", Date.valueOf("2024-02-01"), 11.0),
      ("x", Date.valueOf("2024-03-01"), 12.0)).toDF("name", "date", "fob")
    val out = MarketPipelines.agricensus(feed, Date.valueOf("2024-01-15"))
    assert(!out.columns.contains("name"))
    assert(out.columns.contains("actualizacion"))
    assert(out.select("fob").as[Double].collect().sorted.toSeq == Seq(11.0, 12.0))
  }
}
