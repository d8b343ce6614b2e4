package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GeoFunctions
import graft.operators.Transforms

/** Geospatial site-scoring read path (`PGSITE/__init__.py:100-384`,
  * `HTIPNEXSITE/__init__.py:133-375`): clean POI names → regex-categorize
  * (~40 rules, last-writer-wins) → geodesic distances → per-category feature
  * vector → model inference → top-3 nearest stored points.
  *
  * The reference computes distances row-by-row with `iterrows` (its biggest
  * perf sin, SURVEY §2.9) and feature-aggregates in a Python loop over 40
  * categories × 5 metrics (`:302-357`); here both are one codegen'd
  * expression and one `groupBy().pivot().agg()`.
  */
object SiteScoringPipeline {

  /** Representative slice of the 40-rule categorizer
    * (`PGSITE/__init__.py:144-281`); config-driven, last rule wins.
    * Kept for the q19/q22 oracle family; the COMPLETE reference table is
    * [[fullRules]] below. */
  val defaultRules: Seq[(String, String)] = Seq(
    "RESTAURANT|TACOS|PIZZA|COMIDA" -> "RESTAURANTE",
    "BANCO|BANK|BBVA|SANTANDER|BANORTE" -> "BANCO",
    "ESCUELA|COLEGIO|UNIVERSIDAD|SCHOOL" -> "ESCUELA",
    "HOSPITAL|CLINICA|FARMACIA" -> "SALUD",
    "OXXO|SEVEN|7 ELEVEN|TIENDA" -> "CONVENIENCIA",
    "WALMART|SORIANA|CHEDRAUI|BODEGA AURRERA" -> "AUTOSERVICIO",
    "GASOLINERA|PEMEX" -> "GASOLINERA",
    "HOTEL|MOTEL" -> "HOTEL",
    "KFC|MCDONALD|BURGER KING|DOMINOS|SUBWAY" -> "CADENA QSR")
  val defaultCategory = "OTROS SIN CLASIFICACION"

  /** The COMPLETE reference categorizer table, ported as DATA — all 47 rule
    * applications of `PGSITE/__init__.py:144-281` in source order
    * (`HTIPNEXSITE/__init__.py:171-308` is line-identical, one table serves
    * both). Each row is (field, regex, category): `field = "name"` matches
    * the cleaned `poi_name`, `field = "type"` the upper-cased `poi_type`.
    * Order is significant — LAST writer wins.
    *
    * Two reference quirks are ported FAITHFULLY because they are runtime
    * behavior, not typos to fix:
    *   - several blocks assign `regex` "for poi_type" but iterate
    *     `output['poi_name']` (the loop variable shadows; e.g. the ALMACEN
    *     shoe/warehouse block at `:150`, BANCO at `:205`, CAJERO at `:211`)
    *     — those are `name` rules here;
    *   - the TIENDA DE CONVENIENCIA rule appears twice (`:193` and `:196`),
    *     and the ACADEMIA rule's alternation has no separator between the
    *     school and subject groups (`(?:COLEGIO|ACADEMIA|ESCUELA)(?:BAILE|
    *     FUTBOL|MUSICA)` only matches concatenations). */
  val fullRules: Seq[(String, String, String)] = Seq(
    ("type", "(?:RESTAURANT|MEAL_DELIVERY)", "OTROS RESTAURANTE"),
    ("name", "\\b(?:RESTAURANTE?)\\b", "OTROS RESTAURANTE"),
    ("name", "(?:CALZADO|ZAPATERIA|ALMACEN|COMERCIAL|LA BODEGONA|DISTRIBUIDORA)", "ALMACEN"),
    ("type", "(?:CLOTHING_STORE|DEPARTMENT_STORE)", "ALMACEN"),
    ("name", "(?:BARBER|BEAUTY|BELLEZA|PELUQUER|NAILS)", "BARBERÍA/BELLEZA"),
    ("name", "(?:IGLESIA|TEMPLO|PARROQUIA|ASAMBLEA DE DIOS|TESTIGOS?.+JEHOV)", "IGLESIA"),
    ("name", "(?:HOSPITAL|IGSS|IGGS|CENTRO MEDICO|APROFAM|CENTRO DE SALUD|PUESTO DE SALUD|SANATORIO|HEALTH CENTER|EMERGENCIA|CIRUGIA|PEDIATRICO|SANATORIUM)", "HOSPITAL"),
    ("name", "(?:CLINIC|MEDI|OPTIC|ODONTO|LABORATORIO|DR )", "CLINICA DE SALUD"),
    ("name", "(?:BUS |TRANSMETRO|TRANSURBANO|BUS STATION|AUTOBUSES|TERMINAL|ESTACION DE BUS|PARADA DE |BUSES|LITEGUA)", "PARADA DE BUS"),
    ("name", "(?:MANUALIDADES|LIBRERIA|PAPELERIA)", "LIBRERIA"),
    ("name", "(?:PARQUEO|ESTACIONAMIENTO|PARKING)", "PARQUEO"),
    ("name", "(?:USAC|UNIVERSIDAD|UMG|FACULTAD|UPANA)", "UNIVERSIDAD"),
    ("name", "(?:HOTEL|PENSION|HOSPEDAJE)", "HOTEL"),
    ("name", "(?:GASOLINERA|GASOLINA|ESTACION DE SERVICIO|\\bGAS\\b)", "GASOLINERA"),
    ("name", "(?:MINI MUNI|MINISTRY PUBLIC|MUNICIPALITY|SECRETARIA DE|MUNICIPALIDAD|JUZGADO|TRIBUNAL|INACIF|RENAP|MAYCOM|ORGANISMO JUDICIAL|MINISTERIO PUBLICO|MUNICIPALIDAD)", "OFICINAS GUBERNAMENTALES"),
    ("name", "(?:POLICE|PNC|COMISARIA|POLICIA)", "ESTACION POLICIAL"),
    ("name", "(?:ESTACION DE BOMBEROS)", "ESTACION DE BOMBEROS"),
    ("name", "(?:SUPER 24|SUPER PUMA|CONVENIENCIA|GASO MARKET|TIENDAS? MASS)", "TIENDA DE CONVENIENCIA"),
    ("name", "(?:SUPER 24|SUPER PUMA|CONVENIENCIA|GASO MARKET|TIENDAS? MASS)", "TIENDA DE CONVENIENCIA"),
    ("name", "(?:CARNICERIA|POLLERIA|CASA DEL POLLO)", "VENTA DE CARNES"),
    ("name", "(?:BANRURAL|CREDOMATIC|AGROMERCANTIL|BANCO|\\bBAC\\b|\\bBAM\\b|BANTRAB|GYT|G&T|COOPERATIVA|WESTERN UNION)", "BANCO"),
    ("type", "(?:BANK)", "BANCO"),
    ("name", "\\b(?:ATM|CAJERO)\\b", "CAJERO"),
    ("type", "(?:ATM)", "CAJERO"),
    ("name", "(?:PARQUE|CANCHA|ESTADIO|CAMPOS)", "PARQUE"),
    ("name", "(?:COLEGIO|INSTITUTO|LICEO|SEMINARIO|CENTRO EDUCATIVO|ESCUELA|CENTRO DE ESTUDIOS|\\bINEB|\\bINTECAP)", "COLEGIO"),
    ("name", "(?:COLEGIO|ACADEMIA|ESCUELA)(?:BAILE|FUTBOL|MUSICA)", "ACADEMIA"),
    ("name", "(?:ALMACENES TROPIGAS|AGENCIAS? WAY|GALLO MAS GALLO|ELEKTRA|ELECKTRA|CURACAO|ALMACENES JAPON|LA CHAPINITA|TECNO FACIL|TIENDAS MAX|RADIOSHACK|INTELAF|ELECTRONICA PANAMERICANA|PANAMERICAN ELECTRONIC|ABM|EL DUENDE)", "ALMACEN DE ELECTRODOMESTICOS"),
    ("name", "(?:POLLO CAMPERO|BURGER KING|MCDONALDS|PIZZA HUT|DOMINOS PIZZA|PAPA JOHNS|TACO BELL|HAMBURGUESAS BERLIN|HAMBURGUESAS DEL PUENTE|POLLO BUJO|LITTLE CAESARS|LITTLE CEASERS)", "CADENA QSR"),
    ("name", "(?:AL MACARONE|LOS GAUCHITOS|PINULITO|POLLOLANDIA|POLLO LANDIA|QUEDELY|GUATEBURGER|GUATE BURGER|POLLO GRANJERO|POLLO EXPRESS)", "CADENA QSR POPULAR"),
    ("name", "(?:ANTOJITOS|CAFETERIA|ASADOS|CHURRASCOS|HAMBURGUESAS|BURGER|PUPUSERIA|PUPUSAS|CARNITA|CEVICHE|SEVICHE|CHICHARRONE|TACOS? |SHUCO|HOT DOG|TAQUERIA|COMEDOR|ALMUERZOS|LICUADOS|CHURRASQU|CAFETERIA)", "RESTAURANTE POPULAR"),
    ("name", "(?:\\bCAFE\\b|EL CAFETALITO|BARISTA|STARBUCKS|COFFEE|COFFE|KAPE|PATSY|BAGEL|CAFFE|DUNKIN DONUTS|AMERICAN DOU)", "COFFEE SHOP"),
    ("name", "(?:LA NEVERIA|HELADERIA|HELADO|POPS)", "HELADERIA"),
    ("name", "(?:CANELLA|YAMAHA|HONDA|MOTOS |MOTOCICLETAS|MASESA|TIENDA UMA|MOVESA|ITALIKA|HAOJUE|BAJAJ|SUZUKI)", "TIENDA MOTOCICLETAS"),
    ("name", "(?:AGENCIA TIGO|\\bTIGO\\b|\\bCLARO\\b|AGENCIA CLARO|MOVISTAR)", "AGENCIA TELEFONIA"),
    ("name", "(?:SUPERMERCADO|SUPER MERCADO|WALMART|DESPENSA FAMILIAR|LA TORRE|PAIZ|MAXI BODEGA|SUPER DEL BARRIO|LA BARATA)", "SUPERMERCADO"),
    ("name", "(?:\\bMERCADO )", "MERCADO CANTONAL"),
    ("name", "(?:TIENDA|ABARROTERIA|ABARROTES|DEPOSITO|MAYOREO|TDA)", "TIENDA DE BARRIO"),
    ("name", "(?:TORTILLERIA|TORTILLA)", "TORTILLERIA"),
    ("name", "(?:PANADERIA|PANIFICADORA|PASTELERIA|\\bPAN |\\bPASTELES)", "PANADERIA"),
    ("name", "\\b(?:CENTRO COMERCIAL|PLAZA|PASEO|CC|C\\.C\\.|C\\. C\\.|MALL|GRAN VIA|GRAN CENTRO|GALERIAS|MEGA CENTRO|METRO NORTE|PRADERA)\\b", "CENTRO COMERCIAL"),
    ("name", "\\b(?:TALLER|MOTO|MOTOPARTES|MOTOSERVICIOS|MOTOREPUESTOS|FIGUEPARTES|AQUARONI|KARS|HUESERA|REPUESTOS|AUTO\\s?REPUESTOS|AUTO\\s?PIEZAS|AUTO\\s?PARTES|TALLER DE |ACEITERA|MOTOCENTRO|AUTOS|LUBRI|LLANTA|BATERIAS|COPHER)\\b", "REPUESTOS VEHICULOS"),
    ("name", "(?:FERRE|CELASA|CONSTRUCC|FERRO|FERETERIA)", "FERRETERIA"),
    ("name", "(?:AGROVET|AGRO|AGRIC)", "AGROPECUARIA"),
    ("name", "(?:FARMACIA|CRUZ VERDE|PHARMACY|FARMAZUL)", "FARMACIA"),
    ("type", "(?:LOCAL_GOVERNMENT_OFFICE)", "OFICINAS GUBERNAMENTALES"),
    ("type", "(?:CHURCH)", "IGLESIA"))

  /** One probe (poi_name, poi_type) per [[fullRules]] row, in rule order,
    * plus a terminal no-match probe for the default category. Each probe is
    * chosen to land in ITS rule's category under last-writer-wins — it
    * matches its rule and no later rule (checked by the totality spec).
    * Names are fixpoints of [[cleanName]]; "POINT_OF_INTEREST" matches no
    * type rule. Drives the q217 oracle query AND the totality test. */
  val ruleProbes: Seq[(String, String)] = Seq(
    ("SIN NOMBRE", "RESTAURANT"),
    ("EL RESTAURANTE", "POINT_OF_INTEREST"),
    ("CALZADO LA FE", "POINT_OF_INTEREST"),
    ("SIN NOMBRE", "CLOTHING_STORE"),
    ("SALA DE BELLEZA", "POINT_OF_INTEREST"),
    ("IGLESIA CENTRAL", "POINT_OF_INTEREST"),
    ("HOSPITAL ROOSEVELT", "POINT_OF_INTEREST"),
    ("CLINICA DENTAL", "POINT_OF_INTEREST"),
    ("TERMINAL DE ORIENTE", "POINT_OF_INTEREST"),
    ("PAPELERIA EL LAPIZ", "POINT_OF_INTEREST"),
    ("ESTACIONAMIENTO PUBLICO", "POINT_OF_INTEREST"),
    ("UNIVERSIDAD DE SAN CARLOS", "POINT_OF_INTEREST"),
    ("HOTEL PANAMERICANO", "POINT_OF_INTEREST"),
    ("GASOLINERA EL TRIUNFO", "POINT_OF_INTEREST"),
    ("MUNICIPALIDAD DE MIXCO", "POINT_OF_INTEREST"),
    ("COMISARIA 13", "POINT_OF_INTEREST"),
    ("ESTACION DE BOMBEROS VOLUNTARIOS", "POINT_OF_INTEREST"),
    ("SUPER 24 ZONA 1", "POINT_OF_INTEREST"),
    ("SUPER PUMA EL TREBOL", "POINT_OF_INTEREST"),
    ("CARNICERIA EL TORO", "POINT_OF_INTEREST"),
    ("BANCO BANRURAL", "POINT_OF_INTEREST"),
    ("SIN NOMBRE", "BANK"),
    ("CAJERO 5B", "POINT_OF_INTEREST"),
    ("SIN NOMBRE", "ATM"),
    ("CANCHA SINTETICA", "POINT_OF_INTEREST"),
    ("COLEGIO SAN JOSE", "POINT_OF_INTEREST"),
    ("ESCUELAFUTBOL", "POINT_OF_INTEREST"),
    ("ELEKTRA MEGA", "POINT_OF_INTEREST"),
    ("POLLO CAMPERO ZONA 9", "POINT_OF_INTEREST"),
    ("POLLO GRANJERO", "POINT_OF_INTEREST"),
    ("COMEDOR Y ANTOJITOS MARY", "POINT_OF_INTEREST"),
    ("CAFE BARISTA", "POINT_OF_INTEREST"),
    ("HELADERIA SARITA", "POINT_OF_INTEREST"),
    ("MOTOCICLETAS YAMAHA", "POINT_OF_INTEREST"),
    ("AGENCIA TIGO ZONA 10", "POINT_OF_INTEREST"),
    ("WALMART CARRETERA", "POINT_OF_INTEREST"),
    ("MERCADO CENTRAL", "POINT_OF_INTEREST"),
    ("ABARROTERIA LUPITA", "POINT_OF_INTEREST"),
    ("TORTILLERIA SAN MARTIN", "POINT_OF_INTEREST"),
    ("PANADERIA SANTA CLARA", "POINT_OF_INTEREST"),
    ("CENTRO COMERCIAL MIRAFLORES", "POINT_OF_INTEREST"),
    ("REPUESTOS EL CHOFER", "POINT_OF_INTEREST"),
    ("FERRETERIA EPA", "POINT_OF_INTEREST"),
    ("AGROPECUARIA EL GANADERO", "POINT_OF_INTEREST"),
    ("FARMACIA GALENO", "POINT_OF_INTEREST"),
    ("SIN NOMBRE", "LOCAL_GOVERNMENT_OFFICE"),
    ("SIN NOMBRE", "CHURCH"),
    ("SIN NOMBRE", "POINT_OF_INTEREST"))

  /** Two-input last-writer-wins categorizer over [[fullRules]]: same
    * reversed-coalesce chain as [[graft.operators.Transforms.categorize]]
    * but each rule picks its input column (cleaned name vs upper type).
    * One codegen'd projection — regexes compile once per task. */
  def categorizePoi(nameCol: org.apache.spark.sql.Column,
      typeCol: org.apache.spark.sql.Column,
      rules: Seq[(String, String, String)] = fullRules,
      default: String = defaultCategory): org.apache.spark.sql.Column = {
    // ONE flat Coalesce over reversed rules, NOT a nested fold: 47 nested
    // Coalesce nodes send Catalyst's subexpression elimination into a
    // pathological traversal (minutes of planning); a flat 48-child
    // Coalesce plans instantly and is semantically identical (first
    // non-null arm wins = last matching rule wins).
    val arms = rules.reverse.map { case (field, pattern, cat) =>
      val in = if (field == "type") typeCol else nameCol
      when(in.rlike(pattern), cat)
    }
    coalesce(arms :+ lit(default): _*)
  }

  /** Name cleanup (`PGSITE/__init__.py:129-140`): upper, trim, accent fold,
    * punctuation strip — `translate` + `regexp_replace`, all codegen'd. */
  def cleanName(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      translate(upper(trim(c)), "ÁÉÍÓÚÜÑ", "AEIOUUN"),
      "['\",.]", "")

  /** POI table prep: clean, categorize, distance, dedup
    * (`PGSITE/__init__.py:126-284`). Input: one row per (site, poi). */
  def preparePois(pois: DataFrame,
      rules: Seq[(String, String)] = defaultRules): DataFrame =
    pois
      .withColumn("poi_name", cleanName(col("poi_name")))
      .withColumn("poi_category",
        Transforms.categorize(rules, defaultCategory)(col("poi_name")))
      .withColumn("distance_mtrs",
        GeoFunctions.haversineMeters(col("rst_lat"), col("rst_lon"),
          col("poi_lat"), col("poi_lon")))
      .dropDuplicates("rst_cd", "poi_id")

  /** PGSITE-style wide feature vector (`:302-357`): per (site, category)
    * count within 300 m, count within 100 m, max/min/mean distance — the
    * reference's 40-category Python loop as ONE pivoted aggregation.
    * Missing categories: counts → 0, min dist → 10000
    * (`HTIPNEXSITE/__init__.py:343-348`). */
  def featureVector(prepared: DataFrame, categories: Seq[String]): DataFrame = {
    val piv = prepared
      .groupBy(col("rst_cd"))
      .pivot("poi_category", categories)
      .agg(
        count(lit(1)).as("300M_CNT"),
        count(when(col("distance_mtrs") <= 100, 1)).as("100M_CNT"),
        max(col("distance_mtrs")).as("MAX_DIST"),
        min(col("distance_mtrs")).as("MIN_DIST"),
        avg(col("distance_mtrs")).as("MEAN_DIST"))
    val countCols = piv.columns.filter(c => c.endsWith("_CNT"))
    val minCols = piv.columns.filter(_.endsWith("MIN_DIST"))
    piv.na.fill(0, countCols).na.fill(10000.0, minCols)
  }

  /** Per-deployment variant configuration. The reference ships the same
    * site-scoring program three times with only DATA changed — feature
    * category list, country constant, count-field suffix, missing-value
    * fill, metric set, model blob name:
    *
    *   - `NEX`  — Guatemala (`HTIPNEXSITE/__init__.py:315,321-348,366`):
    *     3 metrics per category (300M/100M counts + MIN_DIST), count
    *     suffix `CANT`, missing/zero MIN_DIST → 10000
    *   - `PL`   — Honduras (`HTIPPLSITE/__init__.py:324,338-380,405`):
    *     5 metrics (counts + MAX/MIN/MEAN dist), suffix `CNT`, every
    *     missing/non-positive value → 0
    *   - `PLCR` — Costa Rica (`HTIPPLSITECR/__init__.py:324-334,417`):
    *     the PL program with the CR category list (38 = PL's 39 minus
    *     ESTACION DE BOMBEROS) and country constant
    *
    * Quirks ported as BEHAVIOR, not typos:
    *   - the NEX list repeats OFICINAS GUBERNAMENTALES and OTROS
    *     RESTAURANTE (42 raw / 40 distinct) — the reference writes
    *     features into a dict keyed by field name, so repeats overwrite
    *     in place: effective set = distinct, first position wins;
    *   - every fill goes through `if value > 0` — a category whose
    *     nearest POI sits at distance 0.0 gets the FILL, not 0.0-the-
    *     measurement ([[featureVectorFor]] keeps this);
    *   - `close_points` receives the country but its SQL country filter
    *     is commented out (`--CNTRY_NM = ...` in all three variants) —
    *     the stored-points lookup filters by chain only, and any chain
    *     other than Casa_Del_Pollo maps to POLLOLANDIA
    *     ([[closePointsChain]]). */
  final case class SiteVariant(
      name: String,
      country: String,
      featureCategories: Seq[String],
      countSuffix: String,
      fiveMetrics: Boolean,
      minDistFill: Double,
      // NEX alone filters the GLOBAL 300M count by distance <= 300
      // (`HTIPNEXSITE/__init__.py:318`); PL/CR/PGSITE count every row
      // (`HTIPPLSITE/__init__.py:335`, `PGSITE/__init__.py:308`)
      globalCap300: Boolean = false)

  private val plCategories: Seq[String] = Seq(
    "BANCO", "FARMACIA", "COFFEE SHOP", "RESTAURANTE POPULAR", "IGLESIA",
    "CLINICA DE SALUD", "OFICINAS GUBERNAMENTALES",
    "OTROS SIN CLASIFICACION", "ALMACEN", "TIENDA DE BARRIO",
    "OTROS RESTAURANTE", "COLEGIO", "REPUESTOS VEHICULOS", "SUPERMERCADO",
    "FERRETERIA", "TIENDA MOTOCICLETAS", "PANADERIA", "CADENA QSR POPULAR",
    "HOSPITAL", "AGROPECUARIA", "AGENCIA TELEFONIA", "PARQUE",
    "MERCADO CANTONAL", "HOTEL", "CENTRO COMERCIAL", "HELADERIA",
    "VENTA DE CARNES", "CAJERO", "ALMACEN DE ELECTRODOMESTICOS",
    "BARBERÍA/BELLEZA", "CADENA QSR", "UNIVERSIDAD", "TORTILLERIA",
    "ESTACION DE BOMBEROS", "ESTACION POLICIAL", "LIBRERIA", "PARQUEO",
    "GASOLINERA", "PARADA DE BUS")

  private val crCategories: Seq[String] = Seq(
    "CAJERO", "COFFEE SHOP", "OTROS SIN CLASIFICACION",
    "RESTAURANTE POPULAR", "IGLESIA", "COLEGIO", "VENTA DE CARNES",
    "PARQUE", "CENTRO COMERCIAL", "OTROS RESTAURANTE", "CADENA QSR",
    "CADENA QSR POPULAR", "AGROPECUARIA", "BARBERÍA/BELLEZA", "FERRETERIA",
    "PANADERIA", "HELADERIA", "REPUESTOS VEHICULOS", "BANCO",
    "CLINICA DE SALUD", "OFICINAS GUBERNAMENTALES", "ESTACION POLICIAL",
    "TORTILLERIA", "FARMACIA", "PARADA DE BUS", "TIENDA DE BARRIO",
    "HOTEL", "GASOLINERA", "MERCADO CANTONAL", "LIBRERIA",
    "AGENCIA TELEFONIA", "ALMACEN", "UNIVERSIDAD", "PARQUEO", "HOSPITAL",
    "SUPERMERCADO", "TIENDA MOTOCICLETAS", "ALMACEN DE ELECTRODOMESTICOS")

  // PORTED QUIRK (r14 review sign-off): 'BARBERIA BELLEZA' and 'ESTADIO'
  // can never match a categorizer output — the reference's own rules emit
  // the accented 'BARBERÍA/BELLEZA' (`HTIPNEXSITE/__init__.py:182`) and
  // map ESTADIO-named POIs to 'PARQUE' (`:239`), yet its NEX feature list
  // (`:315`) pivots on these unmatched spellings, so the two NEX feature
  // families are ALWAYS the fill value (0 / 10000) in the reference's
  // training frames too. Faithful port of degenerate-but-spec'd features;
  // "fixing" the spelling here would diverge from the deployed model's
  // input contract.
  private val nexCategories: Seq[String] = Seq(
    "BARBERIA BELLEZA", "IGLESIA", "HOSPITAL", "CLINICA DE SALUD",
    "PARADA DE BUS", "LIBRERIA", "PARQUEO", "ESTADIO", "UNIVERSIDAD",
    "HOTEL", "GASOLINERA", "OFICINAS GUBERNAMENTALES", "ESTACION POLICIAL",
    "ESTACION DE BOMBEROS", "TIENDA DE CONVENIENCIA", "VENTA DE CARNES",
    "BANCO", "CAJERO", "PARQUE", "COLEGIO",
    "ALMACEN DE ELECTRODOMESTICOS", "CADENA QSR", "CADENA QSR POPULAR",
    "RESTAURANTE POPULAR", "COFFEE SHOP", "HELADERIA", "AGENCIA TELEFONIA",
    "SUPERMERCADO", "MERCADO CANTONAL", "FARMACIA", "TIENDA DE BARRIO",
    "TORTILLERIA", "PANADERIA", "CENTRO COMERCIAL", "REPUESTOS VEHICULOS",
    "FERRETERIA", "AGROPECUARIA", "OFICINAS GUBERNAMENTALES", "ALMACEN",
    "OTROS RESTAURANTE", "OTROS RESTAURANTE", "OTROS SIN CLASIFICACION")

  val variants: Map[String, SiteVariant] = Map(
    "NEX" -> SiteVariant("NEX", "GUATEMALA", nexCategories,
      countSuffix = "CANT", fiveMetrics = false, minDistFill = 10000.0,
      globalCap300 = true),
    "PL" -> SiteVariant("PL", "HONDURAS", plCategories,
      countSuffix = "CNT", fiveMetrics = true, minDistFill = 0.0),
    "PLCR" -> SiteVariant("PLCR", "COSTA RICA", crCategories,
      countSuffix = "CNT", fiveMetrics = true, minDistFill = 0.0))

  /** The chain mapping inside every variant's `close_points`
    * (`HTIPNEXSITE/__init__.py:80-85` et al.): anything but Casa_Del_Pollo
    * collapses to POLLOLANDIA. */
  def closePointsChain(chain: String): String =
    if (chain == "Casa_Del_Pollo") "CASA DEL POLLO" else "POLLOLANDIA"

  /** [[featureVector]] under a variant's exact serving contract: the
    * reference's field NAMES (`GEO_<CAT_SPACES_TO_UNDERSCORES>_<metric>`,
    * `CANT` vs `CNT` count suffix), metric set (3 for NEX, 5 for PL/CR),
    * and `value > 0`-guarded fills. Still ONE pivoted aggregation —
    * a model artifact trained against the reference's frame scores
    * unchanged on these columns. */
  def featureVectorFor(prepared: DataFrame, v: SiteVariant): DataFrame = {
    val cats = v.featureCategories.distinct
    val base = prepared.groupBy(col("rst_cd"))
    val piv =
      if (v.fiveMetrics)
        base.pivot("poi_category", cats).agg(
          count(lit(1)).as("c300"),
          count(when(col("distance_mtrs") <= 100, 1)).as("c100"),
          max(col("distance_mtrs")).as("dmax"),
          min(col("distance_mtrs")).as("dmin"),
          avg(col("distance_mtrs")).as("dmean"))
      else
        base.pivot("poi_category", cats).agg(
          count(lit(1)).as("c300"),
          count(when(col("distance_mtrs") <= 100, 1)).as("c100"),
          min(col("distance_mtrs")).as("dmin"))
    // the reference's `if value > 0` guard: null (missing category) AND a
    // legitimate 0/0.0 measurement both land on the fill — typed fills so
    // count columns stay LONG and distance columns DOUBLE
    def guarded(c: org.apache.spark.sql.Column,
        fill: org.apache.spark.sql.Column) = when(c > 0, c).otherwise(fill)
    val featCols = cats.flatMap { cat =>
      val ref = "GEO_" + cat.replace(' ', '_')
      val common = Seq(
        guarded(piv(s"${cat}_c300"), lit(0L))
          .as(s"${ref}_300M_${v.countSuffix}"),
        guarded(piv(s"${cat}_c100"), lit(0L))
          .as(s"${ref}_100M_${v.countSuffix}"))
      val dists =
        if (v.fiveMetrics) Seq(
          guarded(piv(s"${cat}_dmax"), lit(0.0)).as(s"${ref}_MAX_DIST"),
          guarded(piv(s"${cat}_dmin"), lit(v.minDistFill))
            .as(s"${ref}_MIN_DIST"),
          guarded(piv(s"${cat}_dmean"), lit(0.0)).as(s"${ref}_MEAN_DIST"))
        else Seq(
          guarded(piv(s"${cat}_dmin"), lit(v.minDistFill))
            .as(s"${ref}_MIN_DIST"))
      common ++ dists
    }
    piv.select(col("rst_cd") +: featCols: _*)
  }

  /** Global counts (`PGSITE/__init__.py:308-309`). The all-POI counts are
    * computed over EVERY prepared row — including categories outside the
    * variant's feature list — so they are a separate aggregate, not a
    * horizontal sum of [[featureVectorFor]] columns. This is the
    * PGSITE/PL/CR shape: the 300M count is the plain row count. NEX's
    * global 300M count is NOT — it filters by `distance_mtrs <= 300`
    * (`HTIPNEXSITE/__init__.py:318`, vs `HTIPPLSITE/__init__.py:335`) —
    * so the NEX path must go through [[globalCountsFor]] — and this
    * helper REFUSES a suffix that names a distance-filtered variant
    * contract (r14 review: `globalCounts(prep, "CANT")` would otherwise
    * mint NEX-named columns with the wrong, unfiltered semantics). */
  def globalCounts(prepared: DataFrame, suffix: String = "CNT"): DataFrame = {
    require(!variants.values.exists(v => v.globalCap300 && v.countSuffix == suffix),
      s"suffix '$suffix' names a variant whose global 300M count is " +
        "distance-filtered; use globalCountsFor(prepared, variants(...)) " +
        "so the filter cannot be silently dropped")
    prepared.groupBy(col("rst_cd")).agg(
      count(lit(1)).as(s"GEO_POI_300M_$suffix"),
      count(when(col("distance_mtrs") <= 100, 1))
        .as(s"GEO_POI_100M_$suffix"))
  }

  /** [[globalCounts]] under a variant's exact contract: the count suffix
    * (`CANT` vs `CNT`) and NEX's `distance_mtrs <= 300` filter on the
    * 300M count (`HTIPNEXSITE/__init__.py:318-319`). The Places radius is
    * advisory and haversine vs geodesic differ, so rows beyond 300 m DO
    * occur in a prepared frame — counting them (as the plain row count
    * does) inflates `GEO_POI_300M_CANT` vs the NEX training frame. */
  def globalCountsFor(prepared: DataFrame, v: SiteVariant): DataFrame =
    prepared.groupBy(col("rst_cd")).agg(
      (if (v.globalCap300) count(when(col("distance_mtrs") <= 300, 1))
       else count(lit(1))).as(s"GEO_POI_300M_${v.countSuffix}"),
      count(when(col("distance_mtrs") <= 100, 1))
        .as(s"GEO_POI_100M_${v.countSuffix}"))

  /** Top-3 nearest stored points to each site — the reference's generated
    * `ROW_NUMBER() OVER (ORDER BY mdist)` T-SQL (`HTIPNEXSITE/__init__.py:
    * 92-131`) as broadcast theta-join + windowed top-k (J3/W1/W2). */
  def closePoints(sites: DataFrame, pos: DataFrame, k: Int = 3): DataFrame = {
    val joined = sites.crossJoin(broadcast(pos))
      .select(col("rst_cd"), col("POS_NM"),
        round(GeoFunctions.haversineMeters(col("rst_lat"), col("rst_lon"),
          col("LTT"), col("LGT")), 0).as("POS_DIST"))
    Transforms.topKPerGroup(joined, Seq(col("rst_cd")),
        Seq(col("POS_DIST").asc, col("POS_NM").asc), k, "POS_RANK")
      .select(col("rst_cd"), col("POS_RANK"), col("POS_NM"), col("POS_DIST"))
  }

  /** Response assembly (`PGSITE/__init__.py:376-384`): one JSON document per
    * site with nested poi + close-point arrays (F16/S14). */
  def assembleResponse(prepared: DataFrame, close: DataFrame,
      forecast: DataFrame): DataFrame = {
    val pois = prepared.groupBy(col("rst_cd")).agg(
      collect_list(struct(col("poi_name"), col("poi_category"),
        col("distance_mtrs"))).as("pois"))
    val cps = close.groupBy(col("rst_cd")).agg(
      collect_list(struct(col("POS_RANK"), col("POS_NM"), col("POS_DIST")))
        .as("close_points"))
    forecast.join(pois, Seq("rst_cd"), "left").join(cps, Seq("rst_cd"), "left")
      .select(col("rst_cd"),
        to_json(struct(col("forecast"), col("pois"), col("close_points")))
          .as("response"))
  }
}
