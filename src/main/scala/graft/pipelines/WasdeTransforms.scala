package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Transforms

/** WASDE supply/use sheet extraction — the reference's hardest code:
  * ~1,000 lines of positional header detection + stateful row iteration per
  * page (`HTGPIWASDE/__init__.py:248-1196`, SURVEY §7.4 risk 1).
  *
  * Re-expressed Spark-first over a `(sheet, rowIdx, geo, beginning,
  * production, imports, dom_feed, dom_total, exports, ending)` row table
  * (the XLS→rows decode is an ingestion-adapter step — Apache-POI-style
  * binary parsing is out of scope for the engine itself, see SURVEY §2.1 S6):
  *
  *  - the reference's "remember the current group while iterating" state
  *    (`:684-690`) becomes a last-non-null carry-forward window (W4);
  *  - blank continuation geographies (`:807-808,924-925`) likewise;
  *  - footnote markers `1/..10/` are stripped by one regex (`:1198-1202`);
  *  - `''`/`'NA'` → 0 numeric repair (`:1204-1207`);
  *  - `Total Use` and guarded `Stocks to Use` (`:714-718,388-396`).
  *
  * Everything is a window/projection over `(sheet, rowIdx)` — embarrassingly
  * parallel across sheets at scale, ordered within a sheet.
  */
object WasdeTransforms {

  val groupLabels: Seq[String] = Seq("World", "Major Exporters", "Major Importers")
  val skipLabels: Seq[String] = Seq("Selected Other")

  private val numericCols = Seq("beginning", "production", "imports",
    "dom_feed", "dom_total", "exports", "ending")

  /** Strip footnote markers (`1/` … `10/`) from a label. Word-boundary +
    * 1-2 digits only, so harvest-year labels like `2025/26` survive. */
  def stripFootnotes(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(c, "\\b\\d{1,2}/", ""))

  /** Parse one or many sheets of supply/use rows into the measured table.
    * Built in four steps, each one analysis of the plan so far: the label
    * and the numeric repairs (no window or filter reads the numerics), the
    * two row flags, the four carry-forward windows, then the filter and
    * `total_use` under one final projection. */
  def parseSupplyUse(rows: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("sheet")).orderBy(col("rowIdx"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val labeled = rows
      .withColumns(Map("label" -> stripFootnotes(col("geo"))) ++
        numericCols.map(c => c -> Transforms.repairNumeric(col(c))))
      .withColumns(Map(
        // group-header rows carry no numbers
        "is_group" -> col("label").isin(groupLabels: _*),
        // year header rows like `2025/26 (Est.)` / `2025/26 (Proj.)`
        "is_year" -> col("label").rlike("^\\d{4}/\\d{2}")))
      .withColumns(Map(
        "grupo" ->
          last(when(col("is_group"), col("label")), ignoreNulls = true).over(run),
        "tipo" ->
          last(when(col("is_year"),
            when(col("label").contains("Est"), "EST")
              .when(col("label").contains("Proj"), "PROJ")
              .otherwise("YEAR")), ignoreNulls = true).over(run),
        "harvest" ->
          last(when(col("is_year"),
            regexp_extract(col("label"), "^(\\d{4}/\\d{2})", 1)),
            ignoreNulls = true).over(run),
        // blank continuation geography → previous row's geography
        "geography" ->
          last(when(col("label") =!= "", col("label")), ignoreNulls = true)
            .over(run)))

    labeled
      .filter(!col("is_group") && !col("is_year") &&
        !col("geography").isin(skipLabels: _*) && col("grupo").isNotNull)
      .withColumn("total_use", col("dom_total") + col("exports"))
      .select(Seq(col("sheet"), col("rowIdx"), col("grupo"), col("tipo"),
        col("harvest"), col("geography"),
        row_number().over(Window.partitionBy(col("sheet"), col("tipo"))
          .orderBy(col("rowIdx"))).as("orden")) ++
        numericCols.map(col) ++
        Seq(col("total_use"),
          Transforms.guardedRatio(col("ending"), col("total_use"), lit(100))
            .as("stocks_to_use")): _*)
  }

  /** p22/p23-family world supply/use pages (`HTGPIWASDE/__init__.py:621-833`):
    * unlike p18's fixed columns, these pages carry their own schema — every
    * year block begins with a header row naming the measure columns, whose
    * POSITIONS vary by page and vintage ("smart detection" in the
    * reference), and sheet-level cells hold report id / commodity / unit
    * metadata. Spark-first: detect header rows, compute a positional index
    * struct per header, carry it forward with a window, and read each
    * measure via a position-guarded `element_at` — schema detection as
    * data, no driver pass over the sheet, parallel across sheets.
    *
    * Kept from the reference: `World` rows ARE data rows (group `RESUMEN`,
    * `:685-686`), `Selected Other` / blank / `1/ Aggregate…` rows skipped
    * (`:678-683`), block counter `n` alternates 1/2 (`:670-676`), NA/''
    * repaired to 0, Total Use / Stocks-to-Use derived (`:714-718`).
    * Dropped quirk (documented): the reference loses the EST/PROJ tag when
    * the year header carries a footnote (`date.split()` length 3,
    * `:698-702`); here the tag is pattern-extracted, footnote or not.
    */
  // ---- shared scaffolding for the p22/p23 world-page family ------------

  /** 1-based position of the first cell satisfying p, else 0. */
  private def firstPos(p: Column => Column): Column =
    aggregate(sequence(lit(1), size(col("cells"))), lit(0),
      (acc, i) => when(acc === lit(0) && p(element_at(col("cells"), i)), i)
        .otherwise(acc))

  /** Position-guarded cell read: null when the index is 0/null/past row. */
  private def cellAt(idx: Column): Column =
    when(idx > 0, try_element_at(col("cells"), idx.cast("int")))

  private def worldHeaderAt: Column =
    array_position(col("cells"), "Beginning\nStocks").cast("int")

  private def worldYearIdx: Column =
    firstPos(_.rlike("^\\d{4}/\\d{2}"))

  /** Sheet-level metadata (report id / commodity / unit): tiny per-sheet
    * aggregate, broadcast back onto the parsed rows. */
  private def worldMeta(rows: DataFrame): DataFrame = {
    def firstCellLike(p: Column => Column) = {
      val hits = filter(col("cells"), p)
      when(size(hits) > 0, element_at(hits, 1))
    }
    rows.groupBy(col("sheet")).agg(
      max(upper(regexp_replace(
        firstCellLike(_.startsWith("WASDE")), " ", ""))).as("wasde"),
      // non-greedy: multi-word commodities (p28 Soybean, p30 Soybean Oil —
      // `:854-857,1095-1098`) are one capture, not just the first word
      max(when(array_join(col("cells"), " ").rlike("World .+ Supply and Use"),
        upper(regexp_extract(array_join(col("cells"), " "),
          "World (.+?) Supply and Use", 1)))).as("commodity"),
      max(upper(firstCellLike(_.contains("Million Metric Tons")))).as("unit"))
  }

  /** Header detection + positional map + year/tipo carry shared by the
    * p22 and p23 parsers: adds `is_header`, `hmap` (positional index
    * struct, incl. `rdi` = the column left of Beginning Stocks), `hdrn`
    * (running header count), `harvest`, `tipo`. */
  private def worldScaffold(rows: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("sheet")).orderBy(col("rowIdx"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val headerAt = worldHeaderAt
    val yearIdx = worldYearIdx
    rows
      .withColumn("is_header", headerAt > 0)
      .withColumn("hmap", last(when(col("is_header"), struct(
          yearIdx.cast("int").as("di"),
          headerAt.as("bi"),
          (headerAt - 1).as("rdi"),
          array_position(col("cells"), "Production").cast("int").as("pi"),
          array_position(col("cells"), "Imports").cast("int").as("ii"),
          firstPos(_.contains("Domestic\nFeed")).cast("int").as("dfi"),
          firstPos(_.contains("Domestic\nTotal")).cast("int").as("dti"),
          array_position(col("cells"), "Exports").cast("int").as("ei"),
          array_position(col("cells"), "Ending\nStocks").cast("int").as("esi"))),
        ignoreNulls = true).over(run))
      .withColumn("hdrn", sum(col("is_header").cast("int")).over(run))
      .withColumn("harvest", last(when(col("is_header"),
          regexp_extract(cellAt(yearIdx), "^(\\d{4}/\\d{2})", 1)),
        ignoreNulls = true).over(run))
      .withColumn("tipo", last(when(col("is_header"),
          when(cellAt(yearIdx).contains("Est"), "EST")
            .when(cellAt(yearIdx).contains("Proj"), "PROJ")
            .otherwise("YEAR")),
        ignoreNulls = true).over(run))
  }

  /** Sticky group assignment over the carried `label` column (`:684-690`). */
  private def worldGrupo(run: org.apache.spark.sql.expressions.WindowSpec): Column =
    last(
      when(col("label").contains("WORLD"), "RESUMEN")
        .when(col("label").contains("MAJOR EXPORTERS"), "MAJOR EXPORTERS")
        .when(col("label").contains("MAJOR IMPORTERS"), "MAJOR IMPORTERS"),
      ignoreNulls = true).over(run)

  /** NA/''-repaired measures via the carried positional map + derived
    * Total Use / Stocks-to-Use (`:714-718`). */
  private def worldMeasures(df: DataFrame): DataFrame = {
    def measure(field: String): Column =
      Transforms.repairNumeric(cellAt(col(s"hmap.$field")))
    df.withColumn("beginning", measure("bi"))
      .withColumn("production", measure("pi"))
      .withColumn("imports", measure("ii"))
      .withColumn("dom_feed", measure("dfi"))
      .withColumn("dom_total", measure("dti"))
      .withColumn("exports", measure("ei"))
      .withColumn("ending", measure("esi"))
      .withColumn("total_use", col("dom_total") + col("exports"))
      .withColumn("stocks_to_use",
        Transforms.guardedRatio(col("ending"), col("total_use"), lit(100)))
  }

  def parseWorldSupplyUse(rows: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("sheet")).orderBy(col("rowIdx"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val labeled = worldScaffold(rows)
      .withColumn("n", when(col("hdrn") % 2 === 1, 1L).otherwise(2L))
      .withColumn("geo_raw", cellAt(col("hmap.di")))
      .withColumn("label", upper(stripFootnotes(col("geo_raw"))))
      .withColumn("grupo", worldGrupo(run))

    worldMeasures(labeled
      .filter(!col("is_header") && col("hmap").isNotNull &&
        col("geo_raw").isNotNull && trim(col("geo_raw")) =!= "" &&
        !col("geo_raw").startsWith("1/ Aggregate") &&
        !col("label").contains("SELECTED OTHER")))
      .join(broadcast(worldMeta(rows)), Seq("sheet"), "left")
      .select(col("sheet"), col("wasde"), col("commodity"), col("unit"),
        col("n"), col("harvest"), col("tipo"), col("grupo"),
        col("label").as("geography"),
        col("beginning"), col("production"), col("imports"), col("dom_feed"),
        col("dom_total"), col("exports"), col("ending"),
        col("total_use"), col("stocks_to_use"))
  }

  /** p23-family by-report-date pages (`HTGPIWASDE/__init__.py:724-833`):
    * same positional header detection as [[parseWorldSupplyUse]], plus a
    * report-date column sitting immediately LEFT of `Beginning Stocks`
    * (`report_date_index = begin_stock_index - 1`, `:786`), multiple rows
    * per geography (one per report), blank continuation geographies carried
    * from the previous row (`:836-838`), and `orden` numbering a row 1 when
    * it starts a new geography run and 2 otherwise (`:841-845`). A row is
    * kept when EITHER the geography cell or the report-date cell is
    * non-blank (`:808`). */
  def parseWorldByReportDate(rows: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("sheet")).orderBy(col("rowIdx"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val labeled = worldScaffold(rows)
      .withColumn("geo_cell", cellAt(col("hmap.di")))
      .withColumn("report_raw", cellAt(col("hmap.rdi")))
      // blank geography + present report date ⇒ continuation of the
      // previous geography (the reference copies the cell from row-1)
      .withColumn("geo_carried", last(
          when(!col("is_header") && trim(coalesce(col("geo_cell"), lit(""))) =!= "",
            col("geo_cell")), ignoreNulls = true).over(run))
      .withColumn("label", upper(stripFootnotes(col("geo_carried"))))
      .withColumn("grupo", worldGrupo(run))

    worldMeasures(labeled
      .filter(!col("is_header") && col("hmap").isNotNull &&
        !(trim(coalesce(col("geo_cell"), lit(""))) === "" &&
          trim(coalesce(col("report_raw"), lit(""))) === "") &&
        !coalesce(col("geo_cell"), lit("")).startsWith("1/ Aggregate") &&
        !col("label").contains("SELECTED OTHER"))
      // orden over SURVIVING rows: 1 at the start of a geography run
      .withColumn("orden",
        when(lag(col("label"), 1).over(w) === col("label"), 2L).otherwise(1L))
      .withColumn("report_date", upper(coalesce(col("report_raw"), lit("")))))
      .join(broadcast(worldMeta(rows)), Seq("sheet"), "left")
      .select(col("sheet"), col("wasde"), col("commodity"), col("unit"),
        col("harvest"), col("tipo"), col("grupo"),
        col("label").as("geography"), col("report_date"), col("orden"),
        col("beginning"), col("production"), col("imports"), col("dom_feed"),
        col("dom_total"), col("exports"), col("ending"),
        col("total_use"), col("stocks_to_use"))
  }

  /** SO4 — the p11 transpose (`HTGPIWASDE/__init__.py:358,369`): a block
    * parsed as attributes-as-rows × years-as-columns flips to one row per
    * year with attributes as columns. `DataFrame.T` in pandas; melt + pivot
    * here (blocks are <20×10, but the plan is distributed regardless). */
  def transposeBlock(block: DataFrame, attrCol: String,
      yearCols: Seq[String]): DataFrame = {
    val long = Transforms.melt(block, Seq(attrCol), yearCols, "year", "v")
    val attrs = block.select(col(attrCol)).collect().map(_.getString(0)).toSeq
    Transforms.pivotAgg(long, Seq(col("year")), attrCol, attrs,
      Seq(first(col("v"))))
  }

  /** Idempotent month re-load: the reference DELETEs the month slice before
    * re-inserting (`HTGPIWASDE/__init__.py:124-134`); on Spark that is
    * dynamic partition overwrite on a month-partitioned table. */
  def writeMonthOverwrite(df: DataFrame, path: String, monthCol: String): Unit =
    df.write
      .partitionBy(monthCol)
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path)
}
