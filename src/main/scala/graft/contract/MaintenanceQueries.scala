package graft
package contract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Transforms}

/** Table maintenance and graph queries: file-format round trips,
  * compaction, space-filling keys, data-quality suites, table
  * fingerprints and the graph algorithms over MinHash pair edges. */
object MaintenanceQueries {
  import Tables._
  import Shared._

  /** Declarative data-quality suite (q223) — constraints as DATA, shared
    * verbatim by the Spark one-pass evaluator and the generated oracle.
    * Predicates are engine-portable SQL (both Spark `expr` and DuckDB
    * parse them identically). qty_le_30 violates on purpose (~40% of
    * lineitem) so the report exercises a non-zero lane. */
  private val dqRules: Seq[(String, String, String)] = Seq(
    ("qty_positive", "l_quantity > 0", "error"),
    ("qty_le_30", "l_quantity <= 30", "warn"),
    ("discount_range", "l_discount BETWEEN 0.00 AND 0.10", "error"),
    ("tax_range", "l_tax BETWEEN 0.00 AND 0.08", "error"),
    ("price_positive", "l_extendedprice > 0", "error"),
    ("ship_in_era", "l_shipdate >= DATE '1992-01-01'", "error"),
    ("linenumber_positive", "l_linenumber >= 1", "error"),
    ("returnflag_domain", "l_returnflag IN ('A','N','R')", "error"),
    ("linestatus_domain", "l_linestatus IN ('O','F')", "error"),
    ("keys_positive", "l_orderkey > 0 AND l_partkey > 0 AND l_suppkey > 0",
      "error"))

  /** q69's oracle: the 32-term Morton interleave over range-normalized
    * keys, generated. `//` is exact floor division; Spark's double-divide +
    * truncate agrees for these magnitudes (quotient error ≥ 1/range ≫ ulp). */
  private def q69OracleSql: String = {
    val terms = (0 until 16).flatMap { i =>
      Seq(s"((a >> $i) & 1) * ${1L << (2 * i)}",
        s"((b >> $i) & 1) * ${1L << (2 * i + 1)}")
    }.mkString(" + ")
    s"""WITH raw AS (
       |  SELECT o_orderkey, o_custkey,
       |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day
       |  FROM orders),
       |r AS (SELECT min(o_custkey) AS cklo, max(o_custkey) AS ckhi,
       |             min(day) AS dlo, max(day) AS dhi FROM raw),
       |k AS (
       |  SELECT o_orderkey,
       |    ((o_custkey - r.cklo) * 65535) // (r.ckhi - r.cklo) AS a,
       |    ((day - r.dlo) * 65535) // (r.dhi - r.dlo) AS b
       |  FROM raw CROSS JOIN r)
       |SELECT o_orderkey, CAST($terms AS BIGINT) AS z FROM k""".stripMargin
  }

  /** 16 unrolled Hilbert walk levels as chained subqueries — per-level
    * state (x, y, d) materializes as row VALUES, so the oracle mirrors the
    * native expression's loop without expression-tree blow-up. */
  private def q203OracleSql: String = {
    val steps = (0 until 16).map { i =>
      val s = 1L << (15 - i)
      val prev = if (i == 0) "k" else s"h${i - 1}"
      s"""h$i AS (SELECT o_orderkey,
         |  CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${s - 1} - y ELSE y END) ELSE x END AS x,
         |  CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${s - 1} - x ELSE x END) ELSE y END AS y,
         |  d + CAST($s AS BIGINT) * $s * (CASE WHEN rx = 0 AND ry = 0 THEN 0
         |    WHEN rx = 0 THEN 1 WHEN ry = 0 THEN 3 ELSE 2 END) AS d
         |  FROM (SELECT o_orderkey, x, y, d,
         |    CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx,
         |    CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry FROM $prev))""".stripMargin
    }.mkString(",\n")
    s"""WITH raw AS (
       |  SELECT o_orderkey, o_custkey,
       |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day
       |  FROM orders),
       |r AS (SELECT min(o_custkey) AS cklo, max(o_custkey) AS ckhi,
       |             min(day) AS dlo, max(day) AS dhi FROM raw),
       |k AS (
       |  SELECT o_orderkey,
       |    ((o_custkey - r.cklo) * 65535) // (r.ckhi - r.cklo) AS x,
       |    ((day - r.dlo) * 65535) // (r.dhi - r.dlo) AS y,
       |    CAST(0 AS BIGINT) AS d
       |  FROM raw CROSS JOIN r),
       |$steps
       |SELECT o_orderkey, CAST(d AS BIGINT) AS h FROM h15""".stripMargin
  }

  val contracts: Seq[Contract] = Seq(
    // S1/S11 — CSV sink + scan round-trip through real files.
    Contract("q42_csv_roundtrip", ((s, d) => {
      val tmp = scratch("q42", d).toString
      orders(s, d).select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .write.mode("overwrite").option("header", "true").csv(tmp)
      s.read.option("header", "true")
        .schema("o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE")
        .csv(tmp)
    }),
      "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders"),

    // S-family widening — partitioned parquet sink + partition-PRUNED read
    // through real files (the layout that makes year-scoped queries touch
    // 1/Nth of a 100 TB table; .explain shows PartitionFilters, proven in
    // ScaleSpec).
    Contract("q70_partitioned_write", ((s, d) => {
      // NOTE: constructing this query performs the write eagerly (same
      // trade-off as q42's CSV roundtrip) — the sink IS the operator under
      // test.
      val tmp = scratch("q70", d).toString
      orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")).cast("int"))
        // co-locate each partition's rows first: one right-sized file per
        // year directory instead of shufflePartitions tiny files apiece
        .repartition(col("o_year"))
        .write.mode("overwrite").partitionBy("o_year").parquet(tmp)
      s.read.parquet(tmp)
        .filter(col("o_year") === 1997) // partition pruning: one directory
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_year").cast("long").as("o_year"))
    }),
      """SELECT o_orderkey, o_custkey, o_totalprice,
        | CAST(year(o_orderdate) AS BIGINT) AS o_year
        |FROM orders WHERE year(o_orderdate) = 1997""".stripMargin),

    // Scale widening — Z-order layout key: Morton interleave of
    // (custkey, order epoch-day), each RANGE-NORMALIZED onto the full
    // 16-bit domain first (raw keys with unequal bit-widths degenerate to
    // sorting by the wider dimension — see Transforms.zorder16 scaladoc;
    // the span test in ScaleSpec measures it).
    Contract("q69_zorder_key", ((s, d) => {
      val o = orders(s, d).withColumn("day",
        datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("long"))
      // min/max fold in as a broadcast 1-row aggregate (the q64/q66 lazy
      // corpus-stats shape) — no driver pre-scan job at construction time,
      // the whole query is one DAG.
      val stats = o.agg(min("o_custkey").as("ck_lo"), max("o_custkey").as("ck_hi"),
        min("day").as("d_lo"), max("day").as("d_hi"))
      def scale16(c: Column, lo: Column, hi: Column): Column =
        (((c - lo) * lit(65535L)) / (hi - lo)).cast("long")
      o.crossJoin(broadcast(stats)).select(col("o_orderkey"),
        Transforms.zorder16(scale16(col("o_custkey"), col("ck_lo"), col("ck_hi")),
          scale16(col("day"), col("d_lo"), col("d_hi"))).as("z"))
    }),
      q69OracleSql),

    // Pipeline widening — data-quality constraint report (the Deequ-shaped
    // validation step a training-data pipeline runs before ingestion):
    // one pass computes null rates, range violations, and key uniqueness,
    // emitted as a long (check, value, pass) table.
    Contract("q68_data_quality", ((s, d) => {
      val o = orders(s, d)
      val metrics = o.agg(
        count(lit(1)).as("n_rows"),
        count(when(col("o_custkey").isNull, 1)).as("null_custkey"),
        count(when(col("o_totalprice") <= 0, 1)).as("nonpos_price"),
        count(when(col("o_orderdate") < lit("1990-01-01").cast("timestamp") ||
          col("o_orderdate") > lit("2030-01-01").cast("timestamp"), 1))
          .as("date_out_of_range"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_keys"),
        count(when(!col("o_orderstatus").isin("F", "O", "P"), 1))
          .as("bad_status"))
      val checks = Seq("n_rows", "null_custkey", "nonpos_price",
        "date_out_of_range", "dup_keys", "bad_status")
      val long = checks.map { c =>
        metrics.select(lit(c).as("check"), col(c).cast("long").as("value"),
          (col(c) === 0 || lit(c) === "n_rows").as("pass"))
      }.reduce(_ unionByName _)
      long
    }),
      """WITH m AS (
        |  SELECT count(*) AS n_rows,
        |    count(CASE WHEN o_custkey IS NULL THEN 1 END) AS null_custkey,
        |    count(CASE WHEN o_totalprice <= 0 THEN 1 END) AS nonpos_price,
        |    count(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
        |           OR o_orderdate > TIMESTAMP '2030-01-01' THEN 1 END)
        |      AS date_out_of_range,
        |    count(*) - count(DISTINCT o_orderkey) AS dup_keys,
        |    count(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 END)
        |      AS bad_status
        |  FROM orders)
        |SELECT 'n_rows' AS check, CAST(n_rows AS BIGINT) AS value, TRUE AS pass FROM m
        |UNION ALL SELECT 'null_custkey', CAST(null_custkey AS BIGINT), null_custkey = 0 FROM m
        |UNION ALL SELECT 'nonpos_price', CAST(nonpos_price AS BIGINT), nonpos_price = 0 FROM m
        |UNION ALL SELECT 'date_out_of_range', CAST(date_out_of_range AS BIGINT), date_out_of_range = 0 FROM m
        |UNION ALL SELECT 'dup_keys', CAST(dup_keys AS BIGINT), dup_keys = 0 FROM m
        |UNION ALL SELECT 'bad_status', CAST(bad_status AS BIGINT), bad_status = 0 FROM m""".stripMargin),

    // Robustness: corrupt-record quarantine — the malformed-input routing
    // every ingestion pipeline needs. JSON rows (one in seven truncated
    // mid-object, deterministically) parse PERMISSIVE; bad rows surface
    // as is_corrupt=true with null fields instead of failing the load.
    // The oracle re-parses the same strings with DuckDB's json_valid /
    // json_extract — an independent parser agreeing on every verdict.
    Contract("q102_corrupt_quarantine", ((s, d) => {
      val raw = orders(s, d).select(col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0,
          concat(lit("{\"k\":"), col("o_orderkey"), lit(",\"p\":")))
          .otherwise(concat(lit("{\"k\":"), col("o_orderkey"),
            lit(",\"p\":\""), col("o_orderpriority"), lit("\"}")))
          .as("r"))
      raw.select(col("o_orderkey"),
          from_json(col("r"), org.apache.spark.sql.types.StructType
            .fromDDL("k BIGINT, p STRING")).as("j"))
        .select(col("o_orderkey"), col("j.k").as("k"), col("j.p").as("p"),
          col("j.k").isNull.as("is_corrupt"))
    }),
      // q102: independent re-parse of the same constructed JSON strings
      """WITH raw AS (SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 7 = 0
        |    THEN '{"k":' || o_orderkey || ',"p":'
        |    ELSE '{"k":' || o_orderkey || ',"p":"' || o_orderpriority || '"}'
        |  END AS r
        | FROM orders)
        |SELECT o_orderkey,
        | CASE WHEN json_valid(r)
        |      THEN CAST(json_extract_string(r, '$.k') AS BIGINT) END AS k,
        | CASE WHEN json_valid(r) THEN json_extract_string(r, '$.p') END AS p,
        | NOT json_valid(r) AS is_corrupt
        |FROM raw""".stripMargin),

    // Robustness: schema evolution — a second batch adds a column; the
    // mergeSchema read unifies both, back-filling null. The on-disk layout
    // (two incremental loads under one dataset dir) is built eagerly at
    // query-construction time, the operator-under-test trade-off q42/q70
    // also take.
    Contract("q103_schema_evolution", ((s, d) => {
      val dir = scratch("q103", d).toString
      val o = orders(s, d)
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$dir/b=1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .write.mode("overwrite").parquet(s"$dir/b=2")
      s.read.option("mergeSchema", "true").parquet(s"$dir/b=1", s"$dir/b=2")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    }),
      // q103: the merged read must equal the union with a back-filled null
      """SELECT o_orderkey, o_totalprice,
        | CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS o_orderstatus
        |FROM orders""".stripMargin),

    // Maintenance under the oracle: small-file compaction must be
    // lossless — 64 accreted files rewritten to the byte-derived target
    // sizing (atomic dir swap), then read back and compared row-for-row
    // against the source table. File-count collapse is asserted in
    // ScaleSpec; this query pins the data.
    Contract("q104_compact_lossless", ((s, d) => {
      val dir = scratch("q104", d).resolve("t").toString
      orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .repartition(64).write.mode("overwrite").parquet(dir)
      graft.operators.Maintenance.compact(s, dir)
      s.read.parquet(dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    }),
      // q104: compaction is pure layout — the data must be the identity
      "SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders"),

    // North star: centrality over the near-dup similarity graph —
    // deterministic integer PageRank (exact LONG rank units, floor-divided
    // contributions) on the q29 LSH candidate pairs; the keeper-selection
    // signal CC can't provide. Three edge-partitioned join+sum iterations
    // over a checkpointed candidate-sized edge list.
    Contract("q115_pagerank", ((s, d) =>
      graft.operators.Graph.integerPageRank(
        Dedup.minhashCandidatesPortable(documents(s, d), "doc_id", "text"))
        .select(col("id").as("doc_id"), col("d"), col("units"))),
      // q115: same LSH pair chain, then three unrolled exact-integer PR
      // iterations — floor division makes the recurrence bit-reproducible
      s"""WITH $minhashPairCtes,
         |pairs AS ($minhashPairSelect),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
         |r0 AS (SELECT DISTINCT src AS id, CAST(1000000 AS BIGINT) AS units
         |       FROM edges),
         |r1 AS (SELECT e.dst AS id,
         |         150000 + sum((r.units * 85) // (g.d * 100)) AS units
         |       FROM edges e
         |       JOIN r0 r ON r.id = e.src JOIN deg g ON g.src = e.src
         |       GROUP BY e.dst),
         |r2 AS (SELECT e.dst AS id,
         |         150000 + sum((r.units * 85) // (g.d * 100)) AS units
         |       FROM edges e
         |       JOIN r1 r ON r.id = e.src JOIN deg g ON g.src = e.src
         |       GROUP BY e.dst),
         |r3 AS (SELECT e.dst AS id,
         |         150000 + sum((r.units * 85) // (g.d * 100)) AS units
         |       FROM edges e
         |       JOIN r2 r ON r.id = e.src JOIN deg g ON g.src = e.src
         |       GROUP BY e.dst)
         |SELECT r3.id AS doc_id, CAST(g.d AS BIGINT) AS d,
         |  CAST(r3.units AS BIGINT) AS units
         |FROM r3 JOIN deg g ON g.src = r3.id""".stripMargin),

    // S-family: ORC columnar round-trip (write zlib ORC, read back with a
    // pushed-down predicate — PushedFilters asserted in ScaleSpec). ORC is
    // the other lakehouse columnar format next to parquet; the oracle
    // recomputes the same selection from the parquet base table, proving
    // the ORC write+read is lossless for longs/doubles/timestamps.
    Contract("q145_orc_roundtrip", ((s, d) => {
      val tmp = scratch("q145", d).toString
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
          col("l_shipdate"))
        .write.mode("overwrite").option("compression", "zlib").orc(tmp)
      s.read.orc(tmp).filter(col("l_quantity") >= 45.0)
    }),
      // q145: the ORC write+read must be value-lossless, so the oracle is
      // the same selection straight off the parquet base table
      """SELECT l_orderkey, l_partkey, l_quantity, l_shipdate
        |FROM lineitem WHERE l_quantity >= 45.0""".stripMargin),

    // Fingerprint mergeability as a QUERY: fingerprint two disjoint
    // halves, fold them, emit alongside the direct whole-table
    // fingerprint — the rows must be identical (incremental maintenance
    // of the q140 sketch, per-partition fold instead of full recompute).
    Contract("q193_fingerprint_merge", ((s, d) => {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
      val li = lineitem(s, d)
      val even = li.filter(col("l_orderkey") % 2 === 0)
      val odd = li.filter(col("l_orderkey") % 2 === 1)
      val merged = graft.operators.Maintenance.mergeFingerprints(
        graft.operators.Maintenance.tableFingerprint(even, cols),
        graft.operators.Maintenance.tableFingerprint(odd, cols))
      val direct = graft.operators.Maintenance.tableFingerprint(li, cols)
      merged.select(lit("merged").as("method"), col("n_rows"),
          col("lane_a"), col("lane_b"))
        .unionByName(direct.select(lit("direct").as("method"),
          col("n_rows"), col("lane_a"), col("lane_b")))
    }),
      // q193: q140's lane CTE with parity filters, residue-add merge, and
      // the direct whole-table row
      """WITH h AS (SELECT l_orderkey % 2 AS par, md5(concat_ws(chr(1),
        |    coalesce(CAST(l_orderkey AS VARCHAR), chr(2)),
        |    coalesce(CAST(l_partkey AS VARCHAR), chr(2)),
        |    coalesce(CAST(l_suppkey AS VARCHAR), chr(2)),
        |    coalesce(CAST(l_linenumber AS VARCHAR), chr(2)))) AS m
        |  FROM lineitem),
        |f AS (
        |  SELECT par, count(*) AS n,
        |    CAST(CAST(sum(('0x' || substring(m, 1, 15))::BIGINT) AS HUGEINT)
        |      % 2305843009213693952 AS BIGINT) AS la,
        |    CAST(CAST(sum(('0x' || substring(m, 17, 15))::BIGINT)
        |      AS HUGEINT) % 2305843009213693952 AS BIGINT) AS lb
        |  FROM h GROUP BY par)
        |SELECT 'merged' AS method, CAST(sum(n) AS BIGINT) AS n_rows,
        |  CAST(CAST(sum(la) AS HUGEINT) % 2305843009213693952 AS BIGINT)
        |    AS lane_a,
        |  CAST(CAST(sum(lb) AS HUGEINT) % 2305843009213693952 AS BIGINT)
        |    AS lane_b
        |FROM f
        |UNION ALL
        |SELECT 'direct', CAST(count(*) AS BIGINT),
        |  CAST(CAST(sum(('0x' || substring(m, 1, 15))::BIGINT) AS HUGEINT)
        |    % 2305843009213693952 AS BIGINT),
        |  CAST(CAST(sum(('0x' || substring(m, 17, 15))::BIGINT) AS HUGEINT)
        |    % 2305843009213693952 AS BIGINT)
        |FROM h""".stripMargin),

    // Bucketed co-located join as a QUERY: both fact tables written
    // bucketBy(8) on the join key, then joined WITHOUT a join-side
    // exchange (the 100 TB co-location strategy the ScaleSpec bucketing
    // test proves; here it carries a driver-checked result too). The
    // only shuffle in the plan is the final small groupBy.
    Contract("q192_bucketed_join", ((s, d) => {
      val tok = datasetTok(d)
      val tOrders = s"q192_orders_$tok"
      val tItems = s"q192_items_$tok"
      // idempotent re-run: drop catalog entries AND any orphaned warehouse
      // dirs (a killed prior run leaves the location without metadata)
      Seq(tOrders, tItems).foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir"))
        val loc = java.nio.file.Paths.get(
          Option(wh.getPath).getOrElse(wh.toString)).resolve(t)
        graft.io.NioLocalFileSystem.deleteRecursively(loc)
      }
      // r21 (guide §2.6): the two bucketed writes are independent jobs —
      // overlap them so the second table's scan back-fills the first
      // write's task tail. Same tables, same bucket layout, same join.
      graft.operators.Overlap.runAll(Seq[() => Unit](
        () => orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .saveAsTable(tOrders),
        () => lineitem(s, d).select(col("l_orderkey"), col("l_quantity"))
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .saveAsTable(tItems)))
      s.table(tOrders)
        .join(s.table(tItems), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).cast("long").as("n_items"),
          sumc(col("l_quantity")).as("sum_qty"))
    }),
      // q192: plain join + rollup — bucketing changes the plan, not the
      // answer
      """SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_qty
        |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1""".stripMargin),

    // Numeric distribution drift: first vs second half of the period on
    // SHARED global bin edges, PSI contributions per bin.
    Contract("q188_numeric_drift", ((s, d) =>
      graft.operators.Maintenance.numericDrift(events(s, d), "value", "ts")),
      // q188: q156's bin formula over global edges, integer midpoint-day
      // split, q131's smoothed PSI arithmetic on the bin label
      """WITH ev AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS c,
        |    CAST(ts AS DATE) AS day
        |  FROM events WHERE value IS NOT NULL),
        |st AS (SELECT min(c) AS mn, max(c) AS mx, min(day) AS d0,
        |              max(day) AS d1 FROM ev),
        |bn AS (
        |  SELECT ((c - mn) * 10) // (mx - mn + 1) AS bin,
        |    date_diff('day', d0, day) <=
        |      date_diff('day', d0, d1) // 2 AS is_a
        |  FROM ev, st),
        |a AS (SELECT bin, count(*) AS n_a FROM bn WHERE is_a GROUP BY 1),
        |b AS (SELECT bin, count(*) AS n_b FROM bn WHERE NOT is_a
        |      GROUP BY 1),
        |cats AS (
        |  SELECT coalesce(a.bin, b.bin) AS bin,
        |    coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
        |  FROM a FULL OUTER JOIN b ON a.bin = b.bin),
        |tot AS (SELECT sum(n_a) AS tot_a, sum(n_b) AS tot_b,
        |               count(*) AS v FROM cats)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(n_a AS BIGINT) AS n_a,
        |  CAST(n_b AS BIGINT) AS n_b,
        |  CAST(round(1e6 * (
        |    log2(CAST(n_a + 1 AS DOUBLE) / CAST(tot_a + v AS DOUBLE))
        |    - log2(CAST(n_b + 1 AS DOUBLE) / CAST(tot_b + v AS DOUBLE))))
        |    AS BIGINT) AS lr_ub,
        |  round((CAST(n_a + 1 AS DOUBLE) / CAST(tot_a + v AS DOUBLE)
        |       - CAST(n_b + 1 AS DOUBLE) / CAST(tot_b + v AS DOUBLE))
        |    * CAST(CAST(round(1e6 * (
        |        log2(CAST(n_a + 1 AS DOUBLE) / CAST(tot_a + v AS DOUBLE))
        |        - log2(CAST(n_b + 1 AS DOUBLE) / CAST(tot_b + v AS DOUBLE))))
        |        AS BIGINT) AS DOUBLE) / 1e6, 6) AS contrib_r
        |FROM cats, tot""".stripMargin),

    // Winsorized summary of event values: exact-rank p1/p99 thresholds,
    // clip counts, outlier-robust mean — all over the distinct-cents
    // table.
    Contract("q183_winsorize", ((s, d) =>
      graft.operators.Maintenance.winsorizedStats(events(s, d), "value")),
      // q183: same distinct-cents cumulative, cum·100 >= n·p threshold
      // pick (≡ ceil-rank), clamp, cents-exact winsorized sum
      """WITH ev AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS c FROM events
        |  WHERE value IS NOT NULL),
        |bv AS (SELECT c, count(*) AS cnt FROM ev GROUP BY 1),
        |cw AS (
        |  SELECT c, cnt,
        |    sum(cnt) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER () AS n
        |  FROM bv),
        |th AS (
        |  SELECT min(CASE WHEN cum * 100 >= n * 1 THEN c END) AS lo_c,
        |    min(CASE WHEN cum * 100 >= n * 99 THEN c END) AS hi_c,
        |    max(n) AS n
        |  FROM cw),
        |cl AS (
        |  SELECT bv.cnt, bv.c, th.lo_c, th.hi_c, th.n,
        |    greatest(th.lo_c, least(th.hi_c, bv.c)) AS w
        |  FROM bv, th)
        |SELECT CAST(max(n) AS BIGINT) AS n, CAST(max(lo_c) AS BIGINT)
        |    AS lo_c, CAST(max(hi_c) AS BIGINT) AS hi_c,
        |  CAST(sum(CASE WHEN c < lo_c THEN cnt ELSE 0 END) AS BIGINT)
        |    AS n_clip_lo,
        |  CAST(sum(CASE WHEN c > hi_c THEN cnt ELSE 0 END) AS BIGINT)
        |    AS n_clip_hi,
        |  CAST(sum(cnt * w) AS BIGINT) AS wins_sum_c,
        |  CAST((2000000 * sum(cnt * w) + max(n) * 100)
        |    // (2 * max(n) * 100) AS DOUBLE) / 1e6 AS wins_mean_r
        |FROM cl""".stripMargin),

    // k-core peeling (k=2, 3 unrolled rounds) over the near-dup
    // candidate graph: dense-community extraction with a bounded,
    // oracle-unrollable plan.
    Contract("q179_kcore", ((s, d) =>
      graft.operators.Graph.kCorePeel(
        Dedup.minhashCandidatesPortable(documents(s, d), "doc_id", "text"))),
      // q179: q29's pair CTEs, then the SAME 3 peels unrolled — degree
      // filter + two-sided node restriction per round
      {
      val rounds = (1 to 3).map(i =>
        s"""k$i AS (SELECT a FROM e${i - 1} GROUP BY a
           |  HAVING count(*) >= 2),
           |e$i AS (SELECT e.a, e.b FROM e${i - 1} e
           |  JOIN k$i x ON x.a = e.a JOIN k$i y ON y.a = e.b)""".stripMargin)
        .mkString(",\n")
      s"""WITH $minhashPairCtes,
         |pairs AS ($minhashPairSelect),
         |e0 AS (SELECT id_a AS a, id_b AS b FROM pairs
         |       UNION ALL SELECT id_b, id_a FROM pairs),
         |$rounds
         |SELECT a AS doc_id, CAST(count(*) AS BIGINT) AS core_deg
         |FROM e3 GROUP BY a""".stripMargin
    }),

    // Column completeness/cardinality profile (Deequ-style): one pruned
    // single-column aggregate per column, unioned — never a multi-
    // distinct row expansion.
    Contract("q171_column_profile", ((s, d) =>
      graft.operators.Maintenance.columnProfile(events(s, d),
        Seq("event_id", "ts", "user_id", "event_type", "value", "props"))),
      // q171: UNION ALL of per-column aggregates, identical counts
      Seq("event_id", "ts", "user_id", "event_type", "value", "props")
        .map(c =>
          s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n,
             |  CAST(count($c) AS BIGINT) AS n_nonnull,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  CAST((2000000 * count($c) + count(*)) // (2 * count(*))
             |    AS DOUBLE) / 1e6 AS completeness_r
             |FROM events""".stripMargin)
        .mkString("\nUNION ALL\n")),

    // Equi-depth histogram of event values: quantile buckets from the
    // strictly-below cumulative over the distinct-value table — the
    // profiling twin of q156's equi-width bins.
    Contract("q163_equidepth", ((s, d) =>
      graft.operators.Maintenance.equiDepthHistogram(events(s, d), "value",
        16)),
      // q163: same strictly-below cumulative (ROWS ... 1 PRECEDING) over
      // the distinct-cents table, floor-div bucket assignment
      """WITH ev AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS c FROM events
        |  WHERE value IS NOT NULL),
        |bv AS (SELECT c, count(*) AS n FROM ev GROUP BY 1),
        |cw AS (
        |  SELECT c, n,
        |    coalesce(sum(n) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0) AS cum_lt,
        |    sum(n) OVER () AS total
        |  FROM bv)
        |SELECT CAST((cum_lt * 16) // total AS BIGINT) AS bucket,
        |  CAST(sum(n) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  min(c) / 100.0 AS lo, max(c) / 100.0 AS hi
        |FROM cw GROUP BY 1""".stripMargin),

    // Benford first-digit profile of event values: integer-cents string
    // head (no log10 float hazard), observed vs log10(1+1/d) shares —
    // map-only extraction, ≤9-row aggregate.
    Contract("q162_benford", ((s, d) =>
      graft.operators.Maintenance.benfordProfile(events(s, d), "value")),
      // q162: same integer-cents leading digit via VARCHAR head, exact
      // half-up shares, 6-dp Benford constants cast to DOUBLE
      """WITH v AS (
        |  SELECT CAST(abs(round(value * 100)) AS BIGINT) AS c FROM events
        |  WHERE value IS NOT NULL
        |    AND CAST(abs(round(value * 100)) AS BIGINT) != 0),
        |ct AS (
        |  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |    count(*) AS n
        |  FROM v GROUP BY 1),
        |f AS (SELECT digit, n, sum(n) OVER () AS total FROM ct)
        |SELECT digit, CAST(n AS BIGINT) AS n, CAST(total AS BIGINT) AS total,
        |  CAST((2000000 * n + total) // (2 * total) AS DOUBLE) / 1e6
        |    AS share_r,
        |  CAST(CASE digit WHEN 1 THEN 0.301030 WHEN 2 THEN 0.176091
        |    WHEN 3 THEN 0.124939 WHEN 4 THEN 0.096910 WHEN 5 THEN 0.079181
        |    WHEN 6 THEN 0.066947 WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153
        |    WHEN 9 THEN 0.045757 END AS DOUBLE) AS benford_r
        |FROM f""".stripMargin),

    // Chi-squared contingency profile lang × source: per-cell counts,
    // marginals, and the integer-exact (N·O−R·C)²/(N·R·C) contribution —
    // corpus collapses to the cell table before any window touches it.
    Contract("q160_chi_square", ((s, d) =>
      graft.operators.Maintenance.chiSquareCells(
        documents(s, d), "lang", "source")),
      // q160: same cell/marginal counts; HUGEINT keeps the squared
      // numerator exact, and the per-cell micro-unit half-up rounding
      // matches Spark's DECIMAL(38,0) div
      """WITH cells AS (
        |  SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
        |m AS (
        |  SELECT lang, source, o,
        |    sum(o) OVER (PARTITION BY lang) AS r,
        |    sum(o) OVER (PARTITION BY source) AS c,
        |    sum(o) OVER () AS n
        |  FROM cells),
        |f AS (
        |  SELECT lang, source, o, r, c, n,
        |    (n * o - r * c) * (n * o - r * c) AS num,
        |    n * r * c AS den
        |  FROM m)
        |SELECT lang, source, CAST(o AS BIGINT) AS o, CAST(r AS BIGINT) AS r,
        |  CAST(c AS BIGINT) AS c, CAST(n AS BIGINT) AS n,
        |  CAST((2000000 * num + den) // (2 * den) AS BIGINT) AS contrib_u,
        |  CAST(CAST((2000000 * num + den) // (2 * den) AS BIGINT)
        |    AS DOUBLE) / 1e6 AS contrib_r
        |FROM f""".stripMargin),

    // Profiling depth — exact equi-width histogram of event values:
    // integer-cent binning ((c-min)*B DIV (max-min+1)), observed per-bin
    // extremes, cents-exact per-bin sums. Two column scans + one ≤B-key
    // exchange; the load-time distribution-drift gate.
    Contract("q156_histogram", ((s, d) =>
      graft.operators.Maintenance.equiWidthHistogram(events(s, d), "value", 16)),
      // q156: same integer-cent binning — (c-mn)*16 // (mx-mn+1) in int64
      // (DuckDB // is floor-div; operands are non-negative so it matches
      // Spark's DIV truncation), observed extremes over /100.0 double
      // division, DECIMAL(18,0) cents sum
      """WITH ev AS (SELECT CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |st AS (SELECT min(c) AS mn, max(c) AS mx FROM ev),
        |b AS (SELECT ((c - mn) * 16) // (mx - mn + 1) AS bin, c FROM ev, st)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS cnt,
        |  min(c) / 100.0 AS lo, max(c) / 100.0 AS hi,
        |  CAST(sum(CAST(c AS DECIMAL(18,0))) / 100 AS DOUBLE) AS sum_value
        |FROM b GROUP BY 1""".stripMargin),

    // Order-independent table fingerprint — migration/replication equality
    // without sorting either side: two 60-bit row-hash lanes, exact sums
    // reduced mod 2^61 so the output is plain int64s on every engine.
    Contract("q140_table_fingerprint", ((s, d) =>
      graft.operators.Maintenance.tableFingerprint(lineitem(s, d),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"))),
      // q140: same chr(1)-joined, chr(2)-coalesced row md5, two disjoint
      // 60-bit substring lanes; each lane sums exactly in HUGEINT and the
      // final mod 2^61 lands in plain BIGINT range on both engines
      """WITH h AS (SELECT md5(concat_ws(chr(1),
        |    coalesce(CAST(l_orderkey AS VARCHAR), chr(2)),
        |    coalesce(CAST(l_partkey AS VARCHAR), chr(2)),
        |    coalesce(CAST(l_suppkey AS VARCHAR), chr(2)),
        |    coalesce(CAST(l_linenumber AS VARCHAR), chr(2)))) AS m
        |  FROM lineitem)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(CAST(sum(('0x' || substring(m, 1, 15))::BIGINT) AS HUGEINT)
        |    % 2305843009213693952 AS BIGINT) AS lane_a,
        |  CAST(CAST(sum(('0x' || substring(m, 17, 15))::BIGINT) AS HUGEINT)
        |    % 2305843009213693952 AS BIGINT) AS lane_b
        |FROM h""".stripMargin),

    // Triangle participation in the near-dup candidate graph — cluster
    // cohesion (cliques are safe to dedup on transitivity; chains aren't).
    Contract("q139_triangles", ((s, d) =>
      graft.operators.Graph.triangleCounts(
        Dedup.minhashCandidatesPortable(documents(s, d), "doc_id", "text"))
        .select(col("id").as("doc_id"), col("triangles"))),
      // q139: same canonicalized oriented enumeration (a<b<c), each triangle
      // found once, per-node participation by unnesting corners
      s"""WITH RECURSIVE $minhashPairCtes,
         |pairs AS ($minhashPairSelect),
         |e AS (SELECT DISTINCT least(id_a, id_b) AS a,
         |        greatest(id_a, id_b) AS b
         |      FROM pairs WHERE id_a <> id_b),
         |t AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM e e1
         |  JOIN e e2 ON e1.b = e2.a
         |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         |n AS (SELECT x AS id FROM t UNION ALL SELECT y FROM t
         |      UNION ALL SELECT z FROM t)
         |SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS triangles
         |FROM n GROUP BY id""".stripMargin),

    // XML source/sink round-trip under the q208 fingerprint gate: the same
    // projection writes through Spark 4's built-in XML format and reads
    // back with the explicit schema; the order-invariant fingerprint must
    // equal the oracle's fingerprint of the source table (a lossy XML
    // writer/reader — entity escaping, type coercion, dropped rows — goes
    // red). Same fixed scratch dir discipline as q208.
    Contract("q224_xml_roundtrip", ((s, d) => {
      // 10% deterministic slice: XML is ~10x parquet bytes per row, and
      // the parity proof needs row coverage, not volume
      val base = lineitem(s, d).filter(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey"), col("l_partkey"),
        col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast("long").as("qty"))
      val tmp = scratch("q224", d)
      base.write.mode("overwrite").format("xml")
        .option("rootTag", "rows").option("rowTag", "row")
        .save(s"$tmp/x")
      val back = s.read.format("xml").option("rowTag", "row")
        .schema(base.schema).load(s"$tmp/x")
      graft.operators.Maintenance.tableFingerprint(back, back.columns.toSeq)
        .select(lit("xml").as("format"), col("n_rows"), col("lane_a"),
          col("lane_b"))
    }),
      // q224: q208's fingerprint SQL with the single 'xml' format row.
      """WITH h AS (SELECT md5(concat_ws(chr(1),
        |    coalesce(CAST(l_orderkey AS VARCHAR), chr(2)),
        |    coalesce(CAST(l_partkey AS VARCHAR), chr(2)),
        |    coalesce(CAST(l_returnflag AS VARCHAR), chr(2)),
        |    coalesce(CAST(l_linestatus AS VARCHAR), chr(2)),
        |    coalesce(CAST(CAST(l_quantity AS BIGINT) AS VARCHAR), chr(2))))
        |    AS m
        |  FROM lineitem WHERE l_orderkey % 10 = 0)
        |SELECT 'xml' AS format, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(CAST(sum(('0x' || substring(m, 1, 15))::BIGINT) AS HUGEINT)
        |    % 2305843009213693952 AS BIGINT) AS lane_a,
        |  CAST(CAST(sum(('0x' || substring(m, 17, 15))::BIGINT) AS HUGEINT)
        |    % 2305843009213693952 AS BIGINT) AS lane_b
        |FROM h""".stripMargin),

    // Declarative data-quality rule suite: N constraints-as-data evaluated
    // in ONE aggregate pass (per-rule conditional sums; a NULL predicate
    // counts as a violation). The Deequ shape without a job per rule; the
    // oracle re-evaluates each predicate independently from the same rule
    // table.
    Contract("q223_dq_rules", ((s, d) =>
      graft.operators.Maintenance.dqRuleReport(lineitem(s, d), dqRules)),
      // GENERATED from dqRules — one scan per rule is fine for the oracle;
      // the engine side proves the one-pass shape.
      dqRules.map { case (name, pred, sev) =>
      s"""SELECT '$name' AS rule, '$sev' AS severity,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN NOT coalesce(($pred), FALSE) THEN 1 ELSE 0
         |    END) AS BIGINT) AS n_viol,
         |  CAST((sum(CASE WHEN NOT coalesce(($pred), FALSE) THEN 1 ELSE 0
         |      END) * 2000000 + count(*)) // (count(*) * 2) AS DOUBLE) / 1e6
         |    AS viol_rate_r
         |FROM lineitem""".stripMargin
    }.mkString("\nUNION ALL\n")),

    // Format-parity proof as a QUERY: the same projection round-trips
    // through parquet, CSV, JSON, and ORC, and each copy's
    // order-invariant content fingerprint (q140's two mod-2^61 lanes)
    // must equal the oracle's fingerprint of the source table — a lossy
    // writer/reader in ANY format goes red. Integer/string columns only
    // (the fingerprint contract; CSV/JSON carry no type metadata, so the
    // read-back applies the explicit schema).
    Contract("q208_format_parity", ((s, d) => {
      // NOTE (r21, measured and rejected): respreading the one-partition
      // sf scan to core count before the writes — so each text encode
      // parallelizes — measured SLOWER (min 3.38 → 6.02 s, 3× A/B): 4
      // concurrent 32-task write jobs oversubscribe the cores and the
      // per-file commit overhead of 32 parts × 4 formats beats the
      // encode win at this row count. The 4-way job overlap below is
      // the measured optimum; a at-scale table arrives multi-partition
      // anyway.
      val base = lineitem(s, d).select(col("l_orderkey"), col("l_partkey"),
        col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast("long").as("qty"))
      val tmp = scratch("q208", d)
      // The four format writes are INDEPENDENT jobs over the same
      // projection — submit them from a small pool so each job's task
      // tail back-fills cores freed by the others (guide §2.6 overlap;
      // r21: wall = max(write) instead of Σ write, measured min 4.0 →
      // 1.9 s warm for the write+fingerprint body). Same files, same
      // contents, same fingerprint result — scheduling only.
      graft.operators.Overlap.runAll(Seq[() => Unit](
        () => base.write.mode("overwrite").parquet(s"$tmp/p"),
        () => base.write.mode("overwrite")
          .option("header", "true").csv(s"$tmp/c"),
        () => base.write.mode("overwrite").json(s"$tmp/j"),
        () => base.write.mode("overwrite").orc(s"$tmp/o")))
      val sch = base.schema
      def fp(df: DataFrame, label: String) =
        graft.operators.Maintenance.tableFingerprint(df, df.columns.toSeq)
          .select(lit(label).as("format"), col("n_rows"), col("lane_a"),
            col("lane_b"))
      fp(s.read.parquet(s"$tmp/p"), "parquet")
        .unionByName(fp(
          s.read.schema(sch).option("header", "true").csv(s"$tmp/c"), "csv"))
        .unionByName(fp(s.read.schema(sch).json(s"$tmp/j"), "json"))
        .unionByName(fp(s.read.orc(s"$tmp/o"), "orc"))
    }),
      // One fingerprint of the SOURCE rows, replicated under each format
      // label — equality with the Spark side proves each round-trip
      // lossless.
      """WITH h AS (SELECT md5(concat_ws(chr(1),
        |    coalesce(CAST(l_orderkey AS VARCHAR), chr(2)),
        |    coalesce(CAST(l_partkey AS VARCHAR), chr(2)),
        |    coalesce(CAST(l_returnflag AS VARCHAR), chr(2)),
        |    coalesce(CAST(l_linestatus AS VARCHAR), chr(2)),
        |    coalesce(CAST(CAST(l_quantity AS BIGINT) AS VARCHAR), chr(2))))
        |    AS m
        |  FROM lineitem),
        |fp AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(CAST(sum(('0x' || substring(m, 1, 15))::BIGINT) AS HUGEINT)
        |    % 2305843009213693952 AS BIGINT) AS lane_a,
        |  CAST(CAST(sum(('0x' || substring(m, 17, 15))::BIGINT) AS HUGEINT)
        |    % 2305843009213693952 AS BIGINT) AS lane_b
        |FROM h)
        |SELECT f.format, fp.n_rows, fp.lane_a, fp.lane_b
        |FROM (VALUES ('parquet'), ('csv'), ('json'), ('orc')) f(format)
        |CROSS JOIN fp""".stripMargin),

    // Hilbert layout key (q69's Z-order sibling): locality-preserving
    // space-filling index over the same (custkey, day) normalization —
    // native codegen'd expression (per-level rotation state can't be a
    // Column tree without exponential subtree replication).
    Contract("q203_hilbert_key", ((s, d) => {
      val o = orders(s, d).withColumn("day",
        datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("long"))
      val stats = o.agg(min("o_custkey").as("ck_lo"),
        max("o_custkey").as("ck_hi"),
        min("day").as("d_lo"), max("day").as("d_hi"))
      def scale16(c: Column, lo: Column, hi: Column): Column =
        (((c - lo) * lit(65535L)) / (hi - lo)).cast("long")
      o.crossJoin(broadcast(stats)).select(col("o_orderkey"),
        graft.functions.HilbertOps.hilbert16(
          scale16(col("o_custkey"), col("ck_lo"), col("ck_hi")),
          scale16(col("day"), col("d_lo"), col("d_hi"))).as("h"))
    }),
      q203OracleSql)
  )
}
